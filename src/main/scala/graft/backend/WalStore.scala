package graft.backend

import java.io.RandomAccessFile
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, Paths}
import java.util.zip.CRC32
import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.{AgnosticEncoder, ExpressionEncoder}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow

/** Write-ahead row log for the per-call latency path.
  *
  * [[DirectParquetAppend]] made a one-row append cost one parquet FILE
  * (~9 ms/call — the floor is parquet writer construction, SCALING.md
  * r8 profile). The reference's per-call enqueue is a ~2 ms Redis LPUSH
  * (BASELINE.md; perf/goose/redis/load.clj:57-62) — an in-memory list
  * append whose durability is Redis AOF `everysec`, i.e. page-cache
  * durable vs process crash, fsync'd by the OS within seconds. This WAL
  * is the same durability class for the same seam: one buffered file
  * write per call (tens of µs), records visible to every reader
  * immediately (readers decode the tail driver-side), folded into
  * parquet by the SAME compaction that already bounds the table's file
  * count, truncated only inside `replaceLog` — whose callers already
  * serialize against readers (the documented ParquetBackend compaction
  * contract), so the fold introduces no new visibility race.
  *
  * File format (`root/.wal/<tbl>.wal`):
  * {{{
  *   header:  magic "GWAL1" | numFields int32 | schemaHash int32
  *   record:  len int32 | crc32 int32 | payload (UnsafeRow bytes)
  * }}}
  * A torn tail (crash mid-append) fails the len/crc check; open() scans
  * to the last valid record and truncates there, so a crashed process
  * loses at most its final in-flight record — never a completed append.
  *
  * Rows are stored as Spark's own UnsafeRow bytes (the encoder's
  * serializer output), so encode is one projection + memcpy and decode
  * is pointTo + the cached deserializer — no JSON, no reflection per
  * record. The schema hash pins the bytes to the encoder schema; a
  * mismatch on open fails loudly (schema drift defense, not silent
  * misreads).
  *
  * Writers are JVM-global per (root, tbl) — fixtures build several
  * backend instances over one root (q45's dying/real pair), and two
  * channels on one file would interleave. All appends to one table
  * serialize on its writer.
  */
object WalStore {

  private val Magic = Array[Byte]('G', 'W', 'A', 'L', '1')
  private val HeaderLen = Magic.length + 8
  /** Past this many live WAL records, per-call appends fall back to the
    * direct-parquet path so an unworked backend (no compaction running)
    * still has a bounded driver-side decode cost per read. */
  val MaxRecords = 16384

  final class TableWal(path: java.nio.file.Path, numFields: Int, schemaHash: Int) {
    private var channel: FileChannel = _
    /** Volatile so [[size]] (the per-append MaxRecords pre-check — a
      * documented SOFT bound that races in-flight producers anyway) is
      * a plain read instead of a lock round-trip: the r15 producer
      * profile measured the full enqueue path paying TWO serialized
      * lock acquisitions per op (cap check + append), and the second
      * one never moved the count. Writes stay under [[lock]]. */
    @volatile private var count = 0
    private val crc = new CRC32
    /** Cached end-of-file position: every append otherwise pays a
      * `channel.size()` fstat before its write. Maintained under the
      * lock (writes advance it, truncate resets it); the recovery
      * scan below seeds it. The CHANNEL's own position equals endPos
      * by induction (constructor and truncate set it; every complete
      * gathering write advances it by exactly the batch's bytes), so
      * the happy-path drain skips both lseek syscalls; only a torn
      * write desyncs them, and [[needSeek]] forces one reseek. */
    private var endPos: Long = HeaderLen.toLong
    private var needSeek = false
    /** Set by [[close]] (scratch teardown) under the lock: channel ops
      * after a deliberate close degrade (reads empty, folds no-op,
      * appends fail) instead of resurrecting the file inside a directory
      * being deleted. Distinct from an ASYNCHRONOUS close — FileChannel
      * is an InterruptibleChannel, so a thread interrupted mid-I/O
      * (GraftWorker.stop interrupting its maintenance tick) closes the
      * whole channel for every holder — which [[ensureOpenLocked]]
      * heals by reopening + re-running the torn-tail recovery scan. */
    private var closedForever = false

    /** Open (or reopen) + recover: validate header (or write one), scan
      * to the last valid record, truncate any torn tail, seed count and
      * endPos from the scan. Caller holds the lock (or is the
      * constructor). */
    private def openAndRecover(): Unit = {
      Files.createDirectories(path.getParent)
      val raf = new RandomAccessFile(path.toFile, "rw")
      channel = raf.getChannel
      if (channel.size() < HeaderLen) {
        channel.truncate(0)
        val h = ByteBuffer.allocate(HeaderLen)
        h.put(Magic).putInt(numFields).putInt(schemaHash).flip()
        while (h.hasRemaining) channel.write(h)
        count = 0
        endPos = HeaderLen.toLong
      } else {
        val h = ByteBuffer.allocate(HeaderLen)
        channel.read(h, 0)
        h.flip()
        val m = new Array[Byte](Magic.length)
        h.get(m)
        require(java.util.Arrays.equals(m, Magic), s"$path: not a graft WAL")
        val nf = h.getInt
        val sh = h.getInt
        require(nf == numFields && sh == schemaHash,
          s"$path: WAL schema (fields=$nf hash=$sh) does not match the current " +
            s"encoder (fields=$numFields hash=$schemaHash) — compact or remove the WAL")
        var pos = HeaderLen.toLong
        val end = channel.size()
        var n = 0
        var valid = true
        while (valid && pos + 8 <= end) {
          val rh = ByteBuffer.allocate(8)
          channel.read(rh, pos)
          rh.flip()
          val len = rh.getInt
          val expect = rh.getInt
          if (len <= 0 || pos + 8 + len > end) valid = false
          else {
            val payload = ByteBuffer.allocate(len)
            channel.read(payload, pos + 8)
            crc.reset(); crc.update(payload.array(), 0, len)
            if (crc.getValue.toInt != expect) valid = false
            else { pos += 8 + len; n += 1 }
          }
        }
        channel.truncate(pos)
        channel.position(pos)
        count = n
        endPos = pos
      }
      needSeek = false
    }

    openAndRecover()

    /** Heal an asynchronously-closed channel (interrupt mid-I/O closes a
      * FileChannel for EVERY holder): reopen + recovery scan. The gen
      * bump keeps content stamps honest — a reopen may have truncated a
      * torn tail. Caller holds the lock; no-op after a deliberate
      * [[close]]. */
    private def ensureOpenLocked(): Unit =
      if (!closedForever && !channel.isOpen) {
        openAndRecover()
        gen += 1
      }

    /** Run `body` with this thread's interrupt status parked: a pending
      * interrupt makes the FIRST blocking FileChannel op close the
      * channel and throw (InterruptibleChannel semantics) — the bricked
      * channel the r15 driver verify caught as a ClosedChannelException
      * flake. The status is re-asserted on exit so the signal (e.g.
      * GraftWorker.stop interrupting its maintenance loop) is never
      * swallowed, only deferred past the channel op. An interrupt that
      * lands MID-op closes the channel; the heal-retry clears it through
      * [[ParkedInterrupt.clear]], which records it for the re-assert. */
    private def uninterruptibly[A](body: ParkedInterrupt => A): A = {
      val parked = new ParkedInterrupt
      parked.clear()
      try body(parked)
      finally {
        parked.clear()
        if (parked.seen) Thread.currentThread().interrupt()
      }
    }

    def size: Int = count

    /** Monotonic truncation generation + live record count — the
      * snapshot mark for delta-preserving replaceLog: records past a
      * captured (gen, count) were appended after the capture; a gen
      * bump means an intervening fold moved the prefix into a parquet
      * part file (which the file-set mark then accounts for). */
    def mark: (Long, Int) = locked((gen, count))
    private var gen = 0L

    /** One producer's pending append awaiting a group-commit leader.
      * `state` transitions 0 (pending) → 1 (committed) / 2 (failed);
      * `failure` is written before the volatile state store, so the
      * producer's state read publishes it. `parked` is the Dekker flag
      * that lets the leader SKIP the futex wake for a producer that is
      * still spinning: the waiter stores parked=true then re-reads
      * state; the leader stores state then reads parked — volatile
      * total order guarantees at least one side sees the other, so a
      * missed unpark implies the waiter saw the commit and never
      * parks. */
    private final class Waiter(val buf: ByteBuffer, val n: Int, val force: Boolean) {
      @volatile var state = 0
      @volatile var parked = false
      var failure: Throwable = _
      val owner: Thread = Thread.currentThread()
    }
    private val pendingAppends =
      new java.util.concurrent.ConcurrentLinkedQueue[Waiter]()

    /** THE table lock — guards the channel, count, gen and endPos.
      * A ReentrantLock (not the object monitor) so producers can
      * `tryLock` and PARK OFF THE LOCK while a leader batches their
      * appends: under a contended monitor every producer still paid one
      * blocking entry per op, and the measured handoff convoy kept the
      * lane flat (~85k/s at 1/4/16 threads) even with the writes
      * batched. Every release hands leadership to the queue head (see
      * [[locked]]) so a waiter enqueued during a drain is never
      * stranded. */
    private val lock = new java.util.concurrent.locks.ReentrantLock()

    /** Run `body` under the table lock, then wake the append-queue head
      * (if any) so a producer that arrived mid-section becomes leader.
      * ALSO the external exclusion hook: ParquetBackend's drainWal wraps
      * its decode→fold→truncate cut in this, excluding appends exactly
      * as the old `wal.synchronized` did — an enqueued-but-undrained
      * waiter is not yet in the file, and its producer cannot return
      * until a leader running AFTER the truncate writes it. */
    def locked[A](body: => A): A = {
      lock.lock()
      try body
      finally {
        lock.unlock()
        wakeNextLeader()
      }
    }

    /** Append `n` pre-framed records (len|crc|payload each) — GROUP
      * COMMITTED via a leader/waiter queue (VERDICT r14 #2, the
      * LevelDB-writers shape from its public source): the caller
      * enqueues its pre-framed buffer; whichever producer wins
      * `tryLock` drains EVERY queued buffer in one gathering
      * `write(ByteBuffer[])` (plus one fsync if any waiter asked).
      * Losers SPIN on their own waiter's state first and only park
      * after ~a drain's worth of spinning — the r15 profile showed
      * batching the write alone left the lane flat (~98k/s at 1/4/16
      * threads): the serialized cost was never the syscall but the
      * per-op handoff (a futex wake per waiter, paid by the leader,
      * plus two lock round-trips per append on the full path). Spinning
      * waiters cost the leader nothing (it reads `parked=false` and
      * skips the unpark — the Dekker exchange on the Waiter), wakes for
      * the parked minority happen AFTER the lock is released, and the
      * cap pre-check reads a volatile count instead of locking.
      * Framing — serialization, CRC, length prefix — still happens on
      * the CALLER's thread before anything shared (r13).
      *
      * Contract unchanged: on return the records are written (fsync'd
      * when `force`), rows of one call contiguous, order = drain order. */
    def appendFramed(frames: ByteBuffer, n: Int, force: Boolean): Unit = {
      val w = new Waiter(frames, n, force)
      pendingAppends.add(w)
      var spins = 0
      while (w.state == 0) {
        if ((spins & 63) == 0 && lock.tryLock()) {
          val batch =
            try { if (w.state == 0) drainPendingLocked() else Vector.empty[Waiter] }
            finally lock.unlock()
          // wakes OUTSIDE the lock, and only for waiters that actually
          // parked — a spinning producer sees its volatile state flip
          var i = 0
          while (i < batch.length) {
            val b = batch(i)
            if ((b ne w) && b.parked) java.util.concurrent.locks.LockSupport.unpark(b.owner)
            i += 1
          }
          wakeNextLeader()
        } else if (spins < 4096) {
          Thread.onSpinWait()
          spins += 1
        } else {
          w.parked = true
          // re-read AFTER publishing parked (volatile ordering): either
          // the leader sees parked=true and unparks, or this read sees
          // the commit — never both missed
          if (w.state == 0) {
            // bounded park: pure defense against a missed edge
            java.util.concurrent.locks.LockSupport.parkNanos(this, 200000L)
          }
          w.parked = false
          spins = 0 // retry leadership before spinning again
        }
      }
      if (w.state == 2)
        throw new java.io.IOException("WAL group commit failed", w.failure)
    }

    /** Hand leadership to the append-queue head (if any): a waiter that
      * enqueued while a leader or an external [[locked]] section held
      * the lock may be parked with nobody left to drain it. */
    private def wakeNextLeader(): Unit = {
      val next = pendingAppends.peek()
      if (next != null) java.util.concurrent.locks.LockSupport.unpark(next.owner)
    }

    /** Drain every queued waiter in one gathering write; caller holds
      * [[lock]] and owes the returned batch its wakes (outside the
      * lock). An interrupt-induced channel close (the leader is a
      * producer thread a stop() may interrupt mid-write) is HEALED:
      * reopen, truncate back to the exact pre-batch end (discarding any
      * frames the torn write landed — no reader saw them: count never
      * advanced and the lock is held), rewind the buffers and retry
      * once. On a real I/O failure the whole batch is failed with the
      * file restored to its pre-batch state — a cleaner cut than the
      * old torn-tail-until-next-open contract, same caller semantics. */
    private def drainPendingLocked(): Vector[Waiter] = {
      var batch = Vector.empty[Waiter]
      var x = pendingAppends.poll()
      while (x != null) { batch :+= x; x = pendingAppends.poll() }
      if (batch.isEmpty) return batch
      if (closedForever) {
        val t = new java.nio.channels.ClosedChannelException()
        batch.foreach { b => b.failure = t; b.state = 2 }
        return batch
      }
      uninterruptibly { parked =>
        val starts = batch.map(_.buf.position())
        val preEnd = endPos
        val preCount = count
        // restore the exact pre-batch file state (caller holds the lock,
        // so nothing observed the partial frames)
        def rollback(): Unit = {
          channel.truncate(preEnd)
          channel.position(preEnd)
          endPos = preEnd
          count = preCount
          needSeek = false
          var i = 0
          while (i < batch.length) { batch(i).buf.position(starts(i)); i += 1 }
        }
        var attempts = 0
        var committed = false
        var lastFailure: Throwable = null
        while (!committed && attempts < 2) {
          try {
            ensureOpenLocked()
            if (attempts > 0) rollback()
            val bufs = batch.iterator.map(_.buf).toArray
            var total = 0L
            bufs.foreach(b => total += b.remaining().toLong)
            if (needSeek) { channel.position(endPos); needSeek = false }
            var remaining = total
            while (remaining > 0) remaining -= channel.write(bufs)
            endPos += total
            if (batch.exists(_.force)) channel.force(false)
            batch.foreach { b => count += b.n; b.state = 1 }
            committed = true
          } catch {
            case t: Throwable =>
              lastFailure = t
              attempts += 1
              parked.clear() // the close was interrupt-induced; re-asserted on exit
          }
        }
        if (!committed) {
          try { ensureOpenLocked(); rollback() }
          catch { case _: Throwable => needSeek = true }
          batch.foreach { b => b.failure = lastFailure; b.state = 2 }
        }
      }
      batch
    }

    /** Run a channel op under the lock with the interrupt status parked
      * and an asynchronously-closed channel healed (one reopen+retry);
      * `whenClosed` answers after a DELIBERATE [[close]] — teardown
      * races resolve to the post-teardown view instead of throwing. */
    private def channelOp[A](whenClosed: => A)(body: => A): A = locked(uninterruptibly { parked =>
      if (closedForever) whenClosed
      else {
        var attempts = 0
        var done = false
        var out: A = null.asInstanceOf[A]
        while (!done) {
          ensureOpenLocked()
          try { out = body; done = true }
          catch {
            case e: java.nio.channels.ClosedChannelException =>
              if (closedForever || attempts >= 2) throw e
              attempts += 1
              parked.clear() // interrupt-induced close; re-asserted on exit
          }
        }
        out
      }
    })

    /** Decode every live record (driver-side; bounded by [[MaxRecords]]
      * plus the compaction cadence). */
    def readAll(): Seq[Array[Byte]] = channelOp(Seq.empty[Array[Byte]]) {
      val out = Vector.newBuilder[Array[Byte]]
      var pos = HeaderLen.toLong
      val end = channel.size()
      while (pos + 8 <= end) {
        val rh = ByteBuffer.allocate(8)
        channel.read(rh, pos)
        rh.flip()
        val len = rh.getInt
        rh.getInt // crc validated on open; in-process appends are trusted
        val payload = ByteBuffer.allocate(len)
        channel.read(payload, pos + 8)
        out += payload.array()
        pos += 8 + len
      }
      out.result()
    }

    /** Drop every record (post-compaction fold). */
    def truncate(): Unit = channelOp(()) {
      channel.truncate(HeaderLen.toLong)
      channel.position(HeaderLen.toLong)
      endPos = HeaderLen.toLong
      needSeek = false // position re-pinned to endPos
      count = 0
      gen += 1
    }

    /** fsync (once per batch, not per record). */
    def sync(): Unit = channelOp(())(channel.force(false))

    def close(): Unit = locked {
      closedForever = true
      count = 0 // post-teardown view: size/hasRecords agree with readAll
      try channel.close() catch { case _: java.io.IOException => () }
    }

    /** Test hook: close the channel WITHOUT marking the WAL closed —
      * exactly the state an interrupt mid-I/O leaves behind
      * (InterruptibleChannel closes the channel for every holder). Lets
      * specs drive the [[ensureOpenLocked]] heal deterministically. */
    private[graft] def simulateAsyncClose(): Unit = locked {
      try channel.close() catch { case _: java.io.IOException => () }
    }
  }

  /** The interrupt status one [[TableWal]] channel op has cleared so
    * far, re-asserted when the op ends. */
  private final class ParkedInterrupt {
    var seen = false
    def clear(): Unit = if (Thread.interrupted()) seen = true
  }

  private val writers =
    new java.util.concurrent.ConcurrentHashMap[String, TableWal]()

  private def exprEncoder[T](enc: Encoder[T]): ExpressionEncoder[T] = enc match {
    case e: ExpressionEncoder[_] => e.asInstanceOf[ExpressionEncoder[T]]
    case a: AgnosticEncoder[_] => ExpressionEncoder(a.asInstanceOf[AgnosticEncoder[T]])
    case other =>
      throw new IllegalArgumentException(s"unsupported encoder ${other.getClass.getName}")
  }

  /** Serializer + deserializer + schema, cached per encoder (the same
    * reasoning as [[DirectParquetAppend.serializerCache]]: building
    * either side costs ~40 ms of reflection + codegen). */
  private val codecCache = new java.util.concurrent.ConcurrentHashMap[
    Encoder[_],
    (ExpressionEncoder.Serializer[_], ExpressionEncoder.Deserializer[_],
      org.apache.spark.sql.types.StructType)]()

  private def codec[T](enc: Encoder[T]) = {
    val c = codecCache.computeIfAbsent(enc, { e =>
      val ee = exprEncoder(e.asInstanceOf[Encoder[T]])
      val bound = ee.resolveAndBind()
      (bound.createSerializer(), bound.createDeserializer(), ee.schema)
    })
    (c._1.asInstanceOf[ExpressionEncoder.Serializer[T]],
      c._2.asInstanceOf[ExpressionEncoder.Deserializer[T]],
      c._3)
  }

  def walPath(root: String, tbl: String): java.nio.file.Path =
    Paths.get(root, ".wal", s"$tbl.wal")

  def forTable[T](root: String, tbl: String, enc: Encoder[T]): TableWal = {
    val (_, _, schema) = codec(enc)
    val p = walPath(root, tbl)
    writers.computeIfAbsent(p.toAbsolutePath.toString,
      _ => new TableWal(p, schema.fields.length, schema.json.hashCode))
  }

  /** True if a WAL with live records exists for this table (read path
    * probe that must not CREATE the file). */
  def hasRecords(root: String, tbl: String): Boolean = {
    val key = walPath(root, tbl).toAbsolutePath.toString
    val w = writers.get(key)
    if (w != null) w.size > 0
    else try Files.exists(Paths.get(key)) && Files.size(Paths.get(key)) > HeaderLen
    catch { case _: java.io.IOException => false } // deleted between probes
  }

  /** Per-thread serializers: an ExpressionEncoder serializer reuses an
    * internal UnsafeRow buffer, so it cannot be shared across threads —
    * the first design shared one under the writer's monitor, which put
    * serialization (the dominant per-call cost) inside the lock and made
    * N concurrent producers SLOWER in aggregate than one (the convoy the
    * r12 verdict's multi-producer lane measured). One serializer per
    * (thread, encoder) keeps serialization lock-free. */
  private val localSerializers = new ThreadLocal[
      java.util.HashMap[Encoder[_], ExpressionEncoder.Serializer[_]]] {
    override def initialValue() =
      new java.util.HashMap[Encoder[_], ExpressionEncoder.Serializer[_]]()
  }

  private def serializerFor[T](enc: Encoder[T]): ExpressionEncoder.Serializer[T] = {
    val m = localSerializers.get
    var s = m.get(enc)
    if (s == null) {
      s = exprEncoder(enc).resolveAndBind().createSerializer()
      m.put(enc, s)
    }
    s.asInstanceOf[ExpressionEncoder.Serializer[T]]
  }

  /** Frame rows for the WAL (serialize + CRC + length prefix each) —
    * PURE computation on this thread with a thread-local serializer.
    * Callers that hold locks around the append (ParquetBackend's
    * fold-lock visibility contract) frame BEFORE taking them, so N
    * concurrent producers parallelize everything but the channel write
    * itself. */
  def frame[T](enc: Encoder[T], rows: Seq[T]): Array[Byte] = {
    val ser = serializerFor(enc)
    val out = new java.io.ByteArrayOutputStream(rows.size * 64)
    val dos = new java.io.DataOutputStream(out) // big-endian, like ByteBuffer
    val crc = new CRC32
    rows.foreach { r =>
      val bytes = ser(r) match {
        // copied into the frame before the serializer's buffer is reused
        case u: UnsafeRow => u.getBytes
        case other => throw new IllegalStateException(
          s"encoder serializer produced ${other.getClass.getName}, expected UnsafeRow")
      }
      crc.reset(); crc.update(bytes)
      dos.writeInt(bytes.length)
      dos.writeInt(crc.getValue.toInt)
      dos.write(bytes)
    }
    out.toByteArray
  }

  /** Frame-and-append convenience for callers with no lock discipline
    * of their own. */
  def append[T](root: String, tbl: String, enc: Encoder[T], rows: Seq[T],
      force: Boolean): Unit =
    forTable(root, tbl, enc).appendFramed(ByteBuffer.wrap(frame(enc, rows)), rows.size, force)

  /** Decode all live rows of one table (empty if no WAL). */
  def rows[T](root: String, tbl: String, enc: Encoder[T]): Seq[T] = {
    if (!hasRecords(root, tbl)) return Nil
    val (_, deser, schema) = codec(enc)
    val w = forTable(root, tbl, enc)
    val nf = schema.fields.length
    w.readAll().map { bytes =>
      val row = new UnsafeRow(nf)
      row.pointTo(bytes, bytes.length)
      deser(row)
    }
  }

  def recordCount(root: String, tbl: String, enc: Encoder[_]): Int =
    if (!hasRecords(root, tbl)) 0 else forTable(root, tbl, enc).size

  /** Metadata-only content stamp of one table's WAL (no encoder, never
    * creates the file): truncation generation + record count when this
    * process holds the writer; else the on-disk (size, mtime) pair — a
    * cross-process truncate-and-rewrite landing at the identical byte
    * size still moves the mtime, so the cron gate's fingerprint can't
    * miss it (VERDICT r15 #7). 0 when absent. Feeds
    * [[graft.backend.QueueBackend.tableFingerprint]]. */
  def contentStamp(root: String, tbl: String): Long = {
    val key = walPath(root, tbl).toAbsolutePath.toString
    val w = writers.get(key)
    if (w != null) {
      val (g, c) = w.mark
      (g << 20) ^ c.toLong
    } else {
      val p = Paths.get(key)
      try {
        if (Files.exists(p))
          Files.size(p) * 1000003L ^ Files.getLastModifiedTime(p).toMillis
        else 0L
      } catch { case _: java.io.IOException => 0L } // deleted between probes
    }
  }

  /** Snapshot mark (truncation generation, record count) without
    * creating the WAL file; (0, 0) when none exists — consistent with
    * the state a first append would observe. */
  def mark(root: String, tbl: String, enc: Encoder[_]): (Long, Int) = {
    val key = walPath(root, tbl).toAbsolutePath.toString
    val w = writers.get(key)
    if (w != null) w.mark
    else if (Files.exists(Paths.get(key)) && Files.size(Paths.get(key)) > HeaderLen)
      forTable(root, tbl, enc).mark
    else (0L, 0)
  }

  /** Drop all records (called at the end of `replaceLog`, after the
    * replacement rows — computed from a read that INCLUDED the WAL —
    * are durably swapped in). */
  def truncate(root: String, tbl: String, enc: Encoder[_]): Unit =
    if (hasRecords(root, tbl)) forTable(root, tbl, enc).truncate()

  /** Close and deregister every writer under `root` — scratch-dir
    * teardown ([[graft.Scratch.delete]]); a writer per fixture backend
    * would otherwise leak its file descriptor for the session. */
  def closeUnder(root: String): Unit = {
    val prefix = Paths.get(root).toAbsolutePath.toString + java.io.File.separator
    val it = writers.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey.startsWith(prefix)) { e.getValue.close(); it.remove() }
    }
  }
}
