package graft

import java.nio.file.{Files, Paths, StandardOpenOption}
import java.time.Instant
import graft.backend.{ParquetBackend, WalStore}
import graft.client.GraftClient
import graft.model._
import graft.worker.SchedulerEngine

/** The per-call WAL latency path ([[WalStore]] + ParquetBackend wiring).
  *
  * Lane contract: `ready` stays direct parquet (the consumer stream is a
  * parquet file source — the file IS the stream-visibility token); every
  * other small-append table (scheduled, tombstones, cron, heartbeats,
  * batch status) lands on the WAL and is read WAL-inclusively through
  * `readLog`. Covered here: durability + reopen, torn-tail recovery,
  * schema pinning, fold semantics (drain / cap / compaction), and an
  * engine path (scheduler promotion) consuming WAL-resident rows. */
class WalStoreSpec extends SparkSpec {

  private val JobEnc = org.apache.spark.sql.Encoders.product[Job]
  private val T0 = 1700000000000L

  private def freshBackend() = {
    TestFns.reset()
    val root = tmpDir("graft-wal")
    (root, new ParquetBackend(spark, root))
  }

  private def clientOn(backend: ParquetBackend, now: () => Long) =
    new GraftClient(backend, spark, "w",
      RetryOpts(maxRetries = 0, retryDelaySecFn = "instant"), now)

  test("per-call schedule lands on the WAL, is readable, and survives reopen") {
    val (root, backend) = freshBackend()
    val client = clientOn(backend, () => T0)
    val ids = (1 to 25).map(i =>
      client.performAt(Instant.ofEpochMilli(T0 + 60000 + i), "ok", i))
    // no parquet file yet — the rows live on the WAL
    assert(backend.dataFileCount("scheduled") == 0)
    assert(WalStore.recordCount(root, "scheduled", JobEnc) == 25)
    val visible = backend.scheduledJobs.collect().map(_.id).toSet
    assert(ids.forall(visible), "WAL rows must be batch-visible immediately")

    // a NEW backend instance over the same root reads the same rows
    val reopened = new ParquetBackend(spark, root)
    assert(reopened.scheduledJobs.count() == 25)
  }

  test("per-call ready enqueue rides the WAL; multi-row keeps the file token") {
    val (root, backend) = freshBackend()
    val client = clientOn(backend, () => T0)
    client.performAsync("ok", 1)
    assert(backend.dataFileCount("ready") == 0,
      "a single-row ready enqueue must not pay a parquet file")
    assert(WalStore.recordCount(root, "ready", JobEnc) == 1)
    assert(backend.readyJobs.count() == 1,
      "WAL ready rows must be batch-visible immediately (readLog)")
    // performBatch's atomic N+1 keeps single-file visibility — and it
    // drains the WAL first, so the earlier per-call job can never become
    // stream-visible AFTER this later batch (FIFO vs the WAL lane)
    client.performBatch(Seq(("ok", Seq[Any](1)), ("ok", Seq[Any](2))), "ok")
    assert(backend.dataFileCount("ready") == 2,
      "drain file for the earlier per-call row, then the batch's own file")
    assert(WalStore.recordCount(root, "ready", JobEnc) == 0,
      "a direct multi-row append leaves no older WAL rows behind it")
    assert(backend.readyJobs.count() == 3)
  }

  test("ready WAL folds on the maintenance drain — the stream-visibility tick") {
    val (root, backend) = freshBackend()
    val client = clientOn(backend, () => T0)
    (1 to 5).foreach(i => client.performAsync("ok", i))
    assert(backend.dataFileCount("ready") == 0)
    backend.drainLatencyPath()
    assert(backend.dataFileCount("ready") == 1,
      "the fold materializes the file a running stream lists")
    assert(WalStore.recordCount(root, "ready", JobEnc) == 0)
    assert(backend.readyJobs.count() == 5, "no loss, no duplication across the fold")
  }

  test("runPass executes WAL-resident ready jobs with no fold needed") {
    val (_, backend) = freshBackend()
    val client = clientOn(backend, () => T0)
    (1 to 3).foreach(i => client.performAsync("ok", i))
    val now = T0 // local capture: the worker's nowFn ships in executor closures
    val worker = new graft.worker.WorkerEngine(backend, spark, Nil, () => now)
    val stats = worker.runPass()
    assert(stats.executed == 3 && stats.succeeded == 3,
      "batch consumers read the ready lane WAL-inclusively")
  }

  test("streaming worker sees per-call ready rows after the fold tick") {
    val (root, backend) = freshBackend()
    val client = clientOn(backend, () => T0)
    (1 to 3).foreach(i => client.performAsync("ok", i))
    val now = T0
    val worker = new graft.worker.WorkerEngine(backend, spark, Nil, () => now)
    val q = worker.startStream(root,
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
    try {
      q.processAllAvailable()
      assert(backend.completions.count() == 0,
        "pre-fold, the WAL rows are invisible to the file-source stream")
      backend.drainLatencyPath() // the maintenance tick (GraftWorker runs this at 1 Hz)
      q.processAllAvailable()
      assert(backend.completions.count() == 3,
        "one fold tick delivers every per-call enqueue to the stream")
    } finally q.stop()
  }

  test("heartbeats ride the WAL: no parquet file per tick") {
    val (root, backend) = freshBackend()
    (1 to 50).foreach(i => backend.recordHeartbeat(ProcessHeartbeat(s"w$i", "q", i)))
    assert(backend.dataFileCount("heartbeats") == 0)
    assert(backend.heartbeats.count() == 50)
    assert(WalStore.recordCount(root, "heartbeats",
      org.apache.spark.sql.Encoders.product[ProcessHeartbeat]) == 50)
  }

  test("drainLatencyPath folds the scheduled WAL into parquet exactly once") {
    val (root, backend) = freshBackend()
    val client = clientOn(backend, () => T0)
    (1 to 10).foreach(i =>
      client.performAt(Instant.ofEpochMilli(T0 + 60000 + i), "ok", i))
    backend.drainLatencyPath()
    assert(backend.dataFileCount("scheduled") == 1)
    assert(WalStore.recordCount(root, "scheduled", JobEnc) == 0)
    assert(backend.scheduledJobs.count() == 10, "no loss, no duplication across the fold")
    backend.drainLatencyPath() // idempotent on empty WAL
    assert(backend.dataFileCount("scheduled") == 1)
    // post-fold appends start a fresh tail
    client.performAt(Instant.ofEpochMilli(T0 + 70000), "ok", 11)
    assert(backend.scheduledJobs.count() == 11)
  }

  test("scheduler promotes WAL-resident scheduled jobs without a drain") {
    val (_, backend) = freshBackend()
    val clock = new java.util.concurrent.atomic.AtomicLong(T0)
    val client = clientOn(backend, () => clock.get())
    (1 to 5).foreach(i =>
      client.performAt(Instant.ofEpochMilli(T0 + 1000 + i), "ok", i))
    clock.set(T0 + 60000) // all due now
    val sched = new SchedulerEngine(backend, spark, () => clock.get())
    sched.promoteDue()
    assert(backend.readyJobs.count() == 5, "due WAL rows must promote")
    assert(backend.scheduledJobs.count() == 0,
      "promotion tombstones (also WAL-resident) must hide the promoted rows")
  }

  test("torn tail: a crash mid-record loses only the in-flight record") {
    val (root, backend) = freshBackend()
    val client = clientOn(backend, () => T0)
    (1 to 8).foreach(i =>
      client.performAt(Instant.ofEpochMilli(T0 + 60000 + i), "ok", i))
    // simulate a crashed process: drop the writer, then corrupt the tail
    WalStore.closeUnder(root)
    val wal = Paths.get(root, ".wal", "scheduled.wal")
    Files.write(wal, Array[Byte](42, 0, 0, 1, 7, 7), StandardOpenOption.APPEND)
    // a fresh process (registry emptied by closeUnder) recovers to the
    // last valid record and keeps appending
    assert(new ParquetBackend(spark, root).scheduledJobs.count() == 8)
    client.performAt(Instant.ofEpochMilli(T0 + 70000), "ok", 9)
    assert(backend.scheduledJobs.count() == 9)
  }

  test("schema drift on an existing WAL fails loudly, not with misreads") {
    val (root, _) = freshBackend()
    import spark.implicits._
    WalStore.append(root, "probe", implicitly[org.apache.spark.sql.Encoder[(Long, String)]],
      Seq((1L, "a")), force = false)
    WalStore.closeUnder(root)
    val e = intercept[IllegalArgumentException] {
      WalStore.rows(root, "probe",
        implicitly[org.apache.spark.sql.Encoder[(Long, String, Long)]])
    }
    assert(e.getMessage.contains("does not match"))
  }

  test("record-count cap folds before appending (bounded read decode)") {
    val (root, backend) = freshBackend()
    val retry = RetryOpts(maxRetries = 0, retryDelaySecFn = "instant")
    def mk(i: Int) = Job(id = s"j$i", executeFnSym = "ok", argsJson = "[]",
      queue = "w", readyQueue = "w", priority = 0, enqueuedAt = 1L,
      scheduleRunAt = Some(T0 + 60000 + i), cronRunAt = None, batchId = None,
      retryOpts = retry, state = None, seq = Job.nextSeq())
    // two appends that together cross the cap: the second folds first
    backend.scheduleRows((1 to WalStore.MaxRecords - 5).map(mk))
    assert(backend.dataFileCount("scheduled") == 0)
    backend.scheduleRows((1 to 10).map(i => mk(WalStore.MaxRecords + i)))
    assert(backend.dataFileCount("scheduled") == 1, "cap crossing must fold the old tail")
    assert(WalStore.recordCount(root, "scheduled", JobEnc) == 10)
    assert(backend.scheduledJobs.count() == WalStore.MaxRecords + 5)
  }

  test("compaction truncates the WAL with the visible fold (no double rows)") {
    val (root, backend) = freshBackend()
    val client = clientOn(backend, () => T0)
    (1 to 12).foreach(i =>
      client.performAt(Instant.ofEpochMilli(T0 + 60000 + i), "ok", i))
    backend.compact("scheduled")
    assert(WalStore.recordCount(root, "scheduled", JobEnc) == 0)
    assert(backend.scheduledJobs.count() == 12)
  }

  test("concurrent producers racing folds: every per-call enqueue lands exactly once") {
    // The durability envelope under concurrency (VERDICT r12 #3): N
    // producer threads share ONE client against one backend root —
    // goose's 25-thread perf-client shape — while a compaction loop
    // folds the ready WAL into parquet under them. No append may be
    // lost (truncated with a fold that didn't include it) and none may
    // double (visible on both the WAL tail and the folded parquet).
    val (root, backend) = freshBackend()
    val client = clientOn(backend, () => T0)
    val nThreads = 8; val perThread = 150
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nThreads + 1)
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val ids = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    try {
      val folder = pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = while (!done.get()) {
          backend.compact("ready"); Thread.sleep(2)
        }
      })
      val producers = (0 until nThreads).map { t =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = (0 until perThread).foreach { i =>
            ids.add(client.performAsync("ok", t, i)); ()
          }
        })
      }
      producers.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      done.set(true)
      folder.get(30, java.util.concurrent.TimeUnit.SECONDS)
    } finally { done.set(true); pool.shutdownNow() }
    backend.compact("ready")
    assert(WalStore.recordCount(root, "ready", JobEnc) == 0)
    val seen = backend.readyJobs.collect().map(_.id).toSeq
    assert(seen.distinct.size == seen.size,
      s"double-visible enqueue: ${seen.diff(seen.distinct).take(5)}")
    import scala.jdk.CollectionConverters._
    assert(seen.toSet == ids.asScala.toSet,
      s"lost=${(ids.asScala.toSet -- seen.toSet).take(5)}")
    assert(seen.size == nThreads * perThread)
  }

  /** A ParquetBackend whose replaceLog fires `inject` once, for the
    * named table, AFTER the compaction caller materialized survivors
    * but BEFORE the swap — the exact window ADVICE r9 flagged as
    * job-loss (a concurrent enqueue was truncated/deleted with the
    * old state). */
  private def racyBackend(root: String, onTbl: String)(inject: ParquetBackend => Unit) = {
    var fired = false
    new ParquetBackend(spark, root) {
      override protected def replaceLog[T](
          tbl: String, rows: org.apache.spark.sql.Dataset[T]): Unit = {
        if (tbl == onTbl && !fired) { fired = true; inject(this) }
        super.replaceLog(tbl, rows)
      }
    }
  }

  test("replaceLog preserves a per-call WAL enqueue racing the compaction swap") {
    TestFns.reset()
    val root = tmpDir("graft-race-wal")
    var late: String = null
    val backend = racyBackend(root, "ready") { b =>
      late = clientOn(b, () => T0).performAsync("ok", 99)
    }
    val client = clientOn(backend, () => T0)
    val early = (1 to 3).map(i => client.performAsync("ok", i))
    backend.compact("ready")
    val visible = backend.readyJobs.collect().map(_.id).toSet
    assert(early.forall(visible), "survivors keep the pre-snapshot jobs")
    assert(visible(late),
      "an enqueue landing between compact's snapshot and the swap must survive")
    assert(WalStore.recordCount(root, "ready", JobEnc) == 1,
      "exactly the post-snapshot delta stays WAL-resident (no resurrection)")
  }

  test("a consumed WAL job is NOT resurrected by a fold racing the swap") {
    // VERDICT r10 #2: the r10 rescue re-added whole fold files, and a
    // fold landing between compact's snapshot and the swap used to carry
    // the PRE-snapshot WAL prefix — rows the compactor saw and judged
    // dead — back into the replacement. A consumed job then lost its
    // completion row in the completions shrink and executed TWICE.
    // foldSnapshot now empties the WAL inside its locked section, so
    // every post-snapshot fold file holds only post-snapshot rows.
    TestFns.reset()
    val root = tmpDir("graft-race-resurrect")
    var late: String = null
    val backend = racyBackend(root, "ready") { b =>
      // a per-call enqueue (WAL lane) + the maintenance fold tick, both
      // inside the snapshot→swap window: the fold writes a part file
      // absent from the snapshot's file set
      late = clientOn(b, () => T0).performAsync("ok", 99)
      b.drainLatencyPath()
    }
    val client = clientOn(backend, () => T0)
    val consumed = (1 to 3).map(i => client.performAsync("ok", i))
    val now = T0
    val worker = new graft.worker.WorkerEngine(backend, spark, Nil, () => now)
    val first = worker.runPass() // consumes the WAL-resident jobs
    assert(first.executed == 3 && first.succeeded == 3)
    assert(WalStore.recordCount(root, "ready", JobEnc) == 3,
      "precondition: the consumed jobs are still WAL-resident at snapshot time")

    backend.compact("ready")
    val visible = backend.readyJobs.collect().map(_.id).toSet
    assert(consumed.forall(id => !visible(id)),
      "consumed jobs must stay gone — the racing fold must not resurrect them")
    assert(visible == Set(late),
      "the post-snapshot enqueue (folded mid-compaction) must survive, once")
    val second = worker.runPass()
    assert(second.executed == 1,
      "exactly the late job runs — a resurrected job would execute twice")
    assert(TestFns.calls.get() == 4, "4 enqueues, 4 executions, each once")
  }

  test("a tombstone landing mid-compaction survives the tombstone-log rewrite") {
    // r11 review find: compact snapshots tombstones BEFORE the survivor
    // computation and used to REPLACE the log from that snapshot — a
    // delete racing the compaction (console thread holds no worker
    // gate) was silently dropped on any backend without a delta rescue,
    // resurrecting the deleted job. The rewrite now re-reads at swap
    // time and anti-joins away only the APPLIED rows (this table's rows
    // of the pre-computation snapshot).
    TestFns.reset()
    val root = tmpDir("graft-race-tombstone")
    val backend = racyBackend(root, "dead") { b =>
      // fires inside compact("dead"), after its tombstone snapshot —
      // the exact window the old rewrite erased
      val victim = b.scheduledJobs.collect().head
      b.tombstone("scheduled", Seq((victim.id, victim.seq)), "console delete")
    }
    val client = clientOn(backend, () => T0)
    client.performAt(java.time.Instant.ofEpochMilli(T0 + 60000), "ok", 1)
    assert(backend.scheduledJobs.count() == 1)
    backend.compact("dead")
    assert(backend.scheduledJobs.count() == 0,
      "the mid-compaction delete must survive the tombstone rewrite")
  }

  test("mark-less backends: mid-compaction tombstone survives the generic rewrite") {
    // The ParquetBackend variant above is additionally protected by its
    // delta-rescue marks; THIS binding has no marks at all (default
    // foldSnapshot = readLog, exact replaceLog — the CommitLogBackend
    // shape), so it exercises the generic compact()'s own guarantee:
    // the tombstone rewrite re-reads at swap time and drops only the
    // applied set. Before the r11 fix this test loses the racing delete.
    import org.apache.spark.sql.{Dataset, Encoder}
    val logs = scala.collection.mutable.Map.empty[String, Seq[Any]]
    var fired = false
    val backend: graft.backend.LogStructuredBackend =
      new graft.backend.LogStructuredBackend(spark) {
        override def capabilities = graft.backend.BrokerCapabilities(
          fullOperatorSurface = true, snapshotIsolatedReads = false,
          multiProcessWriters = false, durable = false)
        override def dataFileCount(tbl: String): Int =
          logs.getOrElse(tbl, Nil).size
        override protected def readLog[T: Encoder](tbl: String): Dataset[T] =
          spark.createDataset(
            logs.getOrElse(tbl, Nil).asInstanceOf[Seq[T]])(implicitly[Encoder[T]])
        override protected def appendLog[T](tbl: String, ds: Dataset[T]): Unit =
          logs.synchronized { logs(tbl) = logs.getOrElse(tbl, Nil) ++ ds.collect().toSeq }
        override protected def replaceLog[T](tbl: String, rows: Dataset[T]): Unit = {
          if (tbl == "dead" && !fired) {
            fired = true // the console delete racing the compaction
            val v = scheduledJobs.collect().head
            tombstone("scheduled", Seq((v.id, v.seq)), "console delete")
          }
          val next = rows.collect().toSeq
          logs.synchronized { logs(tbl) = next }
        }
      }
    backend.scheduleRows(Seq(Job(
      id = "victim", executeFnSym = "ok", argsJson = "[]", queue = "q",
      readyQueue = "q", priority = 0, enqueuedAt = T0,
      scheduleRunAt = Some(T0 + 60000), cronRunAt = None, batchId = None,
      retryOpts = RetryOpts(), state = None, seq = Job.nextSeq())))
    assert(backend.scheduledJobs.count() == 1)
    backend.compact("dead")
    assert(fired)
    assert(backend.scheduledJobs.count() == 0,
      "the mid-compaction delete must survive the tombstone rewrite")
  }

  test("purgeCron is exact: no stale-mark rescue from an earlier read on this thread") {
    // ADVICE r10 medium: replaceLog used to consume whatever mark the
    // thread last captured; a hot cron read before purgeCron rescued
    // post-read upserts into the purged table. Hot reads arm nothing
    // now — only foldSnapshot does — so a purge with no snapshot is an
    // exact replace (matching InMemoryBackend's crons.clear()).
    val (_, backend) = freshBackend()
    def entry(n: String) = CronEntry(n, "* * * * *", "UTC",
      JobDescription("ok", "[]", "w", "w", 0, RetryOpts()), 1L)
    backend.upsertCron(Seq(entry("a"), entry("b")))
    assert(backend.cronEntries.count() == 2) // hot read on THIS thread
    backend.upsertCron(Seq(entry("c"))) // lands after that read
    backend.purgeCron()
    assert(backend.cronEntries.count() == 0,
      "purge must drop everything, including rows landed after the last read")
  }

  test("compaction folds purge markers to their per-queue watermark") {
    TestFns.reset()
    val (root, backend) = freshBackend()
    val client = clientOn(backend, () => T0)
    client.performAsync("ok", 1)
    // repeated purges: each is an O(1) marker append; only the max seq
    // per (tbl, queue) ever matters to readers
    // the client enqueues on queue "w" (clientOn) — purge that key
    (1 to 5).foreach(_ => backend.purge("ready", "w"))
    client.performAsync("ok", 2) // post-purge row: visible
    backend.purge("ready", "other") // distinct key: its own watermark
    backend.drainLatencyPath()
    backend.compact("ready")
    val visible = backend.readyJobs.collect()
    assert(visible.length == 1 && visible.head.argsJson == "[2]",
      "watermark semantics unchanged by the fold")
    // the marker log folded to one winner per key (2 keys here)
    assert(backend.dataFileCount("purges") <= 2,
      "superseded markers are gone; logFileCount pressure is bounded")
  }

  test("sweepStaging reclaims crashed append/replace staging dirs") {
    val (root, backend) = freshBackend()
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(".app-dead", ".rw-dead", ".old-dead").foreach { n =>
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/$n"))
    }
    assert(backend.sweepStaging(-1000) >= 3, "hidden staging leftovers are swept")
    Seq(".app-dead", ".rw-dead", ".old-dead").foreach { n =>
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/$n")))
    }
  }

  test("sweepStaging spares a live deep-writing stage; reclaims it once truly quiet") {
    // FileOutputCommitter lands task output two levels under the staging
    // dir (.app-*/_temporary/0/task_*) without touching the top dir's
    // direct children — a non-recursive quiesce check judged a live
    // >cutoff-old bulk append "abandoned" and deleted it mid-write
    // (r11 review find). The quiesce walk must see the deep fresh file.
    import org.apache.hadoop.fs.Path
    val (root, backend) = freshBackend()
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val top = new Path(s"$root/.app-live")
    val task = new Path(top, "_temporary/0/task_202608_0001_m_000000")
    fs.mkdirs(task)
    val part = new Path(task, "part-00000.parquet")
    fs.create(part).close() // fresh deep file = the job is still writing
    val old = System.currentTimeMillis() - 120000
    // age every DIRECTORY (top mtime is what the old check read) but
    // leave the deep part file fresh
    Seq(top, new Path(top, "_temporary"), new Path(top, "_temporary/0"), task)
      .foreach(p => fs.setTimes(p, old, -1))
    assert(backend.sweepStaging(60000) == 0, "live stage must not be swept")
    assert(fs.exists(part), "the in-flight task file survives")
    fs.setTimes(part, old, -1) // now the whole tree is quiet past the cutoff
    Seq(top, new Path(top, "_temporary"), new Path(top, "_temporary/0"), task)
      .foreach(p => fs.setTimes(p, old, -1)) // setTimes(part) refreshed parents? re-age
    assert(backend.sweepStaging(60000) == 1, "a truly quiet stage is reclaimed")
    assert(!fs.exists(top))
  }

  test("replaceLog rescues a direct part file racing the compaction swap") {
    TestFns.reset()
    val root = tmpDir("graft-race-file")
    var lateBatch: String = null
    val backend = racyBackend(root, "ready") { b =>
      // multi-row append → direct parquet file into the OLD dir, which
      // pre-r10 died with the .old backup
      lateBatch = clientOn(b, () => T0)
        .performBatch(Seq(("ok", Seq[Any](7)), ("ok", Seq[Any](8))), "ok")
    }
    val client = clientOn(backend, () => T0)
    val early = (1 to 3).map(i => client.performAsync("ok", i))
    backend.drainLatencyPath() // early jobs as parquet, in the snapshot's file set
    backend.compact("ready")
    val jobs = backend.readyJobs.collect()
    val visible = jobs.map(_.id).toSet
    assert(early.forall(visible), "survivors keep the pre-snapshot jobs")
    assert(jobs.count(_.batchId.contains(lateBatch)) == 2,
      "part files appended after the snapshot move into the replacement dir")
    assert(jobs.length == 5, "no duplication from the rescue")
  }
}
