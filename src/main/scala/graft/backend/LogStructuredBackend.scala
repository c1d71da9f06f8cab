package graft.backend

import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import graft.model._
import graft.model.ModelEncoders._

/** The log-structured queue engine, abstracted over HOW logs are stored.
  *
  * Everything goose does with Redis list/zset/hash surgery is expressed
  * here as three primitives over append-only tables:
  *
  *  - `readLog`    — current visible file set of one table
  *  - `appendLog`  — add rows (any number of concurrent writers)
  *  - `replaceLog` — atomically substitute a table's contents (compaction,
  *                   cron snapshot, batch GC)
  *
  * Two storage bindings ship: [[ParquetBackend]] (directory listing — the
  * simplest thing that works on any filesystem; replace = dir swap) and
  * [[CommitLogBackend]] (a manifest commit log — atomic multi-file
  * commits, optimistic concurrency, snapshot-isolated readers; the
  * object-store-grade binding). goose ships the same split as Redis vs
  * RabbitMQ behind one Broker protocol (broker.clj:4-67).
  *
  * Visibility (the log-structured LREM/ZREM/DEL of commands.clj):
  *   ready    = log ∖ completions(id,attempt) ∖ tombstones ∖ purge-marked
  *   scheduled/dead = log ∖ tombstones
  * computed with left_anti joins that Catalyst plans as broadcast joins
  * while the subtraction side is small and shuffle joins beyond — both
  * scale-out clean. `compact` folds a log to its visible set so the
  * subtraction side never grows unboundedly.
  */
abstract class LogStructuredBackend(val spark: SparkSession) extends QueueBackend {
  import spark.implicits._

  // ---------- storage primitives ----------

  protected def readLog[T: Encoder](tbl: String): Dataset[T]
  protected def appendLog[T](tbl: String, ds: Dataset[T]): Unit
  protected def replaceLog[T](tbl: String, rows: Dataset[T]): Unit

  /** Snapshot read feeding a [[replaceLog]] fold. Like [[readLog]], but
    * the binding may arm a delta-preservation mark for `tbl`, consumed
    * by the next `replaceLog(tbl, …)` ON THIS THREAD, so appends landing
    * between this snapshot and the swap survive the replace. Plain
    * `readLog` arms NOTHING (VERDICT r10: a stale mark from an earlier
    * hot read made purgeCron's replace rescue rows it meant to delete) —
    * a `replaceLog` with no preceding `foldSnapshot` is an EXACT
    * replace, which is what delete-intent callers (purgeCron) want. */
  protected def foldSnapshot[T: Encoder](tbl: String): Dataset[T] = readLog[T](tbl)

  /** Drop any armed fold marks on this thread — fold abort path, so a
    * failed compaction can never leak a stale mark into a later
    * replace. Default no-op for bindings without marks. */
  protected def discardFoldMarks(): Unit = ()

  /** Number of live data files in one table — the pressure signal for
    * GraftWorker's compaction policy. Counted via the binding's own
    * storage (Hadoop FS listing / manifest), never java.io.File. */
  def dataFileCount(tbl: String): Int

  /** Reclaim stale direct-append staging leftovers (a crashed writer's
    * invisible files — see [[DirectParquetAppend.sweepStaging]]). Runs
    * on GraftWorker's compaction cadence. Bindings without a staging
    * area return 0. */
  def sweepStaging(olderThanMs: Long): Int = 0

  /** Small driver-side row sets (client API calls) write one file. */
  protected def appendSmall[T](tbl: String, ds: Dataset[T]): Unit =
    appendLog(tbl, ds.coalesce(1))

  /** Small row sets the DRIVER already holds (client per-call enqueue,
    * control-plane markers: tombstones, cron upserts, queue decls,
    * heartbeats). Default lands them through the distributed append;
    * bindings whose storage supports a cheap atomic one-file write
    * override this to skip the Spark-job round-trip entirely
    * ([[ParquetBackend]] via [[DirectParquetAppend]], ~2 ms vs
    * ~100 ms — the reference's per-call enqueue is a ~2 ms Redis LPUSH,
    * BASELINE.md). Same visibility/durability contract as
    * [[appendSmall]]: the rows are visible and durable on return. */
  protected def appendSmallRows[T: Encoder](tbl: String, rows: Seq[T]): Unit =
    if (rows.nonEmpty) appendSmall(tbl, rows.toDS())

  // ---------- appends ----------
  // Bulk paths stay fully distributed (one file per task); driver-side
  // Seq-based callers route through appendSmallRows.

  override def enqueue(jobs: Dataset[Job]): Unit = appendLog("ready", jobs)
  override def schedule(jobs: Dataset[Job]): Unit = appendLog("scheduled", jobs)
  override def enqueueRows(jobs: Seq[Job]): Unit = appendSmallRows("ready", jobs)
  override def scheduleRows(jobs: Seq[Job]): Unit = appendSmallRows("scheduled", jobs)
  override def bury(jobs: Dataset[Job]): Unit = appendLog("dead", jobs)
  override def buryRows(jobs: Seq[Job]): Unit = appendSmallRows("dead", jobs)
  override def recordCompletions(events: Dataset[CompletionEvent]): Unit =
    appendLog("completions", events)
  override def recordCompletionRows(events: Seq[CompletionEvent],
      release: Option[(String, Long)]): Unit = {
    appendSmallRows("completions", events)
    release.foreach { case (cid, at) => releaseShardClaim(cid, at) }
  }

  /** Table provably empty ⇔ no data files and no latency-path tail.
    * Data files via the binding's own metadata (directory listing /
    * manifest snapshot — driver-side, no Spark job); the WAL tail via
    * [[latencyPathNonEmpty]]. Conservative by construction: a fold
    * mid-swap can momentarily report zero files, which only delays the
    * caller's poll one tick — it can never hide durable rows from the
    * read that a `true` would have triggered. */
  override def maybeNonEmpty(tbl: String): Boolean =
    dataFileCount(tbl) > 0 || latencyPathNonEmpty(tbl)

  /** Whether the binding's per-call latency path holds undrained rows
    * for `tbl` (ParquetBackend's WAL); bindings without one return
    * false. */
  protected def latencyPathNonEmpty(tbl: String): Boolean = false

  override def tombstone(tbl: String, victims: Seq[(String, Long)], reason: String): Unit = {
    val now = System.currentTimeMillis()
    appendSmallRows("tombstones",
      victims.map { case (id, seq) => Tombstone(tbl, id, seq, reason, now) })
  }

  override def tombstone(tbl: String, victims: Dataset[(String, Long)], reason: String): Unit = {
    val now = System.currentTimeMillis()
    appendLog("tombstones",
      victims.map { case (id, seq) => Tombstone(tbl, id, seq, reason, now) })
  }

  override def purge(tbl: String, queue: String): Unit = {
    if (tbl == "ready") {
      // marker purge: O(1) write, like DEL — rows appended later survive.
      appendSmallRows("purges",
        Seq(PurgeMarker(tbl, queue, Job.nextSeq(), System.currentTimeMillis())))
    } else {
      // scheduled/dead hold future/terminal rows, so purge materializes
      // the victim versions — distributed end-to-end (admin op, but the
      // dead set after an incident can be huge; never collect it).
      val vis = if (tbl == "scheduled") scheduledJobs else deadJobs
      val victims = vis.filter(j => queue == "*" || j.queue == queue)
        .select($"id", $"seq").as[(String, Long)]
      tombstone(tbl, victims, "purge")
    }
  }

  // ---------- visible sets ----------

  private def tombstonesFor(tbl: String): Dataset[Tombstone] =
    readLog[Tombstone]("tombstones").filter($"tbl" === tbl)

  private def minusTombstones(jobs: Dataset[Job], tbl: String): Dataset[Job] =
    jobs.join(tombstonesFor(tbl).select($"id".as("t_id"), $"seq".as("t_seq")),
      col("id") === col("t_id") && col("seq") === col("t_seq"), "left_anti").as[Job]

  override def readyJobs: Dataset[Job] = filterReadyVisible(readLog[Job]("ready"))

  /** Consumer visibility = durable survivors AND due. The time gate
    * (broker-native delay, rmq x-delayed-message: a future-dated ready
    * row stays invisible until the BROKER clock passes its run-at stamp)
    * applies ONLY here — [[readySurvivors]], the persistent fold set,
    * must keep not-yet-due rows or a compaction would silently delete
    * every delayed job. Promoted/past-due jobs carry run-at stamps at or
    * before their promote time, so they always pass. */
  override def filterReadyVisible(slice: Dataset[Job]): Dataset[Job] =
    readySurvivors(slice)
      .filter($"scheduleRunAt".isNull || $"scheduleRunAt" <= lit(nowFn()))

  /** The rows of a ready slice that remain DURABLE: minus completions at
    * this attempt, tombstones, queue purges; latest version per (id,
    * attempt). Time-independent — this is what compaction folds to. */
  protected def readySurvivors(slice: Dataset[Job]): Dataset[Job] = {
    val comps = readLog[CompletionEvent]("completions")
      .select($"jobId".as("c_id"), $"attempt".as("c_attempt"))
    val purges = readLog[PurgeMarker]("purges").filter($"tbl" === "ready")
      .groupBy($"queue".as("p_queue")).agg(max($"seqAt").as("p_seq"))
    slice
      .withColumn("rattempt", coalesce($"state.retryCount" + 1, lit(0)))
      .join(comps, $"id" === $"c_id" && $"rattempt" === $"c_attempt", "left_anti")
      .join(tombstonesFor("ready").select($"id".as("t_id"), $"seq".as("t_seq")),
        $"id" === $"t_id" && $"seq" === $"t_seq", "left_anti")
      .join(purges, $"queue" === $"p_queue", "left_outer")
      .filter($"p_seq".isNull || $"seq" > $"p_seq")
      // crash-replay can append the same logical row twice (e.g. a
      // promote that died between enqueue and tombstone re-promotes, or a
      // prioritise that died before tombstoning): one row per (id,
      // attempt), the LATEST version (max seq) winning so a re-appended
      // bump deterministically shadows its predecessor. AFTER the
      // subtractions — before them, the survivor could be a tombstoned
      // version.
      .withColumn("vrank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"id", $"rattempt").orderBy($"seq".desc)))
      .filter($"vrank" === 1)
      .drop("rattempt", "p_queue", "p_seq", "vrank")
      .as[Job]
  }

  override def scheduledJobs: Dataset[Job] =
    minusTombstones(readLog[Job]("scheduled"), "scheduled")

  override def deadJobs: Dataset[Job] =
    minusTombstones(readLog[Job]("dead"), "dead")

  override def completions: Dataset[CompletionEvent] =
    readLog[CompletionEvent]("completions")

  // ---------- cron (keyed log, latest-wins — reference redis/cron.clj) ----------

  /** Latest record per cronName wins; a final `del` hides the name. Two
    * processes upserting DIFFERENT names concurrently both survive (each
    * is its own append) — the lost-update window of the old
    * read-modify-overwrite snapshot is gone. Same-name races resolve by
    * seq order, goose's last-HSET-wins. */
  override def cronEntries: Dataset[CronEntry] =
    winningCronPuts(readLog[CronLogRecord]("cron"))

  /** The latest-wins fold of a cron log slice (shared between the hot
    * read and compaction, which folds a SNAPSHOT of the log). */
  private def winningCronPuts(log: Dataset[CronLogRecord]): Dataset[CronEntry] =
    log.withColumn("crank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"cronName").orderBy($"seq".desc)))
      .filter($"crank" === 1 && $"op" === "put")
      .select("entry.*")
      .as[CronEntry]

  /** Idempotent upsert keyed by cronName (reference redis/cron.clj:38-50:
    * registering an existing name replaces the entry) — one log append. */
  override def upsertCron(entries: Seq[CronEntry]): Unit =
    appendSmallRows("cron",
      entries.map(e => CronLogRecord("put", e.cronName, Some(e), Job.nextSeq())))

  override def deleteCron(names: Seq[String]): Unit =
    appendSmallRows("cron",
      names.map(n => CronLogRecord("del", n, None, Job.nextSeq())))

  override def purgeCron(): Unit =
    replaceLog("cron", spark.emptyDataset[CronLogRecord])

  // ---------- queue declarations (reference rmq/queue.clj:29-48) ----------

  /** Idempotent declare, log-append storage. Matching redeclare is a
    * no-op; mismatched redeclare throws — the log-structured rewrite of
    * RMQ's PRECONDITION_FAILED on `queue.declare` with changed arguments
    * (reference rmq/queue.clj:29-48). Earliest declaration wins on read,
    * so two racing writers of the SAME envelope converge and a later
    * conflicting one would have thrown here.
    *
    * Driver-side bound: the collect below is over [[queueDecls]], which
    * already resolves to ONE row per queue (earliest-wins window), and
    * is filtered to one queue — so at most one row ever reaches the
    * driver, regardless of registry size. */
  override def declareQueue(decl: QueueDecl): Unit = {
    QueueDecl.validate(decl)
    queueDecls.filter($"queue" === decl.queue).collect().headOption match {
      case Some(existing) if QueueDecl.sameEnvelope(existing, decl) => // idempotent
      case Some(existing) =>
        throw new IllegalStateException(
          s"PRECONDITION_FAILED: queue '${decl.queue}' already declared as " +
            s"(type=${existing.queueType}, maxPriority=${existing.maxPriority}, " +
            s"replicationFactor=${existing.replicationFactor}); " +
            s"redeclare requested (type=${decl.queueType}, maxPriority=${decl.maxPriority}, " +
            s"replicationFactor=${decl.replicationFactor})")
      case None => appendSmallRows("queue_decls", Seq(decl))
    }
  }

  override def queueDecls: Dataset[QueueDecl] = {
    // first declaration per queue wins (later conflicting ones threw;
    // later identical ones are redundant duplicates from racing writers)
    readLog[QueueDecl]("queue_decls")
      .withColumn("drank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"queue")
          // deterministic under racing writers whose decls tie on the ms
          .orderBy($"declaredAt".asc, $"queueType".asc, $"maxPriority".asc,
            $"replicationFactor".asc)))
      .filter($"drank" === 1)
      .drop("drank")
      .as[QueueDecl]
  }

  // ---------- batches ----------

  override def putBatch(meta: BatchMeta): Unit = appendSmallRows("batches", Seq(meta))
  // readers anti-join the vacuum markers: the physical rewrite in
  // deleteBatches bounds log size, but only the marker makes the delete
  // DURABLE — a streaming tracker's replayed commit that lands after the
  // rewrite is hidden again on the next read (see BatchVacuumMarker)
  override def batches: Dataset[BatchMeta] =
    readLog[BatchMeta]("batches")
      .join(vacuumedBatchIds.toDF("v_bid"), $"id" === $"v_bid", "left_anti")
      .as[BatchMeta]

  override def recordBatchStatus(events: Seq[BatchStatusEvent]): Unit =
    appendSmallRows("batch_status", events)
  override def batchStatusEvents: Dataset[BatchStatusEvent] =
    readLog[BatchStatusEvent]("batch_status")
      .join(vacuumedBatchIds.toDF("v_bid"), $"batchId" === $"v_bid", "left_anti")
      .as[BatchStatusEvent]

  override def deleteBatches(ids: Seq[String]): Unit = {
    if (ids.isEmpty) return
    beforeFold()
    val drop = ids.toSet
    val now = System.currentTimeMillis()
    try {
      // marker first (the durable delete), then the rewrite (the size bound)
      appendSmallRows("batch_vacuums", ids.map(BatchVacuumMarker(_, now)))
      replaceLog("batches",
        foldSnapshot[BatchMeta]("batches").filter(m => !drop.contains(m.id)))
      replaceLog("batch_status",
        foldSnapshot[BatchStatusEvent]("batch_status").filter(e => !drop.contains(e.batchId)))
    } finally discardFoldMarks()
  }

  override def vacuumedBatchIds: Dataset[String] =
    readLog[BatchVacuumMarker]("batch_vacuums").select($"batchId").as[String]

  // ---------- worker registry ----------

  override def recordHeartbeat(hb: ProcessHeartbeat): Unit =
    appendSmallRows("heartbeats", Seq(hb))
  override def recordHeartbeats(hbs: Dataset[ProcessHeartbeat]): Unit =
    appendLog("heartbeats", hbs)
  override def heartbeats: Dataset[ProcessHeartbeat] =
    readLog[ProcessHeartbeat]("heartbeats")

  // ---------- maintenance ----------

  /** Fold a log to its visible rows (the GC that keeps anti-join sides
    * bounded). Survivors are pinned (localCheckpoint) BEFORE the swap so
    * the replacement never reads files it is replacing. Completions of
    * NOT-YET-TERMINAL batches are retained even when their job is gone
    * from the ready log — the batch tracker re-derives status from them,
    * and dropping a succeeded member's event would strand its batch
    * in-progress forever. */
  /** Hook for bindings with deferred append visibility (async publisher
    * confirms): flush in-flight publishes BEFORE a fold/GC constructs its
    * read plan, or the replace would silently drop them. Default no-op. */
  protected def beforeFold(): Unit = ()

  override def compact(tbl: String): Unit = {
    beforeFold()
    try {
      if (tbl == "cron") {
        // fold the keyed log to its winning puts (bounded by schedule
        // count); foldSnapshot arms the delta mark so an upsert landing
        // between this read and the swap survives the replace
        val current = winningCronPuts(foldSnapshot[CronLogRecord]("cron"))
          .collect().toSeq
        replaceLog("cron",
          current.map(e => CronLogRecord("put", e.cronName, Some(e), Job.nextSeq()))
            .toDS().coalesce(1))
        return
      }
      if (tbl == "completions") {
        // Standalone-safe completions fold — GraftWorker's LIGHT
        // compaction lane (r13 fleet find): mid-drain the consumption
        // log is the fastest-growing file pressure (one append per
        // micro-batch per worker), but relieving it through the "ready"
        // fold rewrites the ready SURVIVOR set, and every streaming
        // worker's file source re-ingests that file — N workers re-scan
        // the whole remaining backlog per fold (measured 2.9× the
        // 1-worker wall on a 2-worker drain; SCALING.md fleet rows). This
        // fold coalesces completions WITHOUT touching ready. A completion
        // may be GC'd only when BOTH hold: no ready-log row with its job
        // id remains (readySurvivors subtracts completions by
        // (id, attempt) — dropping one while its row is still in the log
        // would make the consumed attempt visible again), and its batch
        // is terminal or absent (the tracker re-derives live-batch status
        // from member completions). Mid-drain that keeps every row — the
        // win is the file-count collapse feeding the per-micro-batch
        // visibility anti-join. foldSnapshot arms the delta mark, so an
        // event landing mid-fold survives the replace; the ready side is
        // a plain readLog — this fold never replaces ready, and an armed
        // ready mark would leak into a later unrelated replace.
        val comps = foldSnapshot[CompletionEvent]("completions")
        val readyIds = readLog[Job]("ready").select($"id".as("s_id")).distinct()
        val terminalB = readLog[BatchStatusEvent]("batch_status")
          .filter(e => BatchStatus.terminal(e.status)).select($"batchId".as("tb"))
        val liveBatches = readLog[BatchMeta]("batches").select($"id".as("lb"))
          .join(terminalB, $"lb" === $"tb", "left_anti")
        replaceLog("completions",
          comps.join(readyIds, $"jobId" === $"s_id", "left_semi")
            .union(comps.join(liveBatches, $"batchId" === $"lb", "left_semi"))
            .distinct().as[CompletionEvent])
        return
      }
      if (tbl == "claims") {
        // fold the claim log (r14 shared-queue claimed consumption) to
        // claims whose attempt has no completion yet: a completed
        // attempt's claim can never matter again (filterReadyVisible
        // already drops the attempt), while an UNCOMPLETED claim is kept
        // even past its lease — its attempt may be mid-replay, and
        // keeping it is only bytes, never wrongness. One micro-batch per
        // worker appends one claim batch, so this table grows at the
        // completions rate and folds with the same light lane.
        // Liveness BEACONS (attempt = BeaconAttempt) and SHARD claims
        // (attempt = ShardClaimAttempt, r15) fold to the newest row per
        // (claimant, kind) — older rows of each kind are superseded by
        // definition (a beacon renews liveness; a newer shard claim
        // releases the older one's coverage), and one row per kind per
        // live claimant is all the lease / membership / coverage reads
        // consult. Order ties on claimedAt (pinned test clocks) break
        // by jobId — shard-claim ids embed a zero-padded monotonic seq.
        // Keeping the newest even when stale is bytes-bounded by the
        // fleet's total claimant count.
        val snap = foldSnapshot[ClaimEvent]("claims")
        val comps = readLog[CompletionEvent]("completions")
          .select($"jobId".as("d_jid"), $"attempt".as("d_att"))
        val live = snap.filter($"attempt" >= 0)
          .join(comps, $"jobId" === $"d_jid" && $"attempt" === $"d_att", "left_anti")
        val beacons = snap.toDF().filter($"attempt" < 0)
          .withColumn("brank", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy($"claimantId", $"attempt")
              .orderBy($"claimedAt".desc, $"jobId".desc)))
          .filter($"brank" === 1).drop("brank")
        replaceLog("claims", live.unionByName(beacons).as[ClaimEvent])
        return
      }
      // Snapshot the tombstones BEFORE computing the survivor set: the
      // set it is safe to drop is exactly the `tbl` rows of THIS
      // snapshot — the ones the survivor computation could apply. The
      // replace below re-reads at swap time and anti-joins only that
      // applied set away, so a tombstone landing mid-compaction (for
      // ANY table, on ANY backend — mark-less manifest backends have no
      // delta rescue to save it) survives, and a `tbl` tombstone that
      // raced the survivor computation is kept to subtract its job —
      // folded into the survivor log — at read time.
      val tsSnap = foldSnapshot[Tombstone]("tombstones")
      val visible: Dataset[Job] = tbl match {
        // fold to the DURABLE survivor set, not consumer visibility — the
        // time gate would drop not-yet-due native-delay rows from the log
        case "ready" => readySurvivors(foldSnapshot[Job]("ready"))
        case "scheduled" => minusTombstones(foldSnapshot[Job]("scheduled"), "scheduled")
        case "dead" => minusTombstones(foldSnapshot[Job]("dead"), "dead")
        case other => throw new IllegalArgumentException(s"cannot compact '$other'")
      }
      val survivors = visible.localCheckpoint(true)
      try {
        replaceLog(tbl, survivors)
        if (tbl == "ready") {
          val comps = foldSnapshot[CompletionEvent]("completions")
          val terminalB = readLog[BatchStatusEvent]("batch_status")
            .filter(e => BatchStatus.terminal(e.status)).select($"batchId".as("tb"))
          val liveBatches = readLog[BatchMeta]("batches").select($"id".as("lb"))
            .join(terminalB, $"lb" === $"tb", "left_anti")
          val keptComps = comps.join(
            survivors.select($"id".as("s_id")), $"jobId" === $"s_id", "left_semi")
            .union(comps.join(liveBatches, $"batchId" === $"lb", "left_semi"))
            .distinct()
            .as[CompletionEvent]
          replaceLog("completions", keptComps)
        }
        // Re-read at swap time; drop ONLY the applied set (this table's
        // rows of the pre-computation snapshot). A left_anti on the
        // full (tbl, id, seq) key is row-precise on every backend —
        // ParquetBackend's delta rescue additionally covers appends
        // racing the swap itself, and the fresh foldSnapshot re-arms
        // its mark to the at-swap file set.
        val applied = tsSnap.filter($"tbl" === tbl)
          .select($"tbl".as("a_tbl"), $"id".as("a_id"), $"seq".as("a_seq"))
        replaceLog("tombstones",
          foldSnapshot[Tombstone]("tombstones").join(applied,
            $"tbl" === $"a_tbl" && $"id" === $"a_id" && $"seq" === $"a_seq",
            "left_anti").as[Tombstone])
        // Purge markers are per-(tbl, queue) seq WATERMARKS — readers
        // take max(seqAt) per key (readySurvivors), so every marker
        // below its key's snapshot winner is dead weight that otherwise
        // accrues forever and keeps logFileCount pressure up (r11 review
        // find). Same applied-set discipline as the tombstone rewrite:
        // the replacement drops ONLY snapshot rows judged superseded, so
        // a marker landing mid-compaction survives on every backend.
        val purgSnap = foldSnapshot[PurgeMarker]("purges")
        val winners = purgSnap.groupBy($"tbl", $"queue")
          .agg(max($"seqAt").as("w_seq"))
          .select($"tbl".as("w_tbl"), $"queue".as("w_q"), $"w_seq")
        val superseded = purgSnap.join(winners,
          $"tbl" === $"w_tbl" && $"queue" === $"w_q" && $"seqAt" < $"w_seq",
          "left_semi")
          .select($"tbl".as("p_tbl"), $"queue".as("p_q"), $"seqAt".as("p_seq"))
        replaceLog("purges",
          foldSnapshot[PurgeMarker]("purges").join(superseded,
            $"tbl" === $"p_tbl" && $"queue" === $"p_q" && $"seqAt" === $"p_seq",
            "left_anti").as[PurgeMarker])
      } finally survivors.unpersist()
    } finally discardFoldMarks()
  }
}
