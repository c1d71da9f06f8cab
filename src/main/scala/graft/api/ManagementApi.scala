package graft.api

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.backend.QueueBackend
import graft.model._
import graft.model.ModelEncoders._

/** Management/console query surface over live engine tables — the data
  * behind goose's console and per-collection APIs (SURVEY.md §2.2-2.4;
  * reference redis/api/enqueued_jobs.clj, scheduled_jobs.clj,
  * dead_jobs.clj, cron.clj, console/data.clj).
  *
  * goose's finds are lazy full scans with client-side predicates + LIMIT
  * (commands.clj:24-47,205-210); here every find is a Catalyst plan, so
  * predicate pushdown + TakeOrderedAndProject replace the hand-rolled
  * cursor loop, and the same call scales from 10 rows to 10^11.
  */
final class ManagementApi(backend: QueueBackend, spark: SparkSession) {
  import spark.implicits._

  val pageSize = 10 // reference defaults.clj:82-84

  // ---------- enqueued (reference redis/api/enqueued_jobs.clj) ----------

  /** F8 list-all-queues (enqueued_jobs.clj:7-10). */
  def listQueues(): Seq[String] =
    backend.readyJobs.select($"queue").distinct().orderBy($"queue")
      .as[String].collect().toSeq

  /** A1 size (enqueued_jobs.clj:12-14). */
  def enqueuedSize(queue: String): Long =
    backend.readyJobs.filter($"queue" === queue).count()

  /** F1 find-by-id (enqueued_jobs.clj:22-27). */
  def enqueuedFindById(queue: String, id: String): Option[Job] =
    backend.readyJobs.filter($"queue" === queue && $"id" === id)
      .limit(1).collect().headOption

  /** F2 find-by-pattern (enqueued_jobs.clj:26-28): arbitrary typed
    * predicate, default limit 10. */
  def enqueuedFindByPattern(queue: String, pred: Job => Boolean, limit: Int = 10): Seq[Job] =
    backend.readyJobs.filter($"queue" === queue).filter(pred)
      .limit(limit).collect().toSeq

  /** O1 page from the consume-order front (enqueued_jobs.clj:56-59):
    * (priority DESC, enqueuedAt ASC) replaces Redis list order. */
  def enqueuedPage(queue: String, page: Int): Seq[Job] =
    backend.readyJobs.filter($"queue" === queue)
      .orderBy($"priority".desc, $"enqueuedAt".asc, $"id".asc)
      .offset(page * pageSize).limit(pageSize).collect().toSeq

  /** O5 prioritise-execution (enqueued_jobs.clj:29-40): verify existence,
    * then move to front — a tombstone + re-append with priority=1. A
    * quorum-declared queue rejects prioritisation (priority is a classic
    * queue feature, reference rmq/queue.clj:19-28); a classic decl caps
    * the bump at its maxPriority. */
  def enqueuedPrioritise(queue: String, ids: Seq[String]): Int = {
    val decl = backend.queueDecls.filter($"queue" === queue).collect().headOption
    decl.foreach { d =>
      if (d.queueType == "quorum") throw new UnsupportedOperationException(
        s"queue '$queue' is declared quorum: priority unsupported (rmq/queue.clj:19-28)")
    }
    val bump = decl.map(d => math.min(1, d.maxPriority)).getOrElse(1)
    val present = backend.readyJobs
      .filter($"queue" === queue && $"id".isin(ids: _*)).collect()
    if (present.isEmpty) return 0
    val now = System.currentTimeMillis()
    // append-first, tombstone-second: a crash in between leaves a
    // transient duplicate (collapsed by the (id, attempt) dedupe), never
    // a lost job. The reverse order can delete without re-appending.
    backend.enqueueRows(present.map(j =>
      j.copy(priority = bump, enqueuedAt = now, seq = Job.nextSeq())).toSeq)
    backend.tombstone("ready", present.map(j => (j.id, j.seq)).toSeq, "prioritise")
    present.length
  }

  /** D12 delete (enqueued_jobs.clj:42-48) — validity-checked. */
  def enqueuedDelete(queue: String, ids: Seq[String]): Int = {
    val present = backend.readyJobs
      .filter($"queue" === queue && $"id".isin(ids: _*))
      .select($"id", $"seq").as[(String, Long)].collect()
    if (present.nonEmpty) backend.tombstone("ready", present.toSeq, "delete")
    present.length
  }

  /** S10 purge (enqueued_jobs.clj:50-54). */
  def enqueuedPurge(queue: String): Unit = backend.purge("ready", queue)

  // ---------- scheduled (reference redis/api/scheduled_jobs.clj) ----------

  private def runAtCol = coalesce($"state.retryAt", $"scheduleRunAt")

  def scheduledSize(): Long = backend.scheduledJobs.count()

  def scheduledFindById(id: String): Option[Job] =
    backend.scheduledJobs.filter($"id" === id).limit(1).collect().headOption

  def scheduledFindByPattern(pred: Job => Boolean, limit: Int = 10): Seq[Job] =
    backend.scheduledJobs.filter(pred).limit(limit).collect().toSeq

  /** O2 page ascending by run-at (scheduled_jobs.clj:42-45). */
  def scheduledPage(page: Int): Seq[Job] =
    backend.scheduledJobs.orderBy(runAtCol.asc, $"id".asc)
      .offset(page * pageSize).limit(pageSize).collect().toSeq

  /** Scheduled prioritise = execute now (scheduled_jobs.clj:18-34): move
    * to front of its ready queue immediately. */
  def scheduledPrioritise(ids: Seq[String]): Int = {
    val present = backend.scheduledJobs.filter($"id".isin(ids: _*)).collect()
    if (present.isEmpty) return 0
    val now = System.currentTimeMillis()
    // append-first, tombstone-second (see enqueuedPrioritise)
    backend.enqueueRows(present.map { j =>
      j.copy(queue = j.readyOrRetryQueue, readyQueue = j.readyOrRetryQueue,
        priority = 1, enqueuedAt = now, seq = Job.nextSeq())
    }.toSeq)
    backend.tombstone("scheduled", present.map(j => (j.id, j.seq)).toSeq, "prioritise")
    present.length
  }

  def scheduledDelete(ids: Seq[String]): Int = {
    val present = backend.scheduledJobs.filter($"id".isin(ids: _*))
      .select($"id", $"seq").as[(String, Long)].collect()
    if (present.nonEmpty) backend.tombstone("scheduled", present.toSeq, "delete")
    present.length
  }

  def scheduledPurge(): Unit = backend.purge("scheduled", "*")

  // ---------- dead (reference redis/api/dead_jobs.clj) ----------

  def deadSize(): Long = backend.deadJobs.count()

  def deadFindById(id: String): Option[Job] =
    backend.deadJobs.filter($"id" === id).limit(1).collect().headOption

  def deadFindByPattern(pred: Job => Boolean, limit: Int = 10): Seq[Job] =
    backend.deadJobs.filter(pred).limit(limit).collect().toSeq

  /** O3 page descending by died-at (dead_jobs.clj:59-61). */
  def deadPage(page: Int): Seq[Job] =
    backend.deadJobs.orderBy($"state.diedAt".desc, $"id".asc)
      .offset(page * pageSize).limit(pageSize).collect().toSeq

  /** S9 pop the oldest dead job (dead_jobs.clj:11-14, ZPOPMIN). */
  def deadPop(): Option[Job] = {
    val oldest = backend.deadJobs.orderBy($"state.diedAt".asc, $"id".asc)
      .limit(1).collect().headOption
    oldest.foreach(j => backend.tombstone("dead", Seq((j.id, j.seq)), "pop"))
    oldest
  }

  /** D11 replay n oldest dead jobs (dead_jobs.clj:42-47): back to the
    * front of their ready queues, with the attempt counter advanced so
    * the replayed row is visible past its death completion. A replayed
    * job whose retries were exhausted dies again on next failure — same
    * as goose. */
  def deadReplayN(n: Int): Seq[Job] = {
    val oldest = backend.deadJobs.orderBy($"state.diedAt".asc, $"id".asc)
      .limit(n).collect().toSeq
    replayJobs(oldest)
  }

  def deadReplayIds(ids: Seq[String]): Seq[Job] =
    replayJobs(backend.deadJobs.filter($"id".isin(ids: _*)).collect().toSeq)

  private def replayJobs(jobs: Seq[Job]): Seq[Job] = {
    if (jobs.isEmpty) return Nil
    val now = System.currentTimeMillis()
    val replayed = jobs.map { j =>
      val st = j.state.map(s => s.copy(retryCount = s.retryCount + 1, diedAt = None))
      j.copy(priority = 1, enqueuedAt = now, seq = Job.nextSeq(),
        queue = j.readyOrRetryQueue, readyQueue = j.readyOrRetryQueue, state = st)
    }
    // append-first, tombstone-second (see enqueuedPrioritise)
    backend.enqueueRows(replayed)
    backend.tombstone("dead", jobs.map(j => (j.id, j.seq)), "replay")
    replayed
  }

  def deadDelete(ids: Seq[String]): Int = {
    val present = backend.deadJobs.filter($"id".isin(ids: _*))
      .select($"id", $"seq").as[(String, Long)].collect()
    if (present.nonEmpty) backend.tombstone("dead", present.toSeq, "delete")
    present.length
  }

  /** Delete dead jobs that died at or before `epochMs` — the dead-set
    * retention sweep (reference broker.clj:59 dead-jobs-delete-older-than,
    * redis/api/dead_jobs.clj:52-54: ZREMRANGEBYSCORE [-inf, epoch-ms]
    * over the died-at score, commands.clj:283). Distributed end-to-end:
    * the victim (id, seq) set flows straight from the dead log to the
    * tombstone append — a post-incident dead set can be huge and never
    * touches the driver; the count is the only scalar that does.
    * Returns the number of deleted jobs (the reference returns
    * deleted > 0). */
  def deadDeleteOlderThan(epochMs: Long): Long = {
    val victims = backend.deadJobs
      .filter($"state.diedAt".isNotNull && $"state.diedAt" <= epochMs)
      .select($"id", $"seq").as[(String, Long)]
      .localCheckpoint(true) // one scan: the count and the tombstone append share it
    try {
      val n = victims.count()
      if (n > 0) backend.tombstone("dead", victims, "retention")
      n
    } finally victims.unpersist()
  }

  def deadPurge(): Unit = backend.purge("dead", "*")

  // ---------- cron (reference redis/api/cron.clj) ----------

  def cronList(): Seq[CronEntry] = backend.cronEntries.collect().toSeq
  def cronFind(name: String): Option[CronEntry] =
    backend.cronEntries.filter($"cronName" === name).collect().headOption
  def cronDelete(names: Seq[String]): Unit = backend.deleteCron(names)
  def cronPurge(): Unit = backend.purgeCron()

  // ---------- aggregates (console/data.clj, redis/metrics.clj) ----------

  /** A2 home-page jobs-size (console/data.clj:18-28). */
  def homeStats(): Map[String, Long] = Map(
    "enqueued" -> backend.readyJobs.count(),
    "scheduled" -> scheduledSize(),
    "dead" -> deadSize(),
    "cron" -> backend.cronEntries.count())

  /** A4 per-queue gauges (redis/metrics.clj:14-58) in one grouped scan. */
  def queueGauges(): Map[String, Long] =
    backend.readyJobs.groupBy($"queue").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap

  // ---------- worker registry (reference redis/worker.clj, heartbeat.clj) ----------

  /** Latest heartbeat per process (TTL applied by the caller's probe). */
  private def latestHeartbeats =
    backend.heartbeats.groupBy($"processId", $"queue")
      .agg(max($"lastHeartbeatAt").as("lastHeartbeatAt"))

  /** F9 alive? — heartbeat within ttl (redis/heartbeat.clj:10-11). */
  def aliveProcesses(now: Long, ttlMs: Long = 60000): Seq[ProcessHeartbeat] =
    latestHeartbeats.filter($"lastHeartbeatAt" >= now - ttlMs)
      .as[(String, String, Long)].collect()
      .map(t => ProcessHeartbeat(t._1, t._2, t._3)).toSeq

  /** D10's detection half: registered processes WITHOUT a live heartbeat
    * — the anti-join shape (orphan_checker.clj:13-20). Recovery itself is
    * owned by checkpoint replay, so detection is all that remains. */
  def deadProcesses(now: Long, ttlMs: Long = 60000): Seq[String] = {
    val live = latestHeartbeats.filter($"lastHeartbeatAt" >= now - ttlMs)
      .select($"processId".as("live_id"))
    backend.heartbeats.select($"processId").distinct()
      .join(live, $"processId" === $"live_id", "left_anti")
      .as[String].collect().toSeq
  }

  /** A5 global-workers-count (redis/heartbeat.clj:16-20). */
  def globalWorkersCount(now: Long, ttlMs: Long = 60000): Long =
    latestHeartbeats.filter($"lastHeartbeatAt" >= now - ttlMs).count()

  /** D8 linger cleanup (redis/batch.clj:73-99: EXPIRE linger-sec NX on
    * batch keys). Batches terminal for longer than their lingerSec are
    * dropped from the metadata/status tables. Run from the maintenance
    * tick or an admin call. */
  def vacuumBatches(now: Long): Int = {
    val terminalAt = backend.batchStatusEvents
      .filter(e => BatchStatus.terminal(e.status))
      .groupBy($"batchId").agg(max($"at").as("t_at"))
    val expired = backend.batches
      .join(terminalAt, $"id" === $"batchId")
      .filter($"t_at" + $"lingerSec" * 1000L <= now)
      .select($"id").as[String].collect().toSeq
    backend.deleteBatches(expired)
    expired.length
  }

  /** D13 delete a whole batch's pending jobs (redis/api/batch.clj:11-38;
    * "documented-expensive" in goose, one anti-join per table here).
    * Victims stay Datasets end-to-end — a million-job batch delete never
    * materializes ids on the driver. */
  def batchDelete(batchId: String): Unit = {
    backend.tombstone("ready",
      backend.readyJobs.filter($"batchId" === batchId)
        .select($"id", $"seq").as[(String, Long)], "batch-delete")
    backend.tombstone("scheduled",
      backend.scheduledJobs.filter($"batchId" === batchId)
        .select($"id", $"seq").as[(String, Long)], "batch-delete")
    // the reference then DELs the batch hash + id sets (api/batch.clj:30-38)
    backend.deleteBatches(Seq(batchId))
  }

  // ------- snapshot export / restore (beyond the reference: ops backup) -------

  /** Whole-state backup: the VISIBLE fold of every durable collection
    * (post-tombstone, post-compaction — what the console shows, not the
    * raw log) written as plain parquet under `dir`. The artifact is
    * engine-neutral — any parquet reader, including the DuckDB oracle
    * (q51 gates the restore books against it), can audit a backup.
    * Returns per-collection row counts observed ON THE WRITE JOBS
    * (r15): the counts certify the intent, not the artifact — a torn or
    * unreadable backup surfaces at restore time, where q51's oracle
    * gate audits the files themselves. */
  def exportSnapshot(dir: String): Map[String, Long] = {
    // Each collection's exported-row count rides its own write job as an
    // Observation (the CommitLogBackend fold discipline) — the old
    // read-back counts cost five more Spark actions per export and
    // re-listed the files just written. The five writes are INDEPENDENT
    // jobs on disjoint output dirs, so they run on a bounded pool
    // (guide §2.6: actions are only sequential because driver code
    // calls them sequentially) — each job's tail back-fills cores the
    // others' stragglers free, instead of five full scheduling floors
    // end to end.
    def writeCounted[T](name: String, ds: org.apache.spark.sql.Dataset[T]): (String, Long) = {
      val obs = new org.apache.spark.sql.Observation(
        s"graft-export-$name-${java.util.UUID.randomUUID().toString.take(8)}")
      ds.observe(obs, count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(s"$dir/$name")
      name -> obs.getAsJava.get("n").asInstanceOf[Long]
    }
    val work: Seq[() => (String, Long)] = Seq(
      () => writeCounted("ready", backend.readyJobs),
      () => writeCounted("scheduled", backend.scheduledJobs),
      () => writeCounted("dead", backend.deadJobs),
      () => writeCounted("cron", backend.cronEntries),
      () => writeCounted("batches", backend.batches))
    onSnapshotPool(work).toMap
  }

  /** Run independent snapshot steps on a bounded pool and return their
    * results in order. If one fails, the others' Spark jobs are
    * cancelled and their threads interrupted and awaited before its
    * failure is rethrown, so no pool thread outlives the call. */
  private def onSnapshotPool[A](work: Seq[() => A]): Seq[A] = {
    val sc = spark.sparkContext
    val tag = s"graft-snapshot-${java.util.UUID.randomUUID()}"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(work.size)
    try {
      val futures = work.map(w =>
        pool.submit(new java.util.concurrent.Callable[A] {
          def call(): A = { sc.addJobTag(tag); w() }
        }))
      val out = futures.map(_.get())
      pool.shutdown()
      out
    } catch {
      case e: Throwable =>
        sc.cancelJobsWithTag(tag)
        pool.shutdownNow()
        pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)
        e match {
          // unwrap so callers keep seeing the step's own failure type
          case ee: java.util.concurrent.ExecutionException => throw ee.getCause
          case other => throw other
        }
    }
  }

  /** Restore a snapshot into `into`. Re-importing the SAME snapshot is a
    * no-op end-to-end: cron upserts by name, batches are guarded by
    * presence, and the job logs' crash-replay fold collapses identical
    * (id, seq) rows — so a restore interrupted halfway can simply be
    * re-run (the property that matters for a recovery tool). Restoring
    * over DIFFERENT live state appends, the same contract as replaying
    * any log. Returns the restored backend's visible per-collection
    * counts. */
  def importSnapshot(dir: String, into: QueueBackend): Map[String, Long] = {
    // The five collections restore into DISJOINT tables, so the three
    // job-log appends + the two keyed registries run on a bounded pool
    // (the exportSnapshot discipline, guide §2.6): each append is an
    // independent Spark job whose tail otherwise serializes behind the
    // previous one's stragglers.
    val work: Seq[() => Unit] = Seq(
      () => into.enqueue(spark.read.parquet(s"$dir/ready").as[Job]),
      () => into.schedule(spark.read.parquet(s"$dir/scheduled").as[Job]),
      () => into.bury(spark.read.parquet(s"$dir/dead").as[Job]),
      () => into.upsertCron(
        spark.read.parquet(s"$dir/cron").as[CronEntry].collect().toSeq),
      () => {
        // batches is an append log, not a keyed registry — guard
        // re-imports by presence so the registry stays idempotent like
        // cron's upsert
        val existingBatches =
          if (!into.maybeNonEmpty("batches")) Set.empty[String]
          else into.batches.select($"id").as[String].collect().toSet
        spark.read.parquet(s"$dir/batches").as[BatchMeta]
          .collect().filterNot(b => existingBatches(b.id)).foreach(into.putBatch)
      })
    onSnapshotPool(work)
    // provably-empty collections report 0 from table metadata (r15) —
    // a restore into a fresh backend otherwise pays an empty visibility
    // read per untouched collection
    def visCount(tbl: String)(ds: => Dataset[_]): Long =
      if (!into.maybeNonEmpty(tbl)) 0L else ds.count()
    Map(
      "ready" -> visCount("ready")(into.readyJobs),
      "scheduled" -> visCount("scheduled")(into.scheduledJobs),
      "dead" -> visCount("dead")(into.deadJobs),
      "cron" -> visCount("cron")(into.cronEntries),
      "batches" -> visCount("batches")(into.batches))
  }
}
