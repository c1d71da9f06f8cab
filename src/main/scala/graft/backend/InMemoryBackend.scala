package graft.backend

import scala.collection.mutable
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.model._
import graft.model.ModelEncoders._

/** Driver-local in-memory [[QueueBackend]] — the second broker behind the
  * seam, playing the role RabbitMQ plays for goose (broker.clj's protocol
  * has two implementations; the capability-matrix tests run every suite
  * against each, test/goose/capability.clj:17-46).
  *
  * Semantics are identical to [[ParquetBackend]] (same (id, attempt)
  * consumption keys, (id, seq) tombstones, seq-based purge markers); state
  * lives in driver memory, like Redis lives on one node. Intended for
  * tests and low-latency local pipelines; reads materialize to Datasets
  * so every engine component runs unchanged.
  */
final class InMemoryBackend(spark: SparkSession) extends QueueBackend {
  import spark.implicits._

  override def capabilities: BrokerCapabilities = BrokerCapabilities(
    fullOperatorSurface = true,
    snapshotIsolatedReads = true, // reads materialize a locked snapshot
    multiProcessWriters = false, // driver-local state
    durable = false)

  private val lock = new Object
  private val ready = mutable.ArrayBuffer[Job]()
  private val scheduled = mutable.ArrayBuffer[Job]()
  private val dead = mutable.ArrayBuffer[Job]()
  private val comps = mutable.ArrayBuffer[CompletionEvent]()
  private val consumedKeys = mutable.Set[(String, Int)]()
  private val tombs = mutable.Map[String, mutable.Set[(String, Long)]]()
  private val purgeMarks = mutable.Map[String, Long]() // queue -> max seqAt
  private val crons = mutable.LinkedHashMap[String, CronEntry]()
  private val batchMetas = mutable.ArrayBuffer[BatchMeta]()
  private val statusEvents = mutable.ArrayBuffer[BatchStatusEvent]()

  private def tombsFor(tbl: String) = tombs.getOrElseUpdate(tbl, mutable.Set.empty)

  override def enqueue(jobs: Dataset[Job]): Unit = {
    val rows = jobs.collect()
    lock.synchronized { ready ++= rows }
  }
  override def schedule(jobs: Dataset[Job]): Unit = {
    val rows = jobs.collect()
    lock.synchronized { scheduled ++= rows }
  }
  // per-call path: the rows are already driver-side — no Spark at all
  // (the Redis-LPUSH latency envelope, exactly)
  override def enqueueRows(jobs: Seq[Job]): Unit =
    lock.synchronized { ready ++= jobs }
  override def scheduleRows(jobs: Seq[Job]): Unit =
    lock.synchronized { scheduled ++= jobs }
  override def bury(jobs: Dataset[Job]): Unit = {
    val rows = jobs.collect()
    lock.synchronized { dead ++= rows }
  }
  override def buryRows(jobs: Seq[Job]): Unit =
    lock.synchronized { dead ++= jobs }
  override def recordCompletions(events: Dataset[CompletionEvent]): Unit =
    recordCompletionRows(events.collect().toSeq, None)
  override def recordCompletionRows(events: Seq[CompletionEvent],
      release: Option[(String, Long)]): Unit = {
    lock.synchronized {
      comps ++= events
      consumedKeys ++= events.map(e => (e.jobId, e.attempt))
    }
    release.foreach { case (cid, at) => releaseShardClaim(cid, at) }
  }

  /** Driver-local state: the probe is an exact buffer check. */
  override def maybeNonEmpty(tbl: String): Boolean = lock.synchronized {
    tbl match {
      case "ready" => ready.nonEmpty
      case "scheduled" => scheduled.nonEmpty
      case "dead" => dead.nonEmpty
      case "completions" => comps.nonEmpty
      case "cron" => crons.nonEmpty
      case "batches" => batchMetas.nonEmpty
      case "batch_status" => statusEvents.nonEmpty
      case _ => true
    }
  }

  override def tombstone(tbl: String, victims: Seq[(String, Long)], reason: String): Unit =
    lock.synchronized { tombsFor(tbl) ++= victims }

  /** Driver-local by design (state IS on the driver), so the distributed
    * variant collects — same tradeoff as every other write here. */
  override def tombstone(tbl: String, victims: Dataset[(String, Long)], reason: String): Unit =
    tombstone(tbl, victims.collect().toSeq, reason)

  override def purge(tbl: String, queue: String): Unit = lock.synchronized {
    if (tbl == "ready") {
      purgeMarks(queue) = Job.nextSeq()
    } else {
      val buf = if (tbl == "scheduled") scheduled else dead
      val vis = visibleOf(buf, tbl)
      tombsFor(tbl) ++= vis.filter(j => queue == "*" || j.queue == queue)
        .map(j => (j.id, j.seq))
    }
  }

  /** Durable-survivor predicate — time-independent, the compaction fold
    * set (mirrors LogStructuredBackend.readySurvivors). */
  private def readySurvivorPred(j: Job): Boolean = {
    val attempt = JobAttempt.of(j)
    !consumedKeys.contains((j.id, attempt)) &&
      !tombsFor("ready").contains((j.id, j.seq)) &&
      purgeMarks.get(j.queue).forall(j.seq > _) &&
      purgeMarks.get("*").forall(j.seq > _)
  }

  /** Consumer visibility: survivor AND due. The time gate mirrors
    * LogStructuredBackend.filterReadyVisible (native delay); without a
    * declared delayed exchange no future-dated row ever lands here, so
    * it is defense-in-depth parity — and it must never reach the
    * compaction fold, which would delete not-yet-due rows. */
  private def readyVisiblePred(j: Job): Boolean =
    j.scheduleRunAt.forall(_ <= nowFn()) && readySurvivorPred(j)

  private def visibleOf(buf: mutable.ArrayBuffer[Job], tbl: String): Seq[Job] =
    buf.filterNot(j => tombsFor(tbl).contains((j.id, j.seq))).toSeq

  /** One row per (id, attempt), latest version (max seq) winning —
    * crash-replay duplicates collapse, same as
    * ParquetBackend.filterReadyVisible. */
  private def dedupeByAttempt(jobs: Seq[Job]): Seq[Job] =
    jobs.groupBy(j => (j.id, JobAttempt.of(j))).values.map(_.maxBy(_.seq)).toSeq

  override def readyJobs: Dataset[Job] =
    lock.synchronized(
      spark.createDataset(dedupeByAttempt(ready.filter(readyVisiblePred).toSeq)))

  override def filterReadyVisible(slice: Dataset[Job]): Dataset[Job] = {
    // snapshot the subtraction state; the predicate ships as plain sets
    val (consumed, t, marks) = lock.synchronized {
      (consumedKeys.toSet, tombsFor("ready").toSet, purgeMarks.toMap)
    }
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val now = nowFn()
    slice.filter { j =>
      val attempt = JobAttempt.of(j)
      j.scheduleRunAt.forall(_ <= now) &&
        !consumed.contains((j.id, attempt)) && !t.contains((j.id, j.seq)) &&
        marks.get(j.queue).forall(j.seq > _) && marks.get("*").forall(j.seq > _)
    }
      .withColumn("rattempt", coalesce(col("state.retryCount") + 1, lit(0)))
      .withColumn("vrank", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("id"), col("rattempt"))
          .orderBy(col("seq").desc)))
      .filter(col("vrank") === 1)
      .drop("rattempt", "vrank")
      .as[Job]
  }

  override def scheduledJobs: Dataset[Job] =
    lock.synchronized(spark.createDataset(visibleOf(scheduled, "scheduled")))
  override def deadJobs: Dataset[Job] =
    lock.synchronized(spark.createDataset(visibleOf(dead, "dead")))
  override def completions: Dataset[CompletionEvent] =
    lock.synchronized(spark.createDataset(comps.toSeq))

  private val cronVersion = new java.util.concurrent.atomic.AtomicLong(0)
  override def upsertCron(entries: Seq[CronEntry]): Unit =
    lock.synchronized { entries.foreach(e => crons(e.cronName) = e); cronVersion.incrementAndGet(); () }
  override def cronEntries: Dataset[CronEntry] =
    lock.synchronized(spark.createDataset(crons.values.toSeq))
  override def deleteCron(names: Seq[String]): Unit =
    lock.synchronized { names.foreach(crons.remove); cronVersion.incrementAndGet(); () }
  override def purgeCron(): Unit =
    lock.synchronized { crons.clear(); cronVersion.incrementAndGet(); () }

  /** Mutation counter per table where a read-skipping cache pays (only
    * cron today — the scheduler polls it every tick). */
  override def tableFingerprint(tbl: String): Option[Long] =
    if (tbl == "cron") Some(cronVersion.get()) else None

  override def putBatch(meta: BatchMeta): Unit =
    lock.synchronized(batchMetas += meta)
  override def batches: Dataset[BatchMeta] =
    lock.synchronized(spark.createDataset(batchMetas.toSeq))
  override def recordBatchStatus(events: Seq[BatchStatusEvent]): Unit =
    lock.synchronized(statusEvents ++= events)
  override def batchStatusEvents: Dataset[BatchStatusEvent] =
    lock.synchronized(spark.createDataset(statusEvents.toSeq))

  override def deleteBatches(ids: Seq[String]): Unit = lock.synchronized {
    val drop = ids.toSet
    vacuumedIds ++= drop // sticky: late status re-appends stay hidden
    batchMetas.filterInPlace(m => !drop.contains(m.id))
    statusEvents.filterInPlace(e => !drop.contains(e.batchId))
  }

  private val vacuumedIds = mutable.Set[String]()
  override def vacuumedBatchIds: Dataset[String] =
    lock.synchronized(spark.createDataset(vacuumedIds.toSeq))

  private val decls = mutable.LinkedHashMap[String, QueueDecl]()
  override def declareQueue(decl: QueueDecl): Unit = {
    QueueDecl.validate(decl)
    lock.synchronized {
      decls.get(decl.queue) match {
        case Some(existing) if QueueDecl.sameEnvelope(existing, decl) => // idempotent
        case Some(existing) =>
          throw new IllegalStateException(
            s"PRECONDITION_FAILED: queue '${decl.queue}' already declared as " +
              s"(type=${existing.queueType}, maxPriority=${existing.maxPriority}, " +
              s"replicationFactor=${existing.replicationFactor})")
        case None => decls(decl.queue) = decl
      }
    }
  }
  override def queueDecls: Dataset[QueueDecl] =
    lock.synchronized(spark.createDataset(decls.values.toSeq))

  private val hbs = mutable.ArrayBuffer[ProcessHeartbeat]()
  override def recordHeartbeat(hb: ProcessHeartbeat): Unit =
    lock.synchronized(hbs += hb)
  override def recordHeartbeats(beats: Dataset[ProcessHeartbeat]): Unit = {
    val rows = beats.collect()
    lock.synchronized(hbs ++= rows)
  }
  override def heartbeats: Dataset[ProcessHeartbeat] =
    lock.synchronized(spark.createDataset(hbs.toSeq))

  /** Fold logs to their visible rows, dropping spent subtraction state. */
  override def compact(tbl: String): Unit = lock.synchronized {
    tbl match {
      case "ready" =>
        val vis = ready.filter(readySurvivorPred)
        ready.clear(); ready ++= vis
        val liveIds = ready.map(_.id).toSet
        // retain completions of not-yet-terminal batches: the tracker
        // re-derives batch status from them (see ParquetBackend.compact)
        val terminalB = statusEvents.filter(e => BatchStatus.terminal(e.status))
          .map(_.batchId).toSet
        val liveBatches = batchMetas.map(_.id).filterNot(terminalB).toSet
        val keep = comps.filter(c =>
          liveIds.contains(c.jobId) || c.batchId.exists(liveBatches))
        comps.clear(); comps ++= keep
        consumedKeys.clear(); consumedKeys ++= keep.map(e => (e.jobId, e.attempt))
        tombs.remove("ready")
      case "scheduled" =>
        val vis = visibleOf(scheduled, "scheduled")
        scheduled.clear(); scheduled ++= vis; tombs.remove("scheduled")
      case "dead" =>
        val vis = visibleOf(dead, "dead")
        dead.clear(); dead ++= vis; tombs.remove("dead")
      case "cron" => // registry is already a keyed map; nothing to fold
      case other => throw new IllegalArgumentException(s"cannot compact '$other'")
    }
  }
}
