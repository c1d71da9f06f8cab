package graft.worker

import java.time.{Instant, ZoneId}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.backend.QueueBackend
import graft.cron.CronSchedule
import graft.model._
import graft.model.ModelEncoders._

/** The scheduler + cron maintenance passes (SURVEY.md §2.5 D5/D6).
  *
  * goose runs these as polling threads doing 50-job Redis transactions
  * (redis/scheduler.clj:22-48, redis/cron.clj:57-103); the batch cap
  * exists only because Redis txns must stay small. Spark's unit of
  * atomicity is the whole pass, so `promoteDue` moves ALL due rows in one
  * distributed job: filter(runAt <= now) → re-enqueue (front-of-queue via
  * priority=1, per ADR scheduled-jobs.md "front of queue") → tombstone.
  * The per-queue grouping goose does before RPUSH (commands.clj:230-237)
  * is the write partitioning here.
  */
final class SchedulerEngine(
    backend: QueueBackend,
    spark: SparkSession,
    nowFn: () => Long = () => System.currentTimeMillis(),
    maxCronEntries: Int = SchedulerEngine.DefaultMaxCronEntries) {

  import spark.implicits._

  /** Effective run-at of a scheduled row: retry time for retried jobs,
    * else the scheduled time (reference redis/retry.clj:20 vs
    * redis/scheduler.clj:19 — both land in the same sorted set). */
  private def runAtCol = coalesce($"state.retryAt", $"scheduleRunAt")

  /** Promote all due scheduled/retry jobs to their ready queues.
    * Returns the number promoted. */
  def promoteDue(): Long = synchronized {
    // Provably-empty scheduled log ⇒ nothing can be due: answer from
    // table metadata (r15). This tick runs every maintenanceIntervalMs
    // forever — goose's scheduler poll is an O(1) empty-ZSET read, and
    // the empty case here cost ~0.2 s of Spark jobs per tick.
    if (!backend.maybeNonEmpty("scheduled")) return 0
    val now = nowFn()
    val obs = new org.apache.spark.sql.Observation(
      s"graft-promote-${java.util.UUID.randomUUID().toString.take(8)}")
    // localCheckpoint: the appends below touch dirs this plan reads (see
    // WorkerEngine.executeBatch for the invalidation mechanics). The due
    // count rides the checkpoint job as an Observation — not a second
    // action (the executeBatchInner discipline).
    val due = backend.scheduledJobs.filter(runAtCol <= now)
      .observe(obs, count(lit(1)).as("n")).localCheckpoint(true)
    try {
      val n = obs.getAsJava.get("n").asInstanceOf[Long]
      if (n == 0) return 0
      // Declared-queue envelopes gate the front bump here too: the direct
      // past-due path clamps via the client (GraftClient.applyDecl), and
      // a quorum queue that ignored priority at enqueue time must not
      // acquire one at promotion (r11 review find). The registry is a
      // bounded control-plane table (same envelope as the cron registry)
      // — the collected map ships in the closure.
      val decls = backend.queueDecls.collect()
        .map(d => d.queue -> (d.queueType, d.maxPriority)).toMap
      def clampedPriority(queue: String): Int = decls.get(queue) match {
        case Some(("quorum", _)) => 0
        case Some((_, maxP)) => math.min(1, maxP)
        case None => 1
      }
      // Route retried jobs to their retry queue (job.clj:21-25), bump to
      // front, and stamp the promotion time as the new enqueue time; the
      // ready row is a fresh version (new seq).
      def promote(j: Job): Job =
        j.copy(queue = j.readyOrRetryQueue, readyQueue = j.readyOrRetryQueue,
          priority = clampedPriority(j.readyOrRetryQueue), enqueuedAt = now,
          seq = Job.nextSeq())
      if (n <= WorkerEngine.SmallCommitRows) {
        // SMALL-COMMIT LANE (r15, the executeBatchInner discipline): the
        // observed due count bounds the promotion, so both commits ride
        // the backend's atomic driver append instead of two distributed
        // write jobs — the usual steady-state promote is a handful of
        // retries, not the post-outage backlog. Same commit order
        // (enqueue, then tombstone) as the distributed lane.
        val rows = due.collect()
        backend.enqueueRows(rows.iterator.map(promote).toIndexedSeq)
        backend.tombstone("scheduled",
          rows.iterator.map(j => (j.id, j.seq)).toIndexedSeq, "promote")
      } else {
        backend.enqueue(due.map(promote(_)))
        // Distributed tombstone: the due backlog after an outage can be
        // 100M rows; ids never touch the driver (due is checkpointed, so
        // this re-reads the snapshot, not the mutated dirs).
        backend.tombstone("scheduled", due.select($"id", $"seq").as[(String, Long)], "promote")
      }
      n
    } finally due.unpersist()
  }

  /** Cron read-skipping gate: (registry fingerprint, earliest
    * nextRunAt). While the backend reports the SAME table fingerprint
    * (metadata-only identity — any upsert/delete/fold/cross-process
    * commit changes it) and `now` has not reached the cached earliest
    * fire time, a tick provably has nothing due and skips the
    * registry read entirely. The scheduler polls every
    * maintenanceIntervalMs forever; without the gate each idle tick
    * re-ran the latest-wins window + collect. */
  private var cronGate: Option[(Long, Long)] = None

  /** Materialize every due cron entry into a job and advance its
    * next-run time (reference redis/cron.clj:57-103). The registry is a
    * small keyed table (goose keeps it in one Redis HASH), so the
    * driver-side collect here is bounded by the number of *schedules*,
    * never by job volume — and that bound is ENFORCED on the WHOLE
    * registry: a call that reads more than `maxCronEntries` entries,
    * due or not, throws `IllegalStateException` (like
    * [[graft.operators.DedupOps]]'s connected-components round cap)
    * rather than silently ballooning the driver heap. The registry
    * bound is also what keeps each tick's fire set driver-sized. */
  def fireCron(): Int = synchronized {
    // Empty registry ⇒ nothing due, no Spark job (see promoteDue note).
    if (!backend.maybeNonEmpty("cron")) return 0
    val now = nowFn()
    val fp = backend.tableFingerprint("cron")
    cronGate match {
      case Some((f, minAt)) if fp.contains(f) && now < minAt => return 0
      case _ => cronGate = None
    }
    // ONE whole-registry read per gate miss (r16 — VERDICT r15 #2): the
    // registry is a bounded control-plane table (the design envelope the
    // cap below enforces), so reading ALL entries costs the same job as
    // the old due-only filter and makes the earliest nextRunAt available
    // driver-side — the empty-due arm no longer pays a second agg(min)
    // job, and limit(max+1) keeps the bound enforced in the SAME job as
    // the collect (no count-then-collect window).
    val all = backend.cronEntries.limit(maxCronEntries + 1).collect()
    if (all.length > maxCronEntries)
      throw new IllegalStateException(
        s"fireCron: more than $maxCronEntries cron entries exceed the driver-side " +
          "registry bound; a registry this size needs the distributed promoteDue " +
          "shape, not a driver collect — raise maxCronEntries deliberately if so")
    val due = all.filter(_.nextRunAt <= now)
    if (due.isEmpty) {
      // arm the gate with the fp captured BEFORE the read: a foreign
      // upsert landing after that capture moves the fingerprint vs the
      // armed one, so the next tick falls open — never a missed fire
      for (f <- fp; m <- all.iterator.map(_.nextRunAt).minOption)
        cronGate = Some((f, m))
      return 0
    }
    val jobs = due.map { e =>
      // cron-run-at = the fire time being honored (redis/cron.clj:83-87)
      e.description.instantiate(cronRunAt = Some(e.nextRunAt))
        // due cron jobs go to the front (redis/cron.clj:52-55)
        .copy(
          // DETERMINISTIC id per (schedule, honored fire time): a crash
          // between the enqueue below and the upsertCron advance re-fires
          // the same due entries on restart, and a second maintenance
          // runner can race this one to the same tick — with random ids
          // each replay would be a distinct job executed twice; with a
          // name@fire-time id the replays collapse in the visibility
          // fold's latest-(id, attempt) rank exactly like promoteDue's
          // crash-replays do (LogStructuredBackend.readySurvivors)
          id = java.util.UUID.nameUUIDFromBytes(
            s"cron:${e.cronName}@${e.nextRunAt}".getBytes("UTF-8")).toString,
          priority = 1, enqueuedAt = now)
    }
    // The fire set is a driver-side array bounded by the registry cap,
    // so it rides the backend's atomic driver append (one file for a
    // multi-row set) instead of a distributed write job. Commit order:
    // enqueue, then the registry advance.
    backend.enqueueRows(jobs.toIndexedSeq)
    val advanced = due.map { e =>
      val sched = CronSchedule.parse(e.cronSchedule)
      val next = sched.nextFire(Instant.ofEpochMilli(now), ZoneId.of(e.timezone)).toEpochMilli
      e.copy(nextRunAt = next)
    }
    backend.upsertCron(advanced.toIndexedSeq)
    // Re-arm for the NON-empty steady state (VERDICT r15 #2): capture
    // the fingerprint AFTER our own upsert (which moved it), then read
    // the registry's earliest fire time. A foreign change between the
    // fp capture and the min read is included in the min but makes the
    // armed fp stale — the next tick falls open; a change after the arm
    // moves the fingerprint the gate checks. Either way the gate can
    // only ever SKIP ticks that provably have nothing due.
    for (f <- backend.tableFingerprint("cron");
         m <- backend.cronEntries.agg(min($"nextRunAt")).collect()
           .headOption.flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Long])))
      cronGate = Some((f, m))
    due.length
  }

  /** One maintenance tick = scheduler + cron, goose's internal pool
    * (redis/worker.clj:81-84) collapsed into a single call. */
  def tick(): (Long, Int) = (promoteDue(), fireCron())
}

object SchedulerEngine {
  /** Design envelope for the cron *schedule registry* (not job volume):
    * goose keeps the whole registry in one Redis HASH; 10k schedules ≈
    * a few MB collected, far past any real deployment's cron count. */
  val DefaultMaxCronEntries: Int = 10000
}
