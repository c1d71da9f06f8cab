package graft.client

import java.time.Instant
import java.util.UUID
import org.apache.spark.sql.SparkSession
import graft.backend.QueueBackend
import graft.cron.CronSchedule
import graft.model._

/** Per-call overrides of a client's construction-time defaults — goose's
  * client opts map (reference client.clj:30-58: every perform-* takes
  * {:queue, :retry-opts}; api_test.clj enqueues to several queues from
  * one client throughout). Absent fields fall back to the client's
  * defaults. */
final case class ClientOpts(
    queue: Option[String] = None,
    retryOpts: Option[RetryOpts] = None)

object ClientOpts {
  val default: ClientOpts = ClientOpts()
  def queue(q: String): ClientOpts = ClientOpts(queue = Some(q))
}

/** Client API — the engine's `goose.client` (reference client.clj).
  *
  * Validation mirrors specs.clj:97-143 (queue-name shape, retry-opts
  * shape, arg serializability) at the API boundary only — never per-row
  * in the hot path (goose measured 40% throughput cost of always-on
  * instrumentation, specs.clj:241-248).
  */
/* not final: [[BufferingClient]] overrides the [[submitReady]] seam to
 * group-commit the fire-and-forget path */
class GraftClient(
    backend: QueueBackend,
    spark: SparkSession,
    defaultQueue: String = "default",
    defaultRetryOpts: RetryOpts = RetryOpts(),
    nowFn: () => Long = () => System.currentTimeMillis()) {

  import spark.implicits._

  /** The ONE write path for ready-queue submissions from this client —
    * [[performAsync]] and past-due [[performAt]] land here. Sync by
    * default: the job is visible-and-durable on return (goose's Redis
    * LPUSH semantics, reference client.clj:60-80). [[BufferingClient]]
    * overrides this with a size/interval-bounded group commit (goose's
    * RMQ async publisher-confirm semantics). */
  protected def submitReady(jobs: Seq[Job]): Unit =
    backend.enqueueRows(jobs)

  private def validateQueue(q: String): Unit = {
    require(q.nonEmpty && q.length < 200, s"queue name must be 1..199 chars: '$q'")
    require(!q.startsWith("graft/"), s"queue name must be unprefixed: '$q'")
  }

  private def validateRetryOpts(r: RetryOpts): Unit = {
    require(r.maxRetries >= 0, s"maxRetries must be >= 0: ${r.maxRetries}")
    r.retryQueue.foreach(validateQueue)
  }

  /** Declared-queue envelopes, one snapshot per client — declaration is a
    * deployment-time surface (RMQ declares at channel open, reference
    * rmq/queue.clj:29-48). Call [[refreshQueueDecls]] after declaring
    * mid-process. */
  @volatile private var declCache: Option[Map[String, QueueDecl]] = None
  private def declsByQueue: Map[String, QueueDecl] = declCache match {
    case Some(m) => m
    case None =>
      val m = backend.queueDecls.collect().map(d => d.queue -> d).toMap
      declCache = Some(m); m
  }
  def refreshQueueDecls(): Unit = declCache = None

  /** Clamp the job's priority to its queue's declared envelope: classic
    * decls cap at maxPriority; quorum decls ignore priority entirely —
    * RMQ's own behavior when publishing with priority to a quorum queue
    * (reference rmq/queue.clj:19-28, defaults.clj:76-77). Undeclared
    * queues are unconstrained (the Redis-broker behavior). */
  private def applyDecl(job: Job): Job = declsByQueue.get(job.queue) match {
    case Some(d) if d.queueType == "quorum" => job.copy(priority = 0)
    case Some(d) => job.copy(priority = math.min(job.priority, d.maxPriority))
    case None => job
  }

  private def validated(fnSym: String, args: Seq[Any], opts: ClientOpts): Job = {
    val queue = opts.queue.getOrElse(defaultQueue)
    val retry = opts.retryOpts.getOrElse(defaultRetryOpts)
    validateQueue(queue)
    validateRetryOpts(retry)
    require(fnSym.nonEmpty, "execute-fn-sym required")
    val argsJson = ArgsSerializers.active.consistentEncoding(args)
    require(argsJson.isDefined, "args must serialize consistently (reference specs.clj:161-168)")
    Job.encoded(fnSym, argsJson.get, queue, retry, enqueuedAt = nowFn())
  }

  /** Fire-and-forget enqueue (reference client.clj:60-80, S1). */
  def performAsync(fnSym: String, args: Any*): String =
    performAsync(ClientOpts.default, fnSym, args: _*)

  /** Per-call opts variant: enqueue to any queue with any retry policy
    * from one client (reference client.clj:30-58). */
  def performAsync(opts: ClientOpts, fnSym: String, args: Any*): String = {
    val job = applyDecl(validated(fnSym, args, opts))
    submitReady(Seq(job))
    job.id
  }

  /** Absolute-time schedule (reference client.clj:82-106, S2). Past-due
    * jobs short-circuit to the FRONT of the ready queue
    * (redis/scheduler.clj:12-20) — here, priority=1. */
  def performAt(at: Instant, fnSym: String, args: Any*): String =
    performAt(ClientOpts.default, at, fnSym, args: _*)

  def performAt(opts: ClientOpts, at: Instant, fnSym: String, args: Any*): String = {
    val job = validated(fnSym, args, opts)
    val runAt = at.toEpochMilli
    if (runAt <= nowFn()) {
      submitReady(Seq(applyDecl(job.copy(priority = 1))))
    } else if (backend.delayedExchangeEnabled) {
      // broker-native delay (rmq x-delayed-message, rmq/commands.clj:
      // 93-106): the job rides the ready log with its run-at stamp; the
      // broker's time-gated visibility delivers it when due — no
      // scheduler process involved. Delivered in normal queue order
      // (no front-of-queue bump), exactly like an expired x-delay.
      backend.enqueueRows(Seq(applyDecl(job.copy(scheduleRunAt = Some(runAt)))))
    } else {
      backend.scheduleRows(Seq(job.copy(scheduleRunAt = Some(runAt))))
    }
    job.id
  }

  /** Relative schedule (reference client.clj:108-129). */
  def performInSec(sec: Long, fnSym: String, args: Any*): String =
    performAt(Instant.ofEpochMilli(nowFn() + sec * 1000), fnSym, args: _*)

  def performInSec(opts: ClientOpts, sec: Long, fnSym: String, args: Any*): String =
    performAt(opts, Instant.ofEpochMilli(nowFn() + sec * 1000), fnSym, args: _*)

  /** Register/replace a cron entry — idempotent by name
    * (reference client.clj:131-167, redis/cron.clj:38-50, S3). */
  def performEvery(cronName: String, cronSchedule: String, fnSym: String, args: Any*): String =
    performEveryTz(cronName, cronSchedule, java.time.ZoneId.systemDefault().getId, fnSym, args: _*)

  def performEveryTz(cronName: String, cronSchedule: String, timezone: String,
      fnSym: String, args: Any*): String =
    performEveryTz(ClientOpts.default, cronName, cronSchedule, timezone, fnSym, args: _*)

  def performEveryTz(opts: ClientOpts, cronName: String, cronSchedule: String,
      timezone: String, fnSym: String, args: Any*): String = {
    require(cronName.nonEmpty && cronName.length < 200, "cron name must be 1..199 chars")
    val sched = CronSchedule.parse(cronSchedule) // validates
    val zone = java.time.ZoneId.of(timezone)
    val job = validated(fnSym, args, opts)
    val desc = JobDescription(job.executeFnSym, job.argsJson, job.queue,
      job.readyQueue, job.priority, job.retryOpts)
    val next = sched.nextFire(Instant.ofEpochMilli(nowFn()), zone).toEpochMilli
    backend.upsertCron(Seq(CronEntry(cronName, cronSchedule, timezone, desc, next)))
    cronName
  }

  /** Atomic batch enqueue (reference client.clj:169-208, redis/batch.clj:21-32,
    * S4): N job rows stamped with batchId + 1 batch meta row. */
  def performBatch(
      jobs: Seq[(String, Seq[Any])],
      callbackFnSym: String,
      lingerSec: Int = 3600): String =
    performBatch(ClientOpts.default, jobs, callbackFnSym, lingerSec)

  def performBatch(
      opts: ClientOpts,
      jobs: Seq[(String, Seq[Any])],
      callbackFnSym: String,
      lingerSec: Int): String = {
    require(jobs.nonEmpty, "batch must contain at least one job")
    val queue = opts.queue.getOrElse(defaultQueue)
    val retry = opts.retryOpts.getOrElse(defaultRetryOpts)
    val batchId = UUID.randomUUID().toString
    val rows = jobs.map { case (fnSym, args) =>
      applyDecl(validated(fnSym, args, opts).copy(batchId = Some(batchId)))
    }
    backend.putBatch(BatchMeta(batchId, callbackFnSym, lingerSec, queue,
      queue, retry, rows.size, BatchStatus.InProgress, nowFn()))
    backend.enqueueRows(rows)
    batchId
  }

  /** Bulk distributed enqueue: jobs built from an existing Dataset — the
    * path a 100 TB pipeline uses (no driver materialization). */
  def performAsyncDs(jobs: org.apache.spark.sql.Dataset[Job]): Unit =
    backend.enqueue(jobs)
}
