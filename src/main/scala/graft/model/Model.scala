package graft.model

import java.util.UUID

/** Core record types of the engine — the goose data model re-expressed as
  * Spark-friendly case classes (SURVEY.md §1.1; reference:
  * src/goose/job.clj:6-16, src/goose/retry.clj:34-66, src/goose/batch.clj:48-62,
  * src/goose/brokers/redis/cron.clj:13-21).
  *
  * All timestamps are epoch-millis longs (reference utils.clj:44-54) — exact,
  * timezone-free, and encodes to parquet INT64 with full fidelity. `Dataset[Job]`
  * gets a product encoder from these; nested options become nullable columns.
  */
final case class RetryOpts(
    maxRetries: Int = 27,
    retryDelaySecFn: String = "default", // registry key of Int => Int backoff
    retryQueue: Option[String] = None,
    errorHandler: String = "default",
    deathHandler: String = "default",
    skipDeadQueue: Boolean = false)

/** Failure state stamped on a job after >=1 failed execution
  * (reference retry.clj:79-91, redis/retry.clj:18,31). */
final case class FailureState(
    error: String,
    retryCount: Int,
    firstFailedAt: Long,
    lastRetriedAt: Option[Long],
    retryAt: Option[Long],
    diedAt: Option[Long])

/** The job envelope (reference job.clj:6-16). `argsJson` is the
  * dynamically-typed payload, serialized by the active [[ArgsSerializer]]
  * (JSON by default) — the engine
  * analog of goose's nippy blobs (utils.clj:13-33).
  *
  * `priority` replaces Redis list-front mutations: consume order is
  * (priority DESC, enqueuedAt ASC), so "move to front"
  * (commands.clj:145-164) is a priority bump — a pure-append operation
  * that scales on a distributed log where O(1) front-insert doesn't exist.
  */
final case class Job(
    id: String,
    executeFnSym: String,
    argsJson: String,
    queue: String,
    readyQueue: String,
    priority: Int,
    enqueuedAt: Long,
    scheduleRunAt: Option[Long],
    cronRunAt: Option[Long],
    batchId: Option[String],
    retryOpts: RetryOpts,
    state: Option[FailureState],
    seq: Long) {

  /** reference job.clj:18-19 */
  def retried: Boolean = state.isDefined

  /** reference job.clj:21-25: retried jobs route to the retry queue. */
  def readyOrRetryQueue: String =
    if (retried) retryOpts.retryQueue.getOrElse(queue) else queue
}

object Job {
  def apply(fnSym: String, args: Seq[Any], queue: String, retryOpts: RetryOpts): Job =
    encoded(fnSym, ArgsSerializers.active.encode(args), queue, retryOpts,
      System.currentTimeMillis())

  /** A fresh job over args the caller has already encoded. */
  def encoded(fnSym: String, argsJson: String, queue: String, retryOpts: RetryOpts,
      enqueuedAt: Long): Job =
    Job(
      id = UUID.randomUUID().toString,
      executeFnSym = fnSym,
      argsJson = argsJson,
      queue = queue,
      readyQueue = queue,
      priority = 0,
      enqueuedAt = enqueuedAt,
      scheduleRunAt = None,
      cronRunAt = None,
      batchId = None,
      retryOpts = retryOpts,
      state = None,
      seq = Job.nextSeq())

  /** Append version of a physical row: tombstones target (id, seq), so a
    * re-append of the same job id (prioritise, replay) is a NEW version
    * that an older tombstone cannot hide. Cross-writer comparable — see
    * [[SeqGen]]: a mutation stamped later in wall time by ANY writer JVM
    * carries a larger seq, so latest-version-wins dedupe and max-seq
    * shadowing hold on a multi-executor cluster, not just in one JVM. */
  def nextSeq(): Long = SeqGen.global.next()
}

/** Cross-writer-ordered version sequence (snowflake layout):
  *
  * {{{  seq = epochMs << 21  |  perMsCounter << 8  |  writerId  }}}
  *
  * - epochMs (top ~42 bits): wall-clock prefix, so seqs from different
  *   JVMs order by real time (bounded by NTP skew — milliseconds), unlike
  *   `System.nanoTime`, whose per-JVM arbitrary origin made cross-writer
  *   comparison meaningless.
  * - counter (13 bits): strictly-increasing within a writer; disambiguates
  *   up to 8192 stamps per ms, and on overflow (or a clock step backwards)
  *   borrows into the ms prefix — per-writer monotonicity never breaks.
  * - writerId (8 bits): per-JVM tiebreak so two writers stamping the same
  *   millisecond+counter still produce distinct, deterministically ordered
  *   seqs.
  *
  * Mirrors how goose orders mutations by Redis's single clock
  * (reference redis/api/enqueued_jobs.clj:29-40 works from any client
  * process because Redis serializes them); with no single broker clock, a
  * time-prefixed id is the distributed-log equivalent.
  */
final class SeqGen(
    val writerId: Int,
    clock: () => Long = () => System.currentTimeMillis()) extends Serializable {
  require(writerId >= 0 && writerId < (1 << SeqGen.WriterBits), s"writerId out of range: $writerId")

  private val last = new java.util.concurrent.atomic.AtomicLong(0L)

  def next(): Long = {
    val packed = last.updateAndGet { prev =>
      val nowSlot = clock() << SeqGen.CounterBits
      if (nowSlot > prev) nowSlot else prev + 1 // same-ms bump / clock-backwards guard
    }
    (packed << SeqGen.WriterBits) | writerId.toLong
  }
}

object SeqGen {
  val CounterBits = 13
  val WriterBits = 8

  /** Process-wide generator; one writerId per JVM (executors each
    * initialize the object fresh). Executor JVMs derive the id from the
    * app-unique Spark executor id — collision-free up to 256 executors,
    * then cyclic (two same-slot executors would need a same-ms same-counter
    * stamp to collide, ~2^-53 per pair-write). Non-Spark/driver JVMs fall
    * back to a random slot: drivers are few, birthday risk is the
    * documented multi-DRIVER limit, not the fleet limit. */
  lazy val global: SeqGen = new SeqGen(defaultWriterId())

  private[model] def defaultWriterId(): Int = {
    val fromExecutor =
      try Option(org.apache.spark.SparkEnv.get).map(_.executorId)
          .filter(id => id.nonEmpty && id.forall(_.isDigit))
          .map(id => (id.toLong % (1 << WriterBits)).toInt)
      catch { case _: Throwable => None }
    fromExecutor.getOrElse(new scala.util.Random().nextInt(1 << WriterBits))
  }

  def epochMsOf(seq: Long): Long = seq >>> (CounterBits + WriterBits)
  def writerOf(seq: Long): Int = (seq & ((1L << WriterBits) - 1)).toInt
}

/** A job-description is a Job minus id/enqueuedAt (reference job.clj:27-37);
  * the cron template, materialized per firing via [[JobDescription.instantiate]]
  * (reference job.clj:39-43). */
final case class JobDescription(
    executeFnSym: String,
    argsJson: String,
    queue: String,
    readyQueue: String,
    priority: Int,
    retryOpts: RetryOpts) {

  def instantiate(cronRunAt: Option[Long] = None): Job =
    Job(
      id = UUID.randomUUID().toString,
      executeFnSym = executeFnSym,
      argsJson = argsJson,
      queue = queue,
      readyQueue = readyQueue,
      priority = priority,
      enqueuedAt = System.currentTimeMillis(),
      scheduleRunAt = None,
      cronRunAt = cronRunAt,
      batchId = None,
      retryOpts = retryOpts,
      state = None,
      seq = Job.nextSeq())
}

/** Registered periodic job (reference redis/cron.clj:13-21). `nextRunAt`
  * is the materialized zset score (redis/cron.clj:29-33). */
final case class CronEntry(
    cronName: String,
    cronSchedule: String,
    timezone: String,
    description: JobDescription,
    nextRunAt: Long)

object BatchStatus {
  val InProgress = "in-progress"
  val Success = "success"
  val Dead = "dead"
  val PartialSuccess = "partial-success"
  val terminal: Set[String] = Set(Success, Dead, PartialSuccess)
}

/** Batch metadata (reference batch.clj:48-62). Runtime counters are
  * derived from the tracker state, not stored (redis/batch.clj:45-60). */
final case class BatchMeta(
    id: String,
    callbackFnSym: String,
    lingerSec: Int,
    queue: String,
    readyQueue: String,
    retryOpts: RetryOpts,
    total: Int,
    status: String,
    createdAt: Long)

/** One job-execution outcome — the event consumed by the batch tracker and
  * appended to the completions log. `terminalState` ∈ success|retrying|dead,
  * mirroring the SMOVE destinations of redis/batch.clj:107-115. */
final case class CompletionEvent(
    jobId: String,
    attempt: Int, // 0 = first run, n = n-th retry; keys consumption per try
    batchId: Option[String],
    queue: String,
    terminalState: String,
    wasRetried: Boolean,
    error: Option[String],
    executionTimeMs: Long,
    finishedAt: Long)

/** One worker's exclusive claim on a ready ATTEMPT before executing it —
  * the BLMOVE / in-progress-queue analog for SHARED-queue fleets (r14).
  * Scoped fleets (one worker per queue, the reference's worker.clj:27,43
  * recommendation) never write these; a shared-queue fleet commits a
  * claim batch per micro-batch and executes only attempts no OTHER live
  * claim (younger than the lease) had already claimed in an earlier
  * manifest version — see CommitLogBackend.claimSlice. */
final case class ClaimEvent(
    jobId: String,
    attempt: Int,
    claimantId: String,
    claimedAt: Long)

object JobAttempt {
  /** Which attempt a ready-row represents: goose stamps retryCount = n-1
    * on the n-th retry's failure state (retry.clj:79-91). */
  def of(job: Job): Int = job.state.map(_.retryCount + 1).getOrElse(0)
}

/** A declared queue and its delivery envelope — the RMQ queue-declaration
  * analog (reference rmq/queue.clj:29-48: durable declare with
  * x-queue-type + x-max-priority / x-quorum-initial-group-size arguments).
  * Redeclaring with different arguments fails, mirroring RMQ's
  * PRECONDITION_FAILED. */
final case class QueueDecl(
    queue: String,
    queueType: String, // classic | quorum
    maxPriority: Int, // classic: 9; quorum: 0 (priority unsupported)
    replicationFactor: Int, // quorum group size; 1 for classic
    declaredAt: Long)

object QueueDecl {
  val ClassicMaxPriority = 9 // reference defaults.clj:76-77 (x-max-priority)

  def classic(queue: String, maxPriority: Int = ClassicMaxPriority): QueueDecl =
    QueueDecl(queue, "classic", maxPriority, 1, System.currentTimeMillis())

  def quorum(queue: String, replicationFactor: Int = 3): QueueDecl =
    QueueDecl(queue, "quorum", 0, replicationFactor, System.currentTimeMillis())

  /** Argument validation mirroring rmq/queue.clj:19-28: classic queues
    * carry x-max-priority; quorum queues reject priority entirely and
    * carry x-quorum-initial-group-size. */
  def validate(d: QueueDecl): Unit = d.queueType match {
    case "classic" =>
      require(d.maxPriority >= 0 && d.maxPriority <= 255,
        s"classic queue '${d.queue}': maxPriority ${d.maxPriority} outside [0,255]")
      require(d.replicationFactor == 1,
        s"classic queue '${d.queue}': replicationFactor must be 1")
    case "quorum" =>
      require(d.maxPriority == 0,
        s"quorum queue '${d.queue}': priority unsupported (got ${d.maxPriority})")
      require(d.replicationFactor >= 1,
        s"quorum queue '${d.queue}': replicationFactor must be >= 1")
    case other =>
      throw new IllegalArgumentException(
        s"queue '${d.queue}': unknown queueType '$other' (classic|quorum)")
  }

  /** Envelope equality for idempotent redeclare (declaredAt excluded). */
  def sameEnvelope(a: QueueDecl, b: QueueDecl): Boolean =
    a.queueType == b.queueType && a.maxPriority == b.maxPriority &&
      a.replicationFactor == b.replicationFactor
}

/** Worker process registration (reference redis/worker.clj:66-77,
  * redis/heartbeat.clj). Retained for the liveness query surface; actual
  * liveness/replay is owned by Spark checkpointing (SURVEY.md §4). */
final case class ProcessHeartbeat(
    processId: String,
    queue: String,
    lastHeartbeatAt: Long)
