package graft.backend

import org.apache.spark.sql.Dataset
import graft.model._

/** Tombstone: hides one physical row version (id, seq) of one log table —
  * the log-structured rewrite of LREM/ZREM (reference
  * commands.clj:166-168,245-251). Keyed by (id, seq) so re-appending the
  * same job id (prioritise, replay) creates a fresh version the tombstone
  * does not cover. */
final case class Tombstone(tbl: String, id: String, seq: Long, reason: String, at: Long)

/** Queue-wide purge marker — the log-structured rewrite of DEL (reference
  * redis/api/enqueued_jobs.clj:50-54): hides rows with seq <= seqAt. */
final case class PurgeMarker(tbl: String, queue: String, seqAt: Long, at: Long)

/** Batch status transition event (terminal statuses appended once,
  * reference redis/batch.clj:73-90). */
final case class BatchStatusEvent(batchId: String, status: String, at: Long)

/** Batch vacuum marker — the DELETE of a batch in log-structured form.
  * A physical rewrite alone cannot delete durably: a streaming tracker's
  * checkpointed state (or a mid-flight commit past its idempotency
  * check) can re-append the batch's terminal status AFTER the rewrite,
  * resurrecting it — and re-enqueueing its callback job. The marker
  * makes the delete sticky: readers anti-join it, and the tracker's
  * idempotent commit treats marked ids as already-terminal. One row per
  * vacuumed batch, ever — the same role tombstones play for job rows. */
final case class BatchVacuumMarker(batchId: String, at: Long)

/** One append to the cron registry log — latest-wins per cronName on
  * read, the same (key, seq) pattern as the job tables. Replaces the
  * read-modify-overwrite snapshot (lost-update window under concurrent
  * upsert from two processes). `op` ∈ put | del; del carries no entry. */
final case class CronLogRecord(
    op: String, cronName: String, entry: Option[CronEntry], seq: Long)

/** Runtime capability matrix — goose computes this per broker (Redis
  * supports everything; RMQ lacks cron/batches/find-by-id, reference
  * broker.clj:4-67 vs rmq/broker.clj:24-70, test/goose/capability.clj:
  * 17-46). graft's backends all implement the full operator surface;
  * what differs is the CONSISTENCY envelope, so that is what the matrix
  * reports — callers gate deployment topology on it (e.g. only run
  * multi-process writers against a backend that claims them). */
final case class BrokerCapabilities(
    /** every queue operator incl. cron + batches + find/delete-by-id */
    fullOperatorSurface: Boolean,
    /** readers keep a consistent view across a concurrent compaction
      * (manifest snapshots) vs needing caller-side read/write gating */
    snapshotIsolatedReads: Boolean,
    /** safe concurrent appends to ONE table from multiple processes */
    multiProcessWriters: Boolean,
    /** state survives process restart */
    durable: Boolean,
    /** broker-native delay: future-dated jobs ride the ready log and
      * become visible when due, with NO scheduler process — the RMQ
      * `x-delayed-message` exchange (reference rmq/commands.clj:93-106).
      * Requires declaring the delayed exchange on the connection, like
      * the rmq plugin's exchange declare. */
    brokerNativeDelay: Boolean = false)

/** Storage seam of the engine — the Spark analog of goose's 30-method
  * `Broker` protocol (reference broker.clj:4-67). Three implementations
  * ([[ParquetBackend]], [[CommitLogBackend]], [[InMemoryBackend]]); the
  * trait keeps the seam for Delta/Iceberg/Kafka-backed implementations
  * exactly as goose keeps Redis vs RabbitMQ behind one protocol.
  *
  * Design (SURVEY.md §7): every mutation is an APPEND — jobs, completion
  * events, tombstones, purge markers. Visible sets are computed by
  * anti-joining the logs; `compact()` folds a log to its visible set.
  * This is the only queue design that scales on object storage: O(1)
  * Redis list surgery does not exist at 100 TB, but append + anti-join +
  * compaction is embarrassingly parallel.
  */
trait QueueBackend {
  /** What this broker's consistency envelope supports (see
    * [[BrokerCapabilities]]); the goose capability-matrix analog. */
  def capabilities: BrokerCapabilities

  /** Broker clock for time-gated visibility (native delay). One settable
    * seam so specs and fixtures pin broker time exactly as engine
    * components pin their injected nowFn; production leaves the default.
    * Cross-process skew has x-delayed-message's own semantics: delivery
    * time is judged by the BROKER's clock, not the publisher's. */
  @volatile var nowFn: () => Long = () => System.currentTimeMillis()

  /** Whether the delayed exchange is declared on this connection (the
    * rmq x-delayed-message plugin declare, rmq/commands.clj:93-106).
    * Gates only the CLIENT's routing of future `performAt` calls; the
    * time-gated visibility filter itself is unconditional. */
  def delayedExchangeEnabled: Boolean = false

  // ---- appends (client / worker side) ----
  def enqueue(jobs: Dataset[Job]): Unit
  def schedule(jobs: Dataset[Job]): Unit

  /** Per-call latency path: a small row set the driver already holds
    * (client `performAsync` / past-due `performAt`). Identical
    * visibility-and-durability contract to [[enqueue]]; bindings with
    * cheap atomic one-file appends skip the distributed-job round-trip
    * (goose's per-call enqueue is a ~2 ms Redis LPUSH — BASELINE.md;
    * reference client.clj:60-80). */
  def enqueueRows(jobs: Seq[Job]): Unit

  /** [[schedule]]'s per-call latency analog (client `performAt`). */
  def scheduleRows(jobs: Seq[Job]): Unit
  def bury(jobs: Dataset[Job]): Unit

  /** [[bury]]'s small-commit analog: dead rows the driver already holds
    * (a worker pass whose death count is bounded — see
    * [[graft.worker.WorkerEngine]]'s small-commit branch). Same
    * visibility-and-durability contract as [[bury]]. */
  def buryRows(jobs: Seq[Job]): Unit
  def recordCompletions(events: Dataset[CompletionEvent]): Unit

  /** [[recordCompletions]]'s small-commit analog — a bounded pass's
    * completion batch commits through the binding's cheap atomic append
    * (WAL / direct file) instead of a distributed write job. The commit
    * POINT semantics are identical: rows are visible and durable on
    * return.
    *
    * `release` = (claimantId, at) for a claimed pass, None otherwise:
    * the pass's [[releaseShardClaim]] rides this commit, atomically
    * where the binding can (VERDICT r15 #3: a claimed micro-batch paid
    * a completions commit AND a release commit). The pass-ordering
    * contract — completions durable before the release is observable —
    * holds trivially in one atomic commit, and by sequence otherwise. */
  def recordCompletionRows(events: Seq[CompletionEvent],
      release: Option[(String, Long)]): Unit

  /** Cheap, CONSERVATIVE emptiness probe for one logical table: `false`
    * only when the table provably holds no rows (no data files, no
    * latency-path tail) — the broker-native O(1) "is there anything
    * here" check goose gets for free from Redis (an empty-ZSET
    * ZRANGEBYSCORE costs nothing; an empty log table must not cost a
    * distributed read either — maintenance ticks poll these tables
    * every second forever). `true` means "must run the real read";
    * bindings without cheap metadata keep the default. */
  def maybeNonEmpty(tbl: String): Boolean = true

  /** Content-identity fingerprint of one logical table, from METADATA
    * only (file-name set + latency-path record count — never a Spark
    * job): equal fingerprints guarantee the table's visible rows are
    * unchanged (data files are immutable and appends/folds always
    * change the file set or the WAL count). Drives read-skipping caches
    * (SchedulerEngine's cron gate): a cached derivation may be reused
    * while the fingerprint matches. None = no cheap identity; callers
    * must re-read. */
  def tableFingerprint(tbl: String): Option[Long] = None
  def tombstone(tbl: String, victims: Seq[(String, Long)], reason: String): Unit

  /** Distributed tombstone: victims stay a Dataset end-to-end, so a
    * 100M-row due-backlog promote or batch delete never materializes ids
    * on the driver — the append is a distributed write like any other. */
  def tombstone(tbl: String, victims: Dataset[(String, Long)], reason: String): Unit
  def purge(tbl: String, queue: String): Unit

  // ---- visible sets (console / worker read side) ----
  def readyJobs: Dataset[Job]

  /** Apply the ready-visibility subtraction (completions at this attempt,
    * tombstones, queue purges) to an arbitrary slice of the ready log —
    * used by the streaming worker on each micro-batch. */
  def filterReadyVisible(slice: Dataset[Job]): Dataset[Job]

  /** Claim `slice` for exclusive execution by `claimantId` and return the
    * subset this claimant won — the BLMOVE / in-progress-queue analog
    * that makes a SHARED queue consumable by N workers without
    * systematic double execution (r14). Default: no claim protocol —
    * the whole slice comes back, which is correct for the scoped
    * topology (one worker per queue, goose's worker.clj:27,43 shape)
    * where at-least-once + idempotent (id, attempt) commit already
    * suffices. Only backends with a totally ordered multi-process log
    * can arbitrate claims; see CommitLogBackend's override. A claim
    * whose claimant stopped advertising liveness (no newer claim or
    * [[recordClaimantBeacon]] beacon) expires after `leaseMs` and the
    * attempt becomes claimable again.
    *
    * `shard` = (my index, shard count) when the caller consumes a
    * deterministic hash shard (WorkerEngine's
    * `pmod(xxhash64(id), n) = idx`): the backend then commits ONE
    * shard-claim row instead of a row per attempt, and arbitration is
    * a driver-side fold plus (usually) no plan change at all.
    *
    * ORDERING CONTRACT (r15): `slice` is BY-NAME and must not be
    * constructed before this call — the sharded implementation commits
    * its claim FIRST and only then evaluates `slice`, so the slice's
    * visibility read (file listing) observes every completion that
    * committed before the claim. Without that order a stale slice
    * could resurrect an attempt a foreign claimant completed after the
    * slice was built but before this claim — the double-execution
    * window per-attempt claims closed by persisting row-level claims.
    * Unsharded (None) callers pass an already-built (ideally pinned)
    * slice; the per-attempt protocol covers them row by row. */
  def claimSlice(slice: => Dataset[Job], claimantId: String, now: Long,
      leaseMs: Long, shard: Option[(Int, Int)] = None): Dataset[Job] = slice

  /** Advertise that `claimantId` is alive at `at` — renews every claim
    * it holds ([[claimSlice]]'s per-claimant lease) and feeds the shard
    * membership view ([[liveClaimants]]). No-op on backends without a
    * claim protocol. */
  def recordClaimantBeacon(claimantId: String, at: Long): Unit = ()

  /** Release `claimantId`'s shard coverage — called when a claimed
    * pass COMPLETES (a shard claim protects the in-flight pass, not
    * the claimant's tenure; a finished pass that kept its coverage
    * would exclude other claimants until the next micro-batch, and
    * with no new files arriving, forever). No-op on backends without
    * the shard-claim protocol. */
  def releaseShardClaim(claimantId: String, at: Long): Unit = ()

  /** Claimant ids with a liveness beacon younger than `ttlMs`, sorted —
    * the shared-queue fleet's shard membership (WorkerEngine hashes
    * attempts across this list so steady-state claims are disjoint by
    * construction). Empty on backends without a claim protocol, which
    * disables sharding (the scoped topology needs none). */
  def liveClaimants(now: Long, ttlMs: Long): Seq[String] = Nil
  def scheduledJobs: Dataset[Job]
  def deadJobs: Dataset[Job]
  def completions: Dataset[CompletionEvent]

  // ---- cron registry (reference redis/cron.clj) ----
  def upsertCron(entries: Seq[CronEntry]): Unit
  def cronEntries: Dataset[CronEntry]
  def deleteCron(names: Seq[String]): Unit
  def purgeCron(): Unit

  // ---- batches (reference redis/batch.clj) ----
  def putBatch(meta: BatchMeta): Unit
  def batches: Dataset[BatchMeta]
  def recordBatchStatus(events: Seq[BatchStatusEvent]): Unit
  def batchStatusEvents: Dataset[BatchStatusEvent]

  /** Drop batch metadata + status rows for the given ids (the linger-TTL
    * cleanup of redis/batch.clj:73-99, where EXPIRE does it for free).
    * Must be durable against late writers: implementations record a
    * [[BatchVacuumMarker]] so a replayed tracker commit cannot
    * resurrect the batch. */
  def deleteBatches(ids: Seq[String]): Unit

  /** Ids of batches deleted by [[deleteBatches]] — consulted by the
    * batch tracker's idempotent commit (a vacuumed batch is terminal
    * forever; its callback must never re-fire). */
  def vacuumedBatchIds: Dataset[String]

  // ---- queue declarations (reference rmq/queue.clj:29-48) ----
  /** Idempotent declare of a queue + its delivery envelope; redeclaring
    * with different arguments throws (RMQ's PRECONDITION_FAILED). */
  def declareQueue(decl: QueueDecl): Unit
  def queueDecls: Dataset[QueueDecl]

  // ---- worker registry (reference redis/worker.clj:66-77, heartbeat.clj) ----
  def recordHeartbeat(hb: ProcessHeartbeat): Unit

  /** Bulk variant — a fleet's heartbeats arrive as a Dataset (e.g. relayed
    * from executor-side agents), appended without driver materialization. */
  def recordHeartbeats(hbs: Dataset[ProcessHeartbeat]): Unit
  def heartbeats: Dataset[ProcessHeartbeat]

  // ---- maintenance ----
  def compact(tbl: String): Unit

  /** Fold any per-call latency-path buffer (e.g. [[ParquetBackend]]'s
    * WAL tail) into the storage the FILE-BASED streaming consumer reads.
    * Batch reads are latency-path-inclusive already; this only advances
    * stream visibility. Default: nothing to fold. Runs on GraftWorker's
    * maintenance cadence. */
  def drainLatencyPath(): Unit = ()
}
