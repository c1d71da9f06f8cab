package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.Dataset
import graft.api.ManagementApi
import graft.backend.{BatchStatusEvent, ParquetBackend, QueueBackend}
import graft.client.GraftClient
import graft.model._
import graft.worker.{SchedulerEngine, WorkerEngine}

/** Fault injection: delegate to a real backend, throwing on the Nth call
  * of one chosen write — simulating a worker crash mid-commit. */
final class CrashingBackend(inner: QueueBackend, failMethod: String)
    extends QueueBackend {
  val armed = new AtomicInteger(1) // fail the first call, then recover

  def capabilities: graft.backend.BrokerCapabilities = inner.capabilities

  private def maybeFail(m: String): Unit =
    if (m == failMethod && armed.getAndDecrement() > 0)
      throw new RuntimeException(s"injected crash in $m")

  def enqueue(jobs: Dataset[Job]): Unit = { maybeFail("enqueue"); inner.enqueue(jobs) }
  def schedule(jobs: Dataset[Job]): Unit = { maybeFail("schedule"); inner.schedule(jobs) }
  def enqueueRows(jobs: Seq[Job]): Unit = { maybeFail("enqueue"); inner.enqueueRows(jobs) }
  def scheduleRows(jobs: Seq[Job]): Unit = { maybeFail("schedule"); inner.scheduleRows(jobs) }
  def bury(jobs: Dataset[Job]): Unit = { maybeFail("bury"); inner.bury(jobs) }
  def buryRows(jobs: Seq[Job]): Unit = { maybeFail("bury"); inner.buryRows(jobs) }
  def recordCompletions(events: Dataset[CompletionEvent]): Unit = {
    maybeFail("recordCompletions"); inner.recordCompletions(events)
  }
  override def recordCompletionRows(events: Seq[CompletionEvent],
      release: Option[(String, Long)]): Unit = {
    maybeFail("recordCompletions"); inner.recordCompletionRows(events, release)
  }
  override def maybeNonEmpty(tbl: String): Boolean = inner.maybeNonEmpty(tbl)
  def tombstone(tbl: String, victims: Seq[(String, Long)], reason: String): Unit = {
    maybeFail("tombstone"); inner.tombstone(tbl, victims, reason)
  }
  def tombstone(tbl: String, victims: Dataset[(String, Long)], reason: String): Unit = {
    maybeFail("tombstone"); inner.tombstone(tbl, victims, reason)
  }
  def purge(tbl: String, queue: String): Unit = inner.purge(tbl, queue)
  def readyJobs: Dataset[Job] = inner.readyJobs
  def filterReadyVisible(slice: Dataset[Job]): Dataset[Job] = inner.filterReadyVisible(slice)
  def scheduledJobs: Dataset[Job] = inner.scheduledJobs
  def deadJobs: Dataset[Job] = inner.deadJobs
  def completions: Dataset[CompletionEvent] = inner.completions
  def upsertCron(entries: Seq[CronEntry]): Unit = inner.upsertCron(entries)
  def cronEntries: Dataset[CronEntry] = inner.cronEntries
  def deleteCron(names: Seq[String]): Unit = inner.deleteCron(names)
  def purgeCron(): Unit = inner.purgeCron()
  def putBatch(meta: BatchMeta): Unit = inner.putBatch(meta)
  def batches: Dataset[BatchMeta] = inner.batches
  def recordBatchStatus(events: Seq[BatchStatusEvent]): Unit = inner.recordBatchStatus(events)
  def batchStatusEvents: Dataset[BatchStatusEvent] = inner.batchStatusEvents
  def deleteBatches(ids: Seq[String]): Unit = inner.deleteBatches(ids)
  def vacuumedBatchIds: Dataset[String] = inner.vacuumedBatchIds
  def declareQueue(decl: QueueDecl): Unit = inner.declareQueue(decl)
  def queueDecls: Dataset[QueueDecl] = inner.queueDecls
  def recordHeartbeat(hb: ProcessHeartbeat): Unit = inner.recordHeartbeat(hb)
  def recordHeartbeats(hbs: Dataset[ProcessHeartbeat]): Unit = inner.recordHeartbeats(hbs)
  def heartbeats: Dataset[ProcessHeartbeat] = inner.heartbeats
  def compact(tbl: String): Unit = inner.compact(tbl)
}

/** Crash-mid-commit recovery: at every injection point the invariant is
  * "replay converges with no job lost and at most duplicated EXECUTION,
  * never duplicated OUTCOME" — the at-least-once + idempotent-commit
  * contract that replaces goose's in-progress queues + orphan checker
  * (SURVEY.md §4.3). */
class CrashRecoverySpec extends SparkSpec {

  private def fixture(failMethod: String) = {
    TestFns.reset()
    val clock = new java.util.concurrent.atomic.AtomicLong(1700000000000L)
    val nowFn = () => clock.get()
    val real = new ParquetBackend(spark, tmpDir("graft-crash"))
    val backend = new CrashingBackend(real, failMethod)
    val retry = RetryOpts(maxRetries = 1, retryDelaySecFn = "instant")
    val client = new GraftClient(real, spark, "test", retry, nowFn) // client unaffected
    val worker = new WorkerEngine(backend, spark, Nil, nowFn)
    val sched = new SchedulerEngine(backend, spark, nowFn)
    val api = new ManagementApi(real, spark)
    (backend, client, worker, sched, api, clock)
  }

  test("crash BEFORE the completion commit re-executes, never loses the retry") {
    val (backend, client, worker, sched, api, clock) = fixture("recordCompletions")
    client.performAsync("boom")
    intercept[RuntimeException] { worker.runPass() } // crash: retry written, completion not
    assert(api.scheduledSize() == 1)
    assert(backend.completions.count() == 0)

    // replay (what the streaming checkpoint would do): attempt 0 runs
    // again — at-least-once — and this time commits
    assert(worker.runPass().retried == 1)
    assert(TestFns.calls.get() == 2)
    // the duplicate scheduled row shares (id, seq); one promote clears both
    clock.addAndGet(1000)
    sched.promoteDue()
    assert(api.scheduledSize() == 0)
    // duplicated promoted rows collapse to ONE attempt-1 execution → death
    assert(worker.runPass().died == 1)
    assert(TestFns.calls.get() == 3)
    assert(api.deadSize() == 1)
  }

  test("crash during the retry write leaves the attempt unconsumed") {
    val (backend, client, worker, sched, api, clock) = fixture("schedule")
    client.performAsync("boom")
    intercept[RuntimeException] { worker.runPass() } // nothing durable yet
    assert(backend.completions.count() == 0)

    assert(worker.runPass().retried == 1) // clean re-run
    clock.addAndGet(1000)
    sched.promoteDue()
    assert(worker.runPass().died == 1)
    assert(api.deadSize() == 1)
    assert(TestFns.calls.get() == 3) // one extra execution, no lost outcome
  }

  test("prioritise crash between re-append and tombstone never loses the job") {
    val (backend, client, worker, _, _, _) = fixture("tombstone")
    val apiOnCrashing = new ManagementApi(backend, spark)
    val id = client.performAsync("ok")
    intercept[RuntimeException] { apiOnCrashing.enqueuedPrioritise("test", Seq(id)) }
    // crash left old + re-appended copies; latest-version-wins dedupe →
    // one row, already bumped
    assert(apiOnCrashing.enqueuedSize("test") == 1)
    assert(apiOnCrashing.enqueuedPage("test", 0).head.priority == 1)
    // retrying the operation converges: old version tombstoned, bumped
    // version at the front
    assert(apiOnCrashing.enqueuedPrioritise("test", Seq(id)) >= 1)
    val page = apiOnCrashing.enqueuedPage("test", 0)
    assert(page.map(_.id) == Seq(id) && page.head.priority == 1)
    assert(worker.runPass().succeeded == 1) // exactly one execution
    assert(TestFns.calls.get() == 1)
  }

  test("foreign-worker recovery: worker B (fresh checkpoint) replays worker A's uncommitted work exactly once") {
    // goose scenario (redis/integration_test.clj:67-86 + orphan_checker.clj:
    // 9-40): worker A dies with jobs in its in-progress queue; another
    // worker's orphan checker re-enqueues them. Here the in-progress queue
    // is A's streaming checkpoint; B never reads it — B derives the same
    // recovery set from the shared completions log: ready ∖ completions.
    import spark.implicits._
    TestFns.reset()
    val root = tmpDir("graft-foreign")
    val real = new ParquetBackend(spark, root)
    val crashing = new CrashingBackend(real, "recordCompletions")
    crashing.armed.set(0) // let worker A's first micro-batch commit cleanly
    val client = new GraftClient(real, spark, "test", RetryOpts(), () => 1700000000000L)
    val workerA = new WorkerEngine(crashing, spark, Nil, () => 1700000000000L)
    val workerB = new WorkerEngine(real, spark, Nil, () => 1700000000000L)

    // phase 1: A consumes two jobs and commits. Per-call enqueues land
    // on the ready WAL; the fold below is the maintenance tick that
    // makes them stream-visible (r9 per-call hybrid).
    client.performAsync("ok", "a1")
    client.performAsync("ok", "a2")
    real.drainLatencyPath()
    val qA = workerA.startStream(root, queryName = "worker-A")
    try qA.processAllAvailable() finally {}
    assert(TestFns.calls.get() == 2)
    assert(real.completions.count() == 2)

    // phase 2: three more jobs; A executes them but DIES at the commit
    // point (completions never land) — its checkpoint says "done", the
    // shared log says otherwise
    crashing.armed.set(1)
    client.performAsync("ok", "b1")
    client.performAsync("ok", "b2")
    client.performAsync("ok", "b3")
    real.drainLatencyPath() // visibility tick for the three WAL enqueues
    intercept[Throwable] { qA.processAllAvailable() }
    qA.stop()
    // the file source may split the three appends across micro-batches, so
    // A burned 1..3 executions before dying — but committed NONE of them
    val callsAfterCrash = TestFns.calls.get()
    assert(callsAfterCrash >= 3 && callsAfterCrash <= 5)
    assert(real.completions.count() == 2)

    // phase 3: worker B, fresh checkpoint, same backend — must re-derive
    // exactly A's three unconsumed (id, attempt)s, not the committed two
    val qB = workerB.startStream(root, queryName = "worker-B")
    try qB.processAllAvailable() finally qB.stop()
    assert(TestFns.calls.get() == callsAfterCrash + 3,
      "B executes exactly the 3 uncommitted jobs")
    assert(real.completions.count() == 5)
    // exactly one completion per (id, attempt)
    val dup = real.completions.groupByKey(e => (e.jobId, e.attempt))
      .count().filter(_._2 > 1).count()
    assert(dup == 0)
    assert(real.readyJobs.count() == 0)
  }

  test("promote crash between enqueue and tombstone re-promotes without double-execution") {
    val (backend, client, worker, sched, api, clock) = fixture("tombstone")
    TestFns.failuresRemaining.set(1)
    client.performAsync("flaky")
    worker.runPass() // retrying
    clock.addAndGet(1000)
    intercept[RuntimeException] { sched.promoteDue() } // ready row written, scheduled not cleared
    assert(api.enqueuedSize("test") == 1)
    assert(api.scheduledSize() == 1) // still due → will re-promote

    assert(sched.promoteDue() == 1) // re-promote: second ready copy, scheduled cleared
    assert(api.scheduledSize() == 0)
    // two ready copies of attempt 1 → deduped to one execution, job recovers
    assert(worker.runPass().succeeded == 1)
    assert(TestFns.calls.get() == 2)
    assert(api.enqueuedSize("test") == 0)
  }
}
