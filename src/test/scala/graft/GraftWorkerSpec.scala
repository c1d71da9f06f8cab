package graft

import graft.api.ManagementApi
import graft.backend.ParquetBackend
import graft.client.GraftClient
import graft.metrics.{InMemoryMetrics, Metrics}
import graft.model._
import graft.worker.GraftWorker

/** Composite-worker spec (D15/D14 + metrics A4-A6): the full process —
  * streaming consumer + maintenance tick — driving async jobs, retries,
  * cron and batches to completion, then stopping gracefully. */
class GraftWorkerSpec extends SparkSpec {

  test("composite worker drains async + retry + batch and publishes metrics") {
    TestFns.reset()
    JobRegistry.register("callback", _ => "cb")
    val root = tmpDir("graft-composite")
    val backend = new ParquetBackend(spark, root)
    val sink = new InMemoryMetrics
    val retry = RetryOpts(maxRetries = 1, retryDelaySecFn = "instant")
    val client = new GraftClient(backend, spark, "test", retry)
    val api = new ManagementApi(backend, spark)

    client.performAsync("ok", "a")
    TestFns.failuresRemaining.set(1)
    client.performAsync("flaky")
    client.performBatch(Seq(("ok", Seq[Any]("b1")), ("ok", Seq[Any]("b2"))), "callback")

    val worker = new GraftWorker(backend, spark, root,
      metrics = sink, maintenanceIntervalMs = 100).start()
    try {
      assert(worker.awaitDrained(120000), "worker did not drain")
    } finally worker.stop()

    // async + flaky(×2) + 2 batch jobs + 1 batch callback = 6 executions
    assert(TestFns.calls.get() >= 5)
    assert(api.enqueuedSize("test") == 0)
    assert(api.deadSize() == 0)
    // batch reached terminal success exactly once
    val statuses = backend.batchStatusEvents.collect()
    assert(statuses.map(_.status).toSeq == Seq(BatchStatus.Success))
    // metrics flowed: successes counted per queue, gauges published
    assert(sink.counter(Metrics.SuccessCount + ",queue=test") >= 4)
    assert(sink.counter(Metrics.FailureCount + ",queue=test") == 1)
    assert(sink.counter(Metrics.RecoveredCount + ",queue=test") == 1)
    assert(sink.gauges.containsKey("total_enqueued.size"))
    // heartbeats registered (D9); process alive within TTL, then the
    // stopped worker shows up via the anti-join probe (F9/D10 detection)
    val now = System.currentTimeMillis()
    assert(api.globalWorkersCount(now) == 1)
    assert(api.aliveProcesses(now).map(_.processId) == Seq(worker.processId))
    assert(api.deadProcesses(now + 120000) == Seq(worker.processId))
  }

  test("a non-coordinator worker consumes but runs no global maintenance") {
    // fleet shape (worker.clj:27,43): one scoped worker per queue, ONE
    // coordinator. A non-coordinator running scheduler/tracker/compaction
    // with process-local locks only would race the coordinator's
    // (r11 review find) — it must consume, heartbeat, and nothing else.
    TestFns.reset()
    val root = tmpDir("graft-noncoord")
    val backend = new ParquetBackend(spark, root)
    val retry = RetryOpts(maxRetries = 1, retryDelaySecFn = "instant")
    val clock = new java.util.concurrent.atomic.AtomicLong(1700000000000L)
    val client = new GraftClient(backend, spark, "test", retry, () => clock.get())
    client.performAsync("ok", "now")
    client.performInSec(3, "ok", "later") // due at +3s — promotion is coordinator work
    val worker = new GraftWorker(backend, spark, root,
      maintenanceIntervalMs = 50, coordinator = false,
      nowFn = () => clock.get()).start()
    try {
      val deadline = System.currentTimeMillis() + 60000
      while (TestFns.calls.get() < 1 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(TestFns.calls.get() == 1, "the ready job is consumed")
      clock.addAndGet(10000) // scheduled job now overdue
      Thread.sleep(500) // several maintenance ticks
      assert(backend.scheduledJobs.count() == 1,
        "a non-coordinator must NOT promote scheduled jobs")
      assert(worker.compactionsRun.get() == 0, "nor compact")
      assert(new ManagementApi(backend, spark).globalWorkersCount(clock.get()) == 1,
        "it still heartbeats")
    } finally worker.stop()
  }

  test("tick-triggered compaction preserves visibility and bounds file count") {
    TestFns.reset()
    val root = tmpDir("graft-compact")
    val backend = new ParquetBackend(spark, root)
    val retry = RetryOpts(maxRetries = 0) // failures go straight to dead
    val client = new GraftClient(backend, spark, "test", retry)
    val api = new ManagementApi(backend, spark)

    // one file per append: this test exercises compaction UNDER a
    // many-small-files load, so fold the ready WAL after each call (a
    // per-call enqueue rides the WAL and would produce zero files here)
    def enqueueAsFile(fn: String, args: Any*): Unit = {
      client.performAsync(fn, args: _*)
      backend.drainLatencyPath()
    }
    (1 to 20).foreach(i => enqueueAsFile("ok", s"a$i"))
    (1 to 4).foreach(_ => enqueueAsFile("boom"))
    client.performInSec(3600, "ok", "future") // stays scheduled, must survive

    def fileCount(): Int =
      Seq("ready", "scheduled", "dead", "completions", "tombstones", "purges").map { t =>
        val d = new java.io.File(s"$root/$t")
        if (d.isDirectory) d.listFiles((_, n) => n.endsWith(".parquet")).length else 0
      }.sum
    val filesBefore = fileCount()
    // 24 per-call ready appends, one parquet file each (stream lane);
    // the scheduled job rides the WAL, not a file
    assert(filesBefore >= 24)
    assert(graft.backend.WalStore.recordCount(root, "scheduled",
      org.apache.spark.sql.Encoders.product[graft.model.Job]) == 1)

    val worker = new GraftWorker(backend, spark, root,
      maintenanceIntervalMs = 100, compactEveryTicks = 2, compactMinFiles = 8)
    worker.start()
    try {
      assert(worker.awaitDrained(120000), "worker did not drain")
    } finally worker.stop()
    assert(worker.compactionsRun.get() > 0, "policy never triggered compaction")

    // visibility before vs after one more (manual) compaction round
    val statsBefore = api.homeStats()
    val deadBefore = api.deadPage(0).map(_.id).toSet
    worker.compactNow()
    assert(api.homeStats() == statsBefore)
    assert(api.deadPage(0).map(_.id).toSet == deadBefore)
    assert(statsBefore("enqueued") == 0)
    assert(statsBefore("scheduled") == 1) // the future job survived folding
    assert(statsBefore("dead") == 4)
    assert(TestFns.calls.get() == 24) // compaction caused no re-executions

    // folded logs: file count bounded, not proportional to append count
    assert(fileCount() < filesBefore,
      s"expected folded logs to shrink: before=$filesBefore after=${fileCount()}")
  }

  test("per-table compaction policy: completions churn never rewrites ready mid-drain (r13 fleet find)") {
    // The fleet probe measured a 2-worker drain at 2.9× the 1-worker
    // wall: the old SUM-of-tables trigger folded "ready" on completions
    // churn, and every fold's survivor rewrite was re-ingested by every
    // worker's streaming file source. The policy must relieve completions
    // pressure WITHOUT touching ready while a backlog is pending, and
    // escalate to the full fold once the re-delivery would be small.
    val root = tmpDir("graft-policy")
    val backend = new graft.backend.CommitLogBackend(spark, root)
    import spark.implicits._
    val t0 = 1700000000000L
    val retry = RetryOpts()
    def mkJob(i: Int) = Job(id = s"j$i", executeFnSym = "ok", argsJson = "[]",
      queue = "test", readyQueue = "test", priority = 0, enqueuedAt = t0,
      scheduleRunAt = None, cronRunAt = None, batchId = None,
      retryOpts = retry, state = None, seq = Job.nextSeq())
    backend.enqueue(spark.createDataset((1 to 100).map(mkJob)).coalesce(2))
    def comp(i: Int) = CompletionEvent(s"j$i", 0, None, "test", "success",
      wasRetried = false, None, 1L, t0 + i)
    // the per-micro-batch shape: one small completions file per commit
    (1 to 50).grouped(5).foreach(g =>
      backend.recordCompletions(spark.createDataset(g.map(comp)).coalesce(1)))
    val worker = new GraftWorker(backend, spark, root,
      compactMinFiles = 8, compactMaxRedeliverRows = 10)
    val readyFiles = backend.dataFileCount("ready")
    assert(readyFiles <= 8 && backend.dataFileCount("completions") >= 9)
    val visBefore = backend.readyJobs.select("id").as[String].collect().toSet
    assert(visBefore.size == 50)

    worker.compactionPolicy() // completions pressure; 50 pending > 10

    assert(worker.compactionsRun.get() == 0, "mid-drain: no full fold")
    assert(backend.dataFileCount("ready") == readyFiles,
      "ready log untouched — nothing re-delivered to worker file sources")
    assert(backend.dataFileCount("completions") <= 2, "churn collapsed")
    assert(backend.completions.count() == 50,
      "every completion kept: its job row is still in the ready log")
    assert(backend.readyJobs.select("id").as[String].collect().toSet == visBefore,
      "visibility unchanged across the light fold")

    // drain the rest; backlog 0 ≤ compactMaxRedeliverRows → the policy
    // escalates to the full fold and the logs shrink to survivor sets
    (51 to 100).grouped(5).foreach(g =>
      backend.recordCompletions(spark.createDataset(g.map(comp)).coalesce(1)))
    worker.compactionPolicy()
    assert(worker.compactionsRun.get() == 1, "post-drain: full fold ran")
    assert(backend.readyJobs.isEmpty)
    assert(backend.completions.count() == 0,
      "drained completions GC'd by the paired ready fold")
  }

  test("latency source selection mirrors job.clj:45-61") {
    val base = Job("fn", Nil, "q", RetryOpts())
    val now = base.enqueuedAt + 500
    assert(Metrics.latencyOf(base, now) == (Metrics.ExecutionLatency, 500L))
    val sched = base.copy(scheduleRunAt = Some(base.enqueuedAt + 100))
    assert(Metrics.latencyOf(sched, now) == (Metrics.ScheduleLatency, 400L))
    val cron = base.copy(cronRunAt = Some(base.enqueuedAt + 200))
    assert(Metrics.latencyOf(cron, now) == (Metrics.CronLatency, 300L))
    val retried = sched.copy(state = Some(FailureState("e", 0, 1, None,
      retryAt = Some(base.enqueuedAt + 300), None)))
    assert(Metrics.latencyOf(retried, now) == (Metrics.RetryLatency, 200L))
  }
}
