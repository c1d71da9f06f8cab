package graft

import graft.api.ManagementApi
import graft.backend.ParquetBackend
import graft.client.GraftClient
import graft.model._
import graft.worker.{SchedulerEngine, WorkerEngine}

/** Console/API surface specs, mirroring the reference API tests
  * (test/goose/brokers/redis/api_test.clj — enqueued/scheduled/dead CRUD,
  * prioritise-valid-only, replay, page ordering, purge). */
class ManagementApiSpec extends SparkSpec {

  private def fixture() = {
    TestFns.reset()
    val clock = new java.util.concurrent.atomic.AtomicLong(1700000000000L)
    val nowFn = () => clock.get()
    val backend = new ParquetBackend(spark, tmpDir("graft-api"))
    val retry = RetryOpts(maxRetries = 0, retryDelaySecFn = "instant")
    val client = new GraftClient(backend, spark, "test", retry, nowFn)
    val worker = new WorkerEngine(backend, spark, Nil, nowFn)
    val sched = new SchedulerEngine(backend, spark, nowFn)
    val api = new ManagementApi(backend, spark)
    (backend, client, worker, sched, api, clock)
  }

  test("find-by-id / find-by-pattern / list-queues") {
    val (_, client, _, _, api, _) = fixture()
    val id1 = client.performAsync("ok", "alpha")
    client.performAsync("ok", "beta")
    assert(api.listQueues() == Seq("test"))
    assert(api.enqueuedFindById("test", id1).get.argsJson.contains("alpha"))
    assert(api.enqueuedFindById("test", "nope").isEmpty)
    val hits = api.enqueuedFindByPattern("test", _.argsJson.contains("beta"))
    assert(hits.length == 1 && hits.head.argsJson.contains("beta"))
  }

  test("page order: priority desc then FIFO, offset pagination") {
    val (_, client, _, _, api, clock) = fixture()
    val ids = (1 to 25).map { i =>
      clock.addAndGet(1000)
      client.performAsync("ok", s"j$i")
    }
    api.enqueuedPrioritise("test", Seq(ids(20)))
    val p0 = api.enqueuedPage("test", 0)
    assert(p0.head.id == ids(20)) // prioritised row first
    assert(p0.length == 10)
    val p1 = api.enqueuedPage("test", 1)
    assert(p1.length == 10 && p1.toSet.intersect(p0.toSet).isEmpty)
    // FIFO within same priority: first enqueued right after the bumped one
    assert(p0(1).argsJson.contains("j1"))
  }

  test("prioritise only touches existing ids (api_test prioritise-valid-only)") {
    val (_, client, _, _, api, _) = fixture()
    client.performAsync("ok")
    assert(api.enqueuedPrioritise("test", Seq("missing-id")) == 0)
  }

  test("delete and purge on enqueued") {
    val (_, client, _, _, api, _) = fixture()
    val a = client.performAsync("ok")
    val b = client.performAsync("ok")
    assert(api.enqueuedDelete("test", Seq(a, "ghost")) == 1)
    assert(api.enqueuedSize("test") == 1)
    api.enqueuedPurge("test")
    assert(api.enqueuedSize("test") == 0)
    // rows enqueued after the purge marker survive
    client.performAsync("ok")
    assert(api.enqueuedSize("test") == 1)
  }

  test("scheduled: page asc by run-at, prioritise promotes now, delete, purge") {
    val (_, client, _, _, api, clock) = fixture()
    val far = client.performInSec(300, "ok", "far")
    val near = client.performInSec(60, "ok", "near")
    val page = api.scheduledPage(0)
    assert(page.map(_.id) == Seq(near, far)) // ascending run-at
    assert(api.scheduledPrioritise(Seq(far)) == 1)
    assert(api.enqueuedSize("test") == 1 && api.scheduledSize() == 1)
    assert(api.scheduledDelete(Seq(near)) == 1)
    assert(api.scheduledSize() == 0)
    client.performInSec(60, "ok")
    api.scheduledPurge()
    assert(api.scheduledSize() == 0)
  }

  test("dead: page desc, pop oldest, replay, purge (api_test dead CRUD)") {
    val (backend, client, worker, sched, api, clock) = fixture()
    client.performAsync("boom") // dies at t0 (maxRetries=0)
    worker.runPass()
    clock.addAndGet(60000)
    client.performAsync("boom") // dies at t1
    worker.runPass()
    assert(api.deadSize() == 2)

    val page = api.deadPage(0)
    assert(page.head.state.get.diedAt.get > page(1).state.get.diedAt.get) // desc

    val popped = api.deadPop()
    assert(popped.get.state.get.diedAt.get < page.head.state.get.diedAt.get) // oldest
    assert(api.deadSize() == 1)

    // replay: back to front of ready, executes again, dies again
    val replayed = api.deadReplayN(1)
    assert(replayed.length == 1 && api.deadSize() == 0)
    assert(api.enqueuedSize("test") == 1)
    assert(worker.runPass().died == 1)
    assert(api.deadSize() == 1)

    api.deadPurge()
    assert(api.deadSize() == 0)
  }

  test("home stats aggregate all collections (console/data.clj:18-28)") {
    val (_, client, worker, _, api, _) = fixture()
    client.performAsync("ok")
    client.performInSec(600, "ok")
    client.performEveryTz("c1", "0 * * * *", "UTC", "ok")
    val stats = api.homeStats()
    assert(stats == Map("enqueued" -> 1L, "scheduled" -> 1L, "dead" -> 0L, "cron" -> 1L))
    assert(api.queueGauges() == Map("test" -> 1L))
  }

  test("batch linger vacuum drops expired terminal batches (D8 EXPIRE)") {
    val (backend, client, worker, _, api, clock) = fixture()
    JobRegistry.register("mapi_cb", _ => "cb")
    val retry = RetryOpts(maxRetries = 0)
    val c2 = new GraftClient(backend, spark, "test", retry, () => clock.get())
    val bid = c2.performBatch(Seq(("ok", Seq[Any]())), "mapi_cb", lingerSec = 60)
    worker.runPass()
    val tracker = new graft.worker.BatchTracker(backend, spark)
    assert(tracker.trackPass().map(_.status) == Seq(BatchStatus.Success))
    val terminalAt = backend.batchStatusEvents.collect().head.at
    assert(api.vacuumBatches(terminalAt + 59000) == 0) // still lingering
    assert(api.vacuumBatches(terminalAt + 61000) == 1)
    assert(backend.batches.count() == 0)
    assert(backend.batchStatusEvents.count() == 0)
  }

  test("maintenance tick vacuums lingered batches on the compaction cadence") {
    val (backend, client, worker, _, _, clock) = fixture()
    JobRegistry.register("mapi_cb2", _ => "cb")
    val retry = RetryOpts(maxRetries = 0)
    val c2 = new GraftClient(backend, spark, "test", retry, () => clock.get())
    c2.performBatch(Seq(("ok", Seq[Any]())), "mapi_cb2", lingerSec = 60)
    worker.runPass()
    new graft.worker.BatchTracker(backend, spark).trackPass()
    clock.addAndGet(3600 * 1000L) // well past the 60s linger
    val gw = new graft.worker.GraftWorker(backend, spark, backend.root,
      nowFn = () => clock.get(), maintenanceIntervalMs = 50,
      compactEveryTicks = 1, compactMinFiles = Int.MaxValue) // vacuum tick, no compaction
    gw.start()
    try {
      // poll OUTSIDE the worker's write gate, so a read can race the
      // vacuum's log rewrite mid-swap — tolerate the transient
      // FILE_NOT_EXIST and re-check (the engine's own readers hold the
      // read lock; only this spec-side probe is gate-free)
      def batchCount(): Long =
        try backend.batches.count() catch { case _: Throwable => Long.MaxValue }
      val deadline = System.currentTimeMillis() + 60000
      while (batchCount() > 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
    } finally gw.stop()
    assert(backend.batches.count() == 0,
      "the maintenance tick must vacuum the expired batch without an explicit call")
    assert(backend.batchStatusEvents.count() == 0)
  }

  test("SQL views expose live collections (GraftSql)") {
    val (backend, client, worker, _, _, _) = fixture()
    client.performAsync("ok", "sql-a")
    client.performInSec(600, "ok")
    graft.api.GraftSql.registerViews(backend, spark)
    assert(spark.sql("SELECT COUNT(*) FROM graft_enqueued").head().getLong(0) == 1)
    assert(spark.sql("SELECT queue FROM graft_scheduled").head().getString(0) == "test")
    worker.runPass()
    graft.api.GraftSql.registerViews(backend, spark) // refresh listing
    assert(spark.sql(
      "SELECT terminalState FROM graft_completions").head().getString(0) == "success")
  }

  test("compaction preserves the visible set") {
    val (backend, client, _, _, api, _) = fixture()
    val a = client.performAsync("ok", "keep-1")
    val b = client.performAsync("ok", "drop")
    val c = client.performAsync("ok", "keep-2")
    api.enqueuedDelete("test", Seq(b))
    backend.compact("ready")
    assert(api.enqueuedSize("test") == 2)
    assert(api.enqueuedFindById("test", a).isDefined)
    assert(api.enqueuedFindById("test", b).isEmpty)
    // tombstone log for ready was folded away
    assert(spark.read.parquet(backend.root + "/tombstones").count() == 0)
  }

  test("snapshot export/restore: registries round-trip, re-import idempotent there") {
    val (backend, client, _, _, api, _) = fixture()
    client.performAsync("ok", "a")
    client.performEveryTz("snap-cron", "0 * * * *", "UTC", "ok")
    backend.putBatch(BatchMeta(id = "b1", callbackFnSym = "ok", lingerSec = 60,
      queue = "test", readyQueue = "test",
      retryOpts = RetryOpts(maxRetries = 0, retryDelaySecFn = "instant"),
      total = 2, status = BatchStatus.InProgress, createdAt = 1L))
    val dir = tmpDir("graft-snap") + "/s"
    val exported = api.exportSnapshot(dir)
    assert(exported == Map("ready" -> 1L, "scheduled" -> 0L, "dead" -> 0L,
      "cron" -> 1L, "batches" -> 1L))
    val dst = new ParquetBackend(spark, tmpDir("graft-snap-dst"))
    val once = api.importSnapshot(dir, dst)
    assert(once("cron") == 1L && once("batches") == 1L && once("ready") == 1L)
    assert(dst.cronEntries.collect().head.cronName == "snap-cron")
    // a re-import of the SAME snapshot is a no-op everywhere: keyed
    // registries upsert, and the job logs' crash-replay fold collapses
    // identical (id, seq) rows to one
    val twice = api.importSnapshot(dir, dst)
    assert(twice("cron") == 1L && twice("batches") == 1L && twice("ready") == 1L)
  }

  test("a failed snapshot import leaves no pool thread running its siblings") {
    val (backend, client, _, _, api, _) = fixture()
    (1 to 20).foreach(i => client.performAsync("ok", i))
    client.performEveryTz("snap-cron", "0 * * * *", "UTC", "ok")
    val dir = tmpDir("graft-snap-fail") + "/s"
    api.exportSnapshot(dir)
    graft.Scratch.delete(s"$dir/ready") // the first collection fails at once
    val dst = new ParquetBackend(spark, tmpDir("graft-snap-fail-dst"))
    intercept[Exception](api.importSnapshot(dir, dst))
    import scala.jdk.CollectionConverters._
    val running = Thread.getAllStackTraces.asScala.collect {
      case (t, frames) if t.isAlive && (t ne Thread.currentThread()) &&
          frames.exists(_.getClassName.startsWith(classOf[ManagementApi].getName)) => t.getName
    }
    assert(running.isEmpty, s"snapshot steps still running after the failure: $running")
  }
}
