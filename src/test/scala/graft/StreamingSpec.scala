package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.api.ManagementApi
import graft.backend.ParquetBackend
import graft.client.GraftClient
import graft.model._
import graft.worker.{BatchTerminal, BatchTracker, SchedulerEngine, WorkerEngine}

/** Streaming-worker specs: the S5/D15 consumer as a Structured Streaming
  * query over the ready log, including the crash/restart semantics that
  * replace goose's in-progress queues + heartbeats + orphan checker
  * (SURVEY.md §4: kill-and-restart-query tests over checkpoints replace
  * integration_test.clj:67-86). */
class StreamingSpec extends SparkSpec {

  private def fixture() = {
    TestFns.reset()
    val clock = new java.util.concurrent.atomic.AtomicLong(1700000000000L)
    val root = tmpDir("graft-stream")
    val backend = new ParquetBackend(spark, root)
    val retry = RetryOpts(maxRetries = 1, retryDelaySecFn = "instant")
    val client = new GraftClient(backend, spark, "test", retry, () => clock.get())
    val worker = new WorkerEngine(backend, spark, Nil, () => clock.get())
    val api = new ManagementApi(backend, spark)
    (root, backend, client, worker, api, clock)
  }

  test("streaming worker consumes appended jobs (S5)") {
    val (root, backend, client, worker, api, _) = fixture()
    client.performAsync("ok", "s1")
    client.performAsync("ok", "s2")
    backend.drainLatencyPath() // stream-visibility tick for per-call WAL rows
    val q = worker.startStream(root, Trigger.ProcessingTime("100 milliseconds"))
    try {
      q.processAllAvailable()
      assert(TestFns.calls.get() == 2)
      // late arrival picked up by a later micro-batch
      client.performAsync("ok", "s3")
      backend.drainLatencyPath()
      q.processAllAvailable()
      assert(TestFns.calls.get() == 3)
      assert(backend.completions.count() == 3)
      assert(api.enqueuedSize("test") == 0)
    } finally q.stop()
  }

  test("restart from checkpoint neither loses nor re-executes (D9/D10 analog)") {
    val (root, backend, client, worker, _, _) = fixture()
    client.performAsync("ok", "before")
    backend.drainLatencyPath()
    val q1 = worker.startStream(root)
    try { q1.processAllAvailable() } finally q1.stop()
    assert(TestFns.calls.get() == 1)

    // enqueued while the worker is down
    client.performAsync("ok", "while-down")
    backend.drainLatencyPath()
    val q2 = worker.startStream(root)
    try {
      q2.processAllAvailable()
      // exactly one new execution: the checkpoint skips the consumed file,
      // and the (id, attempt) completion key would dedupe even a replay.
      assert(TestFns.calls.get() == 2)
      assert(backend.completions.count() == 2)
    } finally q2.stop()
  }

  test("prefetch bound: maxFilesPerTrigger caps each micro-batch, backlog drains (S8 QoS analog)") {
    val (root, backend, client, worker, _, _) = fixture()
    // file-granularity intake is what's under test → fold the ready WAL
    // after each call so each enqueue IS one log file
    (1 to 4).foreach { i =>
      client.performAsync("ok", s"j$i")
      backend.drainLatencyPath()
    }
    assert(backend.dataFileCount("ready") == 4)
    val q = worker.startStream(root, Trigger.ProcessingTime("50 milliseconds"),
      prefetchFiles = Some(1))
    try {
      q.processAllAvailable()
      assert(TestFns.calls.get() == 4, "bounded intake must still drain the backlog")
      val nonEmpty = q.recentProgress.filter(_.numInputRows > 0)
      assert(nonEmpty.length >= 4, s"expected >=4 bounded micro-batches, got ${nonEmpty.length}")
      assert(nonEmpty.forall(_.numInputRows <= 1), "each micro-batch must respect the prefetch cap")
    } finally q.stop()
  }

  test("streaming failure path: retry scheduled from inside the stream (D3)") {
    val (root, backend, client, worker, api, _) = fixture()
    TestFns.failuresRemaining.set(1)
    client.performAsync("flaky")
    backend.drainLatencyPath()
    val q = worker.startStream(root)
    try {
      q.processAllAvailable()
      assert(api.scheduledSize() == 1) // retry parked with backoff
      assert(backend.completions.count() == 1)
    } finally q.stop()
  }

  test("streaming batch tracker emits exactly one terminal per batch (D7)") {
    val (_, backend, _, _, _, _) = fixture()
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val tracker = new BatchTracker(backend, spark)
    val metas = MemoryStream[BatchMeta]
    val input = MemoryStream[CompletionEvent]
    val terminals = tracker.streamingTerminals(input.toDS(), metas.toDS())
    val q = terminals.writeStream.format("memory").queryName("terminals")
      .outputMode("append").start()
    try {
      metas.addData(BatchMeta("b1", "callback", 60, "test", "test",
        RetryOpts(), 3, BatchStatus.InProgress, 0L))
      def ev(jid: String, st: String, at: Long) =
        CompletionEvent(jid, 0, Some("b1"), "test", st, wasRetried = false,
          None, 1, at)
      input.addData(ev("j1", "success", 1), ev("j2", "retrying", 2))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM terminals").count() == 0) // still in-progress

      input.addData(ev("j2", "success", 3), ev("j3", "dead", 4))
      q.processAllAvailable()
      val rows = spark.sql("SELECT batchId, status FROM terminals").collect()
      assert(rows.map(r => (r.getString(0), r.getString(1))).toSeq ==
        Seq(("b1", BatchStatus.PartialSuccess)))

      // further events do not re-emit (callbackEmitted latch)
      input.addData(ev("j3", "dead", 5))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM terminals").count() == 1)
    } finally q.stop()
  }

  test("a batch created AFTER the tracker stream starts still reaches terminal") {
    val (_, backend, _, _, _, _) = fixture()
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val tracker = new BatchTracker(backend, spark)
    val metas = MemoryStream[BatchMeta]
    val input = MemoryStream[CompletionEvent]
    val q = tracker.streamingTerminals(input.toDS(), metas.toDS())
      .writeStream.format("memory").queryName("late_terminals")
      .outputMode("append").start()
    try {
      q.processAllAvailable() // stream is live, registry still empty

      // completions can even arrive BEFORE the registration lands
      input.addData(CompletionEvent("j1", 0, Some("b2"), "test", "success",
        wasRetried = false, None, 1, 10))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM late_terminals").count() == 0)

      // now the batch registers (created mid-stream) and the second job lands
      metas.addData(BatchMeta("b2", "callback", 60, "test", "test",
        RetryOpts(), 2, BatchStatus.InProgress, 0L))
      input.addData(CompletionEvent("j2", 0, Some("b2"), "test", "success",
        wasRetried = false, None, 1, 20))
      q.processAllAvailable()
      val rows = spark.sql("SELECT batchId, status FROM late_terminals").collect()
      assert(rows.map(r => (r.getString(0), r.getString(1))).toSeq ==
        Seq(("b2", BatchStatus.Success)))
    } finally q.stop()
  }

  test("end-to-end streaming tracker over backend file streams (meta + completions logs)") {
    val (root, backend, client, worker, _, _) = fixture()
    import spark.implicits._

    val tracker = new BatchTracker(backend, spark)
    val compSchema = implicitly[org.apache.spark.sql.Encoder[CompletionEvent]].schema
    new java.io.File(s"$root/completions").mkdirs()
    val compStream = spark.readStream.schema(compSchema)
      .parquet(s"$root/completions").as[CompletionEvent]
    val q = tracker.streamingTerminals(compStream, tracker.metaStream(root))
      .writeStream.format("memory").queryName("e2e_terminals")
      .outputMode("append").start()
    try {
      // batch created after the tracker started; jobs run via the worker
      val bid = client.performBatch(Seq(("ok", Seq[Any]("a")), ("ok", Seq[Any]("b"))), "cb")
      worker.runPass()
      q.processAllAvailable()
      val rows = spark.sql("SELECT batchId, status FROM e2e_terminals").collect()
      assert(rows.map(r => (r.getString(0), r.getString(1))).toSeq ==
        Seq((bid, BatchStatus.Success)))
    } finally q.stop()
  }

  test("tracker stream kill/restart: terminal callback exactly-once across checkpoint (D8)") {
    val (root, backend, client, worker, _, _) = fixture()
    val tracker = new BatchTracker(backend, spark)

    // first life: batch 1 completes, one terminal + one callback enqueue
    val q1 = tracker.startStream(root, Trigger.ProcessingTime("100 milliseconds"))
    val b1 = try {
      val b1 = client.performBatch(Seq(("ok", Seq[Any]("a")), ("ok", Seq[Any]("b"))), "ok")
      worker.runPass()
      q1.processAllAvailable()
      b1
    } finally q1.stop() // kill

    def terminalRows() = backend.batchStatusEvents
      .filter(e => BatchStatus.terminal(e.status)).collect()
      .groupBy(_.batchId).view.mapValues(_.length).toMap
    assert(terminalRows() == Map(b1 -> 1))
    // exactly one callback job visible; execute it while the tracker is down
    assert(backend.readyJobs.collect().map(_.executeFnSym).toSeq == Seq("ok"))
    worker.runPass()

    // while down: batch 2 registered and its job executed
    val b2 = client.performBatch(Seq(("ok", Seq[Any]("c"))), "ok")
    worker.runPass()

    // second life, same checkpoint: batch 2 resolves; batch 1 is NOT
    // re-committed (its callbackEmitted latch was checkpointed) and no
    // duplicate callback appears in the ready set
    val q2 = tracker.startStream(root, Trigger.ProcessingTime("100 milliseconds"))
    try q2.processAllAvailable() finally q2.stop()
    assert(terminalRows() == Map(b1 -> 1, b2 -> 1))
    val visible = backend.readyJobs.collect()
    assert(visible.length == 1 && visible.head.executeFnSym == "ok",
      s"expected only batch-2's callback, got ${visible.toSeq}")
  }

  test("idempotent terminal sink: an epoch replay cannot double-commit (D8 replay window)") {
    val (_, backend, client, _, _, _) = fixture()
    val tracker = new BatchTracker(backend, spark)
    val bid = client.performBatch(Seq(("ok", Seq[Any]("x"))), "ok")
    val t = BatchTerminal(bid, BatchStatus.Success, 123L)

    assert(tracker.commitTerminalsIdempotent(Seq(t)).map(_.batchId) == Seq(bid))
    // the replayed epoch delivers the same terminal again
    assert(tracker.commitTerminalsIdempotent(Seq(t)).isEmpty)
    assert(backend.batchStatusEvents.filter(e => BatchStatus.terminal(e.status)).count() == 1)
    // exactly one callback enqueue survives (plus the original batch job)
    assert(backend.readyJobs.filter(_.priority == 1).count() == 1)
  }
}
