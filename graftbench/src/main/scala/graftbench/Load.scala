package graftbench

import java.util.concurrent.atomic.AtomicBoolean

/** An open-loop generator on its own thread: operation k is due at
  * `startNs + k / ratePerS` whatever happened to earlier ones, and is
  * sent as soon as it is due. Lateness (send − due) is recorded. */
final class OpenLoop(name: String, ratePerS: Double, maxOps: Long)(op: (Long, Long) => Unit) {
  private val stopFlag = new AtomicBoolean(false)
  val lateMs = new Samples
  @volatile var sent = 0L
  @volatile var errors = 0L
  @volatile private var failure: Throwable = _
  private var startNs = 0L

  private val thread = new Thread(() => {
    var k = 0L
    while (!stopFlag.get() && k < maxOps) {
      val dueNs = startNs + (k * 1e9 / ratePerS).toLong
      var now = System.nanoTime()
      while (now < dueNs && !stopFlag.get()) {
        val waitNs = dueNs - now
        if (waitNs > 2000000L) Thread.sleep((waitNs - 1000000L) / 1000000L)
        else Thread.onSpinWait()
        now = System.nanoTime()
      }
      if (!stopFlag.get()) {
        lateMs.add((now - dueNs) / 1e6)
        try op(k, dueNs)
        catch { case e: Throwable => errors += 1; if (failure == null) failure = e }
        k += 1
        sent = k
      }
    }
  }, name)

  def start(): this.type = { startNs = System.nanoTime(); thread.setDaemon(true); thread.start(); this }
  def stop(): Unit = { stopFlag.set(true); thread.join() }
  def join(): Unit = thread.join()
  def firstError: Option[Throwable] = Option(failure)
}

/** Converts between System.nanoTime and epoch milliseconds, so that a
  * due time on the generator clock can be compared with a start time a
  * job body stamped with currentTimeMillis. */
object Clock {
  private val offsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
  def nanoToEpochMs(ns: Long): Double = ns / 1e6 + offsetMs
}

/** Per-layer metrics that come from the listeners and worker streams,
  * shared by the two queue workloads. */
object StreamReport {
  def worker(t: Trace, r: Result): Unit = {
    r.metric("worker.microbatches", t.microbatchesOf("worker").toDouble, "count")
    r.metric("worker.microbatch_ms.p50", t.streamSamples("worker.microbatch_ms").pct(50), "ms")
    r.metric("worker.microbatch_ms.max", t.streamSamples("worker.microbatch_ms").max, "ms")
    r.metric("worker.add_batch_ms.p50", t.streamSamples("worker.add_batch_ms").pct(50), "ms")
    r.metric("worker.planning_ms.p50", t.streamSamples("worker.planning_ms").pct(50), "ms")
    r.metric("worker.latest_offset_ms.p50", t.streamSamples("worker.latest_offset_ms").pct(50), "ms")
    r.metric("worker.rows_per_microbatch.p50", t.streamSamples("worker.rows").pct(50), "count")
    r.metric("worker.spark_jobs_per_microbatch.p50", t.jobsPerWorkerBatch.pct(50), "count")
    r.metric("worker.task_s", t.taskSOf("worker"), "s")
    r.metric("worker.shuffle_mb", t.shuffleMbOf("worker"), "MB")
    r.metric("worker.tracker.epochs", t.microbatchesOf("tracker").toDouble, "count")
    r.metric("worker.tracker.add_batch_ms.p50", t.streamSamples("tracker.add_batch_ms").pct(50), "ms")
    r.metric("worker.tracker.state_rows",
      Option(t.lastStateRows.get("tracker")).map(_.doubleValue).getOrElse(0.0), "count")
    r.metric("worker.maintenance.spark_jobs", t.jobsOf("worker.maintenance").toDouble, "count")
  }

  /** File counts per table and bytes on disk under a backend root. */
  def files(backend: graft.backend.LogStructuredBackend, root: String, r: Result): Unit = {
    Seq("ready", "completions", "scheduled", "dead", "claims").foreach { t =>
      r.metric(s"backend.files.$t", backend.dataFileCount(t).toDouble, "count")
    }
    r.metric("backend.disk_mb", diskBytes(new java.io.File(root)) / 1048576.0, "MB")
  }

  def diskBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(diskBytes).sum).getOrElse(0L)
    else f.length()

  /** Spark jobs the whole session starts during `windowMs` of idling. */
  def idleJobs(t: Trace, spark: org.apache.spark.sql.SparkSession, windowMs: Long): Long = {
    org.apache.spark.sql.GraftbenchAccess.drainListeners(spark)
    val before = t.totalJobs
    Thread.sleep(windowMs)
    org.apache.spark.sql.GraftbenchAccess.drainListeners(spark)
    t.totalJobs - before
  }
}

/** Phase timings on stderr, for reading a run's log. */
object Log {
  private var last = System.nanoTime()
  def phase(name: String): Unit = synchronized {
    val now = System.nanoTime()
    System.err.println(f"graftbench phase $name%s: ${(now - last) / 1e9}%.2f s")
    last = now
  }
}
