package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftbenchAccess, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer accounting, fed by three listeners the benchmark attaches
  * to the session. The program is not instrumented: the benchmark sets
  * the local property [[Trace.LayerKey]] around each call it makes into
  * a layer, and Spark copies that property onto every job the call
  * submits (and onto the threads a started worker spawns). Jobs from a
  * streaming query carry `sql.streaming.queryId` instead, which the
  * streaming listener maps to the worker or tracker stream. */
final class Trace(spark: SparkSession) {
  import Trace._

  private val sc = spark.sparkContext

  /** Spark jobs, executor task seconds and shuffle bytes per label. */
  val jobs = new ConcurrentHashMap[String, AtomicLong]()
  val taskS = new ConcurrentHashMap[String, DoubleAdder]()
  val shuffleBytes = new ConcurrentHashMap[String, AtomicLong]()
  /** Jobs per (stream query, micro-batch id). */
  val jobsPerBatch = new ConcurrentHashMap[(String, String), AtomicLong]()
  private val stageLabel = new ConcurrentHashMap[Int, String]()
  private val execLabel = new ConcurrentHashMap[Long, String]()
  /** Stream query id → "worker" | "tracker". */
  private val streamRole = new ConcurrentHashMap[String, String]()
  /** Planning and execution ms per query execution (by identity). */
  private val timings = java.util.Collections.synchronizedMap(
    new java.util.IdentityHashMap[QueryExecution, (Double, Double)]())
  /** SQL execution id → the query execution it ran. */
  private val execQe = new ConcurrentHashMap[Long, QueryExecution]()
  /** Stream progress samples per role. */
  val progress = new ConcurrentHashMap[String, Samples]()
  val lastStateRows = new ConcurrentHashMap[String, java.lang.Long]()
  val microbatches = new ConcurrentHashMap[String, AtomicLong]()

  private def counter(m: ConcurrentHashMap[String, AtomicLong], k: String) =
    m.computeIfAbsent(k, _ => new AtomicLong)
  private def samples(k: String) = progress.computeIfAbsent(k, _ => new Samples)

  private def roleOf(qid: String): String =
    Option(streamRole.get(qid)).getOrElse("worker")

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      def prop(k: String) = if (p == null) null else p.getProperty(k)
      val qid = prop("sql.streaming.queryId")
      val layer = Option(prop(LayerKey)).getOrElse("unlabelled")
      val label =
        if (qid != null) roleOf(qid)
        else if (layer == "worker") "worker.maintenance"
        else layer
      counter(jobs, label).incrementAndGet()
      if (qid != null)
        jobsPerBatch.computeIfAbsent((qid, String.valueOf(prop("streaming.sql.batchId"))),
          _ => new AtomicLong).incrementAndGet()
      e.stageIds.foreach(s => stageLabel.put(s, label))
      Option(prop("spark.sql.execution.id")).foreach(id => execLabel.put(id.toLong, label))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        Option(GraftbenchAccess.queryExecution(end)).foreach(execQe.put(end.executionId, _))
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val label = Option(stageLabel.get(e.stageId)).getOrElse("unlabelled")
      val m = e.taskMetrics
      if (m != null) {
        taskS.computeIfAbsent(label, _ => new DoubleAdder).add(m.executorRunTime / 1e3)
        counter(shuffleBytes, label).addAndGet(
          m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
      }
    }
  }

  private val execListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val planMs = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
      timings.put(qe, (planMs, durationNs / 1e6))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      streamRole.put(e.id.toString,
        if (Option(e.name).exists(_.startsWith("graft-tracker"))) "tracker" else "worker")
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val role = roleOf(p.id.toString)
      if (p.numInputRows > 0) {
        counter(microbatches, role).incrementAndGet()
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }
        d.get("triggerExecution").foreach(samples(s"$role.microbatch_ms").add)
        d.get("addBatch").foreach(samples(s"$role.add_batch_ms").add)
        d.get("queryPlanning").foreach(samples(s"$role.planning_ms").add)
        d.get("latestOffset").foreach(samples(s"$role.latest_offset_ms").add)
        samples(s"$role.rows").add(p.numInputRows.toDouble)
      }
      val rows = p.stateOperators.map(_.numRowsTotal).sum
      if (p.stateOperators.nonEmpty) lastStateRows.put(role, rows)
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): this.type = {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(execListener)
    spark.streams.addListener(streamListener)
    this
  }

  /** Waits for both listener buses, then detaches. */
  def detach(): Unit = {
    GraftbenchAccess.drainListeners(spark)
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(execListener)
    spark.streams.removeListener(streamListener)
  }

  def jobsOf(label: String): Long = Option(jobs.get(label)).map(_.get).getOrElse(0L)
  def jobsWithPrefix(prefix: String): Long =
    jobs.asScala.collect { case (k, v) if k.startsWith(prefix) => v.get }.sum
  def taskSOf(prefix: String): Double =
    taskS.asScala.collect { case (k, v) if k.startsWith(prefix) => v.sum }.sum
  def shuffleMbOf(prefix: String): Double =
    shuffleBytes.asScala.collect { case (k, v) if k.startsWith(prefix) => v.get }.sum / 1048576.0
  def totalJobs: Long = jobs.values.asScala.map(_.get).sum
  def totalTaskS: Double = taskS.values.asScala.map(_.sum).sum
  def totalShuffleMb: Double = shuffleBytes.values.asScala.map(_.get).sum / 1048576.0

  /** Planning and execution ms of every query execution whose jobs ran
    * under a label with this prefix. */
  def planExec(prefix: String): (Samples, Samples) = {
    val plan = new Samples; val exec = new Samples
    execLabel.asScala.foreach { case (id, label) =>
      if (label.startsWith(prefix))
        Option(execQe.get(id)).flatMap(qe => Option(timings.get(qe))).foreach { case (p, x) =>
          plan.add(p); exec.add(x)
        }
    }
    (plan, exec)
  }

  def streamSamples(key: String): Samples = Option(progress.get(key)).getOrElse(new Samples)
  def microbatchesOf(role: String): Long = Option(microbatches.get(role)).map(_.get).getOrElse(0L)

  /** Median Spark jobs per micro-batch of the worker streams. */
  def jobsPerWorkerBatch: Samples = {
    val s = new Samples
    jobsPerBatch.asScala.foreach { case ((qid, _), n) =>
      if (roleOf(qid) == "worker") s.add(n.get.toDouble)
    }
    s
  }
}

object Trace {
  val LayerKey = "graftbench.layer"

  /** Runs `body` with the layer label set on this thread's jobs. */
  def layer[A](spark: SparkSession, name: String)(body: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(LayerKey)
    sc.setLocalProperty(LayerKey, name)
    try body finally sc.setLocalProperty(LayerKey, prev)
  }
}

/** A growable sample set with nearest-rank percentiles. */
final class Samples {
  private val xs = scala.collection.mutable.ArrayBuffer.empty[Double]
  def add(x: Double): Unit = synchronized { xs += x }
  def size: Int = synchronized(xs.size)
  def values: Vector[Double] = synchronized(xs.toVector)
  def pct(p: Double): Double = Samples.pct(values, p)
  def max: Double = synchronized(if (xs.isEmpty) 0.0 else xs.max)
  def sum: Double = synchronized(xs.sum)
}

object Samples {
  /** Nearest-rank percentile; 0 for an empty set. */
  def pct(v: Seq[Double], p: Double): Double =
    if (v.isEmpty) 0.0
    else {
      val s = v.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }
  def median(v: Seq[Double]): Double = pct(v, 50)
}
