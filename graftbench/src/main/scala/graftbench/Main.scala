package graftbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** What one workload run reports back: end-to-end and per-layer metrics,
  * the operations it attempted and lost, the checks it made, and the
  * set-up time of each round. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val roundSetupS = mutable.ArrayBuffer.empty[Double]
  var attempted = 0L
  var failed = 0L
  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    checks += ((name, ok, if (ok) "" else detail))
}

/** Settings of one run, from the command line. */
final case class Ctx(
    spark: SparkSession,
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Option[Trace],
    dataDir: String,
    outDir: String) {
  def traced: Boolean = trace.isDefined
  /** Labels the calling thread's Spark jobs with a layer while `body` runs. */
  def layer[A](name: String)(body: => A): A = Trace.layer(spark, name)(body)
}

/** Entry point: `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --t0-ms <epoch ms> [--data <dir>] [--out <dir>]`. Prints one line
  * `GRAFTBENCH_RESULT {json}`; `run.py` turns it into the final report. */
object Main {
  /** The metrics an untraced run reports; every other one is per layer.
    * Every workload reports both: `op_ms` is the cost of the workload's
    * own unit of work (LiveMixed, CorpusSuite). */
  val EndToEnd: Seq[String] = Seq("setup_s", "op_ms")

  /** CPU seconds this JVM has used, on all its threads. Time the host
    * gives to other tenants (steal) is not in it, unlike wall time. */
  def cpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val t0Ms = args("t0-ms").toLong
    val cores = Runtime.getRuntime.availableProcessors()
    val tmp = System.getProperty("java.io.tmpdir")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", tmp)
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .config("spark.sql.ui.retainedExecutions", "32")
      .config("spark.ui.retainedJobs", "200")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "2000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyS = (System.currentTimeMillis() - t0Ms) / 1e3
    Log.phase(f"session ready after $sessionReadyS%.2f s")
    val scratchBefore = scratchDirs(tmp)
    val trace = if (args("trace") == "1") Some(new Trace(spark).attach()) else None
    val ctx = Ctx(spark, args("workload"), args("seed").toLong, args("seconds").toInt,
      trace, args.getOrElse("data", ""), args.getOrElse("out", ""))
    val r = new Result
    val workload: Ctx => Result => Unit = ctx.workload match {
      case "live_mixed" => LiveMixed.run
      case "corpus_suite" => CorpusSuite.run
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    val gc0 = gcSeconds()
    workload(ctx)(r)
    trace.foreach { t =>
      t.detach()
      r.metric("spark.jobs", t.totalJobs.toDouble, "count")
      r.metric("spark.task_s", t.totalTaskS, "s")
      r.metric("spark.shuffle_mb", t.totalShuffleMb, "MB")
      r.metric("jvm.gc_s", gcSeconds() - gc0, "s")
      r.metric("jvm.peak_rss_mb", peakRssMb(), "MB")
    }
    r.metric("setup_s", sessionReadyS + Samples.median(r.roundSetupS.toSeq), "s")
    // a traced run reports the end-to-end figures it saw under `traced.`:
    // set beside an untraced run's, they give the tracing overhead
    if (ctx.traced) EndToEnd.foreach(k => r.metrics.remove(k).foreach(v => r.metrics(s"traced.$k") = v))
    else {
      System.err.println("graftbench figures not reported untraced: " + r.metrics.collect {
        case (k, (v, u)) if !EndToEnd.contains(k) => f"$k=$v%.4g $u"
      }.mkString(", "))
      r.metrics.filterInPlace((k, _) => EndToEnd.contains(k))
    }
    val leaked = (scratchDirs(tmp) -- scratchBefore).toSeq.sorted
    r.check("no graft-* scratch dir survives the run", leaked.isEmpty, leaked.mkString(","))
    println("GRAFTBENCH_RESULT " + toJson(r))
    spark.stop()
  }

  private def scratchDirs(tmp: String): Set[String] =
    Option(new java.io.File(tmp).list()).map(_.toSet).getOrElse(Set.empty[String])
      .filter(_.startsWith("graft-"))

  private def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  /** Peak resident set (VmHWM) of this JVM. */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** A JSON string literal. */
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def toJson(r: Result): String = {
    val ms = r.metrics.map { case (k, (v, u)) =>
      s"${str(k)}:{\"value\":${if (v.isNaN || v.isInfinite) "null" else v.toString},\"unit\":${str(u)}}"
    }.mkString("{", ",", "}")
    val cs = r.checks.map { case (n, ok, d) =>
      s"{\"name\":${str(n)},\"ok\":$ok,\"detail\":${str(d.take(400))}}"
    }.mkString("[", ",", "]")
    s"""{"attempted":${r.attempted},"failed":${r.failed},"metrics":$ms,"checks":$cs}"""
  }
}
