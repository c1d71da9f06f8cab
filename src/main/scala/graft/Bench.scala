package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.backend.ParquetBackend
import graft.model._
import graft.worker.{SchedulerEngine, WorkerEngine}

/** Per-round benchmark (driver-run): every declared query at the target
  * scale factor, plus the end-to-end job-pipeline throughput measurement
  * mirroring the reference perf workload — 100k no-op jobs, 1% failing
  * once and retried (reference perf/goose/core.clj:10-24; BASELINE.md:
  * 8,300 jobs/sec, 12 s for 100k).
  *
  * Queries are warmed once at sf0.001 (plan compilation + JIT; the
  * reference bench also measures after criterium warm-up,
  * perf/goose/core.clj:39-53) and then timed at the target SF.
  */
object Bench {
  /** Honest forcing for timing: execute the query's OWN optimized plan and
    * count the produced InternalRows. `df.count()` instead plants a new
    * Aggregate(count(1)) on top and lets Catalyst prune columns — and for
    * outer joins against a unique-keyed side, the join itself — so a bench
    * forced by count() can under-measure an operator by 4× (measured on
    * d24: count 0.57 s vs full evaluation 2.30 s warm). toRdd.count()
    * evaluates every declared column of every row without shipping rows
    * to the driver.
    */
  def force(df: org.apache.spark.sql.DataFrame): Long = df.queryExecution.toRdd.count()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // Cap driver-side status retention: 3 passes × ~100 fixtures retain
      // thousands of execution/job/stage records by default, and that
      // heap pressure bleeds into the LAST samples of each pass (the
      // standalone pipeline probe reads ~3.1 s where the in-suite median
      // read 4.5 s). Observability bloat is not engine speed; keep the
      // bench measuring the latter.
      .config("spark.sql.ui.retainedExecutions", "32")
      .config("spark.ui.retainedJobs", "200")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "2000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // Scratch accounting: every fixture deletes its temp dirs on
    // completion (EngineE2E.withScratch / Scratch.withDir) — snapshot the
    // tmp root before the run so any dir that survives the run is caught
    // and published as a loud sentinel instead of silently accumulating
    // into the next pass's timings.
    // Host-condition telemetry: this bench runs on a shared VM whose
    // EFFECTIVE core count varies with hypervisor overcommit (measured
    // swinging between ~11 and ~32 of 32 visible cores within one day,
    // inflating every wall time ~1.5× uniformly). Publish a measured
    // parallel-throughput figure at start and end of the run so
    // round-over-round comparisons can separate engine regressions from
    // host weather: effective_cores ≈ threads × serial_time / parallel_time
    // for a fixed CPU-bound loop.
    // Each probe point is the BEST of two back-to-back samples: the
    // probe shares the JVM with Spark, and right after session init (C2
    // compiling thousands of Spark methods on background threads) or
    // right after a pass (GC, executor-thread wind-down) the FIRST
    // sample undercounts even on an idle host — the r11 first attempt
    // measured 12.3 at startup while /proc/stat external load during
    // the very next pass was 0.3 cores. Genuine hypervisor contention
    // depresses both samples; a self-induced transient clears by the
    // second. The gate still takes min over probe POINTS.
    def effectiveCores(): Double = {
      def burn(): Long = {
        var s = 0L; var i = 0
        while (i < 20000000) { s += i * 31 + (i ^ s); i += 1 }
        s
      }
      burn() // JIT warm
      def sample(): Double = {
        val serial = { val t0 = System.nanoTime(); burn(); (System.nanoTime() - t0) / 1e9 }
        val threads = Runtime.getRuntime.availableProcessors()
        val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
        try {
          val t0 = System.nanoTime()
          (1 to threads).map(_ => pool.submit(new java.util.concurrent.Callable[Long] {
            def call(): Long = burn()
          })).foreach(_.get())
          val parallel = (System.nanoTime() - t0) / 1e9
          threads * serial / parallel
        } finally pool.shutdown()
      }
      math.max(sample(), sample())
    }
    val coresBefore = effectiveCores()

    // DURING-pass external-load telemetry (VERDICT r10 #3: the r10
    // disturbance hit BETWEEN the burn probes — during the sf0.001 pass
    // and the enqueue bench — and the min-of-4 gate sampled 17-21 and
    // passed a 30× enqueue collapse). Burn probes can only run while
    // Spark is idle; this instead reads /proc/stat around each timed
    // section and subtracts THIS process's jiffies, yielding the
    // external (non-graft) core-seconds burned while the section ran —
    // measurable DURING the work with no self-confounding.
    def cpuSnapshot(): (Long, Long, Long) = {
      // take(8): user nice system idle iowait irq softirq steal — the
      // trailing guest/guest_nice fields are ALREADY counted inside
      // user/nice and would double-count VM guests into "busy"
      val host = scala.io.Source.fromFile("/proc/stat").getLines().next()
        .trim.split("\\s+").drop(1).take(8).map(_.toLong)
      val idle = host(3) + host(4) // idle + iowait
      val busy = host.sum - idle
      // fields after the parenthesized comm — comm may contain spaces,
      // which would shift a naive split(" ") indexing
      val selfStat = scala.io.Source.fromFile("/proc/self/stat").mkString
      val self = selfStat.substring(selfStat.lastIndexOf(')') + 2).split(" ")
      // utime/stime are fields 14/15 of the full line = 11/12 after comm
      (busy, self(11).toLong + self(12).toLong, System.nanoTime())
    }
    val jiffiesPerSec = 100.0 // USER_HZ on linux
    // Disk-weather telemetry (VERDICT r13 what's-wrong #3: write-heavy
    // fixtures blew 3-8× past the CPU weather band while the burn probe —
    // CPU-only — read mild, leaving the blowout unattributable). Two
    // readings per timed section, from /proc/diskstats (whole physical
    // disks only — vd*/sd*/xvd*/nvme* — partitions and dm- would
    // double-count the same sectors) and /proc/self/io:
    //  - disk_util: fraction of the section's wall time the device was
    //    servicing ANY request (Δ io_ms / elapsed); ~1.0 = saturated;
    //  - external_io_mb_s: host bytes moved minus THIS process's bytes,
    //    per second — someone else's data volume on the shared device.
    // Writeback attribution is async (self page-cache writes surface as
    // host sectors seconds later), so these are attribution aids
    // published beside the CPU readings, not a new contention gate.
    def ioSnapshot(): (Long, Long, Long) = {
      val disks = scala.io.Source.fromFile("/proc/diskstats").getLines()
        .map(_.trim.split("\\s+"))
        .filter(t => t.length > 12 && t(2).matches("(sd|vd|xvd)[a-z]+|nvme\\d+n\\d+"))
        .toSeq
      val hostBytes = disks.map(t => (t(5).toLong + t(9).toLong) * 512L).sum
      val ioMs = disks.map(_(12).toLong).sum
      val self = scala.io.Source.fromFile("/proc/self/io").getLines()
        .map(_.split(":\\s*")).collect {
          case Array("read_bytes", v) => v.toLong
          case Array("write_bytes", v) => v.toLong
        }.sum
      (hostBytes, ioMs, self)
    }
    val extIoMb = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val diskUtil = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    /** Average EXTERNAL cores busy while `f` ran (host busy minus self);
      * also records the section's disk-weather readings under `key`. */
    def withExternalLoad[A](key: String)(f: => A): (A, Double) = {
      val (b0, s0, t0) = cpuSnapshot()
      val (h0, m0, io0) = ioSnapshot()
      val r = f
      val (b1, s1, t1) = cpuSnapshot()
      val (h1, m1, io1) = ioSnapshot()
      val elapsed = math.max((t1 - t0) / 1e9, 1e-3)
      val ext = ((b1 - b0) - (s1 - s0)) / jiffiesPerSec / elapsed
      extIoMb(key) = math.max((h1 - h0) - (io1 - io0), 0L) / 1048576.0 / elapsed
      diskUtil(key) = math.min((m1 - m0) / 1e3 / elapsed, 1.0)
      (r, math.max(ext, 0.0))
    }

    val tmpRoot = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    def scratchDirs(): Set[String] = {
      val s = java.nio.file.Files.list(tmpRoot)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString)
          .filter(n => n.startsWith("graft-") || n.startsWith("probe-")).toSet
      } finally s.close()
    }
    val scratchBefore = scratchDirs()

    // Warm-up pass at the smallest SF: compiles every plan, loads parquet
    // footers, JITs codegen — measures engine speed, not JVM cold start.
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR",
      java.nio.file.Paths.get(sfDir).resolveSibling("sf0.001").toString)
    SparkEntry.queries.foreach { case (_, fn) =>
      try force(fn(spark, warmDir))
      catch { case _: Throwable => }
    }

    // Median-of-3 per query, sampled as three FULL passes over the suite
    // (criterium-style multi-sample, reference perf/goose/core.clj:39-53;
    // the median — unlike best-of — is robust on BOTH sides, so one GC
    // pause or one suspiciously-idle host window moves nothing). Whole-
    // suite passes put minutes between any one query's samples, so a
    // multi-minute host-contention window degrades at most one of them;
    // back-to-back samples would all land inside it. `value` is the sum
    // of medians (comparable round over round); `wall_sec` is the real
    // elapsed time of the timed section, kept separate per the same
    // measure-don't-guess rule the queries live under.
    // A query that THROWS records the NEGATED elapsed time — a loud
    // sentinel in the published artifact (a positive number would read
    // as "ran fine in time-to-failure seconds").
    // Errored names tracked PER SCALE POINT (ADVICE r7: the artifact
    // published one merged list, making the sf0.001 tail unauditable).
    val errors = scala.collection.mutable.LinkedHashSet.empty[String]
    val errorsSf001 = scala.collection.mutable.LinkedHashSet.empty[String]
    def timeQuery(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        dir: String, errSink: scala.collection.mutable.LinkedHashSet[String]): (String, Double) = {
      val t0 = System.nanoTime()
      val ok = try { force(fn(spark, dir)); true }
        catch { case _: Throwable => errSink += name; false }
      val sec = (System.nanoTime() - t0) / 1e9
      name -> (if (ok) sec else -sec)
    }
    def pass(): Seq[(String, Double)] =
      SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        timeQuery(name, fn, sfDir, errors)
      }
    def median3(xs: Seq[Double]): Double = xs.sorted.apply(1)
    // Storage-memory sentinel: count of RDDs still holding blocks after
    // each pass. r6's eager fixture localCheckpoints pushed ~60
    // checkpointed results per session into the block manager (freed
    // only by driver GC) and the pressure landed on whatever ran last —
    // the sf0.01 tail. Published so boundedness is a measured fact.
    def storedRdds(): Int = spark.sparkContext.getRDDStorageInfo.length
    val storedPerPass = scala.collection.mutable.ArrayBuffer.empty[Int]
    val wall0 = System.nanoTime()
    val coresMid = scala.collection.mutable.ArrayBuffer.empty[Double]
    val extLoads = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // Pipeline probe telemetered SEPARATELY from the query pass (VERDICT
    // r11 #8: the jobs/s weather band is ±20% between same-code samples —
    // per-probe external-load readings let a future delta be attributed
    // to code vs host in one read instead of re-running on a quiet host).
    val samples = (1 to 3).map { i =>
      val (r, ext) = withExternalLoad(s"pass$i")(pass())
      extLoads(s"pass$i") = ext
      val (pipe, pipeExt) = withExternalLoad(s"pipeline$i")(benchJobPipeline(spark))
      extLoads(s"pipeline$i") = pipeExt
      storedPerPass += storedRdds()
      // Mid-pass probes (VERDICT r8 #4): endpoint-only sampling let a
      // contention window inside the timed section pass the gate.
      if (i < 3) coresMid += effectiveCores()
      (r, pipe)
    }
    val wallSec = (System.nanoTime() - wall0) / 1e9
    val names = samples.head._1.map(_._1)
    val byQuery = samples.map(_._1.toMap)
    val results = names.map(n => n -> median3(byQuery.map(_(n))))
    val pipeline = samples.map(_._2).sortBy(_._1).apply(1)

    // Per-call enqueue (VERDICT r4-r6 `weak`): median of 3 for each mode,
    // each sample under its OWN external-load reading (VERDICT r11 #8) —
    // the r10 collapse hit exactly one of these windows and a merged
    // reading averaged it away.
    val enq = (1 to 3).map { i =>
      val (s, ext) = withExternalLoad(s"enqueue$i")(benchEnqueue(spark))
      extLoads(s"enqueue$i") = ext
      s
    }
    val enqSync = enq.map(_._1).sorted.apply(1)
    val enqBuf = enq.map(_._2).sorted.apply(1)

    // Multi-producer per-call lane (VERDICT r12 #3): goose's reference
    // perf client publishes from 25 threads; this lane measures N
    // producer threads sharing ONE client against one backend root, at
    // constant total work per point, so the fields compare as aggregate
    // throughput. The per-call WAL serializes appends on the table
    // writer's monitor — these numbers price that section's scaling,
    // published instead of asserted.
    val enqProducers = Seq(1, 4, 16).map { n =>
      val (rate, ext) = withExternalLoad(s"enqueue_p$n")(benchEnqueueProducers(spark, n))
      extLoads(s"enqueue_p$n") = ext
      n -> rate
    }

    val all = results :+ ("pipeline_noop_100k" -> pipeline._1)

    // Second scale point: ONE pass over the pure-query surface at sf0.01
    // (engine-fixture queries excluded — their cost is stream startup and
    // drain, not data volume, so a second SF tells nothing). Published in
    // BENCH.json as queries_sf001 so per-query scale sensitivity
    // (t(sf0.1)/t(sf0.01) drifting between rounds) is visible in the
    // official artifact, not only in the SCALING.md probes.
    // Path derived from sfDir (env-overridable) so a host without the
    // default layout doesn't silently publish time-to-failure numbers.
    val sf001Dir = sys.env.getOrElse("SPARK_GRAFT_SF001_DIR",
      java.nio.file.Paths.get(sfDir).resolveSibling("sf0.01").toString)
    val fixtureNames = graft.operators.EngineE2E.queries.keySet
    val (sf001, sf001Ext) = withExternalLoad("sf001")(
      if (!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(sf001Dir))) Nil
      else SparkEntry.queries.toSeq.sortBy(_._1)
        .filterNot { case (n, _) => fixtureNames(n) }
        .map { case (name, fn) => timeQuery(name, fn, sf001Dir, errorsSf001) })
    // a skipped section is near-instant: its clamped 1 ms window would
    // turn ONE background jiffy into "10 external cores" and flag a
    // quiet run contended — no section, no external-load claim
    extLoads("sf001") = if (sf001.isEmpty) 0.0 else sf001Ext
    if (sf001.isEmpty) { extIoMb("sf001") = 0.0; diskUtil("sf001") = 0.0 }

    def qjson(rows: Seq[(String, Double)]): String =
      rows.map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
    def sjson(xs: Iterable[String]): String =
      xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = all.map(_._2).sum
    val totalSf001 = sf001.map(_._2).sum
    val sf001Skipped = sf001.isEmpty
    // The loud sentinels: queries that threw in ANY pass (a median of 3
    // can hide a single-pass failure behind two green samples), and
    // scratch dirs that survived the run (every producer routes through
    // Scratch.withDir — a non-empty list here is a leak regression).
    val leakedScratch = (scratchDirs() -- scratchBefore).toSeq.sorted
    val coresAfter = effectiveCores()
    // Contention gate (VERDICT r7 #3, tightened r9 per VERDICT r8 #4):
    // r7's official run measured [14.2, 9.6] effective cores of 32 —
    // 2-3× hypervisor oversubscription that silently regressed every
    // wall time ~40% — and r8's max()-gate passed a run whose first
    // probe WAS below half. The gate is now the honest one: FOUR probes
    // (before, after each of the first two sample passes, after), and
    // ANY probe below half the visible cores flags the artifact
    // CONTENDED — its timings are host weather, to be re-sampled on a
    // quiet host, not compared round-over-round. All probes are
    // published for finer judgement.
    val visibleCores = Runtime.getRuntime.availableProcessors().toDouble
    val coreProbes = coresBefore +: coresMid.toSeq :+ coresAfter
    // Three independent trips (VERDICT r10 #3 — the min-of-4 burn gate
    // missed a mid-run disturbance that collapsed the enqueue lanes 30×
    // and the sf0.001 pass 2.5×):
    //  (a) burn probes between sections (the r9 gate, kept);
    //  (b) external load measured DURING each timed section via
    //      /proc/stat deltas minus self — >1/8 of the machine busy with
    //      someone else's work while a section ran flags it;
    //  (c) cross-round sanity diff: totals >1.5× (or enqueue rates
    //      <1/1.5×) of the last committed artifact are host weather
    //      until proven otherwise — re-run on a quiet host.
    val burnContended = coreProbes.min < visibleCores / 2
    val extContended = extLoads.values.exists(_ > visibleCores / 8)
    // Numeric scale factor parsed from the dir name ("sf0.1" → 0.1) plus
    // the raw path — ADVICE r7: one artifact carried the path string and
    // another the number, forcing consumers to special-case the field.
    val sfNum = "sf([0-9.]+)".r.findFirstMatchIn(
      java.nio.file.Paths.get(sfDir).getFileName.toString)
      .map(_.group(1).toDouble).getOrElse(-1.0)
    val priorPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_PRIOR", "BENCH.json"))
    def priorField(field: String): Option[Double] =
      if (!java.nio.file.Files.isReadable(priorPath)) None
      else ("\"" + field + "\":(-?[0-9.]+)").r
        .findFirstMatchIn(java.nio.file.Files.readString(priorPath))
        .map(_.group(1).toDouble).filter(_ > 0)
    // Per-query map from a prior artifact ("queries" / "queries_sf001"
    // JSON objects — flat string→number, no nesting, so a brace scan
    // bounds the body).
    def priorQueryMap(field: String): Map[String, Double] =
      if (!java.nio.file.Files.isReadable(priorPath)) Map.empty
      else {
        val txt = java.nio.file.Files.readString(priorPath)
        val key = "\"" + field + "\":{"
        val i = txt.indexOf(key)
        val j = if (i < 0) -1 else txt.indexOf('}', i)
        if (i < 0 || j < 0) Map.empty
        else "\"([A-Za-z0-9_]+)\":(-?[0-9.]+)".r
          .findAllMatchIn(txt.substring(i + key.length - 1, j))
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    // The prior is only comparable at the SAME scale factor: diffing a
    // sf0.1 run against a sf1 artifact would read the honest sf change
    // as "contended" (and a real regression at a smaller sf as clean)
    val priorComparable = priorField("sf").exists(p => math.abs(p - sfNum) < 1e-9)
    // Suite-drift-proof cross-round trip (r11 review find: the total-sum
    // diff flagged legitimate suite GROWTH — this very round added
    // d26/s29/s30/q53 — as weather, and a single-query code regression
    // large enough to move the total also read as weather). The MEDIAN
    // per-query ratio over the INTERSECTION of query names moves only
    // when the broad mass of unchanged queries slows down — which is a
    // host disturbance, not a code change; a real single-operator
    // regression leaves the median flat and shows up in the per-query
    // diff instead. Totals stay as a fallback when the prior artifact
    // predates per-query detail.
    def medianRatio(cur: Seq[(String, Double)], prior: Map[String, Double]): Option[Double] = {
      val rs = cur.collect {
        case (n, v) if prior.get(n).exists(_ > 0.05) && v > 0 => v / prior(n)
      }.sorted // >0.05 s floor: sub-50 ms queries ratio on scheduler noise
      if (rs.size < 10) None else Some(rs(rs.size / 2))
    }
    val priorQ = priorQueryMap("queries")
    val priorQ001 = priorQueryMap("queries_sf001")
    val crossRound = if (!priorComparable) Nil else Seq(
      medianRatio(all, priorQ).map(_ > 1.5).orElse(
        priorField("value").map(p => total > 1.5 * p)),
      medianRatio(sf001, priorQ001).map(_ > 1.5).orElse(
        priorField("total_sf001").map(p => totalSf001 > 1.5 * p)),
      priorField("enqueue_percall_jobs_sec").map(p => enqSync < p / 1.5),
      priorField("enqueue_buffered_jobs_sec").map(p => enqBuf < p / 1.5)
    ).flatten
    val crossContended = crossRound.exists(identity)
    val contended = burnContended || extContended || crossContended
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH.json")
    def toJson(rows: Seq[(String, Double)], withSf001Detail: Boolean): String = {
      val extra = if (withSf001Detail) f""","queries_sf001":${qjson(sf001)}"""
        else f""","detail_file":"$outFile""""
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":${qjson(rows)},"jobs_per_sec":${pipeline._2}%.0f,"jobs_per_sec_samples":${samples.map(s => f"${s._2._2}%.0f").mkString("[", ",", "]")},"enqueue_percall_jobs_sec":$enqSync%.0f,"enqueue_buffered_jobs_sec":$enqBuf%.0f,"enqueue_percall_samples":${enq.map(e => f"${e._1}%.0f").mkString("[", ",", "]")},"enqueue_buffered_samples":${enq.map(e => f"${e._2}%.0f").mkString("[", ",", "]")},"enqueue_producers":${enqProducers.map { case (n, r) => "\"p" + n + f"\":$r%.0f" }.mkString("{", ",", "}")},"n_queries":${all.size},"samples":3,"wall_sec":$wallSec%.1f,"total_sf001":$totalSf001%.3f,"sf001_skipped":$sf001Skipped,"errored":${sjson(errors)},"errored_sf001":${sjson(errorsSf001)},"leaked_scratch":${sjson(leakedScratch)},"stored_rdds_per_pass":${storedPerPass.mkString("[", ",", "]")},"effective_cores":${coreProbes.map(c => f"$c%.1f").mkString("[", ",", "]")},"external_load_cores":${extLoads.map { case (k, v) => "\"" + k + f"\":$v%.1f" }.mkString("{", ",", "}")},"external_io_mb_s":${extIoMb.map { case (k, v) => "\"" + k + f"\":$v%.1f" }.mkString("{", ",", "}")},"disk_util":${diskUtil.map { case (k, v) => "\"" + k + f"\":$v%.2f" }.mkString("{", ",", "}")},"contended":$contended,"contended_burn":$burnContended,"contended_external":$extContended,"contended_crossround":$crossContended,"sf":$sfNum%.3f,"sf_path":"$sfDir"$extra}"""
    }
    // Full per-query detail → BENCH.json (env-overridable path). Stdout
    // gets a COMPACT line (slowest 10 queries only, plus a detail_file
    // pointer): the harness keeps a ~2k-char tail of the sbt log, and the
    // full 100+-query line overflows it, truncating the JSON mid-object —
    // that is exactly the "parsed": null of BENCH_r01-r03 and the
    // 10-of-104 "parsed" of BENCH_r07.
    val full = toJson(all, withSf001Detail = true)
    println(toJson(all.sortBy(-_._2).take(10).sortBy(_._1), withSf001Detail = false))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), full + "\n")
    spark.stop()
  }

  /** 100k no-op jobs, 1% throwing once then retried (maxRetries=1):
    * bulk enqueue → worker pass → promote retries → second pass.
    * Returns (seconds, jobs/sec over first-pass executions). */
  def benchJobPipeline(spark: SparkSession, n: Int = 100000): (Double, Double) =
    graft.Scratch.withDir("graft-bench") { root =>
      import spark.implicits._
      JobRegistry.register("bench_noop", _ => "ok")
      JobRegistry.register("bench_flaky", _ => throw new RuntimeException("bench"))
      JobRegistry.registerBackoff("bench_instant", _ => 0)

      val backend = new ParquetBackend(spark, root)
      val clock = new java.util.concurrent.atomic.AtomicLong(1700000000000L)
      val worker = new WorkerEngine(backend, spark, Nil, () => clock.get())
      val sched = new SchedulerEngine(backend, spark, () => clock.get())
      val retry = RetryOpts(maxRetries = 1, retryDelaySecFn = "bench_instant")

      // Partition count follows data volume (12.5k jobs/slice), not core
      // count: 32 tasks over 20 MB is scheduling overhead, not parallelism.
      // A 100 TB backfill would arrive in thousands of such slices.
      val jobs = spark.range(0, n, 1, math.max(8, n / 12500)).map { i =>
        Job(
          id = i.toString,
          executeFnSym = if (i % 100 == 0) "bench_flaky" else "bench_noop",
          argsJson = "[]", queue = "bench", readyQueue = "bench", priority = 0,
          enqueuedAt = 1700000000000L, scheduleRunAt = None, cronRunAt = None,
          batchId = None, retryOpts = retry, state = None, seq = Job.nextSeq())
      }

      val t0 = System.nanoTime()
      backend.enqueue(jobs)
      worker.runPass() // 100k executions; 1k failures → scheduled
      clock.addAndGet(1000)
      sched.promoteDue() // 1k retries to the front
      worker.runPass() // retries fail again → dead (skip via maxRetries=1? they die)
      val sec = (System.nanoTime() - t0) / 1e9
      (sec, n / sec)
    }

  /** Per-call client enqueue, both modes (the reference's headline
    * throughput INCLUDES per-job enqueues at ~2 ms each — Redis LPUSH,
    * BASELINE.md, perf/goose/redis/load.clj:57-62):
    *
    *  - sync: N sequential [[graft.client.GraftClient.performAsync]]
    *    calls, each a visible-and-durable one-row append to the ready
    *    WAL ([[graft.backend.WalStore]]), published so the per-call cost
    *    is measured, not guessed.
    *  - buffered: N calls through [[graft.client.BufferingClient]]
    *    (group commit, RMQ async-confirm semantics) + final flush.
    *
    * Returns (syncJobsPerSec, bufferedJobsPerSec). */
  /** nSync sized for the r9 WAL-ready lane (~0.5 ms/call): 128 calls
    * finished in ~60 ms, inside timer/JIT noise; 1024 gives a ~0.5 s
    * window at the current rate. */
  /** Measures STEADY-STATE enqueue throughput — the rate a deployment
    * doing millions of enqueues actually sees — not a JIT transient.
    * The r11 diagnosis: on one idle-host JVM, back-to-back calls of the
    * old 1024-call/1-warm version measured 13k → 34k → 55k jobs/s
    * (tiered compilation still promoting the write path), so the
    * published number was whatever tier C2 happened to reach when the
    * bench ran — 40.3k and 22.1k on the SAME commit across two official
    * runs. Each lane now runs a full-length UNTIMED warm pass first
    * (2×nSync / 1×nBuf calls puts the loop past the C2 threshold), then
    * times nSync/nBuf calls; the outer median-of-3 stays as the host-
    * weather guard. Cost: <1 s of a ~10-min bench. */
  def benchEnqueue(spark: SparkSession, nSync: Int = 4096,
      nBuf: Int = 20000): (Double, Double) =
    graft.Scratch.withDir("graft-bench-enq") { root =>
      JobRegistry.register("bench_noop", _ => "ok")
      val sync = new graft.client.GraftClient(
        new ParquetBackend(spark, s"$root/sync"), spark, "bench")
      var w = 0
      while (w < 2 * nSync) { sync.performAsync("bench_noop", w); w += 1 }
      val t0 = System.nanoTime()
      var i = 0
      while (i < nSync) { sync.performAsync("bench_noop", i); i += 1 }
      val syncSec = (System.nanoTime() - t0) / 1e9

      val buffered = new graft.client.BufferingClient(
        new ParquetBackend(spark, s"$root/buf"), spark, "bench",
        flushEvery = 5000)
      var v = 0
      while (v < nBuf) { buffered.performAsync("bench_noop", v); v += 1 }
      val t1 = System.nanoTime()
      var j = 0
      while (j < nBuf) { buffered.performAsync("bench_noop", j); j += 1 }
      buffered.close()
      val bufSec = (System.nanoTime() - t1) / 1e9
      (nSync / syncSec, nBuf / bufSec)
    }

  /** Aggregate per-call enqueue rate with `nThreads` producers sharing
    * ONE client on one fresh backend root (VERDICT r12 #3 — the goose
    * 25-thread perf-client shape). Constant total work (`total` calls)
    * regardless of N, split across the threads, so points compare as
    * aggregate throughput; sized with the warm-up to stay under the WAL
    * record cap (no fold inside the timed window — same discipline as
    * the single-producer lane). */
  def benchEnqueueProducers(spark: SparkSession, nThreads: Int,
      total: Int = 8192): Double =
    graft.Scratch.withDir("graft-bench-enqp") { root =>
      JobRegistry.register("bench_noop", _ => "ok")
      val client = new graft.client.GraftClient(
        new ParquetBackend(spark, s"$root/mp"), spark, "bench")
      var w = 0
      while (w < 4096) { client.performAsync("bench_noop", w); w += 1 }
      val per = total / nThreads
      val pool = java.util.concurrent.Executors.newFixedThreadPool(nThreads)
      val start = new java.util.concurrent.CountDownLatch(1)
      try {
        val tasks = (0 until nThreads).map { _ =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            def call(): Unit = {
              start.await()
              var i = 0
              while (i < per) { client.performAsync("bench_noop", i); i += 1 }
            }
          })
        }
        val t0 = System.nanoTime()
        start.countDown()
        tasks.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
        (per.toLong * nThreads) / ((System.nanoTime() - t0) / 1e9)
      } finally pool.shutdown()
    }
}
