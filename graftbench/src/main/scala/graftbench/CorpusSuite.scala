package graftbench

import graft.{Bench, SparkEntry}

/** A fixed list of graft's corpus queries (none from EngineE2E), one or
  * more per operator family, weighted to the data-bound ones, over the
  * seeded tables `gen_data.py` wrote. 1 + [[ExtraWarmPasses]] warm passes
  * (counted in set-up), then whole timed passes until the run length is
  * measured, and at least [[MinPasses]]; each query is forced with
  * `Bench.force`. The first warm pass writes the outputs for the DuckDB
  * comparison `run.py` makes. */
object CorpusSuite {
  /** (query, family). */
  val Queries: Vector[(String, String)] = Vector(
    "t01_lang_id" -> "text",
    "d05_lsh_candidate_pairs" -> "dedup",
    "d11_contamination" -> "dedup",
    "p05_quantile_filter" -> "pipeline",
    "s03_ann_ivf" -> "similarity",
    "m04_ahash" -> "multimodal",
    "s25_sql_minhash" -> "sql")
  val Families: Vector[String] = Queries.map(_._2).distinct
  /** Each query's time is the median of at least this many passes. */
  val MinPasses = 2
  /** Forced passes after the first warm pass: a pass's CPU time falls by
    * about 40% over the first four passes, while the JIT compiles the
    * queries' hot paths, and then holds within a few per cent. */
  val ExtraWarmPasses = 3

  def run(ctx: Ctx)(r: Result): Unit = {
    val spark = ctx.spark
    val all = SparkEntry.queries
    val oracles = SparkEntry.oracleSql
    val missing = Queries.map(_._1).filterNot(q => all.contains(q) && oracles.contains(q))
    require(missing.isEmpty, s"queries without a query or oracle: ${missing.mkString(", ")}")
    // the warm pass evaluates each query in full and writes its rows for
    // the oracle comparison run.py makes once the JVM has exited
    val setup0 = System.nanoTime()
    new java.io.File(ctx.outDir).mkdirs()
    Queries.foreach { case (q, f) =>
      ctx.layer(s"warm.$f.$q") {
        all(q)(spark, ctx.dataDir).coalesce(1).write.mode("overwrite").parquet(s"${ctx.outDir}/$q")
      }
    }
    (1 to ExtraWarmPasses).foreach { _ =>
      Queries.foreach { case (q, f) => ctx.layer(s"warm.$f.$q") { Bench.force(all(q)(spark, ctx.dataDir)) } }
    }
    val json = Queries.map { case (q, _) => s"${Main.str(q)}:${Main.str(oracles(q))}" }.mkString("{", ",", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"${ctx.outDir}/oracle_sql.json"), json)
    r.roundSetupS += (System.nanoTime() - setup0) / 1e9
    Log.phase("warm passes")

    val times = Queries.map(_._1 -> new Samples).toMap
    val cpuS = Queries.map(_._1 -> new Samples).toMap
    // planning of the forced plan itself; Bench.force runs no Dataset
    // action, so the execution listener sees only the queries' own actions
    val planMs = Families.map(_ -> new Samples).toMap
    var measured = 0.0
    var passes = 0
    while (passes < MinPasses || measured < ctx.seconds) {
      Queries.foreach { case (q, f) =>
        val t0 = System.nanoTime()
        val cpu0 = Main.cpuSeconds()
        val df = ctx.layer(s"operators.$f.$q") {
          val df = all(q)(spark, ctx.dataDir)
          Bench.force(df)
          df
        }
        val s = (System.nanoTime() - t0) / 1e9
        cpuS(q).add(Main.cpuSeconds() - cpu0)
        times(q).add(s)
        measured += s
        planMs(f).add(df.queryExecution.tracker.phases.values.map(_.durationMs).sum.toDouble)
      }
      passes += 1
    }
    r.attempted += passes.toLong * Queries.size
    Log.phase(s"$passes timed passes")

    // op_ms: the JVM CPU time of one pass, as the sum of per-query
    // medians (with two passes, the lower one)
    r.metric("op_ms", Queries.map(q => cpuS(q._1).pct(50)).sum * 1e3, "ms")
    r.metric("corpus_s", Queries.map(q => times(q._1).pct(50)).sum, "s")
    if (ctx.traced) {
      val t = ctx.trace.get
      org.apache.spark.sql.GraftbenchAccess.drainListeners(spark)
      Queries.foreach { case (q, _) => r.metric(s"operators.$q.s", times(q).pct(50), "s") }
      Families.foreach { f =>
        val p = s"operators.$f."
        r.metric(s"operators.$f.spark_jobs", t.jobsWithPrefix(p).toDouble / passes, "count")
        r.metric(s"operators.$f.task_s", t.taskSOf(p) / passes, "s")
        r.metric(s"operators.$f.shuffle_mb", t.shuffleMbOf(p) / passes, "MB")
        r.metric(s"operators.$f.plan_ms", (planMs(f).sum + t.planExec(p)._1.sum) / passes, "ms")
      }
    }
  }
}
