package graft

import org.apache.spark.sql.SparkSession

/** ONE producer-path stage-profile harness (ADVICE r14: the thread-pool
  * lane runner, warm-up and stage set were duplicated nearly verbatim
  * between ScaleProbe's inline block and QuickProbe's
  * `__producers_profile` case and could drift independently).
  *
  * Splits the per-call enqueue path at 1/4/16 threads with CONSTANT
  * total work per point, so a stage's aggregate rate rising with N means
  * it scales and a flat line names a serialized section:
  *
  *  - `frame_only`         — serialization + CRC on the caller thread
  *                           (the r13 lock-free section; must scale);
  *  - `wal_frame_plus_append` — adds the WAL writer's channel write.
  *                           r14 measured this flat at ~100k/s (one
  *                           monitor-held write per call); r15's group
  *                           commit drains every queued producer's
  *                           frames in one gathering write, so the lane
  *                           must now RISE with N;
  *  - `full_perform_async` — the whole client path (job build, args
  *                           codec, backend bookkeeping) on a fresh
  *                           root per point;
  *  - extended lanes (QuickProbe only): the full path's halves —
  *    client-side build alone, backend enqueueRows alone, and the
  *    per-call conf lookup — for attributing a full-path ceiling.
  */
object ProducersProfile {

  final case class Lane(label: String, total: Int, mk: Int => (Int => Unit))

  /** Aggregate rate of `total` ops split over `nThreads` (ops/s). */
  def point(nThreads: Int, total: Int, op: Int => Unit): Double = {
    val per = total / nThreads
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nThreads)
    val start = new java.util.concurrent.CountDownLatch(1)
    try {
      val fs = (0 until nThreads).map { t =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            start.await()
            var i = 0
            while (i < per) { op(t * per + i); i += 1 }
          }
        })
      }
      val t0 = System.nanoTime()
      start.countDown()
      fs.foreach(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
      total.toDouble / ((System.nanoTime() - t0) / 1e9)
    } finally pool.shutdown()
  }

  /** The lane set over a scratch root. `extended` adds the full-path
    * attribution lanes QuickProbe publishes. Also runs the shared
    * warm-up (JIT the codec + open the WAL writer). */
  def lanes(spark: SparkSession, root: String, extended: Boolean): Seq[Lane] = {
    import graft.model._
    JobRegistry.register("bench_noop", _ => "ok")
    val enc = org.apache.spark.sql.Encoders.product[Job]
    val tmpl = Job("bench_noop", Seq(1), "bench", RetryOpts())
    (1 to 2048).foreach(i => graft.backend.WalStore.append(
      root, "probe_warm", enc, Seq(tmpl.copy(id = s"w$i")), force = false))
    val core = Seq(
      Lane("frame_only", 65536, _ => i => {
        graft.backend.WalStore.frame(enc, Seq(tmpl.copy(id = i.toString))); ()
      }),
      Lane("wal_frame_plus_append", 16000, n => {
        val tbl = s"probe_mp_$n" // fresh table per point: stay under MaxRecords
        i => graft.backend.WalStore.append(
          root, tbl, enc, Seq(tmpl.copy(id = i.toString)), force = false)
      }),
      Lane("full_perform_async", 8192, n => {
        val client = new graft.client.GraftClient(
          new graft.backend.ParquetBackend(spark, s"$root/cli$n"), spark, "bench")
        (1 to 2048).foreach(i => client.performAsync("bench_noop", -i))
        i => { client.performAsync("bench_noop", i); () }
      }))
    if (!extended) core
    else core ++ Seq(
      Lane("client_build_only", 65536, _ => i => {
        val argsJson = ArgsSerializers.active.consistentEncoding(Seq(i)).get
        Job.encoded("bench_noop", argsJson, "bench", RetryOpts(), System.currentTimeMillis()); ()
      }),
      Lane("backend_enqueue_rows", 8192, n => {
        val be = new graft.backend.ParquetBackend(spark, s"$root/be$n")
        (1 to 2048).foreach(i => be.enqueueRows(Seq(tmpl.copy(id = s"w$i"))))
        i => be.enqueueRows(Seq(tmpl.copy(id = i.toString)))
      }),
      Lane("spark_conf_get", 65536, _ => _ => {
        spark.conf.get("graft.wal.fsync", "false"); ()
      }))
  }

  /** Run every lane at 1/4/16 threads; returns
    * (label, Seq(threads -> aggregate rate)). */
  def run(spark: SparkSession, root: String, extended: Boolean)
      : Seq[(String, Seq[(Int, Double)])] =
    lanes(spark, root, extended).map { lane =>
      lane.label -> Seq(1, 4, 16).map(n => n -> point(n, lane.total, lane.mk(n)))
    }
}
