package graft

import graft.backend.{DirectParquetAppend, ParquetBackend}
import graft.model._

/** [[DirectParquetAppend]] — the per-call latency path. The load-bearing
  * property is INTERCHANGEABILITY: a directory holding both driver-written
  * and Spark-task-written part files must read back as one table with one
  * schema, because every backend table mixes the two (per-call client
  * appends + distributed worker appends). */
class DirectAppendSpec extends SparkSpec {
  import spark.implicits._

  private def job(i: Int, failed: Boolean = false): Job =
    Job(
      id = s"j$i", executeFnSym = "noop", argsJson = s"[$i]",
      queue = "q", readyQueue = "q", priority = i % 3,
      enqueuedAt = 1700000000000L + i,
      scheduleRunAt = if (i % 2 == 0) Some(1700000001000L + i) else None,
      cronRunAt = None,
      batchId = if (i % 5 == 0) Some(s"b$i") else None,
      retryOpts = RetryOpts(maxRetries = i % 4,
        retryQueue = if (i % 3 == 0) Some("rq") else None),
      state = if (failed)
        Some(FailureState(error = "boom", retryCount = 2, firstFailedAt = 1L,
          lastRetriedAt = Some(2L), retryAt = None, diedAt = None))
      else None,
      seq = Job.nextSeq())

  test("direct file and Spark-written file read back identically") {
    val root = tmpDir("graft-direct")
    val rows = (1 to 20).map(i => job(i, failed = i % 7 == 0))

    DirectParquetAppend.append(spark, implicitly[org.apache.spark.sql.Encoder[Job]],
      s"$root/direct", rows)
    rows.toDS().coalesce(1).write.parquet(s"$root/sparkw")

    val direct = spark.read.parquet(s"$root/direct").as[Job].collect().sortBy(_.id)
    val viaSpark = spark.read.parquet(s"$root/sparkw").as[Job].collect().sortBy(_.id)
    assert(direct.toSeq == viaSpark.toSeq)
    assert(direct.toSeq == rows.sortBy(_.id))

    // schema parity (names, types, nullability) — the mixed-read contract
    val s1 = spark.read.parquet(s"$root/direct").schema
    val s2 = spark.read.parquet(s"$root/sparkw").schema
    assert(s1 == s2, s"direct schema $s1 != spark schema $s2")
  }

  test("mixed directory: distributed append + direct append read as one table") {
    val root = tmpDir("graft-direct")
    val backend = new ParquetBackend(spark, root)
    val bulk = (1 to 50).map(job(_))
    val percall = (51 to 60).map(job(_))

    backend.enqueue(bulk.toDS().repartition(4)) // distributed path
    // the FILE lane's mixed-read contract is what's under test: a
    // multi-row enqueueRows lands one direct file (a single-row one
    // rides the ready WAL)
    percall.grouped(2).foreach(backend.enqueueRows)

    val got = backend.readyJobs.collect().map(_.id).toSet
    assert(got == (1 to 60).map(i => s"j$i").toSet)
    // no staging residue visible as data
    assert(backend.dataFileCount("ready") >= 5)
  }

  test("client per-call enqueue is visible, durable, and worker-consumable") {
    val root = tmpDir("graft-direct")
    val backend = new ParquetBackend(spark, root)
    val client = new graft.client.GraftClient(backend, spark, "q")
    JobRegistry.register("direct_noop", _ => "ok")

    val ids = (1 to 5).map(i => client.performAsync("direct_noop", i))
    assert(backend.readyJobs.count() == 5)

    val worker = new graft.worker.WorkerEngine(backend, spark, Nil,
      () => 1700000000000L)
    assert(worker.runPass().succeeded == 5)
    assert(backend.completions.select($"jobId").as[String].collect().toSet ==
      ids.toSet)
  }

  test("scheduleRows and control-plane markers land through the direct path") {
    val root = tmpDir("graft-direct")
    val backend = new ParquetBackend(spark, root)

    backend.scheduleRows(Seq(job(1).copy(scheduleRunAt = Some(99L))))
    assert(backend.scheduledJobs.count() == 1)

    backend.tombstone("ready", Seq(("j9", 123L)), "test")
    backend.recordHeartbeat(ProcessHeartbeat("w1", "q", 1L))
    assert(backend.heartbeats.count() == 1)

    backend.upsertCron(Seq(CronEntry("c1", "* * * * *", "UTC",
      JobDescription("noop", "[]", "q", "q", 0, RetryOpts()), 1L)))
    assert(backend.cronEntries.count() == 1)
  }

  test("CommitLogBackend: per-call append commits a manifest version per call") {
    val root = tmpDir("graft-direct")
    val backend = new graft.backend.CommitLogBackend(spark, root)
    val v0 = backend.logVersion
    backend.enqueueRows(Seq(job(1)))
    backend.enqueueRows(Seq(job(2)))
    assert(backend.logVersion == v0 + 2) // one durable commit per call
    assert(backend.readyJobs.collect().map(_.id).toSet == Set("j1", "j2"))
    // vacuum must not eat committed direct files (retention 0 so the
    // linger isn't what protects them)
    assert(backend.vacuum(0) == 0)
    assert(backend.readyJobs.count() == 2)
  }

  test("CommitLogBackend async confirms: direct appends buffer until the barrier") {
    val root = tmpDir("graft-direct")
    val backend = new graft.backend.CommitLogBackend(spark, root,
      confirmMode = graft.backend.ConfirmMode.Async(maxBuffered = 100))
    backend.enqueueRows(Seq(job(1)))
    backend.enqueueRows(Seq(job(2)))
    assert(backend.readyJobs.count() == 0) // invisible pre-confirm
    assert(backend.waitForConfirms() == 2)
    assert(backend.readyJobs.collect().map(_.id).toSet == Set("j1", "j2"))
  }

  test("empty row set is a no-op (no file, no directory churn)") {
    val root = tmpDir("graft-direct")
    val backend = new ParquetBackend(spark, root)
    backend.enqueueRows(Nil)
    assert(backend.dataFileCount("ready") == 0)
  }

  test("append recovers when a cached table dir was deleted out from under it") {
    val root = tmpDir("graft-direct")
    val backend = new ParquetBackend(spark, root)
    // dir-cache retry is a file-lane path: multi-row appends take it
    backend.enqueueRows(Seq(job(1), job(3))) // populates the dir cache
    // external teardown: the whole table dir vanishes
    graft.Scratch.delete(s"$root/ready")
    backend.enqueueRows(Seq(job(2), job(4))) // cache is stale → retry path
    assert(backend.readyJobs.collect().map(_.id).toSet == Set("j2", "j4"))
  }

  test("sweepStaging reclaims stale crash leftovers, keeps young files") {
    val root = tmpDir("graft-direct")
    val backend = new ParquetBackend(spark, root)
    backend.enqueueRows(Seq(job(1), job(2))) // direct file: creates .staging

    val stale = new java.io.File(s"$root/.staging/part-stale.parquet")
    val young = new java.io.File(s"$root/.staging/part-young.parquet")
    Seq(stale, young).foreach { f => f.createNewFile(); () }
    assert(stale.setLastModified(System.currentTimeMillis() - 3600000))

    assert(backend.sweepStaging(olderThanMs = 600000) == 1)
    assert(!stale.exists() && young.exists())
    // visible data untouched
    assert(backend.readyJobs.count() == 2)
  }
}
