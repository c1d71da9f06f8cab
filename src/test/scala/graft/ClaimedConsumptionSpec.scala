package graft

import graft.backend.CommitLogBackend
import graft.model._
import graft.worker.WorkerEngine
import org.apache.spark.sql.functions._

/** Shared-queue claimed consumption (r14, the BLMOVE / in-progress-queue
  * analog): without claims, two workers consuming the SAME queue would
  * both execute every visible attempt (at-least-once, goose's own
  * guarantee, but systematic 2× under contention); with claims, each
  * micro-batch commits its claim in one manifest version and executes
  * only attempts with no earlier live foreign claim — the log's total
  * order is the arbiter, so the protocol holds across processes too. */
class ClaimedConsumptionSpec extends SparkSpec {
  import spark.implicits._

  private val executions = new java.util.concurrent.atomic.AtomicLong

  private def job(i: Int, q: String = "shared"): Job = Job(
    id = s"c$i", executeFnSym = "claim_count", argsJson = "[]", queue = q,
    readyQueue = q, priority = 0, enqueuedAt = 1700000000000L,
    scheduleRunAt = None, cronRunAt = None, batchId = None,
    retryOpts = RetryOpts(), state = None, seq = Job.nextSeq())

  test("two engines contending on ONE queue execute each attempt exactly once") {
    JobRegistry.register("claim_count", _ => { executions.incrementAndGet(); "ok" })
    executions.set(0)
    val root = tmpDir("graft-claims")
    val n = 300
    val a = new CommitLogBackend(spark, root)
    val b = new CommitLogBackend(spark, root)
    a.enqueue((0 until n).map(job(_)).toDS().repartition(4))
    val ea = new WorkerEngine(a, spark, queue = Some("shared"), claimedConsumption = true)
    val eb = new WorkerEngine(b, spark, queue = Some("shared"), claimedConsumption = true)
    // race the two engines' passes until the queue drains
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fa = pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = { var done = 0L
          (1 to 6).foreach { _ => done += ea.runPass().executed }; done }
      })
      val fb = pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = { var done = 0L
          (1 to 6).foreach { _ => done += eb.runPass().executed }; done }
      })
      val (da, db) = (fa.get(300, java.util.concurrent.TimeUnit.SECONDS),
        fb.get(300, java.util.concurrent.TimeUnit.SECONDS))
      assert(da + db == n, s"pass-reported executions $da+$db != $n")
    } finally pool.shutdown()
    assert(executions.get() == n,
      s"each attempt must run exactly once, ran ${executions.get()}")
    // ...and the completion log agrees: n distinct ids, n total rows
    val done = a.completions.toDF().filter(col("terminalState") === "success")
      .agg(countDistinct(col("jobId")).as("d"), count(lit(1)).as("t")).head()
    assert(done.getLong(0) == n && done.getLong(1) == n)
    assert(a.readyJobs.isEmpty)
  }

  test("a live foreign claim excludes the attempt; an expired one does not") {
    JobRegistry.register("claim_count", _ => { executions.incrementAndGet(); "ok" })
    val root = tmpDir("graft-claims")
    val b = new CommitLogBackend(spark, root)
    b.enqueue(Seq(job(1), job(2), job(3)).toDS().coalesce(1))
    val now = System.currentTimeMillis()
    // c1: claimed seconds ago by a live foreign claimant — must be skipped;
    // c2: claimed LONG ago by a dead claimant — lease expired, must run
    b.recordClaims(Seq(
      ClaimEvent("c1", 0, "other-live", now - 1000),
      ClaimEvent("c2", 0, "other-dead", now - WorkerEngine.ClaimLeaseMs - 60000)))
    val e = new WorkerEngine(b, spark, queue = Some("shared"), claimedConsumption = true)
    val stats = e.runPass()
    assert(stats.executed == 2, s"c2 (expired lease) and c3 must run: $stats")
    val doneIds = b.completions.collect().map(_.jobId).toSet
    assert(doneIds == Set("c2", "c3"))
    // the foreign claim ages out: a later pass picks c1 up — simulate by
    // recording time passing via a fresh engine after expiring the claim
    // (claims are immutable; expiry is read-side, so just wait it out
    // with a backdated second claim scenario instead of sleeping: c1's
    // claim is still young here, so it stays excluded)
    assert(e.runPass().executed == 0, "young foreign claim still excludes c1")
  }

  test("streaming worker with claims drains retries to death (probe regression)") {
    // The r14 10x probe's shared-queue lane lost 996/1000 retries. The
    // cause was the probe harness, not the engine: a TICKING test clock
    // (clock.addAndGet(1)) is cloned into each serialized task closure,
    // so executor-side now() stamps retryAt into the DRIVER clock's
    // future, and awaitDrained correctly settles with not-yet-due
    // retries pending. A FIXED clock (a constant survives closure
    // cloning coherently) keeps instant retries due; this test pins the
    // streaming + retry + claims flow under that discipline.
    executions.set(0)
    JobRegistry.register("claim_count", _ => { executions.incrementAndGet(); "ok" })
    JobRegistry.register("claim_boom", _ => throw new RuntimeException("boom"))
    JobRegistry.registerBackoff("claim_instant", _ => 0)
    val root = tmpDir("graft-claims")
    val n = 200
    val retry = RetryOpts(maxRetries = 1, retryDelaySecFn = "claim_instant")
    val b = new CommitLogBackend(spark, root)
    val clock = new java.util.concurrent.atomic.AtomicLong(1700000000000L)
    b.enqueue((0 until n).map { i =>
      Job(id = s"r$i",
        executeFnSym = if (i % 10 == 0) "claim_boom" else "claim_count",
        argsJson = "[]", queue = "shared", readyQueue = "shared", priority = 0,
        enqueuedAt = clock.get(), scheduleRunAt = None, cronRunAt = None,
        batchId = None, retryOpts = retry, state = None, seq = Job.nextSeq())
    }.toDS().repartition(2))
    val w = new graft.worker.GraftWorker(b, spark, root,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"),
      maintenanceIntervalMs = 200, queue = Some("shared"), coordinator = true,
      claimedConsumption = true, nowFn = () => clock.get())
    w.start()
    try assert(w.awaitDrained(120000), "claimed streaming drain timed out")
    finally w.stop(graceful = true)
    val byState = b.completions.toDF()
      .groupBy("terminalState").agg(count(lit(1)).as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byState.getOrElse("success", 0L) == n - n / 10, s"books: $byState")
    assert(byState.getOrElse("retrying", 0L) == n / 10, s"books: $byState")
    assert(byState.getOrElse("dead", 0L) == n / 10,
      s"every failed retry must die, books: $byState")
  }

  test("steady-state sharding: established members claim DISJOINT slices") {
    JobRegistry.register("claim_count", _ => { executions.incrementAndGet(); "ok" })
    executions.set(0)
    val root = tmpDir("graft-claims")
    val n = 200
    val a = new CommitLogBackend(spark, root)
    val b = new CommitLogBackend(spark, root)
    val ea = new WorkerEngine(a, spark, queue = Some("shared"), claimedConsumption = true)
    val eb = new WorkerEngine(b, spark, queue = Some("shared"), claimedConsumption = true)
    // establish membership: the first (empty) pass beacons; views refresh
    // on the MembershipRefreshMs cadence, so wait one refresh out
    ea.runPass(); eb.runPass()
    Thread.sleep(WorkerEngine.MembershipRefreshMs + 500)
    a.enqueue((0 until n).map(job(_)).toDS().repartition(4))
    val da = ea.runPass().executed
    val db = eb.runPass().executed
    // with sharding, ea's pass covers ONLY its hash shard (strictly
    // between 0 and n — xxhash64 over 200 ids cannot land one-sided);
    // without it, ea's first pass would claim and execute everything
    assert(da > 0 && da < n, s"ea must execute exactly its shard, got $da of $n")
    assert(da + db == n, s"shards must partition the queue: $da + $db != $n")
    assert(executions.get() == n)
    // disjointness in the log itself (r15 shard claims): NO per-attempt
    // claim rows at all — each pass commits ONE shard-claim row, so the
    // claims table is O(fleet x passes), never O(jobs)
    val all = a.readClaims().collect()
    val perAttempt = all.filter(_.attempt >= 0)
    assert(perAttempt.isEmpty,
      s"sharded steady state must not write per-attempt claims: ${perAttempt.length} rows")
    val shardClaims = all.filter(_.attempt == CommitLogBackend.ShardClaimAttempt)
    assert(shardClaims.map(_.claimantId).distinct.length == 2,
      s"both claimants must have committed shard claims: ${shardClaims.mkString(",")}")
    // and the maps they executed under partition the id space
    assert(shardClaims.flatMap(c => CommitLogBackend.parseShardClaim(c.jobId))
      .forall(_._2 <= 2), s"shard maps bounded by fleet size: ${shardClaims.mkString(",")}")
  }

  test("a beacon renews a claimant's OLD claims past the lease (ADVICE r14)") {
    // Backend-level semantics, deterministic: a claim older than the
    // lease whose claimant beaconed RECENTLY must still exclude; the
    // same-age claim of a silent claimant must not. Before per-claimant
    // liveness, a micro-batch longer than the lease forfeited its claims
    // mid-pass and a contender systematically re-executed them.
    JobRegistry.register("claim_count", _ => { executions.incrementAndGet(); "ok" })
    executions.set(0)
    val root = tmpDir("graft-claims")
    val b = new CommitLogBackend(spark, root)
    b.enqueue(Seq(job(1), job(2)).toDS().coalesce(1))
    val now = System.currentTimeMillis()
    val lease = WorkerEngine.ClaimLeaseMs
    // both claims are 2 leases old; claimant of c1 beaconed within the
    // lease (the mid-pass renewal), claimant of c2 went silent. The
    // beacon is deliberately OLDER than MembershipTtlMs: lease-live but
    // no longer a shard member, so the engine under test still scans
    // the full queue (membership and lease decay independently — a
    // paused worker loses its shard before it loses its claims).
    b.recordClaims(Seq(
      ClaimEvent("c1", 0, "renewing", now - 2 * lease),
      ClaimEvent("c2", 0, "silent", now - 2 * lease)))
    b.recordClaimantBeacon("renewing",
      now - WorkerEngine.MembershipTtlMs - 5000)
    val e = new WorkerEngine(b, spark, queue = Some("shared"), claimedConsumption = true)
    val stats = e.runPass()
    assert(stats.executed == 1,
      s"only the silent claimant's attempt must run: $stats")
    assert(b.completions.collect().map(_.jobId).toSet == Set("c2"))
  }

  test("the renewal thread beacons DURING a pass longer than the lease") {
    executions.set(0)
    JobRegistry.register("claim_slow",
      _ => { Thread.sleep(3000); executions.incrementAndGet(); "ok" })
    val root = tmpDir("graft-claims")
    val b = new CommitLogBackend(spark, root)
    b.enqueue(Seq(job(1).copy(executeFnSym = "claim_slow")).toDS().coalesce(1))
    // lease 1500 → renewal cadence 500 ms; the 3 s job body must see
    // several renewal beacons land while it runs
    val e = new WorkerEngine(b, spark, queue = Some("shared"),
      claimedConsumption = true, claimLeaseMs = 1500)
    assert(e.runPass().executed == 1)
    val beacons = b.readClaims().collect()
      .filter(_.attempt == CommitLogBackend.BeaconAttempt)
    assert(beacons.length >= 3,
      s"renewal must beacon repeatedly during a long pass, saw ${beacons.length}")
    assert(executions.get() == 1)
  }

  test("compact('claims') drops completed claims, keeps unconsumed ones and newest beacons") {
    JobRegistry.register("claim_count", _ => "ok")
    val root = tmpDir("graft-claims")
    val b = new CommitLogBackend(spark, root)
    b.enqueue(Seq(job(1)).toDS().coalesce(1))
    val e = new WorkerEngine(b, spark, queue = Some("shared"), claimedConsumption = true)
    assert(e.runPass().executed == 1)
    // c1 completed: its claim is garbage. An unconsumed foreign claim
    // survives the fold (its attempt may be mid-replay elsewhere). A
    // claimant's liveness BEACONS (r15) fold to the newest per claimant
    // — here a second, older beacon for the engine's claimant must fold
    // away while its newest survives (the lease/membership reads only
    // consult the newest).
    b.recordClaims(Seq(ClaimEvent("c9", 0, "other", System.currentTimeMillis())))
    val newestBeacon = b.readClaims().collect()
      .filter(_.attempt == CommitLogBackend.BeaconAttempt)
      .maxBy(_.claimedAt)
    b.recordClaims(Seq(newestBeacon.copy(claimedAt = newestBeacon.claimedAt - 9999)))
    // the engine's pass also committed a SHARD claim (r15); an older
    // superseded one from the same claimant must fold away too
    val newestShard = b.readClaims().collect()
      .filter(_.attempt == CommitLogBackend.ShardClaimAttempt)
      .maxBy(c => (c.claimedAt, c.jobId))
    b.recordClaims(Seq(newestShard.copy(
      jobId = CommitLogBackend.shardClaimJobId(0, 1),
      claimedAt = newestShard.claimedAt - 9999)))
    b.compact("claims")
    val left = b.readClaims().collect()
    val beacons = left.filter(_.attempt == CommitLogBackend.BeaconAttempt)
    val shards = left.filter(_.attempt == CommitLogBackend.ShardClaimAttempt)
    val claims = left.filter(_.attempt >= 0)
    assert(claims.map(_.jobId).toSeq == Seq("c9"),
      s"completed claim folded away, unconsumed kept: ${left.mkString(",")}")
    assert(beacons.toSeq == Seq(newestBeacon),
      s"exactly the newest beacon per claimant survives: ${beacons.mkString(",")}")
    assert(shards.toSeq == Seq(newestShard),
      s"exactly the newest shard claim per claimant survives: ${shards.mkString(",")}")
  }

  test("the shard release rides the completion commit — one manifest version (r16)") {
    JobRegistry.register("claim_count", _ => "ok")
    val root = tmpDir("graft-claims")
    val b = new CommitLogBackend(spark, root)
    b.enqueue(Seq(job(1), job(2)).toDS().coalesce(1))
    val e = new WorkerEngine(b, spark, queue = Some("shared"), claimedConsumption = true)
    assert(e.runPass().executed == 2)
    // read the raw commit log: exactly ONE commit must carry BOTH the
    // completions add and a claims add (the release) — the old protocol
    // paid a separate release commit after the completions commit
    val logDir = java.nio.file.Paths.get(root, "_log")
    val commits = java.nio.file.Files.list(logDir).iterator()
    val folded = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    commits.forEachRemaining { p =>
      if (p.getFileName.toString.endsWith(".commit"))
        folded += ((p.getFileName.toString, java.nio.file.Files.readString(p)))
    }
    val joint = folded.filter { case (_, txt) =>
      txt.contains("add\tcompletions\t") && txt.contains("add\tclaims\t") }
    assert(joint.size == 1,
      s"exactly one atomic completions+release commit, got ${joint.map(_._1)}")
    // and the release row is REAL: the claimant's newest shard row is a
    // release (n = 0 coverage), so a foreign claimant sees no coverage
    val shards = b.readClaims().collect()
      .filter(_.attempt == CommitLogBackend.ShardClaimAttempt)
    val newest = shards.maxBy(c => (c.claimedAt, c.jobId))
    assert(CommitLogBackend.parseShardClaim(newest.jobId).exists(_._2 == 0),
      s"newest shard row must be the release, got ${newest.jobId}")
    // a second engine claiming afterwards is NOT contended by the
    // finished pass
    val e2 = new WorkerEngine(b, spark, queue = Some("shared"), claimedConsumption = true)
    assert(e2.runPass().executed == 0) // drained; no ShardContended throw
  }

  test("each claimed pass releases its shard claim exactly once") {
    JobRegistry.register("claim_count", _ => "ok")
    JobRegistry.register("claim_boom", _ => throw new RuntimeException("boom"))
    val b = new CommitLogBackend(spark, tmpDir("graft-claims"))
    val e = new WorkerEngine(b, spark, queue = Some("shared"), claimedConsumption = true)
    b.enqueue(Seq(job(1), job(2)).toDS().coalesce(1))
    assert(e.runPass().executed == 2) // release rides the completion commit
    assert(e.runPass().executed == 0) // nothing to commit: standalone release
    b.enqueue(Seq(job(3).copy(executeFnSym = "claim_boom")).toDS().coalesce(1))
    assert(e.runPass().retried == 1) // retry + completion in one pass
    // every shard row in commit order (its jobId leads with the seq): a
    // release-carrying completion commit and a standalone
    // releaseShardClaim each land exactly one release row
    val trail = b.readClaims().collect()
      .filter(_.attempt == CommitLogBackend.ShardClaimAttempt)
      .map(_.jobId).sorted.toSeq
      .map(id => if (CommitLogBackend.parseShardClaim(id).exists(_._2 == 0)) "release"
        else "claim")
    assert(trail == Seq.fill(3)(Seq("claim", "release")).flatten,
      s"every claim must be released exactly once: ${trail.mkString(",")}")
  }
}
