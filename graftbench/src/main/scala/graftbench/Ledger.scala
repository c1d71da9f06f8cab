package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import graft.model.JobRegistry

/** The generator's ledger, kept by the job bodies themselves: every job
  * the benchmark enqueues carries its ledger id as its only argument, and
  * its body records when and how often it ran. The checks compare this
  * ledger with what the program reports; they never trust the program's
  * own books alone. Job bodies run on executor threads of this JVM
  * (`local[N]`), so a plain object is shared with them. */
object Ledger {
  val Noop = "gb_noop"
  val FailOnce = "gb_fail_once"
  val Callback = "gb_batch_callback"
  val Instant = "gb_instant"

  val execs = new ConcurrentHashMap[String, AtomicInteger]()
  val successes = new ConcurrentHashMap[String, AtomicInteger]()
  /** Start of the first execution and of the last one, epoch ms. */
  val firstStartMs = new ConcurrentHashMap[String, java.lang.Long]()
  val lastStartMs = new ConcurrentHashMap[String, java.lang.Long]()
  val firstFailMs = new ConcurrentHashMap[String, java.lang.Long]()
  val retryRoundtripMs = new Samples
  /** Batch id → (callback runs, status, epoch ms of the last run). */
  val callbacks = new ConcurrentHashMap[String, (Int, String, Long)]()

  JobRegistry.register(Noop, args => run(args.head.toString, failFirst = false))
  JobRegistry.register(FailOnce, args => run(args.head.toString, failFirst = true))
  JobRegistry.register(Callback, args => {
    val (id, status) = (args.head.toString, args(1).toString)
    callbacks.compute(id, (_, prev) =>
      (Option(prev).map(_._1).getOrElse(0) + 1, status, System.currentTimeMillis()))
    "ok"
  })
  JobRegistry.registerBackoff(Instant, _ => 0)

  /** Forces the registrations above in this JVM. */
  def init(): Unit = ()

  def reset(): Unit = {
    execs.clear(); successes.clear(); firstStartMs.clear(); lastStartMs.clear()
    firstFailMs.clear(); callbacks.clear()
  }

  private def run(id: String, failFirst: Boolean): String = {
    val now = System.currentTimeMillis()
    val n = execs.computeIfAbsent(id, _ => new AtomicInteger).incrementAndGet()
    firstStartMs.putIfAbsent(id, now)
    lastStartMs.put(id, now)
    if (failFirst && n == 1) {
      firstFailMs.put(id, System.currentTimeMillis())
      throw new RuntimeException(s"fails once by design: $id")
    }
    if (failFirst) Option(firstFailMs.get(id)).foreach(t => retryRoundtripMs.add((now - t).toDouble))
    successes.computeIfAbsent(id, _ => new AtomicInteger).incrementAndGet()
    "ok"
  }

  def execCount(id: String): Int = Option(execs.get(id)).map(_.get).getOrElse(0)
  def successCount(id: String): Int = Option(successes.get(id)).map(_.get).getOrElse(0)

  /** Waits until every id has succeeded at least once, or the deadline. */
  def awaitAll(ids: Iterable[String], timeoutMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var pending = ids.filter(successCount(_) == 0).toVector
    while (pending.nonEmpty && System.currentTimeMillis() < deadline) {
      Thread.sleep(50)
      pending = pending.filter(successCount(_) == 0)
    }
    pending.isEmpty
  }

  /** Ids whose execution count is not `expected(id)`, first few. */
  def execMismatches(expected: Iterable[(String, Int)]): Seq[String] =
    expected.iterator.filter { case (id, n) => execCount(id) != n }
      .map { case (id, n) => s"$id ran ${execCount(id)}x, expected ${n}x" }.take(5).toSeq
}
