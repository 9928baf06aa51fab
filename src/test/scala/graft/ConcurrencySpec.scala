package graft

import org.scalatest.funsuite.AnyFunSuite

/** Concurrent consumers on one session: a shared artifact is built
  * once however many threads miss it together, and keys that share
  * artifacts return the same rows run side by side as run serially.
  */
class ConcurrencySpec extends AnyFunSuite {
  import TestSpark._
  import scala.concurrent.{Await, ExecutionContext, Future}
  import scala.concurrent.duration._

  /** Runs each thunk on its own thread, all released by one barrier. */
  private def together[A](thunks: Seq[() => A]): Seq[A] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(thunks.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val gate = new java.util.concurrent.CyclicBarrier(thunks.size)
    try Await.result(
      Future.sequence(thunks.map(t => Future { gate.await(); t() })), 10.minutes)
    finally pool.shutdown()
  }

  private def builds(name: String): Int =
    graft.plans.SharedState.buildTimes.count(_._1 == name)

  test("4 threads missing one key together share one build") {
    graft.plans.SharedState.reset()
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val got = together(Seq.fill(4)(() =>
      graft.plans.SharedState.cached(spark, "spec.conc", "/d") {
        started.incrementAndGet()
        Thread.sleep(500)
        new Object
      }))
    assert(started.get == 1, s"builder ran ${started.get} times")
    assert(got.forall(_ eq got.head), "threads received different instances")
    assert(builds("spec.conc") == 1, s"buildTimes: ${graft.plans.SharedState.buildTimes}")
    graft.plans.SharedState.reset()
  }

  test("4 keys on one session in parallel equal a serial run; each artifact built once") {
    val keys = Seq("q_pagerank_copart", "q_graph_hops_copart", "q_rank_global", "q_minhash")
    def run(k: String): Seq[String] =
      SparkEntry.queries(k)(spark, sf).collect().map(_.toString).toSeq.sorted
    graft.plans.SharedState.reset()
    val serial = keys.map(run)
    graft.plans.SharedState.reset()
    val parallel = together(keys.map(k => () => run(k)))
    keys.zip(serial.zip(parallel)).foreach { case (k, (a, b)) =>
      assert(a.nonEmpty && a == b, s"$k: parallel rows differ from the serial run")
    }
    val log = graft.plans.SharedState.buildTimes.map(_._1)
    assert(log.nonEmpty && log.distinct == log, s"artifacts built more than once: $log")
    graft.plans.SharedState.reset()
  }
}
