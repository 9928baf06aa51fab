package graft

import org.scalatest.funsuite.AnyFunSuite

/** The size-gated exact-vs-IVF candidate generator of q_knn_graph
  * (round 14 — verdict r13 item 2, the StateJoin precedent): below
  * `spark.graft.knnExactLimit` the corpus×broadcast(corpus) all-pairs
  * pass runs; above it candidates come from the IVF cell generator
  * feeding the identical exact-scoring top-k tail. Pins BOTH plan
  * shapes around the threshold and that the above-gate route is
  * row-identical to q_knn_graph_ivf at the derived cell count (the
  * flip changes RECALL by design — unlike StateJoin there is no
  * value-invariance across the gate, so what the spec pins is that
  * each side is exactly its declared plan, not that the sides agree).
  */
class KnnGateSpec extends AnyFunSuite {
  import TestSpark._

  private def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def executedPlans(body: => Unit): Seq[String] = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.jdk.CollectionConverters._
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      // the listener bus is async: poll until the captured-plan count
      // has been stable for 1.5 s (bounded at 30 s) instead of a fixed
      // sleep, which under CI load could cut the drain short and make
      // the plan-presence assertions flaky (ADVICE r14)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      var last = -1
      var stableSince = System.nanoTime()
      while (System.nanoTime() < deadline &&
          (plans.size != last ||
            System.nanoTime() - stableSince < 1500L * 1000 * 1000)) {
        if (plans.size != last) { last = plans.size; stableSince = System.nanoTime() }
        Thread.sleep(100)
      }
    }
    finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq
  }

  private def countIn(plans: Seq[String], needle: String): Int =
    plans.map(needle.r.findAllIn(_).size).sum

  test("below the gate: the exact all-pairs pass runs (broadcast nested-loop) and equals forced-exact mode") {
    var auto: Array[org.apache.spark.sql.Row] = null
    // sf0.001 sits far below the 65536-row default: auto = exact
    val plans = executedPlans {
      auto = graft.queries.SimilarityOps.q_knn_graph(spark, sf).collect()
    }
    assert(countIn(plans, "BroadcastNestedLoopJoin") >= 1,
      "below-gate auto mode lost its exact corpus-broadcast candidate pass")
    // a limit above any corpus forces the exact route
    val forced = withConf("spark.graft.knnExactLimit" -> Long.MaxValue.toString) {
      graft.queries.SimilarityOps.q_knn_graph(spark, sf).collect()
    }
    assert(auto.nonEmpty && auto.sameElements(forced),
      "auto-below-gate must BE the exact pass")
  }

  test("above the gate: candidates come from the IVF cell equi-join (no nested loop) and equal q_knn_graph_ivf at the derived K") {
    var gated: Array[org.apache.spark.sql.Row] = null
    // limit 0 — every corpus is "too big": the SAME key flips to IVF
    val plans = withConf("spark.graft.knnExactLimit" -> "0") {
      executedPlans {
        gated = graft.queries.SimilarityOps.q_knn_graph(spark, sf).collect()
      }
    }
    assert(countIn(plans, "BroadcastNestedLoopJoin") == 0,
      "above-gate route must not contain the all-pairs nested-loop join")
    assert(gated.nonEmpty, "gated route returned no edges")
    // the gated route must be row-identical to the IVF key at the
    // derived K = max(16, sqrt(n)) over the null-filtered corpus
    val n = {
      import org.apache.spark.sql.functions._
      graft.Tables.embeddings(spark, sf)
        .filter(col("embedding").isNotNull && size(col("embedding")) > 0).count()
    }
    val derivedK = math.max(16, math.sqrt(n.toDouble).toInt)
    val ivf = graft.queries.SimilarityOps
      .q_knn_graph_ivf(spark, sf, kCells = derivedK).collect()
    assert(gated.sameElements(ivf),
      "above-gate route must BE the IVF candidate generator + the same top-k tail")
    // the gate is n <= limit: one row over the limit already takes IVF
    val justOver = withConf("spark.graft.knnExactLimit" -> (n - 1).toString) {
      graft.queries.SimilarityOps.q_knn_graph(spark, sf).collect()
    }
    assert(justOver.sameElements(ivf), "limit n-1 must take the IVF route")
  }
}
