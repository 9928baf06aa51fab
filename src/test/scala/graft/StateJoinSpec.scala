package graft

import org.scalatest.funsuite.AnyFunSuite

/** The size-gated broadcast-vs-copart switch (plans.StateJoin, round
  * 12 — verdict r11 item 2): below `spark.graft.broadcastNodesLimit`
  * the iteration-state joins broadcast; above it they co-partition
  * via shuffle_hash. Pins BOTH plan shapes around the threshold and
  * the value-invariance of the flip (the physical strategy must be
  * invisible in the result — the q_join_skew stance).
  */
class StateJoinSpec extends AnyFunSuite {
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

  /** Collect executed-plan strings while `body` runs (the iteration
    * kernels materialize eagerly via checkpoints, so their join
    * shapes only show up in executed plans, not the returned
    * DataFrame's — the PlanAuditSpec listener pattern).
    */
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
    try { body; Thread.sleep(2000) } // async listener bus drain
    finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq
  }

  private def countIn(plans: Seq[String], needle: String): Int =
    plans.map(needle.r.findAllIn(_).size).sum

  test("copartForCount follows spark.graft.broadcastNodesLimit") {
    assert(!graft.plans.StateJoin.copartForCount(spark, 10L))
    withConf("spark.graft.broadcastNodesLimit" -> "5") {
      assert(graft.plans.StateJoin.copartForCount(spark, 10L))
    }
  }

  test("q_pagerank auto mode: broadcast below the threshold, shuffle-hash copart above, identical ranks") {
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      var below: Array[org.apache.spark.sql.Row] = null
      var above: Array[org.apache.spark.sql.Row] = null
      // default limit (5e7) — the sf node table is far below: broadcast
      val plansBelow = executedPlans {
        below = graft.queries.GraphOps.q_pagerank(spark, sf).collect()
      }
      assert(countIn(plansBelow, "BroadcastHashJoin") >= 3,
        "below-threshold auto mode lost its broadcast iteration joins")
      // limit 1 — every graph is "too big": the SAME key flips to copart
      withConf("spark.graft.broadcastNodesLimit" -> "1") {
        val plansAbove = executedPlans {
          above = graft.queries.GraphOps.q_pagerank(spark, sf).collect()
        }
        assert(countIn(plansAbove, "ShuffledHashJoin") >= 3,
          "above-threshold auto mode did not co-partition the iteration joins")
      }
      assert(below.sortBy(_.getString(0)).toSeq == above.sortBy(_.getString(0)).toSeq,
        "the broadcast->copart flip changed rank values")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("q_graph_hops auto-copart pays the one-time edge re-layout and keeps hop labels") {
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val base = graft.queries.GraphOps.q_graph_hops(spark, sf).collect()
      withConf("spark.graft.broadcastNodesLimit" -> "1") {
        val plans = executedPlans {
          val flipped = graft.queries.GraphOps.q_graph_hops(spark, sf).collect()
          assert(base.sortBy(_.getString(0)).toSeq ==
            flipped.sortBy(_.getString(0)).toSeq,
            "auto-copart changed BFS hop labels")
        }
        assert(countIn(plans, "ShuffledHashJoin") >= 4,
          "auto-copart hops did not shuffle-hash its frontier joins")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("hits + lpa flips preserve values above the threshold") {
    val hitsBase = graft.queries.GraphOps.q_graph_hits(spark, sf).collect()
    val lpaBase = SparkEntry.queries("q_graph_lpa")(spark, sf).collect()
    withConf("spark.graft.broadcastNodesLimit" -> "1") {
      val hitsF = graft.queries.GraphOps.q_graph_hits(spark, sf).collect()
      assert(hitsBase.sortBy(_.getString(0)).toSeq ==
        hitsF.sortBy(_.getString(0)).toSeq,
        "HITS dual-layout copart changed scores")
      val lpaF = SparkEntry.queries("q_graph_lpa")(spark, sf).collect()
      assert(lpaBase.sortBy(_.getLong(0)).toSeq == lpaF.sortBy(_.getLong(0)).toSeq,
        "LPA copart changed labels")
    }
  }
}
