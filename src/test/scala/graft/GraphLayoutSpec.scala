package graft

import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.execution.{QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
import org.scalatest.funsuite.AnyFunSuite

/** Layout and route contracts of the graph kernels, read from the
  * executed plans of every query execution a key runs (the kernels
  * checkpoint eagerly, so their joins only show up there):
  *  - the copart kernels' edge table carries its hashpartitioning(src)
  *    through [[graft.plans.Ckpt.maybePartitioned]], so no iteration
  *    join re-exchanges the edges, and no build turns AQE off to get
  *    there;
  *  - past `spark.graft.broadcastEdgesLimit` the triangle closure
  *    takes the shuffle semi join and returns the same rows.
  */
class GraphLayoutSpec extends AnyFunSuite {
  import TestSpark._

  private def executions(body: => Unit): Seq[QueryExecution] = {
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.jdk.CollectionConverters._
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = seen.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { body; org.apache.spark.ListenerBusDrain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    seen.asScala.toSeq
  }

  /** Children as executed: AQE roots, query stages and reused
    * exchanges hide their plans from `children`. */
  private def kids(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case s: QueryStageExec => Seq(s.plan)
    case r: ReusedExchangeExec => Seq(r.child)
    case other => other.children
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: kids(p).flatMap(nodes)

  private def isEdgeScan(p: SparkPlan): Boolean = p match {
    case r: RDDScanExec => Set("src", "dst", "deg").subsetOf(r.output.map(_.name).toSet)
    case _ => false
  }

  /** One entry per join-free path from `p` down to the edge scan:
    * whether that path passes an exchange. */
  private def edgePaths(p: SparkPlan, exchanged: Boolean = false): Seq[Boolean] =
    p match {
      case _: BaseJoinExec => Nil
      case _ if isEdgeScan(p) => Seq(exchanged)
      case _: ShuffleExchangeLike => kids(p).flatMap(edgePaths(_, exchanged = true))
      case _ => kids(p).flatMap(edgePaths(_, exchanged))
    }

  private def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q_pagerank_copart: no edge exchange under an iteration join, all AQE-planned") {
    graft.queries.GraphOps.SharedGraph.reset()
    val execs = executions {
      SparkEntry.queries("q_pagerank_copart")(spark, sf).collect()
    }
    val joins = execs.flatMap(qe => nodes(qe.executedPlan)).collect {
      case j: BaseJoinExec => j
    }
    val edgeJoins = joins.filter(j => kids(j).flatMap(edgePaths(_)).nonEmpty)
    assert(edgeJoins.size >= 3,
      s"expected >= 3 iteration joins reading the edge table, saw ${edgeJoins.size}")
    val reshuffled = edgeJoins.filter(j => kids(j).flatMap(edgePaths(_)).contains(true))
    assert(reshuffled.isEmpty,
      s"iteration joins re-exchange the checkpointed edges:\n${reshuffled.mkString("\n")}")
    val offAqe = execs.map(_.executedPlan).filter { p =>
      !p.isInstanceOf[AdaptiveSparkPlanExec] &&
        p.exists(_.isInstanceOf[Exchange])
    }
    assert(offAqe.isEmpty,
      s"executions with an exchange planned without AQE:\n${offAqe.mkString("\n")}")
    graft.queries.GraphOps.SharedGraph.reset()
  }

  test("broadcastEdgesLimit=0: the shuffle closure returns the default route's rows") {
    def semiBroadcasts(execs: Seq[QueryExecution]): Int =
      execs.flatMap(qe => nodes(qe.executedPlan)).count {
        case j: BroadcastHashJoinExec => j.joinType == LeftSemi
        case _ => false
      }
    def run(): (Seq[org.apache.spark.sql.Row], Seq[org.apache.spark.sql.Row], Int) = {
      graft.queries.GraphOps.SharedGraph.reset()
      var tri, jac: Seq[org.apache.spark.sql.Row] = Nil
      val execs = executions {
        tri = SparkEntry.queries("q_graph_triangles")(spark, sf).collect().toSeq
        jac = SparkEntry.queries("q_graph_jaccard")(spark, sf).collect().toSeq
      }
      (tri, jac, semiBroadcasts(execs))
    }
    try {
      // auto-broadcast off: only the explicit closure hint may broadcast
      withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val (tri0, jac0, bc0) = run()
        assert(bc0 >= 1, "default route lost its broadcast closure semi join")
        val (tri1, jac1, bc1) = withConf("spark.graft.broadcastEdgesLimit" -> "0")(run())
        assert(bc1 == 0, s"limit 0 still planned $bc1 broadcast semi joins")
        assert(tri0.nonEmpty && tri1 == tri0, "q_graph_triangles changed with the route")
        assert(jac0.nonEmpty && jac1 == jac0, "q_graph_jaccard changed with the route")
      }
    } finally graft.queries.GraphOps.SharedGraph.reset()
  }
}
