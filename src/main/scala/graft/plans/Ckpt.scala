package graft.plans

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.col

/** `localCheckpoint` — the repo's single funnel for the
  * twice-referenced-state rule (every materialization in the query
  * inventory goes through here; `grep localCheckpoint()` outside this
  * file and test code should come up empty).
  *
  * Identical to `df.localCheckpoint()` — eager, truncates lineage,
  * one RDD instance for every downstream reference. This is
  * correctness-critical wherever the checkpointed subtree is
  * nondeterministic AND referenced more than once (sampled
  * RangePartitioner boundaries in [[GlobalRank]], spark_partition_id
  * captures) and performance-critical for the iteration kernels
  * (edges read K times). Neither entry point writes session conf.
  *
  * Audit hook (ADVICE r11 — the eager checkpoint truncates the
  * logical plan to a LogicalRDD, so any plan rule is BLIND to the
  * entire subtree beneath each checkpoint site, including every
  * GlobalRank caller's upstream): with `spark.graft.ckptCapture=true`
  * checkpoints still happen (so constructors that collect model
  * tables keep their truncated, recompute-free lineage), but each
  * site FIRST records its pre-checkpoint physical plan segment in
  * [[drainCaptured]]'s queue. PlanAudit runs every rule over the
  * final plan PLUS all captured segments — piecewise-complete
  * coverage: every operator appears in exactly the segment between
  * its two nearest checkpoints.
  */
object Ckpt {
  private val captured =
    new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()

  /** Remove and return every plan segment captured since the last
    * drain. Single audit thread assumed — segments captured during
    * one query's construction are attributed to that query.
    */
  def drainCaptured(): Seq[SparkPlan] = {
    val out = Seq.newBuilder[SparkPlan]
    var p = captured.poll()
    while (p != null) { out += p; p = captured.poll() }
    out.result()
  }

  /** The one checkpoint body: capture hook, then checkpoint. */
  def maybe(df: DataFrame): DataFrame = {
    if (df.sparkSession.conf.get("spark.graft.ckptCapture", "false").toBoolean)
      captured.add(df.queryExecution.sparkPlan)
    df.localCheckpoint()
  }

  /** [[maybe]] for LAYOUT-CARRYING materializations: the result is
    * hash-partitioned on `keys` into `spark.sql.shuffle.partitions`
    * partitions, and its LogicalRDD SAYS so, so the copart iteration
    * joins over it exchange only their O(nodes) state side.
    *
    * Under AQE, `localCheckpoint` records UnknownPartitioning (the
    * AdaptiveSparkPlanExec root does not expose its final
    * partitioning), which silently re-introduced one full EDGE
    * exchange per iteration (r16 find). Two steps fix that without
    * touching the session's AQE setting:
    *  - the explicit `repartition(n, keys)` makes AQE keep a
    *    `hashpartitioning(keys, n)` final stage (a repartition by
    *    number is never coalesced); over an input already laid out
    *    that way — a `partitionBy(keys)` window, a checkpoint made
    *    here — EnsureRequirements removes it again, so it costs no
    *    extra exchange;
    *  - the checkpoint's LogicalRDD is rebuilt with the final plan's
    *    HashPartitioning, keeping its statistics and constraints so
    *    downstream size-based join choices do not move.
    * Anything other than a plain HashPartitioning into the `n`
    * partitions asked for keeps what `localCheckpoint` recorded: a
    * coalesced read also reports a HashPartitioning, but its
    * partitions are not `hash mod` its smaller count.
    */
  def maybePartitioned(df: DataFrame, keys: String*): DataFrame = {
    val s = df.sparkSession
    val n = s.conf.get("spark.sql.shuffle.partitions").toInt
    val laid = df.repartition(n, keys.map(col): _*)
    val cp = maybe(laid)
    val done = laid.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    (cp.queryExecution.analyzed, done.outputPartitioning) match {
      case (lr: LogicalRDD, h: HashPartitioning) if h.numPartitions == n =>
        val cs = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        GraftSqlBridge.ofRows(s, lr.copy(outputPartitioning = h)(
          cs, Some(lr.computeStats()), Some(lr.constraints)))
      case _ => cp
    }
  }
}
