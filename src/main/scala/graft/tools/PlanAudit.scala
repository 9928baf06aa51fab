package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan

/** Mechanical plan audit over the whole query inventory: flags
  * CartesianProduct in any declared query's physical plan, with
  * auto-broadcast disabled so tiny audit inputs can't mask the shape
  * production-size inputs would get. (BroadcastNestedLoopJoin from an
  * EXPLICIT broadcast() hint is acceptable — that is the bounded
  * theta-join pattern — so it is deliberately not flagged.) Also
  * collects every CodegenFallback expression class per plan — the
  * round-4 lesson: one fallback expression evicts its whole projection
  * from whole-stage codegen (q_sim_ivf's E-step silently ran
  * interpreted, ~5× slower).
  *
  * The audit plans inside [[graft.plans.Ckpt.capturing]] (round 12,
  * ADVICE r11): every query-side `localCheckpoint` routes through
  * [[graft.plans.Ckpt.maybe]], and the eager checkpoint truncates
  * the audited tree to a LogicalRDD — the round-11 rules were blind
  * to everything beneath 85 checkpoint sites, including every
  * GlobalRank caller's upstream, so "236 plans, 0 flagged" was
  * vacuous for those subtrees. In capture mode each checkpoint site
  * first records its pre-checkpoint plan segment; every rule runs
  * over the final plan PLUS all segments captured while the query
  * was constructed — piecewise-complete coverage of the real tree.
  * KNOWN SIDE EFFECT, now documented per the ADVICE: checkpoints are
  * eager, so "planning" a checkpointing key executes its checkpoint
  * jobs (and any constructor-side model collects) — the audit runs
  * real (small) jobs at sf0.001; it is not execution-free, and never
  * was. (Skipping the checkpoints instead would be execution-free
  * per site but re-computes un-truncated lineage in every constructor
  * collect; measured, the 236-key audit never finished that way.)
  *
  * One implementation, two entry points: [[auditPlans]] is called by
  * the main() below and by PlanAuditSpec, so the tool and the test
  * cannot diverge.
  */
object PlanAudit {

  final case class Audit(
      cartesian: Seq[String],
      fallbacks: Map[String, Set[String]],
      globalWindows: Seq[String],
      windowCounts: Map[String, Int])

  /** True when `p`'s output is visibly bounded by a limit REACHED
    * THROUGH UNARY OPERATORS ONLY. The round-11 rule accepted a limit
    * node ANYWHERE in the subtree, so a global window over
    * `unboundedFact.join(limitedDim)` passed as "bounded" (ADVICE
    * r11). Descending only through single-child, non-expanding nodes
    * guarantees the limit actually dominates the window's input
    * cardinality: a join/union can re-inflate it from the OTHER
    * child, and a Generate (explode) multiplies rows per input row,
    * so both stop the descent.
    */
  private def boundedByLimit(p: SparkPlan): Boolean = {
    import org.apache.spark.sql.execution.{
      CollectLimitExec, GenerateExec, GlobalLimitExec, LocalLimitExec,
      TakeOrderedAndProjectExec}
    p match {
      case _: GlobalLimitExec | _: LocalLimitExec |
           _: TakeOrderedAndProjectExec | _: CollectLimitExec => true
      case _: GenerateExec => false
      case u if u.children.size == 1 => boundedByLimit(u.children.head)
      case _ => false
    }
  }

  /** Count of unpartitioned WindowExec nodes whose input is not
    * visibly bounded.
    *
    * `Window.orderBy(...)` with no partition spec plans a
    * SINGLE-PARTITION exchange — the whole input funnels through one
    * task, the one construct that cannot survive a scale-up (the
    * round-9/10 q_rfm/q_ccnet_split/q_lorenz finding; they now rank
    * via [[graft.plans.GlobalRank]]). A window whose input is bounded
    * by a limit on its unary ancestry ([[boundedByLimit]]) is
    * auto-accepted. Anything else must be explicitly allowlisted in
    * [[globalWindowAllowlist]] with the reason its input is bounded
    * AND the expected count, or the audit flags it.
    */
  def unpartitionedWindows(plan: SparkPlan): Int = {
    import org.apache.spark.sql.execution.window.WindowExec
    plan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty && !boundedByLimit(w.child) => w
    }.size
  }

  /** Queries allowed to keep unpartitioned windows: expected COUNT of
    * bounded unpartitioned windows plus the reason each window input
    * is BOUNDED (so the single task sees a model-sized table, not the
    * data). The count is pinned (ADVICE r11): a FUTURE unpartitioned
    * window added to an allowlisted key — e.g. q_lorenz regressing to
    * an O(docs) rank window alongside its bounded decile window —
    * raises the observed count above the pin and flags. Reviewed per
    * entry; adding or widening an entry is a conscious scale
    * decision, not a convenience.
    */
  val globalWindowAllowlist: Map[String, (Int, String)] = Map(
    "q_approx_pct" -> (2, "64-bin histogram spine (fixed bin count): cum window + total window"),
    "q_concurrency" -> (1, "O(hours) calendar-bounded carry spine; in-hour sweep is partitioned by hr"),
    "q_cusum" -> (2, "calendar-bounded dense hour spine: deviation-prefix window + min/max-prefix window"),
    "q_decompose" -> (1, "centered 25h moving average over the calendar-bounded dense hour spine (was hidden beneath the trended checkpoint pre-r12)"),
    "q_dp_quantile" -> (1, "O(bands)=11-row value-count spine cumulative rank (the q_outliers shape)"),
    "q_funnel" -> (1, "4-row funnel-stage report (post-agg, O(stages))"),
    "q_heaps" -> (1, "O(docs/1024^2) superbucket carry spine - doubly 1024x-reduced (round 12) before the single task"),
    "q_kruskal" -> (1, "O(distinct n_chars) value-count spine (the q_ks shape)"),
    "q_ks" -> (1, "O(distinct n_chars) value-count spine"),
    "q_lorenz" -> (1, "10-row decile cumulative (post-agg); the O(docs) rank itself runs via GlobalRank"),
    "q_mannwhitney" -> (1, "O(distinct n_chars) value-count spine (the q_ks shape)"),
    "q_ngram_cms" -> (1, "O(topK)=20-row candidate-estimate rank; bounded by the exact branch's limit upstream of the probe join (join stops the unary-descent proof)"),
    "q_skew_stats" -> (2, "counts-of-counts spine, O(distinct per-key count values); the cum window appears in both percentile branches"),
    "q_survival" -> (2, "O(distinct lifetimes <= observed day span) value-count spine: at-risk window + cumulative-ln window"))

  /** CodegenFallback expression classes in one physical plan. */
  def fallbackClassesOf(plan: SparkPlan): Set[String] =
    plan.collect { case p =>
      p.expressions.flatMap(_.collect {
        case e: org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback =>
          e.getClass.getSimpleName
      })
    }.flatten.toSet

  /** One planning pass over every declared query: cartesian-product
    * flags plus per-query CodegenFallback classes and unpartitioned-
    * window counts. Scans `queryExecution.sparkPlan` — the PRE-AQE
    * physical plan — because `executedPlan` wraps any plan with an
    * exchange in AdaptiveSparkPlanExec, which is a LeafExecNode: a
    * tree collect over it visits one node and sees no expressions,
    * making an executedPlan-based scan vacuous for nearly every real
    * query. (The CartesianProduct check uses the same plan for
    * consistency; AQE never introduces a cartesian product that the
    * static plan lacks.) Runs inside [[graft.plans.Ckpt.capturing]],
    * which writes no session conf: rules scan the final plan plus every
    * pre-checkpoint segment captured during the query's construction,
    * so checkpoint lineage truncation cannot hide a subtree. NOT
    * execution-free — eager checkpoints and constructor collects run
    * their (sf-sized) jobs during the pass, as they always did. The
    * session should have spark.sql.autoBroadcastJoinThreshold=-1
    * (main() sets it; the spec sets and restores it).
    */
  def auditPlans(spark: SparkSession, sfDir: String): Audit = {
    val per = graft.plans.Ckpt.capturing {
      graft.SparkEntry.keys.map { case graft.SparkEntry.Key(name, run, _) =>
        graft.plans.Ckpt.drainCaptured() // drop stale segments
        val plan = run(spark, sfDir).queryExecution.sparkPlan
        val segs = plan +: graft.plans.Ckpt.drainCaptured()
        spark.catalog.clearCache()
        (name, segs.exists(_.toString.contains("CartesianProduct")),
          segs.flatMap(fallbackClassesOf).toSet,
          segs.map(unpartitionedWindows).sum)
      }
    }
    Audit(
      per.collect { case (n, true, _, _) => n },
      per.collect { case (n, _, fb, _) if fb.nonEmpty => n -> fb }.toMap,
      per.collect {
        case (n, _, _, w)
            if w > globalWindowAllowlist.get(n).map(_._1).getOrElse(0) => n
      },
      per.collect { case (n, _, _, w) if w > 0 => n -> w }.toMap)
  }

  /** Names of queries whose physical plan contains a CartesianProduct
    * (kept for callers that only need the flag list).
    */
  def flaggedQueries(spark: SparkSession, sfDir: String): Seq[String] =
    auditPlans(spark, sfDir).cartesian

  /** `runMain graft.tools.PlanAudit [sfDir] [cpus] [shufflePartitions]`
    * — the optional cpus/partitions args exist so the audit can run
    * at production-shaped settings (local[32]/200) as well as the
    * fast default (local[4]/4): AQE-sensitive shapes can differ with
    * partition count (verdict r11 item 7).
    */
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val cpus = if (args.length > 1) args(1).toInt else 4
    val parts = if (args.length > 2) args(2) else "4"
    val spark = graft.Sessions.local(cpus,
      "spark.sql.shuffle.partitions" -> parts,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    spark.sparkContext.setLogLevel("ERROR")
    val audit = auditPlans(spark, sfDir)
    audit.cartesian.foreach(n => println(s"FLAG $n: CartesianProduct"))
    audit.globalWindows.foreach(n =>
      println(s"FLAG $n: unpartitioned WindowExec over unbounded input " +
        s"(observed ${audit.windowCounts.getOrElse(n, 0)}, " +
        s"allowed ${globalWindowAllowlist.get(n).map(_._1).getOrElse(0)})"))
    audit.fallbacks.toSeq.sortBy(_._1).foreach { case (n, fb) =>
      println(s"fallback $n: ${fb.mkString(",")}")
    }
    audit.windowCounts.toSeq.sorted.foreach { case (n, w) =>
      println(s"windows $n: $w")
    }
    println(s"audited ${graft.SparkEntry.keys.size} plans, " +
      s"${audit.cartesian.size + audit.globalWindows.size} flagged, " +
      s"${audit.fallbacks.size} with fallbacks")
    spark.stop()
  }
}
