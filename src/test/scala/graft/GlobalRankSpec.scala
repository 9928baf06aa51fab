package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The distributed-rank primitive behind q_rfm / q_ccnet_split /
  * q_lorenz: exact global row_number with NO single-partition
  * WindowExec. Pins (a) value equality with the naive global window,
  * (b) the plan contract the PlanAudit rule enforces, (c) the planted
  * red case that proves the detector sees what it should.
  */
class GlobalRankSpec extends AnyFunSuite {
  import TestSpark._
  import graft.plans.GlobalRank.globalRowNumber

  private def sampleDf = {
    import spark.implicits._
    // values with heavy ties + a unique tie-break id, shuffled order,
    // across many input partitions
    val rows = (1 to 997).map(i => ((i * 7919) % 23, (i * 104729) % 997))
    spark.createDataset(rows).toDF("v", "id").repartition(13)
  }

  test("globalRowNumber matches the naive global window exactly (asc and desc)") {
    import org.apache.spark.sql.expressions.Window
    val df = sampleDf
    val naiveAsc = df.withColumn("rn",
      row_number().over(Window.orderBy(col("v"), col("id"))).cast("long"))
    val fastAsc = globalRowNumber(df, "rn", col("v"), col("id"))
    assert(fastAsc.exceptAll(naiveAsc).isEmpty && naiveAsc.exceptAll(fastAsc).isEmpty,
      "asc rank mismatch vs naive global window")
    val naiveDesc = df.withColumn("rn",
      row_number().over(Window.orderBy(col("v").desc, col("id"))).cast("long"))
    val fastDesc = globalRowNumber(df, "rn", col("v").desc, col("id"))
    assert(fastDesc.exceptAll(naiveDesc).isEmpty && naiveDesc.exceptAll(fastDesc).isEmpty,
      "desc rank mismatch vs naive global window")
  }

  test("globalRowNumber is a permutation of 1..n and empty-input safe") {
    val ranked = globalRowNumber(sampleDf, "rn", col("v"), col("id"))
    val rns = ranked.select("rn").collect().map(_.getLong(0)).sorted
    assert(rns.toSeq == (1L to 997L).toSeq, "ranks are not a 1..n permutation")
    val empty = globalRowNumber(sampleDf.filter(lit(false)), "rn", col("v"), col("id"))
    assert(empty.count() == 0L)
  }

  test("globalRowNumber plans no unpartitioned WindowExec (the audit contract)") {
    val plan = globalRowNumber(sampleDf, "rn", col("v"), col("id"))
      .queryExecution.sparkPlan
    assert(graft.tools.PlanAudit.unpartitionedWindows(plan) == 0,
      s"GlobalRank leaked a single-partition window:\n$plan")
  }

  test("q_rank_strat equals the naive per-lang window; q_sample_systematic strides exactly") {
    import org.apache.spark.sql.expressions.Window
    val naive = graft.Tables.documents(spark, sf)
      .filter(col("lang").isNotNull)
      .select(col("doc_id"), col("lang"),
        size(filter(split(col("text"), " "), t => length(t) > 0))
          .cast("long").as("t"))
      .filter(col("t") >= 0)
      .select(col("doc_id"),
        row_number().over(Window.partitionBy("lang")
          .orderBy(col("t"), col("doc_id"))).cast("long").as("rn"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val strat = graft.queries.RankOps.q_rank_strat(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("rn_in_lang")).toMap
    assert(strat == naive, "offset-derived per-lang ranks diverge from the window form")
    val rns = graft.queries.RankOps.q_sample_systematic(spark, sf).collect()
      .map(_.getAs[Long]("rn")).sorted
    assert(rns.nonEmpty && rns.forall(rn => (rn - 1) % 20 == 0),
      s"non-stride rank selected: ${rns.toSeq}")
    assert(rns.toSeq == rns.indices.map(i => i * 20L + 1).toSeq,
      "stride must cover every 20th rank exactly once")
  }

  test("q_quantile_norm: ceil-map endpoints, bounds, and a binding normalization") {
    val rows = graft.queries.RankOps.q_quantile_norm(spark, sf).collect()
    assert(rows.nonEmpty)
    val nP = rows.length.toLong // every (source, n_chars)-complete doc appears once
    rows.foreach { r =>
      val (rS, nS, tgt) = (r.getAs[Long]("r_s"), r.getAs[Long]("n_s"),
        r.getAs[Long]("target_rn"))
      assert(tgt >= 1L && tgt <= nP, s"target rank out of range: $r")
      assert(tgt == (rS * nP + nS - 1) / nS, s"ceil map wrong: $r")
      // the per-source maximum maps to the pooled maximum rank
      if (rS == nS) assert(tgt == nP, s"max must map to pooled max: $r")
    }
    // non-degeneracy: at least one document's value actually moves
    // (sources differ in length distribution on this corpus)
    assert(rows.exists(r => r.getAs[Long]("v") != r.getAs[Long]("v_norm")),
      "normalization is the identity - sources indistinguishable")
    // distribution alignment: every normalized value exists in the pool
    val pool = rows.map(_.getAs[Long]("v")).toSet
    assert(rows.forall(r => pool.contains(r.getAs[Long]("v_norm"))))
  }

  test("the audit detector flags a planted naive global window and accepts post-limit ones") {
    import org.apache.spark.sql.expressions.Window
    val planted = sampleDf.withColumn("rn",
      row_number().over(Window.orderBy(col("v"), col("id"))))
    assert(graft.tools.PlanAudit.unpartitionedWindows(
      planted.queryExecution.sparkPlan) > 0,
      "detector missed a naive unpartitioned window")
    val postLimit = sampleDf.limit(10).withColumn("rn",
      row_number().over(Window.orderBy(col("v"), col("id"))))
    assert(graft.tools.PlanAudit.unpartitionedWindows(
      postLimit.queryExecution.sparkPlan) == 0,
      "detector flagged a bounded (post-limit) window")
  }

  test("tightened limit rule (ADVICE r11): a window over join(unbounded, limited-dim) is flagged") {
    import org.apache.spark.sql.expressions.Window
    // round-11 rule accepted ANY limit anywhere in the child subtree,
    // so the unbounded fact side slipped through on the dim's limit;
    // the unary-ancestry rule stops at the join and flags it
    val dim = sampleDf.limit(5).select(col("v").as("dv")).distinct()
    val joined = sampleDf.join(broadcast(dim), col("v") === col("dv"))
      .withColumn("rn", row_number().over(Window.orderBy(col("v"), col("id"))))
    assert(graft.tools.PlanAudit.unpartitionedWindows(
      joined.queryExecution.sparkPlan) > 0,
      "unbounded-fact window wrongly accepted via the dim side's limit")
  }

  /** Runs `body` under `spark.graft.ckptCapture=true` and returns the
    * pre-checkpoint plan segments its checkpoints captured. */
  private def captured(body: => Unit): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    graft.plans.Ckpt.drainCaptured()
    spark.conf.set("spark.graft.ckptCapture", "true")
    try body
    finally spark.conf.unset("spark.graft.ckptCapture")
    graft.plans.Ckpt.drainCaptured()
  }

  test("one-exchange impl: values match the naive window, sort under mono-id") {
    import org.apache.spark.sql.expressions.Window
    val df = sampleDf
    val naive = df.withColumn("rn",
      row_number().over(Window.orderBy(col("v"), col("id"))).cast("long"))
    val mono = globalRowNumber(df, "rn", col("v"), col("id"))
    assert(mono.exceptAll(naive).isEmpty && naive.exceptAll(mono).isEmpty,
      "monoid rank mismatch vs naive global window (asc)")
    val monoDesc = globalRowNumber(df, "rn", col("v").desc, col("id"))
    val naiveDesc = df.withColumn("rn",
      row_number().over(Window.orderBy(col("v").desc, col("id"))).cast("long"))
    assert(monoDesc.exceptAll(naiveDesc).isEmpty && naiveDesc.exceptAll(monoDesc).isEmpty,
      "monoid rank mismatch vs naive global window (desc)")
    assert(graft.tools.PlanAudit.unpartitionedWindows(
      mono.queryExecution.sparkPlan) == 0)
    // empty input stays safe
    assert(globalRowNumber(df.filter(lit(false)), "rn", col("v"), col("id"))
      .count() == 0L)
    // the named risk: the nondeterministic mono-id projection must
    // evaluate ABOVE the local sort — the captured pre-checkpoint
    // segment shows the subtree, and every MonotonicallyIncreasingID
    // projection in it must have a SortExec descendant
    import org.apache.spark.sql.execution.{ProjectExec, SortExec}
    val segs = captured(globalRowNumber(df, "rn", col("v"), col("id")))
    val projs = segs.flatMap(_.collect {
      case p: ProjectExec if p.projectList.exists(_.find(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions
          .MonotonicallyIncreasingID]).isDefined) => p
    })
    assert(projs.nonEmpty, s"no mono-id projection found:\n${segs.mkString("\n")}")
    projs.foreach { p =>
      assert(p.exists { case _: SortExec => true; case _ => false },
        s"mono-id projection has NO sort beneath it (stamps pre-sort order):\n$p")
    }
  }

  test("audit hook: ckptCapture exposes the plan beneath GlobalRank") {
    import org.apache.spark.sql.expressions.Window
    // a scale-killer UPSTREAM of the rank: running sum over an
    // unpartitioned window feeding globalRowNumber
    def bad = sampleDf.withColumn("run",
      sum(col("v")).over(Window.orderBy(col("id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // default (checkpoint on): lineage truncates to a LogicalRDD —
    // the defect is INVISIBLE to the detector (the ADVICE r11 hole,
    // pinned here so the why of the audit flag stays documented)
    val hidden = globalRowNumber(bad, "rn", col("v"), col("id"))
      .queryExecution.sparkPlan
    assert(graft.tools.PlanAudit.unpartitionedWindows(hidden) == 0,
      "checkpointed lineage unexpectedly kept the upstream window visible")
    val segs = captured(globalRowNumber(bad, "rn", col("v"), col("id")))
    assert(segs.map(graft.tools.PlanAudit.unpartitionedWindows).sum > 0,
      "audit-mode capture failed to expose the upstream global window")
  }
}
