package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact global `row_number` without the single-partition WindowExec.
  *
  * `row_number().over(Window.orderBy(...))` is the one construct Spark
  * cannot scale: the planner hash-partitions on the (empty) partition
  * spec, so the ENTIRE input funnels through one task. This helper
  * produces bit-identical rank values with the classic distributed
  * total-order recipe (the same shape as `RDD.zipWithIndex`, kept
  * inside the DataFrame API so Catalyst/AQE still see the plan):
  *
  *   1. `repartitionByRange` on the sort key — a sampled range
  *      exchange, every partition holds a contiguous, disjoint key
  *      range, partition id ascending with the key order;
  *   2. a per-partition ordinal: sort WITHIN partitions and stamp
  *      `monotonically_increasing_id` (pid<<33 | local index — zero
  *      further movement);
  *   3. per-partition row counts rolled into cumulative offsets with a
  *      broadcast inequality self-join over the O(P) count table (no
  *      window at all, so the audit rule below has nothing to
  *      allowlist here), added to the local numbers.
  *
  * The range-partitioned table feeds both the count aggregate and the
  * rank projection, and RangePartitioner boundaries are SAMPLED — two
  * independently planned instances of the exchange sample different
  * boundaries (ReuseExchange does not dedup across AQE query stages
  * here; observed at sf0.1: ranks off by ±4), which would make the
  * offsets inconsistent with the pids. So the partitioned table is
  * `localCheckpoint`'d — the repo's standing rule for twice-referenced
  * nondeterministic state (see retentionOf, q_dsir): ONE RDD instance
  * means ONE boundary set, and pid↔offset stay consistent by
  * construction. Cost at scale: the range exchange, the local sort,
  * the checkpoint write (executor-local, parallel) and the O(P)
  * offset table; every stage is fully parallel, no task ever sees
  * more than a partition. Rank values are a pure function of the data
  * (partition placement only shifts work between the local index and
  * the offset), so oracle parity is
  * unaffected: callers keep their existing `row_number()`-based DuckDB
  * SQL.
  *
  * The sort key must be a total order (include a unique tie-break
  * column) — same contract the global window had.
  */
object GlobalRank {

  /** Appends `rankCol` (LongType, 1-based) = global row_number over
    * `sortCols`. Accepts sort-ordered columns (`col(...).desc`);
    * plain columns rank ascending, nulls-first (Spark default —
    * callers mirror DuckDB `NULLS FIRST` explicitly where it
    * matters, as with the previous window form).
    *
    * ONE exchange (round 12): mono-id encodes (partition id << 33) |
    * record index in the task's row order, which AFTER
    * sortWithinPartitions IS the local sort rank — so decomposing the
    * id recovers pid and local index without moving a byte, and the
    * broadcast O(P) offset join turns them into the global rank (the
    * round-11 form paid a second, pid-hash exchange for a
    * pid-partitioned `row_number`; A/B at 8× sf0.1 data:
    * q_quantiles_exact 3.36→1.87 s).
    *
    * The named risk — the optimizer reordering the nondeterministic
    * id projection BELOW the sort, which would stamp pre-sort row
    * order — is pinned by GlobalRankSpec: a plan-shape test asserts
    * the SortExec sits beneath the id projection, and the
    * value-equality tests run against a 13-partition shuffled input
    * where any reorder breaks rank values. The checkpoint then
    * freezes the ids (mono-id is nondeterministic across
    * recomputation; the twice-referenced rule applies doubly).
    *
    * AUDIT HOOK: the checkpoint goes through [[Ckpt.maybe]], because
    * the eager localCheckpoint truncates lineage to a LogicalRDD —
    * any plan inspection of a caller's query is then BLIND to
    * everything upstream of the rank. Inside [[Ckpt.capturing]] the
    * pre-checkpoint segment (the caller's upstream plus the range
    * exchange and sort) is queued for [[Ckpt.drainCaptured]], which
    * is what PlanAudit scans.
    */
  def globalRowNumber(df: DataFrame, rankCol: String, sortCols: Column*): DataFrame = {
    val parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val mask = (1L << 33) - 1
    val ranged = df
      .repartitionByRange(parts, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn("__grank_mid", monotonically_increasing_id())
      .transform(Ckpt.maybe)
    val counts = ranged
      .select(shiftright(col("__grank_mid"), 33).as("__grank_pid"))
      .groupBy("__grank_pid").agg(count(lit(1)).as("__grank_c"))
    val offsets = counts.as("a")
      .join(broadcast(counts.as("b")),
        col("b.__grank_pid") < col("a.__grank_pid"), "left")
      .groupBy(col("a.__grank_pid").as("__grank_pid"))
      .agg(coalesce(sum(col("b.__grank_c")), lit(0L)).as("__grank_off"))
    ranged
      .withColumn("__grank_pid", shiftright(col("__grank_mid"), 33))
      .join(broadcast(offsets), "__grank_pid")
      .withColumn(rankCol,
        col("__grank_off") + col("__grank_mid").bitwiseAND(lit(mask)) + lit(1L))
      .drop("__grank_pid", "__grank_off", "__grank_mid")
  }
}
