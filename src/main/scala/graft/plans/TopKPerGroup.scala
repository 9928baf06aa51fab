package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.LongType

/** Whole-operator custom plan: top-k rows per group by bounded heaps —
  * the §2.12 ladder's final rung (logical node + planner strategy +
  * physical operators, registered through [[graft.functions.GraftExtensions]]
  * or per-session via [[TopKPerGroup.ensureStrategy]]).
  *
  * WHY a custom operator — measured against what Spark actually
  * plans (a stage-level probe over 4.8M rows): since 3.5 the rank-filter form gets
  * `WindowGroupLimit(Partial)` below the exchange, so SHUFFLE VOLUME
  * is already pruned (both forms moved the identical 113,995 records
  * on the supplier grouping). What the built-in still pays is a FULL
  * per-partition Sort of the raw input on BOTH sides of the exchange
  * (WindowGroupLimit requires sorted input): O(n log n) in the
  * partition size, map-side, on every row of a 100 TB table. The
  * bounded heap needs no sorted input — O(n log k) scan, k ≪ n, no
  * Sort operator anywhere in the plan — and the measured warm win at
  * 8× local data is ~30% (0.65s vs 0.92s) with the gap growing in
  * rows-per-partition, which is exactly the dimension a cluster
  * scales.
  *
  * Physical shape (mirrors partial/final aggregation):
  * {{{
  * TopKPerGroupFinalExec      rank assignment, requires ClusteredDistribution(group)
  *   +- Exchange hashpartitioning(group)    (inserted by EnsureRequirements)
  *     +- TopKPerGroupPartialExec           map-side heaps, ≤ k rows/group/partition
  *       +- child
  * }}}
  *
  * Determinism contract: `order` must be a TOTAL order (callers add a
  * unique tie-break, as every windowed key in this repo already
  * does); under ties the heap's keep-incumbent policy would be
  * partitioning-dependent. Rank is the 1-based position in `order`,
  * appended as the produced attribute `rank`.
  */
case class TopKPerGroupNode(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    rankAttr: AttributeReference,
    child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"topKPerGroup requires k > 0, got $k")
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr :: Nil)
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroupNode =
    copy(child = newChild)
}

/** Planner strategy: one partial/final exec pair per [[TopKPerGroupNode]]. */
object TopKPerGroupStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroupNode(g, o, k, rank, child) =>
      TopKPerGroupFinalExec(g, o, k, rank,
        TopKPerGroupPartialExec(g, o, k, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** Shared heap kernel: per group key, a bounded max-heap under the
  * ranking order (head = worst of the kept k) — insert is O(log k),
  * a row worse than the current k-th is rejected in O(1) compare.
  */
private[plans] object TopKHeaps {
  def build(
      iter: Iterator[InternalRow],
      inputAttrs: Seq[Attribute],
      groupExprs: Seq[Expression],
      order: Seq[SortOrder],
      k: Int): mutable.LinkedHashMap[UnsafeRow, mutable.PriorityQueue[InternalRow]] = {
    val keyProj = UnsafeProjection.create(groupExprs, inputAttrs)
    val rowProj = UnsafeProjection.create(
      inputAttrs.map(a => a: Expression), inputAttrs)
    val ord: Ordering[InternalRow] = RowOrdering.create(order, inputAttrs)
    val heaps =
      mutable.LinkedHashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
    iter.foreach { row =>
      val key = keyProj(row)
      heaps.get(key) match {
        case Some(heap) =>
          if (heap.size < k) heap.enqueue(rowProj(row).copy())
          else if (ord.compare(row, heap.head) < 0) {
            heap.dequeue(); heap.enqueue(rowProj(row).copy())
          }
        case None =>
          val heap = mutable.PriorityQueue.empty[InternalRow](ord)
          heap.enqueue(rowProj(row).copy())
          heaps.put(key.copy(), heap)
      }
    }
    heaps
  }
}

/** Map-side stage: emits each partition's ≤ k candidates per group,
  * in place (no distribution requirement, no sort). Only these
  * candidates reach the exchange.
  */
case class TopKPerGroupPartialExec(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning = child.outputPartitioning
  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupPartialExec =
    copy(child = newChild)
  override protected def doExecute(): RDD[InternalRow] = {
    val (attrs, g, o, kk) = (child.output, groupExprs, order, k)
    child.execute().mapPartitions({ iter =>
      TopKHeaps.build(iter, attrs, g, o, kk)
        .valuesIterator.flatMap(_.iterator)
    }, preservesPartitioning = true)
  }
}

/** Reduce-side stage: re-heaps the co-located candidates (≤ k ×
  * upstream-partitions per group), then emits each group's k rows in
  * ranking order with the 1-based rank appended.
  */
case class TopKPerGroupFinalExec(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    rankAttr: AttributeReference,
    child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr :: Nil)
  override def requiredChildDistribution: Seq[Distribution] =
    if (groupExprs.isEmpty) AllTuples :: Nil
    else ClusteredDistribution(groupExprs) :: Nil
  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupFinalExec =
    copy(child = newChild)
  override protected def doExecute(): RDD[InternalRow] = {
    val (attrs, g, o, kk, rank) = (child.output, groupExprs, order, k, rankAttr)
    val outAttrs = output
    child.execute().mapPartitions { iter =>
      val heaps = TopKHeaps.build(iter, attrs, g, o, kk)
      val outProj = UnsafeProjection.create(
        outAttrs.map(a => a: Expression), attrs :+ rank)
      val joined = new JoinedRow
      val rankRow = new GenericInternalRow(1)
      heaps.valuesIterator.flatMap { heap =>
        // dequeueAll returns worst-first; reverse is ranking order
        val ranked = heap.dequeueAll.reverse
        ranked.iterator.zipWithIndex.map { case (row, i) =>
          rankRow.update(0, (i + 1).toLong)
          outProj(joined(row, rankRow))
        }
      }
    }
  }
}

/** Public API + per-session registration. */
object TopKPerGroup {

  /** Idempotently add the strategy to a live session (the route for
    * sessions built without [[graft.functions.GraftExtensions]] —
    * `experimental.extraStrategies` is the documented runtime
    * extension point).
    */
  def ensureStrategy(s: SparkSession): Unit = {
    val em = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    if (!em.extraStrategies.contains(TopKPerGroupStrategy))
      em.extraStrategies = em.extraStrategies :+ TopKPerGroupStrategy
  }

  /** Top-k rows per group under a total order, rank column appended.
    * `orderCols` accepts `col(...).desc` / `.asc` forms; a bare
    * column defaults to ascending.
    */
  def topKPerGroup(
      df: DataFrame,
      groupCols: Seq[Column],
      orderCols: Seq[Column],
      k: Int,
      rankName: String = "rank"): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.catalyst.plans.logical.{Project, Sort}
    val cs = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    ensureStrategy(cs)
    // Resolve Columns EAGERLY through the analyzer (Spark 4 Columns
    // wrap lazy ColumnNodes; a ColumnNodeExpression must never reach
    // an executor closure): df.sort's analyzed plan carries the
    // catalyst SortOrders, df.select's the group expressions — both
    // bound against df's stable attribute ids.
    val (order, child) = df.sort(orderCols: _*).queryExecution.analyzed match {
      case s: Sort => (s.order, s.child)
      case other   => sys.error(s"unexpected sort analysis result: $other")
    }
    val groupExprs = df.select(groupCols: _*).queryExecution.analyzed match {
      case p: Project => p.projectList.map {
        case a: Alias => a.child
        case e        => e
      }
      case other => sys.error(s"unexpected group analysis result: $other")
    }
    val node = TopKPerGroupNode(
      groupExprs, order, k,
      AttributeReference(rankName, LongType, nullable = false)(),
      child)
    GraftSqlBridge.ofRows(cs, node)
  }
}
