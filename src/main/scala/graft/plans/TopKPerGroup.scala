package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Custom whole-operator: top-k rows per group under a total order,
  * executed as two-phase bounded heaps — a partial pass keeps ≤k rows per
  * group per input partition (map-side reduction, like partial agg), the
  * shuffle then moves at most k×groups rows, and a final pass merges.
  *
  * This replaces the `row_number().over(partitionBy(g).orderBy(o)) <= k`
  * plan shape, which must SORT every group's full row set; at 100 TB the
  * sort (and the unreduced shuffle) dominates — the heap is O(n log k)
  * with an O(k·groups) shuffle instead. Ties must be broken by the
  * ordering (make it total) for deterministic results.
  *
  * Wiring: `TopKPerGroup.transform` builds the logical node directly and
  * `GraftStrategy` plans it; the strategy comes from `GraftExtensions`
  * (injectPlannerStrategy) or, on any other session, from
  * `spark.experimental.extraStrategies` (`TopKPerGroup.install`, on first
  * use).
  */
case class TopKPerGroupNode(
    k: Int,
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(c: LogicalPlan): TopKPerGroupNode =
    copy(child = c)
}

case class TopKPerGroupExec(
    k: Int,
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    partial: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) Seq(UnspecifiedDistribution)
    else Seq(ClusteredDistribution(groupExprs))

  // Heap reduction is mapPartitions-shaped: rows never move between
  // partitions, so the child's partitioning survives verbatim. Without
  // this override the exec reports UnknownPartitioning and EVERY
  // downstream same-key operator (the rank window in rankTopK, the
  // band-key groupBy in lshPairsUnsorted) re-exchanges rows that are
  // already clustered — one redundant shuffle per consumer (round 15,
  // guide §2.4: two operations keyed the same way share one exchange).
  override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val kLocal = k
    val groupLocal = groupExprs
    val orderLocal = order
    val childOutput = child.output
    // Memory bound for the heap map: a hash aggregate spills; this
    // operator instead FLUSHES — once the partial pass buffers this many
    // rows it emits every heap and starts fresh. Each flushed segment is
    // a superset of that segment's top-k, so the union stays a superset
    // of the partition's top-k and the final pass reduces it exactly.
    // (The final pass never flushes: its whole input is already ≤ k rows
    // per (group, upstream partition), so its map is shuffle-bounded.)
    val flushRows: Long = if (partial) {
      val v = conf.getConfString("spark.graft.topk.partialFlushRows", "4194304").toLong
      // 0 or negative would make the partial pass's flush iterator spin
      // forever (hasNext true, buffering guard never satisfied) — reject
      // loudly instead of looping
      require(v >= 1, s"spark.graft.topk.partialFlushRows must be >= 1 (got $v)")
      v
    } else Long.MaxValue
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(groupLocal, childOutput)
      val ordering = RowOrdering.create(orderLocal, childOutput)
      // per group: bounded "worst-on-top" heap of the current best k rows
      val heaps = mutable.LinkedHashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
      var bufferedRows = 0L
      new Iterator[Array[InternalRow]] {
        override def hasNext: Boolean = iter.hasNext || heaps.nonEmpty
        override def next(): Array[InternalRow] = {
          while (iter.hasNext && bufferedRows < flushRows) {
            val row = iter.next()
            val key = keyProj(row)
            heaps.get(key) match {
              case Some(heap) =>
                if (heap.size < kLocal) { heap.enqueue(row.copy()); bufferedRows += 1 }
                else if (ordering.compare(row, heap.head) < 0) {
                  heap.dequeue(); heap.enqueue(row.copy())
                }
              case None => // copy the key only on first sight of the group
                val heap = mutable.PriorityQueue.empty[InternalRow](
                  ordering.asInstanceOf[Ordering[InternalRow]])
                heap.enqueue(row.copy()); bufferedRows += 1
                heaps.put(key.copy(), heap)
            }
          }
          val out = new Array[InternalRow](bufferedRows.toInt)
          var i = 0
          heaps.valuesIterator.foreach(_.foreach { r => out(i) = r; i += 1 })
          heaps.clear(); bufferedRows = 0
          out
        }
      }.flatMap(_.iterator)
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): TopKPerGroupExec =
    copy(child = c)
}

/** Plans TopKPerGroupNode as final-over-partial heap execs. Group keys
  * are float-normalized here (NaN canonicalized, -0.0 → 0.0) — the rule
  * that does this for aggregates/windows never fires on a custom node,
  * and without it 0.0 and -0.0 hash to different shuffle partitions AND
  * different UnsafeRow map keys, splitting one logical group into two
  * (up to 2k output rows) where `row_number().over(partitionBy)` — the
  * shape this operator replaces — would produce one. */
object GraftStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroupNode(k, g, o, child) =>
      val ng = g.map(org.apache.spark.sql.GraftShim.normalizeFloats)
      TopKPerGroupExec(k, ng, o, partial = false,
        TopKPerGroupExec(k, ng, o, partial = true, planLater(child))) :: Nil
    case _ => Nil
  }
}

object TopKPerGroup {

  /** Register the strategy on a session (idempotent), on first use by
    * [[transform]]. The check and the append hold the session's
    * `experimental` lock, so concurrent callers on one session add it
    * once. */
  private def install(spark: SparkSession): Unit = {
    val ex = spark.experimental
    ex.synchronized {
      if (!ex.extraStrategies.contains(GraftStrategy)) {
        ex.extraStrategies = ex.extraStrategies :+ GraftStrategy
      }
    }
  }

  /** Top-k rows per group under `order` (make it total — add a unique
    * tiebreak). Output row order is unspecified; sort downstream if
    * needed (the downstream sort then sees only k×groups rows). */
  def transform(
      df: org.apache.spark.sql.DataFrame,
      groupCols: Seq[org.apache.spark.sql.Column],
      orderCols: Seq[org.apache.spark.sql.Column],
      k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.GraftShim
    val spark = df.sparkSession
    install(spark)
    val order = orderCols.map { c =>
      GraftShim.expression(c) match {
        case so: SortOrder => so
        case e => SortOrder(e, org.apache.spark.sql.catalyst.expressions.Ascending)
      }
    }
    GraftShim.ofRows(spark,
      TopKPerGroupNode(k, groupCols.map(GraftShim.expression),
        order, GraftShim.logicalPlan(df)))
  }
}
