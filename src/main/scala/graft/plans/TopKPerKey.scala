package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Whole-operator custom plan (tier (c) of the custom-op ladder): top-k rows
  * per key — the `ROW_NUMBER() OVER (PARTITION BY ... ORDER BY ...) <= k`
  * pattern without the full per-group sort.
  *
  * Why an operator and not the window function: the window form must
  * shuffle and SORT every row of every group to rank them; for a group with
  * a billion candidates and k=10 that is a billion-row sort for ten rows.
  * This operator plans as TWO physical nodes around the exchange, exactly
  * like partial aggregation:
  *
  *   TopKPerKeyFinalExec   (requires clustering on keys — merges heaps)
  *     +- Exchange hashpartitioning(keys)      [inserted by EnsureRequirements]
  *        +- TopKPerKeyPartialExec             [bounded heap per key per partition]
  *           +- child
  *
  * Each map partition retains at most k rows per key (bounded min-heap on a
  * codegen'd row ordering), so the exchange ships ≤ k·partitions rows per
  * key instead of the group, and the final merge re-heaps those survivors.
  * Same shape as [[graft.functions.TopKAggregator]], but as a physical
  * operator over FULL rows: no collapsing to (id, score) pairs, no
  * re-join to recover payload columns.
  *
  * VARIABLE k ([[TopKPerKey.topKBounded]]): k may instead come from an
  * integer column that is CONSTANT PER KEY (checked on every row, each
  * phase; a NULL, < 1 or disagreeing value fails the job). This is the
  * PPJoin prefix shape — every doc keeps its first `L(doc) ≈ (1−τ)·|doc|+1`
  * grams of a global frequency order — which the window form could only
  * express as a full per-doc sort followed by a rank filter.
  *
  * The reference has no analog (its "top" queries are client-side Python
  * sorts); this is the billion-row-group form the 100 TB target needs.
  */
object TopKPerKey {

  /** Top-k rows per key. `orderBy` is (columnName, ascending) — include
    * tie-break columns to make results deterministic (rank assignment
    * follows the given ordering exactly). Appends a `rank` column (1-based,
    * LongType).
    */
  def topK(df: DataFrame, keys: Seq[String], orderBy: Seq[(String, Boolean)],
      k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    plan(df, keys, orderBy, k, None)
  }

  /** Top-k-per-key with PER-KEY k read from integer column `kCol`, which
    * must be ≥ 1 and CONSTANT within each key group: a NULL or < 1 value,
    * or two rows of one key with different values, fails the job. Appends
    * `rank` (1-based, LongType). The caller keeps any exact rank predicate
    * as a filter over `rank` — the column only needs to UPPER-BOUND the
    * ranks the caller will keep.
    */
  def topKBounded(df: DataFrame, keys: Seq[String],
      orderBy: Seq[(String, Boolean)], kCol: String): DataFrame =
    plan(df, keys, orderBy, Int.MaxValue, Some(kCol))

  private def plan(df: DataFrame, keys: Seq[String],
      orderBy: Seq[(String, Boolean)], k: Int,
      kCol: Option[String]): DataFrame = {
    require(keys.nonEmpty, "topKPerKey needs at least one key column")
    require(orderBy.nonEmpty, "topKPerKey needs an ordering")
    val spark = df.sparkSession
    ensureStrategy(spark)
    val child = df.queryExecution.analyzed
    def attr(name: String): Attribute =
      child.output.find(_.name == name).getOrElse(
        sys.error(s"column $name not in ${child.output.map(_.name).mkString(",")}"))
    val sortOrder = orderBy.map { case (name, asc) =>
      SortOrder(attr(name), if (asc) Ascending else Descending)
    }
    val kExpr = kCol.map { c =>
      val a = attr(c)
      require(a.dataType == IntegerType,
        s"per-key k column $c must be INT, got ${a.dataType.simpleString}")
      a
    }
    val node = TopKPerKeyNode(keys.map(attr), sortOrder, k,
      AttributeReference("rank", LongType, nullable = false)(), child, kExpr)
    org.apache.spark.sql.graftshim.PlanShim.ofRows(spark, node)
  }

  /** Install the planner strategy once per session (also available
    * config-free via `spark.sql.extensions=graft.functions.GraftExtensions`).
    */
  def ensureStrategy(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(TopKPerKeyStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKPerKeyStrategy
}

/** Logical node: born resolved (attributes come from an analyzed child). */
final case class TopKPerKeyNode(
    keys: Seq[Attribute],
    sortOrder: Seq[SortOrder],
    k: Int,
    rankAttr: Attribute,
    child: LogicalPlan,
    kExpr: Option[Attribute] = None) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr)
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyNode =
    copy(child = newChild)
}

object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(keys, sortOrder, k, rankAttr, child, kExpr) =>
      TopKPerKeyFinalExec(keys, sortOrder, k, rankAttr,
        TopKPerKeyPartialExec(keys, sortOrder, k, planLater(child), kExpr),
        kExpr) :: Nil
    case _ => Nil
  }
}

/** Shared per-partition heap pass: retain at most k(key) rows per key,
  * ordered by `sortOrder`. The heap is a max-heap on the WORST retained row
  * (reverse of the ranking order), so eviction is O(log k) and a full group
  * never materializes. `kFor` reads the per-key capacity from every row;
  * a row whose capacity differs from the one its key's heap was opened
  * with fails the task (static k = a constant function).
  */
private[plans] object TopKHeaps {

  /** Cap on rows held per partition before the PARTIAL phase flushes its
    * heaps downstream (a flush only weakens the pre-aggregation — emitted
    * rows re-merge at the final phase — so correctness is unaffected while
    * memory stays bounded on high-cardinality keys, where a window sort
    * would have spilled).
    */
  val PartialFlushRows: Int = 4 << 20

  private final class Slot(val cap: Int,
    val heap: java.util.PriorityQueue[InternalRow])

  def partitionTopK(
      it: Iterator[InternalRow],
      keyProj: UnsafeProjection,
      ordering: Ordering[InternalRow],
      kFor: InternalRow => Int,
      flushEvery: Int = Int.MaxValue): Iterator[(UnsafeRow, java.util.PriorityQueue[InternalRow])] = {
    import scala.jdk.CollectionConverters._
    var heaps = new java.util.LinkedHashMap[UnsafeRow, Slot]()
    val reverse = ordering.reverse // head = worst retained
    var held = 0L
    var flushed: Iterator[(UnsafeRow, java.util.PriorityQueue[InternalRow])] = Iterator.empty
    while (it.hasNext) {
      val row = it.next()
      val key = keyProj(row)
      val cap = kFor(row)
      var slot = heaps.get(key)
      if (slot == null) {
        slot = new Slot(cap,
          new java.util.PriorityQueue[InternalRow](16, reverse))
        heaps.put(key.copy(), slot)
      } else if (cap != slot.cap) throw new IllegalArgumentException(
        s"per-key k disagrees within one key ($cap vs ${slot.cap}): the k " +
          "column must be constant per key")
      if (slot.heap.size() < slot.cap) { slot.heap.add(row.copy()); held += 1 }
      else if (ordering.compare(row, slot.heap.peek()) < 0) {
        slot.heap.poll()
        slot.heap.add(row.copy())
      }
      if (held >= flushEvery) {
        flushed = flushed ++ heaps.entrySet().asScala.toArray
          .iterator.map(e => (e.getKey, e.getValue.heap))
        heaps = new java.util.LinkedHashMap()
        held = 0
      }
    }
    flushed ++ heaps.entrySet().iterator().asScala
      .map(e => (e.getKey, e.getValue.heap))
  }

  /** Drain a heap into ranking order (best first). */
  def drain(heap: java.util.PriorityQueue[InternalRow],
      ordering: Ordering[InternalRow]): Array[InternalRow] = {
    val arr = new Array[InternalRow](heap.size())
    var i = arr.length - 1
    while (i >= 0) { arr(i) = heap.poll(); i -= 1 } // poll yields worst-first
    arr
  }

  /** Per-key capacity reader: the bound column, which must be non-NULL
    * and ≥ 1 (anything else fails the task); static k otherwise.
    */
  def capReader(kExpr: Option[Attribute], childOutput: Seq[Attribute],
      k: Int): InternalRow => Int = kExpr match {
    case Some(e) =>
      val proj = UnsafeProjection.create(Seq(e), childOutput)
      row => {
        val r = proj(row)
        if (r.isNullAt(0)) throw new IllegalArgumentException(
          s"per-key k column ${e.name} is NULL: it must be an INT >= 1")
        val cap = r.getInt(0)
        if (cap < 1) throw new IllegalArgumentException(
          s"per-key k column ${e.name} is $cap: it must be an INT >= 1")
        cap
      }
    case None => _ => k
  }
}

/** Pre-shuffle phase: bounded top-k per key within each input partition. */
final case class TopKPerKeyPartialExec(
    keys: Seq[Attribute],
    sortOrder: Seq[SortOrder],
    k: Int,
    child: SparkPlan,
    kExpr: Option[Attribute] = None) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    child.outputPartitioning
  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyPartialExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val keyExprs = keys
    val so = sortOrder
    val kk = k
    val ke = kExpr
    child.execute().mapPartitions({ it =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val ordering = RowOrdering.create(so, childOutput)
      val kFor = TopKHeaps.capReader(ke, childOutput, kk)
      // bounded memory even on high-cardinality keys: flush heaps
      // downstream periodically (extra partial rows re-merge at final)
      TopKHeaps.partitionTopK(it, keyProj, ordering, kFor,
          TopKHeaps.PartialFlushRows).flatMap { case (_, heap) =>
        TopKHeaps.drain(heap, ordering).iterator
      }
    }, preservesPartitioning = true)
  }
}

/** Post-shuffle phase: merge each key's partial survivors, emit rank. */
final case class TopKPerKeyFinalExec(
    keys: Seq[Attribute],
    sortOrder: Seq[SortOrder],
    k: Int,
    rankAttr: Attribute,
    child: SparkPlan,
    kExpr: Option[Attribute] = None) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr)
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keys) :: Nil
  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyFinalExec =
    copy(child = newChild)

  private def rankAttrIsInt: Boolean =
    rankAttr.dataType == org.apache.spark.sql.types.IntegerType

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val fullOutput = output
    val keyExprs = keys
    val so = sortOrder
    val kk = k
    val ke = kExpr
    child.execute().mapPartitions({ it =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val ordering = RowOrdering.create(so, childOutput)
      val proj = UnsafeProjection.create(fullOutput, fullOutput)
      val joined = new JoinedRow
      val rankRow = new GenericInternalRow(1)
      val kFor = TopKHeaps.capReader(ke, childOutput, kk)
      // row_number-rewritten plans carry an IntegerType rank attribute;
      // the explicit API creates LongType — emit whichever the attr declares
      val rankIsInt = rankAttrIsInt
      TopKHeaps.partitionTopK(it, keyProj, ordering, kFor).flatMap { case (_, heap) =>
        TopKHeaps.drain(heap, ordering).iterator.zipWithIndex.map { case (row, i) =>
          rankRow.update(0, if (rankIsInt) i + 1 else (i + 1).toLong)
          proj(joined(row, rankRow)).copy(): InternalRow
        }
      }
    }, preservesPartitioning = true)
  }
}
