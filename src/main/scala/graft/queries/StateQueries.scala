package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.WorkItem

/** The reference's indexed query surface (SURVEY.md §2.1 S3-S5, §2.4 A1/A3/A7,
  * §2.6 O1), re-expressed as DataFrame transforms over the item table.
  *
  * Where the reference walks GSIs and accumulates Python lists, these compile
  * to a partition-pruned scan (+ map-side partial aggregation). The one
  * deliberate semantic change for scale: the reference returns *full itemID
  * lists* per state (`code/client.py:188-219`) — unbounded driver-side
  * collections at 100 TB — so the list-shaped outputs here are capped via a
  * window rank, and the headline aggregates return counts + extrema.
  */
object StateQueries {

  /** S3 `getToDoItems`: state filter + projection. The reference also
    * `random.shuffle`s the result for worker contention spread
    * (`code/client.py:133`) — obsolete under driver-assigned partitions, but
    * provided via `shuffleSeed` for fairness testing (`orderBy(rand(seed))`).
    */
  def todoItems(
      items: DataFrame,
      state: String = "todo",
      fields: Seq[String] = Seq("itemID", "taskID", "taskScript", "nestedTaskCount"),
      shuffleSeed: Option[Long] = None): DataFrame = {
    val base = items.filter(col("itemState") === state)
      .select(fields.map(col): _*)
    shuffleSeed.fold(base)(s => base.orderBy(rand(s)))
  }

  /** S4/S5 `getCurrentState`/`getLockID`: point lookup by itemID. */
  def pointLookup(items: DataFrame, itemID: String): DataFrame =
    items.filter(col("itemID") === itemID)
      .select(col("itemID"), col("itemState"), col("lockID"))

  /** A1 `itemCounter` (`code/client.py:188-219`): per-state totals. Instead
    * of the reference's three GSI queries + full id lists: one aggregation
    * with count, nested-item count, and id extrema (bounded output).
    */
  def itemCounter(items: DataFrame): DataFrame =
    items.groupBy(col("itemState"))
      .agg(
        count(lit(1)).as("n"),
        count(col("nestedTaskCount")).as("n_nested"),
        min(col("itemID")).as("min_item"),
        max(col("itemID")).as("max_item"))
      .transform(sortedInOne(col("itemState")))

  /** Total order for an aggregate with a BOUNDED number of groups (item
    * states, progress buckets, job states): the handful of rows sort in
    * one partition, where a range-partitioned `orderBy` would run a
    * sampling job and a shuffle for them. Outputs that grow with the
    * table keep `orderBy`.
    */
  private[queries] def sortedInOne(by: org.apache.spark.sql.Column*)(
      df: DataFrame): DataFrame =
    df.coalesce(1).sortWithinPartitions(by: _*)

  /** A1's id-list shape, made scale-safe: top-k itemIDs per state via window
    * rank (bounded rows out, no unbounded `collect_list`).
    */
  def stateSamples(items: DataFrame, k: Int = 3): DataFrame = {
    val w = Window.partitionBy(col("itemState")).orderBy(col("itemID"))
    items.select(col("itemState"), col("itemID"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("itemState"), col("rank"))
  }

  /** A3 `summarize_nestedTasks` (`code/manager.py:840-911`): progress
    * histogram over nested items. pct = floor(logLength/nestedTasks*100)
    * (the reference's `int(...)`), bucketed todo/Q1-Q4/done. Integer
    * arithmetic only, so the oracle matches exactly.
    */
  def progressHistogram(items: DataFrame): DataFrame =
    progressBucketed(items)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("itemID")).as("min_item"),
        max(col("itemID")).as("max_item"))
      .transform(sortedInOne(col("bucket")))

  /** The shared pct/bucket projection (single source of truth for the
    * bucket boundaries — the streaming monitor builds on the same
    * expression). Null-safe: items without a logLength are excluded rather
    * than falling through the when-chain into "done".
    */
  def progressBucketed(items: DataFrame): DataFrame =
    items
      .filter(col("nestedTaskCount").isNotNull && col("nestedTaskCount") > 0 &&
        col("logLength").isNotNull)
      .withColumn("pct", expr("logLength * 100 div nestedTaskCount"))
      .withColumn("bucket",
        when(col("pct") === 0, "todo")
          .when(col("pct") <= 25, "Q1")
          .when(col("pct") <= 50, "Q2")
          .when(col("pct") <= 75, "Q3")
          .when(col("pct") <= 99, "Q4")
          .otherwise("done"))

  /** A7 completion test (`code/modifier.py:193-203`): recompute the terminal
    * state of in-flight nested items — done iff every nested task logged.
    */
  def completionCheck(items: DataFrame): DataFrame =
    items.filter(col("itemState").isin("locked", "Wall_Time_Exceeded")
        && col("nestedTaskCount").isNotNull)
      .select(
        col("itemID"),
        col("itemState"),
        when(col("logLength") === col("nestedTaskCount"), "done")
          .otherwise("Wall_Time_Exceeded").as("recomputedState"))
      .orderBy(col("itemID"))

  /** F6/F7: reference-format timestamps (`%d/%m/%Y-%H:%M:%S`) with the
    * `Error-` failure prefix (`code/modifier.py:78,167`).
    */
  def formattedDates(items: DataFrame): DataFrame =
    items.filter(col("lockDate").isNotNull)
      .select(
        col("itemID"),
        date_format(col("lockDate"), WorkItem.DateFormat).as("lock_date"),
        when(col("doneDate").isNull, lit(null).cast("string"))
          .when(col("errorDate"),
            concat(lit("Error-"), date_format(col("doneDate"), WorkItem.DateFormat)))
          .otherwise(date_format(col("doneDate"), WorkItem.DateFormat))
          .as("done_date"))
      .orderBy(col("itemID"))
}
