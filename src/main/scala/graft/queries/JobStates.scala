package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** J1 `getItem_JobStates` (`code/manager.py:943-995`): enrich locked items
  * with their compute-backend job state.
  *
  * The reference loops over locked items issuing one `describe_jobs` API
  * call per item, re-deriving the Batch jobID from `InstanceID` by
  * split/join (`code/manager.py:977-978`). Spark-native: recompose the
  * jobID with string functions and do ONE broadcast hash join against the
  * job-state table — the jobs side is small (bounded by cluster size), so
  * no shuffle of the (huge) item side, and the per-item API loop becomes a
  * single lookup table scan.
  */
object JobStates {

  /** F9 jobID recompose: `'-'.join(parts[:-1]) + ':' + parts[-1]`. */
  def recomposeJobId(instanceID: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(
      array_join(slice(split(instanceID, "-"), lit(1), size(split(instanceID, "-")) - 1), "-"),
      lit(":"),
      element_at(split(instanceID, "-"), -1))

  /** P6 classifier (`code/manager.py:985-992`): known states pass through,
    * a missing job is ERROR_FETCHING, anything unknown buckets to OTHER.
    */
  def classify(status: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(status.isNull, "ERROR_FETCHING")
      .when(status.isin("SUCCEEDED", "FAILED", "RUNNING"), status)
      .otherwise("OTHER")

  /** Per-item enrichment rows: locked items joined (broadcast) to jobs. */
  def itemJobStates(items: DataFrame, jobs: DataFrame): DataFrame =
    items.filter(col("itemState") === "locked")
      .withColumn("jobID", recomposeJobId(col("instanceID")))
      .join(broadcast(jobs), Seq("jobID"), "left")
      .select(col("itemID"), col("jobID"), classify(col("job_status")).as("job_state"))
      .orderBy(col("itemID"))

  /** The reference's output shape: counts bucketed by classified state
    * (`len(results[state])` per state — `Submitting Use Case ... .md:104-108`, A10).
    */
  def jobStateCounts(items: DataFrame, jobs: DataFrame): DataFrame =
    items.filter(col("itemState") === "locked")
      .withColumn("jobID", recomposeJobId(col("instanceID")))
      .join(broadcast(jobs), Seq("jobID"), "left")
      .groupBy(classify(col("job_status")).as("job_state"))
      .agg(count(lit(1)).as("n"))
      .transform(StateQueries.sortedInOne(col("job_state")))
}
