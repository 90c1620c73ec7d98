package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.exec.LogRouter
import graft.store.DerivedItems

/** Driver-facing bundle of the reference query surface: every operator from
  * SURVEY.md §2.1/2.2/2.4 bound to the derived item table, each with its
  * DuckDB oracle. Registered into [[graft.SparkEntry]].
  */
object ReferenceSurface {

  private def items(s: SparkSession, d: String) = DerivedItems.items(s, d)

  /** One connector-layout materialization of the queue per dataset per JVM,
    * so the gates below time the DSv2 read path, not a repeated queue write.
    */
  private val queueDirs = scala.collection.concurrent.TrieMap.empty[String, String]
  private def queuePath(s: SparkSession, d: String): String =
    queueDirs.getOrElseUpdate(d, {
      val p = java.nio.file.Files.createTempDirectory("graft-queue-gate").toString + "/q"
      graft.store.connector.WorkQueueSource.write(
        items(s, d).select("itemID", "taskID", "itemState", "logLength", "nestedTaskCount"), p)
      p
    })

  private def queue(s: SparkSession, d: String): DataFrame =
    s.read.format("graft.store.connector.WorkQueueSource")
      .option("path", queuePath(s, d)).load()

  /** Synthetic log payload over documents used by the X8 router query:
    * every 11th doc is inflated past the inline tier, every 7th carries a
    * `PyAnamo:\t` tagged line (salvage path), so all routes except s3
    * (exercised in unit tests — 10 MB payloads don't belong in the gate)
    * appear. Mirrored exactly in [[payloadSql]].
    */
  private def payload(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      concat(
        when(col("doc_id") % 11 === 0, repeat(col("text"), 40)).otherwise(col("text")),
        when(col("doc_id") % 7 === 0,
          concat(lit("\nPyAnamo:\tdoc "), col("doc_id").cast("string")))
          .otherwise(lit(""))).as("payload"))

  private val payloadSql =
    """payloads AS (
      |  SELECT doc_id,
      |    (CASE WHEN doc_id % 11 = 0 THEN repeat(text, 40) ELSE text END) ||
      |    (CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'PyAnamo:' || chr(9) || 'doc ' || CAST(doc_id AS VARCHAR)
      |          ELSE '' END) AS payload
      |  FROM documents
      |)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pa_todo_items" -> ((s, d) =>
      StateQueries.todoItems(items(s, d)).orderBy("itemID")),
    "pa_point_lookup" -> ((s, d) =>
      StateQueries.pointLookup(items(s, d), "item_424")),
    "pa_item_counter" -> ((s, d) => StateQueries.itemCounter(items(s, d))),
    "pa_state_samples" -> ((s, d) =>
      StateQueries.stateSamples(items(s, d)).withColumn("rank", col("rank").cast("long"))),
    "pa_progress_histogram" -> ((s, d) =>
      StateQueries.progressHistogram(items(s, d))),
    "pa_completion_check" -> ((s, d) =>
      StateQueries.completionCheck(items(s, d))),
    "pa_formatted_dates" -> ((s, d) =>
      StateQueries.formattedDates(items(s, d))),
    "pa_item_job_states" -> ((s, d) =>
      JobStates.itemJobStates(items(s, d), DerivedItems.batchJobs(s, d))),
    "pa_job_state_counts" -> ((s, d) =>
      JobStates.jobStateCounts(items(s, d), DerivedItems.batchJobs(s, d))),
    "pa_log_router" -> ((s, d) =>
      LogRouter.route(payload(graft.Tables.documents(s, d)), "payload")
        .select(col("doc_id"), col("route"), col("stored_bytes").cast("long"))
        .orderBy("doc_id")),
    // S2 through the real DSv2 connector: itemID equality + count-by-state
    // both pushed — the reference's per-item state probe as a point count
    // (`code/client.py:139-159`). Guards the filter+aggregate pushdown
    // combination that round 8 found silently dropping the id filter.
    "pa_queue_state_counts" -> ((s, d) =>
      queue(s, d).groupBy(col("itemState")).count().orderBy("itemState")),
    "pa_queue_item_count" -> ((s, d) =>
      queue(s, d).filter(col("itemID") === "item_424")
        .groupBy(col("itemState")).count().orderBy("itemState")),
    // S7/F14: JSON parse of the events props payload + aggregation
    "pa_json_props" -> ((s, d) =>
      graft.Tables.events(s, d)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy("event_type")),
    // J2: parsed-log reconciliation upsert — existing (done tasks) win,
    // only genuinely new rows are inserted
    "pa_log_upsert" -> ((s, d) => {
      // one cached build feeds both the existing and incoming branches
      val all = DerivedItems.nestedTaskRows(s, d).cache()
      val existing = all.filter(col("status") === "done")
        .select(col("itemID"), col("taskKey"), lit("loaded").as("origin"))
      val incoming = all
        .select(col("itemID"), col("taskKey"), lit("incoming").as("origin"))
      graft.ops.Mutations.upsertByKey(existing, incoming, Seq("itemID", "taskKey"))
        .orderBy("itemID", "taskKey")
    }),
  )

  private val itemsWith = DerivedItems.itemsCte

  val oracles: Map[String, String] = Map(
    "pa_todo_items" -> (itemsWith +
      """
        |SELECT itemID, taskID, taskScript, nestedTaskCount
        |FROM items WHERE itemState = 'todo' ORDER BY itemID""".stripMargin),
    "pa_point_lookup" -> (itemsWith +
      """
        |SELECT itemID, itemState, lockID FROM items WHERE itemID = 'item_424'""".stripMargin),
    "pa_item_counter" -> (itemsWith +
      """
        |SELECT itemState, COUNT(*) AS n, COUNT(nestedTaskCount) AS n_nested,
        |       MIN(itemID) AS min_item, MAX(itemID) AS max_item
        |FROM items GROUP BY itemState ORDER BY itemState""".stripMargin),
    "pa_state_samples" -> (itemsWith +
      """
        |SELECT itemState, itemID, rank FROM (
        |  SELECT itemState, itemID,
        |         ROW_NUMBER() OVER (PARTITION BY itemState ORDER BY itemID) AS rank
        |  FROM items)
        |WHERE rank <= 3 ORDER BY itemState, rank""".stripMargin),
    "pa_progress_histogram" -> (itemsWith +
      """
        |SELECT bucket, COUNT(*) AS n, MIN(itemID) AS min_item, MAX(itemID) AS max_item
        |FROM (
        |  SELECT itemID,
        |    CASE WHEN pct = 0 THEN 'todo' WHEN pct <= 25 THEN 'Q1'
        |         WHEN pct <= 50 THEN 'Q2' WHEN pct <= 75 THEN 'Q3'
        |         WHEN pct <= 99 THEN 'Q4' ELSE 'done' END AS bucket
        |  FROM (SELECT itemID, (logLength * 100) // nestedTaskCount AS pct
        |        FROM items WHERE nestedTaskCount IS NOT NULL AND nestedTaskCount > 0))
        |GROUP BY bucket ORDER BY bucket""".stripMargin),
    "pa_completion_check" -> (itemsWith +
      """
        |SELECT itemID, itemState,
        |       CASE WHEN logLength = nestedTaskCount THEN 'done'
        |            ELSE 'Wall_Time_Exceeded' END AS recomputedState
        |FROM items
        |WHERE itemState IN ('locked', 'Wall_Time_Exceeded') AND nestedTaskCount IS NOT NULL
        |ORDER BY itemID""".stripMargin),
    "pa_formatted_dates" -> (itemsWith +
      """
        |SELECT itemID, strftime(lockDate, '%d/%m/%Y-%H:%M:%S') AS lock_date,
        |       CASE WHEN doneDate IS NULL THEN NULL
        |            WHEN errorDate THEN 'Error-' || strftime(doneDate, '%d/%m/%Y-%H:%M:%S')
        |            ELSE strftime(doneDate, '%d/%m/%Y-%H:%M:%S') END AS done_date
        |FROM items WHERE lockDate IS NOT NULL ORDER BY itemID""".stripMargin),
    "pa_item_job_states" -> (itemsWith + ", " + DerivedItems.batchJobsCte +
      """
        |SELECT itemID, jobID,
        |       CASE WHEN job_status IS NULL THEN 'ERROR_FETCHING'
        |            WHEN job_status IN ('SUCCEEDED','FAILED','RUNNING') THEN job_status
        |            ELSE 'OTHER' END AS job_state
        |FROM (SELECT itemID,
        |        array_to_string(list_slice(string_split(instanceID, '-'), 1,
        |          len(string_split(instanceID, '-')) - 1), '-') || ':' ||
        |          string_split(instanceID, '-')[-1] AS jobID
        |      FROM items WHERE itemState = 'locked') li
        |LEFT JOIN jobs USING (jobID)
        |ORDER BY itemID""".stripMargin),
    "pa_job_state_counts" -> (itemsWith + ", " + DerivedItems.batchJobsCte +
      """
        |SELECT CASE WHEN job_status IS NULL THEN 'ERROR_FETCHING'
        |            WHEN job_status IN ('SUCCEEDED','FAILED','RUNNING') THEN job_status
        |            ELSE 'OTHER' END AS job_state,
        |       COUNT(*) AS n
        |FROM (SELECT array_to_string(list_slice(string_split(instanceID, '-'), 1,
        |          len(string_split(instanceID, '-')) - 1), '-') || ':' ||
        |          string_split(instanceID, '-')[-1] AS jobID
        |      FROM items WHERE itemState = 'locked') li
        |LEFT JOIN jobs USING (jobID)
        |GROUP BY 1 ORDER BY job_state""".stripMargin),
    "pa_log_router" -> ("WITH " + payloadSql +
      """
        |SELECT doc_id,
        |  CASE WHEN strlen(payload) < 2000 THEN 'dynamo'
        |       WHEN strlen(payload) <= 10485760 AND salvaged IS NOT NULL
        |            AND strlen(salvaged) < 2000 THEN 'dynamo_salvaged'
        |       WHEN strlen(payload) <= 10485760 THEN 'cloudwatch'
        |       ELSE 's3' END AS route,
        |  CAST(CASE WHEN strlen(payload) >= 2000 AND strlen(payload) <= 10485760
        |            AND salvaged IS NOT NULL AND strlen(salvaged) < 2000
        |       THEN strlen(salvaged) ELSE strlen(payload) END AS BIGINT) AS stored_bytes
        |FROM (
        |  SELECT doc_id, payload,
        |    CASE WHEN len(list_filter(string_split(payload, chr(10)),
        |           x -> regexp_matches(x, '^PyAnamo:' || chr(9)))) > 0
        |         THEN array_to_string(list_transform(
        |           list_filter(string_split(payload, chr(10)),
        |             x -> regexp_matches(x, '^PyAnamo:' || chr(9))),
        |           x -> regexp_replace(x, '^PyAnamo:' || chr(9), '')), chr(10))
        |    END AS salvaged
        |  FROM payloads)
        |ORDER BY doc_id""".stripMargin),
    "pa_queue_state_counts" -> (itemsWith +
      """
        |SELECT itemState, COUNT(*) AS "count" FROM items
        |GROUP BY itemState ORDER BY itemState""".stripMargin),
    "pa_queue_item_count" -> (itemsWith +
      """
        |SELECT itemState, COUNT(*) AS "count" FROM items
        |WHERE itemID = 'item_424'
        |GROUP BY itemState ORDER BY itemState""".stripMargin),
    "pa_json_props" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "pa_log_upsert" -> (DerivedItems.nestedTaskRowsCte +
      """
        |, existing AS (SELECT itemID, taskKey, 'loaded' AS origin FROM ntasks WHERE status = 'done')
        |SELECT itemID, taskKey, origin FROM existing
        |UNION ALL
        |SELECT t.itemID, t.taskKey, 'incoming' AS origin FROM ntasks t
        |ANTI JOIN existing e ON t.itemID = e.itemID AND t.taskKey = e.taskKey
        |ORDER BY itemID, taskKey""".stripMargin),
  )
}
