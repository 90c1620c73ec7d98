package graft.exec

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** X1 `processItems` — the reference's worker main loop
  * (`code/runner.py:144-238`) as one declarative pass:
  *
  *   claim → execute → record → complete-test → persist
  *
  * Reference shape: each of N workers polls the todo GSI, optimistically
  * locks one item, forks its script(s), writes logs/states back per task,
  * loops. Spark shape: the driver *assigns* work by partitioning the
  * exploded todo tasks (exactly-once claim, no lock protocol, no backoff —
  * T1-T3 collapse into the scheduler), executors run the scripts
  * ([[ScriptRunner]]), and ONE merge join writes every state/log/counter
  * update back to the item table — versus the reference's two-plus network
  * round trips per task. The per-item aggregation keys on `itemID`, so at
  * scale the shuffle is bounded by result size, and the merge join is
  * co-partitioned on the same key.
  */
object Runner {

  final case class RunConfig(
      env: Map[String, String] = Map.empty,
      budgetSeconds: Option[Double] = None,
      parallelism: Int = 0, // 0 = leave partitioning to the scheduler
      shell: Seq[String] = Seq("bash", "-c"))

  /** Claimable work (P3: nested tasks only while still `todo` — skip-done
    * replay, `code/runner.py:101-105`), exploded to one row per process.
    */
  def todoTasks(items: DataFrame): Dataset[TaskExec] = {
    val spark = items.sparkSession
    import spark.implicits._
    val todo = items.filter(col("itemState") === "todo")
    val single = todo
      .filter(col("taskScript").isNotNull)
      .select(col("itemID"), lit(null).cast("string").as("taskKey"), col("taskScript").as("script"))
    val nested = todo
      .filter(col("nestedTasks").isNotNull)
      .select(col("itemID"), explode(col("nestedTasks")).as(Seq("taskKey", "task")))
      .filter(col("task.status") === "todo")
      .select(col("itemID"), col("taskKey"), col("task.script").as("script"))
    single.unionByName(nested).as[TaskExec]
  }

  /** Run everything claimable and merge the outcomes back into the item
    * table. Returns (updated items, raw per-task outcomes).
    */
  def processItems(items: DataFrame, config: RunConfig = RunConfig()): (DataFrame, Dataset[TaskOutcome]) = {
    val tasks0 = todoTasks(items)
    val tasks = if (config.parallelism > 0) tasks0.repartition(config.parallelism) else tasks0
    // cache: outcomes feed the merge AND caller inspection — without it any
    // second action would re-fork every task process (side effects!)
    val outcomes = ScriptRunner.run(tasks, config.env, config.budgetSeconds, config.shell).cache()
    (mergeOutcomes(items, outcomes.toDF), outcomes)
  }

  /** Fold outcome rows back into the canonical item table: per-key nested
    * status flips (M4), log entries, `logLength` += done count (A6 ADD),
    * completion test (A7), reference-format dates (F6/F7), instance
    * attribution. Single-task outcomes live under log key "single".
    */
  def mergeOutcomes(items: DataFrame, outcomes: DataFrame): DataFrame = {
    val perItem = outcomes
      .withColumn("logKey", coalesce(col("taskKey"), lit("single")))
      .groupBy(col("itemID"))
      .agg(
        count(when(col("status") === "Done", 1)).as("n_done"),
        count(when(col("status") === "Failed", 1)).as("n_failed"),
        count(when(col("status") === "Wall_Time_Exceeded", 1)).as("n_wte"),
        max(col("instanceID")).as("run_instanceID"),
        // tasks a run finished: flip their nested status to done
        collect_list(when(col("status") === "Done", col("taskKey"))).as("done_keys"),
        map_from_entries(collect_list(
          when(col("status").isin("Done", "Failed"),
            struct(col("logKey").as("key"),
              struct(col("status").as("status"), col("stdout").as("stdout"),
                col("stderr").as("stderr")).as("value"))))).as("new_log"))
    val merged = items.join(perItem, Seq("itemID"), "left")
    val ran = col("n_done").isNotNull // item participated in this run
    val isSingle = col("taskScript").isNotNull
    val newLogLength =
      when(isSingle, when(col("n_done") > 0,
          size(split(element_at(col("new_log"), "single").getField("stdout"), "\n")) - 1)
        .otherwise(lit(0)).cast("long"))
      .otherwise(col("logLength") + col("n_done"))
    // Single items: done once their process ran (success or failure —
    // modifier.py:129-175 marks both done, failures flagged by errorDate);
    // a budget-skipped single was never claimed, so it stays todo
    // (runner.py:126-141 raises before claiming). Nested items that ran or
    // were cut off mid-item complete-test into done vs Wall_Time_Exceeded
    // (modifier.py:193-203).
    val terminalState =
      when(isSingle,
        when(col("n_done") + col("n_failed") > 0, lit("done")).otherwise(col("itemState")))
        .otherwise(
          // nested: a fully budget-skipped item (nothing launched) was never
          // claimed either — keep its state; only a claimed-then-cut-off or
          // completed item takes the complete-test outcome
          when(col("n_done") + col("n_failed") === 0 && col("n_wte") > 0, col("itemState"))
            .when(newLogLength === col("nestedTaskCount"), "done")
            .otherwise("Wall_Time_Exceeded"))
    // ONE projection over the joined frame: every expression reads the
    // joined row as it came in (logLength and itemState before their
    // update), and each item column is written once, in the joined order
    val updated: Map[String, Column] = Map(
      "nestedTasks" ->
        when(ran && col("nestedTasks").isNotNull,
          transform_values(col("nestedTasks"),
            (k, v) => when(array_contains(col("done_keys"), k),
              struct(lit("done").as("status"), v.getField("script").as("script")))
              .otherwise(v)))
          .otherwise(col("nestedTasks")),
      "log" ->
        when(ran, map_concat(
          map_filter(col("log"), (k, _) => !array_contains(map_keys(col("new_log")), k)),
          col("new_log")))
          .otherwise(col("log")),
      "logLength" -> when(ran, newLogLength).otherwise(col("logLength")),
      "itemState" -> when(ran, terminalState).otherwise(col("itemState")),
      "instanceID" -> when(ran, col("run_instanceID")).otherwise(col("instanceID")),
      "lockDate" -> when(ran, current_timestamp()).otherwise(col("lockDate")),
      "doneDate" ->
        when(ran && terminalState.isin("done", "Wall_Time_Exceeded"), current_timestamp())
          .otherwise(col("doneDate")),
      "errorDate" -> when(ran, col("n_failed") > 0).otherwise(col("errorDate")))
    val outcomeCols = perItem.columns.toSet - "itemID"
    merged.select(merged.columns.filterNot(outcomeCols).toSeq.map(c =>
      updated.get(c).fold(col(c))(_.as(c))): _*)
  }
}
