package graft.model

import java.sql.Timestamp

import org.apache.spark.sql.types._

/** Core data model: the reference's single-table work-item store re-expressed
  * as a typed Spark schema (SURVEY.md §1).
  *
  * The reference discriminates single vs nested items by the *runtime type*
  * of `TaskScript` (string vs map — `code/runner.py:168-194`). Spark columns
  * are monomorphic, so the polymorphism becomes two nullable columns
  * (`taskScript`, `nestedTasks`); exactly one is non-null per item.
  * `"NULL"` string sentinels (`code/manager.py:295-300`) become real nulls.
  */
final case class NestedTask(status: String, script: String)

final case class TaskLog(status: String, stdout: String, stderr: String)

final case class WorkItem(
    itemID: String,
    taskID: String,
    taskScript: Option[String],
    nestedTasks: Option[Map[String, NestedTask]],
    itemState: String,
    lockID: Option[String],
    instanceID: Option[String],
    lockDate: Option[Timestamp],
    doneDate: Option[Timestamp],
    errorDate: Boolean, // reference prefixes failure dates with "Error-" (modifier.py:167)
    log: Map[String, TaskLog],
    logLength: Long,
    nestedTaskCount: Option[Long]) {

  def isNested: Boolean = nestedTasks.nonEmpty
}

/** Item lifecycle states — `PyAnamo Schema.md:30-32`, `code/modifier.py:199-202`. */
object ItemState {
  val Todo = "todo"
  val Locked = "locked"
  val Done = "done"
  val WallTimeExceeded = "Wall_Time_Exceeded"
  val All: Seq[String] = Seq(Todo, Locked, Done, WallTimeExceeded)
  /** The states that end an item: a worker done-marks their ids. */
  val Terminal: Seq[String] = Seq(Done, WallTimeExceeded)
}

object WorkItem {
  /** Reference timestamp format `%d/%m/%Y-%H:%M:%S` (`code/modifier.py:78`). */
  val DateFormat = "dd/MM/yyyy-HH:mm:ss"

  val nestedTaskType: StructType = StructType(Seq(
    StructField("status", StringType),
    StructField("script", StringType)))

  val taskLogType: StructType = StructType(Seq(
    StructField("status", StringType),
    StructField("stdout", StringType),
    StructField("stderr", StringType)))

  /** Canonical store schema (SURVEY.md §1.4). */
  val schema: StructType = StructType(Seq(
    StructField("itemID", StringType, nullable = false),
    StructField("taskID", StringType, nullable = false),
    StructField("taskScript", StringType),
    StructField("nestedTasks", MapType(StringType, nestedTaskType)),
    StructField("itemState", StringType, nullable = false),
    StructField("lockID", StringType),
    StructField("instanceID", StringType),
    StructField("lockDate", TimestampType),
    StructField("doneDate", TimestampType),
    StructField("errorDate", BooleanType, nullable = false),
    StructField("log", MapType(StringType, taskLogType)),
    StructField("logLength", LongType, nullable = false),
    StructField("nestedTaskCount", LongType)))
}
