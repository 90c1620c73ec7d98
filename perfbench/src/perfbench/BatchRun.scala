package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.exec.{LogRouter, Runner, TaskOutcome}
import graft.model.ItemState
import graft.ops.Mutations
import graft.queries.JobStates
import graft.store.{Importer, ItemStore}

/** `batch_run`: script forks, the outcome merge, mutations and Manager
  * reads, with no ledger and no streaming.
  *
  * Input: an import with a nested delimiter; every item carries 2–4
  * nested tasks whose scripts are short shell commands. Item kinds are
  * seeded: plain; fail-first (task 1 exits non-zero while `${ATTEMPT}`
  * is 1); tagged big log (over the inline limit, with a `PyAnamo:` line
  * that salvage keeps inline); untagged big log.
  *
  * One repetition: import → pass 1 → route logs → merge → reset the
  * errored items → pass 2 → route → merge → lock a seeded set → rewrite
  * the table → the Manager query set, including the job-state join
  * against a seeded jobs table.
  */
final class BatchRun(scale: Double) extends Workload {
  val name = "batch_run"
  val unit = "items"
  val Items = math.max(16, math.round(60 * scale).toInt)
  val MonitorLoops = 2

  private val Plain = 0
  private val FailFirst = 1
  private val Salvaged = 2
  private val BigLog = 3
  private val scripts = Map(
    Plain -> "echo task",
    FailFirst -> "f() { if [ ${ATTEMPT} -lt 2 ] && [ $1 -eq 1 ]; then exit 3; fi; echo task $1; }; f",
    Salvaged -> "printf %03000d 0; echo; echo 'PyAnamo:\ttask'",
    BigLog -> "printf %03000d 0; echo; echo task")

  private var kinds: Array[Int] = Array.empty
  private var tasks: Array[Int] = Array.empty
  private var ids: Array[String] = Array.empty
  private var locked: Set[String] = Set.empty
  private var jobStatus: Map[Int, String] = Map.empty
  private var routes: Map[String, Long] = Map.empty
  private var answers = Monitor.Answers()

  def generate(ctx: Ctx, dir: String): Map[String, Any] = {
    val rnd = new java.util.Random(ctx.seed)
    ids = Array.tabulate(Items)(i => f"item-${i * 10 + rnd.nextInt(10)}%06d")
    // fixed shares of each kind and of 2, 3 and 4 tasks, so that every
    // seed asks for the same work; the seed decides which item gets what
    def shuffled[T: scala.reflect.ClassTag](xs: Seq[T]): Array[T] = {
      val a = xs.toArray
      for (i <- a.indices.reverse) {
        val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a
    }
    kinds = shuffled(Seq.tabulate(Items) { i =>
      val r = i.toDouble / Items
      if (r < 0.6) Plain else if (r < 0.75) FailFirst else if (r < 0.9) Salvaged else BigLog
    })
    tasks = shuffled(Seq.tabulate(Items)(i => 2 + i % 3))
    locked = shuffled(ids.toSeq).take(math.max(1, Items / 10)).toSet
    val statuses = Seq("SUCCEEDED", "FAILED", "RUNNING", "RUNNABLE", "")
    jobStatus = (0 until ctx.cores).map(p => p -> statuses(rnd.nextInt(statuses.size))).toMap
    val bytes = Workload.writeLines(new File(dir, "items.psv"),
      Iterator("itemID|taskID|TaskScript|TaskArgs") ++ ids.indices.iterator.map { i =>
        s"${ids(i)}|task-$i|${scripts(kinds(i))}|${(1 to tasks(i)).mkString(",")}"
      })
    Map("items" -> Items, "nested_tasks" -> tasks.sum,
      "fail_first_items" -> kinds.count(_ == FailFirst),
      "big_log_items" -> kinds.count(k => k == Salvaged || k == BigLog),
      "locked_items" -> locked.size, "bytes" -> bytes)
  }

  /** Route counts implied by the generated scripts: every pass-1 task,
    * plus the pass-2 rerun of each fail-first item's task 1.
    */
  private def expectedRoutes: Map[String, Long] = {
    def tasksOf(k: Int) = ids.indices.filter(kinds(_) == k).map(tasks(_).toLong).sum
    Map("dynamo" -> (tasksOf(Plain) + tasksOf(FailFirst) + kinds.count(_ == FailFirst)),
      "dynamo_salvaged" -> tasksOf(Salvaged),
      "cloudwatch" -> tasksOf(BigLog)).filter(_._2 > 0)
  }

  private def jobs(ctx: Ctx): DataFrame = {
    import ctx.spark.implicits._
    val host = java.net.InetAddress.getLocalHost.getHostName
    jobStatus.toSeq.filter(_._2.nonEmpty).map { case (p, s) => (s"$host:$p", s) }
      .toDF("jobID", "job_status")
  }

  /** One pass of the worker: fork the tasks, route their logs, merge the
    * outcomes back into the table.
    */
  private def pass(ctx: Ctx, table: String, logs: String, attempt: Int): Map[String, Long] = {
    import ctx._
    val items = ItemStore.load(spark, table)
    val (updated, outcomes) = tracer.span("exec.process") {
      val r = Runner.processItems(items,
        Runner.RunConfig(env = Map("ATTEMPT" -> attempt.toString), parallelism = cores))
      r._2.count()
      r
    }
    val routed = tracer.span("log.route") {
      val routed = LogRouter.route(outcomes.toDF(), "stdout").cache()
      LogRouter.sink(routed, "stdout", logs).count()
      val counts = routed.groupBy("route").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      routed.unpersist()
      counts
    }
    tracer.span("exec.merge") {
      tracer.span("store.commit") {
        ItemStore.replacePartitions(updated, table, ItemState.All)
      }
    }
    if (tracer.on) forkStats(outcomes)
    outcomes.unpersist()
    routed
  }

  private var forks = Map.empty[String, Double]

  private def forkStats(outcomes: Dataset[TaskOutcome]): Unit = {
    val r = outcomes.agg(count(lit(1)), sum(col("elapsedSeconds")),
      count(when(col("status") === "Failed", 1))).head()
    forks = Map("exec.tasks" -> (forks.getOrElse("exec.tasks", 0.0) + r.getLong(0)),
      "exec.fork_s" -> (forks.getOrElse("exec.fork_s", 0.0) + r.getDouble(1)),
      "exec.failed_tasks" -> (forks.getOrElse("exec.failed_tasks", 0.0) + r.getLong(2)))
  }

  def rep(ctx: Ctx, input: String, dir: String): (Long, Map[String, Any]) = {
    import ctx._
    val table = s"$dir/items"
    forks = Map.empty
    tracer.span("store.import") {
      ItemStore.save(Importer.importFile(spark, s"$input/items.psv", "|", Some(",")), table)
    }
    val r1 = pass(ctx, table, s"$dir/logs-1", attempt = 1)
    tracer.span("ops.reset") {
      ItemStore.replacePartitions(
        Mutations.resetItems(ItemStore.load(spark, table), col("errorDate")),
        table, ItemState.All)
    }
    val r2 = pass(ctx, table, s"$dir/logs-2", attempt = 2)
    routes = (r1.keySet ++ r2.keySet).map(k => k -> (r1.getOrElse(k, 0L) + r2.getOrElse(k, 0L))).toMap
    tracer.span("ops.update") {
      ItemStore.replacePartitions(
        Mutations.updateItemStates(ItemStore.load(spark, table),
          Mutations.idPredicate(locked.toSeq), ItemState.Locked),
        table, ItemState.All)
    }
    tracer.span("ops.rewrite")(ItemStore.compact(spark, table))
    answers = Monitor.run(ctx, ItemStore.load(spark, table), jobs(ctx), MonitorLoops)
    (Items.toLong, Map("log_routes" -> routes))
  }

  def after(ctx: Ctx, dir: String, traced: Boolean): Map[String, Any] = {
    import ctx._
    val rows = ItemStore.load(spark, s"$dir/items")
      .select(col("itemID"), col("itemState"), col("errorDate"), col("logLength"),
        col("nestedTaskCount"),
        expr("size(map_filter(nestedTasks, (k, v) -> v.status != 'done'))").as("open"))
      .collect()
    val byId = rows.map(r => r.getString(0) -> r).toMap
    rec.check("batch.item_count", rows.length == Items && byId.keySet == ids.toSet,
      s"${rows.length} rows for $Items items")
    // every item finished; the seeded locked set was flipped afterwards
    def wantState(id: String) = if (locked(id)) ItemState.Locked else ItemState.Done
    rec.check("batch.all_done", rows.forall(r => r.getString(1) == wantState(r.getString(0))),
      rows.filter(r => r.getString(1) != wantState(r.getString(0))).take(3).mkString(","))
    rec.check("batch.nested_done", rows.forall(_.getInt(5) == 0),
      rows.filter(_.getInt(5) != 0).take(3).mkString(","))
    rec.check("batch.log_length", rows.forall(r => r.getLong(3) == r.getLong(4)),
      rows.filter(r => r.getLong(3) != r.getLong(4)).take(3).mkString(","))
    val failFirst = ids.indices.filter(kinds(_) == FailFirst).map(ids(_))
    rec.check("batch.fail_first_cleared",
      failFirst.forall(i => byId.get(i).exists(!_.getBoolean(2))),
      failFirst.flatMap(byId.get).filter(_.getBoolean(2)).take(3).mkString(","))
    rec.check("batch.route_counts", routes == expectedRoutes,
      s"got $routes, want $expectedRoutes")
    val host = java.net.InetAddress.getLocalHost.getHostName
    Monitor.verify(ctx, answers, Monitor.Expect(
      byState = Map(ItemState.Done -> (Items - locked.size).toLong,
        ItemState.Locked -> locked.size.toLong),
      buckets = Map("done" -> Items.toLong),
      completionRows = locked.size.toLong,
      todo = 0,
      jobStates = () => {
        // the classifier's contract, applied on the driver to the
        // instances that ran the locked items
        val byJob = jobStatus.map { case (p, s) => s"$host:$p" -> s }
        ItemStore.load(spark, s"$dir/items").filter(col("itemState") === ItemState.Locked)
          .select(JobStates.recomposeJobId(col("instanceID"))).collect()
          .map(r => byJob.getOrElse(r.getString(0), "") match {
            case "" => "ERROR_FETCHING"
            case s @ ("SUCCEEDED" | "FAILED" | "RUNNING") => s
            case _ => "OTHER"
          })
          .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
      }))
    if (!traced) Map.empty
    else {
      val (files, bytes) = Workload.dataFiles(new File(s"$dir/items"))
      forks ++ routes.map { case (k, v) => s"log.rows.$k" -> v.toDouble } ++
        Map("store.files" -> files.toDouble, "store.bytes" -> bytes.toDouble)
    }
  }
}
