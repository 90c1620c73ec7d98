package perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.exec.StreamingRunner
import graft.store.{Importer, ItemStore, VersionedTable}
import graft.store.connector.{WorkQueueLedger, WorkQueueSource}

/** `queue_drain` (one dispatcher) and `queue_contended` (two dispatchers
  * on two driver threads, each with its own checkpoint and instance).
  *
  * Input: a delimited file of scriptless items with monotone ids. Each
  * repetition imports it, publishes it through `WorkQueueSource.append`
  * as `Files` small queue files, drains the queue with
  * `StreamingRunner.ledgerDispatcher` (one file per trigger,
  * `processAllAvailable`) and runs the Manager query set over the
  * append-committed results store. The ledger and the per-trigger fixed
  * cost carry the load; scripts, mutations and dedup do no work.
  */
final class QueueWorkload(val name: String, dispatchers: Int, scale: Double) extends Workload {
  val unit = "items"
  val Files = math.max(1, math.round(2 * scale).toInt)
  val PerFile = 500
  val MonitorLoops = 2

  private var ids: Array[String] = Array.empty
  private var answers = Monitor.Answers()

  def generate(ctx: Ctx, dir: String): Map[String, Any] = {
    val rnd = new java.util.Random(ctx.seed)
    var id = 1L + rnd.nextInt(1000000)
    ids = Array.fill(Files * PerFile) { id += 1 + rnd.nextInt(7); f"item-$id%012d" }
    val bytes = Workload.writeLines(new File(dir, "items.psv"),
      Iterator("itemID|taskID|TaskScript") ++
        ids.iterator.map(i => f"$i|task-${rnd.nextInt() & 0x7fffffff}%08x|"))
    Map("items" -> ids.length, "queue_files" -> Files, "nested_tasks" -> 0,
      "dispatchers" -> dispatchers, "bytes" -> bytes)
  }

  private def results(dir: String): Seq[String] =
    (0 until dispatchers).map(k => s"$dir/results-$k")
      .filter(p => new File(p).exists())

  private def loadResults(ctx: Ctx, dir: String): DataFrame =
    results(dir).map(ItemStore.load(ctx.spark, _)).reduce(_ unionByName _)

  def rep(ctx: Ctx, input: String, dir: String): (Long, Map[String, Any]) = {
    import ctx._
    val queue = s"$dir/queue"
    val ledger = s"$dir/ledger"
    tracer.span("store.import") {
      val items = Importer.importFile(spark, s"$input/items.psv", "|")
      WorkQueueSource.append(items.repartitionByRange(Files, col("itemID")), queue, "parquet")
    }
    val retries0 = WorkQueueLedger.claimRetries.sum()
    val parent = tracer.current
    val drains = new ConcurrentLinkedQueue[Map[String, Any]]()
    def drain(k: Int): Unit = tracer.span("stream.drain", parent) {
      val t0 = System.nanoTime()
      val q = StreamingRunner.ledgerDispatcher(
          StreamingRunner.queueWorkItems(StreamingRunner.queueStream(spark, queue, Some(1))),
          s"$dir/results-$k", ledger, s"bench-$k")
        .option("checkpointLocation", s"$dir/ckpt-$k").start()
      try q.processAllAvailable() finally q.stop()
      val wall = (System.nanoTime() - t0) / 1e9
      val batches = q.recentProgress.toSeq.filter(_.durationMs.containsKey("addBatch"))
      batches.foreach { p =>
        val d = p.durationMs.asScala.map { case (key, v) => key -> v.longValue }.toMap
        sample("batch", d("triggerExecution") / 1000.0)
        rec.progress.add(Map("run" -> tracer.run, "dispatcher" -> k, "batch" -> p.batchId,
          "rows" -> p.numInputRows, "duration_ms" -> d))
      }
      drains.add(Map("dispatcher" -> k, "wall_s" -> wall, "batches" -> batches.size))
      ()
    }
    if (dispatchers == 1) drain(0)
    else {
      val errs = new ConcurrentLinkedQueue[Throwable]()
      val threads = (0 until dispatchers).map { k =>
        new Thread(() => try drain(k) catch { case t: Throwable => errs.add(t); () },
          s"perfbench-dispatcher-$k")
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      Option(errs.peek()).foreach(t => throw t)
    }
    val retries = WorkQueueLedger.claimRetries.sum() - retries0
    answers = Monitor.run(ctx, loadResults(ctx, dir), QueueWorkload.noJobs(ctx), MonitorLoops)
    (ids.length.toLong, Map("cas_retries" -> retries, "drains" -> drains.asScala.toSeq))
  }

  def after(ctx: Ctx, dir: String, traced: Boolean): Map[String, Any] = {
    import ctx._
    import spark.implicits._
    val n = ids.length.toLong
    val ledger = s"$dir/ledger"
    val res = loadResults(ctx, dir)
    val agg = res.agg(count(lit(1)), countDistinct(col("itemID"))).head()
    rec.check("queue.result_rows", agg.getLong(0) == n, s"${agg.getLong(0)} result rows for $n items")
    rec.check("queue.each_item_once", agg.getLong(1) == n, s"${agg.getLong(1)} distinct ids for $n items")
    val missing = ids.toSeq.toDF("itemID").join(res, Seq("itemID"), "left_anti").count()
    rec.check("queue.all_items_present", missing == 0, s"$missing items missing from results")
    val done = WorkQueueLedger.doneEntries(spark, s"${ledger}_done").count()
    rec.check("queue.done_equals_items", done == n, s"$done done for $n items")
    val left = WorkQueueLedger.entries(spark, ledger).count()
    rec.check("queue.ledger_empty", left == 0, s"$left ledger entries left")
    Monitor.verify(ctx, answers, Monitor.Expect(
      byState = Map("todo" -> n), buckets = Map.empty, completionRows = 0, todo = n,
      jobStates = () => Map.empty))
    if (!traced) Map.empty
    else {
      val stores = results(dir).map(p => Workload.dataFiles(new File(p)))
      def versions(p: String) = VersionedTable.latestVersion(spark, p).map(_ + 1).getOrElse(0L)
      Map("ledger.commits" -> (versions(ledger) + versions(s"${ledger}_done")),
        "ledger.log_files" -> (Workload.fileCount(new File(s"$ledger/_log")) +
          Workload.fileCount(new File(s"${ledger}_done/_log"))),
        "store.files" -> stores.map(_._1).sum,
        "store.bytes" -> stores.map(_._2).sum,
        "exec.tasks" -> res.select(coalesce(sum(size(col("log"))), lit(0L)).cast("long"))
          .head().getLong(0))
    }
  }
}

object QueueWorkload {
  /** The job table for the item↔job-state join: queue items are never
    * locked, so the join's answer is empty.
    */
  def noJobs(ctx: Ctx): DataFrame = {
    import ctx.spark.implicits._
    Seq(("bench:0", "RUNNING")).toDF("jobID", "job_status")
  }
}
