package graft.probe

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.exec.StreamingRunner
import graft.model.WorkItem
import graft.store.ItemStore
import graft.store.connector.{WorkQueueLedger, WorkQueueSource}

/** Scale probe for MULTI-DISPATCHER contention over one ledger queue
  * (r15 VERDICT task 6): the claim protocol serializes contending
  * claimers on the table-version CAS — correctness is spec-proved (the
  * 4-contender race spec), but nothing MEASURED throughput vs dispatcher
  * count, so "dispatcher-per-queue" guidance had no number behind it.
  *
  * Shape: K streaming dispatchers (each its own checkpoint + instance,
  * all `--takeover`-less) drain ONE connector queue of `triggers` files x
  * `itemsPerTrigger` scriptless items concurrently. Every batch claims
  * through the shared ledger; losers of the version CAS re-read and
  * retry with backoff. Reported per K: wall seconds, items/s, CAS
  * retries (from [[WorkQueueLedger.claimRetries]]), exactly-once
  * accounting (sum of result rows == items, done == items, ledger empty).
  *
  * Usage: runMain graft.probe.LedgerContentionProbe [triggers]
  *          [itemsPerTrigger] [dispatchers]
  * Defaults 120 x 5000 x 2. Run the same shape at 1/2/4/8 to draw the
  * contention curve (SCALE_PROBE.md records the round-16 numbers).
  */
object LedgerContentionProbe {

  def main(args: Array[String]): Unit = {
    val triggers = args.lift(0).map(_.toInt).getOrElse(120)
    val perTrigger = args.lift(1).map(_.toInt).getOrElse(5000)
    val dispatchers = args.lift(2).map(_.toInt).getOrElse(2)
    val n = triggers.toLong * perTrigger
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-ledger-contention-probe")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val base = java.nio.file.Files.createTempDirectory("graft-ledcontend")
    val queue = s"$base/queue"
    val ledger = s"$base/ledger"

    val t0 = System.nanoTime()
    val items = spark.range(n).select(
      format_string("item-%012d", col("id")).as("itemID"),
      format_string("task-%012d", col("id")).as("taskID"),
      lit(null).cast("string").as("taskScript"),
      lit(null).cast(WorkItem.schema("nestedTasks").dataType).as("nestedTasks"),
      lit("todo").as("itemState"),
      lit(null).cast("string").as("lockID"),
      lit(null).cast("string").as("instanceID"),
      lit(null).cast("timestamp").as("lockDate"),
      lit(null).cast("timestamp").as("doneDate"),
      lit(false).as("errorDate"),
      lit(null).cast(WorkItem.schema("log").dataType).as("log"),
      lit(0L).as("logLength"),
      lit(null).cast("long").as("nestedTaskCount"))
      .repartitionByRange(triggers, col("itemID"))
    WorkQueueSource.append(items, queue)
    val buildS = (System.nanoTime() - t0) / 1e9

    WorkQueueLedger.claimRetries.reset()
    val t1 = System.nanoTime()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val runs = (0 until dispatchers).map { k =>
      Future {
        val q = StreamingRunner.ledgerDispatcher(
            StreamingRunner.queueWorkItems(
              StreamingRunner.queueStream(spark, queue, Some(1))),
            s"$base/results-$k", ledger, s"contend-$k")
          .option("checkpointLocation", s"$base/ckpt-$k").start()
        try q.processAllAvailable() finally q.stop()
      }
    }
    runs.foreach(Await.result(_, Duration.Inf))
    val wallS = (System.nanoTime() - t1) / 1e9

    val resultRows = (0 until dispatchers).map { k =>
      val p = s"$base/results-$k"
      if (new java.io.File(p).exists()) ItemStore.load(spark, p).count() else 0L
    }
    val doneCount = WorkQueueLedger.doneEntries(spark, s"${ledger}_done").count()
    val ledgerLeft = WorkQueueLedger.entries(spark, ledger).count()
    println(
      s"""{"dispatchers": $dispatchers, "triggers": $triggers, """ +
      s""""items": $n, "build_s": ${f"$buildS%.1f"}, """ +
      s""""wall_s": ${f"$wallS%.1f"}, """ +
      s""""items_per_sec": ${(n / wallS).toLong}, """ +
      s""""cas_retries": ${WorkQueueLedger.claimRetries.sum()}, """ +
      s""""result_rows_total": ${resultRows.sum}, """ +
      s""""result_rows_per_dispatcher": ${resultRows.mkString("[", ",", "]")}, """ +
      s""""done": $doneCount, "ledger_left": $ledgerLeft}""")
    spark.stop()
  }
}
