package graft.probe

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.exec.StreamingRunner
import graft.model.WorkItem
import graft.store.ItemStore
import graft.store.connector.{WorkQueueLedger, WorkQueueSource}

/** Scale probe for the connector STREAMING read + claim path (SCALE_PROBE
  * cadence): drive [[StreamingRunner.ledgerDispatcher]] itself over a large
  * work queue — micro-batch file admission → ledger wave claim →
  * idempotent outcome commit → wave retirement, at volumes the gate-scale
  * specs never reach.
  *
  * Items carry NO scripts (`taskScript` null, no nested tasks): the probe
  * measures the CONNECTOR machinery — micro-batch file admission, the
  * ledger claim protocol, outcome commit — not subprocess forks, which
  * belong to the workload, not the engine.
  *
  * Usage:
  *   runMain graft.probe.ConnectorStreamProbe [nItems] [files] [mfpt]
  * Prints one JSON line:
  *   items, wall_s, items_per_sec, triggers,
  *   accepted (must == items), accepted_distinct (must == items),
  *   result_rows (must == items — exactly-once outcome commit),
  *   ledger_left (must == 0 — finished waves are released),
  *   ckpt_bytes (source/commit log growth — bounded by O(files) entries,
  *   not items).
  */
object ConnectorStreamProbe {

  def main(args: Array[String]): Unit = {
    require(args.length <= 3,
      "usage: ConnectorStreamProbe [nItems] [files] [mfpt] (claims always " +
        "go through the ledger; there is no claim-mode argument)")
    val n = args.lift(0).map(_.toLong).getOrElse(15000000L)
    val files = args.lift(1).map(_.toInt).getOrElse(8)
    val mfpt = args.lift(2).map(_.toInt).getOrElse(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-connector-stream-probe")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val base = java.nio.file.Files.createTempDirectory("graft-connprobe")
    val queue = s"$base/queue"
    val results = s"$base/results"
    val ckpt = s"$base/ckpt"

    // 1. the 100×-scale queue: n todo items across `files` data files
    val t0 = System.nanoTime()
    val items = spark.range(n).select(
      concat(lit("item-"), col("id")).as("itemID"),
      concat(lit("task-"), col("id")).as("taskID"),
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
      .repartition(files)
    WorkQueueSource.append(items, queue)
    val buildS = (System.nanoTime() - t0) / 1e9

    // 2. the streaming dispatcher with ledger claims (no takeover: a clean
    // run, no takeover churn)
    val t1 = System.nanoTime()
    val stream = StreamingRunner.queueWorkItems(
      StreamingRunner.queueStream(spark, queue, Some(mfpt)))
    val ledgerPath = s"$base/ledger"
    val q = StreamingRunner.ledgerDispatcher(stream, results, ledgerPath, "probe-1")
      .option("checkpointLocation", ckpt).start()
    try q.processAllAvailable() finally q.stop()
    val wallS = (System.nanoTime() - t1) / 1e9

    // 3. accounting — every bound here is an exactly-once claim: finished
    // waves are RELEASED and their ids live in the compact done set, so
    // the durable claim record is `_done`, and the ledger itself must be
    // EMPTY after a clean drain (ledger_left)
    val claims = WorkQueueLedger.doneEntries(spark, s"${ledgerPath}_done")
      .select("itemID")
    val ledgerLeft = WorkQueueLedger.entries(spark, ledgerPath).count()
    val accepted = claims.count()
    val acceptedDistinct = claims.distinct().count()
    val resultRows = ItemStore.load(spark, results).count()
    def du(f: java.io.File): Long =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).map(du).sum
      else f.length()
    val ckptBytes = du(new java.io.File(ckpt))
    val triggers = Option(new java.io.File(s"$ckpt/commits").list())
      .map(_.count(!_.startsWith("."))).getOrElse(0)

    println(
      s"""{"items": $n, "files": $files, "mfpt": $mfpt, """ +
      s""""build_s": ${f"$buildS%.1f"}, "wall_s": ${f"$wallS%.1f"}, """ +
      s""""items_per_sec": ${(n / wallS).toLong}, "triggers": $triggers, """ +
      s""""accepted": $accepted, "accepted_distinct": $acceptedDistinct, """ +
      s""""result_rows": $resultRows, """ +
      s""""ledger_left": $ledgerLeft, "ckpt_bytes": $ckptBytes}""")
    spark.stop()
  }
}
