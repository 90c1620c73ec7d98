package graft.probe

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.exec.StreamingRunner
import graft.model.WorkItem
import graft.store.ItemStore
import graft.store.connector.{WorkQueueLedger, WorkQueueSource}

/** Scale probe for the CONTINUOUS ledger worker's long-run shape
  * (SCALE_PROBE cadence; VERDICT r14 task 3): [[ConnectorStreamProbe]]
  * drove 4 big waves, but the `work` verb's real deployment is THOUSANDS
  * of small ones, where the r14 design paid two O(ledger) terms per
  * trigger — the claim anti-join re-read every claim ever made, and
  * release rewrote the whole remaining ledger. Round 15 made claims
  * in-flight-only (release-on-commit, manifest-only wave drop), moved
  * done-ness to a range/bloom-indexed id table whose per-wave anti-join
  * reads only range-overlapping files, and bounded commit-log/tag growth
  * with a 64-batch vacuum cadence. This probe MEASURES the result: per-
  * trigger wall time at trigger ~25 vs ~mid vs ~end must be flat, not
  * linear in lifetime throughput.
  *
  * Usage: runMain graft.probe.LedgerCadenceProbe [triggers] [itemsPerTrigger]
  *          [idShape=monotone|random]
  * Defaults 1000 x 15000 (15M items through one streaming query). Items
  * carry no scripts: the probe measures claim/commit machinery, not
  * subprocess forks. `monotone` ids are zero-padded and range-partitioned
  * one file per trigger — the append-mostly queue shape, where a new
  * wave's id range overlaps no finished wave's done files (the notDone
  * fast path). `random` is the NEGATIVE CONTROL: hashed ids make every
  * wave span the whole key space, so range pruning holds nothing back
  * and the done-set membership probe reads O(done) per wave — the
  * documented degradation, measured instead of asserted.
  *
  * Prints one JSON line: early/mid/late mean trigger ms (and the
  * late/early ratio — the flatness claim), items/s, exactly-once
  * accounting (result_rows == done == items, ledger_left == 0), and the
  * ledger's _log file count (vacuum-bounded, not O(triggers)).
  */
object LedgerCadenceProbe {

  def main(args: Array[String]): Unit = {
    val triggers = args.lift(0).map(_.toInt).getOrElse(1000)
    val perTrigger = args.lift(1).map(_.toInt).getOrElse(15000)
    val idShape = args.lift(2).getOrElse("monotone")
    val n = triggers.toLong * perTrigger
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-ledger-cadence-probe")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val base = java.nio.file.Files.createTempDirectory("graft-ledcadence")
    val queue = s"$base/queue"
    val results = s"$base/results"
    val ledger = s"$base/ledger"
    val ckpt = s"$base/ckpt"

    // queue: one range-contiguous file per trigger, zero-padded monotone ids
    val t0 = System.nanoTime()
    // monotone: one contiguous id range per trigger file. random: hashed
    // ids (deterministic), every trigger file spans the whole key space —
    // each file still holds DISTINCT ids, only their locality changes.
    val idExpr =
      if (idShape == "random")
        // hashed prefix dominates ordering (random locality); the raw id
        // suffix guarantees uniqueness against hash collisions
        format_string("item-%016x-%d", xxhash64(col("id")), col("id"))
      else format_string("item-%012d", col("id"))
    val items = spark.range(n).select(
      idExpr.as("itemID"),
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
      // monotone: one contiguous itemID range per file. random: files cut
      // by ARRIVAL order (taskID is monotone in the build id), so every
      // file's itemIDs span the whole hashed key space — partitioning the
      // random shape by itemID would hand each file a narrow hashed range
      // and quietly restore the locality the control exists to remove
      .repartitionByRange(triggers,
        if (idShape == "random") col("taskID") else col("itemID"))
    WorkQueueSource.append(items, queue)
    val buildS = (System.nanoTime() - t0) / 1e9

    val trigMs = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val d = e.progress.durationMs.get("triggerExecution")
        if (d != null) { trigMs.put(e.progress.batchId, d.longValue); () }
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })

    val t1 = System.nanoTime()
    val q = StreamingRunner.ledgerDispatcher(
        StreamingRunner.queueWorkItems(
          StreamingRunner.queueStream(spark, queue, Some(1))),
        results, ledger, "cadence-1")
      .option("checkpointLocation", ckpt).start()
    try q.processAllAvailable() finally q.stop()
    val wallS = (System.nanoTime() - t1) / 1e9

    import scala.jdk.CollectionConverters._
    val byBatch = trigMs.asScala.toSeq.sortBy(_._1).map(_._2)
    // MEDIAN per window, not mean: one GC stall or maintenance-tick spike
    // inside a 50-trigger window skews a mean by hundreds of ms and fakes
    // a drift verdict (observed: +3% total wall reported as +36% "late
    // mean"); the median is the steady per-trigger cost. p90 is reported
    // alongside so spikes are visible instead of silently averaged in.
    def medianOf(xs: Seq[Long]): Long =
      if (xs.isEmpty) 0L else xs.sorted.apply((xs.length - 1) / 2)
    def p90Of(xs: Seq[Long]): Long =
      if (xs.isEmpty) 0L else xs.sorted.apply(((xs.length - 1) * 9) / 10)
    val w = math.max(1, byBatch.length / 20) // 5% windows
    // skip the first few triggers (JIT + codegen warmup), then windows at
    // the start, middle and end of the run — the late/early ratio is the
    // flatness claim
    val earlyW = byBatch.slice(w, 2 * w)
    val midW = byBatch.slice(byBatch.length / 2, byBatch.length / 2 + w)
    val lateW = byBatch.takeRight(w)
    val (early, mid, late) = (medianOf(earlyW), medianOf(midW), medianOf(lateW))
    val doneCount = WorkQueueLedger
      .doneEntries(spark, s"${ledger}_done").count()
    val ledgerLeft = WorkQueueLedger.entries(spark, ledger).count()
    val resultRows = ItemStore.load(spark, results).count()
    val logFiles = Option(new java.io.File(s"$ledger/_log").list())
      .map(_.count(!_.startsWith("."))).getOrElse(0)
    val doneLogFiles = Option(new java.io.File(s"${ledger}_done/_log").list())
      .map(_.count(!_.startsWith("."))).getOrElse(0)

    println(
      s"""{"triggers": ${byBatch.length}, "items": $n, "ids": "$idShape", """ +
      s""""build_s": ${f"$buildS%.1f"}, "wall_s": ${f"$wallS%.1f"}, """ +
      s""""items_per_sec": ${(n / wallS).toLong}, """ +
      s""""early_ms": $early, "mid_ms": $mid, "late_ms": $late, """ +
      s""""early_p90_ms": ${p90Of(earlyW)}, "mid_p90_ms": ${p90Of(midW)}, """ +
      s""""late_p90_ms": ${p90Of(lateW)}, """ +
      s""""late_over_early": ${f"${late.toDouble / math.max(1, early)}%.2f"}, """ +
      s""""result_rows": $resultRows, "done": $doneCount, """ +
      s""""ledger_left": $ledgerLeft, "ledger_log_files": $logFiles, """ +
      s""""done_log_files": $doneLogFiles}""")
    spark.stop()
  }
}
