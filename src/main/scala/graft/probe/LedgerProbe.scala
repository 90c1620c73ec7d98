package graft.probe

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.exec.StreamingRunner
import graft.model.WorkItem
import graft.store.ItemStore
import graft.store.connector.{WorkQueueLedger, WorkQueueSource}

/** Scale probe for the ledger worker (SCALE_PROBE cadence): `dispatchers`
  * [[StreamingRunner.ledgerDispatcher]] queries, each with its own
  * checkpoint and instance, drain ONE connector queue of `triggers` files
  * × `itemsPerTrigger` scriptless items, one file per trigger — claim
  * CAS and outcome commit, not subprocess forks. `monotone` ids give each
  * file one contiguous id range (the append-mostly queue: a new wave
  * overlaps no finished wave's done files); `random` is the NEGATIVE
  * CONTROL — hashed ids, files cut by arrival, so every wave spans the
  * key space and the done-set probe reads O(done) per wave.
  *
  * Shapes on record in SCALE_PROBE.md: `1000 15000` (small waves; the
  * per-trigger cost must stay flat, late_over_early), `4 3750000` (four
  * big waves), `120 5000 K` (K contending dispatchers: items/s and CAS
  * retries).
  *
  * Prints one JSON line: build/wall seconds, items/s, early/mid/late
  * window median and p90 trigger ms, the median number of Spark jobs a
  * trigger runs (`jobs_per_batch`, counted by a listener from the batch id
  * each stream thread stamps on its jobs), CAS retries, exactly-once accounting
  * (total and per-dispatcher result rows, done, distinct done, ledger
  * entries left), ledger and done-set `_log` file counts (vacuum-bounded)
  * and checkpoint bytes (O(files), not O(items)). Exits 1 when the
  * accounting breaks.
  *
  * Usage: runMain graft.probe.LedgerProbe [triggers=1000]
  *          [itemsPerTrigger=15000] [dispatchers=1] [ids=monotone|random]
  */
object LedgerProbe {

  final case class Record(triggers: Int, items: Long, dispatchers: Int,
      ids: String, buildS: Double, wallS: Double, triggerMs: Seq[Long],
      jobsPerBatch: Seq[Long], casRetries: Long, resultRows: Seq[Long],
      done: Long, doneDistinct: Long, ledgerLeft: Long, ledgerLogFiles: Int,
      doneLogFiles: Int, ckptBytes: Long) {

    /** Every broken exactly-once bound: each item committed once, claimed
      * done once, and no claim left behind by a clean drain. */
    def violations: Seq[String] = Seq(
      s"result_rows ${resultRows.sum} != items $items" -> (resultRows.sum != items),
      s"done $done != items $items" -> (done != items),
      s"done_distinct $doneDistinct != items $items" -> (doneDistinct != items),
      s"ledger_left $ledgerLeft != 0" -> (ledgerLeft != 0)
    ).collect { case (msg, true) => msg }

    def json: String = {
      // MEDIAN per 5% window, not mean: one GC stall or maintenance-tick
      // spike in a 50-trigger window skews a mean by hundreds of ms and
      // fakes a drift verdict; p90 shows the spikes instead of averaging
      // them in. The first window is skipped (JIT and codegen warm-up).
      def at(xs: Seq[Long], q: Int): Long =
        if (xs.isEmpty) 0L else xs.sorted.apply(((xs.length - 1) * q) / 10)
      val w = math.max(1, triggerMs.length / 20)
      val mid = triggerMs.length / 2
      val windows = Seq("early" -> triggerMs.slice(w, 2 * w),
        "mid" -> triggerMs.slice(mid, mid + w), "late" -> triggerMs.takeRight(w))
      val medians = windows.map { case (k, xs) => s""""${k}_ms": ${at(xs, 5)}""" }
      val p90s = windows.map { case (k, xs) => s""""${k}_p90_ms": ${at(xs, 9)}""" }
      val ratio = at(windows(2)._2, 5).toDouble / math.max(1L, at(windows(0)._2, 5))
      (Seq(s""""triggers": $triggers""", s""""batches": ${triggerMs.length}""",
        s""""items": $items""", s""""dispatchers": $dispatchers""",
        s""""ids": "$ids"""", f""""build_s": $buildS%.1f""",
        f""""wall_s": $wallS%.1f""", s""""items_per_sec": ${(items / wallS).toLong}""") ++
        medians ++ p90s ++
        Seq(f""""late_over_early": $ratio%.2f""",
          s""""jobs_per_batch": ${at(jobsPerBatch, 5)}""",
          s""""cas_retries": $casRetries""",
          s""""result_rows": ${resultRows.sum}""",
          s""""result_rows_per_dispatcher": ${resultRows.mkString("[", ",", "]")}""",
          s""""done": $done""", s""""done_distinct": $doneDistinct""",
          s""""ledger_left": $ledgerLeft""", s""""ledger_log_files": $ledgerLogFiles""",
          s""""done_log_files": $doneLogFiles""", s""""ckpt_bytes": $ckptBytes"""))
        .mkString("{", ", ", "}")
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length <= 4, "usage: LedgerProbe [triggers] [itemsPerTrigger] " +
      "[dispatchers] [ids=monotone|random]")
    val spark = graft.SparkEntry.session("graft-ledger-probe")
    val r = try run(spark, args.lift(0).map(_.toInt).getOrElse(1000),
        args.lift(1).map(_.toInt).getOrElse(15000),
        args.lift(2).map(_.toInt).getOrElse(1), args.lift(3).getOrElse("monotone"))
      finally spark.stop()
    println(r.json)
    if (r.violations.nonEmpty) {
      System.err.println("exactly-once violated: " + r.violations.mkString("; "))
      sys.exit(1)
    }
  }

  def run(spark: SparkSession, triggers: Int, perTrigger: Int,
      dispatchers: Int, ids: String): Record = {
    require(ids == "monotone" || ids == "random", s"ids must be monotone|random: $ids")
    require(triggers > 0 && perTrigger > 0 && dispatchers > 0,
      "triggers, itemsPerTrigger and dispatchers must be positive")
    val n = triggers.toLong * perTrigger
    val base = java.nio.file.Files.createTempDirectory("graft-ledgerprobe")
    val queue = s"$base/queue"
    val ledger = s"$base/ledger"

    val t0 = System.nanoTime()
    val idExpr =
      if (ids == "random")
        // the hashed prefix decides the order; the raw id suffix keeps ids
        // unique against hash collisions
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
      // random ids are cut by ARRIVAL (taskID is monotone in the build id):
      // cutting them by itemID would hand each file a narrow hashed range
      // and quietly restore the locality the control exists to remove
      .repartitionByRange(triggers,
        if (ids == "random") col("taskID") else col("itemID"))
    WorkQueueSource.append(items, queue)
    val buildS = (System.nanoTime() - t0) / 1e9

    // keyed by (run, batch): K dispatchers each number their batches from 0
    val trigMs = new java.util.concurrent.ConcurrentHashMap[(String, Long), Long]()
    // Spark jobs per (query, batch), from the ids the stream thread stamps
    // on every job it submits; triggers with input are listed as they end
    val jobs = new java.util.concurrent.ConcurrentHashMap[(String, Long), Long]()
    val ended = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    val jobCounter = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties).foreach { p =>
          val (query, batch) = (p.getProperty("sql.streaming.queryId"),
            p.getProperty("streaming.sql.batchId"))
          if (query != null && batch != null) {
            jobs.merge((query, batch.toLong), 1L, (a: Long, b: Long) => a + b); ()
          }
        }
    }
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val d = e.progress.durationMs.get("triggerExecution")
        // idle (no-data) progress events are not triggers
        if (d != null && e.progress.numInputRows > 0) {
          trigMs.put((e.progress.runId.toString, e.progress.batchId), d.longValue)
          ended.add((e.progress.id.toString, e.progress.batchId)); ()
        }
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    spark.sparkContext.addSparkListener(jobCounter)
    WorkQueueLedger.claimRetries.reset()
    val t1 = System.nanoTime()
    // each query runs on its own stream thread: start all K, then wait for
    // each to drain what is there
    val queries = (0 until dispatchers).map { k =>
      StreamingRunner.ledgerDispatcher(
          StreamingRunner.queueWorkItems(
            StreamingRunner.queueStream(spark, queue, Some(1))),
          s"$base/results-$k", ledger, s"probe-$k")
        .option("checkpointLocation", s"$base/ckpt-$k").start()
    }
    var t2 = 0L
    try queries.foreach(_.processAllAvailable())
    finally {
      queries.foreach(_.stop())
      t2 = System.nanoTime()
      // listener delivery is async: wait until the job count is stable
      var (seen, spins) = (-1L, 0)
      while (jobs.values.asScala.sum != seen && spins < 50) {
        seen = jobs.values.asScala.sum; Thread.sleep(100); spins += 1
      }
      spark.sparkContext.removeSparkListener(jobCounter)
      spark.streams.removeListener(listener)
    }
    val wallS = (t2 - t1) / 1e9

    val resultRows = (0 until dispatchers).map { k =>
      val p = s"$base/results-$k"
      if (new java.io.File(p).exists()) ItemStore.load(spark, p).count() else 0L
    }
    val done = WorkQueueLedger.doneEntries(spark, s"${ledger}_done").select("itemID")
    def logFiles(root: String): Int =
      Option(new java.io.File(s"$root/_log").list())
        .map(_.count(!_.startsWith("."))).getOrElse(0)
    def du(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(du).sum
      else f.length()
    Record(triggers, n, dispatchers, ids, buildS, wallS,
      trigMs.asScala.toSeq.sortBy { case ((run, batch), _) => (batch, run) }.map(_._2),
      ended.asScala.toSeq.map(k => jobs.getOrDefault(k, 0L)),
      WorkQueueLedger.claimRetries.sum(), resultRows,
      done.count(), done.distinct().count(),
      WorkQueueLedger.entries(spark, ledger).count(),
      logFiles(ledger), logFiles(s"${ledger}_done"),
      (0 until dispatchers).map(k => du(new java.io.File(s"$base/ckpt-$k"))).sum)
  }
}
