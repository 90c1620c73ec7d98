package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.model.WorkItem

/** Structured Streaming monitors (SURVEY.md §2.9): the reference's
  * sleep-loop pollers (`monitor_task` `code/manager.py:209-244`,
  * `monitor_nestedTasks` `code/manager.py:915-939`) become continuous
  * streaming aggregations — no client loop, no repeated GSI scans; each
  * micro-batch incrementally updates the same aggregation state.
  */
object Monitors {

  /** A2 `monitor_task` as a stream: per-state counts over the item stream,
    * `outputMode(complete)` — each trigger emits the current snapshot
    * (exactly the reference's per-iteration `{todo,locked,done}` dict).
    */
  def stateCounts(itemsStream: DataFrame): DataFrame =
    itemsStream.groupBy(col("itemState"))
      .agg(count(lit(1)).as("n"), count(col("nestedTaskCount")).as("n_nested"))

  /** A4 `monitor_nestedTasks` as a stream: the progress histogram (A3
    * bucket logic) continuously maintained; counts only, as the reference's
    * monitor variant drops the id lists.
    */
  def progressHistogram(itemsStream: DataFrame): DataFrame =
    graft.queries.StateQueries.progressBucketed(itemsStream)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"))

  /** T5 + the watermark/window semantics the reference lacks: tumbling
    * 1-hour event windows with 10-minute lateness tolerance, append mode —
    * state is evicted once the watermark passes, so the monitor runs
    * indefinitely with bounded memory.
    */
  def eventWindowCounts(eventsStream: DataFrame): DataFrame =
    eventsStream
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("total"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("total"))

  /** Watermarked stream-stream join: each purchase pairs with the same
    * user's clicks in the preceding `horizon` — the live attribution twin
    * of the batch as-of join (`Relational.asofPurchaseClick`), emitting ALL
    * qualifying clicks (the batch op picks the latest; a stream cannot know
    * "latest" until the watermark closes, so the join emits the candidate
    * set and attribution picks downstream). BOTH sides carry watermarks and
    * the join condition bounds event-time distance, so each side's buffered
    * state is evicted once the watermark passes — without the time bound
    * the state would grow with the full stream history.
    */
  def purchaseClickJoin(eventsStream: DataFrame,
      horizon: String = "1 hour"): DataFrame = {
    val purchases = eventsStream.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "0 seconds")
    val clicks = eventsStream.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "0 seconds")
    purchases.join(clicks,
      purchases("user_id") === clicks("user_id") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $horizon"),
      "inner")
      .select(purchases("user_id"), col("purchase_id"), col("click_id"))
  }

  /** Streaming exact dedup: first-seen-wins on the normalized-text
    * fingerprint, with watermark-bounded state (fingerprints older than the
    * lateness horizon are evicted — at 100 TB/day the dedup state would
    * otherwise grow without bound). The streaming face of
    * `Dedup.exactGroups`.
    */
  def streamingExactDedup(
      docsStream: DataFrame, tsCol: String, textCol: String,
      lateness: String = "1 hour"): DataFrame =
    docsStream
      .withColumn("fp", md5(graft.text.TextAnalysis.normalized(col(textCol))))
      .withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark("fp")

  /** The streaming face of the corpus-prep ingest: PII scrub + repetition
    * rule (both stateless narrow projections — they stream trivially) +
    * first-seen exact dedup with watermark-bounded state. A live pipeline
    * runs THIS on arriving documents and leaves the batch-global stages
    * (near-dup clustering, decontamination, mixture, split) to the daily
    * `dedupAgainst`/`prepareCorpus` pass over the accumulated store — the
    * standard lambda split: per-event hygiene in-stream, corpus-global
    * decisions in batch.
    *
    * The repetition rule here is the tokens-only form (distinct-token
    * ratio + top-token mass): per-doc, stateless, identical verdict to the
    * batch `repetitionMetrics` token columns. The bigram statistic needs
    * the explode→aggregate chain and is left to the batch filter.
    */
  def streamingPrepare(docsStream: DataFrame, tsCol: String, idCol: String,
      textCol: String, lateness: String = "1 hour",
      minDistinctRatio: Double = 0.35,
      maxTopTokenFrac: Double = 0.5): DataFrame = {
    val toks = split(graft.text.TextAnalysis.normalized(col(textCol)), " ")
    val scrubbed = docsStream
      .withColumn(textCol, graft.pipeline.Pipeline.redactText(col(textCol)))
      .withColumn("__n", size(toks).cast("long"))
      .withColumn("__distinct", size(array_distinct(toks)).cast("long"))
      .withColumn("__max", array_max(
        transform(array_distinct(toks),
          t => size(filter(toks, x => x === t)).cast("long"))))
      .filter(col("__distinct") / col("__n") >= minDistinctRatio &&
        col("__max") / col("__n") <= maxTopTokenFrac)
      .drop("__n", "__distinct", "__max")
    streamingExactDedup(scrubbed, tsCol, textCol, lateness)
  }

  /** Open the item table as a stream (file source over the store path). */
  def itemStream(spark: SparkSession, path: String): DataFrame =
    spark.readStream.schema(WorkItem.schema).parquet(path)

  /** The reference monitor's retained time-series (`monitor_task` builds
    * `{Iteration_0: {...}, Iteration_1: {...}}` across its poll loop,
    * `code/manager.py:209-244`): each trigger APPENDS its full snapshot to
    * `historyPath`, tagged `Iteration_<batchId>`. Batch ids persist in the
    * checkpoint, so a restarted monitor keeps numbering where it left off —
    * the series survives the process, which the reference's in-memory dict
    * doesn't. History is plain partitioned parquet: queryable mid-run, and
    * the append per trigger is a few aggregate rows, not the input.
    */
  def runWithHistory(df: DataFrame, historyPath: String, checkpoint: String,
      mode: String = "complete"): StreamingQuery = {
    val q = df.writeStream
      .outputMode(mode)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        // idempotent under foreachBatch's at-least-once replay: each batch
        // OWNS its iteration directory, so a post-write/pre-commit crash
        // replays into an overwrite instead of a duplicate append
        batch
          .withColumn("iteration", concat(lit("Iteration_"), lit(batchId)))
          .write.mode("overwrite")
          .parquet(s"$historyPath/iteration_id=$batchId")
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q
  }

  /** The accumulated Iteration_i series written by [[runWithHistory]]. */
  def history(spark: SparkSession, historyPath: String): DataFrame =
    spark.read.parquet(historyPath)

  /** Drive a monitor synchronously into an in-memory table (test/ops
    * harness): returns the running query after one full pass.
    */
  def runToMemory(df: DataFrame, name: String, mode: String): StreamingQuery = {
    val q = df.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q
  }
}
