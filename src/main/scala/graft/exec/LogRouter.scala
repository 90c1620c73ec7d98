package graft.exec

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** X8 size-tiered log routing + P5 salvage filtering (SURVEY.md §2.10;
  * reference `code/executor.py:102-113,169-281`).
  *
  * The reference routes each task's stdout+stderr by byte size: < 2 KB
  * inline into the item table; 2 KB–10 MB to the log service (after trying
  * to "salvage" only the `PyAnamo:\t`-tagged lines, which go inline if they
  * fit); > 10 MB gzip'd to object storage, leaving a pointer. Here routing
  * is a pure column expression (codegen'd `when` chain, no per-row Python),
  * and the actual fan-out to sinks is a partitioned write: payloads tagged
  * `s3` land in gzip text files partitioned by tier — one job, three sinks.
  */
object LogRouter {
  val InlineLimit = 2000L // bytes  (executor.py:179)
  val LogServiceLimit = 10L * 1024 * 1024 // bytes (executor.py:184)

  val TagPattern = "^PyAnamo:\\t" // executor.py:102-113

  /** Tier decision on raw payload size. */
  def tier(
      payload: Column,
      inlineLimit: Long = InlineLimit,
      logServiceLimit: Long = LogServiceLimit): Column =
    when(octet_length(payload) < inlineLimit, "dynamo")
      .when(octet_length(payload) <= logServiceLimit, "cloudwatch")
      .otherwise("s3")

  /** P5 salvage: keep only tagged lines, tag stripped. Returns the salvaged
    * text (lines joined), or null when nothing matched.
    */
  def salvage(payload: Column): Column = {
    val lines = split(payload, "\n")
    val tagged = filter(lines, l => l.rlike(TagPattern))
    when(size(tagged) > 0,
      array_join(transform(tagged, l => regexp_replace(l, TagPattern, "")), "\n"))
  }

  /** Full routing decision incl. the salvage fallback: a cloudwatch-tier
    * payload whose salvaged tagged lines fit inline goes to `dynamo`
    * (salvaged form) instead (`code/executor.py:184-202`).
    */
  def route(
      logs: DataFrame,
      payloadCol: String,
      inlineLimit: Long = InlineLimit,
      logServiceLimit: Long = LogServiceLimit): DataFrame = {
    val payload = col(payloadCol)
    val salvaged = salvage(payload)
    val t = tier(payload, inlineLimit, logServiceLimit)
    logs
      .withColumn("salvaged", salvaged)
      .withColumn("route",
        when(t === "dynamo", "dynamo")
          .when(t === "cloudwatch" &&
            col("salvaged").isNotNull && octet_length(col("salvaged")) < inlineLimit,
            "dynamo_salvaged")
          .otherwise(t))
      .withColumn("stored_bytes",
        when(col("route") === "dynamo_salvaged", octet_length(col("salvaged")))
          .otherwise(octet_length(payload)))
  }

  /** Sink fan-out: writes the oversized tier as gzip'd text partitioned by
    * route (the S10 `compresedPushS3` analog — `code/executor.py:117-131`),
    * returns the inline tier for the item-table merge.
    */
  def sink(routed: DataFrame, payloadCol: String, outDir: String): DataFrame = {
    routed.filter(col("route").isin("cloudwatch", "s3"))
      .select(col("route"), col(payloadCol))
      .write.mode("overwrite")
      .partitionBy("route")
      .option("compression", "gzip")
      .text(outDir)
    routed.filter(col("route").isin("dynamo", "dynamo_salvaged"))
  }
}
