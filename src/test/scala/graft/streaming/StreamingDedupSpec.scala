package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

class StreamingDedupSpec extends SparkSpec {
  import spark.implicits._

  test("streaming exact dedup keeps one row per fingerprint within the watermark") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sdedup").toString + "/src"
    // 3 distinct texts; "dup me" arrives three times at different ts
    Seq(
      (1L, "2024-01-01 00:00:01", "dup me"),
      (2L, "2024-01-01 00:00:02", "unique one"),
      (3L, "2024-01-01 00:00:03", "dup  me"), // normalizes to the same fp
      (4L, "2024-01-01 00:00:04", "another text"),
      (5L, "2024-01-01 00:00:05", "DUP ME"))
      .toDF("id", "ts", "text")
      .withColumn("ts", to_timestamp($"ts"))
      .write.parquet(dir)
    val stream = spark.readStream
      .schema("id long, ts timestamp, text string").parquet(dir)
    val q = Monitors.runToMemory(
      Monitors.streamingExactDedup(stream, "ts", "text"),
      "dedup_out", "append")
    try {
      val kept = spark.table("dedup_out")
        .select($"id").as[Long].collect().toSet
      // one survivor per fingerprint: {dup me (either arrival), unique, another}
      assert(kept.size === 3)
      assert(kept.contains(2L) && kept.contains(4L))
      assert((kept - 2L - 4L).subsetOf(Set(1L, 3L, 5L)))
    } finally q.stop()
  }

  test("streamingPrepare: scrubbed, token-rule filtered, one survivor per fingerprint") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sprep").toString + "/src"
    Seq(
      (1L, "a varied doc with an email pii@x.example.com inside it"),
      (2L, "a varied doc with an email pii@x.example.com inside it"), // exact dup post-scrub
      (3L, "spam spam spam spam spam spam spam spam"), // fails token rule
      (4L, "another perfectly ordinary document of words"))
      .toDF("doc_id", "text")
      .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:01")))
      .write.parquet(dir)
    val stream = spark.readStream
      .schema("doc_id long, text string, ts timestamp").parquet(dir)
    val q = Monitors.runToMemory(
      Monitors.streamingPrepare(stream, "ts", "doc_id", "text"),
      "prep_out", "append")
    try {
      val rows = spark.table("prep_out")
        .select($"doc_id", $"text").as[(Long, String)].collect()
      val ids = rows.map(_._1).toSet
      assert(!rows.exists(_._2.contains("@")), "PII survived the stream scrub")
      assert(!ids.contains(3L), "repetition-failing doc survived")
      assert(ids.size === 2 && ids.contains(4L) &&
        ids.intersect(Set(1L, 2L)).size === 1,
        s"expected one survivor of the dup pair + doc 4, got $ids")
    } finally q.stop()
  }
}
