package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

class StatefulSpec extends SparkSpec {
  import spark.implicits._

  test("streaming window(size, slide) ≡ batch hoppingWindowAgg exactly") {
    // the batch operator's doc claims semantic identity with Structured
    // Streaming's window() groupBy — this is that claim, asserted. Same
    // decimal-grid sum on both sides, so equality is exact, doubles
    // included.
    val size = graft.analytics.TimeSeries.GateHopSizeMicros
    val slide = graft.analytics.TimeSeries.GateHopSlideMicros
    val q = eventsStream("graft-hop-events")
      .groupBy(
        window($"ts", s"${size / 1000000} seconds", s"${slide / 1000000} seconds"),
        $"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(18,4)")).cast("double").as("total"))
      .select(unix_micros($"window.start").as("window_start"),
        $"event_type".as("grp"), $"n", $"total")
      .writeStream.outputMode("complete")
      .format("memory").queryName("hop_stream")
      .trigger(Trigger.AvailableNow()).start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("hop_stream")
        .as[(Long, String, Long, Double)].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
      val batch = graft.analytics.TimeSeries.hoppingWindowAgg(
          graft.Tables.events(spark, sf0001), "event_type", "ts", "value",
          size, slide)
        .as[(Long, String, Long, Double)].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
      assert(streamed.nonEmpty)
      assert(streamed === batch)
    } finally q.stop()
  }
}
