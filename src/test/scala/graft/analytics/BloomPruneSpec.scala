package graft.analytics

import org.apache.spark.sql.functions._

import graft.SparkSpec

class BloomPruneSpec extends SparkSpec {
  import spark.implicits._

  test("bloomAntiJoin is exact: equals the plain anti-join on skewed data") {
    val big = spark.range(0, 20000).select(
      (col("id") % 997).as("k"), col("id").as("v"))
    val del = spark.range(0, 400).select((col("id") * 3).as("dk"))
    val expected = big.join(del, col("k") === col("dk"), "left_anti")
      .orderBy("v").as[(Long, Long)].collect().toSeq
    val got = BloomPrune.bloomAntiJoin(big, "k", del, "dk", fpp = 0.1)
      .orderBy("v").as[(Long, Long)].collect().toSeq
    assert(got === expected)
    // a null key never matches: it is a bloom miss and survives, as in the
    // plain anti-join
    val withNull = Seq(Some(1L), Some(2L), None, Some(3L)).toDF("k")
    val del2 = Seq(2L, 3L, 4L).toDF("dk")
    assert(BloomPrune.bloomAntiJoin(withNull, "k", del2, "dk")
      .as[Option[Long]].collect().toSeq.sortBy(_.getOrElse(-1L)) ===
      Seq(None, Some(1L)))
  }

  test("string keys route through the string probe") {
    val big = Seq("a", "b", "c", "d").toDF("k")
    val del = Seq("b", "d", "e").toDF("dk")
    assert(BloomPrune.bloomAntiJoin(big, "k", del, "dk")
      .as[String].collect().toSeq.sorted === Seq("a", "c"))
  }

  test("bloom prunes: candidate rows are close to |matches|, far below |big|") {
    val big = spark.range(0, 50000).select(col("id").as("k"))
    val del = spark.range(0, 500).select(col("id").as("dk"))  // 1% overlap
    val n = del.count()
    val bloom = del.stat.bloomFilter("dk", n, 0.01)
    val bc = spark.sparkContext.broadcast(bloom)
    val probe = udf((k: Long) => bc.value.mightContainLong(k))
    val candidates = big.filter(probe(col("k"))).count()
    // 500 true hits + ~1% fp of the remaining 49500 (~495); 3x headroom
    assert(candidates >= 500 && candidates <= 500 + 3 * 495,
      s"candidate count $candidates out of expected pruning range")
  }
}
