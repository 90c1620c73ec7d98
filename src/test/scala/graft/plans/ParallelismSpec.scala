package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpec

class ParallelismSpec extends SparkSpec {

  test("widen repartitions an under-partitioned scan UP to default parallelism") {
    val scan = spark.read.parquet(s"$sf0001/lineitem.parquet")
    val dp = spark.sparkContext.defaultParallelism
    assume(scan.rdd.getNumPartitions < dp) // sf0.001 arrives as few splits
    assert(Parallelism.widen(scan).rdd.getNumPartitions === dp)
  }

  test("widen repartitions an under-partitioned scan whose path names Exchange") {
    // the exchange guard walks the physical plan: a scan path containing
    // the word is still a bare scan and must be widened
    val dir = java.nio.file.Files.createTempDirectory("ExchangeRates").toString
    val path = s"$dir/ExchangeRates.parquet"
    spark.read.parquet(s"$sf0001/lineitem.parquet").coalesce(1)
      .write.parquet(path)
    val scan = spark.read.parquet(path)
    val dp = spark.sparkContext.defaultParallelism
    assume(dp > 1)
    assert(scan.rdd.getNumPartitions === 1)
    assert(Parallelism.widen(scan).rdd.getNumPartitions === dp)
  }

  test("widen leaves an already-wide input untouched (never coalesces down)") {
    val wide = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .repartition(spark.sparkContext.defaultParallelism * 2)
    // the repartition puts an Exchange in the plan — widen must return the
    // frame unchanged without finalizing/executing the adaptive plan
    assert(Parallelism.widen(wide) eq wide)
  }

  test("widen passes an exchange-bearing plan through without probing it") {
    val agg = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .groupBy("l_orderkey").count()
    assert(Parallelism.widen(agg) eq agg)
  }

  test("widen passes streaming frames through (.rdd would throw)") {
    val stream = spark.readStream.format("rate").load()
    assert(Parallelism.widen(stream) eq stream)
  }
}
