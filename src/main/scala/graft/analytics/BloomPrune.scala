package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Bloom-prefiltered anti join: make "subtract a huge key set" cheap
  * by shuffling only the rows that MIGHT match.
  *
  * The reference deletes items by looping `delete_item` over a Python id
  * list (`code/manager.py:744-781`, M10); the engine's scale form is an
  * anti-join. But a plain SortMergeJoin anti-join shuffles EVERY row of
  * the big side — at 100 TB that is the whole table over the wire to drop
  * 0.1% of it. The lakehouse fix (Spark's own runtime row-level filtering
  * does the same internally):
  *
  *  1. build a Bloom filter over the delete keys (one distributed
  *     `treeAggregate` via `DataFrameStatFunctions.bloomFilter`, a few MB
  *     for hundreds of millions of keys at 1%);
  *  2. broadcast the bits; a NARROW filter splits the big side into
  *     definite-keepers (bloom miss — emitted as-is, never shuffled) and
  *     candidates (true matches + fpp false positives);
  *  3. the exact anti-join runs on the candidates only — |del|·(1+fpp)
  *     rows instead of |big|.
  *
  * The result is EXACT (the bloom can only send extra rows to the exact
  * join, never hide one from it) — which is why the gate can hash-check it
  * against a plain `NOT IN` oracle. The big side is scanned twice; at scale
  * the second scan is a pruned parquet read, and both scans are narrow —
  * the win is removing the full-table SHUFFLE, the actual bottleneck.
  *
  * The membership probe is a Scala UDF over the broadcast sketch: one
  * murmur-hash per row, off the codegen path but allocation-free; the exact
  * join downstream is unaffected.
  */
object BloomPrune {

  /** Broadcast-bloom membership column for `keys` drawn from `del(delKey)`.
    * `expectedItems < 0` → one count() job sizes the filter (skip it by
    * passing the known key count).
    */
  private def mightContain(big: DataFrame, bigKey: String, del: DataFrame,
      delKey: String, expectedItems: Long, fpp: Double): Column = {
    val n = if (expectedItems >= 0) expectedItems else del.count()
    val bloom = del.stat.bloomFilter(delKey, math.max(n, 1L), fpp)
    val bc = big.sparkSession.sparkContext.broadcast(bloom)
    val probeLong = udf((k: java.lang.Long) =>
      k != null && bc.value.mightContainLong(k))
    val probeStr = udf((k: String) => k != null && bc.value.mightContainString(k))
    big.schema(bigKey).dataType match {
      case org.apache.spark.sql.types.StringType => probeStr(col(bigKey))
      case _ => probeLong(col(bigKey).cast("long"))
    }
  }

  /** `big` minus rows whose `bigKey` appears in `del(delKey)` — exact, with
    * only bloom-candidate rows entering the join.
    */
  def bloomAntiJoin(big: DataFrame, bigKey: String, del: DataFrame,
      delKey: String, expectedItems: Long = -1L, fpp: Double = 0.01): DataFrame = {
    val maybe = mightContain(big, bigKey, del, delKey, expectedItems, fpp)
    val candidates = big.filter(maybe)
      .join(del.select(col(delKey)), col(bigKey) === col(delKey), "left_anti")
    big.filter(!maybe).unionByName(candidates)
  }

  private def dsum(c: Column): Column = sum(c.cast("decimal(18,4)")).cast("double")

  /** Gate: delete every urgent order's lineitems, summarize the survivors.
    * The delete set (~20% of orders) is far past `isin` territory and big
    * enough that a full-shuffle anti-join is the naive plan this operator
    * exists to avoid.
    */
  def bloomDelete(spark: SparkSession, sfDir: String): DataFrame = {
    val del = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
    bloomAntiJoin(Tables.lineitem(spark, sfDir), "l_orderkey", del, "o_orderkey",
        fpp = 0.05)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_bloom_delete" -> (bloomDelete _))

  val oracles: Map[String, String] = Map(
    "q_bloom_delete" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders
        |                         WHERE o_orderpriority = '1-URGENT')
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
}
