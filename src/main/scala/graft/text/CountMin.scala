package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Count-Min sketch (Cormode & Muthukrishnan, 2005 — public technique) as
  * a persistable frequency-summary TABLE: `d` hash rows × `w` counters,
  * built with one groupBy, mergeable across shards/days by a cell-wise SUM
  * over (r, bucket) (like [[graft.analytics.Hll]]'s register tables), and
  * probed for any item's frequency upper bound with `d` lookups.
  *
  * This completes the mergeable-sketch family the engine ships for 100 TB
  * aggregation: HLL registers (distinct counts), Misra–Gries (heavy
  * hitters, exact after verify), GK (quantiles), manifest key blooms
  * (membership), and CMS (point frequencies with a one-sided error bound:
  * estimate ≥ true, excess ≤ e·n/w with probability 1−e^−d).
  *
  * Determinism: rows hash with the engine-portable md5-60 construction
  * ([[graft.analytics.Hll]]) seeded per row, buckets are modular integer
  * arithmetic, cells sum exact BIGINTs — the sketch is bit-identical on
  * any engine and any partitioning, so the driver gate hash-checks the
  * full cell table plus probed estimates.
  */
object CountMin {

  /** Gate shape: 4 rows × 256 counters. */
  val GateDepth = 4
  val GateWidth = 256

  private def h60(c: Column, seed: Int): Column =
    conv(substring(md5(concat(lit(s"cms$seed:"), c.cast("string"))
      .cast("binary")), 1, 15), 16, 10).cast("long")

  /** The sketch table: one row per (row id, bucket) cell with its exact
    * count sum. ONE shuffle keyed (r, bucket) after a d-fold explode; at
    * most d·w output rows regardless of input size.
    */
  def sketch(items: DataFrame, itemCol: String, depth: Int = GateDepth,
      width: Int = GateWidth): DataFrame =
    items.select((0 until depth).map(r =>
        (h60(col(itemCol), r) % width).cast("int").as(s"b$r")): _*)
      .select(explode(array((0 until depth).map(r =>
        struct(lit(r).as("r"), col(s"b$r").as("bucket"))): _*)).as("c"))
      .groupBy(col("c.r").as("r"), col("c.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Frequency upper bounds for `probes` (column `item`): min over the d
    * row estimates.
    *
    * OUTPUT CONTRACT: one row per DISTINCT probe item (the groupBy that
    * computes the least-of-d collapses duplicate probe rows — the pre-r17
    * fold form returned one row per probe ROW; spec-pinned in
    * CountMinSpec). Callers that need per-row multiplicity join the
    * estimates back on `itemCol`.
    */
  def estimate(cms: DataFrame, probes: DataFrame, itemCol: String,
      depth: Int = GateDepth, width: Int = GateWidth): DataFrame = {
    // probes melt to (item, r, bucket) and meet the sketch in ONE join:
    // the previous d chained per-row broadcast joins each re-evaluated
    // the lazy cms plan's full subtree (d input scans — measured 4 × ~1 s
    // at sf0.1 hidden only by local job overlap; at 100 TB that is d× the
    // input I/O). Every (item, r) pair has exactly one row, so the
    // per-item MIN over d coalesced counts is the same least-of-d.
    val keyed = probes.select(col(itemCol).as("__item"),
        explode(array((0 until depth).map(r =>
          struct(lit(r).as("r"),
            (h60(col(itemCol), r) % width).cast("int").as("bucket"))): _*))
          .as("c"))
      .select(col("__item"), col("c.r").as("r"), col("c.bucket").as("bucket"))
    // the sketch is ≤ d·w cells BY CONSTRUCTION (the groupBy bounds it):
    // broadcast it so the probe side — arbitrarily large at 100 TB — is
    // never shuffled for the join, whatever the stats say
    keyed.join(broadcast(cms), Seq("r", "bucket"), "left")
      .groupBy(col("__item"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
      .select(col("__item").as(itemCol), col("est"))
  }

  /** Gate: the token CMS over documents plus probed estimates for every
    * token appearing in the first document — cells and estimates both
    * hash-exact.
    */
  def tokenCmsGate(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(TextAnalysis.normalized(col("text")).as("ntext"))
      .filter(col("ntext").isNotNull && col("ntext") =!= "")
      .select(explode(split(col("ntext"), " ")).as("term"))
    val probes = Tables.documents(spark, sfDir)
      .filter(col("doc_id") === 0L)
      .select(explode(split(TextAnalysis.normalized(col("text")), " ")).as("term"))
      .distinct()
    estimate(sketch(toks, "term"), probes, "term")
      .orderBy("term")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "txt_cms_estimates" -> (tokenCmsGate _))

  private def hSql(seed: Int, expr: String): String =
    s"CAST(CONCAT('0x', substr(md5('cms$seed:' || $expr), 1, 15)) AS BIGINT) % $GateWidth"

  val oracles: Map[String, String] = Map(
    "txt_cms_estimates" -> s"""
      |WITH norm AS (SELECT doc_id,
      |    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS ntext
      |  FROM documents WHERE text IS NOT NULL),
      |t AS (SELECT unnest(string_split(ntext, ' ')) AS term
      |      FROM norm WHERE ntext <> ''),
      |${(0 until GateDepth).map(r =>
          s"""cms$r AS (SELECT ${hSql(r, "term")} AS bucket,
             |  CAST(COUNT(*) AS BIGINT) AS cnt FROM t GROUP BY 1)""".stripMargin)
         .mkString(",\n")},
      |probes AS (SELECT DISTINCT unnest(string_split(ntext, ' ')) AS term
      |  FROM norm WHERE doc_id = 0 AND ntext <> '')
      |SELECT p.term, LEAST(${(0 until GateDepth).map(r =>
          s"COALESCE(e$r.cnt, 0)").mkString(", ")}) AS est
      |FROM probes p
      |${(0 until GateDepth).map(r =>
          s"LEFT JOIN cms$r e$r ON e$r.bucket = ${hSql(r, "p.term")}")
         .mkString("\n")}
      |ORDER BY p.term""".stripMargin)
}
