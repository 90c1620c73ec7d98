package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Inverted-index build and conjunctive keyword search over `documents` —
  * the text-retrieval surface a corpus engine needs next to fuzzy dedup and
  * salient terms (the reference has no search; its only text access is
  * whole-value log salvage, `/root/reference/code/logSalvager.py`).
  *
  * Tokenization is [[TextAnalysis.normalized]] + single-space split — the
  * exact twin of the `ntext` fragment every text oracle uses, so results
  * are engine-reproducible and all ranking arithmetic stays in integers.
  */
object Search {

  /** Query used by the gate: three common corpus terms, conjunctive. */
  val GateTerms: Seq[String] = Seq("hash", "join", "scan")
  val GateK = 20

  /** Conjunctive (AND) keyword search: documents containing EVERY query
    * term, ranked by total query-term frequency (desc, doc_id tiebreak),
    * top `k`. Returns (rank, doc_id, score).
    *
    * Plan shape: the explode+filter keeps only query-term postings (the
    * token stream shrinks to ~|terms|/|vocab| of itself before the first
    * exchange), the per-doc aggregate is partial (map-side combined), and
    * the global top-k is TakeOrderedAndProject — per-partition heaps, NO
    * global sort of the scored set (spec-asserted). A 100 TB corpus search
    * is a scan + one small shuffle + a k-row driver result.
    */
  def searchTopK(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty, "search needs at least one term")
    val scored = docs
      .select(col(idCol).as("doc_id"),
        TextAnalysis.normalized(col(textCol)).as("ntext"))
      .filter(col("ntext").isNotNull && col("ntext") =!= "")
      .select(col("doc_id"), explode(split(col("ntext"), " ")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy("doc_id")
      .agg(count_distinct(col("term")).as("nt"), count(lit(1)).as("score"))
      .filter(col("nt") === terms.size)
      .select("doc_id", "score")

    // orderBy+limit lowers to TakeOrderedAndProject; the rank window then
    // runs over only the k surviving rows
    scored.orderBy(col("score").desc, col("doc_id")).limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("score").desc, col("doc_id"))))
      // rank emits as BIGINT: the oracle's row_number() is int64 and the
      // gate compare is width-exact
      .select(col("rank").cast("long").as("rank"), col("doc_id"), col("score"))
  }

  /** BM25 constants (Robertson/Okapi defaults). */
  val Bm25K1 = 1.2
  val Bm25B = 0.75

  /** Quantization grid for per-term BM25 contributions. Every arithmetic op
    * in the score is IEEE correctly-rounded (+, -, *, /) and therefore
    * bit-identical across engines — EXCEPT `ln`, which libms round
    * differently in the last ulp. Flooring each contribution to a 1e-4 grid
    * before the per-doc sum absorbs that ulp skew (a flip needs the exact
    * value within ~1e-12 of a grid edge), and the summed score is then plain
    * BIGINT addition — order-free, so the gate stays hash-exact.
    */
  val Bm25Grid = 10000.0

  /** Disjunctive (OR) BM25 ranked retrieval: every document containing at
    * least one query term, scored
    * `sum_t idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))` with
    * `idf = ln(1 + (N - df + 0.5)/(df + 0.5))`, each term contribution
    * floored to the [[Bm25Grid]] grid (see there), top `k` by (score desc,
    * doc_id). Returns (rank, doc_id, score) with score in grid units.
    *
    * Plan shape at 100 TB: the document-length pass is one count per doc_id
    * (partial-agg'd at scan speed); the scoring pass filters the token
    * stream to query-term postings BEFORE its (doc_id, term) exchange, so
    * the big shuffle carries ~|terms|/|vocab| of the corpus; df and the
    * global (N, total-token) stats are one-row/TINY broadcasts; the final
    * top-k is TakeOrderedAndProject — no global sort.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty, "search needs at least one term")
    val toks = docs
      .select(col(idCol).as("doc_id"),
        TextAnalysis.normalized(col(textCol)).as("ntext"))
      .filter(col("ntext").isNotNull && col("ntext") =!= "")
      .select(col("doc_id"), explode(split(col("ntext"), " ")).as("term"))
    val dls = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dls.agg(count(lit(1)).as("n"), sum(col("dl")).as("tot"))
    val posting = toks.filter(col("term").isin(terms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfs = posting.groupBy("term").agg(count(lit(1)).as("df"))

    // expression structure mirrored token-for-token in the DuckDB oracle:
    // every op correctly rounded, ln absorbed by the grid floor
    val avgdl = col("tot").cast("double") / col("n").cast("double")
    val idf = log(lit(1.0) +
      (col("n").cast("double") - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    // 2.2 as ONE literal on both sides: double(1.2)+1.0 lands exactly on a
    // rounding midpoint, so `k1 + 1` computed in either engine is not
    // guaranteed to equal the other's literal 2.2
    val tfD = col("tf").cast("double")
    val tfp = tfD * lit(2.2) /
      (tfD + lit(Bm25K1) *
        (lit(1.0 - Bm25B) + lit(Bm25B) * (col("dl").cast("double") / avgdl)))
    val scored = posting
      .join(broadcast(dfs), Seq("term"))
      .join(dls, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        floor(idf * tfp * lit(Bm25Grid)).cast("long").as("contrib"))
      .groupBy("doc_id")
      .agg(sum(col("contrib")).as("score"))

    scored.orderBy(col("score").desc, col("doc_id")).limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("score").desc, col("doc_id"))))
      .select(col("rank").cast("long").as("rank"), col("doc_id"), col("score"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "txt_search" -> ((s, d) =>
      searchTopK(Tables.documents(s, d), "doc_id", "text", GateTerms, GateK)
        .orderBy("rank")),
    "txt_bm25" -> ((s, d) =>
      bm25TopK(Tables.documents(s, d), "doc_id", "text", GateTerms, GateK)
        .orderBy("rank")))

  private[text] val termList = GateTerms.map(t => s"'$t'").mkString("(", ", ", ")")

  val oracles: Map[String, String] = Map(
    "txt_search" -> s"""
      |WITH norm AS (SELECT doc_id,
      |    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS ntext
      |  FROM documents WHERE text IS NOT NULL),
      |t AS (SELECT doc_id, unnest(string_split(ntext, ' ')) AS term
      |      FROM norm WHERE ntext <> ''),
      |f AS (SELECT doc_id, term FROM t WHERE term IN $termList),
      |d AS (SELECT doc_id, COUNT(DISTINCT term) AS nt,
      |        CAST(COUNT(*) AS BIGINT) AS score
      |      FROM f GROUP BY doc_id),
      |r AS (SELECT doc_id, score,
      |        row_number() OVER (ORDER BY score DESC, doc_id) AS rank
      |      FROM d WHERE nt = ${GateTerms.size})
      |SELECT rank, doc_id, score FROM r WHERE rank <= $GateK
      |ORDER BY rank""".stripMargin,
    "txt_bm25" -> s"""
      |WITH ${bm25RankedCtes(termList)}
      |SELECT rank, doc_id, score FROM bm25r WHERE rank <= $GateK
      |ORDER BY rank""".stripMargin)

  /** BM25 oracle CTE chain ending in `bm25r` = (doc_id, score, rank) —
    * shared with the hybrid-RRF oracle ([[HybridSearch]]) so the scoring
    * SQL exists in exactly one place.
    */
  private[text] def bm25RankedCtes(termListSql: String): String =
    s"""norm AS (SELECT doc_id,
      |    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS ntext
      |  FROM documents WHERE text IS NOT NULL),
      |t AS (SELECT doc_id, unnest(string_split(ntext, ' ')) AS term
      |      FROM norm WHERE ntext <> ''),
      |dls AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM t GROUP BY doc_id),
      |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |                 CAST(SUM(dl) AS BIGINT) AS tot FROM dls),
      |p AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      |      FROM t WHERE term IN $termListSql GROUP BY doc_id, term),
      |dfs AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM p GROUP BY term),
      |c AS (SELECT p.doc_id, CAST(FLOOR(
      |    ln(1.0 + (CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
      |              / (CAST(df AS DOUBLE) + 0.5))
      |    * (CAST(tf AS DOUBLE) * CAST(2.2 AS DOUBLE)
      |       / (CAST(tf AS DOUBLE) + $Bm25K1 *
      |            (${1.0 - Bm25B} + $Bm25B *
      |              (CAST(dl AS DOUBLE)
      |               / (CAST(tot AS DOUBLE) / CAST(n AS DOUBLE))))))
      |    * $Bm25Grid) AS BIGINT) AS contrib
      |  FROM p JOIN dfs USING (term) JOIN dls USING (doc_id) CROSS JOIN stats),
      |d AS (SELECT doc_id, CAST(SUM(contrib) AS BIGINT) AS score
      |      FROM c GROUP BY doc_id),
      |bm25r AS (SELECT doc_id, score,
      |        row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM d)""".stripMargin
}
