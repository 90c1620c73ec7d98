package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Data-selection-by-importance-resampling (the public DSIR recipe, Xie et
  * al. 2023): weight every raw document by how much more likely a TARGET
  * corpus's language model finds it than the raw corpus's own model —
  * `log w(x) = log p_target(x) − log p_raw(x)` — and keep the top-weighted
  * slice. This is how public pipelines tilt a crawl toward a
  * curated distribution (books/wiki) without training a classifier.
  *
  * Both models are the engine's corpus-trained bigram LM
  * ([[LanguageModel]]), with Laplace smoothing extended to UNSEEN bigrams
  * (left join + coalesce: an unseen pair scores `1/(c1 + V)`, an unseen
  * history `1/V`) so target-model scores are defined for every raw doc.
  * Per-bigram log-probs floor onto the 1e-6 grid before BIGINT sums —
  * weights are hash-exact, so the gate checks the SELECTED SET, not just
  * the arithmetic.
  *
  * Scale shape: two stat builds (one shuffle each over the respective
  * bigram streams — the target corpus is typically a small curated set, so
  * its tables broadcast), then the raw bigram stream joins each stat table
  * once; selection is `TakeOrderedAndProject`, never a global sort.
  */
object ImportanceSampler {

  import LanguageModel.Grid

  /** (w1, w2, c12), (w1, c1), (v) bigram statistics of `docs`. */
  private def stats(docs: DataFrame, idCol: String, textCol: String) = {
    val bg = LanguageModel.bigrams(docs, idCol, textCol)
    val c12 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = c12.groupBy("w1").agg(sum(col("c12")).as("c1"))
    val vocab = docs
      .select(TextAnalysis.normalized(col(textCol)).as("ntext"))
      .filter(col("ntext").isNotNull && col("ntext") =!= "")
      .select(explode(split(col("ntext"), " ")).as("tok"))
      .agg(count_distinct(col("tok")).as("v"))
    (c12, c1, vocab)
  }

  /** Importance log-ratio per raw doc: `lr_q = floor((sum_tgt − sum_raw) /
    * n_bigrams)` on the 1e-6 grid (length-normalized so long docs don't
    * dominate on sum magnitude alone).
    *
    * Both models score in ONE pass over the raw bigram stream: per-bigram
    * log-probs under both models are pure functions of the count tables,
    * so they are computed once per DISTINCT bigram on a merged q table
    * (vocab-sized joins that reuse the groupBy partitioning); the stream —
    * the only corpus-sized side — pays ONE join and one doc aggregate
    * instead of four per-occurrence joins, two aggregates and a doc_id
    * re-join of two scored tables. Per bigram, each model's log-prob is
    * `floor(log((c12 + 1) / (c1 + V)) * Grid)`, an unseen bigram counting
    * as c12 = c1 = 0.
    */
  def importanceWeights(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val rawBg = LanguageModel.bigrams(raw, idCol, textCol)
    val (tC12, tC1, tV) = stats(target, idCol, textCol)
    val (rC12, rC1, rV) = stats(raw, idCol, textCol)
    val qT = floor(log(
      (coalesce(col("t_c12"), lit(0L)).cast("double") + lit(1.0)) /
        (coalesce(col("t_c1"), lit(0L)).cast("double") +
          col("t_v").cast("double"))) * lit(Grid)).cast("long")
    val qR = floor(log(
      (col("r_c12").cast("double") + lit(1.0)) /
        (col("r_c1").cast("double") + col("r_v").cast("double")))
      * lit(Grid)).cast("long")
    // raw counts cover every key of the stream (they are built from it),
    // so target-side joins are LEFT (unseen-bigram smoothing via coalesce)
    // and the stream join below can be inner
    val qm = rC12.withColumnRenamed("c12", "r_c12")
      .join(tC12.withColumnRenamed("c12", "t_c12"), Seq("w1", "w2"), "left")
      .join(rC1.withColumnRenamed("c1", "r_c1"), Seq("w1"))
      .join(tC1.withColumnRenamed("c1", "t_c1"), Seq("w1"), "left")
      .crossJoin(broadcast(rV.select(col("v").as("r_v"))))
      .crossJoin(broadcast(tV.select(col("v").as("t_v"))))
      .select(col("w1"), col("w2"), qT.as("qt"), qR.as("qr"))
    rawBg.join(qm, Seq("w1", "w2"))
      .select(col("doc_id"), col("qt"), col("qr"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("qt")).as("sum_tgt"),
        sum(col("qr")).as("sum_raw"))
      .select(col("doc_id"), col("n_bigrams"),
        floor((col("sum_tgt") - col("sum_raw")).cast("double") /
          col("n_bigrams").cast("double")).cast("long").as("lr_q"))
  }

  /** The selection: top `k` raw docs by importance weight (doc_id
    * tie-break) — `TakeOrderedAndProject`, no global sort.
    */
  def dsirSelect(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame =
    importanceWeights(raw, target, idCol, textCol)
      .orderBy(col("lr_q").desc, col("doc_id")).limit(k)

  val GateK = 100

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipe_dsir_select" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      dsirSelect(docs, docs.filter(col("lang") === "en"), "doc_id", "text",
          GateK)
        .orderBy(col("lr_q").desc, col("doc_id"))
    }))

  /** Bigram-stat CTEs parameterized by a doc filter; `p` prefixes the CTE
    * names so raw and target models coexist in one query.
    */
  private def statsCtes(p: String, where: String): String =
    s"""${p}norm AS (SELECT doc_id,
       |    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS ntext
       |  FROM documents WHERE text IS NOT NULL$where),
       |${p}tk AS (SELECT doc_id, string_split(ntext, ' ') AS t
       |       FROM ${p}norm WHERE ntext <> ''),
       |${p}bg AS (SELECT doc_id, t[CAST(i AS INT)] AS w1, t[CAST(i AS INT) + 1] AS w2
       |       FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
       |             FROM ${p}tk WHERE len(t) >= 2)),
       |${p}c12 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
       |        FROM ${p}bg GROUP BY w1, w2),
       |${p}c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM ${p}c12 GROUP BY w1),
       |${p}vv AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v
       |       FROM (SELECT unnest(t) AS tok FROM ${p}tk))""".stripMargin

  private def scoreCte(p: String, statsP: String): String =
    s"""${p}sc AS (SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       |    CAST(SUM(CAST(FLOOR(ln(
       |      (CAST(COALESCE(c12.c12, 0) AS DOUBLE) + 1.0) /
       |        (CAST(COALESCE(c1.c1, 0) AS DOUBLE) + CAST(vv.v AS DOUBLE)))
       |      * 1000000.0) AS BIGINT)) AS BIGINT) AS sum_q
       |  FROM rbg b
       |  LEFT JOIN ${statsP}c12 c12 ON c12.w1 = b.w1 AND c12.w2 = b.w2
       |  LEFT JOIN ${statsP}c1 c1 ON c1.w1 = b.w1
       |  CROSS JOIN ${statsP}vv vv
       |  GROUP BY b.doc_id)""".stripMargin

  val oracles: Map[String, String] = Map(
    "pipe_dsir_select" -> s"""
      |WITH ${statsCtes("r", "")},
      |${statsCtes("t", " AND lang = 'en'")},
      |${scoreCte("tgt", "t")},
      |${scoreCte("raw", "r")}
      |SELECT t.doc_id,
      |  CAST(FLOOR(CAST(t.sum_q - r.sum_q AS DOUBLE) /
      |    CAST(t.n_bigrams AS DOUBLE)) AS BIGINT) AS lr_q,
      |  t.n_bigrams
      |FROM tgtsc t JOIN rawsc r ON t.doc_id = r.doc_id
      |ORDER BY lr_q DESC, t.doc_id LIMIT $GateK""".stripMargin)
}
