package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Theta/KMV sketch set intersections (Dasgupta et al., "Theta-Sketch
  * Framework", public technique) — the distinct-counting operation HLL
  * registers cannot do: registers union (register-wise MAX) but never
  * intersect. A KMV sketch (the k minimum hash values of a set, θ = the
  * k-th) supports intersection directly: common retained hashes below the
  * pair's min-θ are a uniform sample of the true intersection at sampling
  * rate θ/2⁶⁰, so |A∩B| ≈ matches / θ_frac.
  *
  * Scale shape: sketches are built with the engine's bounded-heap
  * [[graft.plans.TopKPerKey]] operator (partial heaps map-side — each
  * partition contributes at most k rows per set to the exchange; no per-set
  * full sort). Sketch tables are k-row-bounded per set, persistable, and
  * unionable (min-k of the union of retained hashes); the pairwise stage
  * touches only sketch rows — at 100 TB the data-sized pass is the one
  * distinct+heap scan, everything after is KB-sized.
  *
  * Determinism: the hash is the same portable 60-bit md5 prefix as [[Hll]];
  * sketch contents, θ, and match counts are exact integers on any
  * partitioning, and the estimate is one fixed-order double expression of
  * those integers — hash-gated against a DuckDB re-derivation, no tolerance
  * needed. The gate also carries the exact intersection and an
  * `err_bound_ok` column (|est − exact| ≤ 3·exact/√matches, the KMV 3σ
  * band) so the artifact shows the estimator's realized accuracy.
  */
object Theta {

  /** Gate sketch size: 256 minima → ~6% relative error per sketch. */
  val K = 256

  private val Two60 = 1L << 60

  /** 60-bit portable hash (same construction as [[Hll]]). The string cast
    * first makes numeric element columns hashable (ANSI forbids
    * BIGINT→BINARY) and hashes them by their decimal rendering — the same
    * bytes any other engine's md5-of-varchar sees.
    */
  private def h60(c: Column): Column =
    conv(substring(md5(c.cast("string").cast("binary")), 1, 15), 16, 10)
      .cast("long")

  /** KMV sketch rows per set: the k smallest DISTINCT element hashes with
    * their rank. Distinct-first matters: KMV ranks hash VALUES, and a
    * duplicate inside the heap would shift every rank after it.
    */
  def sketch(df: DataFrame, setCol: String, itemCol: String,
      k: Int = K): DataFrame =
    graft.plans.TopKPerKey.topK(
      df.select(col(setCol).as("set_id"), h60(col(itemCol)).as("h")).distinct(),
      Seq("set_id"), Seq(("h", true)), k)

  /** All pairwise intersection estimates between the sets of `df`, with
    * the exact intersection alongside. θ is null when BOTH sets hold fewer
    * than k elements (exact mode — the estimate IS the match count).
    */
  def pairIntersections(df: DataFrame, setCol: String, itemCol: String,
      k: Int = K): DataFrame = {
    // materialize the distinct element table once: both the sketch build
    // and the exact-intersection evidence pass consume it, and without the
    // cut each would re-run the corpus-sized distinct
    val elems = graft.plans.Lineage.cut(
      df.select(col(setCol).as("set_id"), col(itemCol).as("elem")).distinct())
    val sk = sketch(elems, "set_id", "elem", k)
    val thetas = sk.filter(col("rank") === k)
      .select(col("set_id"), col("h").as("theta"))
    val retained = sk.filter(col("rank") < k).select("set_id", "h")
    // candidate matches across every pair in one self-equi-join on h —
    // sketch-sized input, so the pair fan-out is bounded by k·|pairs|
    val m = retained.select(col("set_id").as("set_a"), col("h"))
      .join(retained.select(col("set_id").as("set_b"), col("h")), Seq("h"))
      .filter(col("set_a") < col("set_b"))
    val withTheta = m
      .join(broadcast(thetas.select(col("set_id").as("set_a"),
        col("theta").as("ta"))), Seq("set_a"), "left")
      .join(broadcast(thetas.select(col("set_id").as("set_b"),
        col("theta").as("tb"))), Seq("set_b"), "left")
      .withColumn("tp",
        least(coalesce(col("ta"), lit(Two60)), coalesce(col("tb"), lit(Two60))))
    val counts = withTheta.groupBy(col("set_a"), col("set_b"))
      .agg(sum(when(col("h") < col("tp"), 1L).otherwise(0L)).as("n_matches"))
    // exact intersection on the raw elements — the pass the sketch
    // replaces at scale, carried here as gate evidence
    val exact = elems.select(col("set_id").as("set_a"), col("elem"))
      .join(elems.select(col("set_id").as("set_b"), col("elem")), Seq("elem"))
      .filter(col("set_a") < col("set_b"))
      .groupBy(col("set_a"), col("set_b"))
      .agg(count(lit(1)).as("exact_intersect"))
    // θ is derived for EVERY pair from the per-set theta table — not from
    // the surviving match rows — so a sketch-mode pair with ZERO common
    // retained hashes still reports its θ (r5 advisory: the old
    // counts-row-only derivation mislabeled such pairs as exact mode).
    // θ is null iff BOTH sets are exact mode (< k distinct elements).
    counts.join(exact, Seq("set_a", "set_b"), "full")
      .join(broadcast(thetas.select(col("set_id").as("set_a"),
        col("theta").as("ta"))), Seq("set_a"), "left")
      .join(broadcast(thetas.select(col("set_id").as("set_b"),
        col("theta").as("tb"))), Seq("set_b"), "left")
      .withColumn("tp",
        least(coalesce(col("ta"), lit(Two60)), coalesce(col("tb"), lit(Two60))))
      .select(col("set_a"), col("set_b"),
        when(col("tp") === Two60, lit(null)).otherwise(col("tp")).as("theta"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        coalesce(col("exact_intersect"), lit(0L)).as("exact_intersect"))
      .withColumn("est_intersect",
        when(col("theta").isNull, col("n_matches").cast("double"))
          .otherwise(col("n_matches").cast("double") /
            (col("theta").cast("double") / lit(Two60.toDouble))))
      .withColumn("err_bound_ok",
        abs(col("est_intersect") - col("exact_intersect")) <=
          lit(3.0) * col("exact_intersect").cast("double") /
            sqrt(greatest(col("n_matches"), lit(1L)).cast("double")))
  }

  /** Gate substrate: per event type, the set of (user, active-day) pairs —
    * partially overlapping sets (~35%), the shape audience-overlap
    * questions take.
    */
  def eventTypeOverlap(spark: SparkSession, sfDir: String): DataFrame =
    pairIntersections(
      Tables.events(spark, sfDir).select(col("event_type"),
        // day bucket via `div` (truncates toward zero) — DuckDB's `//`
        // also truncates toward zero (verified: -7 // 2 = -3 in both
        // engines), so the bucket parity holds even for pre-1970
        // timestamps (negative epoch micros)
        concat(col("user_id").cast("string"), lit(":"),
          expr("unix_micros(ts) div 86400000000").cast("string")).as("elem")),
      "event_type", "elem")
      .orderBy("set_a", "set_b")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "evt_theta_intersect" -> (eventTypeOverlap _))

  val oracles: Map[String, String] = Map(
    "evt_theta_intersect" -> s"""
      |WITH el AS (SELECT DISTINCT event_type AS set_id,
      |    CONCAT(user_id, ':', epoch_us(ts) // 86400000000) AS elem
      |  FROM events),
      |hs AS (SELECT set_id,
      |    CAST(CONCAT('0x', substr(md5(elem), 1, 15)) AS BIGINT) AS h
      |  FROM el),
      |rk AS (SELECT set_id, h,
      |    row_number() OVER (PARTITION BY set_id ORDER BY h) AS rn FROM hs),
      |th AS (SELECT set_id, h AS theta FROM rk WHERE rn = $K),
      |ret AS (SELECT set_id, h FROM rk WHERE rn < $K),
      |m AS (SELECT a.set_id AS set_a, b.set_id AS set_b, a.h,
      |    least(COALESCE(ta.theta, $Two60), COALESCE(tb.theta, $Two60)) AS tp
      |  FROM ret a JOIN ret b ON a.h = b.h AND a.set_id < b.set_id
      |  LEFT JOIN th ta ON ta.set_id = a.set_id
      |  LEFT JOIN th tb ON tb.set_id = b.set_id),
      |mt AS (SELECT set_a, set_b,
      |    CAST(SUM(CASE WHEN h < tp THEN 1 ELSE 0 END) AS BIGINT) AS n_matches
      |  FROM m GROUP BY 1, 2),
      |ex AS (SELECT a.set_id AS set_a, b.set_id AS set_b,
      |    CAST(COUNT(*) AS BIGINT) AS exact_intersect
      |  FROM el a JOIN el b ON a.elem = b.elem AND a.set_id < b.set_id
      |  GROUP BY 1, 2),
      |j0 AS (SELECT COALESCE(mt.set_a, ex.set_a) AS set_a,
      |    COALESCE(mt.set_b, ex.set_b) AS set_b,
      |    COALESCE(n_matches, 0) AS n_matches,
      |    COALESCE(exact_intersect, 0) AS exact_intersect
      |  FROM mt FULL OUTER JOIN ex
      |    ON mt.set_a = ex.set_a AND mt.set_b = ex.set_b),
      |j AS (SELECT j0.set_a, j0.set_b,
      |    NULLIF(least(COALESCE(ta.theta, $Two60), COALESCE(tb.theta, $Two60)),
      |      $Two60) AS theta,
      |    n_matches, exact_intersect
      |  FROM j0
      |  LEFT JOIN th ta ON ta.set_id = j0.set_a
      |  LEFT JOIN th tb ON tb.set_id = j0.set_b),
      |est AS (SELECT set_a, set_b, theta, n_matches, exact_intersect,
      |    CASE WHEN theta IS NULL THEN CAST(n_matches AS DOUBLE)
      |         ELSE CAST(n_matches AS DOUBLE) /
      |              (CAST(theta AS DOUBLE) / ${Two60.toDouble}) END AS est_intersect
      |  FROM j)
      |SELECT set_a, set_b, theta, n_matches, exact_intersect, est_intersect,
      |  abs(est_intersect - exact_intersect) <=
      |    3.0 * CAST(exact_intersect AS DOUBLE) /
      |    sqrt(CAST(greatest(n_matches, 1) AS DOUBLE)) AS err_bound_ok
      |FROM est ORDER BY set_a, set_b""".stripMargin)
}
