package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analytics.{FuzzyJoin, Graph}
import graft.dedup.{Dedup, DedupSurface}

/** Engine-side invariant oracles for the three gate families whose DuckDB
  * twins hit resource walls past 10–30× (SCALE_PROBE round 12): survivor
  * clustering, PageRank, and the fuzzy join. Each check is a mathematical
  * certificate of the operator's OUTPUT — not a recompute-and-diff — so it
  * runs wherever the engine runs, including the 100× replica probes DuckDB
  * cannot reach.
  *
  * Usage: `runMain graft.ScaleInvariants <sfDir> [survivors,pagerank,fuzzy]`.
  * Prints one JSON line per invariant; exits non-zero if any fails.
  *
  *  - survivors: the (doc → survivor) map is EXACTLY the connected
  *    components of the verified near-dup pair graph, min-labeled —
  *    certified by (1) every verified pair's endpoints sharing a survivor,
  *    (2) every cluster label being its cluster's minimum member, (3) every
  *    eliminated doc holding a witness (an exact-dup twin by fingerprint,
  *    or its representative touching ≥1 verified pair), and (4) re-running
  *    the pairing over the elected survivors finding ZERO pairs (clusters
  *    are maximal — banding is per-doc deterministic, so a pair found on
  *    the survivor subset would have been found, and merged, on the full
  *    corpus).
  *  - pagerank: the iteration is a verified contraction — running three
  *    consecutive iterates k, k+1, k+2 from the gate's substrate, the
  *    residual shrinks by at least the damping factor
  *    (‖Δ_{k+2}‖∞ ≤ d·‖Δ_{k+1}‖∞ + quantization), and total rank mass is
  *    conserved (Σpr ∈ [N − d/(1−d)·E·1e-9, N + ε] — the fixpoint band
  *    after per-contribution 1e-9 floor quantization).
  *  - fuzzy: (1) planted recall is exactly 1 — every probe is a known
  *    1-deletion of its source part name, so the (probe_key = p_partkey)
  *    pair must surface with dist 1; (2) an INDEPENDENT recheck — a
  *    deterministic sample of emitted pairs recomputed through Spark's own
  *    codegen'd `levenshtein` (a different implementation from the
  *    operator's banded-DP kernel) must agree exactly; (3) no emitted
  *    distance exceeds the join bound.
  */
object ScaleInvariants {

  final case class Result(check: String, pass: Boolean, detail: String)

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ScaleInvariants <sfDir> [survivors,pagerank,fuzzy]")
    val sfDir = args(0)
    val wanted = args.lift(1).map(_.split(",").toSet)
      .getOrElse(Set("survivors", "pagerank", "fuzzy"))
    val spark = SparkEntry.session("graft-scale-invariants")
    try {
      // print per family as it completes — a multi-hour 100× run that dies
      // in family 3 must not lose families 1–2's certificates
      def emit(rs: Seq[Result]): Seq[Result] = {
        rs.foreach(r => println(
          s"""{"check": "${r.check}", "pass": ${r.pass}, "detail": "${r.detail}"}"""))
        Console.out.flush()
        rs
      }
      val results =
        (if (wanted("survivors")) emit(survivorInvariants(spark, sfDir)) else Nil) ++
        (if (wanted("pagerank")) emit(pagerankInvariants(spark, sfDir)) else Nil) ++
        (if (wanted("fuzzy")) emit(fuzzyInvariants(spark, sfDir)) else Nil)
      if (results.exists(!_.pass)) sys.exit(1)
    } finally spark.stop()
  }

  /** The survivor-clustering certificate over the gate corpus at τ=0.5. */
  def survivorInvariants(spark: SparkSession, d: String): Seq[Result] = {
    val corpus = DedupSurface.corpus(spark, d)
      .select(col("doc_id"), col("text")).cache()
    val surv = DedupSurface.survivors(spark, d).cache() // (doc_id, survivor_id)
    val withFp = corpus.select(col("doc_id"),
      md5(graft.text.TextAnalysis.normalized(col("text"))).as("fp"))
    val reps = withFp.groupBy("fp").agg(min("doc_id").as("rep_id")).cache()
    val repText = reps.join(corpus, reps("rep_id") === corpus("doc_id"))
      .select(col("rep_id"), col("text").as("rep_text"))
    val pairs = Dedup.lshVerifiedPairs(repText, "rep_id", "rep_text", 0.5).cache()

    // (1) edge consistency: both endpoints of every verified pair share a
    // survivor — no pair crosses a cluster boundary
    val sA = surv.select(col("doc_id").as("doc_a"), col("survivor_id").as("surv_a"))
    val sB = surv.select(col("doc_id").as("doc_b"), col("survivor_id").as("surv_b"))
    val crossing = pairs.join(sA, "doc_a").join(sB, "doc_b")
      .filter(col("surv_a") =!= col("surv_b")).count()

    // (2) min-label: each cluster's label IS its minimum member id, and the
    // label is a member (the survivor maps to itself)
    val badLabel = surv.groupBy("survivor_id").agg(min("doc_id").as("mn"))
      .filter(col("mn") =!= col("survivor_id")).count()

    // (3) witness: every eliminated doc either has an exact-dup twin
    // (fingerprint group > 1) or its representative touches >= 1 verified pair
    val ends = pairs.select(col("doc_a").as("rep_id"))
      .unionByName(pairs.select(col("doc_b").as("rep_id"))).distinct()
    val fpSize = withFp.groupBy("fp").agg(count(lit(1)).as("n"))
    val unwitnessed = surv.filter(col("doc_id") =!= col("survivor_id"))
      .join(withFp, "doc_id")
      .join(fpSize, "fp")
      .join(reps, "fp")
      .join(ends.withColumn("haspair", lit(true)), Seq("rep_id"), "left")
      .filter(col("n") === 1 && col("haspair").isNull).count()

    // (4) maximality: re-pairing the elected survivors finds NOTHING
    val survivorsOnly = surv.filter(col("doc_id") === col("survivor_id"))
      .join(corpus, "doc_id").select(col("doc_id"), col("text"))
    val residualPairs =
      Dedup.lshVerifiedPairs(survivorsOnly, "doc_id", "text", 0.5).count()

    val nDocs = surv.count()
    val nClusters = surv.select("survivor_id").distinct().count()
    corpus.unpersist(); surv.unpersist(); reps.unpersist(); pairs.unpersist()
    Seq(
      Result("survivors_edge_consistency", crossing == 0,
        s"docs=$nDocs clusters=$nClusters crossingPairs=$crossing"),
      Result("survivors_min_label", badLabel == 0, s"badLabels=$badLabel"),
      Result("survivors_witness_chain", unwitnessed == 0,
        s"unwitnessedEliminated=$unwitnessed"),
      Result("survivors_maximal", residualPairs == 0,
        s"pairsAmongSurvivors=$residualPairs"))
  }

  /** Convergence certificate for PageRank on the gate substrate. */
  def pagerankInvariants(spark: SparkSession, d: String): Seq[Result] = {
    val edges = Graph.gateEdges(spark, d).cache()
    val e2 = edges.count() * 2 // directed contribution count
    val k = Graph.PrIters
    // one fixpoint pass with snapshots at k, k+1, k+2 — not three full runs
    val snaps = Graph.pageRankSnapshots(edges, Seq(k, k + 1, k + 2))
    val r0 = snaps(k).withColumnRenamed("pr", "pr0")
    val r1 = snaps(k + 1).withColumnRenamed("pr", "pr1")
    val r2 = snaps(k + 2).withColumnRenamed("pr", "pr2")
    val joined = r0.join(r1, "node").join(r2, "node").cache()
    val m = joined.agg(
      max(abs(col("pr1") - col("pr0"))).as("d1"),
      max(abs(col("pr2") - col("pr1"))).as("d2"),
      sum("pr2").as("mass"), count(lit(1)).as("n")).head()
    val (d1, d2) = (m.getDouble(0), m.getDouble(1))
    val (mass, n) = (m.getDouble(2), m.getLong(3))
    joined.unpersist(); edges.unpersist()
    // quantization slack: each of the e2 contributions floors at 1e-9
    val q = e2 * 1e-9
    val contraction = d2 <= Graph.PrDamping * d1 + q + 1e-12
    val massLo = n - Graph.PrDamping / (1 - Graph.PrDamping) * q - 1e-6
    val massOk = mass >= massLo && mass <= n + 1e-6
    Seq(
      Result("pagerank_contraction", contraction,
        f"residual_k1=$d1%.3e residual_k2=$d2%.3e bound=${Graph.PrDamping * d1 + q}%.3e"),
      Result("pagerank_mass_conservation", massOk,
        f"mass=$mass%.6f nodes=$n lo=$massLo%.6f"))
  }

  /** Planted-recall + independent-recheck certificate for the fuzzy join.
    * All four counters ride ONE aggregation pass over the gate's output —
    * caching the full 100× result (tens of GB of string pairs) OOM'd a
    * 48 g heap, and three separate actions would re-run the join thrice.
    * The unbanded-levenshtein recheck evaluates only on the %97 sample
    * rows (conditional value short-circuit).
    */
  def fuzzyInvariants(spark: SparkSession, d: String): Seq[Result] = {
    val result = FuzzyJoin.queries("q_fuzzy_join")(spark, d)
    val nProbes = Tables.part(spark, d)
      .filter(col("p_partkey") % 10 === 0).count()
    val m = result.agg(
      // every probe is a 1-deletion of its own part name: the self pair
      // must surface with dist exactly 1
      coalesce(sum(when(col("probe_key") === col("p_partkey") &&
        col("dist") === 1, 1L).otherwise(0L)), lit(0L)).as("planted"),
      // independent recheck: Spark's codegen'd levenshtein vs the
      // operator's banded-DP kernel on a deterministic sample
      coalesce(sum(when(col("probe_key") % 97 === 0 &&
        levenshtein(col("probe"), col("p_name")) =!= col("dist"),
        1L).otherwise(0L)), lit(0L)).as("mismatches"),
      coalesce(sum(when(col("probe_key") % 97 === 0, 1L).otherwise(0L)),
        lit(0L)).as("sampled"),
      coalesce(sum(when(col("dist") > FuzzyJoin.GateMaxDist, 1L)
        .otherwise(0L)), lit(0L)).as("overBound")).head()
    val (planted, mismatches) = (m.getLong(0), m.getLong(1))
    val (sampled, overBound) = (m.getLong(2), m.getLong(3))
    Seq(
      Result("fuzzy_planted_recall", planted == nProbes,
        s"probes=$nProbes selfPairsAtDist1=$planted"),
      Result("fuzzy_independent_recheck", mismatches == 0 && sampled > 0,
        s"sampled=$sampled mismatches=$mismatches"),
      Result("fuzzy_distance_bound", overBound == 0, s"overBound=$overBound"))
  }
}
