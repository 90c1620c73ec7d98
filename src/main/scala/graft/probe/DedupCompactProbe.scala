package graft.probe

import org.apache.spark.sql.functions._

import graft.dedup.{Dedup, DedupIndex}

/** 100×-scale certificate for `dedup-index-compact` (SCALE_PROBE cadence,
  * round 14): the pair set is the exactness contract, so compaction is
  * verified by EQUALITY — build a prefix index over the probe corpus,
  * append a day's drift, run the batch query, compact, run it again:
  * the two pair sets must be bit-identical (checked with two anti-joins,
  * never a hash shortcut), while duplicate representatives fold and the
  * candidate fan-out drops under the fresh-df re-rank.
  *
  * Drift modes (VERDICT r14 task 5 added `boilerplate`):
  *  - `dup` — day-1 appends exact duplicates of indexed docs (duplicate
  *    representatives; the folding story). Mild df drift: every appended
  *    gram already exists, so the frozen ranking stays roughly right.
  *  - `boilerplate` — the boilerplate-rotation pattern, where append
  *    drift hits FULL strength: every day-1 doc carries one shared new
  *    paragraph, so its grams become among the most COMMON in the
  *    updated corpus while the frozen order still ranks them df≈0, i.e.
  *    rarest-first — straight into every appended doc's prefix AND every
  *    boilerplate-carrying query doc's prefix. Candidates then fan out
  *    as (carrying batch docs) × (appended docs), none of it verifiable:
  *    the inflation the re-rank exists to cut. Only a sample of the
  *    query batch carries the boilerplate (real batches aren't 100%
  *    contaminated; it also keeps the pre-compact candidate join within
  *    the box while the RELATIVE cut stays ~10³×).
  *
  * Usage: runMain graft.probe.DedupCompactProbe <probeSfDir> [tau=0.8]
  *          [mode=dup|boilerplate]
  */
object DedupCompactProbe {

  val Boilerplate: String =
    " limited time rotation banner offer terms and conditions apply see" +
      " participating store for full details while supplies last"

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val tau = args.lift(1).map(_.toDouble).getOrElse(0.8)
    val mode = args.lift(2).getOrElse("dup")
    val spark = graft.SparkEntry.session("graft-compact-probe")
    def t[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val off = docs.agg(max("doc_id")).head().getLong(0) + 1
    // day-1 drift: every 10th doc re-appears — in `dup` mode verbatim
    // (duplicate reps), in `boilerplate` mode as a DISTINCT doc (id-salted
    // tail) carrying the shared rotation paragraph. The salt matters: on
    // the replica fixture an unsalted append is 100 exact copies per base
    // text, and the append path's own exact-dup collapse folds them to
    // one rep per base — absorbing the df bomb before it reaches the
    // prefix join (measured: 50k appended → ~500 reps → candidate cut of
    // only ~335 at 100×). Real boilerplate rotation rides on DISTINCT
    // pages, which is exactly what the salt restores: 50k reps, every one
    // ranking the rotation grams df≈0 under the frozen order.
    val day1 = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + off).as("doc_id"),
        (if (mode == "boilerplate")
           concat(col("text"), lit(" day one doc "), col("doc_id"),
             lit(Boilerplate))
         else col("text")).as("text"))
    // the probe query batch: tail-perturbed near-dups of every ...5 doc
    // (ids disjoint from everything indexed); in boilerplate mode a
    // 1-in-1000 slice ALSO carries the rotation paragraph (id-salted for
    // the same reason) — the contaminated slice whose prefixes collide
    // with day-1's under the stale ranking
    val batch = docs.filter(col("doc_id") % 10 === 5)
      .select((col("doc_id") + 2 * off).as("doc_id"),
        concat(col("text"), lit(" compaction probe tail"),
          if (mode == "boilerplate")
            when(col("doc_id") % 10000 === 5,
              concat(lit(" carrier "), col("doc_id"), lit(Boilerplate)))
              .otherwise(lit(""))
          else lit("")).as("text"))

    val dir = java.nio.file.Files
      .createTempDirectory("graft-compactprobe").toString + "/ix"
    val (_, buildS) = t(DedupIndex.buildPrefix(docs, "doc_id", "text", dir, tau))
    val (_, appendS) =
      t(DedupIndex.appendPrefix(spark, dir, day1, "doc_id", "text", "day-1"))

    def candidates(): Long = {
      val ix = DedupIndex.loadPrefix(spark, dir)
      val (_, bprefix, _) =
        Dedup.ppjoinBatchSide(ix, batch, "doc_id", "text", tau)
      val (cross, internal) = Dedup.ppjoinCandidatePairs(ix.prefix, bprefix, tau)
      cross.count() + internal.count()
    }
    def pairs() = DedupIndex
      .ppjoinBatch(spark, dir, batch, "doc_id", "text")
      .select("doc_a", "doc_b", "jaccard")

    val (before, beforeS) = t(graft.plans.Lineage.cut(pairs()))
    val nBefore = before.count()
    val candBefore = candidates()
    val (st, compactS) = t(DedupIndex.compact(spark, dir))
    val (after, afterS) = t(graft.plans.Lineage.cut(pairs()))
    val nAfter = after.count()
    val candAfter = candidates()
    // exact set equality, both directions — the certificate
    val missing = before.exceptAll(after).count()
    val extra = after.exceptAll(before).count()

    println(
      s"""{"mode": "$mode", """ +
      s""""corpus": ${docs.count()}, "appended": ${day1.count()}, """ +
      s""""batch": ${batch.count()}, "tau": $tau, """ +
      s""""reps_before": ${st.repsBefore}, "reps_after": ${st.repsAfter}, """ +
      s""""pairs_before": $nBefore, "pairs_after": $nAfter, """ +
      s""""pairs_missing_after_compact": $missing, "pairs_extra": $extra, """ +
      s""""cand_before": $candBefore, "cand_after": $candAfter, """ +
      s""""build_s": ${f"$buildS%.1f"}, "append_s": ${f"$appendS%.1f"}, """ +
      s""""query_before_s": ${f"$beforeS%.1f"}, "compact_s": ${f"$compactS%.1f"}, """ +
      s""""query_after_s": ${f"$afterS%.1f"}}""")
    spark.stop()
  }
}
