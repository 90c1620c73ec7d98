package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** `corpus_dedup`: the dedup family's CPU-dense, shuffle-heavy stages,
  * with the store, the ledger and the runner idle.
  *
  * Input: a synthetic corpus of random-vocabulary documents with planted
  * exact-copy families (case and whitespace variants of one text) and
  * near-duplicate families (one base text and variants whose last one or
  * two words differ, every pair at word-trigram Jaccard ≥ τ).
  *
  * One repetition: read the corpus → `exactFamilySummary` →
  * `prefixFilterJaccardFamilyPairs` at τ → `dedupedCorpus` written out.
  */
final class CorpusDedup(scale: Double) extends Workload {
  val name = "corpus_dedup"
  val unit = "docs"
  val Docs = math.max(500, math.round(3000 * scale).toInt)
  val Tau = 0.8

  private var texts: Map[Long, String] = Map.empty
  private var exactFamilies: Seq[Seq[Long]] = Nil
  private var nearFamilies: Seq[Seq[Long]] = Nil
  private var families: Array[Row] = Array.empty
  private var pairs: Array[Row] = Array.empty

  /** Distinct word trigrams of the normalized text (lower case, runs of
    * whitespace collapsed, trimmed); a text of fewer than three words is
    * its own single gram. Written here independently of the program.
    */
  def grams(text: String): Set[String] = {
    val tokens = text.toLowerCase.replaceAll("\\s+", " ").trim.split(" ", -1)
    if (tokens.length < 3) Set(tokens.mkString(" "))
    else tokens.sliding(3).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    (a intersect b).size.toDouble / (a union b).size

  def generate(ctx: Ctx, dir: String): Map[String, Any] = {
    val rnd = new java.util.Random(ctx.seed)
    val letters = "abcdefghijklmnopqrstuvwxyz"
    val vocab = Array.fill(4000)(
      Iterator.fill(3 + rnd.nextInt(7))(letters(rnd.nextInt(26))).mkString)
    def words(n: Int) = Array.fill(n)(vocab(rnd.nextInt(vocab.length)))
    // (family kind, texts): kind 0 = background, 1 = exact copies, 2 = near.
    // The family counts and sizes are fixed, so every seed plants the same
    // structure; the seed decides the words and where each document lands.
    val docs = mutable.ArrayBuffer.empty[(Int, Seq[String])]
    (0 until Docs / 50).foreach { f =>
      val base = words(40 + rnd.nextInt(40))
      docs += ((1, Seq.fill(2 + f % 3) {
        base.map(w => if (rnd.nextInt(5) == 0) w.capitalize else w)
          .mkString(if (rnd.nextBoolean()) " " else "  ")
      }))
    }
    (0 until Docs / 40).foreach { f =>
      val base = words(40 + rnd.nextInt(40))
      val variants = mutable.LinkedHashSet(base.mkString(" "))
      while (variants.size < 3 + f % 2) {
        val v = base.clone()
        (1 to 1 + rnd.nextInt(2)).foreach(k => v(v.length - k) = vocab(rnd.nextInt(vocab.length)))
        val text = v.mkString(" ")
        if (variants.forall(o => jaccard(grams(o), grams(text)) >= Tau)) variants += text
      }
      docs += ((2, variants.toSeq))
    }
    while (docs.map(_._2.size).sum < Docs)
      docs += ((0, Seq(words(30 + rnd.nextInt(60)).mkString(" "))))
    // shuffle documents so family members get scattered ids
    val flat = docs.toSeq.zipWithIndex.flatMap { case ((kind, ts), f) => ts.map(t => (kind, f, t)) }
    val order = flat.indices.toArray
    for (i <- order.indices.reverse) {
      val j = rnd.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t
    }
    val withIds = order.zipWithIndex.map { case (src, i) => (i + 1L, flat(src)) }
    texts = withIds.map { case (id, (_, _, t)) => id -> t }.toMap
    def familiesOf(kind: Int) = withIds.toSeq.filter(_._2._1 == kind)
      .groupBy(_._2._2).values.map(_.map(_._1).sorted).toSeq
    exactFamilies = familiesOf(1)
    nearFamilies = familiesOf(2)
    import ctx.spark.implicits._
    withIds.toSeq.map { case (id, (_, _, t)) => (id, t) }.toDF("doc_id", "text")
      .repartition(ctx.cores).write.mode("overwrite").parquet(s"$dir/corpus")
    Map("docs" -> withIds.length, "exact_families" -> exactFamilies.size,
      "near_families" -> nearFamilies.size, "planted_pairs" -> plantedPairs.size,
      "bytes" -> Workload.treeBytes(new File(s"$dir/corpus")))
  }

  private def plantedPairs: Set[(Long, Long)] =
    nearFamilies.flatMap(f => f.combinations(2).map(p => (p(0), p(1)))).toSet

  def rep(ctx: Ctx, input: String, dir: String): (Long, Map[String, Any]) = {
    import ctx._
    val docs = spark.read.parquet(s"$input/corpus")
    families = tracer.span("dedup.families") {
      Dedup.exactFamilySummary(docs, "doc_id", "text")
        .filter(col("n_members") > 1).collect()
    }
    pairs = tracer.span("dedup.family_pairs") {
      Dedup.prefixFilterJaccardFamilyPairs(docs, "doc_id", "text", Tau).collect()
    }
    tracer.span("dedup.survivors") {
      Dedup.dedupedCorpus(docs, "doc_id", "text", Tau)
        .write.mode("overwrite").parquet(s"$dir/deduped")
    }
    (texts.size.toLong, Map.empty)
  }

  def after(ctx: Ctx, dir: String, traced: Boolean): Map[String, Any] = {
    import ctx._
    val gotFamilies = families.map(r => (r.getLong(0), r.getLong(1))).toSet
    val wantFamilies = exactFamilies.map(f => (f.head, f.size.toLong)).toSet
    rec.check("dedup.exact_families", gotFamilies == wantFamilies,
      s"${gotFamilies.size} families, want ${wantFamilies.size}; " +
        s"extra ${(gotFamilies -- wantFamilies).take(3)} missing ${(wantFamilies -- gotFamilies).take(3)}")
    val got = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = plantedPairs -- got
    rec.check("dedup.planted_pairs_found", missed.isEmpty,
      s"${missed.size} planted pairs missing, e.g. ${missed.take(3)}")
    val below = got.filter { case (a, b) => jaccard(grams(texts(a)), grams(texts(b))) < Tau }
    rec.check("dedup.pairs_jaccard", below.isEmpty,
      s"${below.size} pairs below $Tau, e.g. ${below.take(3)}")
    val kept = spark.read.parquet(s"$dir/deduped").select(col("doc_id")).collect().map(_.getLong(0))
    val keptSet = kept.toSet
    val familyDocs = (exactFamilies ++ nearFamilies).flatten.toSet
    rec.check("dedup.survivors",
      kept.length == keptSet.size &&
        exactFamilies.forall(f => f.count(keptSet) == 1 && keptSet(f.head)) &&
        nearFamilies.forall(f => f.exists(keptSet)) &&
        texts.keys.filterNot(familyDocs).forall(keptSet),
      s"${kept.length} kept (${keptSet.size} distinct) of ${texts.size}")
    if (!traced) Map.empty
    else Map("dedup.pairs_out" -> pairs.length.toDouble,
      "dedup.families_out" -> families.length.toDouble)
  }
}
