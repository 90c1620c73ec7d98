package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.text.TextAnalysis

/** Deduplication operators for the LLM-data-pipeline surface: exact,
  * n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.
  *
  * Design notes for 100 TB:
  *  - Exact dedup is a hash-groupBy — one shuffle on the fingerprint.
  *  - Pairwise ops (Jaccard/SimHash) NEVER run all-pairs globally: they take
  *    a blocking column (language here; at scale add a length band and/or an
  *    LSH band) so the self-join key-space bounds the quadratic term.
  *  - MinHash+LSH is the scale path: signatures are per-row projections, the
  *    band join is an equi-join on band keys, and candidate verification is
  *    a second narrow join — no all-pairs anywhere.
  *  - Every hash is engine-portable (md5 strings, polynomial char hashes) so
  *    the DuckDB oracle reproduces results bit-for-bit; swapping in
  *    xxhash64 is a one-line change where oracle parity isn't needed.
  */
object Dedup {

  /** Word n-grams (space-joined) over the normalized token array; docs with
    * fewer than n tokens contribute the whole normalized text as one gram.
    */
  def ngrams(text: Column, n: Int): Column = {
    val tokens = split(TextAnalysis.normalized(text), " ")
    when(size(tokens) >= n,
      transform(sequence(lit(1), size(tokens) - (n - 1)),
        i => array_join(slice(tokens, i, lit(n)), " ")))
      .otherwise(array(TextAnalysis.normalized(text)))
  }

  /** JVM fast path for `array_distinct(ngrams(text, n))`: identical grams
    * (space-joined token windows, whole-text fallback), produced in one
    * tight loop instead of per-gram interpreted slice/join expressions —
    * the shingle stage dominates every minhash pipeline at scale.
    * Bit-parity with the expression form is spec-asserted.
    */
  def distinctNgramsUdf(n: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { normalized: String =>
      if (normalized == null) Array.empty[String]
      else {
      val tokens = normalized.split(" ", -1)
      if (tokens.length < n) Array(normalized)
      else {
        val seen = new java.util.LinkedHashSet[String]((tokens.length - n + 1) * 2)
        val sb = new java.lang.StringBuilder
        var i = 0
        while (i <= tokens.length - n) {
          sb.setLength(0)
          var j = 0
          while (j < n) {
            if (j > 0) sb.append(' ')
            sb.append(tokens(i + j))
            j += 1
          }
          seen.add(sb.toString)
          i += 1
        }
        val out = new Array[String](seen.size)
        seen.toArray(out)
        out
      }
      }
    }

  /** JVM fast path for `ngrams(text, n)` over pre-normalized text — the
    * non-distinct twin of [[distinctNgramsUdf]] for frequency counting
    * (vocabulary building keeps every occurrence). Bit-parity with the
    * expression form is spec-asserted.
    */
  def ngramsUdf(n: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { normalized: String =>
      if (normalized == null) Array.empty[String]
      else {
        val tokens = normalized.split(" ", -1)
        if (tokens.length < n) Array(normalized)
        else {
          val out = new Array[String](tokens.length - n + 1)
          val sb = new java.lang.StringBuilder
          var i = 0
          while (i <= tokens.length - n) {
            sb.setLength(0)
            var j = 0
            while (j < n) {
              if (j > 0) sb.append(' ')
              sb.append(tokens(i + j))
              j += 1
            }
            out(i) = sb.toString
            i += 1
          }
          out
        }
      }
    }

  /** Exact dedup groups: normalized-text fingerprint → group size + survivor
    * (min id). One shuffle; survivors join back by fingerprint if the full
    * surviving rows are needed.
    */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(TextAnalysis.normalized(col(textCol))).as("fp"))
      .agg(count(lit(1)).as("n"), min(col(idCol)).as("survivor_id"))

  /** Pairwise token-3-gram Jaccard within a blocking key. Quadratic in the
    * block size by construction — callers at scale must block (or use
    * [[lshCandidates]] first and verify only candidates).
    */
  def jaccardPairs(
      docs: DataFrame, idCol: String, textCol: String, blockCol: String,
      threshold: Double): DataFrame = {
    val g = docs.select(col(idCol).as("id"), col(blockCol).as("blk"),
      array_distinct(ngrams(col(textCol), 3)).as("grams"))
    val a = g.alias("a")
    val b = g.alias("b")
    a.join(b, col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .withColumn("jaccard",
        size(array_intersect(col("a.grams"), col("b.grams"))) /
          size(array_union(col("a.grams"), col("b.grams"))))
      .filter(col("jaccard") >= threshold)
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"), col("jaccard"))
  }

  /** MinHash signature value k: the minimum salted-md5 over the doc's
    * shingles. A string-ordered min under a salted hash is a valid random
    * permutation minimum, and is reproducible in any engine with md5.
    */
  def minhashSig(grams: Column, k: Int): Column =
    array_min(transform(grams, s => md5(concat(lit(s"$k:"), s))))

  /** LSH band keys: `bands` bands × `rowsPerBand` signature rows, band index
    * baked into the key hash so a plain equi-join on the key is the bucket
    * join.
    */
  def bandKeys(grams: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { j =>
      md5(concat((lit(s"$j|") +:
        (0 until rowsPerBand).map(r => minhashSig(grams, j * rowsPerBand + r))): _*))
    }: _*)

  private val mdLocal = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val HexChars = "0123456789abcdef".toCharArray

  private def md5Hex(s: String): String = {
    val md = mdLocal.get()
    md.reset()
    val dig = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HexChars((dig(i) >> 4) & 0xf)
      out(2 * i + 1) = HexChars(dig(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** JVM fast path for [[bandKeys]]: identical salted-md5 strings, computed
    * in a tight loop instead of interpreted per-element HOF expressions —
    * ~10× on md5-heavy signatures. (Next step if this ever matters more: a
    * codegen'd Catalyst Expression.)
    */
  val bandKeysUdf: (Int, Int) => org.apache.spark.sql.expressions.UserDefinedFunction =
    (bands, rowsPerBand) => udf { grams: Seq[String] =>
      val nSigs = bands * rowsPerBand
      val sigs = Array.tabulate(nSigs) { k =>
        var min: String = null
        grams.foreach { g =>
          val h = md5Hex(s"$k:$g")
          if (min == null || h < min) min = h
        }
        if (min == null) "" else min
      }
      (0 until bands).map { j =>
        md5Hex(s"$j|" + (0 until rowsPerBand).map(r => sigs(j * rowsPerBand + r)).mkString(""))
      }
    }

  /** Per-signature universal-hash constants (a_k, b_k) — portable charHash
    * derivation, nonzero mod 2^31-1, inlined as literals in the oracle.
    */
  def minhashConsts(k: Int): (Long, Long) = {
    def c(prefix: String): Long = {
      val v = graft.sim.Similarity.charHash(s"$prefix:$k") % HashMod
      if (v == 0) 1L else v
    }
    (c("a"), c("b"))
  }

  /** Universal-hashing MinHash signatures: ONE md5 per shingle, halves
    * h1/h2, signature k = min over shingles of
    * `(a_k*(h1 mod p) + b_k*(h2 mod p)) mod p`, p = 2^31-1 — 12× fewer
    * digests than salted-md5-per-signature, k-specific multipliers so the
    * signatures stay UNCORRELATED (plain Kirsch–Mitzenmacher `h1 + k*h2`
    * let one small-h1 shingle win every min: 2.2× candidate noise at
    * sf0.01, ~4× at the 10× probe). Products < 2^62: exact BIGINT both
    * engines, no overflow.
    */
  def minhashSigsUdf(nSigs: Int): org.apache.spark.sql.expressions.UserDefinedFunction = {
    val as = Array.tabulate(nSigs)(minhashConsts(_)._1)
    val bs = Array.tabulate(nSigs)(minhashConsts(_)._2)
    udf { grams: Seq[String] =>
      val mins = Array.fill(nSigs)(Long.MaxValue)
      val in = if (grams == null) Seq.empty[String] else grams
      in.foreach { g =>
        val hex = md5Hex(g)
        val h1 = java.lang.Long.parseLong(hex.substring(0, 12), 16) % HashMod
        val h2 = java.lang.Long.parseLong(hex.substring(12, 24), 16) % HashMod
        var k = 0
        while (k < nSigs) {
          val v = (as(k) * h1 + bs(k) * h2) % HashMod
          if (v < mins(k)) mins(k) = v
          k += 1
        }
      }
      mins
    }
  }

  /** Does an earlier band than `j` already pair these two signature
    * vectors? The "first-match band" trick: each pair is emitted by exactly
    * ONE band (its first matching one), which replaces the global
    * `distinct()` — a full extra shuffle of every duplicated candidate —
    * with a local filter.
    */
  private def earlierBandMatches(sa: Array[Long], sb: Array[Long], j: Int,
      rowsPerBand: Int): Boolean = {
    var jj = 0
    while (jj < j) {
      var r = 0
      var all = true
      while (all && r < rowsPerBand) {
        if (sa(jj * rowsPerBand + r) != sb(jj * rowsPerBand + r)) all = false
        r += 1
      }
      if (all) return true
      jj += 1
    }
    false
  }

  /** Default bucket cap for the bucket-local pair kernels: a bucket that
    * fits under the cap pairs on one task (the common case, zero overhead);
    * a bigger one is sub-split so its local quadratic is sharded across
    * tasks of ~cap rows each. 4096 rows keeps the worst per-task buffer in
    * the tens of MB and the worst per-cell pair loop in the low millions.
    */
  val DefaultBucketCap = 4096

  /** Fraction of input sampled by the skew pre-pass that detects oversized
    * buckets. Detection only needs to catch CATASTROPHIC buckets: a
    * 1e6-row cluster shows up ~1e4 times in a 1% sample (never missed),
    * while a bucket merely ~2× the cap can slip through and simply runs on
    * one task, as every bucket did before capping existed. Use 1.0 for an
    * exact pre-count (specs do).
    */
  val DefaultSkewSampleRate = 0.01

  /** Deterministic salt for sub-splitting an oversized bucket: a mixed id
    * hash mod the fanout. Which salt a row draws never changes WHICH pairs
    * are emitted (every cross-salt pair meets in exactly one cell), only
    * where the work runs.
    */
  private def saltOf(id: Long, s: Int): Int = {
    val mixed = id * 0x9E3779B97F4A7C15L
    ((mixed ^ (mixed >>> 32)).toInt & 0x7fffffff) % s
  }

  /** Skew-capped bucket-local self-pairing — the shared kernel under the
    * minhash, simhash and cosine near-dup operators.
    *
    * Groups `rows` by `keyOf` and offers every in-bucket pair (ordered by
    * ascending `idOf`) to `emitPair` exactly once. A bucket that fits in
    * `cap` rows materializes on one task — the same single groupByKey the
    * uncapped form did. An OVERSIZED bucket (the adversarial case: one
    * giant cluster of mutually-colliding docs) is instead sub-split into
    * s = ceil(n/cap) salt groups and enumerated cell-by-cell: each i ≤ j
    * salt-cell task holds ≤ ~2·cap rows and emits only its cell's pairs
    * (diagonal cells pair within a salt group, off-diagonal cells pair
    * across their two groups), so a monster bucket degrades into s·(s+1)/2
    * bounded tasks instead of one task OOMing on `toArray` and running the
    * whole quadratic alone.
    *
    * Oversized buckets are detected by a sampled pre-pass over
    * `sampleRows` (callers build it from `docs.sample(sampleRate)` so the
    * expensive per-doc hashing runs on the sample only); only detected keys
    * — metadata-sized: one (key, fanout) entry per GIANT bucket — are
    * collected to the driver and broadcast. The pair SET is identical
    * whatever the detection outcome (spec-asserted capped ≡ uncapped): a
    * missed bucket costs locality, never pairs.
    */
  private[dedup] def cappedBucketPairs[R, K, T](
      rows: Dataset[R], sampleRows: Dataset[R], sampleRate: Double,
      keyOf: R => K, idOf: R => Long, cap: Int)(
      emitPair: (R, R) => Option[T])(
      implicit kEnc: Encoder[K], cellEnc: Encoder[(R, Int, Int, Int)],
      gkEnc: Encoder[(K, Int, Int)], tEnc: Encoder[T],
      ct: scala.reflect.ClassTag[R]): Dataset[T] = {
    require(cap >= 2, s"bucket cap must be >= 2, got $cap")
    require(sampleRate > 0.0 && sampleRate <= 1.0,
      s"skew sample rate must be in (0, 1], got $sampleRate")
    val minHits = math.max(2.0, cap * sampleRate)
    val fanouts: Map[K, Int] = sampleRows.map(keyOf)
      .groupByKey(identity).count()
      .filter(kc => kc._2 > minHits)
      .collect()
      .map { case (k, c) =>
        k -> math.max(2, math.ceil(c / sampleRate / cap).toInt)
      }.toMap
    // the fanout table is metadata-sized (one entry per detected giant
    // bucket — usually none), so ship it in the task closure: a broadcast
    // would need an explicit destroy after materialization, a lifetime no
    // lazy return value can manage, and repeated invocations in a
    // long-lived app would accumulate never-destroyed broadcast blocks
    rows.flatMap { r =>
        val s = fanouts.getOrElse(keyOf(r), 1)
        if (s == 1) Iterator.single((r, 0, 0, 0))
        else {
          val p = saltOf(idOf(r), s)
          Iterator.range(0, s).map(q => (r, p, math.min(p, q), math.max(p, q)))
        }
      }
      .groupByKey(t => (keyOf(t._1), t._3, t._4))
      .flatMapGroups { (key, it) =>
        val ci = key._2
        val cj = key._3
        val out = scala.collection.mutable.ArrayBuffer.empty[T]
        if (ci == cj) {
          // diagonal cell: all-pairs within this salt group (≤ ~cap rows)
          val arr = it.map(_._1).toArray.sortBy(idOf)
          var i = 0
          while (i < arr.length) {
            var j = i + 1
            while (j < arr.length) {
              emitPair(arr(i), arr(j)).foreach(out += _)
              j += 1
            }
            i += 1
          }
        } else {
          // cross cell: pairs BETWEEN the two salt groups only (diagonal
          // cells own the within-group pairs)
          val all = it.toArray
          val as = all.collect { case (r, p, _, _) if p == ci => r }
          val bs = all.collect { case (r, p, _, _) if p == cj => r }
          var i = 0
          while (i < as.length) {
            var j = 0
            while (j < bs.length) {
              val (lo, hi) =
                if (idOf(as(i)) <= idOf(bs(j))) (as(i), bs(j))
                else (bs(j), as(i))
              emitPair(lo, hi).foreach(out += _)
              j += 1
            }
            i += 1
          }
        }
        out.iterator
      }
  }

  /** Bucket-grouped band rows: each doc's payload ships ONCE per band to
    * its bucket (grams included only when `withGrams`), then pairs are
    * generated bucket-locally via [[cappedBucketPairs]]. Compare the join
    * form, which ships the payload once per candidate PAIR —
    * O(pairs·|doc|) bytes vs this O(bands·n·|doc|).
    */
  private def bucketLocalPairs[T](
      docs: DataFrame, idCol: String, textCol: String,
      bands: Int, rowsPerBand: Int, withGrams: Boolean,
      bucketCap: Int, skewSampleRate: Double)(
      emit: (Long, Array[Long], Array[String], Long, Array[Long], Array[String]) => Option[T])(
      implicit enc: Encoder[T]): Dataset[T] = {
    val spark = docs.sparkSession
    import spark.implicits._
    requireIntegralId(docs, idCol)
    val rpb = rowsPerBand
    val sigsOf = minhashSigsUdf(bands * rowsPerBand)
    // sigs always derive from the real shingles; the shingles themselves
    // ride the shuffle only when the verify stage needs them. Null-text
    // docs carry no shingles and cannot pair — excluded up front.
    def bandRows(d: DataFrame): Dataset[(Long, Array[String], Array[Long], Int)] = d
      .filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("id"),
        distinctNgramsUdf(3)(TextAnalysis.normalized(col(textCol))).as("__grams"))
      .select(col("id"),
        (if (withGrams) col("__grams") else array().cast("array<string>"))
          .as("grams"),
        sigsOf(col("__grams")).as("sigs"))
      .select(col("id"), col("grams"), col("sigs"),
        explode(array((0 until bands).map(lit): _*)).as("j"))
      .as[(Long, Array[String], Array[Long], Int)]
    val sampledDocs =
      if (skewSampleRate >= 1.0) docs
      else docs.sample(withReplacement = false, skewSampleRate, seed = 421L)
    cappedBucketPairs[(Long, Array[String], Array[Long], Int), (Int, Seq[Long]), T](
      bandRows(docs), bandRows(sampledDocs), skewSampleRate,
      // bucket key = band index + that band's FULL signature slice
      t => (t._4, t._3.slice(t._4 * rpb, t._4 * rpb + rpb).toSeq),
      t => t._1, bucketCap) { (a, b) =>
      if (earlierBandMatches(a._3, b._3, a._4, rpb)) None
      else emit(a._1, a._3, a._2, b._1, b._3, b._2)
    }
  }

  /** Asymmetric containment pairs: LSH band candidates verified on
    * `max(|A∩B|/|A|, |A∩B|/|B|) >= threshold`, reporting BOTH directions.
    * This catches the quote/excerpt relationships symmetric Jaccard is
    * blind to — a 30-shingle excerpt fully embedded in a 300-shingle doc
    * has Jaccard ≈ 0.1 but containment 1.0 — which is how a training
    * corpus detects documents that merely quote, wrap, or re-publish
    * other documents.
    *
    * Recall caveat (inherent, documented): candidates still come from
    * minhash bands, whose collision probability tracks JACCARD, so a tiny
    * doc deeply contained in a huge one may not band-collide; the
    * production fix at extreme length skew is shingle-size-stratified
    * banding or a prefix-filtered overlap join (public technique, PPJoin
    * family). Verification itself is exact on the distinct shingle sets,
    * and the oracle re-derives the identical candidate universe, so the
    * gate is value-exact w.r.t. the banding.
    */
  def containmentPairs(
      docs: DataFrame, idCol: String, textCol: String, threshold: Double,
      bands: Int = 6, rowsPerBand: Int = 2,
      bucketCap: Int = DefaultBucketCap,
      skewSampleRate: Double = DefaultSkewSampleRate): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val thr = threshold
    bucketLocalPairs[(Long, Long, Double, Double)](docs, idCol, textCol,
      bands, rowsPerBand, withGrams = true, bucketCap, skewSampleRate) {
      (ia, _, ga, ib, _, gb) =>
      val seen = new java.util.HashSet[String](ga.length * 2)
      ga.foreach(seen.add)
      var inter = 0
      gb.foreach(g => if (seen.contains(g)) inter += 1)
      val ca = inter.toDouble / ga.length
      val cb = inter.toDouble / gb.length
      if (math.max(ca, cb) >= thr) Some((ia, ib, ca, cb)) else None
    }
      .toDF("doc_a", "doc_b", "containment_a", "containment_b")
  }

  /** The typed bucket-local kernels encode ids as Long — fail LOUDLY on a
    * non-integral id column instead of letting a cast silently null it.
    */
  private def requireIntegralId(df: DataFrame, idCol: String): Unit = {
    val dt = df.schema(df.schema.fieldIndex(idCol)).dataType
    require(Seq("long", "int", "integer", "bigint", "short", "smallint")
      .contains(dt.typeName) || dt.typeName.startsWith("decimal"),
      s"$idCol must be an integral id column for the bucket-local dedup " +
        s"kernels, got ${dt.typeName} (map your ids to longs first)")
  }

  /** Candidate pairs sharing ≥1 LSH band, generated bucket-locally with
    * first-match-band dedup. THE scale path for near-dedup: no quadratic
    * blow-up, shuffle volume O(bands·n), no global distinct.
    */
  def lshCandidates(
      docs: DataFrame, idCol: String, textCol: String,
      bands: Int = 6, rowsPerBand: Int = 2,
      bucketCap: Int = DefaultBucketCap,
      skewSampleRate: Double = DefaultSkewSampleRate): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bucketLocalPairs[(Long, Long)](docs, idCol, textCol, bands, rowsPerBand,
      withGrams = false, bucketCap, skewSampleRate) {
      (ia, _, _, ib, _, _) => Some((ia, ib))
    }
      .toDF("doc_a", "doc_b")
  }

  /** The scale-path near-dedup pipeline: LSH bucket candidates → exact
    * Jaccard verification, all bucket-local. Work is O(docs × bands) +
    * O(candidate pairs) with each doc's shingle set shipped once per band —
    * never all-pairs, never once-per-pair; this is the form that survives
    * 100 TB (the all-pairs [[jaccardPairs]] stays for small blocked use and
    * unit tests). Jaccard arithmetic matches the oracle exactly:
    * |a∩b| / (|a|+|b|-|a∩b|) on distinct shingle sets.
    */
  def lshVerifiedPairs(
      docs: DataFrame, idCol: String, textCol: String, threshold: Double,
      bands: Int = 6, rowsPerBand: Int = 2,
      bucketCap: Int = DefaultBucketCap,
      skewSampleRate: Double = DefaultSkewSampleRate): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val thr = threshold
    bucketLocalPairs[(Long, Long, Double)](docs, idCol, textCol, bands,
      rowsPerBand, withGrams = true, bucketCap, skewSampleRate) {
      (ia, _, ga, ib, _, gb) =>
      val seen = new java.util.HashSet[String](ga.length * 2)
      ga.foreach(seen.add)
      var inter = 0
      gb.foreach(g => if (seen.contains(g)) inter += 1)
      val jac = inter.toDouble / (ga.length + gb.length - inter)
      if (jac >= thr) Some((ia, ib, jac)) else None
    }
      .toDF("doc_a", "doc_b", "jaccard")
  }

  /** EXACT Jaccard-threshold self-join via prefix filtering (PPJoin
    * family — Xiao et al., "Efficient Similarity Joins for Near Duplicate
    * Detection", public technique). The guarantee LSH cannot give: the
    * result is EXACTLY the set of pairs with Jaccard ≥ τ — no
    * probabilistic recall, no band-count tuning (spec-asserted equal to
    * the brute-force all-pairs join on crafted corpora, and a superset of
    * [[lshVerifiedPairs]] on any corpus).
    *
    * The prefix-filter lemma does the candidate bounding: order every
    * doc's shingles by a GLOBAL (document-frequency asc, gram asc) total
    * order and keep only the first `|x| − ceil(τ·|x|) + 1` as the doc's
    * prefix; two docs with Jaccard ≥ τ have overlap ≥ ceil(τ·max(|x|,|y|)),
    * which cannot fit entirely in either suffix, so their PREFIXES share
    * at least one gram — an equi-join on prefix grams finds every
    * qualifying pair. Rare grams come first in the global order, so
    * prefix buckets are the SMALL ones (a stopword shingle in half the
    * corpus lands in almost no prefixes); the length filter
    * (τ·|y| ≤ |x| ≤ |y|/τ) prunes candidates before the distinct. Scale
    * shape: one groupBy for document frequencies, one per-doc window for
    * prefix ranks, one equi-join on prefix grams (candidates bounded by
    * Σ_rare-gram bucket²), exact verify only on surviving pairs — never
    * all-pairs. At extreme gram skew the same salt-cell capping as the
    * LSH buckets applies (here the frequency order already does the
    * heavy lifting).
    *
    * Boundary exactness: every candidate-pruning predicate is phrased as
    * THE SAME IEEE comparison the verify step makes — `fl(x/y) >= τ` on
    * int columns — never as a floating-point rearrangement of it. The
    * textbook `overlap ≥ ceil(τ/(1+τ)·(|x|+|y|))` form is NOT safe in
    * doubles: at τ=0.8 a 28-gram doc contained in a 35-gram doc has
    * `fl(28/35) == fl(0.8)` (verify passes) but `fl(0.8/1.8)·63` lands
    * a hair above 28 and ceils to 29, pruning a true pair. Correctly
    * rounded division is monotone in its integer operands, so bounding
    * the overlap and comparing `fl(ub/(sz_a+sz_b−ub)) >= τ` prunes a
    * pair only when NO overlap value could pass verify (boundary pair
    * spec-asserted in DedupSpec).
    */
  def prefixFilterJaccardPairs(docs: DataFrame, idCol: String,
      textCol: String, threshold: Double): DataFrame = {
    val (repPairs, members) =
      prefixFilterRepPairs(docs, idCol, textCol, threshold)
    expandFamilies(repPairs, members, members)
      .select(least(col("ma"), col("mb")).as("doc_a"),
        greatest(col("ma"), col("mb")).as("doc_b"), col("jaccard"))
      .unionByName(familyPairs(members))
  }

  /** The rep-level core of [[prefixFilterJaccardPairs]]: verified
    * cross-family pairs over exact-dup representatives, plus the member
    * map. Shared by the per-doc expansion above and the family-level
    * contract [[prefixFilterJaccardFamilyPairs]].
    */
  private def prefixFilterRepPairs(docs: DataFrame, idCol: String,
      textCol: String, threshold: Double): (DataFrame, DataFrame) = {
    val (g, members) = collapseExactFamilies(docs, idCol, textCol)
    val toks = g.select(col("id"), size(col("grams")).as("sz"),
      explode(col("grams")).as("gram"))
    val freq = toks.groupBy("gram").agg(count(lit(1)).as("df"))
    // (df, gram) is a total order and gram is unique per doc, so the
    // per-doc rank is deterministic on any partitioning
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("df"), col("gram"))
    // conservative prefix length: keep rank rn iff an overlap of
    // sz − rn + 1 could still verify against a partner of the minimal
    // legal size — fl((sz−rn+1)/sz) >= τ, the verify comparison itself
    // (a qualifying pair's overlap o* has fl(o*/union) >= τ and
    // union >= sz, so fl(o*/sz) >= τ by rounding monotonicity).
    // DELIBERATELY the window form, not TopKPerKey.topKBounded (which the
    // index/batch prefix builds use): here the ranked prefix feeds the
    // candidate self-join IN THE SAME PLAN, and the heap operator's 40×
    // exchange-byte cut makes AQE coalesce the fused final-merge + verify
    // pipeline to ONE task — measured ×1.5 SLOWER end-to-end
    // (dedup_ppjoin_family_pairs interleaved A/B min 3.32 vs 2.29 s,
    // med 4.12 vs 2.56 s, 3 rounds × 5 reps) despite shipping 6.77 →
    // 0.15 MB. The cut/persisted prefix paths have no such fusion and
    // measured ×0.87 with the operator.
    val prefix = toks.join(freq, Seq("gram"))
      .withColumn("rn", row_number().over(w))
      .filter((col("sz") - col("rn") + 1) / col("sz") >= threshold)
      .select("id", "sz", "rn", "gram")
    // POSITIONAL filter (the second P of PPJoin): a match at prefix
    // positions (rn_a, rn_b) can grow to at most
    // ub = 1 + min(sz_a − rn_a, sz_b − rn_b) overlapping grams — keep
    // only if that best case passes the verify comparison verbatim:
    // fl(ub/(sz_a+sz_b−ub)) >= τ. Measured 43.3M → bounded candidates
    // at τ=0.5 on the 10× probe, where the length filter alone admits
    // every pair sharing one mid-frequency shingle
    val ub = lit(1) +
      least(col("sz_a") - col("rn_a"), col("sz_b") - col("rn_b"))
    val cand = prefix.select(col("id").as("doc_a"), col("sz").as("sz_a"),
        col("rn").as("rn_a"), col("gram"))
      .join(prefix.select(col("id").as("doc_b"), col("sz").as("sz_b"),
        col("rn").as("rn_b"), col("gram")), Seq("gram"))
      .filter(col("doc_a") < col("doc_b") &&
        least(col("sz_a"), col("sz_b")) /
          greatest(col("sz_a"), col("sz_b")) >= threshold &&
        ub / (col("sz_a") + col("sz_b") - ub) >= threshold)
      .select("doc_a", "doc_b").distinct()
    val repPairs = cand
      .join(g.select(col("id").as("doc_a"), col("grams").as("ga")), Seq("doc_a"))
      .join(g.select(col("id").as("doc_b"), col("grams").as("gb")), Seq("doc_b"))
      .withColumn("jaccard",
        size(array_intersect(col("ga"), col("gb"))) /
          size(array_union(col("ga"), col("gb"))))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    (repPairs, members)
  }

  /** The 100 TB-safe OUTPUT CONTRACT for dirty corpora: family-level
    * near-dup pairs instead of the per-doc expansion. Each row is a
    * verified cross-family rep pair (doc_a < doc_b, both exact-dup family
    * representatives = min member id) with the two family sizes — the
    * per-doc pair count it stands for is `n_a · n_b` (plus
    * `n·(n−1)/2` within each family at jaccard 1.0, recoverable from
    * [[exactFamilySummary]]). [[prefixFilterJaccardPairs]]' expanded pair
    * list is quadratic in family size BY CONTRACT: a 10⁵-member
    * boilerplate family on real crawl data yields ~5·10⁹ rows for that
    * family alone, regardless of how efficiently they're computed. This
    * form is output-linear in the number of FAMILIES — the one to use at
    * scale; expand lazily (and locally) only where a consumer genuinely
    * needs doc-level rows.
    */
  def prefixFilterJaccardFamilyPairs(docs: DataFrame, idCol: String,
      textCol: String, threshold: Double): DataFrame = {
    val (repPairs, members) =
      prefixFilterRepPairs(docs, idCol, textCol, threshold)
    val sizes = members.groupBy("rep").agg(count(lit(1)).as("n"))
    repPairs
      .join(sizes.select(col("rep").as("doc_a"), col("n").as("n_a")),
        Seq("doc_a"))
      .join(sizes.select(col("rep").as("doc_b"), col("n").as("n_b")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"), col("n_a"),
        col("n_b"))
  }

  /** Exact-dup families as (rep, n_members, sample_members) — the
    * family-level companion to [[prefixFilterJaccardFamilyPairs]]:
    * `rep` is the min member id, `sample_members` the first three member
    * ids in ascending order (comma-joined — deterministic, so
    * hash-comparable). Output-linear in distinct texts; the member map
    * itself stays distributed and is never expanded into pairs.
    */
  def exactFamilySummary(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val (_, members) = collapseExactFamilies(docs, idCol, textCol)
    // the sample is rank-bounded BEFORE any aggregation buffer: a
    // 10⁵-member family contributes 3 rows to the collect, not 10⁵ ids
    // to a grouped array (the rank window handles id-only rows — the
    // same tiny-row skew budget as rep election)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("rep").orderBy("id")
    val sample = members.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .groupBy("rep").agg(
        array_join(sort_array(collect_list(col("id")))
          .cast("array<string>"), ",").as("sample_members"))
    members.groupBy("rep").agg(count(lit(1)).as("n_members"))
      .join(sample, Seq("rep"))
      .select(col("rep"), col("n_members"), col("sample_members"))
  }

  /** Exact-dup family collapse ahead of PPJoin pairing — the collapse-first
    * rule [[bandIndex]] and [[substringPairs]] already apply, extended to
    * the prefix-filter family: one REPRESENTATIVE (min id) per distinct
    * normalized text ([[exactGroups]]' md5 fingerprint), plus the
    * (rep, id) member map (reps map to themselves). Candidate generation
    * and verification then run over representatives only, so candidate
    * volume AND the gram-array-carrying verify join become independent of
    * duplicate multiplicity — the dominant term in dirty corpora (the 100×
    * probe's 100-member replica families put ~75 GB of spill through the
    * rep-free form: replicas² candidate rows, then replicas² verify rows
    * each dragging two full gram arrays). The exact per-doc pair set is
    * recovered afterward by [[expandFamilies]] (id-only rows), and
    * within-family pairs are emitted directly with jaccard exactly 1.0
    * (identical normalized texts have identical gram sets).
    *
    * Returns (reps, members): reps = (id, grams) one row per family;
    * members = (rep, id) covering every doc with non-empty grams. One
    * exchange (the fp window) covers both.
    */
  private[graft] def collapseExactFamilies(docs: DataFrame, idCol: String,
      textCol: String): (DataFrame, DataFrame) = {
    val norm = TextAnalysis.normalized(col(textCol))
    // rep election and the member map run on (fp, id) rows alone — a
    // million-copy boilerplate family costs one map-side-combined min,
    // not a single fp-partitioned WINDOW task dragging a million gram
    // arrays (ADVICE r13). Gram arrays are computed ONLY for
    // representatives (an fp family shares one normalized text, hence one
    // gram set) and meet the family tag through a JOIN: when `fams` is
    // small Spark broadcasts it and the arrays never cross an exchange;
    // at corpus scale it degrades to a shuffle join, which — unlike a
    // window — AQE's skew-join splitting can cut, so no task ever owns a
    // whole family. The non-null filter is exactly the old
    // `size(grams) > 0`: [[distinctNgramsUdf]] returns empty ONLY for null
    // input (short non-null text falls back to the whole-string
    // singleton), so membership is unchanged. ONE materialization serves
    // both outputs (downstream consumes reps 3× and members 2-3×;
    // per-output cuts measured 2 extra eager jobs and per-consumer
    // recompute measured 2.1× on the one-shot gate).
    // normalized(x) is null iff x is null, so the cheap column filter is
    // the same membership predicate without evaluating the regex twice
    val ids = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), md5(norm).as("fp"))
    val fams = ids.groupBy("fp").agg(min(col("id")).as("rep"))
    // grams are computed for REPRESENTATIVES ONLY: the CASE WHEN branch
    // evaluates lazily per row, so a member row never pays the shingling
    // UDF and the checkpoint never stores its gram array (the previous
    // form shingled EVERY member — at the 100× probe's 100-member replica
    // families that is ~99% wasted UDF work and checkpoint bytes; a
    // two-job rep-only rewrite measured SLOWER at sf0.1 — the extra scan
    // + eager cut cost more than the 9% dup-shingling it saved — so the
    // conditional keeps the original ONE-materialization shape)
    val tagged = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), md5(norm).as("fp"),
        col(textCol).as("__t"))
      .join(fams, Seq("fp"))
      .select(col("id"), col("rep"),
        when(col("id") === col("rep"), distinctNgramsUdf(3)(
          TextAnalysis.normalized(col("__t")))).as("grams"))
      .transform(graft.plans.Lineage.cut)
    (tagged.filter(col("id") === col("rep")).select(col("id"), col("grams")),
      tagged.select(col("rep"), col("id")))
  }

  /** Rep-level verified pairs → per-doc pairs through the member maps.
    * Families partition the docs, so every (ma, mb) pair arises from
    * exactly ONE rep pair — expansion is multiplicity-exact. Output ids
    * are NOT order-normalized (member ids need not respect the rep order);
    * callers apply least/greatest.
    */
  private def expandFamilies(repPairs: DataFrame, memA: DataFrame,
      memB: DataFrame): DataFrame = repPairs
    .join(memA.select(col("rep").as("doc_a"), col("id").as("ma")),
      Seq("doc_a"))
    .join(memB.select(col("rep").as("doc_b"), col("id").as("mb")),
      Seq("doc_b"))
    .select(col("ma"), col("mb"), col("jaccard"))

  /** All within-family pairs (a < b), jaccard exactly 1.0 — the pairs the
    * rep-level candidate join can no longer see (one rep per family).
    * The self-join buckets are family-sized: output-sized by definition,
    * never corpus-quadratic.
    */
  private def familyPairs(members: DataFrame): DataFrame = members
    .join(members.select(col("rep"), col("id").as("id_b")), Seq("rep"))
    .filter(col("id") < col("id_b"))
    .select(col("id").as("doc_a"), col("id_b").as("doc_b"),
      lit(1.0).as("jaccard"))

  /** Persistable prefix index for [[ppjoinAgainst]] — the EXACT-dedup
    * analog of [[bandIndex]]: four plain parquet-writable frames
    * (document frequencies, per-REPRESENTATIVE prefix rows at the index
    * threshold, representative gram sets, and the exact-dup member map),
    * computed ONCE over the corpus and reloaded per daily batch. All
    * derived under the same global (df asc, gram asc) order as
    * [[prefixFilterJaccardPairs]]. Like [[bandIndex]], the index holds one
    * prefix/gram row per exact-dup FAMILY ([[collapseExactFamilies]]):
    * index size and join fanout are independent of duplicate multiplicity,
    * and `members` recovers the per-doc pair set.
    */
  final case class PrefixIndex(freq: DataFrame, prefix: DataFrame,
      grams: DataFrame, members: DataFrame)

  def prefixIndex(corpus: DataFrame, idCol: String, textCol: String,
      threshold: Double): PrefixIndex = {
    val (g, members) = collapseExactFamilies(corpus, idCol, textCol)
    val toks = g.select(col("id"), size(col("grams")).as("sz"),
      explode(col("grams")).as("gram"))
    val freq = toks.groupBy("gram").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("df"), col("gram"))
    // same conservative prefix predicate as [[prefixFilterJaccardPairs]].
    // df counts REPRESENTATIVES (distinct texts), not raw docs — any
    // consistent global order preserves the exactness lemmas, and rep-df
    // is the better selectivity signal (a million exact copies of one
    // boilerplate page shouldn't demote its discriminative grams).
    // DELIBERATELY the window form (see prefixFilterRepPairs): gates that
    // build the index inline consume `prefix` directly in the candidate
    // join, and the TopKPerKey byte cut makes AQE serialize that fused
    // stage — dedup_ppjoin_batch_family_pairs measured ×1.27 slower in
    // two independent interleaved A/Bs with the operator here. Only the
    // LINEAGE-CUT batch prefix ([[ppjoinBatchSide]]) keeps the operator.
    val prefix = toks.join(freq, Seq("gram"))
      .withColumn("rn", row_number().over(w))
      .filter((col("sz") - col("rn") + 1) / col("sz") >= threshold)
      .select("id", "sz", "rn", "gram")
    PrefixIndex(freq, prefix, g, members)
  }

  /** Incremental EXACT near-dedup — [[prefixFilterJaccardPairs]]'
    * daily-batch form: every pair with Jaccard ≥ τ that involves at least
    * one batch doc (batch×corpus AND batch×batch), WITHOUT re-pairing the
    * corpus, with the same zero-false-negative guarantee the one-shot
    * operator has (and [[dedupAgainst]]'s LSH path does not).
    *
    * The shared total order makes it exact: batch prefixes rank grams by
    * the INDEX's (df, gram) with unseen grams at df 0 — rarer than every
    * corpus gram. Corpus docs contain no unseen grams, so both sides'
    * prefixes are leading segments of one global order and the
    * prefix-filter + positional-filter lemmas apply to every cross and
    * batch-internal pair. `threshold` must equal the index's build
    * threshold (the bands/rowsPerBand contract of the LSH index, in
    * prefix form). Cost: one batch-sized prefix build + equi-joins on
    * prefix grams against the k-rows-per-doc index — the corpus is never
    * self-paired.
    *
    * Input contract: batch ids must be DISJOINT from the indexed ids
    * (the natural shape — a daily delta vs the already-ingested corpus,
    * and what every caller here provides). An id present on both sides
    * would emit its pairs twice — once through the cross expansion and
    * once through the internal/family path — with only the degenerate
    * self-pair filtered.
    */
  /** Batch-side shingle sets and prefix rows ranked by the INDEX's
    * (df, gram) total order with unseen grams at df 0 — the shared-order
    * construction [[ppjoinAgainst]]'s exactness proof rests on. Exposed so
    * [[DedupIndex]] can persist a batch's rows into the growing index:
    * because the ranking order is always the ORIGINAL index's freq, every
    * doc ever ranked — corpus or any appended batch — ranks its grams in
    * one global total order, so the prefix/positional lemmas keep holding
    * as the index grows.
    */
  private[graft] def ppjoinBatchSide(index: PrefixIndex, batch: DataFrame,
      idCol: String, textCol: String,
      threshold: Double): (DataFrame, DataFrame, DataFrame) = {
    val (bg, bmembers) = collapseExactFamilies(batch, idCol, textCol)
    val btoks = bg.select(col("id"), size(col("grams")).as("sz"),
      explode(col("grams")).as("gram"))
    // same bounded TopKPerKey ranking as the one-shot prefix build; the
    // exact rank filter below is unchanged, so the batch prefix set is
    // bit-identical to the window form's
    val bprefix = graft.plans.TopKPerKey.topKBounded(
        btoks.join(index.freq, Seq("gram"), "left")
          .withColumn("df0", coalesce(col("df"), lit(0L)))
          .withColumn("kcap", (col("sz") - floor(lit(threshold) * col("sz"))
            + lit(2)).cast("int")),
        Seq("id"), Seq(("df0", true), ("gram", true)), "kcap")
      .withColumn("rn", col("rank").cast("int"))
      .filter((col("sz") - col("rn") + 1) / col("sz") >= threshold)
      .select("id", "sz", "rn", "gram")
      .transform(graft.plans.Lineage.cut)
    (bg, bprefix, bmembers)
  }

  /** The (cross, batch-internal) candidate rep-pair sets of
    * [[ppjoinAgainst]] — boundary-exact candidate predicates: the verify
    * comparison on the overlap upper bound, per
    * [[prefixFilterJaccardPairs]]'s analysis. Exposed `private[graft]` so
    * the index-compaction spec can measure candidate fan-out before/after
    * a re-rank (the pair SET is invariant — exactness — but the candidate
    * volume is what stale prefix ranking inflates).
    */
  private[graft] def ppjoinCandidatePairs(indexPrefix: DataFrame,
      bprefix: DataFrame, threshold: Double): (DataFrame, DataFrame) = {
    val ub = lit(1) +
      least(col("sz_a") - col("rn_a"), col("sz_b") - col("rn_b"))
    def filters(c: DataFrame): DataFrame = c
      .filter(least(col("sz_a"), col("sz_b")) /
          greatest(col("sz_a"), col("sz_b")) >= threshold &&
        ub / (col("sz_a") + col("sz_b") - ub) >= threshold)
      .select("doc_a", "doc_b").distinct()
    def tagged(d: DataFrame, tag: String) = d.select(
      col("id").as(s"doc_$tag"), col("sz").as(s"sz_$tag"),
      col("rn").as(s"rn_$tag"), col("gram"))
    (filters(
        tagged(bprefix, "a").join(tagged(indexPrefix, "b"), Seq("gram"))),
      filters(
        tagged(bprefix, "a").join(tagged(bprefix, "b"), Seq("gram"))
          .filter(col("doc_a") < col("doc_b"))))
  }

  /** Exact-Jaccard verification of candidate rep pairs — shared by the
    * per-doc ([[ppjoinAgainst]]) and family-level
    * ([[ppjoinAgainstFamilyPairs]]) incremental surfaces.
    */
  private def ppjoinVerify(cand: DataFrame, ga: DataFrame, gb: DataFrame,
      threshold: Double): DataFrame = cand
    .join(ga.select(col("id").as("doc_a"), col("grams").as("ga")), Seq("doc_a"))
    .join(gb.select(col("id").as("doc_b"), col("grams").as("gb")), Seq("doc_b"))
    .withColumn("jaccard",
      size(array_intersect(col("ga"), col("gb"))) /
        size(array_union(col("ga"), col("gb"))))
    .filter(col("jaccard") >= threshold)
    .select(col("doc_a"), col("doc_b"), col("jaccard"))

  def ppjoinAgainst(index: PrefixIndex, batch: DataFrame, idCol: String,
      textCol: String, threshold: Double): DataFrame = {
    val (bg, bprefix, bmem) =
      ppjoinBatchSide(index, batch, idCol, textCol, threshold)
    // both sides are FAMILY REPRESENTATIVES ([[collapseExactFamilies]]),
    // so candidates and the array-carrying verify are duplicate-free;
    // [[expandFamilies]] recovers the per-doc pair set at id-row cost.
    val (cross, internal) =
      ppjoinCandidatePairs(index.prefix, bprefix, threshold)
    def verify(cand: DataFrame, ga: DataFrame, gb: DataFrame): DataFrame =
      ppjoinVerify(cand, ga, gb, threshold)
    expandFamilies(verify(cross, bg, index.grams), bmem, index.members)
      .unionByName(
        expandFamilies(verify(internal, bg, bg), bmem, bmem))
      // a doc present in BOTH corpus and batch would cross-pair with
      // itself — drop the degenerate pair, normalize the id order
      .filter(col("ma") =!= col("mb"))
      .select(least(col("ma"), col("mb")).as("doc_a"),
        greatest(col("ma"), col("mb")).as("doc_b"), col("jaccard"))
      // batch-internal exact dups share one rep, invisible to the rep-level
      // candidate join — emitted directly at jaccard exactly 1.0
      .unionByName(familyPairs(bmem))
  }

  /** The family-level output contract for the INCREMENTAL surface — what
    * [[prefixFilterJaccardFamilyPairs]] is to [[prefixFilterJaccardPairs]],
    * applied to the daily-batch path [[ppjoinAgainst]]: one row per
    * verified REP pair instead of the per-doc expansion, which is
    * quadratic in family size by contract (a dirty daily batch whose 10⁵
    * members all match one boilerplate corpus family would expand to 10⁵
    * · n_corpus rows; this form emits ONE). `kind` separates the two pair
    * universes: `cross` rows pair a batch family rep (`doc_a`, size
    * `n_a`) with a CORPUS family rep (`doc_b`, size `n_b` — ids are not
    * order-normalized across universes); `batch` rows pair two batch reps
    * (`doc_a < doc_b`). Within-family jaccard-1.0 mass is counts in the
    * companion batch family table ([[exactFamilySummary]] over the
    * batch), never expanded. Exactness is inherited: candidates come from
    * the same zero-miss prefix filter, and only verified pairs emit.
    */
  def ppjoinAgainstFamilyPairs(index: PrefixIndex, batch: DataFrame,
      idCol: String, textCol: String, threshold: Double): DataFrame = {
    val (bg, bprefix, bmem) =
      ppjoinBatchSide(index, batch, idCol, textCol, threshold)
    val (cross, internal) =
      ppjoinCandidatePairs(index.prefix, bprefix, threshold)
    val bSizes = bmem.groupBy("rep").agg(count(lit(1)).as("n"))
    val iSizes = index.members.groupBy("rep").agg(count(lit(1)).as("n"))
    def sized(pairs: DataFrame, a: DataFrame, b: DataFrame,
        kind: String): DataFrame = pairs
      .join(a.select(col("rep").as("doc_a"), col("n").as("n_a")), Seq("doc_a"))
      .join(b.select(col("rep").as("doc_b"), col("n").as("n_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        col("n_a"), col("n_b"), lit(kind).as("kind"))
    sized(ppjoinVerify(cross, bg, index.grams, threshold), bSizes, iSizes,
        "cross")
      .unionByName(sized(ppjoinVerify(internal, bg, bg, threshold),
        bSizes, bSizes, "batch"))
  }

  /** Exact substring dedup (the character-level "exact substring match"
    * of the training-data dedup literature — Lee et al. 2022 dedup long
    * verbatim runs the token/shingle operators are blind to, e.g. a
    * boilerplate paragraph inside otherwise-unrelated pages): every pair
    * of docs whose NORMALIZED texts share at least one exact `l`-char
    * substring, with `n_shared` = the number of distinct shared `l`-grams.
    * Complete by construction: two texts share an `l`-or-longer run IFF
    * they share an `l`-gram, and stride-1 windows enumerate every `l`-gram.
    *
    * Pipeline order at scale: run [[exactGroups]] collapse FIRST and
    * enumerate only survivors — pair output is quadratic in dup-family
    * size by definition, and collapse makes the quadratic term see only
    * distinct texts (measured at the 100× probe: 600k docs → 8.8 s
    * collapse → 5,992 survivors → 3.4 s substring join; flat in replica
    * count).
    *
    * Shape: per-doc distinct char `l`-grams via the JVM window kernel
    * ([[charGramsUdf]]), then ONE exchange on the gram
    * and in-bucket pair expansion (the [[graft.analytics.Graph]] groupPairs
    * shape) + a pair-count aggregate. This is the one batch form: it joins
    * on the raw gram, so the oracle computes the identical pair set with
    * no hash to mirror, and it shares the [[substringIndex]] layout with
    * [[substringAgainst]] and the streaming operator.
    */
  /** JVM kernel for the distinct char `l`-gram windows of a normalized
    * text (stride 1) — same rationale as [[distinctNgramsUdf]]: Spark's
    * `transform(sequence(...))` higher-order form is interpreted, not
    * codegen'd, and measured 2.0 s just enumerating the sf0.1 windows vs
    * milliseconds for this loop (windows also arrive per-doc-distinct, so
    * no downstream dedup exchange is needed).
    */
  def charGramsUdf(l: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { t: String =>
      if (t == null || t.length < l) Array.empty[String]
      else {
        val seen = new java.util.LinkedHashSet[String]((t.length - l + 1) * 2)
        var i = 0
        while (i + l <= t.length) {
          seen.add(t.substring(i, i + l))
          i += 1
        }
        val out = new Array[String](seen.size)
        seen.toArray(out)
        out
      }
    }

  /** The persistable gram index behind [[substringPairs]] /
    * [[substringAgainst]]: one (id, gram) row per distinct char `l`-gram
    * window per doc. Unlike the PPJoin prefix index there is NO
    * corpus-statistic dependency — grams are a pure per-doc function — so
    * the index extends by simple append and incremental results are exact
    * with no shared-order argument needed.
    */
  def substringIndex(docs: DataFrame, idCol: String, textCol: String,
      l: Int): DataFrame =
    docs.select(col(idCol).cast("long").as("id"),
        TextAnalysis.normalized(col(textCol)).as("t"))
      .select(col("id"), explode(charGramsUdf(l)(col("t"))).as("gram"))

  def substringPairs(docs: DataFrame, idCol: String, textCol: String,
      l: Int): DataFrame = {
    // widen the doc side before the char-gram kernel: a small corpus
    // arrives as a few scan splits and the UDF + checkpoint then run
    // near-serially (0.96 s on 3 tasks at sf0.1); an already-parallel
    // scan is left untouched
    val grams = substringIndex(graft.plans.Parallelism.widen(docs),
        idCol, textCol, l)
      .transform(graft.plans.Lineage.cut)
    val a = grams.select(col("id").as("doc_a"), col("gram"))
    val b = grams.select(col("id").as("doc_b"), col("gram"))
    // shuffle-HASH join: the checkpointed gram table carries no stats, so
    // AQE's default is a sort-merge join that sorts both 40-char-string
    // sides; hashing the build side instead measured 3.1 s -> 2.2 s at sf0.1
    a.hint("SHUFFLE_HASH").join(b, Seq("gram"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
  }

  /** Incremental exact substring dedup: every pair with a shared `l`-char
    * run involving at least one batch doc — batch×index AND
    * batch-internal — without re-pairing the index. Precondition (same as
    * the whole incremental family): batch ids are distinct from index ids,
    * or a batch doc re-ingested under its own id would double-count its
    * pairs (the degenerate self-pair is dropped either way).
    */
  def substringAgainst(index: DataFrame, batch: DataFrame, idCol: String,
      textCol: String, l: Int): DataFrame = {
    val bg = substringIndex(batch, idCol, textCol, l)
      .transform(graft.plans.Lineage.cut)
    val a = bg.select(col("id").as("ia"), col("gram"))
    val cross = a.hint("SHUFFLE_HASH")
      .join(index.select(col("id").as("ib"), col("gram")), Seq("gram"))
    val internal = a.hint("SHUFFLE_HASH")
      .join(bg.select(col("id").as("ib"), col("gram")), Seq("gram"))
      .filter(col("ia") < col("ib"))
    cross.unionByName(internal)
      .filter(col("ia") =!= col("ib"))
      .select(least(col("ia"), col("ib")).as("doc_a"),
        greatest(col("ia"), col("ib")).as("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
  }

  /** Sorted-neighborhood blocking (Hernández/Stolfo's SNM, public record-
    * linkage technique): sort the corpus by a constructed blocking key and
    * take every pair within `windowSize` positions as a candidate — the
    * classic complement to hash blocking (LSH buckets, prefix grams) for
    * typo-heavy keys, where near-identical records sort ADJACENT even
    * when no token or shingle matches exactly. Verification (here the
    * standard exact-Jaccard check) runs only on the O(n·w) candidates.
    *
    * Scale shape: positions come from [[graft.analytics.Ranking
    * .globalRowNumber]] (range repartition + metadata-sized offsets —
    * never a single-partition window), and the within-`w` pairing is an
    * equi-join on the position grid cell `pos div w` (each row joins its
    * own and the next cell; |Δpos| ≤ w implies same-or-adjacent cell),
    * so the candidate stage is O(n·w) rows through one bounded join, no
    * theta join anywhere. Determinism: the sort key is (key, id) — a
    * total order.
    */
  def sortedNeighborhoodPairs(docs: DataFrame, idCol: String,
      keyCol: String, textCol: String, windowSize: Int,
      threshold: Double): DataFrame = {
    // number positions on SLIM (id, key) rows — the range exchange, its
    // boundary sampling, and the numbering checkpoint must not carry the
    // shingle arrays (measured 93 s → seconds at the 10× probe); grams
    // join back on id afterwards. Membership is decided BEFORE numbering:
    // only docs with a non-empty gram list get a position (a null-text
    // doc would otherwise shift every later position and change which
    // pairs fall inside the window — cross-engine divergence vs the
    // oracle, which numbers the same membership set)
    val grams = docs.select(col(idCol).cast("long").as("id"),
        col(keyCol).as("key"),
        distinctNgramsUdf(3)(TextAnalysis.normalized(col(textCol))).as("grams"))
      .filter(size(col("grams")) > 0)
      .transform(graft.plans.Lineage.cut)
    val slim = graft.analytics.Ranking.globalRowNumber(
        grams.select(col("id"), col("key")),
        Seq(col("key"), col("id")))
      .select(col("id"), col("rn").as("pos"))
    val pos = slim.join(grams.select(col("id"), col("grams")), Seq("id"))
      .transform(graft.plans.Lineage.cut)
    def side(tag: String) = pos.select(col("id").as(s"${tag}_id"),
      col("grams").as(s"${tag}_grams"), col("pos").as(s"${tag}_pos"))
    // same-cell pairs plus adjacent-cell pairs cover every |Δpos| ≤ w
    val cells = side("a")
      .withColumn("cell", explode(array(expr(s"a_pos div $windowSize"),
        expr(s"a_pos div $windowSize + 1"))))
      .join(side("b").withColumn("cell", expr(s"b_pos div $windowSize")),
        Seq("cell"))
      .filter(col("b_pos") > col("a_pos") &&
        col("b_pos") - col("a_pos") <= windowSize)
    cells
      .withColumn("jaccard",
        size(array_intersect(col("a_grams"), col("b_grams"))) /
          size(array_union(col("a_grams"), col("b_grams"))))
      .filter(col("jaccard") >= threshold)
      .select(least(col("a_id"), col("b_id")).as("doc_a"),
        greatest(col("a_id"), col("b_id")).as("doc_b"), col("jaccard"))
      .distinct()
  }

  /** JVM Jaccard on two distinct-gram arrays — the same arithmetic as the
    * [[lshVerifiedPairs]] verify step (|a∩b| / (|a|+|b|-|a∩b|)), for join
    * shapes where the pair arrives as two columns instead of a bucket.
    */
  val jaccardUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (ga: Seq[String], gb: Seq[String]) =>
      val seen = new java.util.HashSet[String](ga.length * 2)
      ga.foreach(seen.add)
      var inter = 0
      gb.foreach(g => if (seen.contains(g)) inter += 1)
      inter.toDouble / (ga.length + gb.length - inter)
    }

  /** Incremental near-dedup — the operation a training-data pipeline runs
    * daily: map each NEW doc to a survivor WITHOUT re-pairing the corpus.
    *
    *  1. New docs band-join the corpus index — minhash signatures on both
    *     sides, plain equi-join on (band, signature slice) — and verify
    *     Jaccard; a match maps the new doc to its smallest matching corpus
    *     id. The corpus is never self-paired: cost is
    *     O(bands·(|corpus|+|batch|)) shuffle + O(candidates) verify (a pair
    *     sharing several bands is verified once per shared band and
    *     collapsed by the min — bounded by `bands`, cheaper than a
    *     pre-distinct of the candidate set), with AQE skew-splitting the
    *     join if a band bucket runs hot.
    *  2. Unmatched new docs near-dedup among THEMSELVES via
    *     [[nearDupSurvivors]] (exact-collapse → LSH → components).
    *
    * Greedy assignment semantics (the documented incremental tradeoff,
    * matching the streaming band-claim operator): a new doc that matches
    * the corpus joins that cluster; one that only matches OTHER new docs
    * clusters with them even if those joined the corpus — a full recompute
    * over corpus∪batch would merge such chains. Returns
    * (doc_id, survivor_id) for every batch doc; null-text docs survive as
    * themselves.
    */
  def dedupAgainst(corpus: DataFrame, batch: DataFrame, idCol: String,
      textCol: String, threshold: Double,
      bands: Int = 6, rowsPerBand: Int = 2): DataFrame = {
    requireIntegralId(corpus, idCol)
    dedupAgainstIndex(bandIndex(corpus, idCol, textCol, bands, rowsPerBand),
      batch, idCol, textCol, threshold, bands, rowsPerBand)
  }

  private def bandRowsFor(d: DataFrame, side: String, idCol: String,
      textCol: String, bands: Int, rowsPerBand: Int): DataFrame = {
    val sigsOf = minhashSigsUdf(bands * rowsPerBand)
    d.filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as(s"${side}_id"),
        distinctNgramsUdf(3)(TextAnalysis.normalized(col(textCol)))
          .as(s"${side}_grams"))
      .withColumn("__sigs", sigsOf(col(s"${side}_grams")))
      .select(col(s"${side}_id"), col(s"${side}_grams"),
        explode(array((0 until bands).map(lit): _*)).as("j"), col("__sigs"))
      .select(col(s"${side}_id"), col(s"${side}_grams"), col("j"),
        slice(col("__sigs"), col("j") * rowsPerBand + 1, lit(rowsPerBand)).as("bkey"))
  }

  /** The PERSISTABLE corpus band index [[dedupAgainst]] joins daily batches
    * against: (old_id, old_grams, j, bkey) — one row per (exact-dup
    * representative, band), plain parquet-writable columns. At 100 TB this
    * is the artifact you compute ONCE over the corpus, store next to it,
    * and reload every day — re-deriving shingles + signatures for an
    * unchanged corpus per batch is the dominant incremental cost this
    * removes. The (bands, rowsPerBand) used to build the index are a
    * contract: [[dedupAgainstIndex]] must be called with the same values
    * (bkey slice widths and band ids must line up for the equi-join).
    *
    * Corpus exact-duplicates are collapsed to one representative per
    * normalized-text fingerprint BEFORE banding — the same skew-proofing
    * [[nearDupSurvivors]] applies: at web scale the corpus carries huge
    * exact clusters whose members share every band, so an uncollapsed index
    * multiplies candidate verification by the cluster size. Results are
    * identical: any matched corpus doc's rep matches too (same normalized
    * text ⇒ same grams ⇒ same jaccard), and the rep IS its group's min id,
    * so min-over-reps == min-over-all-matched.
    */
  def bandIndex(corpus: DataFrame, idCol: String, textCol: String,
      bands: Int = 6, rowsPerBand: Int = 2): DataFrame = {
    requireIntegralId(corpus, idCol)
    val corpusReps = corpus
      .filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("__cid"), col(textCol).as("__ctext"),
        md5(TextAnalysis.normalized(col(textCol))).as("__fp"))
      .groupBy("__fp")
      .agg(min("__cid").as(idCol), min_by(col("__ctext"), col("__cid")).as(textCol))
    bandRowsFor(corpusReps, "old", idCol, textCol, bands, rowsPerBand)
  }

  /** [[dedupAgainst]] taking a prebuilt (possibly parquet-reloaded)
    * [[bandIndex]] instead of the raw corpus. (bands, rowsPerBand) must
    * match the values the index was built with.
    */
  def dedupAgainstIndex(index: DataFrame, batch: DataFrame, idCol: String,
      textCol: String, threshold: Double,
      bands: Int = 6, rowsPerBand: Int = 2): DataFrame = {
    requireIntegralId(batch, idCol)
    def bandRows(d: DataFrame, side: String): DataFrame =
      bandRowsFor(d, side, idCol, textCol, bands, rowsPerBand)
    // the batch side collapses the same way: its exact-dup groups share
    // every band too, and two batch docs with identical normalized text
    // have identical match sets, hence the same survivor — so only the
    // batch REPS run the band join and members inherit through the
    // fingerprint fan-out below
    val withFp = batch
      .select(col(idCol).cast("long").as("b_id"), col(textCol).as("b_text"),
        md5(TextAnalysis.normalized(col(textCol))).as("b_fp"))
    val breps = withFp.filter(col("b_fp").isNotNull)
      .groupBy("b_fp")
      .agg(min("b_id").as("rep_id"), min_by(col("b_text"), col("b_id")).as("rep_text"))
      .cache()
    val matchedReps = bandRows(
        breps.select(col("rep_id").as(idCol), col("rep_text").as(textCol)), "new")
      .join(index, Seq("j", "bkey"))
      .withColumn("jac", jaccardUdf(col("new_grams"), col("old_grams")))
      .filter(col("jac") >= threshold)
      .groupBy(col("new_id"))
      .agg(min(col("old_id")).as("survivor_id"))
    // fan rep matches back over the batch fingerprints, and materialize:
    // two consumers (the output union AND the anti-join deciding the
    // batch-internal set), and the eager checkpoint lets the rep cache be
    // released here — it holds one row per MATCHED batch doc, nothing bigger
    val matched = withFp
      .join(breps.select(col("b_fp"), col("rep_id")), Seq("b_fp"))
      .join(matchedReps.select(col("new_id").as("rep_id"), col("survivor_id")),
        Seq("rep_id"))
      .select(col("b_id").as("doc_id"), col("survivor_id"))
      .transform(graft.plans.Lineage.cut)
    breps.unpersist()
    val rest = batch.join(matched,
      batch(idCol).cast("long") === matched("doc_id"), "left_anti")
    matched.unionByName(
      nearDupSurvivors(rest, idCol, textCol, threshold, bands, rowsPerBand))
  }

  /** Largest pair graph labelled on the driver: 10,000 canonical edges,
    * about 160 KB, the ledger's in-hand wave size.
    */
  private[graft] val InHandEdges = 10000

  /** Star rounds before the exact check; a 1000-vertex chain takes ~10. */
  private val StarRounds = 25

  /** Connected components of a pair graph. Like the ledger's
    * [[graft.store.connector.WorkQueueLedger.takeWave]], it takes the
    * canonical edge list (u < v, self-loops dropped, distinct) with ONE
    * bounded collect of at most `InHandEdges` + 1 rows and picks a form:
    *
    *  - in hand (at most `InHandEdges` edges): union-find on the driver,
    *    each union keeping the smaller root, so a root is its component's
    *    minimum; the labels join `vertices` as a local relation. A graph
    *    of a few hundred edges costs the collect, not a job per star step.
    *  - star rounds (over the cap): alternating large-star/small-star
    *    contraction (the MapReduce CC algorithm of Kiveris et al.,
    *    SoCC'14 — public knowledge) reaches a star forest (every vertex
    *    attached to its component minimum) in O(log n) rounds, at most
    *    `StarRounds`, so chain-shaped pair graphs (A≈B≈C≈… tail-perturbed
    *    documents) need no diameter-many rounds.
    *    - large-star: every vertex points its strictly LARGER neighbors at
    *      the minimum of its neighborhood (or itself);
    *    - small-star: every vertex and its smaller neighbors contract onto
    *      their collective minimum.
    *    Loop control is a cheap (count, xor-of-edge-hashes) signature per
    *    round; lineage is cut per round with `localCheckpoint`.
    *
    * Both forms verify the labeling EXACTLY against the input edges —
    * every edge's endpoints share a label and label(x) ≤ x — on the driver
    * in hand, by a distributed join over the cap, so neither a signature
    * collision nor a round overrun can return silently wrong components.
    *
    * Returns (`id`, `component`) where `component` = min vertex id in the
    * component. Vertices = every id in `vertices` (singletons keep their
    * own id), so the output is a total doc → canonical-survivor map.
    */
  def connectedComponents(edges: DataFrame, vertices: DataFrame): DataFrame = {
    // canonical undirected edge list (u < v), self-loops dropped
    val input = edges
      .select(col("doc_a").cast("long").as("a"), col("doc_b").cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
      .distinct()
      // LAZY cut: the bounded collect below is the materializing action,
      // and over the cap the star rounds read the same blocks instead of
      // recomputing the pair graph
      .transform(graft.plans.Lineage.cutLazy)
    val roundLog = graft.plans.RoundLog.timer(edges.sparkSession, "cc")
    val probe = input.limit(InHandEdges + 1).collect()
    if (probe.length > InHandEdges) starComponents(input, vertices, roundLog)
    else {
      graft.plans.Lineage.free(input)
      val labels = inHandLabels(probe.map(r => (r.getLong(0), r.getLong(1))))
      roundLog(0, s"form=in_hand edges=${probe.length}")
      val rows = labels.iterator.map { case (x, c) => Row(x, c) }.toSeq
      labelVertices(vertices, edges.sparkSession.createDataFrame(
        java.util.Arrays.asList(rows: _*), LabelSchema))
    }
  }

  private val LabelSchema = StructType(Seq(
    StructField("u", LongType, nullable = false),
    StructField("mn", LongType, nullable = false)))

  /** Each endpoint of the canonical edges `es` mapped to its component
    * minimum, by union-find on the driver.
    */
  private def inHandLabels(es: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var root = x
      while (parent.getOrElse(root, root) != root) root = parent(root)
      var y = x
      while (y != root) { val up = parent(y); parent(y) = root; y = up }
      root
    }
    es.foreach { case (u, v) =>
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
    }
    val label = es.iterator.flatMap { case (u, v) => Iterator(u, v) }
      .map(x => x -> find(x)).toMap
    // the star rounds' exact check, on the driver over the same edges
    es.foreach { case (u, v) =>
      require(label(u) == label(v) && label(u) <= u,
        s"connectedComponents in-hand labeling inconsistent on edge ($u, $v)")
    }
    label
  }

  /** `vertices` labelled by `nbrMin` (`u`, `mn`): the least of a vertex's
    * own id and its `mn`; a vertex with no row keeps its own id.
    */
  private def labelVertices(vertices: DataFrame, nbrMin: DataFrame): DataFrame = {
    val ids = vertices.select(col("id"))
    ids.join(nbrMin, ids("id").cast("long") === nbrMin("u"), "left")
      .select(ids("id"),
        least(col("id").cast("long"), coalesce(col("mn"), col("id").cast("long")))
          .as("component"))
  }

  /** The star-round form of [[connectedComponents]] over the canonical,
    * lazily cut edge list `input`.
    */
  private def starComponents(input: DataFrame, vertices: DataFrame,
      roundLog: (Int, String) => Unit): DataFrame = {
    def bidir(d: DataFrame): DataFrame =
      d.unionByName(d.select(col("v").as("u"), col("u").as("v")))

    // both steps emit canonical (min, other) pairs: m ≤ u < v for
    // large-star, m < v for small-star, so no re-canonicalization needed.
    // neighborhood minima via a whole-partition WINDOW MIN instead of a
    // groupBy + join back: one exchange per star step instead of two
    // stage waves (agg + join) — iterative rounds are stage-latency-bound
    // (r17 profile: ~10 rounds × 5 exchanges of sub-MB data)
    val wu = org.apache.spark.sql.expressions.Window.partitionBy("u")

    def largeStar(d: DataFrame): DataFrame =
      bidir(d)
        .withColumn("m", least(col("u"), min(col("v")).over(wu)))
        .filter(col("v") > col("u"))
        .select(col("m").as("u"), col("v").as("v"))
      // no distinct here: duplicates ((m,v) reachable from two centers)
      // are harmless to smallStar's min aggregate and are swept by its
      // final distinct — dropping the exchange cut ~20% off each round

    def smallStar(d: DataFrame): DataFrame = {
      val sm = bidir(d).filter(col("v") < col("u"))
        .withColumn("m", min(col("v")).over(wu))
      sm.filter(col("v") =!= col("m"))
        .select(col("m").as("u"), col("v").as("v"))
        // (m, u) per center u — duplicates collapse in the final distinct
        .unionByName(sm.select(col("m").as("u"), col("u").as("v")))
        .distinct()
    }

    def signature(d: DataFrame): (Long, Long) = {
      val r = d.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }

    var e = input
    var sig = signature(e)
    var converged = false
    var iter = 0
    while (!converged && iter < StarRounds) {
      // lazy cut + signature = one action per round (see `input` above)
      val next = smallStar(largeStar(e)).transform(graft.plans.Lineage.cutLazy)
      val nextSig = signature(next)
      roundLog(iter, s"edges=${nextSig._1}")
      // release the superseded round's checkpoint blocks — otherwise every
      // round pins another copy of the edge set for the app lifetime
      if (e ne input) e.unpersist()
      converged = nextSig == sig
      e = next
      sig = nextSig
      iter += 1
    }

    // at the star-forest fixpoint every vertex's min neighbor IS its
    // component minimum (the center's own id for the center itself)
    val labels = labelVertices(vertices, bidir(e).groupBy("u").agg(min("v").as("mn")))

    // a silent wrong answer is worse than an error: verify the labeling
    // exactly against the INPUT edges — label-consistent endpoints on every
    // edge plus label(x) ≤ x forces label = component minimum
    val la = labels.select(col("id").cast("long").as("lid"), col("component").as("ca"))
    val lb = labels.select(col("id").cast("long").as("rid"), col("component").as("cb"))
    val bad = input.join(la, input("u") === la("lid"))
      .join(lb, input("v") === lb("rid"))
      .filter(col("ca") =!= col("cb")).limit(1).count()
    require(bad == 0,
      s"connectedComponents labeling inconsistent after $iter star rounds " +
        s"(at most $StarRounds): star contraction did not reach its fixpoint")
    input.unpersist()
    labels
  }

  /** The operator a pipeline actually wants from near-dedup: every doc
    * mapped to its cluster's canonical survivor (min doc id over the
    * transitive closure of verified near-dup pairs; unique docs survive as
    * themselves).
    *
    * Exact duplicates are collapsed FIRST: one representative per
    * normalized-text fingerprint (the per-fingerprint min id) goes through
    * the LSH kernels, and members fan back out through the fingerprint map
    * afterwards. At web scale exact-dup clusters of 1e5+ docs are routine,
    * and every member shares every band — without the collapse one such
    * cluster lands in ONE LSH bucket as a single-task quadratic (1e10+
    * comparisons). Identical normalized text means identical shingles, so
    * pairing representatives loses nothing: members inherit exactly the
    * pairs (hence the component) of their rep, and the component minimum
    * over reps IS the minimum over all member ids because each rep is its
    * fingerprint group's minimum. Results are identical to pairing the raw
    * corpus (spec- and oracle-asserted); docs with NULL text carry no
    * fingerprint and survive as themselves.
    */
  def nearDupSurvivors(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, bands: Int = 6, rowsPerBand: Int = 2): DataFrame = {
    // fail loud on non-integral ids: the cast below would null them all out
    // and return silent garbage (every doc its own null "survivor")
    requireIntegralId(docs, idCol)
    val withFp = docs.select(col(idCol).cast("long").as("doc_id"),
      col(textCol).as("__text"),
      md5(TextAnalysis.normalized(col(textCol))).as("fp"))
    // the rep table feeds FOUR consumers (LSH band rows, the skew-detect
    // sample, the component vertex set, the final fan-out join) — cache the
    // corpus-wide fingerprint groupBy instead of re-shuffling it each time
    val reps = withFp.filter(col("fp").isNotNull)
      .groupBy("fp")
      .agg(min("doc_id").as("rep_id"),
        min_by(col("__text"), col("doc_id")).as("rep_text"))
      .cache()
    val pairs = lshVerifiedPairs(reps, "rep_id", "rep_text", threshold,
      bands, rowsPerBand)
    val comps = connectedComponents(pairs, reps.select(col("rep_id").as("id")))
      .select(col("id").as("rep_id"), col("component"))
    // materialize the narrow (doc_id, survivor_id) result eagerly so the
    // rep cache can be released HERE: returning a lazy plan over `reps`
    // would force every caller to manage the unpersist, and repeated
    // invocations in a long-lived app (the daily dedupAgainst path) would
    // accumulate cached blocks for the application lifetime
    val out = withFp.join(reps.select(col("fp"), col("rep_id")), Seq("fp"), "left")
      .join(comps, Seq("rep_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("survivor_id"))
      .transform(graft.plans.Lineage.cut)
    reps.unpersist()
    out
  }

  /** The end product of the near-dedup pipeline: the corpus with every
    * near-dup cluster collapsed to its canonical survivor row — what a
    * training-data pipeline feeds downstream. A broadcast-friendly semi
    * join of the full rows against the survivor fixpoints.
    */
  def dedupedCorpus(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, bands: Int = 6, rowsPerBand: Int = 2): DataFrame = {
    val survivors = nearDupSurvivors(docs, idCol, textCol, threshold, bands, rowsPerBand)
      .filter(col("doc_id") === col("survivor_id"))
      .select(col("doc_id"))
    docs.join(survivors,
      docs(idCol).cast("long") === survivors("doc_id"), "left_semi")
  }

  /** Re-elect each cluster's canonical survivor as the member with the
    * HIGHEST score (ties → lowest id) instead of the cluster-minimum id —
    * the "keep the best-quality duplicate" policy an LLM-corpus pipeline
    * wants (the min-id survivor is arbitrary; the highest-quality one
    * preserves the most training value per cluster).
    *
    * `clusters` is a (doc_id, survivor_id) map as produced by
    * [[nearDupSurvivors]] (survivor_id = cluster label); `scored` carries
    * `idCol` + `scoreCol`. Docs whose score is NULL never win the election;
    * a cluster whose members are all score-NULL keeps its min-id label.
    *
    * Scale shape: one groupBy on the cluster label (argmax as a single
    * `max(struct(score, -id))` pass — no per-cluster window) plus one
    * shuffle join mapping members to the elected survivor. Everything is
    * linear in docs; nothing re-touches text.
    */
  def electByScore(clusters: DataFrame, scored: DataFrame, idCol: String,
      scoreCol: String): DataFrame = {
    val sc = scored.select(col(idCol).cast("long").as("doc_id"),
      col(scoreCol).as("__score"))
    val member = clusters.select(col("doc_id"), col("survivor_id"))
      .join(sc, Seq("doc_id"), "left")
    // max over (score, -id) structs = highest score, ties to the LOWEST id;
    // filtering NULL scores keeps them from sorting below every real score
    // in one engine and above it in another
    val best = member.filter(col("__score").isNotNull)
      .groupBy("survivor_id")
      .agg(max(struct(col("__score").as("s"), (-col("doc_id")).as("ni"))).as("b"))
      .select(col("survivor_id"), (-col("b.ni")).as("best_id"))
    member.join(best, Seq("survivor_id"), "left")
      .select(col("doc_id"),
        coalesce(col("best_id"), col("survivor_id")).as("survivor_id"))
  }

  /** [[nearDupSurvivors]] with quality-aware election: cluster via
    * MinHash+LSH+CC exactly as before, then map every doc to its cluster's
    * highest-`scoreCol` member. `docs` must already carry the score column
    * (e.g. `TextAnalysis.withQuality(docs)` → "quality").
    */
  def survivorsByScore(docs: DataFrame, idCol: String, textCol: String,
      scoreCol: String, threshold: Double, bands: Int = 6,
      rowsPerBand: Int = 2): DataFrame =
    electByScore(nearDupSurvivors(docs, idCol, textCol, threshold, bands, rowsPerBand),
      docs, idCol, scoreCol)

  /** [[dedupedCorpus]] under the quality-aware election: keeps each
    * cluster's highest-`scoreCol` row instead of its min-id row. `docs`
    * must carry the score column; the output is the corresponding subset
    * of `docs` rows.
    */
  def dedupedCorpusByScore(docs: DataFrame, idCol: String, textCol: String,
      scoreCol: String, threshold: Double, bands: Int = 6,
      rowsPerBand: Int = 2): DataFrame = {
    val surv = survivorsByScore(docs, idCol, textCol, scoreCol, threshold,
      bands, rowsPerBand)
      .filter(col("doc_id") === col("survivor_id"))
      .select(col("doc_id"))
    docs.join(surv, docs(idCol).cast("long") === surv("doc_id"), "left_semi")
  }

  val HashMod = 2147483647L // 2^31 - 1

  val Simhash48Bits = 48

  /** 48-bit token bit-source: the first 12 hex chars of md5(token) as a
    * big-endian value — portable (DuckDB md5 produces the same lowercase
    * hex) and BIGINT-safe (< 2^48).
    */
  def md5Bits48Jvm(token: String): Long =
    java.lang.Long.parseLong(md5Hex(token).substring(0, 12), 16)

  /** 48-bit SimHash over distinct tokens: per-bit majority vote on md5-bit
    * ±1 contributions. One md5 per token, all 48 votes in a single pass.
    */
  val simhash48Udf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { tokens: Seq[String] =>
      val votes = new Array[Long](Simhash48Bits)
      val in = if (tokens == null) Seq.empty[String] else tokens
      in.foreach { t =>
        val h = md5Bits48Jvm(t)
        var b = 0
        while (b < Simhash48Bits) { votes(b) += ((h >> b) & 1L) * 2 - 1; b += 1 }
      }
      var sh = 0L
      var b = 0
      while (b < Simhash48Bits) { if (votes(b) > 0) sh |= 1L << b; b += 1 }
      sh
    }

  /** The 48-bit scale-path gate form: hamming-band candidates over a hash
    * wide enough that unrelated docs virtually never collide. Pairs are
    * generated BUCKET-LOCALLY (groupByKey on (block, segment, value), like
    * the minhash pipeline): each doc row ships once per segment, pairs and
    * the `Long.bitCount(xor)` verify (≡ the oracle's `bit_count(xor)`)
    * happen inside the bucket, and the first-match-segment rule replaces
    * any global dedup.
    */
  def simhashBandPairs48(
      docs: DataFrame, idCol: String, textCol: String, blockCol: String,
      maxDist: Int,
      bucketCap: Int = DefaultBucketCap,
      skewSampleRate: Double = DefaultSkewSampleRate): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    requireIntegralId(docs, idCol)
    val segs = maxDist + 1
    val bits = Simhash48Bits
    require(segs <= bits, s"maxDist $maxDist leaves no bits per segment")
    val base = bits / segs
    val extra = bits % segs
    val bounds = (0 until segs).map { i =>
      val off = i * base + math.min(i, extra)
      val width = base + (if (i < extra) 1 else 0)
      (i, off, width)
    }.toArray
    val md = maxDist
    def segRows(d: DataFrame): Dataset[(Long, String, Long, Int)] = d
      .filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("id"),
        col(blockCol).cast("string").as("blk"),
        simhash48Udf(array_distinct(split(TextAnalysis.normalized(col(textCol)), " ")))
          .as("sh"))
      .select(col("id"), col("blk"), col("sh"),
        explode(array((0 until segs).map(lit): _*)).as("si"))
      .as[(Long, String, Long, Int)]
    val sampledDocs =
      if (skewSampleRate >= 1.0) docs
      else docs.sample(withReplacement = false, skewSampleRate, seed = 421L)
    cappedBucketPairs[(Long, String, Long, Int), (String, Int, Long), (Long, Long, Long)](
      segRows(docs), segRows(sampledDocs), skewSampleRate,
      t => {
        val (_, off, width) = bounds(t._4)
        (t._2, t._4, (t._3 >> off) & ((1L << width) - 1))
      },
      t => t._1, bucketCap) { (a, b) =>
      val si = a._4
      val sa = a._3
      val sb = b._3
      // first-match-segment: skip if any earlier segment also matches
      var earlier = false
      var p = 0
      while (!earlier && p < si) {
        val (_, off, width) = bounds(p)
        earlier = ((sa >> off) & ((1L << width) - 1)) ==
          ((sb >> off) & ((1L << width) - 1))
        p += 1
      }
      if (earlier) None
      else {
        val h = java.lang.Long.bitCount(sa ^ sb).toLong
        if (h <= md) Some((a._1, b._1, h)) else None
      }
    }
      .toDF("doc_a", "doc_b", "hamming")
  }

  /** Left-fold dot product — the exact fold the DuckDB oracle uses. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** THE ascending left-fold dot kernel — every JVM cosine path funnels
    * through this one definition so the fold order that the DuckDB oracle
    * mirrors can never drift between operators.
    */
  def dotAsc(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { acc = acc + a(i) * b(i); i += 1 }
    acc
  }

  /** JVM fast path for [[dot]]: the SAME ascending left fold (so results
    * are bit-identical to the expression/oracle form), minus the
    * per-element interpreter overhead of HOF expressions.
    */
  val dotUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (a: Seq[Double], b: Seq[Double]) => dotAsc(a.toArray, b.toArray) }

  /** Exact-cosine verification of candidate pairs: a typed mapPartitions
    * over primitive arrays running the SAME ascending left fold as the
    * expression/oracle form (bit-identical doubles), ~20× faster than
    * interpreted HOFs. Input must carry (id_a, id_b, v_a, v_b, nrm_a*nrm_b).
    */
  private def verifyCosine(pairs: DataFrame, threshold: Double): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val thr = threshold
    pairs
      .as[(Long, Long, Array[Double], Array[Double], Double)]
      .mapPartitions { it =>
        it.flatMap { case (ia, ib, va, vb, nn) =>
          val cos = dotAsc(va, vb) / nn
          if (cos >= thr) Iterator.single((ia, ib, cos)) else Iterator.empty
        }
      }
      .toDF("vec_a", "vec_b", "cos")
  }

  /** Embedding cosine near-dup pairs, brute force: O(n²) pair generation —
    * unit-test / small-block tool and the recall oracle for
    * [[lshCosinePairs]], which is the form that scales.
    */
  def cosinePairs(vecs: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    // norms once per row (not per pair)
    val v = vecs.select(col(idCol).cast("long").as("id"),
      col(vecCol).as("v"),
      sqrt(dotUdf(col(vecCol), col(vecCol))).as("nrm")).cache()
    val a = v.alias("a")
    val b = v.alias("b")
    verifyCosine(
      a.join(b, col("a.id") < col("b.id"))
        .select(col("a.id"), col("b.id"), col("a.v"), col("b.v"),
          (col("a.nrm") * col("b.nrm")).as("nn")),
      threshold)
  }

  /** Scale-path embedding near-dup: random-hyperplane LSH bucketing
    * ([[graft.sim.Similarity.lshBucket]]) → shuffle each vector ONCE to its
    * bucket → all-pairs cosine verify locally within the bucket. The cosine
    * twin of [[lshVerifiedPairs]], but with O(n·d) shuffle volume: a bucket
    * equi-join would ship both vectors per candidate PAIR (O(pairs·d) —
    * ~12× more bytes on the 10× probe). Within a bucket the verify is the
    * same ascending-left-fold kernel as [[verifyCosine]]; bucket sizes (and
    * thus the local quadratic term) are controlled by `planes`.
    * Positive scaling preserves every sign pattern, so exact/scaled
    * duplicates are guaranteed co-bucketed; near-dup recall is tuned by
    * `planes` (fewer planes → bigger buckets → higher recall).
    */
  def lshCosinePairs(vecs: DataFrame, idCol: String, vecCol: String,
      threshold: Double, planes: Int, dims: Int,
      bucketCap: Int = DefaultBucketCap,
      skewSampleRate: Double = DefaultSkewSampleRate): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val thr = threshold
    def bucketRows(d: DataFrame): Dataset[(Long, Array[Double], Double, Long)] = d
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).as("v"),
        sqrt(dotUdf(col(vecCol), col(vecCol))).as("nrm"),
        graft.sim.Similarity.lshBucket(col(vecCol), planes, dims).as("bucket"))
      .as[(Long, Array[Double], Double, Long)]
    val sampledVecs =
      if (skewSampleRate >= 1.0) vecs
      else vecs.sample(withReplacement = false, skewSampleRate, seed = 421L)
    cappedBucketPairs[(Long, Array[Double], Double, Long), Long, (Long, Long, Double)](
      bucketRows(vecs), bucketRows(sampledVecs), skewSampleRate,
      t => t._4, t => t._1, bucketCap) { (a, b) =>
      val va = a._2
      val vb = b._2
      var acc = 0.0
      var t = 0
      val n = math.min(va.length, vb.length)
      while (t < n) { acc = acc + va(t) * vb(t); t += 1 }
      val cos = acc / (a._3 * b._3)
      if (cos >= thr) Some((a._1, b._1, cos)) else None
    }
      .toDF("vec_a", "vec_b", "cos")
  }
}
