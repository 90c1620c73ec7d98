package graft.dedup

import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val corpus = DedupSurface.corpus(spark, sf0001).cache()

  test("all-pairs jaccard finds exact copies at 1.0 and near copies above threshold") {
    val pairs = Dedup.jaccardPairs(corpus, "doc_id", "text", "lang", 0.5)
      .select($"doc_a", $"doc_b", $"jaccard")
      .as[(Long, Long, Double)].collect()
    val byPair = pairs.map(p => (p._1, p._2) -> p._3).toMap
    // every 10th doc has an exact copy at +100000
    assert(byPair((0L, 100000L)) === 1.0)
    assert(byPair((10L, 100010L)) === 1.0)
    // every doc ending in 5 has a tail-perturbed near copy at +200000
    assert(byPair.contains((5L, 200005L)))
    assert(byPair((5L, 200005L)) < 1.0 && byPair((5L, 200005L)) >= 0.5)
  }

  test("LSH-verified pipeline is a subset of all-pairs jaccard and catches exact dups") {
    // LSH candidates are not language-blocked, so compare against the
    // unblocked all-pairs ground truth
    val all = Dedup.jaccardPairs(
      corpus.withColumn("blk_all", org.apache.spark.sql.functions.lit("x")),
      "doc_id", "text", "blk_all", 0.5)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.lshVerifiedPairs(corpus, "doc_id", "text", 0.5)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(all))
    // identical docs share every band -> guaranteed candidates
    assert(lsh.contains((0L, 100000L)))
    assert(lsh.contains((40L, 100040L)))
    // LSH recall on the planted near-dups should be high
    val planted = all.filter { case (a, b) => b - a == 200000L }
    val caught = planted.intersect(lsh)
    assert(caught.size.toDouble / planted.size >= 0.8, s"recall ${caught.size}/${planted.size}")
  }

  test("prefix-filter jaccard join is EXACTLY the brute-force pair set") {
    // the property LSH cannot have: zero false negatives at any threshold.
    // Compare against the unblocked all-pairs ground truth on the full
    // sf0.001 corpus at two thresholds.
    import org.apache.spark.sql.functions._
    for (tau <- Seq(0.4, 0.7)) {
      val all = Dedup.jaccardPairs(
        corpus.withColumn("blk_all", lit("x")), "doc_id", "text", "blk_all", tau)
        .select($"doc_a", $"doc_b", $"jaccard")
        .as[(Long, Long, Double)].collect().toSet
      val pp = Dedup.prefixFilterJaccardPairs(corpus, "doc_id", "text", tau)
        .as[(Long, Long, Double)].collect().toSet
      assert(pp === all, s"tau=$tau: ppjoin must equal brute force exactly")
      assert(pp.nonEmpty)
    }
    // and therefore a superset of the LSH-verified pipeline
    val lsh = Dedup.lshVerifiedPairs(corpus, "doc_id", "text", 0.5)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    val pp5 = Dedup.prefixFilterJaccardPairs(corpus, "doc_id", "text", 0.5)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(pp5))
  }

  test("ppjoin under heavy exact-dup multiplicity: pair set exact, family pairs at exactly 1.0") {
    // the collapse-first path's contract: with k-member exact-dup families
    // (the 100× probe's replica shape, where the pre-collapse form spilled
    // ~75 GB), the per-doc pair set is STILL exactly brute force, and every
    // within-family pair carries jaccard == 1.0 bit-exactly
    import org.apache.spark.sql.functions._
    val a = "the quick brown fox jumps over the lazy dog near the river bank"
    val b = "the quick brown fox jumps over the lazy dog near the river edge"
    val c = "columnar storage formats amortize scan cost across wide tables"
    val docs = ((0L until 25L).map(i => (i, a)) ++
      (100L until 125L).map(i => (i, b)) ++
      Seq((200L, c), (201L, c))).toDF("doc_id", "text")
    val tau = 0.7
    val brute = Dedup.jaccardPairs(docs.withColumn("blk", lit("x")),
        "doc_id", "text", "blk", tau)
      .as[(Long, Long, Double)].collect().toSet
    val pp = Dedup.prefixFilterJaccardPairs(docs, "doc_id", "text", tau)
      .as[(Long, Long, Double)].collect().toSet
    assert(pp === brute)
    // 25·24/2 within-A + within-B + cross A×B + the C twin
    assert(pp.size === 300 + 300 + 625 + 1)
    assert(pp.filter(p => p._1 < 25 && p._2 < 25).forall(_._3 == 1.0))
    // incremental form under the same multiplicity: 10 more A copies +
    // a batch-internal fresh twin, against the indexed corpus
    val batch = ((300L until 310L).map(i => (i, a)) ++
      Seq((400L, "an entirely fresh topic unseen anywhere in this corpus"),
        (401L, "an entirely fresh topic unseen anywhere in this corpus")))
      .toDF("doc_id", "text")
    val batchIds = (300L until 310L).toSet ++ Set(400L, 401L)
    val bruteInc = Dedup.jaccardPairs(
        docs.unionByName(batch).withColumn("blk", lit("x")),
        "doc_id", "text", "blk", tau)
      .as[(Long, Long, Double)].collect().toSet
      .filter(p => batchIds(p._1) || batchIds(p._2))
    val inc = Dedup.ppjoinAgainst(
        Dedup.prefixIndex(docs, "doc_id", "text", tau),
        batch, "doc_id", "text", tau)
      .as[(Long, Long, Double)].collect().toSet
    assert(inc === bruteInc)
    // batch A-copies pair with all 25 corpus A's (cross, 1.0), all 25 B's
    // (cross, τ-passing), and each other (family, exactly 1.0)
    assert(inc.count(p => p._3 == 1.0 && batchIds(p._1) && batchIds(p._2))
      === 45 + 1)
  }

  test("family-level contract: rep pairs + family table account for every expanded pair") {
    import org.apache.spark.sql.functions._
    val a = "the quick brown fox jumps over the lazy dog near the river bank"
    val b = "the quick brown fox jumps over the lazy dog near the river edge"
    val c = "columnar storage formats amortize scan cost across wide tables"
    val docs = ((0L until 25L).map(i => (i, a)) ++
      (100L until 125L).map(i => (i, b)) ++
      Seq((200L, c), (201L, c), (300L, "a singleton text unlike all others here"))
      ).toDF("doc_id", "text")
    val tau = 0.7
    val fams = Dedup.exactFamilySummary(docs, "doc_id", "text")
      .as[(Long, Long, String)].collect().toSet
    assert(fams === Set((0L, 25L, "0,1,2"), (100L, 25L, "100,101,102"),
      (200L, 2L, "200,201"), (300L, 1L, "300")))
    val fp = Dedup.prefixFilterJaccardFamilyPairs(docs, "doc_id", "text", tau)
      .as[(Long, Long, Double, Long, Long)].collect().toSet
    // exactly one cross-family rep pair (A×B); C and the singleton clear τ
    // with nothing
    assert(fp.map(p => (p._1, p._2, p._4, p._5)) === Set((0L, 100L, 25L, 25L)))
    assert(fp.forall(p => p._3 >= tau && p._3 < 1.0))
    // accounting: Σ n_a·n_b (cross) + Σ n·(n−1)/2 (within) = expanded rows
    val expanded = Dedup.prefixFilterJaccardPairs(docs, "doc_id", "text", tau)
      .count()
    val cross = fp.toSeq.map(p => p._4 * p._5).sum
    val within = fams.toSeq.map(f => f._2 * (f._2 - 1) / 2).sum
    assert(cross + within === expanded)
  }

  test("sorted-neighborhood pairs: adjacency in sort order, window bound respected") {
    import org.apache.spark.sql.functions._
    // crafted corpus: docs 1/2 share a long prefix (sort adjacent, near-dup),
    // doc 3 identical to 1 but keyed far away via its differing tail; docs
    // 10..30 are filler spreading the sort order
    val docs = (Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "zz unrelated sort position alpha beta gamma delta epsilon zeta eta theta")) ++
      (10L to 30L).map(i => (i, s"filler text block number $i with words " +
        s"${"pad " * (i % 5).toInt}")))
      .toDF("doc_id", "text")
    val got = Dedup.sortedNeighborhoodPairs(docs, "doc_id", "text", "text",
        windowSize = 3, threshold = 0.3)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    // 1 and 2 sort adjacent (shared prefix) and are similar -> found
    assert(got.contains((1L, 2L)))
    // every emitted pair must be within the window in the sort order
    val order = docs.collect().map(r => (r.getString(1), r.getLong(0)))
      .sortBy(identity).map(_._2).zipWithIndex.toMap
    got.foreach { case (a, b) =>
      assert(math.abs(order(a) - order(b)) <= 3,
        s"pair ($a,$b) outside the sort window")
    }
    // windowSize large enough = brute force (every pair in range): with
    // w >= corpus size, SNM degenerates to all-pairs — equality check
    val wide = Dedup.sortedNeighborhoodPairs(docs, "doc_id", "text", "text",
        windowSize = 100, threshold = 0.3)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    val brute = Dedup.jaccardPairs(docs.withColumn("blk", lit("x")),
        "doc_id", "text", "blk", 0.3)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(wide === brute)
  }

  test("substring pairs: exact l-char boundary, shared-run counting, normalization") {
    val l = 10
    val docs = Seq(
      // 1 and 2 share exactly one 10-char run ("abcdefghij"), nothing longer
      (1L, "abcdefghij 111"),
      (2L, "222 abcdefghij"),
      // 3 shares only a 9-char run with 1/2 -> NO pair at l=10
      (3L, "abcdefghi rest entirely different here"),
      // 4 is an exact copy of 1 up to whitespace/case -> normalization folds
      // them to identical text: all 4 of its 10-grams shared with 1
      (4L, "ABCDEFGHIJ   111"),
      (5L, "completely unrelated text body")).toDF("doc_id", "text")
    val pairs = Dedup.substringPairs(docs, "doc_id", "text", l)
      .as[(Long, Long, Long)].collect().map(p => (p._1, p._2) -> p._3).toMap
    // normalized("abcdefghij 111") has 14 chars -> 5 windows; 1 and 4 share all 5
    assert(pairs((1L, 4L)) === 5L)
    // 1-2 and 2-4 share exactly the single full run "abcdefghij"
    assert(pairs((1L, 2L)) === 1L && pairs((2L, 4L)) === 1L)
    // 9-char overlap is below the boundary; unrelated doc pairs with nobody
    assert(!pairs.keySet.exists(k => k._1 == 3L || k._2 == 3L))
    assert(!pairs.keySet.exists(k => k._1 == 5L || k._2 == 5L))
  }

  test("substring pairs find the planted exact and tail-perturbed copies") {
    val pairs = Dedup.substringPairs(corpus, "doc_id", "text",
      DedupSurface.SubstringL)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    // exact copies share every window; tail-perturbed copies share the
    // whole original text as a substring
    assert(pairs.contains((0L, 100000L)) && pairs.contains((10L, 100010L)))
    assert(pairs.contains((5L, 200005L)))
  }

  test("substring pairs ≡ driver brute force on randomized corpora (seeded property)") {
    // reference: per-pair scan of all l-substrings of the normalized text
    def norm(s: String) = s.toLowerCase.replaceAll("\\s+", " ").trim
    def windows(s: String, l: Int): Set[String] =
      if (s.length < l) Set.empty
      else (0 to s.length - l).map(i => s.substring(i, i + l)).toSet
    for (seed <- Seq(7, 23); l <- Seq(8, 15)) {
      val rnd = new scala.util.Random(seed)
      val vocab = Vector("sun", "moon", "star", "rain", "wind", "leaf")
      // shared chunks planted so long verbatim runs occur across docs
      val chunks = Vector.fill(4)(
        Seq.fill(5)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      val docsRaw = (1L to 40L).map { i =>
        val parts = Seq.fill(2 + rnd.nextInt(3))(
          if (rnd.nextBoolean()) chunks(rnd.nextInt(chunks.size))
          else Seq.fill(3)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
        (i, parts.mkString(" "))
      }
      val expected = (for {
        (ia, ta) <- docsRaw; (ib, tb) <- docsRaw if ia < ib
        shared = windows(norm(ta), l).intersect(windows(norm(tb), l))
        if shared.nonEmpty
      } yield (ia, ib, shared.size.toLong)).toSet
      val got = Dedup.substringPairs(docsRaw.toDF("doc_id", "text"),
          "doc_id", "text", l)
        .as[(Long, Long, Long)].collect().toSet
      assert(got === expected, s"seed=$seed l=$l")
    }
  }

  test("prefix-filter losslessness holds on randomized corpora (seeded property)") {
    // brute-force equality across random corpora with controlled overlap
    // structure — small vocab so shared shingles (the candidate-explosion
    // regime) and near-dup pairs both occur naturally
    import org.apache.spark.sql.functions._
    for (seed <- Seq(11, 42, 97); tau <- Seq(0.3, 0.6, 0.85)) {
      val rnd = new scala.util.Random(seed)
      val vocab = Vector("sun", "moon", "star", "rain", "wind", "leaf",
        "rock", "wave", "fire", "snow")
      val docs = (1L to 60L).map { i =>
        val len = 4 + rnd.nextInt(12)
        (i, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }.toDF("doc_id", "text")
      val brute = Dedup.jaccardPairs(docs.withColumn("blk", lit("x")),
          "doc_id", "text", "blk", tau)
        .select($"doc_a", $"doc_b", $"jaccard")
        .as[(Long, Long, Double)].collect().toSet
      val pp = Dedup.prefixFilterJaccardPairs(docs, "doc_id", "text", tau)
        .as[(Long, Long, Double)].collect().toSet
      assert(pp === brute, s"seed=$seed tau=$tau")
    }
  }

  test("prefix filter keeps EXACT-threshold pairs (fp-boundary counterexample)") {
    // the pair the textbook fp bound prunes: a 28-gram doc fully contained
    // in a 35-gram doc has jaccard = 28/35, whose double equals double(0.8)
    // exactly — verify passes — but ceil(fl(0.8/1.8)·63) = 29 > 28 (the
    // true bound is 28, since 0.8/1.8 rounds ABOVE 4/9), so a candidate
    // filter computed that way drops a true pair. The conservative filters
    // (the verify comparison on the overlap bound) must keep it.
    import org.apache.spark.sql.functions._
    val toks = (1 to 37).map(i => f"t$i%02d")
    // 37 distinct tokens -> 35 distinct word-trigrams; the 30-token prefix
    // -> 28 trigrams, all shared: inter=28, union=35
    val big = toks.mkString(" ")
    val small = toks.take(30).mkString(" ")
    val docs = Seq((1L, small), (2L, big)).toDF("doc_id", "text")
    val pp = Dedup.prefixFilterJaccardPairs(docs, "doc_id", "text", 0.8)
      .as[(Long, Long, Double)].collect().toSet
    assert(pp === Set((1L, 2L, 28.0 / 35.0)))
    // same boundary through the incremental path, both directions
    val ixBig = Dedup.prefixIndex(docs.filter($"doc_id" === 2L),
      "doc_id", "text", 0.8)
    val incA = Dedup.ppjoinAgainst(ixBig, docs.filter($"doc_id" === 1L),
        "doc_id", "text", 0.8)
      .as[(Long, Long, Double)].collect().toSet
    assert(incA === Set((1L, 2L, 28.0 / 35.0)))
    val ixSmall = Dedup.prefixIndex(docs.filter($"doc_id" === 1L),
      "doc_id", "text", 0.8)
    val incB = Dedup.ppjoinAgainst(ixSmall, docs.filter($"doc_id" === 2L),
        "doc_id", "text", 0.8)
      .as[(Long, Long, Double)].collect().toSet
    assert(incB === Set((1L, 2L, 28.0 / 35.0)))
    // the τ=0.4 family: 2 grams contained in 5 (4-token doc in a 7-token
    // doc), jaccard = 2/5 exactly; fl(0.4/1.4)·7 ceils to 3 > 2
    val doc7 = toks.take(7).mkString(" ")
    val doc4 = toks.take(4).mkString(" ")
    val docs2 = Seq((1L, doc4), (2L, doc7)).toDF("doc_id", "text")
    val pp2 = Dedup.prefixFilterJaccardPairs(docs2, "doc_id", "text", 0.4)
      .as[(Long, Long, Double)].collect().toSet
    assert(pp2 === Set((1L, 2L, 0.4)))
  }

  test("incremental ppjoin ≡ from-scratch exact join restricted to batch pairs") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, sf0001).select($"doc_id", $"text")
    val batch = DedupSurface.incBatch(spark, sf0001).select($"doc_id", $"text")
    val tau = DedupSurface.PpjoinTau
    val ix = Dedup.prefixIndex(docs, "doc_id", "text", tau)
    val inc = Dedup.ppjoinAgainst(ix, batch, "doc_id", "text", tau)
      .as[(Long, Long, Double)].collect().toSet
    // ground truth: the one-shot exact join over corpus ∪ batch, keeping
    // only pairs that involve a batch doc — the incremental path must
    // reproduce it EXACTLY (this is the claim LSH-incremental can't make)
    val batchIds = batch.select($"doc_id").as[Long].collect().toSet
    val full = Dedup.prefixFilterJaccardPairs(
        docs.unionByName(batch), "doc_id", "text", tau)
      .as[(Long, Long, Double)].collect().toSet
      .filter(p => batchIds(p._1) || batchIds(p._2))
    assert(inc === full)
    assert(inc.nonEmpty)
    // the index survives a parquet round-trip (the daily-batch deployment)
    val dir = java.nio.file.Files.createTempDirectory("graft-ppix").toString
    ix.freq.write.parquet(s"$dir/freq")
    ix.prefix.write.parquet(s"$dir/prefix")
    ix.grams.write.parquet(s"$dir/grams")
    ix.members.write.parquet(s"$dir/members")
    val reloaded = Dedup.PrefixIndex(
      spark.read.parquet(s"$dir/freq"),
      spark.read.parquet(s"$dir/prefix"),
      spark.read.parquet(s"$dir/grams"),
      spark.read.parquet(s"$dir/members"))
    val again = Dedup.ppjoinAgainst(reloaded, batch, "doc_id", "text", tau)
      .as[(Long, Long, Double)].collect().toSet
    assert(again === inc)
  }

  test("incremental family pairs expand to exactly ppjoinAgainst's cross-rep " +
      "pair set, and sizes account for the multiplicities") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, sf0001).select($"doc_id", $"text")
    val batch = DedupSurface.incBatch(spark, sf0001).select($"doc_id", $"text")
    val tau = DedupSurface.PpjoinTau
    val ix = Dedup.prefixIndex(docs, "doc_id", "text", tau)
    val fam = Dedup.ppjoinAgainstFamilyPairs(ix, batch, "doc_id", "text", tau)
      .as[(Long, Long, Double, Long, Long, String)].collect()
    assert(fam.nonEmpty && fam.exists(_._6 == "cross"))
    // every family row stands for n_a·n_b expanded pairs; together with
    // the within-family 1.0 mass they must account for the per-doc surface
    val famMass = fam.map(r => r._4 * r._5).sum
    val bmemSizes = Dedup.exactFamilySummary(batch, "doc_id", "text")
      .select($"n_members").as[Long].collect()
    val withinMass = bmemSizes.map(n => n * (n - 1) / 2).sum
    val perDoc = Dedup.ppjoinAgainst(ix, batch, "doc_id", "text", tau).count()
    assert(famMass + withinMass === perDoc,
      s"family mass $famMass + within $withinMass must equal the expanded $perDoc")
    // rep pairs are verified rep-level matches: re-deriving each kind's
    // pair set from the per-doc surface's rep maps must reproduce it
    val crossReps = fam.filter(_._6 == "cross").map(r => (r._1, r._2)).toSet
    val batchReps = fam.filter(_._6 == "batch").map(r => (r._1, r._2)).toSet
    assert(crossReps.intersect(batchReps).isEmpty)
    assert(fam.forall(r => r._3 >= tau && r._4 >= 1 && r._5 >= 1))
  }

  test("JVM fast paths are bit-identical to the expression forms") {
    import org.apache.spark.sql.functions._
    val sample = corpus.limit(60)
    val grams = array_distinct(Dedup.ngrams($"text", 3))
    val mismatches = sample.select(
        Dedup.bandKeys(grams, 6, 2).as("bk_expr"),
        Dedup.bandKeysUdf(6, 2)(grams).as("bk_udf"),
        grams.as("g_expr"),
        Dedup.distinctNgramsUdf(3)(graft.text.TextAnalysis.normalized($"text")).as("g_udf"))
      .filter($"bk_expr" =!= $"bk_udf" || $"g_expr" =!= $"g_udf")
      .count()
    assert(mismatches === 0)
  }

  test("48-bit banded simhash equals brute-force within-lang pairs and finds exact copies") {
    import org.apache.spark.sql.functions._
    // brute-force ground truth with the same 48-bit hash
    val g = corpus.select($"doc_id".as("id"), $"lang".as("blk"),
      Dedup.simhash48Udf(array_distinct(split(graft.text.TextAnalysis.normalized($"text"), " ")))
        .as("sh"))
    val brute = g.alias("a").join(g.alias("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .withColumn("hamming", bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).cast("long"))
      .filter($"hamming" <= 3)
      .select(col("a.id"), col("b.id"), $"hamming")
      .as[(Long, Long, Long)].collect().toSet
    val banded = Dedup.simhashBandPairs48(corpus, "doc_id", "text", "lang", 3)
      .select($"doc_a", $"doc_b", $"hamming").as[(Long, Long, Long)].collect().toSet
    assert(banded === brute)
    // exact copies have identical hashes -> hamming 0
    assert(banded.contains((0L, 100000L, 0L)))
  }

  test("LSH cosine pairs recall the brute-force near-dups and are a subset of them") {
    val vecs = DedupSurface.vecs(spark, sf0001).cache()
    val brute = Dedup.cosinePairs(vecs, "vec_id", "v", 0.999)
      .select($"vec_a", $"vec_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.lshCosinePairs(vecs, "vec_id", "v", 0.999,
        graft.sim.SimSurface.Planes, graft.sim.SimSurface.Dims)
      .select($"vec_a", $"vec_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(brute))
    // positive scaling preserves sign patterns -> planted scaled copies are
    // guaranteed co-bucketed; recall on the planted set must be 1.0
    val planted = brute.filter { case (a, b) => b - a == 100000L }
    assert(planted.nonEmpty)
    assert(planted.subsetOf(lsh))
    assert(lsh.size.toDouble / brute.size >= 0.8, s"recall ${lsh.size}/${brute.size}")
  }

  test("near-dup survivors: components collapse to the min doc id, singletons survive") {
    val surv = Dedup.nearDupSurvivors(corpus, "doc_id", "text", 0.5)
      .as[(Long, Long)].collect().toMap
    // every corpus doc gets a mapping
    assert(surv.size === corpus.count())
    // exact copies collapse onto the original
    assert(surv(100000L) === 0L)
    assert(surv(100040L) === 40L)
    // tail-perturbed near copies collapse too (jaccard >= 0.5)
    assert(surv(200005L) === 5L)
    // survivors are fixpoints: the canonical id maps to itself
    surv.values.foreach(s => assert(surv(s) === s))
    // components agree with the pair graph: endpoints of every verified
    // pair share a survivor
    val pairs = Dedup.lshVerifiedPairs(corpus, "doc_id", "text", 0.5)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect()
    pairs.foreach { case (a, b) => assert(surv(a) === surv(b), s"pair ($a,$b)") }
  }

  test("dedupedCorpus keeps exactly the canonical survivor of every cluster") {
    val deduped = Dedup.dedupedCorpus(corpus, "doc_id", "text", 0.5)
      .select($"doc_id").as[Long].collect().toSet
    val surv = Dedup.nearDupSurvivors(corpus, "doc_id", "text", 0.5)
      .as[(Long, Long)].collect()
    // output = the distinct survivor set, nothing more, nothing less
    assert(deduped === surv.map(_._2).toSet)
    // planted copies are gone, their originals retained
    assert(deduped.contains(0L) && !deduped.contains(100000L))
    assert(deduped.contains(5L) && !deduped.contains(200005L))
  }

  test("scale-path pair generators plan as equi-joins, never nested-loop/cartesian") {
    val vecs = DedupSurface.vecs(spark, sf0001)
    val famIx = Dedup.prefixIndex(corpus, "doc_id", "text", 0.8)
    for (df <- Seq(
        Dedup.lshCosinePairs(vecs, "vec_id", "v", 0.999, 8, 64),
        Dedup.simhashBandPairs48(corpus, "doc_id", "text", "lang", 3),
        Dedup.lshVerifiedPairs(corpus, "doc_id", "text", 0.5),
        Dedup.ppjoinAgainstFamilyPairs(famIx,
          DedupSurface.incBatch(spark, sf0001), "doc_id", "text", 0.8))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan.linesIterator.take(5).mkString("\n"))
      assert(!plan.contains("CartesianProduct"), plan.linesIterator.take(5).mkString("\n"))
    }
  }

  test("skew cap: sub-split buckets emit exactly the uncapped pair set (all three kernels)") {
    // cap=8 with an exact pre-count forces nearly every bucket through the
    // cell-split path; the pair SET must be identical to the uncapped run
    val vecs = DedupSurface.vecs(spark, sf0001)
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(
      pairsOf(Dedup.lshVerifiedPairs(corpus, "doc_id", "text", 0.5,
        bucketCap = 8, skewSampleRate = 1.0)) ===
        pairsOf(Dedup.lshVerifiedPairs(corpus, "doc_id", "text", 0.5)))
    assert(
      pairsOf(Dedup.simhashBandPairs48(corpus, "doc_id", "text", "lang", 3,
        bucketCap = 8, skewSampleRate = 1.0)) ===
        pairsOf(Dedup.simhashBandPairs48(corpus, "doc_id", "text", "lang", 3)))
    def vpairsOf(df: org.apache.spark.sql.DataFrame) =
      df.select($"vec_a", $"vec_b").as[(Long, Long)].collect().toSet
    assert(
      vpairsOf(Dedup.lshCosinePairs(vecs, "vec_id", "v", 0.999,
        graft.sim.SimSurface.Planes, graft.sim.SimSurface.Dims,
        bucketCap = 8, skewSampleRate = 1.0)) ===
        vpairsOf(Dedup.lshCosinePairs(vecs, "vec_id", "v", 0.999,
          graft.sim.SimSurface.Planes, graft.sim.SimSurface.Dims)))
  }

  test("a 50k-member exact-dup cluster completes via the rep collapse, one survivor") {
    import org.apache.spark.sql.functions._
    // one text duplicated 50k times + a handful of distinct docs: without
    // the exact-collapse every member shares every LSH band and the cluster
    // lands in one bucket as a single-task 1.25e9-comparison quadratic
    val giant = spark.range(0, 50000)
      .select($"id".as("doc_id"),
        lit("the same giant exact duplicate text block repeated endlessly").as("text"))
    val distinctDocs = spark.range(50000, 50005)
      .select($"id".as("doc_id"),
        concat(lit("unique document number "), $"id",
          lit(" with its own words entirely")).as("text"))
    val docs = giant.unionByName(distinctDocs)
    val surv = Dedup.nearDupSurvivors(docs, "doc_id", "text", 0.5)
      .as[(Long, Long)].collect().toMap
    assert(surv.size === 50005)
    // every cluster member collapses onto doc 0
    assert(surv(0L) === 0L && surv(1L) === 0L && surv(49999L) === 0L)
    // the distinct docs survive as themselves
    (50000L until 50005L).foreach(id => assert(surv(id) === id))
  }

  test("connected components converge on a 1000-vertex chain (log-round star contraction)") {
    import org.apache.spark.sql.functions._
    // a chain is the worst case for min-label propagation (diameter rounds);
    // large-star/small-star must close it within the default round budget
    val edges = spark.range(0, 999)
      .select($"id".as("doc_a"), ($"id" + 1).as("doc_b"))
    val vertices = spark.range(0, 1000).select($"id")
    val comps = Dedup.connectedComponents(edges, vertices)
      .as[(Long, Long)].collect()
    assert(comps.length === 1000)
    comps.foreach { case (id, c) => assert(c === 0L, s"vertex $id -> $c") }
    // one edge past the in-hand cap: the same chain shape must close
    // through the star rounds
    val n = Dedup.InHandEdges + 1L
    val long = Dedup.connectedComponents(
        spark.range(0, n).select($"id".as("doc_a"), ($"id" + 1).as("doc_b")),
        spark.range(0, n + 1).select($"id"))
      .as[(Long, Long)].collect()
    assert(long.length === n + 1)
    long.foreach { case (id, c) => assert(c === 0L, s"vertex $id -> $c") }
  }

  test("a pair graph within the cap is labelled in hand in at most 4 Spark jobs") {
    // duplicate, reversed and self-loop pairs; vertex 99 is in no edge
    val pairs = Seq((7L, 3L), (3L, 7L), (3L, 7L), (5L, 5L), (9L, 7L),
      (12L, 11L), (11L, 10L), (20L, 20L), (2L, 9L))
    val vertices = (Seq(2L, 3L, 5L, 7L, 9L, 10L, 11L, 12L, 20L, 99L)).toDF("id")
    // driver oracle: smallest vertex reachable over the pairs
    def oracle(x: Long): Long = {
      var seen = Set(x)
      var frontier = Set(x)
      while (frontier.nonEmpty) {
        frontier = pairs.flatMap { case (a, b) =>
          if (frontier(a)) Seq(b) else if (frontier(b)) Seq(a) else Nil
        }.toSet -- seen
        seen ++= frontier
      }
      seen.min
    }
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(
            _.getProperty("spark.jobGroup.id") == "cc-budget"))
          jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val got = try {
      sc.setJobGroup("cc-budget", "one in-hand connectedComponents call")
      try Dedup.connectedComponents(pairs.toDF("doc_a", "doc_b"), vertices)
        .as[(Long, Long)].collect().toMap
      finally sc.clearJobGroup()
    } finally {
      // listener delivery is async: wait until the count is stable
      var (prev, spins) = (-1, 0)
      while (jobs.get != prev && spins < 50) {
        prev = jobs.get; Thread.sleep(100); spins += 1
      }
      sc.removeSparkListener(listener)
    }
    assert(got === vertices.as[Long].collect().map(x => x -> oracle(x)).toMap)
    assert(got(99L) === 99L && got(5L) === 5L && got(20L) === 20L)
    assert(jobs.get >= 1 && jobs.get <= 4,
      s"${jobs.get} Spark jobs for the call and its collect")
  }

  test("incremental dedupAgainst: corpus matches, batch-internal clusters, no corpus re-pairing") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, sf0001)
      .select($"doc_id", $"text", $"lang")
    val batch = DedupSurface.incBatch(spark, sf0001)
    val out = Dedup.dedupAgainst(docs, batch, "doc_id", "text", 0.5)
      .as[(Long, Long)].collect().toMap
    // one mapping per batch doc
    assert(out.size === batch.count())
    // exact copies and near copies land on their corpus originals
    assert(out(100000L) === 0L)
    assert(out(200005L) === 5L)
    // fresh docs are corpus-unmatched: the +500000 exact dup collapses onto
    // its +400000 twin, which survives as itself
    assert(out(400000L) === 400000L)
    assert(out(500000L) === 400000L)
    assert(out(400007L) === 400007L)
    assert(out(500007L) === 400007L)
    // corpus docs never appear as batch rows (the corpus is not re-paired)
    assert(out.keys.forall(_ >= 100000L))
  }

  test("bandIndex round-trips through parquet and dedupAgainstIndex matches dedupAgainst") {
    val docs = graft.Tables.documents(spark, sf0001)
      .select($"doc_id", $"text", $"lang")
    val batch = DedupSurface.incBatch(spark, sf0001)
    val direct = Dedup.dedupAgainst(docs, batch, "doc_id", "text", 0.5)
      .as[(Long, Long)].collect().toMap

    val dir = java.nio.file.Files.createTempDirectory("graft-bandidx").toString
    Dedup.bandIndex(docs, "doc_id", "text").write.parquet(s"$dir/index")
    val loaded = spark.read.parquet(s"$dir/index")
    // the persisted artifact is plain columns: (rep id, grams, band, key)
    assert(loaded.columns.toSet === Set("old_id", "old_grams", "j", "bkey"))
    val viaIndex = Dedup.dedupAgainstIndex(loaded, batch, "doc_id", "text", 0.5)
      .as[(Long, Long)].collect().toMap
    assert(viaIndex === direct,
      "a reloaded index must reproduce the from-scratch incremental result")
  }

  test("containment catches an embedded excerpt that Jaccard verification rejects") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val excerpt = (1 to 26).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, base),
      (2L, excerpt),                       // fully contained in doc 1
      (3L, base),                          // exact copy of doc 1
      (4L, "completely different words that share nothing at all here"))
      .toDF("doc_id", "text")
    val contained = Dedup.containmentPairs(docs, "doc_id", "text", 0.9)
      .select($"doc_a", $"doc_b", $"containment_a", $"containment_b")
      .as[(Long, Long, Double, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    // the excerpt pair: every excerpt shingle is in the base doc
    assert(contained.contains((1L, 2L)), s"excerpt pair missing: $contained")
    assert(contained((1L, 2L))._2 === 1.0, "excerpt fully contained in base")
    assert(contained((1L, 2L))._1 < 0.9, "base is NOT contained in excerpt")
    // the exact copy: contained both ways
    assert(contained((1L, 3L)) === ((1.0, 1.0)))
    // Jaccard at the same bar rejects the excerpt pair (24/38 ≈ 0.63)
    val jac = Dedup.lshVerifiedPairs(docs, "doc_id", "text", 0.9)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(!jac.contains((1L, 2L)), "Jaccard should reject the excerpt pair")
    assert(jac.contains((1L, 3L)))
    assert(!contained.keySet.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("electByScore keeps the highest-score member, ties to the lowest id") {
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L),
      (20L, 20L)).toDF("doc_id", "survivor_id")
    val scores = Seq((1L, 0.2), (2L, 0.9), (3L, 0.9), (10L, 0.5), (11L, 0.5),
      (20L, 0.1)).toDF("doc_id", "q")
    val out = Dedup.electByScore(clusters, scores, "doc_id", "q")
      .as[(Long, Long)].collect().toMap
    // cluster {1,2,3}: 2 and 3 tie at 0.9 -> 2 wins (lowest id among max)
    assert(out(1L) === 2L && out(2L) === 2L && out(3L) === 2L)
    // cluster {10,11}: tie at 0.5 -> 10
    assert(out(10L) === 10L && out(11L) === 10L)
    assert(out(20L) === 20L) // singleton keeps itself
  }

  test("electByScore: NULL scores never win; all-NULL clusters keep the min-id label") {
    val clusters = Seq((1L, 1L), (2L, 1L), (5L, 5L), (6L, 5L))
      .toDF("doc_id", "survivor_id")
    // doc 1 (lower id) has NULL score; doc 2 is scored -> 2 must win
    val scores = Seq((1L, Option.empty[Double]), (2L, Some(0.1)),
      (5L, None), (6L, None)).toDF("doc_id", "q")
    val out = Dedup.electByScore(clusters, scores, "doc_id", "q")
      .as[(Long, Long)].collect().toMap
    assert(out(1L) === 2L && out(2L) === 2L)
    assert(out(5L) === 5L && out(6L) === 5L) // all-NULL -> min-id label kept
  }

  test("survivorsByScore elects within the same clusters and maximizes quality") {
    val scored = graft.text.TextAnalysis.withQuality(corpus)
    val base = Dedup.nearDupSurvivors(corpus, "doc_id", "text", 0.5)
      .withColumnRenamed("survivor_id", "lab")
    val out = Dedup.survivorsByScore(scored, "doc_id", "text", "quality", 0.5)
    // the elected survivor lives in the SAME cluster as the doc it replaces
    val withLabs = out.join(base, "doc_id")
      .join(base.select($"doc_id".as("survivor_id"), $"lab".as("surv_lab")),
        "survivor_id")
    assert(withLabs.filter($"lab" =!= $"surv_lab").count() === 0)
    // no member outscores its cluster's elected survivor
    val q = scored.select($"doc_id", $"quality")
    val beaten = out.join(q, "doc_id")
      .join(q.select($"doc_id".as("survivor_id"), $"quality".as("surv_q")),
        "survivor_id")
      .filter($"quality" > $"surv_q")
    assert(beaten.count() === 0)
    // exact copies tie on quality -> the lower id of the pair is elected
    val byDoc = out.as[(Long, Long)].collect().toMap
    assert(byDoc(100000L) === byDoc(0L))
    assert(byDoc(0L) <= 100000L)
  }
}
