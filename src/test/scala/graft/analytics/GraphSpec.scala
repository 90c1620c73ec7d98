package graft.analytics

import graft.SparkSpec

class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def edgeDf(es: Seq[(Long, Long)]) =
    es.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct.toDF("src", "dst")

  private def naiveTriangles(es: Seq[(Long, Long)]): Long = {
    val set = es.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    val nodes = set.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    (for {
      a <- nodes; b <- nodes if a < b && set((a, b))
      c <- nodes if b < c && set((b, c)) && set((a, c))
    } yield 1).size.toLong
  }

  test("triangle count matches brute force on known graphs") {
    // K4 has 4 triangles; plus a pendant edge and an isolated edge
    val k4 = for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b)
    val es = k4 ++ Seq((4L, 9L), (20L, 21L))
    val got = Graph.triangleCount(edgeDf(es)).as[Long].head()
    assert(got === 4L)
    assert(got === naiveTriangles(es))
  }

  test("degree-ordered count agrees with brute force on a random graph") {
    val rnd = new scala.util.Random(7)
    val es = Seq.fill(300)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (a, b) => a != b }.distinct
    val got = Graph.triangleCount(edgeDf(es)).as[Long].head()
    assert(got === naiveTriangles(es))
  }

  test("hub nodes generate no wedges from themselves (star graph = 0 triangles)") {
    // star: hub 0 connected to 1..50 — zero triangles, and the oriented
    // adjacency must not square the hub
    val es = (1L to 50L).map(i => (0L, i))
    val got = Graph.triangleCount(edgeDf(es)).as[Long].head()
    assert(got === 0L)
  }

  test("pageRank keeps a regular graph exactly uniform") {
    // cycle: every node outdeg 2, contribution pr/2 twice → pr stays 1.0
    // bit-exactly (quantization of 0.5e9 is lossless)
    val n = 12L
    val cycle = (0L until n).map(i => (i, (i + 1) % n))
    val pr = Graph.pageRank(edgeDf(cycle)).as[(Long, Double)].collect().toMap
    assert(pr.size === n.toInt)
    assert(pr.values.forall(_ === 1.0))
  }

  test("pageRank ranks the hub of a star highest and is partition-invariant") {
    val es = (1L to 30L).map(i => (0L, i))
    val one = Graph.pageRank(edgeDf(es).coalesce(1))
      .as[(Long, Double)].collect().toMap
    val many = Graph.pageRank(edgeDf(es).repartition(13))
      .as[(Long, Double)].collect().toMap
    assert(one === many, "quantized contributions must be partition-order-free")
    val hub = one(0L)
    assert((1L to 30L).forall(i => one(i) < hub))
    // total mass is preserved up to quantization loss (each contribution
    // floors away < 1e-9)
    assert(math.abs(one.values.sum - 31.0) < 1e-3)
  }

  test("coOccurrenceEdges builds distinct ordered pairs per group") {
    val df = Seq((1L, 10L), (1L, 20L), (1L, 10L), (1L, 30L), (2L, 10L),
      (2L, 20L)).toDF("k", "item")
    val es = Graph.coOccurrenceEdges(df, "k", "item")
      .as[(Long, Long)].collect().toSet
    assert(es === Set((10L, 20L), (10L, 30L), (20L, 30L)))
  }

  test("a group past the pair-expansion bound fails with the contract error, not a crash") {
    // 65,537 items in one group: the pair count (2,147,516,416) exceeds
    // Int.MaxValue — before the Long-math guard this overflowed negative and
    // died as NegativeArraySizeException deep in a task; now it must surface
    // the bounded-groups contract by name
    val big = spark.range(65537L)
      .select(org.apache.spark.sql.functions.lit(1L).as("k"), $"id".as("item"))
    val e = intercept[Exception] {
      Graph.coOccurrenceEdges(big, "k", "item").count()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(c =>
      Option(c.getMessage).exists(_.contains("bounded-groups contract"))),
      s"unexpected failure: $e")
  }

  test("frequentCoEdges keeps only pairs with distinct-group support >= s") {
    // pair (10,20) in groups 1,2; (10,30) only in group 1 (twice via dup
    // rows, which must NOT count as support 2)
    val df = Seq((1L, 10L), (1L, 20L), (1L, 30L), (1L, 30L),
      (2L, 10L), (2L, 20L)).toDF("k", "item")
    val es = Graph.frequentCoEdges(df, "k", "item", 2L)
      .as[(Long, Long)].collect().toSet
    assert(es === Set((10L, 20L)))
  }

  test("components labels every vertex with its component minimum") {
    // two components {1,2,3,4} (a chain) and {10,11}; chain exercises
    // multi-round contraction
    val es = edgeDf(Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)))
    val got = Graph.components(es).as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("components matches a union-find fixpoint on a random graph") {
    val rnd = new scala.util.Random(11)
    val es = Seq.fill(120)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }.distinct
    // driver-side union-find reference
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = parent.keys.map(x => x -> find(x)).toMap
    val got = Graph.components(edgeDf(es)).as[(Long, Long)].collect().toMap
    assert(got === want)
    // a random graph above the in-hand cap goes through the star rounds
    val big = Seq.fill(graft.dedup.Dedup.InHandEdges + 2000)(
        (rnd.nextInt(30000).toLong, rnd.nextInt(30000).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    assert(big.size > graft.dedup.Dedup.InHandEdges)
    parent.clear()
    big.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val wantBig = parent.keys.map(x => x -> find(x)).toMap
    assert(Graph.components(edgeDf(big)).as[(Long, Long)].collect().toMap === wantBig)
  }

  test("kCore peels cascades: pendant chain unravels, cycle survives intact") {
    // triangle 1-2-3 with a pendant path 3-4-5-6: for k=2 the path peels
    // one node per round (6, then 5, then 4) — a genuine cascade — and the
    // triangle remains with every degree exactly 2
    val es = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    val core = Graph.kCore(edgeDf(es), 2).as[(Long, Long)].collect().toMap
    assert(core === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // k=3 empties it
    assert(Graph.kCore(edgeDf(es), 3).count() === 0L)
  }

  test("bfsLevels: exact hop counts, unreachable absent, early stop ≡ over-unroll") {
    // path 1-2-3-4 plus a detached pair 9-10; source = {1}
    val es = Seq((1L, 2L), (2L, 3L), (3L, 4L), (9L, 10L))
    val srcs = Seq(1L).toDF("id")
    val got = Graph.bfsLevels(edgeDf(es), srcs)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
    // a shortcut edge wins: min-hops, not path order
    val es2 = es :+ (1L, 4L)
    val got2 = Graph.bfsLevels(edgeDf(es2), srcs)
      .as[(Long, Long)].collect().toMap
    assert(got2(4L) === 1L && got2(3L) === 2L)
    // bounded rounds cut the expansion; past-exhaustion rounds are no-ops
    assert(Graph.bfsLevels(edgeDf(es), srcs, maxRounds = 2)
      .as[(Long, Long)].collect().toMap ===
      Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
    assert(Graph.bfsLevels(edgeDf(es), srcs, maxRounds = 30)
      .as[(Long, Long)].collect().toMap === got)
  }

  test("kCore early-stop result equals a deliberately over-unrolled run") {
    val edges = Graph.frequentCoEdges(
      graft.Tables.lineitem(spark, sf0001), "l_orderkey", "l_partkey", 2L)
    val a = Graph.kCore(edges, Graph.KcoreK, maxRounds = Graph.KcoreRounds)
      .as[(Long, Long)].collect().toSet
    val b = Graph.kCore(edges, Graph.KcoreK, maxRounds = 30)
      .as[(Long, Long)].collect().toSet
    assert(a === b)
  }
  test("incremental substrate: merge(day1, delta(day2)) == full rebuild when groups arrive whole") {
    import graft.Tables
    import org.apache.spark.sql.functions._
    val li = Tables.lineitem(spark, sf0001)
    // split by ORDER (groups stay whole per drop — the operator contract)
    val day1 = li.filter($"l_orderkey" % 2 === 0)
    val day2 = li.filter($"l_orderkey" % 2 === 1)
    val full = Graph.substrateDelta(li, "l_orderkey", "l_partkey")
      .as[(Long, Long, Long)].collect().toSet
    val merged = Graph.mergeSubstrate(
        Graph.substrateDelta(day1, "l_orderkey", "l_partkey"),
        Graph.substrateDelta(day2, "l_orderkey", "l_partkey"))
      .as[(Long, Long, Long)].collect().toSet
    assert(merged === full)
    assert(full.nonEmpty)
    // associativity: folding a third split in any order agrees
    val d2a = li.filter($"l_orderkey" % 4 === 1)
    val d2b = li.filter($"l_orderkey" % 4 === 3)
    val merged3 = Graph.mergeSubstrate(
        Graph.substrateDelta(d2b, "l_orderkey", "l_partkey"),
        Graph.substrateDelta(day1, "l_orderkey", "l_partkey"),
        Graph.substrateDelta(d2a, "l_orderkey", "l_partkey"))
      .as[(Long, Long, Long)].collect().toSet
    assert(merged3 === full)
  }

}
