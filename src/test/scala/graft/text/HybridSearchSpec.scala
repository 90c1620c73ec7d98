package graft.text

import org.apache.spark.sql.functions._

import graft.SparkSpec

class HybridSearchSpec extends SparkSpec {
  import spark.implicits._

  private def q(rank: Long): Long =
    math.floor(HybridSearch.RrfGrid /
      (HybridSearch.RrfK0.toDouble + rank.toDouble)).toLong

  test("fuseRrf matches hand-computed RRF on a tiny case") {
    val lex = Seq((1L, 1L), (2L, 2L)).toDF("doc_id", "rank")
    val vec = Seq((2L, 1L), (3L, 2L)).toDF("doc_id", "rank")
    val got = HybridSearch.fuseRrf(lex, vec, 10)
      .select("rank", "doc_id", "rrf_q").as[(Long, Long, Long)]
      .collect().toSeq
    // doc 2 is in both lists (ranks 2 and 1); docs 1 and 3 in one each
    val expected = Seq(
      (1L, 2L, q(2) + q(1)),
      (2L, 1L, q(1)),
      (3L, 3L, q(2)))
    assert(got === expected)
  }

  test("absent docs contribute zero, ties break by doc_id") {
    // same single-system rank → same score → doc_id ascending
    val lex = Seq((7L, 3L)).toDF("doc_id", "rank")
    val vec = Seq((5L, 3L)).toDF("doc_id", "rank")
    val got = HybridSearch.fuseRrf(lex, vec, 10)
      .select("rank", "doc_id", "rrf_q").as[(Long, Long, Long)]
      .collect().toSeq
    assert(got === Seq((1L, 5L, q(3)), (2L, 7L, q(3))))
  }

  test("hybrid gate returns a full ranked page with both modalities present") {
    val fn = HybridSearch.queries("txt_hybrid_rrf")
    val rows = fn(spark, sf0001)
      .select("rank", "doc_id", "rrf_q", "r_lex", "r_vec").collect()
    assert(rows.length === HybridSearch.GateK)
    assert(rows.map(_.getLong(0)).toSeq === (1L to HybridSearch.GateK).toSeq)
    assert(rows.map(_.getLong(1)).distinct.length === rows.length)
    // fused scores are non-increasing and each doc carries at least one rank
    val scores = rows.map(_.getLong(2))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    assert(rows.forall(r => !r.isNullAt(3) || !r.isNullAt(4)))
    // both systems must actually reach the fused page for the gate to be
    // a real hybrid (not one system padded with absences)
    assert(rows.exists(r => !r.isNullAt(3)) && rows.exists(r => !r.isNullAt(4)))
  }
}
