package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.dedup.Dedup

class CosineSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def vecsOf(s: org.apache.spark.sql.SparkSession) =
    graft.Tables.embeddings(s, sf0001)
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("v"))
      .limit(50)

  private lazy val vecs = vecsOf(spark).cache()

  test("native expression is bit-identical to the HOF expression and the UDF fold") {
    val pairs = vecs.alias("a").join(vecs.alias("b"), $"a.vec_id" < $"b.vec_id")
      .select(
        CosineSimilarity.cosineSim($"a.v", $"b.v").as("native"),
        Dedup.cosine($"a.v", $"b.v").as("hof"),
        (Dedup.dotUdf($"a.v", $"b.v") /
          (sqrt(Dedup.dotUdf($"a.v", $"a.v")) * sqrt(Dedup.dotUdf($"b.v", $"b.v"))))
          .as("viaUdf"))
      .as[(Double, Double, Double)].collect()
    assert(pairs.nonEmpty)
    pairs.foreach { case (n, h, u) =>
      assert(n === h) // exact, not approximate
      assert(n === u)
    }
  }

  test("registers as a SQL function with codegen (no CodegenFallback)") {
    // the SQL function comes from the GraftExtensions every main installs
    graft.SparkSpec.withEntrySession { extended =>
      vecsOf(extended).cache().createOrReplaceTempView("vecs50")
      val viaSql = extended.sql(
        """SELECT a.vec_id, b.vec_id, cosine_sim(a.v, b.v) AS c
          |FROM vecs50 a JOIN vecs50 b ON a.vec_id < b.vec_id""".stripMargin)
      assert(viaSql.collect().length === 50 * 49 / 2)
      // expression participates in whole-stage codegen (doGenCode, not
      // fallback); inspect the AQE final plan, which exists only post-execution
      val plan = viaSql.queryExecution.executedPlan.toString
      // AQE renders codegen stages as "*(n)" prefixes; the expression must sit
      // inside one (i.e. the Project line carrying cosinesimilarity is starred)
      val exprLine = plan.linesIterator.find(_.contains("cosinesimilarity")).getOrElse("")
      assert(exprLine.contains("*("), plan.take(400))
    }
  }

  test("rejects wrong input types at analysis") {
    val err = intercept[Exception] {
      vecs.select(CosineSimilarity.cosineSim($"vec_id", $"v")).collect()
    }
    assert(err.getMessage.toLowerCase.contains("cosine_sim") ||
      err.getMessage.toLowerCase.contains("data type"))
  }
}
