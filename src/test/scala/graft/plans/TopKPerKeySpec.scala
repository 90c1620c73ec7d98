package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpec

class TopKPerKeySpec extends SparkSpec {
  import spark.implicits._

  private lazy val scored = graft.Tables.lineitem(spark, sf0001)
    .select($"l_orderkey", $"l_partkey", $"l_linenumber",
      ($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("score"))
    .cache()

  private def windowForm(k: Int) = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"l_orderkey")
      .orderBy($"score".desc, $"l_partkey", $"l_linenumber")
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= k)
  }

  private def opForm(k: Int) =
    TopKPerKey.topK(scored, Seq("l_orderkey"),
      Seq(("score", false), ("l_partkey", true), ("l_linenumber", true)), k)

  test("operator results are identical to the window row_number form") {
    for (k <- Seq(1, 2, 5)) {
      val expected = windowForm(k)
        .select($"l_orderkey", $"l_partkey", $"l_linenumber", $"rank")
        .as[(Long, Long, Long, Long)].collect().toSet
      val got = opForm(k)
        .select($"l_orderkey", $"l_partkey", $"l_linenumber", $"rank")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got === expected, s"k=$k")
      assert(got.nonEmpty)
    }
  }

  test("k larger than every group ranks whole groups") {
    val got = opForm(1000).groupBy($"l_orderkey").count()
    val groups = scored.groupBy($"l_orderkey").count()
    assert(got.as[(Long, Long)].collect().toMap === groups.as[(Long, Long)].collect().toMap)
  }

  test("plans as partial heaps below the exchange, final merge above (partial-agg shape)") {
    val plan = opForm(3).queryExecution.executedPlan.toString
    val iFinal = plan.indexOf("TopKPerKeyFinal")
    val iExchange = plan.indexOf("Exchange hashpartitioning")
    val iPartial = plan.indexOf("TopKPerKeyPartial")
    assert(iFinal >= 0 && iExchange >= 0 && iPartial >= 0, plan.take(800))
    assert(iFinal < iExchange && iExchange < iPartial,
      s"final@$iFinal exchange@$iExchange partial@$iPartial\n${plan.take(800)}")
    // no per-group sort anywhere in the operator's plan
    assert(!plan.contains("Sort "), plan.take(800))
  }

  test("optimizer rule rewrites row_number()<=k window plans onto the operator") {
    graft.SparkSpec.withEntrySession { extended =>
      val rows = extended.read.parquet(s"$sf0001/lineitem.parquet")
        .select($"l_orderkey", $"l_partkey",
          ($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("score"))
      rows.createOrReplaceTempView("scored_li")
      val q = extended.sql(
        """SELECT l_orderkey, l_partkey, rnk FROM (
          |  SELECT l_orderkey, l_partkey,
          |    ROW_NUMBER() OVER (PARTITION BY l_orderkey
          |      ORDER BY score DESC, l_partkey) AS rnk
          |  FROM scored_li)
          |WHERE rnk <= 2""".stripMargin)
      assert(q.queryExecution.optimizedPlan.toString.contains("TopKPerKeyNode"),
        q.queryExecution.optimizedPlan.toString.take(500))
      assert(q.queryExecution.executedPlan.toString.contains("TopKPerKeyFinal"))
      // and the rewrite preserves results vs the un-extended session
      val got = q.as[(Long, Long, Int)].collect().toSet
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"l_orderkey").orderBy($"score".desc, $"l_partkey")
      val expected = scored
        .select($"l_orderkey", $"l_partkey", $"score")
        .withColumn("rnk", row_number().over(w))
        .filter($"rnk" <= 2)
        .select($"l_orderkey", $"l_partkey", $"rnk".cast("int"))
        .as[(Long, Long, Int)].collect().toSet
      assert(got === expected)
      assert(got.nonEmpty)
    }
  }

  test("variable-k (topKBounded): per-key capacity column bounds each group " +
      "exactly like a per-group row_number rank filter") {
    // per-key k = (l_orderkey % 3) + 1 — constant within a key, varying
    // across keys (the PPJoin prefix shape: k is a function of the doc)
    val withCap = scored.withColumn("kcap",
      (($"l_orderkey" % 3) + 1).cast("int"))
    val got = TopKPerKey.topKBounded(withCap, Seq("l_orderkey"),
        Seq(("score", false), ("l_partkey", true), ("l_linenumber", true)),
        "kcap")
      .filter($"rank" <= $"kcap")
      .select($"l_orderkey", $"l_partkey", $"l_linenumber", $"rank")
      .as[(Long, Long, Long, Long)].collect().toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"l_orderkey")
      .orderBy($"score".desc, $"l_partkey", $"l_linenumber")
    val expected = withCap
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= $"kcap")
      .select($"l_orderkey", $"l_partkey", $"l_linenumber", $"rank")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got === expected)
    assert(got.nonEmpty)
    // over-capacity emission is impossible: no rank beyond the key's cap
    val overCap = TopKPerKey.topKBounded(withCap, Seq("l_orderkey"),
        Seq(("score", false), ("l_partkey", true), ("l_linenumber", true)),
        "kcap")
      .filter($"rank" > $"kcap").count()
    assert(overCap === 0L)
  }

  private def boundedWith(cap: org.apache.spark.sql.Column) =
    TopKPerKey.topKBounded(scored.withColumn("kcap", cap.cast("int")),
      Seq("l_orderkey"),
      Seq(("score", false), ("l_partkey", true), ("l_linenumber", true)),
      "kcap")

  /** The messages along the cause chain of the job failure. */
  private def failure(df: org.apache.spark.sql.DataFrame): String = {
    val e = intercept[Exception](df.collect())
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
  }

  test("variable-k: a NULL per-key cap fails loudly instead of reading as 1") {
    val msg = failure(boundedWith(lit(null)))
    assert(msg.contains("kcap is NULL"), msg)
  }

  test("variable-k: a per-key cap below 1 fails loudly instead of clamping") {
    val msg = failure(boundedWith(lit(0)))
    assert(msg.contains("kcap is 0"), msg)
  }

  test("variable-k: rows of one key that disagree on the cap fail loudly") {
    // every order's first line asks for 1 row, its other lines for 2
    assume(scored.groupBy($"l_orderkey").count().filter($"count" > 1).count() > 0)
    val msg = failure(boundedWith(when($"l_linenumber" === 1, 1).otherwise(2)))
    assert(msg.contains("disagrees within one key"), msg)
  }

  test("strategy resolves through SparkSessionExtensions injection too") {
    // the extensions path registers the same strategy object
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.functions.GraftExtensions().apply(ext)
    // ensureStrategy is idempotent on the session used by topK
    TopKPerKey.ensureStrategy(spark)
    TopKPerKey.ensureStrategy(spark)
    assert(spark.experimental.extraStrategies.count(_ == TopKPerKeyStrategy) === 1)
  }
}
