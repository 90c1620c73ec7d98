package graft.text

import org.apache.spark.sql.functions._

import graft.SparkSpec

class CountMinSpec extends SparkSpec {
  import spark.implicits._

  private def itemsDf(xs: Seq[String]) = xs.toDF("item")

  test("CMS estimates are one-sided: est >= true count, excess within e*n/w") {
    val rnd = new scala.util.Random(5)
    // skewed stream: token-i frequency ~ 1/i
    val stream = (1 to 200).flatMap(i => Seq.fill(400 / i + 1)(s"tok$i"))
    val shuffled = rnd.shuffle(stream)
    val cms = CountMin.sketch(itemsDf(shuffled), "item")
    val probes = itemsDf(stream.distinct)
    val est = CountMin.estimate(cms, probes, "item")
      .as[(String, Long)].collect().toMap
    val truth = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = stream.size.toLong
    truth.foreach { case (t, c) =>
      assert(est(t) >= c, s"CMS must never undercount ($t)")
      assert(est(t) - c <= math.ceil(math.E * n / CountMin.GateWidth).toLong,
        s"excess for $t beyond the e*n/w bound")
    }
  }

  test("the sketch is partition-invariant and holds at most d×w cells") {
    val a = itemsDf(Seq.fill(100)("x") ++ Seq("y", "z"))
    val b = itemsDf(Seq.fill(50)("y") ++ Seq("x"))
    // intentionally-Int decoders: sketch cell coordinates (row, col) are
    // Int in the sketch's internal schema — this is NOT a gate output
    // (gate outputs are standardized on BIGINT/DOUBLE/STRING)
    val direct = CountMin.sketch(a.union(b), "item")
      .as[(Int, Int, Long)].collect().toSet
    val repart = CountMin.sketch(a.union(b).repartition(7), "item")
      .as[(Int, Int, Long)].collect().toSet
    assert(direct === repart)
    // sketch is bounded by d*w cells
    assert(direct.size <= CountMin.GateDepth * CountMin.GateWidth)
  }

  test("estimate returns ONE row per DISTINCT probe item (duplicate probes collapse)") {
    // pins the r17 contract change: the single-join + groupBy form returns
    // per-distinct-item rows where the old per-row fold preserved probe
    // multiplicity. Anyone feeding non-distinct probes must know this.
    val cms = CountMin.sketch(itemsDf(Seq.fill(7)("x") ++ Seq("y")), "item")
    val dupProbes = itemsDf(Seq("x", "x", "x", "y"))
    val rows = CountMin.estimate(cms, dupProbes, "item")
      .as[(String, Long)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq === Seq("x", "y"),
      "one output row per distinct probe item")
    assert(rows.toMap.apply("x") >= 7L && rows.toMap.apply("y") >= 1L)
  }

  test("absent items estimate only collision mass, never negative") {
    val cms = CountMin.sketch(itemsDf(Seq.fill(10)("present")), "item")
    val est = CountMin.estimate(cms, itemsDf(Seq("absent-1", "absent-2")), "item")
      .as[(String, Long)].collect().toMap
    est.values.foreach(v => assert(v >= 0L && v <= 10L))
  }
}
