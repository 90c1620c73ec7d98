package graft

/** Driver smoke contract: `SparkEntry.entry` must return rows on sf0.001. */
class EntrySpec extends SparkSpec {
  test("entry flagship query returns rows on sf0.001") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
  }

  test("every oracle key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("gate selection: unknown names fail, a known list selects exactly it, none selects all") {
    val err = intercept[IllegalArgumentException](
      SparkEntry.select(Some("q_topk_operator,q_topk_operatr,nope")))
    assert(err.getMessage.contains("q_topk_operatr, nope"), err.getMessage)
    intercept[IllegalArgumentException](SparkEntry.select(Some(" , ")))
    assert(SparkEntry.select(Some("txt_top_ngrams, q_topk_operator")).map(_._1) ===
      Seq("txt_top_ngrams", "q_topk_operator"))
    val all = SparkEntry.select(None).map(_._1)
    assert(all === SparkEntry.queries.keys.toSeq.sorted)
  }

  test("PlanDump.clip cuts long plans at a line break and marks the cut") {
    val plan = (1 to 400).map(i => s"+- node $i").mkString("\n")
    val clipped = PlanDump.clip(plan, limit = 100)
    val body = clipped.linesIterator.toSeq
    val kept = body.init.mkString("\n").length
    assert(body.last === s"… [truncated: $kept of ${plan.length} chars]")
    assert(body.init.forall(l => plan.linesIterator.contains(l)),
      "every kept line must be a whole plan line")
    assert(kept <= 100)
    val short = "+- one\n+- two"
    assert(PlanDump.clip(short, limit = 100) === short,
      "a plan within the limit is kept whole")
  }
}
