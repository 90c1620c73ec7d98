package graft.probe

import graft.SparkSpec

/** The ledger probe's exactly-once bounds at gate scale (4 triggers × 50
  * items), for each shape the probe runs at scale: one dispatcher, two
  * contending dispatchers, and the random-id negative control.
  */
class LedgerProbeSpec extends SparkSpec {

  private def drainsExactlyOnce(dispatchers: Int, ids: String): Unit = {
    val r = LedgerProbe.run(spark, 4, 50, dispatchers, ids)
    assert(r.items === 200L)
    assert(r.violations.isEmpty, r.json)
    assert(r.resultRows.length === dispatchers, r.json)
    assert(r.resultRows.sum === 200L && r.done === 200L &&
      r.doneDistinct === 200L && r.ledgerLeft === 0L, r.json)
  }

  test("one dispatcher drains a monotone queue exactly once") {
    drainsExactlyOnce(1, "monotone")
  }

  test("the probe counts the Spark jobs of every trigger") {
    val r = LedgerProbe.run(spark, 3, 20, 1, "monotone")
    assert(r.violations.isEmpty, r.json)
    assert(r.jobsPerBatch.length === 3 && r.jobsPerBatch.forall(_ > 0), r.json)
    assert(r.json.contains("\"jobs_per_batch\": "), r.json)
  }

  test("two contending dispatchers drain one queue exactly once") {
    drainsExactlyOnce(2, "monotone")
  }

  test("random ids (the negative control) drain exactly once") {
    drainsExactlyOnce(1, "random")
  }
}
