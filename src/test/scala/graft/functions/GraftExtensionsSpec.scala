package graft.functions

import org.scalatest.funsuite.AnyFunSuite

class GraftExtensionsSpec extends AnyFunSuite {

  test("extensions inject cosine_sim into a fresh session's SQL namespace") {
    val base = graft.SparkSpec.session
    graft.SparkSpec.withEntrySession { extended =>
      val r = extended
        .sql("SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c")
        .collect().head.getDouble(0)
      assert(r === 1.0)
      val r2 = extended
        .sql("SELECT cosine_sim(array(1.0d, 0.0d), array(0.0d, 1.0d)) AS c")
        .collect().head.getDouble(0)
      assert(r2 === 0.0)
      // the rest of the entry session shape
      assert(extended.conf.get("spark.sql.session.timeZone") === "UTC")
      assert(extended.conf.get("spark.sql.adaptive.enabled") === "true")
      assert(extended.conf.get("spark.sql.shuffle.partitions") === graft.SparkEntry.cpus)
    }
    // base session must NOT see the function unless registered explicitly
    val err = intercept[Exception] {
      base.sql("SELECT cosine_sim_not_registered(array(1.0d), array(1.0d))").collect()
    }
    assert(err.getMessage.toLowerCase.contains("unresolved") ||
      err.getMessage.toLowerCase.contains("cannot be resolved") ||
      err.getMessage.toLowerCase.contains("routine"))
  }
}
