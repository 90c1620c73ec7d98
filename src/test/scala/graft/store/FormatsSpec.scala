package graft.store

import graft.SparkSpec

class FormatsSpec extends SparkSpec {
  import spark.implicits._

  private def roundTrip(format: String): Unit = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft-fmt-$format")
    val docs = graft.Tables.documents(spark, sf0001)
    Formats.write(docs, s"$dir/out", format)
    val back = Formats.read(spark, s"$dir/out", format, docs.schema)
    val a = docs.orderBy("doc_id").collect().toSeq
    val b = back.orderBy("doc_id").collect().toSeq
    assert(a === b, s"$format round-trip must be lossless")
  }

  test("documents round-trip losslessly through orc")  { roundTrip("orc") }
  test("documents round-trip losslessly through json") { roundTrip("json") }
  test("documents round-trip losslessly through csv")  { roundTrip("csv") }

  test("csv round-trip distinguishes NULL from empty string") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fmt-null")
    val df = Seq((1L, Some("")), (2L, None: Option[String]), (3L, Some("x")),
      (4L, Some("a,b \"quoted\"\nnewline")))
      .toDF("id", "text")
    Formats.write(df, s"$dir/out", "csv")
    val back = Formats.read(spark, s"$dir/out", "csv", df.schema)
      .orderBy("id").as[(Long, Option[String])].collect().toSeq
    assert(back === Seq((1L, Some("")), (2L, None),
      (3L, Some("x")), (4L, Some("a,b \"quoted\"\nnewline"))))
  }
}
