package graft.store

import org.apache.spark.sql.functions._

import graft.SparkSpec

class ItemStoreSpec extends SparkSpec {
  import spark.implicits._

  private lazy val path = {
    val p = java.nio.file.Files.createTempDirectory("graft-store").toString
    val items = DerivedItems.items(spark, sf0001)
      .withColumn("nestedTasks",
        lit(null).cast("map<string,struct<status:string,script:string>>"))
      .select(graft.model.WorkItem.schema.fieldNames.map(col): _*)
    ItemStore.save(items, p)
    p
  }

  test("store round-trips the canonical schema") {
    val loaded = ItemStore.load(spark, path)
    assert(loaded.count() === 1500)
    assert(loaded.schema.fieldNames.sorted ===
      graft.model.WorkItem.schema.fieldNames.sorted)
  }

  test("state queries are partition-pruned (the GSI analog, SURVEY §1.3)") {
    val plan = ItemStore.load(spark, path)
      .filter($"itemState" === "todo")
      .queryExecution.executedPlan.toString
    // partition filter on itemState must reach the file scan, and the scan
    // must NOT read itemState as data (it's a partition column)
    assert(plan.contains("PartitionFilters") && plan.contains("itemState"), plan.take(500))
    val counted = ItemStore.load(spark, path).filter($"itemState" === "todo").count()
    val expected = DerivedItems.items(spark, sf0001).filter($"itemState" === "todo").count()
    assert(counted === expected)
  }

  test("DDL analogs: create empty, exists, append, drop (S11)") {
    val p = java.nio.file.Files.createTempDirectory("graft-ddl").toString + "/t1"
    assert(!ItemStore.exists(spark, p))
    ItemStore.create(spark, p)
    assert(ItemStore.exists(spark, p))
    assert(ItemStore.load(spark, p).count() === 0)
    val one = DerivedItems.items(spark, sf0001).limit(7)
      .withColumn("nestedTasks",
        lit(null).cast("map<string,struct<status:string,script:string>>"))
      .select(graft.model.WorkItem.schema.fieldNames.map(col): _*)
    ItemStore.append(one, p)
    assert(ItemStore.load(spark, p).count() === 7)
    ItemStore.drop(spark, p)
    assert(!ItemStore.exists(spark, p))
  }

  private def partitionFiles(table: String, state: String): Map[String, String] = {
    val dir = java.nio.file.Paths.get(table, s"itemState=$state")
    if (!java.nio.file.Files.exists(dir)) Map.empty
    else {
      val md = java.security.MessageDigest.getInstance("MD5")
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(dir).iterator().asScala
        .filter(f => f.getFileName.toString.startsWith("part-"))
        .map { f =>
          f.getFileName.toString ->
            md.digest(java.nio.file.Files.readAllBytes(f)).map("%02x".format(_)).mkString
        }.toMap
    }
  }

  test("replacePartitions rewrites only the mutated state partitions (M7 cost model)") {
    val p = java.nio.file.Files.createTempDirectory("graft-partial").toString + "/t"
    val items = DerivedItems.items(spark, sf0001)
      .withColumn("nestedTasks",
        lit(null).cast("map<string,struct<status:string,script:string>>"))
      .select(graft.model.WorkItem.schema.fieldNames.map(col): _*)
    ItemStore.save(items, p)
    val doneBefore = partitionFiles(p, "done")
    val wteBefore = partitionFiles(p, "Wall_Time_Exceeded")
    assert(doneBefore.nonEmpty && wteBefore.nonEmpty)
    val nLockedBefore = ItemStore.load(spark, p).filter($"itemState" === "locked").count()
    assert(nLockedBefore > 0)
    val nTodoBefore = ItemStore.load(spark, p).filter($"itemState" === "todo").count()

    val updated = graft.ops.Mutations.resetItems(ItemStore.load(spark, p),
      $"itemState" === "locked", "todo", resetTasks = true)
    ItemStore.replacePartitions(updated, p, Seq("locked", "todo"))

    // untouched partitions: the SAME files, byte for byte
    assert(partitionFiles(p, "done") === doneBefore)
    assert(partitionFiles(p, "Wall_Time_Exceeded") === wteBefore)
    // the emptied source partition is dropped, rows landed in the target
    assert(partitionFiles(p, "locked").isEmpty)
    val after = ItemStore.load(spark, p)
    assert(after.filter($"itemState" === "locked").count() === 0)
    assert(after.filter($"itemState" === "todo").count() === nTodoBefore + nLockedBefore)
    assert(after.count() === items.count())
    // no stale staging directory left behind
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(p + ".next")))
  }

  test("compact merges streaming batch files and preserves exactly-once markers") {
    val dir = java.nio.file.Files.createTempDirectory("graft-compact")
    val p = dir.resolve("store").toString
    def batch(n: Int, state: String) = spark.range(n)
      .selectExpr("cast(id as string) as itemID", s"'$state' as itemState")
    // 6 micro-batches -> >= 6 data files across the state partitions
    (0L until 6L).foreach { b =>
      ItemStore.commitBatch(batch(10, if (b % 2 == 0) "done" else "todo"), p, b.toString)
    }
    def dataFiles() = java.nio.file.Files.walk(java.nio.file.Paths.get(p))
      .filter(f => f.toString.endsWith(".parquet")).count()
    val before = dataFiles()
    assert(before >= 6, s"expected one file per batch, saw $before")

    ItemStore.compact(spark, p)
    assert(dataFiles() < before)
    val after = spark.read.parquet(p)
    assert(after.count() === 60)

    // exactly-once SURVIVES compaction: a replayed committed batch is
    // still a no-op even though its named files were compacted away
    assert(!ItemStore.commitBatch(batch(10, "done"), p, "0"))
    assert(spark.read.parquet(p).count() === 60)
  }
}
