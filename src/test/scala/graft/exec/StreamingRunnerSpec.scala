package graft.exec

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.store.{Importer, ItemStore}

class StreamingRunnerSpec extends SparkSpec {
  import spark.implicits._

  test("streaming dispatcher claims, executes and persists each micro-batch (T1)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-srun").toFile
    val f = new java.io.File(dir, "items.txt")
    val w = new java.io.PrintWriter(f)
    w.println("itemID|taskID|TaskScript|TaskArgs")
    w.println("S1|g|seq 2|")
    w.println("N1|g|seq|3,1")
    w.close()
    val store = dir.toPath.resolve("store").toString
    val results = dir.toPath.resolve("results").toString
    ItemStore.save(Importer.importFile(spark, f.getAbsolutePath, "|", Some(",")), store)

    val q = StreamingRunner.ledgerDispatcher(
      StreamingRunner.itemStream(spark, store), results,
      dir.toPath.resolve("ledger").toString, "t1")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", dir.toPath.resolve("ckpt").toString)
      .start()
    try q.processAllAvailable() finally q.stop()

    val out = ItemStore.load(spark, results)
    val states = out.select($"itemID", $"itemState").as[(String, String)].collect().toMap
    assert(states === Map("S1" -> "done", "N1" -> "done"))
    assert(out.filter($"itemID" === "N1").select($"logLength").as[Long].head() === 2L)
    val stdout = out.filter($"itemID" === "S1")
      .select(element_at($"log", "single").getField("stdout")).as[String].head()
    assert(stdout === "1\n2\n")
  }

  test("queue connector streams micro-batches: state-dir pruning in the plan, each item delivered once") {
    import graft.store.connector.WorkQueueSource
    val dir = java.nio.file.Files.createTempDirectory("graft-qstream").toFile
    val queue = new java.io.File(dir, "queue").toString
    def rows(ids: (String, String)*) = ids.toSeq.toDF("itemID", "itemState")
      .selectExpr("itemID", "itemID AS taskID", "itemState",
        "CAST(null AS LONG) AS logLength", "CAST(null AS LONG) AS nestedTaskCount")
    // two appends → at least two todo data files; the done directory is
    // POISONED: listing it fails on the non-parquet file, opening its
    // parquet-named file fails on the garbage bytes. With state-dir pruning
    // it is never listed, never opened — the stream would throw otherwise
    WorkQueueSource.append(rows("A" -> "todo", "B" -> "todo").coalesce(1), queue)
    WorkQueueSource.append(rows("C" -> "todo").coalesce(1), queue)
    val doneDir = new java.io.File(queue, "itemState=done"); doneDir.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(doneDir, "poison.csv").toPath, "only,three,fields\n")
    java.nio.file.Files.writeString(
      new java.io.File(doneDir, "poison.parquet").toPath, "not parquet\n")

    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = StreamingRunner.queueStream(spark, queue,
        maxFilesPerTrigger = Some(1), state = Some("todo"))
      .filter($"itemState" === "todo") // residual guard; pruning is source-side
      .select($"itemID")
      .writeStream
      .option("checkpointLocation", new java.io.File(dir, "ckpt").toString)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          batches.incrementAndGet()
          batch.collect().foreach(r => seen.add(r.getString(0)))
        }
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      // the streaming source itself reports the pushed state: unselected
      // state dirs never enter an offset (the GSI key-condition analog)
      val desc = q.lastProgress.sources.head.description
      assert(desc.contains("pushedState=Some(todo)"),
        s"state pushdown missing from streaming source: $desc")
      // live growth: a file appended while the query runs arrives too
      WorkQueueSource.append(rows("D" -> "todo").coalesce(1), queue)
      q.processAllAvailable()
    } finally q.stop()

    import scala.collection.JavaConverters._
    // every item arrives in exactly one micro-batch across the run
    assert(seen.asScala.toSeq.sorted === Seq("A", "B", "C", "D"))
    assert(batches.get() >= 3, s"maxFilesPerTrigger=1 over 3+ files must yield 3+ batches, got ${batches.get()}")
  }

  test("commitBatch is exactly-once under replay and partial-commit crashes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-eos").toFile
    val store = dir.toPath.resolve("results").toString
    def batch(n: Int) = spark.range(n)
      .selectExpr("cast(id as string) as itemID", "'done' as itemState")
    def count() = spark.read.parquet(store).count()

    assert(ItemStore.commitBatch(batch(5), store, "0"))
    assert(count() === 5)
    // straight replay (crash after marker): short-circuits, no second copy
    assert(!ItemStore.commitBatch(batch(5), store, "0"))
    assert(count() === 5)
    // crash BETWEEN file publish and marker: delete the marker to simulate,
    // replay must converge to one copy (deterministic names replace, not add)
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(store, "_graft_commits/batch-0"), false)
    assert(ItemStore.commitBatch(batch(5), store, "0"))
    assert(count() === 5)
    // a NEW batch still appends
    assert(ItemStore.commitBatch(batch(3), store, "1"))
    assert(count() === 8)
  }

  test("dispatcher replay of a committed micro-batch appends outcomes exactly once") {
    val dir = java.nio.file.Files.createTempDirectory("graft-replay").toFile
    val f = new java.io.File(dir, "items.txt")
    val w = new java.io.PrintWriter(f)
    w.println("itemID|taskID|TaskScript|TaskArgs")
    w.println("R1|g|seq 2|")
    w.close()
    val store = dir.toPath.resolve("store").toString
    val results = dir.toPath.resolve("results").toString
    ItemStore.save(Importer.importFile(spark, f.getAbsolutePath, "|", Some(",")), store)

    val ckpt = dir.toPath.resolve("ckpt").toFile
    def drain(): Unit = {
      val q = StreamingRunner.ledgerDispatcher(
        StreamingRunner.itemStream(spark, store), results,
        dir.toPath.resolve("ledger").toString, "replay")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt.toString)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    drain()
    assert(ItemStore.load(spark, results).count() === 1)

    // the at-least-once replay foreachBatch performs after a crash between
    // the outcome write and the checkpoint commit: drop batch 0's commit
    // record, and the restarted query runs batch 0 again
    val commit0 = new java.io.File(ckpt, "commits/0")
    assert(commit0.delete())
    new java.io.File(ckpt, "commits/.0.crc").delete()
    drain()
    assert(commit0.exists(), "the restart must replay batch 0")
    val out = ItemStore.load(spark, results)
    assert(out.count() === 1, "replayed batch must not duplicate outcomes")
    assert(out.select($"itemState").as[String].head() === "done")
  }
}
