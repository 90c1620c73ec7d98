package graft.store

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.store.connector.WorkQueueSource

class WorkQueueSourceSpec extends SparkSpec {
  import spark.implicits._

  private lazy val path = {
    val p = java.nio.file.Files.createTempDirectory("graft-queue").toString + "/q"
    WorkQueueSource.write(
      DerivedItems.items(spark, sf0001)
        .select($"itemID", $"taskID", $"itemState", $"logLength", $"nestedTaskCount"), p)
    p
  }

  private def queue = spark.read
    .format("graft.store.connector.WorkQueueSource")
    .option("path", path).load()

  test("connector round-trips the queue with correct values") {
    // the write published parquet part files only: no in-progress temps
    val files = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("itemState=")).flatMap(_.listFiles())
    assert(files.nonEmpty && files.forall(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")),
      files.map(_.getName).mkString(","))
    val viaConnector = queue.select($"itemID", $"itemState", $"logLength")
      .as[(String, String, Long)].collect().toSet
    val direct = DerivedItems.items(spark, sf0001)
      .select($"itemID", $"itemState", $"logLength")
      .as[(String, String, Long)].collect().toSet
    assert(viaConnector === direct)
  }

  test("itemState equality pushes down and prunes state directories (GSI analog)") {
    val q = queue.filter($"itemState" === "todo")
    val rows = q.count()
    val expected = DerivedItems.items(spark, sf0001)
      .filter($"itemState" === "todo").count()
    assert(rows === expected)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("pushedState=Some(todo)"), plan.take(600))
  }

  test("column pruning reaches the reader (ProjectionExpression analog, P1)") {
    val q = queue.select($"itemID")
    assert(q.count() === 1500)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("columns=itemID") && !plan.contains("columns=itemID,taskID"),
      plan.take(600))
  }

  test("point lookup pushes itemID equality AND limit to the source (GSI point read)") {
    val anyId = DerivedItems.items(spark, sf0001)
      .filter($"itemState" === "todo").select($"itemID").as[String].head()
    // S4/S5 shape: key equality + LIMIT 1
    val q = queue.filter($"itemState" === "todo" && $"itemID" === anyId)
      .select($"itemID", $"itemState", $"logLength").limit(1)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains(s"pushedId=Some($anyId)"), plan.take(800))
    assert(plan.contains("pushedLimit=Some(1)"), plan.take(800))
    // both filters left the post-scan plan (fully pushed), values correct
    val row = q.as[(String, String, Long)].head()
    assert(row._1 === anyId && row._2 === "todo")
    // without a limit the scan carries no pushed limit and still matches
    val all = queue.filter($"itemID" === anyId)
      .select($"itemID").as[String].collect()
    assert(all.toSeq === Seq(anyId))
  }

  test("pushed limit bounds rows per partition but never drops matches") {
    // limit > matches: every matching row still comes back
    val q = queue.filter($"itemState" === "todo").limit(1000000)
    val expected = DerivedItems.items(spark, sf0001)
      .filter($"itemState" === "todo").count()
    assert(q.count() === expected)
    // limit < matches: exactly limit rows survive the global limit
    assert(queue.limit(7).count() === 7)
  }

  test("state-count aggregate pushes down completely (index COUNT analog)") {
    val q = queue.groupBy($"itemState").count()
    val viaConnector = q.as[(String, Long)].collect().toMap
    val direct = DerivedItems.items(spark, sf0001)
      .groupBy($"itemState").count().as[(String, Long)].collect().toMap
    assert(viaConnector === direct)
    // the plan carries the complete-pushdown scan and NO aggregate over rows
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("WorkQueueCountScan"), plan.take(800))
    assert(!plan.contains("HashAggregate"),
      s"complete pushdown must leave no Spark-side aggregate:\n${plan.take(800)}")
    // composes with the pushed state filter: single pruned directory
    val one = queue.filter($"itemState" === "todo").groupBy($"itemState").count()
    assert(one.as[(String, Long)].collect().toMap === direct.view.filterKeys(_ == "todo").toMap)
    assert(one.queryExecution.executedPlan.toString.contains("pushedState=Some(todo)"))
  }

  test("itemID filter + state-count aggregate: pushdown keeps the filter (point count)") {
    val anyId = DerivedItems.items(spark, sf0001)
      .filter($"itemState" === "todo").select($"itemID").as[String].head()
    // the round-8 wrong-results shape: itemID equality pushed AND the
    // count-by-state aggregate pushed — the count scan must honor the id
    val q = queue.filter($"itemID" === anyId).groupBy($"itemState").count()
    val got = q.as[(String, Long)].collect().toMap
    val expected = DerivedItems.items(spark, sf0001)
      .filter($"itemID" === anyId).groupBy($"itemState").count()
      .as[(String, Long)].collect().toMap
    assert(got === expected)
    assert(got === Map("todo" -> 1L))
    // still a complete pushdown: the count scan carries the id, no Spark agg
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("WorkQueueCountScan"), plan.take(800))
    assert(plan.contains(s"pushedId=Some($anyId)"), plan.take(800))
    assert(!plan.contains("HashAggregate"), plan.take(800))
    // composes with a pushed state filter too
    val both = queue.filter($"itemState" === "todo" && $"itemID" === anyId)
      .groupBy($"itemState").count()
    assert(both.as[(String, Long)].collect().toMap === Map("todo" -> 1L))
  }

  test("state-count aggregate emits no group for states with zero matches") {
    // an id that matches nothing: a real GROUP BY yields zero groups, so the
    // pushed-down scan must not invent (state, 0) rows
    val q = queue.filter($"itemID" === "no_such_item").groupBy($"itemState").count()
    assert(q.collect().isEmpty)
  }

  test("item sink: separators, nulls and embedded newlines round-trip") {
    val dir = java.nio.file.Files.createTempDirectory("graft-queue-sink").toString + "/q"
    val rows = Seq(
      ("id,with,commas", "task\"quoted\"", "todo", 3L, Some(5L)),
      ("plain", null.asInstanceOf[String], "s,tate", 0L, None),
      ("id\nnew\r\nline", "t\nx", "to\ndo", 1L, Some(0L)))
      .toDF("itemID", "taskID", "itemState", "logLength", "nestedTaskCount")
    WorkQueueSource.write(rows, dir)
    val back = spark.read.format("graft.store.connector.WorkQueueSource")
      .option("path", dir).load()
      .as[(String, String, String, Long, Option[Long])].collect().toSet
    // a null string is stored and read back as ""; a null count stays null
    assert(back === Set(
      ("id,with,commas", "task\"quoted\"", "todo", 3L, Some(5L)),
      ("plain", "", "s,tate", 0L, None),
      ("id\nnew\r\nline", "t\nx", "to\ndo", 1L, Some(0L))))
  }

  test("retired format switches fail loudly: append's format and the DSv2 " +
      "format write option") {
    val dir = java.nio.file.Files.createTempDirectory("graft-queue-fmt").toString + "/q"
    val rows = Seq(("i1", "t1", "todo", 0L, Option.empty[Long]))
      .toDF("itemID", "taskID", "itemState", "logLength", "nestedTaskCount")
    val viaAppend = intercept[IllegalArgumentException](
      WorkQueueSource.append(rows, dir, "csv"))
    assert(viaAppend.getMessage.contains("append format=csv") &&
      viaAppend.getMessage.contains("parquet is the one queue layout"),
      viaAppend.getMessage)
    val viaOption = intercept[Exception](rows.write
      .format("graft.store.connector.WorkQueueSource")
      .option("path", dir).option("format", "csv").mode("append").save())
    val messages = Iterator.iterate[Throwable](viaOption)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
    assert(messages.exists(m => m.contains("write option format=csv") &&
      m.contains("parquet is the one queue layout")), messages.mkString(" | "))
    assert(!new java.io.File(dir).exists(), "a refused write writes nothing")
    // naming the one layout is still accepted
    WorkQueueSource.append(rows, dir, "parquet")
    assert(spark.read.format("graft.store.connector.WorkQueueSource")
      .option("path", dir).load().count() === 1)
  }

  test("a visible non-parquet file in a state directory fails the batch scan, " +
      "the count scan and the stream; dot-prefixed temps stay invisible") {
    val base = java.nio.file.Files.createTempDirectory("graft-queue-old").toFile
    val dir = new java.io.File(base, "q").toString
    WorkQueueSource.write(Seq(("i1", "t1", "todo", 0L, Option.empty[Long]))
      .toDF("itemID", "taskID", "itemState", "logLength", "nestedTaskCount"), dir)
    val todo = new java.io.File(dir, "itemState=todo")
    // an in-progress temp of a live writer is not part of the queue
    java.nio.file.Files.writeString(
      new java.io.File(todo, ".inprogress-x").toPath, "not parquet")
    def load() = spark.read.format("graft.store.connector.WorkQueueSource")
      .option("path", dir).load()
    assert(load().count() === 1)
    // a part file of an older line-based layout: reading past it would
    // silently drop its items from every poll
    val old = new java.io.File(todo, "part-old.csv")
    java.nio.file.Files.writeString(old.toPath, "i2,t2,0,\n")
    def assertNamesFile(run: => Any): Unit = {
      val e = intercept[Exception](run)
      val messages = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
      assert(messages.exists(m => m.contains(old.getPath) &&
        m.contains("re-import the queue")), messages.mkString(" | "))
    }
    assertNamesFile(load().collect())
    assertNamesFile(load().groupBy($"itemState").count().collect())
    assertNamesFile {
      val q = graft.exec.StreamingRunner.queueStream(spark, dir)
        .writeStream.format("noop")
        .option("checkpointLocation", new java.io.File(base, "ckpt").toString)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
  }

  test("escapeToken/unescapePartitionValue round-trip any value, including non-Latin-1") {
    val cases = Seq(
      "plain-id_1.2",
      "a,b c%d=e",                  // ASCII specials: one %XX per char
      "中文状态",                    // CJK letters: escaped per UTF-8 byte
      "done→next",                  // U+2192: 3 UTF-8 bytes, was corrupted pre-fix
      "emoji😀state",     // surrogate pair (4 UTF-8 bytes)
      "nl\nand,comma",              // control chars
      "café ß €",    // Latin-1 letters + 3-byte symbol
      "%41 literal-ish",            // raw '%' must survive its own escape
      "")
    cases.foreach { s =>
      val esc = WorkQueueSource.escapeToken(s)
      // escaped form is filesystem-safe AND pure ASCII: raw non-ASCII in a
      // directory name is subject to FS Unicode normalization (macOS NFD),
      // which would break the one-state-one-directory byte equality
      assert(esc.forall(c => c < 0x80 && c != '/' && c != '\n' && c != ','), esc)
      assert(WorkQueueSource.unescapePartitionValue(esc) === s, s"via $esc")
    }
    // Spark-style single-byte ASCII escapes still decode (the other producer
    // of partition-dir names this decoder must understand)
    assert(WorkQueueSource.unescapePartitionValue("a%20b%2Cc") === "a b,c")
    // a '%' not followed by two hex digits is literal, not an escape
    assert(WorkQueueSource.unescapePartitionValue("100%zz%4") === "100%zz%4")
    // unescaped characters pass through verbatim
    assert(WorkQueueSource.unescapePartitionValue("café") === "café")
  }

  test("a %XX run that is not valid UTF-8 fails loudly, naming the state directory") {
    // a lone Latin-1 byte (0xE9) is no UTF-8 sequence: decoding it as
    // anything (U+FFFD, Latin-1 'é') would silently rename the state
    intercept[IllegalArgumentException](
      WorkQueueSource.unescapePartitionValue("caf%E9"))
    intercept[IllegalArgumentException](
      WorkQueueSource.unescapePartitionValue("%E9%20%FC"))
    val dir = java.nio.file.Files.createTempDirectory("graft-q-badesc").toString + "/q"
    WorkQueueSource.write(Seq(("i1", "t1", "todo", 0L, Option.empty[Long]))
      .toDF("itemID", "taskID", "itemState", "logLength", "nestedTaskCount"), dir)
    val bad = new java.io.File(dir, "itemState=caf%E9")
    bad.mkdirs()
    // a well-formed part file: only the directory name is wrong
    val part = new java.io.File(dir, "itemState=todo").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath, new java.io.File(bad, part.getName).toPath)
    val e = intercept[Exception](spark.read
      .format("graft.store.connector.WorkQueueSource")
      .option("path", dir).load().collect())
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
    assert(messages.exists(_.contains(bad.getPath)), messages.mkString(" | "))
  }
}
