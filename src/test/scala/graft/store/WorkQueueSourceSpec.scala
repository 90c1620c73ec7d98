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

  test("item sink: separators round-trip, embedded newlines fail loudly") {
    val dir = java.nio.file.Files.createTempDirectory("graft-queue-sink").toString + "/q"
    val rows = Seq(
      ("id,with,commas", "task\"quoted\"", "todo", 3L, Some(5L)),
      ("plain", "t1", "s,tate", 0L, None))
      .toDF("itemID", "taskID", "itemState", "logLength", "nestedTaskCount")
    WorkQueueSource.write(rows, dir)
    val back = spark.read.format("graft.store.connector.WorkQueueSource")
      .option("path", dir).load()
      .as[(String, String, String, Long, Option[Long])].collect().toSet
    assert(back === Set(
      ("id,with,commas", "task\"quoted\"", "todo", 3L, Some(5L)),
      ("plain", "t1", "s,tate", 0L, None)))
    // a newline in a value cannot round-trip a line-based layout: reject
    val bad = Seq(("id\nnewline", "t", "todo", 0L, Some(0L)))
      .toDF("itemID", "taskID", "itemState", "logLength", "nestedTaskCount")
    val e = intercept[Exception](WorkQueueSource.write(bad, dir + "2"))
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(c =>
      Option(c.getMessage).exists(_.contains("must not embed newlines"))), e.toString)
  }

  test("format=parquet: round-trip, pushdown and metadata count match the CSV layout") {
    val dir = java.nio.file.Files.createTempDirectory("graft-queue-pq").toString + "/q"
    val items = DerivedItems.items(spark, sf0001)
      .select($"itemID", $"taskID", $"itemState", $"logLength", $"nestedTaskCount")
    WorkQueueSource.write(items, dir, format = "parquet")
    // only parquet data files landed, none invisible/in-progress
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("itemState=")).flatMap(_.listFiles())
      .filterNot(_.getName.startsWith("."))
    assert(files.nonEmpty && files.forall(_.getName.endsWith(".parquet")),
      files.map(_.getName).mkString(","))
    val pq = spark.read.format("graft.store.connector.WorkQueueSource")
      .option("path", dir).load()
    // identical values to the CSV layout of the same rows
    assert(pq.select($"itemID", $"itemState", $"logLength")
        .as[(String, String, Long)].collect().toSet ===
      queue.select($"itemID", $"itemState", $"logLength")
        .as[(String, String, Long)].collect().toSet)
    // pushdown surface identical: state prune + point lookup + limit
    val anyId = items.filter($"itemState" === "todo")
      .select($"itemID").as[String].head()
    val point = pq.filter($"itemState" === "todo" && $"itemID" === anyId)
      .select($"itemID").limit(1)
    val plan = point.queryExecution.executedPlan.toString
    assert(plan.contains("pushedState=Some(todo)") &&
      plan.contains(s"pushedId=Some($anyId)") &&
      plan.contains("pushedLimit=Some(1)"), plan.take(800))
    assert(point.as[String].head() === anyId)
    // complete count pushdown answers from parquet footers
    val counts = pq.groupBy($"itemState").count()
    assert(counts.queryExecution.executedPlan.toString.contains("WorkQueueCountScan"))
    assert(counts.as[(String, Long)].collect().toMap ===
      items.groupBy($"itemState").count().as[(String, Long)].collect().toMap)
    // ... and honors a pushed itemID filter
    assert(pq.filter($"itemID" === anyId).groupBy($"itemState").count()
      .as[(String, Long)].collect().toMap === Map("todo" -> 1L))
    // mixed layout: CSV appended next to parquet reads as one queue
    WorkQueueSource.append(items.limit(5), dir, format = "csv")
    assert(pq.count() === items.count() + 5)
  }

  test("format=parquet: null/separator value semantics identical to CSV") {
    val rows = Seq(
      ("id,with,commas", "task\"quoted\"", "todo", 3L, Some(5L)),
      ("plain", null.asInstanceOf[String], "s,tate", 0L, None))
      .toDF("itemID", "taskID", "itemState", "logLength", "nestedTaskCount")
    def roundTrip(format: String): Set[(String, String, String, Long, Option[Long])] = {
      val d = java.nio.file.Files.createTempDirectory(s"graft-q-$format")
        .toString + "/q"
      WorkQueueSource.write(rows, d, format)
      spark.read.format("graft.store.connector.WorkQueueSource")
        .option("path", d).load()
        .as[(String, String, String, Long, Option[Long])].collect().toSet
    }
    // format choice must never change values — including the null-string ->
    // "" convention the line layout imposes
    assert(roundTrip("parquet") === roundTrip("csv"))
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
    java.nio.file.Files.write(new java.io.File(bad, "part-x.csv").toPath,
      "i2,t2,0,\n".getBytes("UTF-8"))
    val e = intercept[Exception](spark.read
      .format("graft.store.connector.WorkQueueSource")
      .option("path", dir).load().collect())
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
    assert(messages.exists(_.contains(bad.getPath)), messages.mkString(" | "))
  }
}
