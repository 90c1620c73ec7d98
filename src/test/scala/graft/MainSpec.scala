package graft

import org.apache.spark.sql.functions._

/** End-to-end CLI verb test: import → run → monitor → reset → delete over a
  * real store (mirrors the reference's REPL doc sessions, SURVEY §5).
  */
class MainSpec extends SparkSpec {
  import spark.implicits._

  private def writeFixture(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-cli").toFile
    val f = new java.io.File(dir, "items.txt")
    val w = new java.io.PrintWriter(f)
    w.println("itemID|taskID|TaskScript|TaskArgs")
    w.println("One|g1|seq 3|")
    w.println("Nest|g1|seq|4,5")
    w.close()
    f.getAbsolutePath
  }

  test("import → run → reset lifecycle through the CLI verbs (X6/X7)") {
    val table = java.nio.file.Files.createTempDirectory("graft-cli-store").toString + "/t"
    Main.run(spark, "import", table,
      Map("input" -> writeFixture(), "delim" -> "|", "nested-delim" -> ","))
    val imported = store.ItemStore.load(spark, table)
    assert(imported.count() === 2)
    assert(imported.filter($"itemState" === "todo").count() === 2)

    Main.run(spark, "run", table, Map.empty)
    val ran = store.ItemStore.load(spark, table)
    assert(ran.filter($"itemState" === "done").count() === 2)
    assert(ran.filter($"itemID" === "Nest").select($"logLength").as[Long].head() === 2L)

    Main.run(spark, "reset", table, Map("state" -> "done", "to" -> "todo"))
    val reset = store.ItemStore.load(spark, table)
    assert(reset.filter($"itemState" === "todo").count() === 2)
    assert(reset.filter($"logLength" =!= 0L).count() === 0)

    Main.run(spark, "delete", table, Map("task-group" -> "g1"))
    assert(store.ItemStore.load(spark, table).count() === 0)
  }

  test("import --queue-dir feeds the DSv2 connector sink (source/sink symmetry)") {
    val base = java.nio.file.Files.createTempDirectory("graft-cli-queue").toString
    val table = s"$base/t"
    val qdir = s"$base/q"
    Main.run(spark, "import", table,
      Map("input" -> writeFixture(), "delim" -> "|", "nested-delim" -> ",",
        "queue-dir" -> qdir))
    val queue = spark.read.format("graft.store.connector.WorkQueueSource")
      .option("path", qdir).load()
    val viaQueue = queue
      .select($"itemID", $"itemState", $"logLength", $"nestedTaskCount")
      .as[(String, String, Long, Option[Long])].collect().toSet
    val viaTable = store.ItemStore.load(spark, table)
      .select($"itemID", $"itemState", $"logLength", $"nestedTaskCount")
      .as[(String, String, Long, Option[Long])].collect().toSet
    assert(viaQueue === viaTable && viaQueue.nonEmpty)
    // idempotent re-import appends nothing to table OR queue
    Main.run(spark, "import", table,
      Map("input" -> writeFixture(), "delim" -> "|", "nested-delim" -> ",",
        "queue-dir" -> qdir))
    assert(queue.count() === viaQueue.size)
    // the DSv2 commit published every task file: no in-progress temps left
    val leftovers = Option(new java.io.File(qdir).listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory)
      .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty))
      .filter(_.getName.startsWith(".inprogress"))
    assert(leftovers.isEmpty, leftovers.mkString(","))

    // queue-compact rewrites the data files with identical rows (no
    // downtime: staged off to the side, published by rename)
    Main.run(spark, "queue-compact", qdir, Map.empty)
    val migrated = spark.read.format("graft.store.connector.WorkQueueSource")
      .option("path", qdir).load()
      .select($"itemID", $"itemState", $"logLength", $"nestedTaskCount")
      .as[(String, String, Long, Option[Long])].collect().toSet
    assert(migrated === viaTable)
    val dataFiles = Option(new java.io.File(qdir).listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.startsWith("itemState="))
      .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty))
      .filterNot(_.getName.startsWith("."))
    assert(dataFiles.nonEmpty && dataFiles.forall(_.getName.endsWith(".parquet")),
      dataFiles.map(_.getName).mkString(","))
    // the staging dir publishes by rename and is swept on success — a
    // leftover would hold a stale second copy of every row
    val staleStaging = Option(new java.io.File(qdir).listFiles())
      .getOrElse(Array.empty)
      .filter(_.getName.startsWith("_compact-staging-"))
    assert(staleStaging.isEmpty, staleStaging.mkString(","))
  }

  test("retired queue format flags fail loudly: import --queue-format, " +
      "queue-compact --format") {
    val base = java.nio.file.Files.createTempDirectory("graft-cli-qfmt").toString
    def assertRetired(e: IllegalArgumentException, flag: String): Unit =
      assert(e.getMessage.contains(flag) &&
        e.getMessage.contains("parquet is the one queue layout"), e.getMessage)
    val imported = Map("input" -> writeFixture(), "delim" -> "|",
      "nested-delim" -> ",", "queue-dir" -> s"$base/q")
    // even naming the one layout is refused: the flag itself is gone
    assertRetired(intercept[IllegalArgumentException](Main.run(spark, "import",
      s"$base/t", imported + ("queue-format" -> "parquet"))), "--queue-format")
    assert(!new java.io.File(s"$base/t").exists() &&
      !new java.io.File(s"$base/q").exists(), "nothing runs before the check")
    Main.run(spark, "import", s"$base/t", imported)
    assertRetired(intercept[IllegalArgumentException](Main.run(spark,
      "queue-compact", s"$base/q", Map("format" -> "csv"))), "--format")
    assert(spark.read.format("graft.store.connector.WorkQueueSource")
      .option("path", s"$base/q").load().count() === 2)
  }

  test("work verb: streaming worker drains a queue with ledger claims, exactly once") {
    import graft.store.connector.{WorkQueueLedger, WorkQueueSource}
    val base = java.nio.file.Files.createTempDirectory("graft-cli-work").toString
    val qdir = s"$base/q"
    val rows = Seq("W1", "W2", "W3").toDF("itemID")
      .selectExpr("itemID", "itemID AS taskID", "'todo' AS itemState",
        "CAST(0 AS LONG) AS logLength", "CAST(null AS LONG) AS nestedTaskCount")
    WorkQueueSource.append(rows.coalesce(1), qdir)
    Main.run(spark, "work", qdir, Map(
      "results" -> s"$base/results", "checkpoint" -> s"$base/ckpt",
      "instance" -> "w1", "once" -> "1"))
    val out = store.ItemStore.load(spark, s"$base/results")
    assert(out.count() === 3)
    assert(out.select("itemID").as[String].collect().toSet === Set("W1", "W2", "W3"))
    // finished waves are RELEASED (the ledger holds in-flight items only);
    // the compact done set is the durable record — and no per-item claim
    // files or claim-result logs anywhere
    assert(WorkQueueLedger.entries(spark, s"$qdir/_ledger").count() === 0)
    assert(WorkQueueLedger.doneEntries(spark, s"$qdir/_ledger_done")
      .select("itemID").as[String].collect().toSet === Set("W1", "W2", "W3"))
    assert(!new java.io.File(s"$qdir/locks").exists())
    assert(!new java.io.File(s"$qdir/_claims").exists())
    // a fresh worker over the same queue (new checkpoint) re-reads the
    // files but wins nothing — the done set remembers across processes
    Main.run(spark, "work", qdir, Map(
      "results" -> s"$base/results2", "checkpoint" -> s"$base/ckpt2",
      "instance" -> "w2", "once" -> "1"))
    assert(store.ItemStore.load(spark, s"$base/results2").count() === 0)
    assert(WorkQueueLedger.entries(spark, s"$qdir/_ledger").count() === 0)
  }

  test("work verb: the retired --claims / --lease-ms flags fail loudly and " +
      "point at --takeover-after") {
    val base = java.nio.file.Files.createTempDirectory("graft-cli-retired").toString
    Seq("claims" -> "locks", "lease-ms" -> "60000").foreach { case (k, v) =>
      val e = intercept[RuntimeException](Main.run(spark, "work", s"$base/q",
        Map("results" -> s"$base/results", "checkpoint" -> s"$base/ckpt",
          "once" -> "1", k -> v)))
      assert(e.getMessage.contains(s"--$k") &&
        e.getMessage.contains("--takeover-after"), e.getMessage)
    }
    // nothing ran: no results, no ledger
    assert(!new java.io.File(s"$base/results").exists())
    assert(!new java.io.File(s"$base/q/_ledger").exists())
  }

  test("work verb: DEFAULT-flag restart after a claim-then-crash drains the " +
      "queue exactly once (stable checkpoint-derived identity)") {
    import graft.store.connector.{WorkQueueLedger, WorkQueueSource}
    val base = java.nio.file.Files.createTempDirectory("graft-cli-restart").toString
    val qdir = s"$base/q"
    val rows = Seq("R1", "R2", "R3").toDF("itemID")
      .selectExpr("itemID", "itemID AS taskID", "'todo' AS itemState",
        "CAST(0 AS LONG) AS logLength", "CAST(null AS LONG) AS nestedTaskCount")
    WorkQueueSource.append(rows.coalesce(1), qdir)
    // the crashed first run: its batch-0 claim wave committed, outcomes
    // did not. The wave tag uses the DEFAULT identity — exactly what the
    // verb derives for this checkpoint path.
    val ckpt = s"$base/ckpt"
    val id = Main.workerIdentity(ckpt)
    WorkQueueLedger.claim(spark, s"$qdir/_ledger",
      WorkQueueLedger.takeWave(Seq("R1", "R2", "R3").toDF("itemID")),
      id, s"$id-batch-0")
    // restart with DEFAULT flags (no --instance): must replay the dead
    // wave and execute every item — the r14 defect silently dropped all 3
    Main.run(spark, "work", qdir, Map(
      "results" -> s"$base/results", "checkpoint" -> ckpt, "once" -> "1"))
    val out = store.ItemStore.load(spark, s"$base/results")
    assert(out.count() === 3, "crashed wave's items were dropped")
    assert(out.select("itemID").as[String].collect().toSet ===
      Set("R1", "R2", "R3"))
    assert(WorkQueueLedger.entries(spark, s"$qdir/_ledger").count() === 0)
  }

  test("work-release + queue-claims verbs: a wedged dead worker's wave is " +
      "operable back to a full drain") {
    import graft.store.connector.{WorkQueueLedger, WorkQueueSource}
    val base = java.nio.file.Files.createTempDirectory("graft-cli-release").toString
    val qdir = s"$base/q"
    val rows = Seq("V1", "V2", "V3").toDF("itemID")
      .selectExpr("itemID", "itemID AS taskID", "'todo' AS itemState",
        "CAST(0 AS LONG) AS logLength", "CAST(null AS LONG) AS nestedTaskCount")
    WorkQueueSource.append(rows.coalesce(1), qdir)
    // a dead dispatcher wedged V1+V2 (claimed, never executed, never to
    // return — different identity, so no checkpoint replay will save it)
    WorkQueueLedger.claim(spark, s"$qdir/_ledger",
      WorkQueueLedger.takeWave(Seq("V1", "V2").toDF("itemID")),
      "dead-worker", "dead-worker-batch-0")
    // a live worker drains what it can: only the unclaimed V3
    Main.run(spark, "work", qdir, Map(
      "results" -> s"$base/results", "checkpoint" -> s"$base/ckpt1",
      "once" -> "1"))
    assert(store.ItemStore.load(spark, s"$base/results")
      .select("itemID").as[String].collect().toSet === Set("V3"))
    // operability: inspect, then hand the dead waves back
    Main.run(spark, "queue-claims", qdir, Map.empty)
    assert(WorkQueueLedger.entries(spark, s"$qdir/_ledger").count() === 2)
    Main.run(spark, "work-release", qdir, Map("instance" -> "dead-worker"))
    assert(WorkQueueLedger.entries(spark, s"$qdir/_ledger").count() === 0)
    // re-drain into the SAME results store (fresh checkpoint → new claim
    // identity → no batch-key collision): V1+V2 execute now, V3 is in the
    // done set and is NOT re-executed
    Main.run(spark, "work", qdir, Map(
      "results" -> s"$base/results", "checkpoint" -> s"$base/ckpt2",
      "once" -> "1"))
    val all = store.ItemStore.load(spark, s"$base/results")
    assert(all.count() === 3, "re-drain must add exactly V1+V2")
    assert(all.select("itemID").as[String].collect().toSet ===
      Set("V1", "V2", "V3"))
  }

  test("done-remove verb: the reset→re-run cycle works through the " +
      "streaming path (r15 VERDICT missing #1)") {
    import graft.store.connector.{WorkQueueLedger, WorkQueueSource}
    val base = java.nio.file.Files.createTempDirectory("graft-cli-dr").toString
    val qdir = s"$base/q"
    val rows = Seq("D1", "D2").toDF("itemID")
      .selectExpr("itemID", "itemID AS taskID", "'todo' AS itemState",
        "CAST(0 AS LONG) AS logLength", "CAST(null AS LONG) AS nestedTaskCount")
    WorkQueueSource.append(rows.coalesce(1), qdir)
    Main.run(spark, "work", qdir, Map(
      "results" -> s"$base/results", "checkpoint" -> s"$base/ckpt",
      "once" -> "1"))
    assert(WorkQueueLedger.doneEntries(spark, s"$qdir/_ledger_done")
      .select("itemID").as[String].collect().toSet === Set("D1", "D2"))
    // the operator resets D1 and re-opens it for the streaming worker
    Main.run(spark, "done-remove", qdir, Map("ids" -> "D1"))
    assert(WorkQueueLedger.doneEntries(spark, s"$qdir/_ledger_done")
      .select("itemID").as[String].collect().toSet === Set("D2"))
    // a fresh drain re-executes EXACTLY the re-opened item
    Main.run(spark, "work", qdir, Map(
      "results" -> s"$base/results2", "checkpoint" -> s"$base/ckpt2",
      "once" -> "1"))
    assert(store.ItemStore.load(spark, s"$base/results2")
      .select("itemID").as[String].collect().toSet === Set("D1"))
    assert(WorkQueueLedger.doneEntries(spark, s"$qdir/_ledger_done")
      .select("itemID").as[String].collect().toSet === Set("D1", "D2"))
    // manifest form works too (same file shape as `reset`)
    val mf = java.io.File.createTempFile("graft-dr", ".json")
    val wmf = new java.io.PrintWriter(mf)
    wmf.println("""["D2"]""")
    wmf.close()
    Main.run(spark, "done-remove", qdir, Map("manifest" -> mf.getAbsolutePath))
    assert(WorkQueueLedger.doneEntries(spark, s"$qdir/_ledger_done")
      .select("itemID").as[String].collect().toSet === Set("D1"))
  }

  test("work-release --results finishes a post-commit crashed wave's " +
      "retirement instead of re-opening it (r15 ADVICE #1)") {
    import graft.exec.{Runner, StreamingRunner}
    import graft.store.connector.{WorkQueueLedger, WorkQueueSource}
    val base = java.nio.file.Files.createTempDirectory("graft-cli-rel2").toString
    val qdir = s"$base/q"
    val results = s"$base/results"
    val rows = Seq("P1", "P2").toDF("itemID")
      .selectExpr("itemID", "itemID AS taskID", "'todo' AS itemState",
        "CAST(0 AS LONG) AS logLength", "CAST(null AS LONG) AS nestedTaskCount")
    WorkQueueSource.append(rows.coalesce(1), qdir)
    // simulate the post-commit crash: wave claimed, outcomes committed
    // under the worker's batch key, retirement never ran, worker gone
    val inst = "crashed-w"
    WorkQueueLedger.claim(spark, s"$qdir/_ledger",
      WorkQueueLedger.takeWave(Seq("P1", "P2").toDF("itemID")),
      inst, s"$inst-batch-0")
    val staticBatch = StreamingRunner.queueWorkItems(
      spark.read.format("graft.store.connector.WorkQueueSource")
        .option("path", qdir).load())
    val (updated, outcomes) = Runner.processItems(staticBatch)
    store.ItemStore.commitBatch(
      updated.select(graft.model.WorkItem.schema.fieldNames
        .map(org.apache.spark.sql.functions.col): _*),
      results, s"$inst-0")
    outcomes.unpersist()
    // outcome-aware release: the committed wave is RETIRED (done-marked +
    // released), not handed back raw
    Main.run(spark, "work-release", qdir,
      Map("instance" -> inst, "results" -> results))
    assert(WorkQueueLedger.entries(spark, s"$qdir/_ledger").count() === 0)
    assert(WorkQueueLedger.doneEntries(spark, s"$qdir/_ledger_done")
      .select("itemID").as[String].collect().toSet === Set("P1", "P2"),
      "a committed wave's ids must land in the done set, not re-open")
    // a re-drain must NOT re-execute them — that's the double-execution
    // the cross-check exists to prevent
    Main.run(spark, "work", qdir, Map(
      "results" -> s"$base/results2", "checkpoint" -> s"$base/ckpt2",
      "once" -> "1"))
    assert(store.ItemStore.load(spark, s"$base/results2").count() === 0)
  }

  test("WTE recovery: reset --keep-tasks resumes a budget-cut nested item " +
      "SKIP-DONE (runner.py:101-105 semantics)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wte").toFile
    val out = new java.io.File(dir, "ran.txt").getAbsolutePath
    // both tasks sleep past the budget, then record themselves. The
    // budget gates LAUNCHES (a running process is never killed), so with
    // one partition the first task runs to completion (~4 s > the 3 s
    // budget) and the second's launch check cuts it Wall_Time_Exceeded
    // without running — deterministic whichever task the partition
    // schedules first.
    val sh = new java.io.File(dir, "task.sh")
    val ws = new java.io.PrintWriter(sh)
    ws.println("sleep 4")
    ws.println(s"""echo "$$1" >> $out""")
    ws.close()
    val f = new java.io.File(dir, "items.txt")
    val w = new java.io.PrintWriter(f)
    w.println("itemID|taskID|TaskScript|TaskArgs")
    w.println(s"Cut|g|sh ${sh.getAbsolutePath}|a,b")
    w.close()
    val table = new java.io.File(dir, "t").getAbsolutePath
    Main.run(spark, "import", table,
      Map("input" -> f.getAbsolutePath, "delim" -> "|", "nested-delim" -> ","))
    Main.run(spark, "run", table, Map("budget" -> "3", "parallelism" -> "1"))
    val afterCut = store.ItemStore.load(spark, table)
    assert(afterCut.select($"itemState").as[String].head() === "Wall_Time_Exceeded")
    assert(afterCut.select($"logLength").as[Long].head() === 1L)
    val ranFirst = scala.io.Source.fromFile(out).getLines().toSeq
    assert(ranFirst.size === 1, s"exactly one task must have run: $ranFirst")
    // partial reset: state back to todo, the completed task STAYS done
    Main.run(spark, "reset", table, Map("state" -> "Wall_Time_Exceeded",
      "to" -> "todo", "keep-tasks" -> "1"))
    val reset = store.ItemStore.load(spark, table)
    assert(reset.select($"itemState").as[String].head() === "todo")
    assert(reset.select(size(org.apache.spark.sql.functions.map_filter(
      $"nestedTasks", (_, v) => v.getField("status") === "todo"))).as[Int]
      .head() === 1, "the completed task must survive a --keep-tasks reset")
    // resume: ONLY the cut task executes (skip-done), item completes
    Main.run(spark, "run", table, Map.empty)
    val done = store.ItemStore.load(spark, table)
    assert(done.select($"itemState").as[String].head() === "done")
    assert(done.select($"logLength").as[Long].head() === 2L)
    val ranAll = scala.io.Source.fromFile(out).getLines().toSeq
    assert(ranAll.size === 2 && ranAll.toSet === Set("a", "b"),
      s"skip-done resume must run each task exactly once, got $ranAll")
  }

  test("work --takeover-after reclaims a dead contender's wave through " +
      "the CLI (opt-in heartbeat takeover)") {
    import graft.store.connector.{WorkQueueLedger, WorkQueueSource}
    val base = java.nio.file.Files.createTempDirectory("graft-cli-tk").toString
    val qdir = s"$base/q"
    val rows = Seq("K1", "K2", "K3").toDF("itemID")
      .selectExpr("itemID", "itemID AS taskID", "'todo' AS itemState",
        "CAST(0 AS LONG) AS logLength", "CAST(null AS LONG) AS nestedTaskCount")
    WorkQueueSource.append(rows.coalesce(1), qdir)
    // a dead dispatcher (never heartbeat) wedged K1+K2
    WorkQueueLedger.claim(spark, s"$qdir/_ledger",
      WorkQueueLedger.takeWave(Seq("K1", "K2").toDF("itemID")),
      "dead-X", "dead-X-batch-0")
    Main.run(spark, "work", qdir, Map(
      "results" -> s"$base/results", "checkpoint" -> s"$base/ckpt",
      "once" -> "1", "takeover-after" -> "60000"))
    val out = store.ItemStore.load(spark, s"$base/results")
    assert(out.select("itemID").as[String].collect().toSet ===
      Set("K1", "K2", "K3"), "the stale wave must be reclaimed and drained")
    assert(WorkQueueLedger.entries(spark, s"$qdir/_ledger").count() === 0)
  }

  test("workerIdentity: 128-bit, stable per path, distinct across paths") {
    val a = Main.workerIdentity("/tmp/ckpt-a")
    val b = Main.workerIdentity("/tmp/ckpt-b")
    assert(a === Main.workerIdentity("/tmp/ckpt-a"), "identity must be stable")
    assert(a !== b, "distinct checkpoints must get distinct identities")
    // worker- prefix + 32 hex chars = the full 128-bit digest, not a
    // truncated word (colliding identities silently skip batches)
    assert(a.matches("worker-[0-9a-f]{32}"), a)
    // relative and absolute spellings of one path agree (canonicalized)
    val rel = Main.workerIdentity("ckpt-rel")
    val abs = Main.workerIdentity(
      new java.io.File("ckpt-rel").getAbsolutePath)
    assert(rel === abs)
  }

  test("manifest-driven reset restarts exactly the listed items (manager.py:465-549)") {
    val table = java.nio.file.Files.createTempDirectory("graft-cli-store").toString + "/t"
    Main.run(spark, "import", table,
      Map("input" -> writeFixture(), "delim" -> "|", "nested-delim" -> ","))
    Main.run(spark, "run", table, Map.empty)
    assert(store.ItemStore.load(spark, table)
      .filter($"itemState" === "done").count() === 2)

    val mf = java.io.File.createTempFile("graft-manifest", ".json")
    val w = new java.io.PrintWriter(mf)
    w.println("""{"items": ["Nest"], "to": "todo"}""")
    w.close()
    Main.run(spark, "reset", table, Map("manifest" -> mf.getAbsolutePath))

    // no .cache() here: Spark would re-serve the cached relation for the
    // same-path load after the second reset below (plan-identity cache reuse)
    val after = store.ItemStore.load(spark, table)
    // only the listed item restarted — full wipe (state, log, tasks)
    val nest = after.filter($"itemID" === "Nest")
    assert(nest.select($"itemState").as[String].head() === "todo")
    assert(nest.select($"logLength").as[Long].head() === 0L)
    assert(nest.select(size(org.apache.spark.sql.functions.map_filter(
      $"nestedTasks", (_, v) => v.getField("status") === "todo"))).as[Int].head() === 2)
    // the unlisted item is untouched
    val one = after.filter($"itemID" === "One")
    assert(one.select($"itemState").as[String].head() === "done")
    assert(one.select($"logLength").as[Long].head() === 3L) // `seq 3` -> 3 stdout lines (A5)

    // a bare-array manifest works too, with --to taking precedence
    val mf2 = java.io.File.createTempFile("graft-manifest2", ".json")
    val w2 = new java.io.PrintWriter(mf2)
    w2.println("""["One"]""")
    w2.close()
    Main.run(spark, "reset", table,
      Map("manifest" -> mf2.getAbsolutePath, "to" -> "Wall_Time_Exceeded"))
    assert(store.ItemStore.load(spark, table).filter($"itemID" === "One")
      .select($"itemState").as[String].head() === "Wall_Time_Exceeded")
  }

  test("corpus verbs: dedup → decontaminate → sample → pack over parquet") {
    val dir = java.nio.file.Files.createTempDirectory("graft-corpus").toString
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", "en"),
      (2L, "the quick brown fox jumps over the lazy dog", "en"), // exact dup
      (3L, "une phrase totalement differente ici pour tester", "fr"),
      (4L, "benchmark sentence held out for evaluation purposes only", "en"))
      .toDF("doc_id", "text", "lang")
    docs.write.parquet(s"$dir/corpus")
    docs.filter($"doc_id" === 4L).write.parquet(s"$dir/eval")

    Main.run(spark, "corpus", s"$dir/corpus",
      Map("op" -> "dedup", "output" -> s"$dir/deduped"))
    val deduped = spark.read.parquet(s"$dir/deduped")
    assert(deduped.count() === 3, "exact dup collapsed")
    assert(deduped.filter($"doc_id" === 2L).count() === 0, "min-id survivor wins")

    Main.run(spark, "corpus", s"$dir/deduped",
      Map("op" -> "decontaminate", "eval" -> s"$dir/eval",
        "output" -> s"$dir/clean"))
    val clean = spark.read.parquet(s"$dir/clean")
    assert(clean.filter($"doc_id" === 4L).count() === 0, "leaked eval doc removed")
    assert(clean.count() === 2)

    Main.run(spark, "corpus", s"$dir/clean",
      Map("op" -> "sample", "rates" -> "en=1000,fr=1000",
        "output" -> s"$dir/sampled"))
    assert(spark.read.parquet(s"$dir/sampled").count() === 2, "rate 1000 keeps all")

    Main.run(spark, "corpus", s"$dir/sampled",
      Map("op" -> "pack", "window" -> "8", "shards" -> "2",
        "output" -> s"$dir/packed"))
    val packed = spark.read.parquet(s"$dir/packed")
    assert(packed.count() === 2)
    assert(packed.columns.toSet ===
      Set("doc_id", "shard", "n_tokens", "offset", "first_window", "n_windows"))
  }

  test("corpus ppjoin / snm and events autocorr verbs") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ppverb").toString
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "a wholly different document about other things entirely"))
      .toDF("doc_id", "text")
    docs.write.parquet(s"$dir/corpus")

    // one-shot exact join
    Main.run(spark, "corpus", s"$dir/corpus",
      Map("op" -> "ppjoin", "threshold" -> "0.5", "output" -> s"$dir/pairs"))
    val pairs = spark.read.parquet(s"$dir/pairs")
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))

    // incremental: build the index from --corpus, pair a batch against it
    val batch = Seq((10L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    batch.write.parquet(s"$dir/batch")
    Main.run(spark, "corpus", s"$dir/batch",
      Map("op" -> "ppjoin", "threshold" -> "0.5", "index-dir" -> s"$dir/ix",
        "corpus" -> s"$dir/corpus", "output" -> s"$dir/incpairs"))
    val inc = spark.read.parquet(s"$dir/incpairs")
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(inc === Set((1L, 10L), (2L, 10L)))
    // second run reuses the persisted index (no --corpus needed)
    Main.run(spark, "corpus", s"$dir/batch",
      Map("op" -> "ppjoin", "threshold" -> "0.5", "index-dir" -> s"$dir/ix",
        "output" -> s"$dir/incpairs2"))
    assert(spark.read.parquet(s"$dir/incpairs2")
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet === inc)

    // snm verb
    Main.run(spark, "corpus", s"$dir/corpus",
      Map("op" -> "snm", "threshold" -> "0.5", "window" -> "2",
        "output" -> s"$dir/snm"))
    assert(spark.read.parquet(s"$dir/snm")
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
      === Set((1L, 2L)))

    // substring verb: docs 1 and 2 share the >=20-char normalized prefix
    // "alpha beta gamma delta epsilon zeta eta "; doc 3 shares nothing
    Main.run(spark, "corpus", s"$dir/corpus",
      Map("op" -> "substring", "length" -> "20", "output" -> s"$dir/ss"))
    assert(spark.read.parquet(s"$dir/ss")
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
      === Set((1L, 2L)))
    // the retired --hashed switch fails loudly and writes nothing
    val hashed = intercept[IllegalArgumentException](
      Main.run(spark, "corpus", s"$dir/corpus",
        Map("op" -> "substring", "length" -> "20", "hashed" -> "true",
          "output" -> s"$dir/ssh")))
    assert(hashed.getMessage.contains("--hashed") &&
      hashed.getMessage.contains("substringPairs"), hashed.getMessage)
    assert(!new java.io.File(s"$dir/ssh").exists())
    // incremental: build the gram index from --corpus, pair a batch
    Main.run(spark, "corpus", s"$dir/batch",
      Map("op" -> "substring", "length" -> "20", "index-dir" -> s"$dir/ssix",
        "corpus" -> s"$dir/corpus", "output" -> s"$dir/ssinc"))
    assert(spark.read.parquet(s"$dir/ssinc")
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
      === Set((1L, 10L), (2L, 10L)))
    // second run reuses the persisted index (no --corpus needed)
    Main.run(spark, "corpus", s"$dir/batch",
      Map("op" -> "substring", "length" -> "20", "index-dir" -> s"$dir/ssix",
        "output" -> s"$dir/ssinc2"))
    assert(spark.read.parquet(s"$dir/ssinc2")
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
      === Set((1L, 10L), (2L, 10L)))

    // a partial index directory (crash mid-write: files but no _SUCCESS)
    // must be REBUILT, not trusted — before the atomic-publish fix this
    // silently under-paired against whatever fragment survived
    val partial = new java.io.File(s"$dir/sspart/grams")
    partial.mkdirs()
    java.nio.file.Files.writeString(
      partial.toPath.resolve("part-00000.parquet"), "not a parquet file")
    Main.run(spark, "corpus", s"$dir/batch",
      Map("op" -> "substring", "length" -> "20", "index-dir" -> s"$dir/sspart",
        "corpus" -> s"$dir/corpus", "output" -> s"$dir/sspairs"))
    assert(spark.read.parquet(s"$dir/sspairs")
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
      === Set((1L, 10L), (2L, 10L)))
    // the rebuilt index was published atomically: _SUCCESS present, no
    // leftover temp siblings
    assert(new java.io.File(s"$dir/sspart/grams/_SUCCESS").isFile)
    assert(new java.io.File(s"$dir/sspart").listFiles()
      .count(_.getName.startsWith("grams")) === 1)

    // events autocorr verb over the real events table
    Main.run(spark, "events", s"$sf0001/events.parquet",
      Map("op" -> "autocorr", "lag" -> "1", "output" -> s"$dir/ac"))
    val ac = spark.read.parquet(s"$dir/ac")
    assert(ac.count() > 0)
    assert(ac.columns.toSet === Set("key", "lag", "n_pairs", "r"))
  }

  test("corpus dedup --survivor quality keeps the best duplicate, not the min id") {
    val dir = java.nio.file.Files.createTempDirectory("graft-quality").toString
    val base = ("alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo sierra tango " +
      "uniform victor whiskey xray yankee zulu one two three four five six " +
      "seven eight nine ten eleven twelve thirteen fourteen")
    val docs = Seq(
      // lower id but junk-punctuation tail -> lower quality
      (1L, base + " !!! ??? ,,,", "en"),
      // higher id, stopword-rich alpha tail -> higher quality
      (2L, base + " the and of", "en"),
      (3L, "une phrase totalement differente ici pour tester", "fr"))
      .toDF("doc_id", "text", "lang")
    docs.write.parquet(s"$dir/corpus")

    Main.run(spark, "corpus", s"$dir/corpus",
      Map("op" -> "dedup", "survivor" -> "quality", "output" -> s"$dir/best"))
    val kept = spark.read.parquet(s"$dir/best")
    assert(kept.columns.toSet === Set("doc_id", "text", "lang"),
      "quality policy returns a pure subset of the input schema")
    assert(kept.select($"doc_id").as[Long].collect().toSet === Set(2L, 3L))

    Main.run(spark, "corpus", s"$dir/corpus",
      Map("op" -> "dedup", "output" -> s"$dir/minid"))
    assert(spark.read.parquet(s"$dir/minid")
      .select($"doc_id").as[Long].collect().toSet === Set(1L, 3L))
  }

  test("bpe, search, events, and graph verbs round-trip through parquet") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cli2")
    val docsP = s"$dir/docs"
    Seq((1L, "alpha beta gamma alpha beta"), (2L, "alpha beta delta"),
      (3L, "gamma delta epsilon"))
      .toDF("doc_id", "text").write.parquet(docsP)

    Main.run(spark, "corpus", docsP, Map("op" -> "bpe", "rounds" -> "2",
      "output" -> s"$dir/merges", "tokenize-output" -> s"$dir/toks"))
    val merges = spark.read.parquet(s"$dir/merges")
      .orderBy("round").as[(Long, String, String, Long)].collect()
    assert(merges.length === 2 && merges(0)._2 === "alpha" && merges(0)._3 === "beta")
    assert(spark.read.parquet(s"$dir/toks").count() === 3)

    Main.run(spark, "corpus", docsP, Map("op" -> "search",
      "terms" -> "alpha,beta", "k" -> "5", "output" -> s"$dir/hits"))
    val hits = spark.read.parquet(s"$dir/hits").orderBy("rank")
      .select("doc_id").as[Long].collect()
    assert(hits.toSeq === Seq(1L, 2L))

    // hybrid mode: doc 2 is in both the lexical list (has alpha+beta) and
    // the vector list (nearest to query vec 1), so it must fuse to rank 1
    val embP = s"$dir/embs"
    Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding").write.parquet(embP)
    Main.run(spark, "corpus", docsP, Map("op" -> "search", "mode" -> "hybrid",
      "terms" -> "alpha,beta", "k" -> "3", "embeddings" -> embP,
      "query-vec" -> "1", "output" -> s"$dir/hybrid_hits"))
    val hh = spark.read.parquet(s"$dir/hybrid_hits").orderBy("rank")
      .select("doc_id").as[Long].collect()
    assert(hh.length === 3 && hh.head === 2L)

    val evP = s"$dir/events"
    (1 to 40).map(i => (i.toLong % 5, new java.sql.Timestamp(i * 60000L),
        i.toLong, if (i % 3 == 0) "signup" else "view", i * 1.5))
      .toDF("user_id", "ts", "event_id", "event_type", "value")
      .write.parquet(evP)
    Main.run(spark, "events", evP, Map("op" -> "cohorts",
      "output" -> s"$dir/cohorts"))
    assert(spark.read.parquet(s"$dir/cohorts").count() >= 1)

    val basketP = s"$dir/baskets"
    Seq((1L, 10L), (1L, 20L), (1L, 30L), (2L, 10L), (2L, 20L))
      .toDF("basket", "item").write.parquet(basketP)
    Main.run(spark, "graph", basketP, Map("op" -> "triangles",
      "key-col" -> "basket", "item-col" -> "item",
      "output" -> s"$dir/tri"))
    assert(spark.read.parquet(s"$dir/tri").as[Long].head() === 1L)

    val docs2P = s"$dir/docs2"
    Seq((1L, "alpha beta gamma alpha beta"), (2L, "alpha beta CHANGED"),
      (4L, "fresh row"))
      .toDF("doc_id", "text").write.parquet(docs2P)
    Main.run(spark, "corpus", docsP, Map("op" -> "diff",
      "other" -> docs2P, "output" -> s"$dir/diff"))
    val changes = spark.read.parquet(s"$dir/diff")
      .select("key", "change").as[(Long, String)].collect().toMap
    assert(changes === Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
  }

  test("vectors ann-build / ann-search round-trip a persisted IVF-PQ index") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cli-ann").toString
    val emb = s"$sf0001/embeddings.parquet"
    Main.run(spark, "vectors", emb,
      Map("op" -> "ann-build", "dim" -> "64", "output" -> s"$dir/idx"))
    // queries = first 10 vectors, searched through the persisted index
    spark.read.parquet(emb).filter($"vec_id" < 10)
      .write.parquet(s"$dir/queries")
    Main.run(spark, "vectors", emb,
      Map("op" -> "ann-search", "index-dir" -> s"$dir/idx",
        "queries" -> s"$dir/queries", "k" -> "10", "nprobe" -> "2",
        "output" -> s"$dir/hits"))
    val hits = spark.read.parquet(s"$dir/hits")
    assert(hits.count() === 100) // 10 queries x k=10
    assert(hits.columns.toSet ===
      Set("query_id", "neighbor_id", "rank", "adist"))
    // CLI search ≡ library search on the same index
    import org.apache.spark.sql.functions.{col, transform}
    val lib = graft.sim.AnnIndex.searchIvfPq(
      spark.read.parquet(s"$dir/queries")
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("embedding")),
      graft.sim.AnnIndex.load(spark, s"$dir/idx"),
      "vec_id", "embedding", 10, 2)
    assert(hits.as[(Long, Long, Long, Long)].collect().toSet ===
      lib.as[(Long, Long, Long, Long)].collect().toSet)
    // ann-append: a synthetic drop lands exactly once
    spark.read.parquet(emb).filter($"vec_id" >= 1990)
      .withColumn("vec_id", $"vec_id" + 10000)
      .write.parquet(s"$dir/drop")
    val before = graft.sim.AnnIndex.load(spark, s"$dir/idx").codes.count()
    Main.run(spark, "vectors", s"$dir/drop",
      Map("op" -> "ann-append", "index-dir" -> s"$dir/idx", "tag" -> "d1"))
    Main.run(spark, "vectors", s"$dir/drop",
      Map("op" -> "ann-append", "index-dir" -> s"$dir/idx", "tag" -> "d1"))
    val after = graft.sim.AnnIndex.load(spark, s"$dir/idx").codes.count()
    assert(after === before + spark.read.parquet(s"$dir/drop").count())
  }

  test("selection verbs: ccnet / dsir / quality keep corpus subsets") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cli-sel")
    val docsP = s"$dir/docs"
    // graded fluency within the en language so LM scores actually spread:
    // shared-phrase docs score high (common bigrams), unique-token docs low
    val rows = (1 to 12).map { i =>
      val text =
        if (i % 2 == 1) s"zzz qqq xxx $i yyy www vvv"
        else if (i <= 4) "the cat sat on the mat and the cat sat"
        else if (i <= 8) s"the cat sat on xq$i mat qq$i"
        else s"xr$i qs$i tu$i vw$i xy$i zk$i"
      (i.toLong, text, if (i % 2 == 0) "en" else "xx")
    }
    rows.toDF("doc_id", "text", "lang").write.parquet(docsP)

    // ccnet: keeping every tercile must return the whole corpus
    Main.run(spark, "corpus", docsP, Map("op" -> "ccnet",
      "keep" -> "head,middle,tail", "output" -> s"$dir/all"))
    assert(spark.read.parquet(s"$dir/all").count() === 12)
    // keeping only the head keeps a strict per-language subset
    Main.run(spark, "corpus", docsP, Map("op" -> "ccnet",
      "output" -> s"$dir/head"))
    val head = spark.read.parquet(s"$dir/head").count()
    assert(head > 0 && head < 12)

    // dsir toward the en half: k=4 rows survive, all selected rows exist
    val targetP = s"$dir/target"
    rows.filter(_._3 == "en").toDF("doc_id", "text", "lang")
      .write.parquet(targetP)
    Main.run(spark, "corpus", docsP, Map("op" -> "dsir",
      "target" -> targetP, "k" -> "4", "output" -> s"$dir/dsir"))
    val dsir = spark.read.parquet(s"$dir/dsir")
    assert(dsir.count() === 4)

    // quality: trained on lang=en labels; a permissive threshold keeps a
    // non-empty subset
    Main.run(spark, "corpus", docsP, Map("op" -> "quality",
      "min-score" -> "1", "output" -> s"$dir/qual"))
    assert(spark.read.parquet(s"$dir/qual").count() > 0)
  }

  test("vtable verbs: merge / history / feed / optimize / vacuum / read") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cli-vt").toString
    val root = s"$dir/t"
    store.VersionedTable.create(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("k", "s"))

    Seq((2L, "B"), (3L, "c")).toDF("k", "s").write.parquet(s"$dir/upd")
    Main.run(spark, "vtable", root,
      Map("op" -> "merge", "input" -> s"$dir/upd", "key" -> "k"))
    assert(store.VersionedTable.read(spark, root).orderBy("k")
      .as[(Long, String)].collect().toSeq ===
      Seq((1L, "a"), (2L, "B"), (3L, "c")))

    Main.run(spark, "vtable", root, Map("op" -> "feed", "from" -> "1",
      "to" -> "2", "key" -> "k", "output" -> s"$dir/feed"))
    val feed = spark.read.parquet(s"$dir/feed")
      .select("key", "change").as[(Long, String)].collect().toMap
    assert(feed === Map(1L -> "unchanged", 2L -> "changed", 3L -> "added"))

    Main.run(spark, "vtable", root,
      Map("op" -> "optimize", "target-rows" -> "1000"))
    Main.run(spark, "vtable", root, Map("op" -> "vacuum", "retain" -> "1"))
    Main.run(spark, "vtable", root,
      Map("op" -> "read", "output" -> s"$dir/out"))
    assert(spark.read.parquet(s"$dir/out").count() === 3)
    Main.run(spark, "vtable", root, Map("op" -> "history"))
  }

  test("profile, graph components, events resample and vtable lookup verbs") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cli-r5").toString

    // profile: one row per column
    Seq((1L, "x"), (2L, null)).toDF("k", "s").write.parquet(s"$dir/in")
    Main.run(spark, "profile", s"$dir/in", Map("output" -> s"$dir/prof"))
    val prof = spark.read.parquet(s"$dir/prof")
      .select("column", "n_nulls").as[(String, Long)].collect().toMap
    assert(prof === Map("k" -> 0L, "s" -> 1L))

    // graph components over a basket table with --min-support
    Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L), (3L, 30L), (3L, 40L),
      (4L, 30L), (4L, 40L)).toDF("basket", "sku").write.parquet(s"$dir/b")
    Main.run(spark, "graph", s"$dir/b", Map("op" -> "components",
      "key-col" -> "basket", "item-col" -> "sku",
      "min-support" -> "2", "output" -> s"$dir/cc"))
    val cc = spark.read.parquet(s"$dir/cc")
      .as[(Long, Long)].collect().toMap
    assert(cc === Map(10L -> 10L, 20L -> 10L, 30L -> 30L, 40L -> 30L))

    // events resample --fill lerp over an integral-ts events table
    Seq((1L, 0L * 60000000000L, 1L, "m", 10.0),
      (2L, 30L * 60000000000L, 1L, "m", 40.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.parquet(s"$dir/ev")
    Main.run(spark, "events", s"$dir/ev", Map("op" -> "resample",
      "fill" -> "lerp", "step-minutes" -> "10", "output" -> s"$dir/rs"))
    val rs = spark.read.parquet(s"$dir/rs")
      .select("bucket", "value").as[(Long, Double)].collect().toMap
    assert(rs === Map(0L -> 10.0, 1L -> 20.0, 2L -> 30.0, 3L -> 40.0))

    // vtable lookup on a bloom-indexed table
    val root = s"$dir/vt"
    store.VersionedTable.create(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("k", "s"), bloomKeys = Seq("k"))
    Main.run(spark, "vtable", root,
      Map("op" -> "lookup", "key" -> "k", "value" -> "2",
        "output" -> s"$dir/hit"))
    assert(spark.read.parquet(s"$dir/hit")
      .as[(Long, String)].collect().toSeq === Seq((2L, "b")))
  }

  test("vtable lookup reads --value in the key column's type: a done-set " +
      "id looks up by its string key") {
    import graft.store.connector.WorkQueueLedger
    val dir = java.nio.file.Files.createTempDirectory("graft-cli-lk").toString
    val done = s"$dir/done"
    WorkQueueLedger.markDone(spark, done,
      WorkQueueLedger.InHand(Array("D1", "D2", "D3")), "w-0")
    Main.run(spark, "vtable", done,
      Map("op" -> "lookup", "key" -> "itemID", "value" -> "D2",
        "output" -> s"$dir/hit"))
    assert(spark.read.parquet(s"$dir/hit").as[String].collect().toSeq ===
      Seq("D2"))
    Main.run(spark, "vtable", done,
      Map("op" -> "lookup", "key" -> "itemID", "value" -> "D9",
        "output" -> s"$dir/miss"))
    assert(spark.read.parquet(s"$dir/miss").count() === 0L)
  }

  test("kcore, ewma, transitions, overlap, and pps verbs") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cli2").toString
    // kcore: triangle + pendant chain, duplicated baskets for support 2
    val baskets = (1L to 2L).flatMap(rep => Seq(
      (rep * 10 + 1, 1L), (rep * 10 + 1, 2L), (rep * 10 + 1, 3L),
      (rep * 10 + 2, 3L), (rep * 10 + 2, 4L)))
    baskets.toDF("basket", "sku").write.parquet(s"$dir/b")
    Main.run(spark, "graph", s"$dir/b", Map("op" -> "kcore",
      "key-col" -> "basket", "item-col" -> "sku",
      "min-support" -> "2", "k" -> "2", "output" -> s"$dir/kc"))
    assert(spark.read.parquet(s"$dir/kc").as[(Long, Long)].collect().toMap
      === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))

    // events: ewma + transitions + overlap over one tiny integral-ts table
    Seq((1L, 0L, 1L, "view", 10.0), (2L, 60000000000L, 1L, "click", 20.0),
      (3L, 120000000000L, 1L, "view", 30.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.parquet(s"$dir/ev")
    Main.run(spark, "events", s"$dir/ev",
      Map("op" -> "ewma", "output" -> s"$dir/ew"))
    assert(spark.read.parquet(s"$dir/ew").count() === 3L)
    Main.run(spark, "events", s"$dir/ev", Map("op" -> "transitions",
      "gap-minutes" -> "120", "output" -> s"$dir/tr"))
    assert(spark.read.parquet(s"$dir/tr")
      .select("from_type", "to_type").as[(String, String)].collect().toSet
      === Set(("view", "click"), ("click", "view")))
    Main.run(spark, "events", s"$dir/ev", Map("op" -> "overlap",
      "set-col" -> "event_type", "item-col" -> "user_id",
      "output" -> s"$dir/ov"))
    assert(spark.read.parquet(s"$dir/ov")
      .select("exact_intersect").as[Long].head() === 1L)

    // corpus pps: weights 100 each, stride 250 → every 3rd-ish doc
    (1L to 10L).map(i => (i, s"d$i", 100L)).toDF("doc_id", "text", "n_chars")
      .write.parquet(s"$dir/docs")
    Main.run(spark, "corpus", s"$dir/docs", Map("op" -> "pps",
      "stride" -> "250", "output" -> s"$dir/pps"))
    assert(spark.read.parquet(s"$dir/pps").count() === 4L) // floor(1000/250)
  }

  test("vectors verb: covariance rows and pca projection through parquet") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vec").toString
    (1 to 50).map(i => (i.toLong,
      Seq(math.sin(i * 0.3).toFloat, math.cos(i * 0.3).toFloat,
        (i % 7).toFloat / 7f)))
      .toDF("vec_id", "embedding").write.parquet(s"$dir/emb")
    Main.run(spark, "vectors", s"$dir/emb", Map("op" -> "covariance",
      "dim" -> "3", "output" -> s"$dir/cov"))
    assert(spark.read.parquet(s"$dir/cov").count() === 6L) // 3*4/2
    Main.run(spark, "vectors", s"$dir/emb", Map("op" -> "pca",
      "dim" -> "3", "components" -> "2", "output" -> s"$dir/pca"))
    val proj = spark.read.parquet(s"$dir/pca")
    assert(proj.count() === 50L)
    import org.apache.spark.sql.functions.size
    assert(proj.select(size($"projected")).as[Int].collect().forall(_ == 2))
  }
}
