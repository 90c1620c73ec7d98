package graft.store

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.store.connector.{WorkQueueLedger, WorkQueueSource}

/** The wave-commit claim protocol: exactly-once item claims across
  * contending dispatchers through read-validate-commit on the table
  * version — no per-item lock files anywhere.
  */
class WorkQueueLedgerSpec extends SparkSpec {
  import spark.implicits._

  private def ids(xs: String*): DataFrame = xs.toDF("itemID")

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-ledger").toString + "/l"

  private def won(d: DataFrame): Set[String] =
    d.as[String].collect().toSet

  test("sequential contention: second claimer wins only the unclaimed ids") {
    val root = tmp()
    val a = WorkQueueLedger.claim(spark, root, ids("1", "2", "3"), "A", "a-1")
    assert(won(a) === Set("1", "2", "3"))
    val b = WorkQueueLedger.claim(spark, root, ids("2", "3", "4"), "B", "b-1")
    assert(won(b) === Set("4"))
    assert(WorkQueueLedger.entries(spark, root).count() === 4)
  }

  test("replayed wave tag returns the ORIGINAL wins and appends nothing") {
    val root = tmp()
    val first = won(WorkQueueLedger.claim(spark, root, ids("1", "2"), "A", "a-1"))
    val vAfter = VersionedTable.latestVersion(spark, root).get
    // at-least-once replay: same tag, even a different (larger) want-set —
    // the wave must not claim anything new
    val replay = won(WorkQueueLedger.claim(spark, root, ids("1", "2", "3"), "A", "a-1"))
    assert(replay === first)
    assert(VersionedTable.latestVersion(spark, root).get === vAfter,
      "a replayed wave must not commit a new version")
  }

  test("appendIfVersion: stale parent refused, fresh parent accepted") {
    val root = tmp()
    VersionedTable.create(spark, root, Seq(("x", 1L)).toDF("k", "v"))
    val v1 = VersionedTable.latestVersion(spark, root).get
    assert(VersionedTable.appendIfVersion(spark, root,
      Seq(("y", 2L)).toDF("k", "v"), v1))
    assert(!VersionedTable.appendIfVersion(spark, root,
      Seq(("z", 3L)).toDF("k", "v"), v1),
      "the parent advanced — the conditional commit must refuse, not rebase")
    assert(VersionedTable.read(spark, root).count() === 2)
  }

  test("live race: two claimers over the same ids partition them exactly") {
    val root = tmp()
    val all = (1 to 200).map(_.toString)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val fa = Future(won(WorkQueueLedger.claim(spark, root,
      ids(all: _*), "A", "a-race")))
    val fb = Future(won(WorkQueueLedger.claim(spark, root,
      ids(all: _*), "B", "b-race")))
    val (wa, wb) = (Await.result(fa, Duration.Inf), Await.result(fb, Duration.Inf))
    assert((wa & wb) === Set.empty, s"an item was won twice: ${wa & wb}")
    assert((wa | wb) === all.toSet, "every item claimed exactly once")
    assert(WorkQueueLedger.entries(spark, root).count() === 200)
  }

  test("live race at 4 contenders: the unbounded backoff CAS still " +
      "partitions every id exactly once") {
    val root = tmp()
    val all = (1 to 120).map(_.toString)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    // overlapping (not identical) want-sets, so contenders both race on
    // shared ids AND carry exclusive ones — the realistic multi-queue
    // overlap shape; unbounded retry (default) must converge, not throw
    val wants = Seq(
      all.take(80), all.slice(20, 100), all.slice(40, 120), all)
    val futs = wants.zipWithIndex.map { case (w, i) =>
      Future(won(WorkQueueLedger.claim(spark, root,
        ids(w: _*), s"W$i", s"w$i-race")))
    }
    val wins = futs.map(Await.result(_, Duration.Inf))
    for (i <- wins.indices; j <- wins.indices if i < j)
      assert((wins(i) & wins(j)) === Set.empty,
        s"won twice by W$i and W$j: ${wins(i) & wins(j)}")
    assert(wins.reduce(_ | _) === all.toSet, "every id claimed exactly once")
    assert(WorkQueueLedger.entries(spark, root).count() === 120)
  }

  test("release drops a wave's claims; ids become claimable again") {
    val root = tmp()
    WorkQueueLedger.claim(spark, root, ids("1", "2"), "A", "a-1")
    assert(WorkQueueLedger.release(spark, root, "a-1"))
    assert(!WorkQueueLedger.release(spark, root, "a-1"), "release is tagged")
    val again = won(WorkQueueLedger.claim(spark, root, ids("1", "2"), "B", "b-1"))
    assert(again === Set("1", "2"))
  }

  private def dataFiles(root: String): Set[String] = {
    val d = new java.io.File(root, "data")
    Option(d.listFiles()).getOrElse(Array.empty)
      .flatMap(t => Option(t.listFiles()).getOrElse(Array.empty))
      .map(f => s"${f.getParentFile.getName}/${f.getName}")
      .filterNot(_.contains("/_")).toSet
  }

  test("release is MANIFEST-ONLY for wave files: no data IO, stats-proved drop") {
    val root = tmp()
    WorkQueueLedger.claim(spark, root,
      ids((1 to 50).map(_.toString): _*), "A", "a-1")
    WorkQueueLedger.claim(spark, root, ids("x", "y"), "B", "b-1")
    val before = dataFiles(root)
    assert(WorkQueueLedger.release(spark, root, "a-1"))
    val after = dataFiles(root)
    // a releasing rewrite would CREATE files; the stats-proved drop only
    // stops referencing some — same physical set, fewer manifest entries
    assert((after -- before).isEmpty,
      s"release wrote data files: ${after -- before}")
    assert(won(WorkQueueLedger.entries(spark, root).select("itemID")) ===
      Set("x", "y"))
  }

  test("releaseInstance hands back every wave a dead dispatcher holds") {
    val root = tmp()
    WorkQueueLedger.claim(spark, root, ids("1", "2"), "dead", "dead-batch-0")
    WorkQueueLedger.claim(spark, root, ids("3"), "dead", "dead-batch-1")
    WorkQueueLedger.claim(spark, root, ids("4"), "alive", "alive-batch-0")
    assert(WorkQueueLedger.releaseInstance(spark, root, "dead", "e1"))
    assert(won(WorkQueueLedger.entries(spark, root).select("itemID")) ===
      Set("4"), "the live dispatcher's wave must survive")
    val again = won(WorkQueueLedger.claim(spark, root,
      ids("1", "2", "3"), "B", "b-take"))
    assert(again === Set("1", "2", "3"))
  }

  test("done set: markDone is tag-idempotent, notDone filters and file-prunes") {
    val root = tmp() + "-done"
    val want = ids("1", "2", "3", "4")
    // empty done set: everything passes through
    assert(won(WorkQueueLedger.notDone(spark, root, want)) ===
      Set("1", "2", "3", "4"))
    assert(WorkQueueLedger.markDone(spark, root, ids("2", "3"), "t-0"))
    assert(!WorkQueueLedger.markDone(spark, root, ids("2", "3"), "t-0"),
      "a replayed wave appends nothing")
    assert(won(WorkQueueLedger.notDone(spark, root, want)) === Set("1", "4"))
    assert(won(WorkQueueLedger.doneEntries(spark, root).select("itemID")) ===
      Set("2", "3"))
    // probe ids disjoint from every done file's range: the pruned path
    // reads NO done files and returns the want set unchanged
    assert(won(WorkQueueLedger.notDone(spark, root, ids("zz"))) === Set("zz"))
  }

  test("notDone drops done ids whose UTF-16 and code-point orders differ") {
    val done = tmp() + "-done"
    // "a\uFF01" sorts before the emoji "a\uD83D\uDE00" in code-point order
    // (parquet's footer order) and after it in Java's UTF-16 order
    val (fw, emoji) = ("a\uFF01", "a\uD83D\uDE00")
    assert(WorkQueueLedger.markDone(spark, done, ids(fw, emoji).coalesce(1), "t-0"))
    assert(VersionedTable.snapshot(spark, done).files.filter(_.rows > 0)
      .map(f => (f.mins("itemID"), f.maxs("itemID"))) === Seq((fw, emoji)),
      "fixture: one done file ranging fw..emoji")
    assert(won(WorkQueueLedger.notDone(spark, done, ids(fw))) === Set.empty)
    assert(won(WorkQueueLedger.notDone(spark, done, ids(emoji))) === Set.empty)
    assert(won(WorkQueueLedger.notDone(spark, done, ids(fw, emoji))) === Set.empty)
    assert(won(WorkQueueLedger.notDone(spark, done, ids(fw, emoji, "b"))) === Set("b"))
  }

  test("ledgerDispatcher end-to-end over a connector queue: exactly-once outcomes") {
    import graft.exec.StreamingRunner
    val dir = java.nio.file.Files.createTempDirectory("graft-leddisp").toFile
    val queue = new java.io.File(dir, "queue").toString
    val results = new java.io.File(dir, "results").toString
    val ledger = new java.io.File(dir, "ledger").toString
    def rows(xs: String*) = xs.toSeq.toDF("itemID")
      .selectExpr("itemID", "itemID AS taskID", "'todo' AS itemState",
        "CAST(0 AS LONG) AS logLength", "CAST(null AS LONG) AS nestedTaskCount")
    WorkQueueSource.append(rows("A", "B").coalesce(1), queue)
    WorkQueueSource.append(rows("C").coalesce(1), queue)
    val q = StreamingRunner.ledgerDispatcher(
        StreamingRunner.queueWorkItems(
          StreamingRunner.queueStream(spark, queue, Some(1))),
        results, ledger, "disp-1")
      .option("checkpointLocation", new java.io.File(dir, "ckpt").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    val out = ItemStore.load(spark, results)
    assert(out.count() === 3)
    assert(won(out.select("itemID")) === Set("A", "B", "C"))
    // release cadence: after the drain the ledger holds only IN-FLIGHT
    // items (none), and the compact done set is the durable record
    assert(WorkQueueLedger.entries(spark, ledger).count() === 0,
      "finished waves must be released, not accumulated")
    assert(won(WorkQueueLedger.doneEntries(spark, s"${ledger}_done")
      .select("itemID")) === Set("A", "B", "C"))
    // no lock files anywhere: the queue dir has no per-item locks
    assert(!new java.io.File(s"$queue/locks").exists() ||
      new java.io.File(s"$queue/locks").list().isEmpty)
  }

  test("crash between claim wave and outcome commit: a STABLE-identity restart " +
      "replays the wave and executes every item exactly once") {
    import graft.exec.StreamingRunner
    val dir = java.nio.file.Files.createTempDirectory("graft-ledcrash").toFile
    val queue = new java.io.File(dir, "queue").toString
    val results = new java.io.File(dir, "results").toString
    val ledger = new java.io.File(dir, "ledger").toString
    def rows(xs: String*) = xs.toSeq.toDF("itemID")
      .selectExpr("itemID", "itemID AS taskID", "'todo' AS itemState",
        "CAST(0 AS LONG) AS logLength", "CAST(null AS LONG) AS nestedTaskCount")
    WorkQueueSource.append(rows("A", "B", "C").coalesce(1), queue)
    // simulate the r14 VERDICT crash: the dispatcher claimed batch 0's
    // wave (ledger commit landed) and died BEFORE committing outcomes —
    // exactly the state a checkpoint restart resumes from
    val instance = "disp-stable"
    WorkQueueLedger.claim(spark, ledger, ids("A", "B", "C"), instance,
      s"$instance-batch-0")
    assert(WorkQueueLedger.entries(spark, ledger).count() === 3)
    // restart under the SAME identity (the work verb derives it from the
    // checkpoint, so a default-flag restart lands here): batch 0 replays,
    // the claim returns the ORIGINAL wave, and every item executes
    val q = StreamingRunner.ledgerDispatcher(
        StreamingRunner.queueWorkItems(
          StreamingRunner.queueStream(spark, queue)),
        results, ledger, instance)
      .option("checkpointLocation", new java.io.File(dir, "ckpt").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    val out = ItemStore.load(spark, results)
    assert(out.count() === 3, "the crashed wave's items must still execute")
    assert(won(out.select("itemID")) === Set("A", "B", "C"))
    assert(WorkQueueLedger.entries(spark, ledger).count() === 0)
    assert(won(WorkQueueLedger.doneEntries(spark, s"${ledger}_done")
      .select("itemID")) === Set("A", "B", "C"))
  }

  test("compactDone packs per-wave small files, keeps ranges tight and " +
      "membership exact") {
    val root = tmp() + "-cd"
    // 6 waves of disjoint, zero-padded id ranges — one small file each
    for (w <- 0 until 6)
      WorkQueueLedger.markDone(spark, root,
        ids((0 until 50).map(i => f"item-${w * 50 + i}%06d"): _*), s"w-$w")
    val before = VersionedTable.snapshot(spark, root).files.count(_.rows > 0)
    WorkQueueLedger.compactDone(spark, root, targetRows = 100L)
    val after = VersionedTable.snapshot(spark, root)
    assert(after.files.count(_.rows > 0) < before,
      s"packing must shrink the data file count (was $before)")
    // membership is unchanged and still exact
    assert(WorkQueueLedger.doneEntries(spark, root).count() === 300)
    assert(won(WorkQueueLedger.notDone(spark, root,
      ids(f"item-${7}%06d", "zzz"))) === Set("zzz"))
    // ranges stay TIGHT after packing (range-sorted): a probe outside the
    // id space overlaps no packed file at all
    val hit = after.files.filter(fe => fe.rows > 0 &&
      ((fe.mins.get("itemID"), fe.maxs.get("itemID")) match {
        case (Some(mn), Some(mx)) => mn <= "zzz" && "zzz" <= mx
        case _ => true
      }))
    assert(hit.isEmpty, s"out-of-range probe must prune every file, hit $hit")
    // graduated files (≥ target) carry BY REFERENCE through later compacts
    // — only a residual under-target tail may rewrite until it graduates
    val graduated = after.files.filter(_.rows >= 100L).map(_.path).toSet
    assert(graduated.nonEmpty, "packing at 100 rows must graduate files")
    WorkQueueLedger.compactDone(spark, root, targetRows = 100L)
    val files2 = VersionedTable.snapshot(spark, root).files.map(_.path).toSet
    assert(graduated.subsetOf(files2),
      "graduated files must carry by reference, not rewrite")
  }

  test("post-commit replay FINISHES retirement: outcomes stay exactly-once, " +
      "the dead wave is marked done and released") {
    import graft.exec.{Runner, StreamingRunner}
    val dir = java.nio.file.Files.createTempDirectory("graft-ledretire").toFile
    val queue = new java.io.File(dir, "queue").toString
    val results = new java.io.File(dir, "results").toString
    val ledger = new java.io.File(dir, "ledger").toString
    def rows(xs: String*) = xs.toSeq.toDF("itemID")
      .selectExpr("itemID", "itemID AS taskID", "'todo' AS itemState",
        "CAST(0 AS LONG) AS logLength", "CAST(null AS LONG) AS nestedTaskCount")
    WorkQueueSource.append(rows("A", "B").coalesce(1), queue)
    // simulate a crash BETWEEN the outcome commit and retirement: wave
    // claimed, outcomes committed under the dispatcher's batch key, no
    // markDone/release yet
    val instance = "ret-1"
    WorkQueueLedger.claim(spark, ledger, ids("A", "B"), instance,
      s"$instance-batch-0")
    val staticBatch = StreamingRunner.queueWorkItems(
      spark.read.format("graft.store.connector.WorkQueueSource")
        .option("path", queue).load())
    val (updated, outcomes) = Runner.processItems(staticBatch)
    ItemStore.commitBatch(
      updated.select(graft.model.WorkItem.schema.fieldNames
        .map(org.apache.spark.sql.functions.col): _*),
      results, s"$instance-0")
    outcomes.unpersist()
    assert(ItemStore.load(spark, results).count() === 2)
    // restart: batch 0 replays, finds its outcomes committed, and must
    // complete the retirement WITHOUT re-executing anything
    val q = StreamingRunner.ledgerDispatcher(
        StreamingRunner.queueWorkItems(
          StreamingRunner.queueStream(spark, queue)),
        results, ledger, instance)
      .option("checkpointLocation", new java.io.File(dir, "ckpt").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(ItemStore.load(spark, results).count() === 2,
      "replay must not double-commit the batch's outcomes")
    assert(WorkQueueLedger.entries(spark, ledger).count() === 0,
      "the dead wave must be released by the replay")
    assert(won(WorkQueueLedger.doneEntries(spark, s"${ledger}_done")
      .select("itemID")) === Set("A", "B"))
  }

  test("budget-cut wave: skipped ids stay OUT of the done set and a " +
      "re-drain executes them exactly once (r15 VERDICT #1)") {
    import graft.exec.{Runner, StreamingRunner}
    import graft.store.Importer
    val dir = java.nio.file.Files.createTempDirectory("graft-ledbudget").toFile
    val f = new java.io.File(dir, "items.txt")
    val w = new java.io.PrintWriter(f)
    w.println("itemID|taskID|TaskScript|TaskArgs")
    w.println("B1|g|echo ran|")
    w.println("B2|g|echo ran|")
    w.println("B3|g|echo ran|")
    w.close()
    val store = new java.io.File(dir, "store").toString
    val results = new java.io.File(dir, "results").toString
    val ledger = new java.io.File(dir, "ledger").toString
    ItemStore.save(Importer.importFile(spark, f.getAbsolutePath, "|", Some(",")), store)
    // zero budget: every item is fully skipped — Runner keeps them `todo`
    // with their script intact (claimable work pending)
    val q = StreamingRunner.ledgerDispatcher(
        StreamingRunner.itemStream(spark, store),
        results, ledger, "bud-1",
        Runner.RunConfig(budgetSeconds = Some(0.0)))
      .option("checkpointLocation", new java.io.File(dir, "ckpt").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    // outcomes committed (rows say todo), but the done set holds NOTHING:
    // done-marking a skipped id would permanently block it
    val out = ItemStore.load(spark, results)
    assert(out.count() === 3)
    assert(out.filter($"itemState" === "todo").count() === 3,
      "fully budget-skipped items must commit as todo")
    assert(WorkQueueLedger.doneEntries(spark, s"${ledger}_done").count() === 0,
      "budget-skipped ids must NOT enter the done set")
    assert(WorkQueueLedger.entries(spark, ledger).count() === 0,
      "the wave must still be released — skipped ids return to claimable")
    // re-drain without a budget (fresh checkpoint): every item executes
    // exactly once now
    val q2 = StreamingRunner.ledgerDispatcher(
        StreamingRunner.itemStream(spark, store),
        results, ledger, "bud-2")
      .option("checkpointLocation", new java.io.File(dir, "ckpt2").toString)
      .start()
    try q2.processAllAvailable() finally q2.stop()
    assert(WorkQueueLedger.doneEntries(spark, s"${ledger}_done")
      .select("itemID").as[String].collect().toSet === Set("B1", "B2", "B3"))
    // and a third drain wins nothing — the done set now blocks them
    val q3 = StreamingRunner.ledgerDispatcher(
        StreamingRunner.itemStream(spark, store),
        s"$dir/results3", ledger, "bud-3")
      .option("checkpointLocation", new java.io.File(dir, "ckpt3").toString)
      .start()
    try q3.processAllAvailable() finally q3.stop()
    assert(ItemStore.load(spark, s"$dir/results3").count() === 0)
  }

  test("post-claim done re-check: an id done-marked before a successful " +
      "claim is excluded even when the pre-claim filter raced past it") {
    val root = tmp()
    val done = root + "-done"
    // another dispatcher finished X: markDone committed BEFORE its release,
    // which preceded any claim we could win — so by the time our claim CAS
    // succeeds, X's done-ness is durably visible to a re-check
    WorkQueueLedger.markDone(spark, done, ids("X"), "other-retire")
    val wave = WorkQueueLedger.claim(spark, root, ids("X", "Y"), "B", "b-race")
    assert(won(wave) === Set("X", "Y"),
      "the raced claim wins both (the pre-claim filter was stale)")
    val exec = WorkQueueLedger.notDone(spark, done, wave)
    assert(won(exec) === Set("Y"),
      "the post-claim re-check must drop the already-done id")
  }

  test("done digest: overlapping-range waves resolve exactly, and the " +
      "digest ADVANCES across later markDone commits") {
    WorkQueueLedger.resetDigestCacheForTests()
    val done = tmp() + "-dig"
    // interleaved ids so every wave's range overlaps the done files —
    // the shape where range pruning holds nothing back (random-id analog)
    WorkQueueLedger.markDone(spark, done,
      ids((0 until 200 by 2).map(i => f"id-$i%04d"): _*), "w-0")
    val want1 = ids(f"id-${1}%04d", f"id-${2}%04d", f"id-${101}%04d",
      f"id-${100}%04d", "id-9999")
    assert(won(WorkQueueLedger.notDone(spark, done, want1)) ===
      Set("id-0001", "id-0101", "id-9999"),
      "digest path must drop exactly the done ids")
    // advance: a LATER wave marks more ids done; a stale digest that
    // missed them would be a false negative — the advance must fold the
    // new files in before probing
    WorkQueueLedger.markDone(spark, done, ids("id-0001", "id-9999"), "w-1")
    assert(won(WorkQueueLedger.notDone(spark, done, want1)) ===
      Set("id-0101"),
      "the digest must cover ids done-marked after it was built")
    // and removeDone re-opens ids without shrinking the digest (superset
    // stays exact through the file re-check)
    WorkQueueLedger.removeDone(spark, done, ids("id-0002"))
    assert(won(WorkQueueLedger.notDone(spark, done, want1)) ===
      Set("id-0101", "id-0002"),
      "a removed id must pass notDone again (stale-superset digest is safe)")
  }

  test("done digest survives EMPTY retire commits (an all-raced-out " +
      "wave's zero-row delta must not break the advance)") {
    WorkQueueLedger.resetDigestCacheForTests()
    val done = tmp() + "-dig0"
    WorkQueueLedger.markDone(spark, done,
      ids((0 until 100 by 2).map(i => f"e-$i%04d"): _*), "w-0")
    val want = ids("e-0001", "e-0002")
    // build the digest (overlapping range forces the digest path)
    assert(won(WorkQueueLedger.notDone(spark, done, want)) === Set("e-0001"))
    // a contending dispatcher whose whole win set was raced out retires
    // an EMPTY id set — a tagged zero-row commit in the done table
    WorkQueueLedger.markDone(spark, done,
      Seq.empty[String].toDF("itemID"), "w-empty")
    // the digest advance over the zero-row delta must neither throw nor
    // lose exactness
    assert(won(WorkQueueLedger.notDone(spark, done, want)) === Set("e-0001"))
    // and a subsequent REAL wave still folds in
    WorkQueueLedger.markDone(spark, done, ids("e-0001"), "w-1")
    assert(won(WorkQueueLedger.notDone(spark, done, want)) === Set.empty)
  }

  test("removeDone deletes exactly the listed ids; disjoint done files " +
      "carry by reference") {
    val done = tmp() + "-rm"
    WorkQueueLedger.markDone(spark, done,
      ids((0 until 50).map(i => f"a-$i%03d"): _*), "w-a")
    WorkQueueLedger.markDone(spark, done,
      ids((0 until 50).map(i => f"z-$i%03d"): _*), "w-z")
    val aFiles = VersionedTable.snapshot(spark, done).files
      .filter(_.maxs.get("itemID").exists(_ < "z")).map(_.path).toSet
    WorkQueueLedger.removeDone(spark, done, ids("z-000", "z-001"))
    assert(WorkQueueLedger.doneEntries(spark, done).count() === 98)
    assert(won(WorkQueueLedger.notDone(spark, done,
      ids("z-000", "z-001", "z-002", "a-000"))) === Set("z-000", "z-001"))
    assert(aFiles.subsetOf(
      VersionedTable.snapshot(spark, done).files.map(_.path).toSet),
      "files that cannot hold the removed ids must carry by reference")
  }

  test("heartbeat takeover: a stale instance's waves are released before " +
      "the batch claims; a live-beating instance is never stolen") {
    import graft.exec.StreamingRunner
    val dir = java.nio.file.Files.createTempDirectory("graft-ledtake").toFile
    val queue = new java.io.File(dir, "queue").toString
    val results = new java.io.File(dir, "results").toString
    val ledger = new java.io.File(dir, "ledger").toString
    def rows(xs: String*) = xs.toSeq.toDF("itemID")
      .selectExpr("itemID", "itemID AS taskID", "'todo' AS itemState",
        "CAST(0 AS LONG) AS logLength", "CAST(null AS LONG) AS nestedTaskCount")
    WorkQueueSource.append(rows("T1", "T2", "T3", "T4").coalesce(1), queue)
    // dead-A wedged T1+T2 (claimed, never beat — a crash predating its
    // first heartbeat, the worst case); live-C holds T3 and beats NOW
    WorkQueueLedger.claim(spark, ledger, ids("T1", "T2"), "dead-A",
      "dead-A-batch-0")
    WorkQueueLedger.claim(spark, ledger, ids("T3"), "live-C",
      "live-C-batch-0")
    WorkQueueLedger.beat(spark, ledger, "live-C")
    val q = StreamingRunner.ledgerDispatcher(
        StreamingRunner.queueWorkItems(
          StreamingRunner.queueStream(spark, queue)),
        results, ledger, "taker-B", takeoverMillis = Some(60000L))
      .option("checkpointLocation", new java.io.File(dir, "ckpt").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    val out = ItemStore.load(spark, results)
    assert(out.select("itemID").as[String].collect().toSet ===
      Set("T1", "T2", "T4"),
      "the stale wave must be taken over; the live-beating wave must not")
    // live-C's claim survives untouched
    assert(won(WorkQueueLedger.entries(spark, ledger).select("itemID")) ===
      Set("T3"))
  }

  test("maintenance cadence ticks on EMPTY wins too: a starved dispatcher " +
      "still bounds the ledger commit log (r15 VERDICT #3)") {
    import graft.exec.StreamingRunner
    val dir = java.nio.file.Files.createTempDirectory("graft-ledstarve").toFile
    val queue = new java.io.File(dir, "queue").toString
    val results = new java.io.File(dir, "results").toString
    val ledger = new java.io.File(dir, "ledger").toString
    def rows(xs: String*) = xs.toSeq.toDF("itemID")
      .selectExpr("itemID", "itemID AS taskID", "'todo' AS itemState",
        "CAST(0 AS LONG) AS logLength", "CAST(null AS LONG) AS nestedTaskCount")
    // 70 one-item files, every id ALREADY done: the dispatcher runs 70
    // triggers (maxFilesPerTrigger=1) and wins nothing in any of them —
    // exactly the starved shape whose maintenance the old guard skipped
    val all = (0 until 70).map(i => f"s-$i%03d")
    for (id <- all) WorkQueueSource.append(rows(id).coalesce(1), queue)
    WorkQueueLedger.markDone(spark, s"${ledger}_done", ids(all: _*), "seed")
    val q = StreamingRunner.ledgerDispatcher(
        StreamingRunner.queueWorkItems(
          StreamingRunner.queueStream(spark, queue, Some(1))),
        results, ledger, "starved-1")
      .option("checkpointLocation", new java.io.File(dir, "ckpt").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(ItemStore.load(spark, results).count() === 0)
    // 70 triggers → ≥70 empty claim commits; the batch-63 vacuum must
    // have pruned the log back to the head (bounded, not O(triggers))
    val logFiles = Option(new java.io.File(s"$ledger/_log").list())
      .map(_.count(!_.startsWith("."))).getOrElse(0)
    assert(logFiles < 40,
      s"starved dispatcher's ledger _log must be vacuum-bounded, got $logFiles")
  }

  test("ledger size tracks in-flight items, not lifetime throughput") {
    import graft.exec.StreamingRunner
    val dir = java.nio.file.Files.createTempDirectory("graft-ledsize").toFile
    val queue = new java.io.File(dir, "queue").toString
    val results = new java.io.File(dir, "results").toString
    val ledger = new java.io.File(dir, "ledger").toString
    def rows(xs: String*) = xs.toSeq.toDF("itemID")
      .selectExpr("itemID", "itemID AS taskID", "'todo' AS itemState",
        "CAST(0 AS LONG) AS logLength", "CAST(null AS LONG) AS nestedTaskCount")
    for (b <- 0 until 4)
      WorkQueueSource.append(rows((1 to 5).map(i => s"i$b-$i"): _*)
        .coalesce(1), queue)
    val q = StreamingRunner.ledgerDispatcher(
        StreamingRunner.queueWorkItems(
          StreamingRunner.queueStream(spark, queue, Some(1))),
        results, ledger, "disp-n")
      .option("checkpointLocation", new java.io.File(dir, "ckpt").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(ItemStore.load(spark, results).count() === 20)
    assert(WorkQueueLedger.entries(spark, ledger).count() === 0,
      "after N batches the ledger must hold 0 rows, not N waves")
    assert(WorkQueueLedger.doneEntries(spark, s"${ledger}_done").count() === 20)
  }

  test("atomic heartbeat: a live beater hammered by concurrent takeover " +
      "scans is never stolen (r16 VERDICT #1)") {
    val root = tmp()
    WorkQueueLedger.claim(spark, root, ids("L1"), "live", "live-batch-0")
    WorkQueueLedger.beat(spark, root, "live")
    @volatile var stop = false
    @volatile var beats = 0L
    val beater = new Thread(() => {
      while (!stop) { WorkQueueLedger.beat(spark, root, "live"); beats += 1 }
    })
    beater.setDaemon(true)
    beater.start()
    val stolen = scala.collection.mutable.Set.empty[String]
    val deadline = System.currentTimeMillis() + 3000
    var i = 0
    try {
      while (System.currentTimeMillis() < deadline) {
        stolen ++= WorkQueueLedger.takeoverStale(spark, root, "taker",
          60000L, s"hammer-$i")
        i += 1
      }
    } finally { stop = true; beater.join(2000) }
    assert(beats > 20, s"beater must actually hammer (got $beats beats)")
    assert(stolen.isEmpty,
      s"a live dispatcher beating every few ms was taken over: $stolen")
    assert(won(WorkQueueLedger.entries(spark, root).select("itemID")) ===
      Set("L1"), "the live wave must survive every scan")
  }

  test("a dispatcher crashing between beat-file create and first write is " +
      "reclaimable once the bound elapses (r17 ADVICE: no permanent stall)") {
    val root = tmp()
    WorkQueueLedger.claim(spark, root, ids("C1"), "crashed", "c-batch-0")
    val hb = new java.io.File(new java.io.File(root), "_heartbeats")
    hb.mkdirs()
    // the worst case the fix targets: the beat FILE exists (name stamped
    // before any byte lands) but is permanently empty — the old
    // Long.MaxValue fallback read it as fresh FOREVER
    val stamp = System.currentTimeMillis() - 120000L
    java.nio.file.Files.write(
      new java.io.File(hb, s"crashed.$stamp").toPath, Array.empty[Byte])
    // within the bound the torn beat still reads fresh (a live writer
    // mid-flight must not be stolen)
    assert(WorkQueueLedger.takeoverStale(spark, root, "taker", 600000L,
      "stall-0").isEmpty, "inside the bound a torn beat reads fresh")
    // past the bound (filename stamp is 120 s old) the wave is reclaimed
    assert(WorkQueueLedger.takeoverStale(spark, root, "taker", 60000L,
      "stall-1") === Seq("crashed"),
      "an empty beat file must not stall takeover forever")
  }

  test("dot-prefix sibling instances never cross-delete or cross-read " +
      "beats (r17 ADVICE: host.a vs host.a.b)") {
    val root = tmp()
    WorkQueueLedger.claim(spark, root, ids("A1"), "host.a", "a-batch-0")
    WorkQueueLedger.claim(spark, root, ids("B1"), "host.a.b", "b-batch-0")
    WorkQueueLedger.beat(spark, root, "host.a.b")
    // hammer the SHORTER sibling's beat: with bare prefix matching its
    // prune pass deleted host.a.b's live beats, so host.a.b then listed
    // as never-beat and its healthy wave was takeover-eligible
    (1 to 3).foreach(_ => WorkQueueLedger.beat(spark, root, "host.a"))
    val hb = new java.io.File(new java.io.File(root), "_heartbeats")
    assert(Option(hb.list()).getOrElse(Array.empty[String])
      .exists(_.startsWith("host.a.b.")),
      "host.a's beat prune must not delete host.a.b's beat files")
    assert(WorkQueueLedger.takeoverStale(spark, root, "taker", 60000L,
      "sib-0").isEmpty,
      "both live siblings must survive the takeover scan")
    assert(won(WorkQueueLedger.entries(spark, root).select("itemID")) ===
      Set("A1", "B1"))
  }

  test("unreadable heartbeat reads as FRESH, not stale-since-epoch " +
      "(r16 VERDICT #1: torn read must not steal a live wave)") {
    val root = tmp()
    WorkQueueLedger.claim(spark, root, ids("G1"), "garbled", "g-batch-0")
    // simulate a torn/garbled beat: the stamped file EXISTS but its
    // content does not parse
    val hb = new java.io.File(new java.io.File(root), "_heartbeats")
    hb.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(hb, s"garbled.${System.currentTimeMillis()}").toPath,
      "not-a-timestamp".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(WorkQueueLedger.takeoverStale(spark, root, "taker", 60000L,
      "torn-1").isEmpty,
      "a present-but-unreadable beat means a live writer — skip this tick")
    assert(won(WorkQueueLedger.entries(spark, root).select("itemID")) ===
      Set("G1"))
    // an instance with NO beat file at all is still takeover-eligible
    // (crash before first heartbeat — the pre-existing semantics)
    WorkQueueLedger.claim(spark, root, ids("D1"), "dead", "d-batch-0")
    assert(WorkQueueLedger.takeoverStale(spark, root, "taker", 60000L,
      "torn-2") === Seq("dead"))
  }

  test("a newer torn beat is not hidden by an older complete one: the " +
      "instance reads fresh inside the bound") {
    val root = tmp()
    WorkQueueLedger.claim(spark, root, ids("N1"), "torn", "n-batch-0")
    val hb = new java.io.File(new java.io.File(root), "_heartbeats")
    hb.mkdirs()
    // an old complete beat (120 s ago, parses) and a NEWER beat whose
    // writer crashed mid-flight (1 s ago, empty) — the live dispatcher
    // last beat 1 s ago, well inside a 60 s bound
    val now = System.currentTimeMillis()
    java.nio.file.Files.write(
      new java.io.File(hb, s"torn.${now - 120000L}").toPath,
      String.valueOf(now - 120000L)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.write(
      new java.io.File(hb, s"torn.${now - 1000L}").toPath, Array.empty[Byte])
    assert(WorkQueueLedger.takeoverStale(spark, root, "taker", 60000L,
      "newer-torn-0").isEmpty,
      "the newest beat stamp is 1 s old: the instance must not be taken over")
    assert(won(WorkQueueLedger.entries(spark, root).select("itemID")) ===
      Set("N1"))
  }
}
