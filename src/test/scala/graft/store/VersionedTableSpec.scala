package graft.store

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

class VersionedTableSpec extends SparkSpec {
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("graft-vt").toString

  test("create / append / read round-trip with time travel and history") {
    val root = tmp()
    val v1 = VersionedTable.create(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    val v2 = VersionedTable.append(spark, root, Seq((3L, "c")).toDF("k", "s"))
    assert((v1, v2) === ((1L, 2L)))

    assert(VersionedTable.read(spark, root).orderBy("k")
      .as[(Long, String)].collect().toSeq === Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // snapshot isolation in time: v1 is still exactly v1
    assert(VersionedTable.read(spark, root, Some(1L)).orderBy("k")
      .as[(Long, String)].collect().toSeq === Seq((1L, "a"), (2L, "b")))

    val hist = VersionedTable.history(spark, root)
      .orderBy("version").as[(Long, String, Long, Long)].collect().toSeq
    assert(hist.map(h => (h._1, h._2, h._4)) ===
      Seq((1L, "create", 2L), (2L, "append", 3L)))
  }

  test("concurrent appends: every commit lands exactly once, versions contiguous") {
    val root = tmp()
    VersionedTable.create(spark, root, Seq((0L, 0L)).toDF("k", "v"))
    val threads = (1 to 2).map { t =>
      new Thread(() => {
        for (i <- 1 to 3)
          VersionedTable.append(spark, root,
            Seq((t.toLong * 100 + i, t.toLong)).toDF("k", "v"))
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val rows = VersionedTable.read(spark, root).as[(Long, Long)].collect().toSeq
    assert(rows.length === 7, s"expected 7 rows, got $rows")
    assert(rows.map(_._1).distinct.length === 7, "no append may double-apply")
    assert(VersionedTable.latestVersion(spark, root) === Some(7L),
      "6 appends after create must land at versions 2..7 with no gaps")
  }

  test("merge upserts and carries non-intersecting files by reference") {
    val root = tmp()
    VersionedTable.create(spark, root,
      spark.range(0, 100).select($"id".as("k"), lit("old").as("s")))
    VersionedTable.append(spark, root,
      spark.range(1000, 1100).select($"id".as("k"), lit("old").as("s")))
    val lowFiles = VersionedTable.snapshot(spark, root).files
      .filter(_.maxs.get("k").exists(_.toLong < 1000)).map(_.path).toSet
    assert(lowFiles.nonEmpty)

    val upd = spark.range(1050, 1150).select($"id".as("k"), lit("new").as("s"))
    VersionedTable.merge(spark, root, upd, "k")

    val after = VersionedTable.read(spark, root)
    assert(after.count() === 250)  // 100 low + 100 high (50 updated) + 50 inserts
    assert(after.filter($"s" === "new").count() === 100)
    assert(after.filter($"k" === 1050L && $"s" === "new").count() === 1)
    assert(after.filter($"k" === 1049L && $"s" === "old").count() === 1)

    // the low-range file was outside the update key range: same file entry,
    // never rewritten
    val newFiles = VersionedTable.snapshot(spark, root).files.map(_.path).toSet
    assert(lowFiles.subsetOf(newFiles),
      "files disjoint from the merge key range must be carried by reference")
  }

  test("deleteByKeys removes exactly the keyed rows, prunes disjoint files") {
    val root = tmp()
    VersionedTable.create(spark, root,
      spark.range(0, 100).select($"id".as("k"), ($"id" * 2).as("v")))
    VersionedTable.append(spark, root,
      spark.range(1000, 1100).select($"id".as("k"), ($"id" * 2).as("v")))
    val lowFiles = VersionedTable.snapshot(spark, root).files
      .filter(_.maxs.get("k").exists(_.toLong < 1000)).map(_.path).toSet

    VersionedTable.deleteByKeys(spark, root,
      spark.range(1000, 1050).select($"id".as("k")), "k")
    val after = VersionedTable.read(spark, root)
    assert(after.count() === 150)
    assert(after.filter($"k" >= 1000L && $"k" < 1050L).count() === 0)
    assert(lowFiles.subsetOf(
      VersionedTable.snapshot(spark, root).files.map(_.path).toSet))
  }

  test("deleteByKeysString removes exactly the keyed rows, prunes disjoint " +
      "files by string range/bloom") {
    val root = tmp()
    VersionedTable.create(spark, root,
      spark.range(0, 100).select(
        org.apache.spark.sql.functions.format_string("a-%03d", $"id").as("k"),
        $"id".as("v")),
      bloomKeys = Seq("k"))
    VersionedTable.append(spark, root,
      spark.range(0, 100).select(
        org.apache.spark.sql.functions.format_string("z-%03d", $"id").as("k"),
        $"id".as("v")))
    val lowFiles = VersionedTable.snapshot(spark, root).files
      .filter(_.maxs.get("k").exists(_ < "z")).map(_.path).toSet

    VersionedTable.deleteByKeysString(spark, root,
      Seq("z-000", "z-001", "z-002", "missing").toDF("k"), "k")
    val after = VersionedTable.read(spark, root)
    assert(after.count() === 197)
    assert(after.filter($"k".isin("z-000", "z-001", "z-002")).count() === 0)
    // files whose range cannot hold the keys carry by reference
    assert(lowFiles.subsetOf(
      VersionedTable.snapshot(spark, root).files.map(_.path).toSet))
    // idempotent: a second run finds no stats hit, rows unchanged
    VersionedTable.deleteByKeysString(spark, root,
      Seq("z-000").toDF("k"), "k")
    assert(VersionedTable.read(spark, root).count() === 197)
  }

  test("vacuum minAgeMillis: young unreferenced files survive the leak " +
      "sweep (a contender's in-flight write is not a leak)") {
    val root = tmp()
    VersionedTable.create(spark, root, Seq((1L, "a")).toDF("k", "s"))
    VersionedTable.overwrite(spark, root, Seq((2L, "b")).toDF("k", "s"))
    val leakDir = s"$root/data/txn-leaked-${java.util.UUID.randomUUID()}"
    Seq((9L, "junk")).toDF("k", "s").write.parquet(leakDir)
    // grace window larger than the file's age: the sweep must skip it
    val removedYoung = VersionedTable.vacuum(spark, root, retainVersions = 1,
      minAgeMillis = 3600000L)
    assert(!removedYoung.exists(_.contains("txn-leaked")),
      s"young unreferenced files must survive the grace window: $removedYoung")
    assert(new java.io.File(leakDir).exists())
    // zero grace (the default): the same file is swept as a leak
    val removedOld = VersionedTable.vacuum(spark, root, retainVersions = 1)
    assert(removedOld.exists(_.contains("txn-leaked")),
      s"aged leak must be swept: $removedOld")
  }

  test("empty merge batch commits a no-op version") {
    val root = tmp()
    VersionedTable.create(spark, root, Seq((1L, "a")).toDF("k", "s"))
    val v = VersionedTable.merge(spark, root,
      Seq.empty[(Long, String)].toDF("k", "s"), "k")
    assert(v === 2L)
    assert(VersionedTable.read(spark, root).count() === 1)
  }

  test("vacuum sweeps unreferenced + leaked files; old versions fail cleanly") {
    val root = tmp()
    VersionedTable.create(spark, root, Seq((1L, "a")).toDF("k", "s"))
    VersionedTable.overwrite(spark, root, Seq((2L, "b"), (3L, "c")).toDF("k", "s"))
    // a crashed writer's leak: data files no manifest references
    Seq((9L, "junk")).toDF("k", "s").write
      .parquet(s"$root/data/txn-leaked-${java.util.UUID.randomUUID()}")

    val removed = VersionedTable.vacuum(spark, root, retainVersions = 1)
    assert(removed.nonEmpty, "v1's files and the leaked txn must be swept")

    assert(VersionedTable.read(spark, root).orderBy("k")
      .as[(Long, String)].collect().toSeq === Seq((2L, "b"), (3L, "c")))
    val err = intercept[IllegalArgumentException] {
      VersionedTable.read(spark, root, Some(1L))
    }
    assert(err.getMessage.contains("vacuumed"))
  }

  test("vacuum pruneTagsKeep caps the checkpointed tag history; kept tags " +
      "still refuse replay, data unaffected") {
    val root = tmp()
    VersionedTable.create(spark, root, Seq((0L, "z")).toDF("k", "s"))
    for (i <- 1 to 12)
      VersionedTable.appendBatch(spark, root,
        Seq((i.toLong, s"v$i")).toDF("k", "s"), s"t-$i")
    VersionedTable.resetSnapshotCacheForTests() // force log reconstruction
    VersionedTable.vacuum(spark, root, retainVersions = 1,
      pruneTagsKeep = Some(3))
    VersionedTable.resetSnapshotCacheForTests()
    val tags = VersionedTable.snapshot(spark, root).tags
    assert(tags === Seq("t-10", "t-11", "t-12"),
      s"checkpoint must carry exactly the newest 3 tags, got $tags")
    // a kept tag still refuses its replay; rows unchanged
    assert(!VersionedTable.appendBatch(spark, root,
      Seq((99L, "dup")).toDF("k", "s"), "t-12"))
    assert(VersionedTable.read(spark, root).count() === 13)
  }

  test("deleteStringEquals: stats-pure files drop manifest-only, mixed files " +
      "rewrite keeping non-matching and null rows") {
    val root = tmp()
    // pure file: every row tag=a (single constant-column file via one commit)
    VersionedTable.create(spark, root,
      Seq(("1", "a"), ("2", "a")).toDF("id", "tag").coalesce(1))
    // mixed file: tags a and b plus a null, in ONE file
    VersionedTable.append(spark, root,
      Seq(("3", "a"), ("4", "b"), ("5", null)).toDF("id", "tag").coalesce(1))
    def files(): Set[String] = {
      val d = new java.io.File(root, "data")
      Option(d.listFiles()).getOrElse(Array.empty)
        .flatMap(t => Option(t.listFiles()).getOrElse(Array.empty))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => s"${f.getParentFile.getName}/${f.getName}").toSet
    }
    val before = files()
    assert(VersionedTable.deleteStringEquals(spark, root, "tag", "a", "del-a"))
    assert(!VersionedTable.deleteStringEquals(spark, root, "tag", "a", "del-a"),
      "idempotence tag must refuse the replay")
    val out = VersionedTable.read(spark, root)
      .as[(String, String)].collect().toSet
    assert(out === Set(("4", "b"), ("5", null)),
      "b and NULL rows must survive; every tag=a row must go")
    // exactly one new file: the mixed file's rewrite (the pure file was
    // dropped by manifest diff alone)
    assert((files() -- before).size === 1, s"expected 1 rewrite, got ${files() -- before}")
  }

  test("changeFeed classifies adds, updates and deletes between versions") {
    val root = tmp()
    VersionedTable.create(spark, root,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s"))
    VersionedTable.merge(spark, root,
      Seq((2L, "B"), (4L, "d")).toDF("k", "s"), "k")
    VersionedTable.deleteByKeys(spark, root, Seq(3L).toDF("k"), "k")
    val feed = VersionedTable.changeFeed(spark, root, 1L, 3L, "k")
      .select("key", "change").as[(Long, String)].collect().toMap
    assert(feed === Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
  }

  test("fsck reports missing files and is clean on a healthy table") {
    val root = tmp()
    VersionedTable.create(spark, root, Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    assert(VersionedTable.fsck(spark, root)
      .filter($"status" =!= "ok").count() === 0)
    val victim = VersionedTable.snapshot(spark, root).files.head.path
    new java.io.File(s"$root/$victim").delete()
    val report = VersionedTable.fsck(spark, root)
      .as[(String, String)].collect().toMap
    assert(report(victim) === "missing")
  }

  test("readers of a pinned version are isolated from later commits") {
    val root = tmp()
    VersionedTable.create(spark, root, Seq((1L, "a")).toDF("k", "s"))
    val pinned = VersionedTable.read(spark, root, Some(1L))
    VersionedTable.overwrite(spark, root, Seq((2L, "b")).toDF("k", "s"))
    VersionedTable.merge(spark, root, Seq((3L, "c")).toDF("k", "s"), "k")
    // files of v1 still on disk (not vacuumed) — the pinned plan still reads v1
    assert(pinned.as[(Long, String)].collect().toSeq === Seq((1L, "a")))
  }

  // "a\uFF01" (fullwidth '!') sorts BEFORE "a\uD83D\uDE00" (an emoji, one
  // supplementary-plane code point) in code-point / UTF-8 byte order — the
  // order of parquet's footer min/max — but AFTER it in Java's UTF-16
  // order, where the emoji is a surrogate pair starting at 0xD83D
  private val (fw, emoji) = ("a\uFF01", "a\uD83D\uDE00")

  /** One table file holding rows (1, fw) and (2, emoji), its footer
    * range (fw, emoji).
    */
  private def mixedOrderTable(): String = {
    val root = tmp()
    VersionedTable.create(spark, root,
      Seq(("1", fw), ("2", emoji)).toDF("id", "k").coalesce(1))
    val ranges = VersionedTable.snapshot(spark, root).files
      .map(f => (f.mins("k"), f.maxs("k")))
    assert(ranges === Seq((fw, emoji)), "fixture: one file ranging fw..emoji")
    root
  }

  test("string point lookups find keys whose UTF-16 and code-point orders differ") {
    val root = mixedOrderTable()
    Seq(fw, emoji).foreach { k =>
      assert(VersionedTable.candidateFilesString(spark, root, "k", k).size === 1, k)
      assert(VersionedTable.pointLookupString(spark, root, "k", k)
        .select($"k").as[String].collect().toSeq === Seq(k), k)
    }
  }

  test("deleteByKeysString deletes keys whose UTF-16 and code-point orders " +
      "differ, under and over the bloom-probe cap") {
    // under the cap: lo/hi come from the collected keys
    val under = mixedOrderTable()
    VersionedTable.deleteByKeysString(spark, under, Seq(emoji).toDF("k"), "k")
    assert(VersionedTable.read(spark, under).select($"k").as[String]
      .collect().toSeq === Seq(fw))
    // over the cap: lo/hi come from a Spark min/max aggregate
    val over = mixedOrderTable()
    val keys = spark.range(0, VersionedTable.BloomProbeMax + 1)
      .select(format_string("k%05d", $"id").as("k"))
      .union(Seq(fw).toDF("k"))
    VersionedTable.deleteByKeysString(spark, over, keys, "k")
    assert(VersionedTable.read(spark, over).select($"k").as[String]
      .collect().toSeq === Seq(emoji))
  }

  test("deleteStringEquals rewrites a mixed file whose range holds the value " +
      "only in code-point order") {
    val root = mixedOrderTable()
    assert(VersionedTable.deleteStringEquals(spark, root, "k", fw, "del-fw"))
    assert(VersionedTable.read(spark, root).as[(String, String)]
      .collect().toSeq === Seq(("2", emoji)))
  }

  test("footer stats merge string row-group extremes in code-point order") {
    val root = tmp()
    // one row per row group: the file's range is the merge of two groups
    spark.conf.set("parquet.block.row.count.limit", "1")
    try VersionedTable.create(spark, root,
      Seq(("1", fw), ("2", emoji)).toDF("id", "k").coalesce(1))
    finally spark.conf.unset("parquet.block.row.count.limit")
    val Seq(file) = VersionedTable.snapshot(spark, root).files
    val groups = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$root/${file.path}"),
        spark.sparkContext.hadoopConfiguration))
    try assert(groups.getRowGroups.size === 2, "fixture: two row groups")
    finally groups.close()
    assert((file.mins("k"), file.maxs("k")) === ((fw, emoji)))
    assert(VersionedTable.pointLookupString(spark, root, "k", emoji)
      .count() === 1)
  }

  test("StringOrder is code-point order: it agrees with UTF-8 byte order") {
    val order = VersionedTable.StringOrder
    assert(order.lt(fw, emoji) && fw > emoji)
    assert(order.lt("a", "b") && order.lt("ab", "abc") && order.equiv("x", "x"))
    val rnd = new scala.util.Random(7)
    val pool = Seq("a", "z", "\u00E9", "\uFF01", "\uE000", "\uD83D\uDE00",
      "\uD800\uDC00", "\uFFFF")
    def bytes(s: String) = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    for (_ <- 1 to 500) {
      val Seq(a, b) = Seq.fill(2)(Seq.fill(rnd.nextInt(4))(
        pool(rnd.nextInt(pool.size))).mkString)
      assert(math.signum(order.compare(a, b)) === math.signum(
        java.util.Arrays.compareUnsigned(bytes(a), bytes(b))), s"$a vs $b")
    }
  }
}
