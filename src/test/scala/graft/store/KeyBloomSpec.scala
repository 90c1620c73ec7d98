package graft.store

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

class KeyBloomSpec extends SparkSpec {
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("graft-vtb").toString

  test("KeyBloom: no false negatives, deterministic encoding, bounded FPR") {
    val m = KeyBloom.bitsFor(1000)
    assert(m >= 512 && (m & (m - 1)) === 0, "power-of-two size")
    val keys = (0L until 1000L).map(_ * 7919 + 13)
    val words = new Array[Long](m / 64)
    keys.foreach(KeyBloom.add(words, m, _))
    val enc = KeyBloom.encode(m, words)
    keys.foreach(k => assert(KeyBloom.mightContain(enc, k),
      s"false negative for $k"))
    // FPR on absent keys stays near the ~10 bits/key design point
    val absent = (1L to 20000L).map(_ * 104729 + 5) // disjoint from keys
      .filterNot(keys.contains)
    val fp = absent.count(KeyBloom.mightContain(enc, _))
    assert(fp.toDouble / absent.size < 0.05,
      s"FPR ${fp.toDouble / absent.size} far above design point")
    // too-large files carry no bloom
    assert(KeyBloom.bitsFor(1000000) === -1)
  }

  test("bloom file skipping: overlapping ranges, disjoint key sets") {
    val root = tmp() + "/t"
    // two files whose key RANGES fully overlap (evens 0..198, odds
    // 1..199) — range stats cannot discriminate, blooms can. Two commits
    // guarantee two separate data files.
    val evens = spark.range(0, 200, 2).toDF("id")
      .withColumn("v", col("id") * 10).coalesce(1)
    val odds = spark.range(1, 200, 2).toDF("id")
      .withColumn("v", col("id") * 10).coalesce(1)
    VersionedTable.create(spark, root, evens, bloomKeys = Seq("id"))
    VersionedTable.append(spark, root, odds)

    val s = VersionedTable.snapshot(spark, root)
    assert(s.bloomCols === Seq("id"))
    assert(s.files.length === 2)
    assert(s.files.forall(_.blooms.contains("id")), "every file carries a bloom")

    // every present key's containing file is always a candidate (no false
    // negative), and most lookups prune to a single file
    val sizes = (0L until 200L).map { k =>
      val cand = VersionedTable.candidateFiles(spark, root, "id", k)
      assert(VersionedTable.pointLookup(spark, root, "id", k)
        .as[(Long, Long)].collect().toSeq === Seq((k, k * 10)),
        s"point lookup lost key $k")
      cand.length
    }
    assert(sizes.forall(n => n >= 1 && n <= 2))
    // perfect pruning = 1 file per lookup (sum 200); allow FPR slack
    assert(sizes.sum < 200 * 1.2,
      s"bloom pruned almost nothing: avg candidates ${sizes.sum / 200.0}")
    // absent key: usually zero files
    assert(VersionedTable.candidateFiles(spark, root, "id", 5000L).isEmpty ||
      VersionedTable.pointLookup(spark, root, "id", 5000L).count() === 0L)
  }

  test("merge rewrites only bloom-hit files; appends inherit bloom columns") {
    val root = tmp() + "/t"
    val evens = spark.range(0, 200, 2).toDF("id")
      .withColumn("v", col("id") * 10).coalesce(1)
    val odds = spark.range(1, 200, 2).toDF("id")
      .withColumn("v", col("id") * 10).coalesce(1)
    VersionedTable.create(spark, root, evens, bloomKeys = Seq("id"))
    VersionedTable.append(spark, root, odds)
    val before = VersionedTable.snapshot(spark, root)
    assert(before.files.length === 2)

    // a targeted merge touching only EVEN keys must carry the odd file
    // forward by reference even though its range [1,199] contains the keys
    VersionedTable.merge(spark, root,
      Seq((10L, -1L), (42L, -2L)).toDF("id", "v"), "id")
    val after = VersionedTable.snapshot(spark, root)
    val carried = before.files.map(_.path).toSet
      .intersect(after.files.map(_.path).toSet)
    assert(carried.nonEmpty,
      "bloom pruning must carry the untouched odd-keys file by reference")
    assert(VersionedTable.read(spark, root).filter(col("id") === 10L)
      .select("v").as[Long].head() === -1L)
    assert(VersionedTable.read(spark, root).count() === 200L)

    // appends build blooms for the declared columns without re-declaring
    VersionedTable.append(spark, root,
      spark.range(200, 210).toDF("id").withColumn("v", col("id") * 10))
    val s3 = VersionedTable.snapshot(spark, root)
    val newFiles = s3.files.filterNot(f => after.files.map(_.path).contains(f.path))
    assert(newFiles.nonEmpty && newFiles.forall(_.blooms.contains("id")))
    // rewritten merge output files carry blooms too
    assert(s3.files.forall(_.blooms.contains("id")))
  }

  test("string-key blooms: lookups by natural key skip disjoint files") {
    val root = tmp() + "/t"
    // two files with fully overlapping LEXICAL ranges but disjoint url sets
    val a = spark.range(0, 100)
      .select(concat(lit("https://even.example/p"), col("id") * 2).as("url"),
        col("id").as("v")).coalesce(1)
    val b = spark.range(0, 100)
      .select(concat(lit("https://odd.example/p"), col("id") * 2 + 1).as("url"),
        col("id").as("v")).coalesce(1)
    VersionedTable.create(spark, root, a, bloomKeys = Seq("url"))
    VersionedTable.append(spark, root, b)
    val s = VersionedTable.snapshot(spark, root)
    assert(s.files.length === 2 && s.files.forall(_.blooms.contains("url")))

    // every present url resolves, and most lookups open one file
    val sizes = (0 until 100).flatMap { i =>
      Seq(s"https://even.example/p${i * 2}", s"https://odd.example/p${i * 2 + 1}")
    }.map { u =>
      val got = VersionedTable.pointLookup(spark, root, "url", u)
        .select("url").as[String].collect().toSeq
      assert(got === Seq(u), s"lost $u")
      VersionedTable.candidateFiles(spark, root, "url", u).length
    }
    assert(sizes.forall(n => n >= 1 && n <= 2))
    // lexical ranges don't discriminate even/odd hosts? they do here via
    // prefix — so rely on a same-prefix probe: absent urls under BOTH
    // prefixes prune via bloom to (usually) zero files
    val ghost = VersionedTable.candidateFiles(spark, root, "url",
      "https://even.example/p999999")
    assert(ghost.length <= 1)
  }

  test("tables created without bloomKeys stay bloom-free and fully functional") {
    val root = tmp() + "/t"
    VersionedTable.create(spark, root, Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    val s = VersionedTable.snapshot(spark, root)
    assert(s.bloomCols.isEmpty && s.files.forall(_.blooms.isEmpty))
    VersionedTable.merge(spark, root, Seq((2L, "B")).toDF("k", "s"), "k")
    assert(VersionedTable.read(spark, root).orderBy("k")
      .as[(Long, String)].collect().toSeq === Seq((1L, "a"), (2L, "B")))
    // point lookup degrades to range-stat pruning, still correct
    assert(VersionedTable.pointLookup(spark, root, "k", 2L)
      .as[(Long, String)].collect().toSeq === Seq((2L, "B")))
  }
}
