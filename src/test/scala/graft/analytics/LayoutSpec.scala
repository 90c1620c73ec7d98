package graft.analytics

import org.apache.spark.sql.functions._

import graft.SparkSpec

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("zValue interleaves bits exactly and bijects the tile grid") {
    val rows = Seq((1L, 2L), (0L, 0L), (3L, 3L), (5L, 0L))
      .toDF("a", "b")
      .select(Layout.zValue($"a", $"b", 3).as("z")).as[Long].collect()
    // a=001 -> z bits 0; b=010 -> z bit 3: z = 1 + 8 = 9
    assert(rows(0) === 9L)
    assert(rows(1) === 0L)
    // a=011,b=011 -> z = 1+2+4+8 = 15
    assert(rows(2) === 15L)
    // a=101 -> bits 0 and 4: 1 + 16
    assert(rows(3) === 17L)

    val grid = (for (a <- 0 until 16; b <- 0 until 16) yield (a.toLong, b.toLong))
      .toDF("a", "b").select(Layout.zValue($"a", $"b", 4).as("z"))
      .as[Long].collect()
    assert(grid.distinct.length === 256, "z is a bijection on the 4-bit grid")
    assert(grid.min === 0L && grid.max === 255L)
  }

  test("zorderBy yields disjoint z-ranges whose tiles prune BOTH dimensions") {
    val pts = (for (a <- 0L until 64L; b <- 0L until 64L) yield (a, b))
      .toDF("a", "b")
    val parts = Layout.zorderBy(pts, "a", "b", bits = 6, numFiles = 16)
      .select(spark_partition_id().as("pid"), $"a", $"b", $"_z")
      .groupBy("pid")
      .agg(min("_z").as("zmin"), max("_z").as("zmax"),
        min("a").as("amin"), max("a").as("amax"),
        min("b").as("bmin"), max("b").as("bmax"),
        count(lit(1)).as("n"))
      .collect()
    assert(parts.map(_.getAs[Long]("n")).sum === 64L * 64)
    // range partitioning on z: partition z-ranges never overlap
    val ranges = parts.map(r =>
      (r.getAs[Long]("zmin"), r.getAs[Long]("zmax"))).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo, _)) => assert(hi < lo, "z-ranges must be disjoint")
      case _ =>
    }
    // the pruning claim: a filter on b ALONE (b < 8) touches few z-tiles,
    // while a layout sorted by `a` only cannot prune it at all
    val zHit = parts.count { r =>
      r.getAs[Long]("bmin") < 8
    }
    assert(zHit <= parts.length / 2,
      s"b-only box should prune most z-tiles, hit $zHit of ${parts.length}")

    val aSorted = pts.repartitionByRange(16, $"a").sortWithinPartitions("a")
      .select(spark_partition_id().as("pid"), $"b")
      .groupBy("pid").agg(min("b").as("bmin")).collect()
    val aHit = aSorted.count(_.getAs[Long]("bmin") < 8)
    assert(aHit === aSorted.length,
      "single-column layout cannot prune the other dimension")
    assert(zHit < aHit, s"zorder ($zHit tiles) must beat a-sort ($aHit slabs)")
  }

  test("hilbert index: exhaustive bijection and unit-step locality at bits=4") {
    val bits = 4
    val n = 1 << bits
    val grid = (0 until n).flatMap(x => (0 until n).map(y => (x.toLong, y.toLong)))
      .toDF("a", "b")
    val idx = Layout.withHilbert(grid, $"a", $"b", bits)
      .select($"h", $"a", $"b").as[(Long, Long, Long)].collect()
    // bijection onto 0 .. n^2-1
    assert(idx.map(_._1).sorted.toSeq === (0L until (n.toLong * n)).toSeq)
    // THE Hilbert property (false for Z): consecutive indices are grid
    // NEIGHBORS — every step moves Manhattan distance exactly 1
    val byD = idx.sortBy(_._1)
    byD.sliding(2).foreach { case Array((_, x1, y1), (_, x2, y2)) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) === 1L)
    }
    // and the Z-curve genuinely lacks it (has jumps) — the reason Hilbert
    // file ranges are connected blobs
    val zIdx = grid.select(Layout.zValue($"a", $"b", bits).as("z"), $"a", $"b")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    val zJumps = zIdx.sliding(2).count { case Array((_, x1, y1), (_, x2, y2)) =>
      math.abs(x1 - x2) + math.abs(y1 - y2) > 1L
    }
    assert(zJumps > 0)
    // the native codegen'd expression computes the IDENTICAL index —
    // through the Column API and through SQL (registered by the
    // GraftExtensions every main installs)
    val nativeIdx = grid.select(
        graft.functions.HilbertIndex.hilbertIndex($"a", $"b", bits).as("h"),
        $"a", $"b")
      .as[(Long, Long, Long)].collect().sortBy(r => (r._2, r._3))
    assert(nativeIdx.toSeq === idx.sortBy(r => (r._2, r._3)).toSeq)
    val sqlIdx = graft.SparkSpec.withEntrySession { extended =>
      extended.createDataFrame(
          (0 until n).flatMap(x => (0 until n).map(y => (x.toLong, y.toLong))))
        .toDF("a", "b").createOrReplaceTempView("hilbert_grid")
      extended.sql(
        s"SELECT a, b, hilbert_index(a, b, $bits) AS h FROM hilbert_grid")
        .as[(Long, Long, Long)].collect()
    }.map { case (a2, b2, h) => (h, a2, b2) }.sortBy(r => (r._2, r._3))
    assert(sqlIdx.toSeq === idx.sortBy(r => (r._2, r._3)).toSeq)
  }
}
