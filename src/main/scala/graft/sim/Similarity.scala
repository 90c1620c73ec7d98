package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths, per the scale ladder:
  *  - [[bruteForceTopK]]: exact baseline. Broadcast the (small) query set
  *    against the (huge) corpus — the corpus is scanned ONCE, never
  *    shuffled; per-partition partial top-k via the window prune keeps the
  *    final exchange tiny. Right answer up to ~10⁴ queries × any corpus
  *    size.
  *  - [[lshTopK]]: random-hyperplane LSH. Signature = sign pattern of dot
  *    products with P fixed hyperplanes → bucket id; candidates are
  *    bucket-equal rows, ranked by true cosine. Sub-linear candidate sets,
  *    equi-join shuffle keys, tunable recall via P. The hyperplanes are
  *    derived from a portable arithmetic hash so the DuckDB oracle
  *    reproduces the *same* planes — the ANN result is approximate w.r.t.
  *    ground truth but exactly deterministic.
  */
object Similarity {

  /** Portable char hash: left fold (acc*31 + codepoint) % (2^31-1) — the
    * plane-seed and MinHash-seed hash, mirrored by the DuckDB oracle.
    */
  def charHash(s: String): Long =
    s.codePoints.toArray.foldLeft(0L)((acc, cp) => (acc * 31 + cp) % Dedup.HashMod)

  /** Deterministic hyperplane coefficient numerator in [-1000, 1000]:
    * `charHash("p:d") % 2001 - 1000` (divide by 1000.0 for the weight).
    */
  def planeNumerator(plane: Int, dim: Int): Long =
    charHash(s"$plane:$dim") % 2001 - 1000

  def planeWeights(plane: Int, dims: Int): Seq[Double] =
    (1 to dims).map(d => planeNumerator(plane, d) / 1000.0)

  /** Signed projection of `v` on plane `p` (left fold, oracle-identical). */
  def planeDot(v: Column, plane: Int, dims: Int): Column =
    aggregate(
      zip_with(v, array(planeWeights(plane, dims).map(lit): _*), (x, w) => x * w),
      lit(0.0), (acc, x) => acc + x)

  /** LSH bucket id: P-bit sign pattern of the plane projections. */
  def lshBucket(v: Column, planes: Int, dims: Int): Column =
    (0 until planes).map { p =>
      when(planeDot(v, p, dims) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Exact top-k cosine neighbors of each query vector. */
  def bruteForceTopK(
      queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      // native codegen'd expression — bit-identical to Dedup.cosine
      // (CosineSimilaritySpec), fused single loop inside the join stage
      .withColumn("cos", graft.functions.CosineSimilarity.cosineSim(col("qv"), col("nv")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cos"))
  }

  /** Exact top-k via the bounded-heap partial aggregate
    * ([[graft.functions.TopKAggregator]]) — identical results to
    * [[bruteForceTopK]]'s window form, but map-side combine keeps ≤ k rows
    * per group per partition instead of sorting whole groups: the form that
    * survives groups with billions of candidates.
    */
  def heapTopK(
      queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id").cast("long"), col("neighbor_id").cast("long"),
        graft.functions.CosineSimilarity.cosineSim(col("qv"), col("nv")).as("cos"))
      .as[(Long, Long, Double)]
    scored
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(new graft.functions.TopKAggregator(k).toColumn)
      .flatMap { case (qid, top) =>
        top.zipWithIndex.map { case ((id, s), i) => (qid, id, (i + 1).toLong, s) }
      }
      .toDF("query_id", "neighbor_id", "rank", "cos")
  }

  /** Fused cosine — the SAME single loop (dot + both norms accumulated
    * together, ascending index) as [[graft.functions.CosineSimilarity]]'s
    * codegen, so driver-side assignment reproduces the expression form's
    * doubles bit-for-bit.
    */
  private[graft] def cosFused(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var acc = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a(i)
      val y = b(i)
      acc += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    acc / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Collect a (cid, vector) table to the driver, ascending cid — codebooks
    * are MODEL-sized (k rows of d doubles) by contract, the same driver
    * budget as the BPE merge table and the Lloyd loop below.
    */
  private[sim] def collectCents(centroids: DataFrame, cidCol: String,
      vecCol: String): Array[(Long, Array[Double])] =
    centroids.select(col(cidCol).cast("long"), col(vecCol))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)

  /** Top-n centroid ids by (cosine DESC, cid ASC). Ordering via
    * `Double.compare` (NaN greatest) over a cid-ascending stable sort —
    * exactly the `row_number() OVER (ORDER BY ccos DESC, cid)` semantics
    * of the window form this replaces.
    */
  private def topCids(v: Array[Double], cents: Array[(Long, Array[Double])],
      n: Int): Array[Long] =
    cents.map { case (cid, cv) => (cid, cosFused(v, cv)) }
      .sortWith((p, q) => java.lang.Double.compare(p._2, q._2) > 0)
      .take(n).map(_._1)

  /** IVF assignment, top-n: each vector's `n` nearest centroids by cosine
    * (ties → lowest centroid id). The centroid table is collected driver-
    * side (model-sized by contract) and assignment is a NARROW projection —
    * the previous broadcast-join + per-id rank window shuffled the whole
    * input by id just to argmax over ≤k centroids (r17: one full exchange
    * removed from every assignment pass, two per Lloyd round).
    */
  def ivfAssignTop(vecs: DataFrame, centroids: DataFrame, idCol: String,
      vecCol: String, n: Int): DataFrame = {
    // the collected table rides a BROADCAST handle, not the UDF closure:
    // k·d doubles serialize once per executor, not once per task (ADVICE
    // r17 — a scale regression at high task counts)
    val cents = vecs.sparkSession.sparkContext.broadcast(
      collectCents(centroids, idCol, vecCol))
    val nn = n
    val assignN = udf { v: Seq[Double] => topCids(v.toArray, cents.value, nn) }
    vecs.select(col(idCol).as("id"), col(vecCol).as("vv"))
      .select(col("id"), explode(assignN(col("vv"))).as("cid"))
  }

  /** IVF home-list assignment (top-1). */
  def ivfAssign(vecs: DataFrame, centroids: DataFrame, idCol: String,
      vecCol: String): DataFrame = ivfAssignTop(vecs, centroids, idCol, vecCol, 1)

  /** IVF top-k: candidates come from the query's `nprobe` nearest inverted
    * lists (real IVF recall lives in nprobe, not the quantizer). The corpus
    * is indexed ONCE into home lists; only the small QUERY side fans out
    * nprobe-fold, so cost scales with queries·nprobe·list-size while the
    * 100 TB side is scanned and partitioned exactly once. A corpus vector
    * lives in one list, so no (query, neighbor) pair can arise twice — no
    * dedup pass. The scale shape: centroid table broadcast, corpus
    * partitioned by list id, probe = nprobe partitions' worth of candidates.
    */
  def ivfTopK(
      queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int = 1): DataFrame = {
    // centroids driver-side: corpus home lists and query probe lists are
    // both narrow projections — no assignment window, no join-back by id.
    // Broadcast handle, not closure capture (ADVICE r17).
    val cents = queries.sparkSession.sparkContext.broadcast(
      collectCents(centroids, idCol, vecCol))
    val assign1 = udf { v: Seq[Double] => topCids(v.toArray, cents.value, 1)(0) }
    val np = nprobe
    val assignP = udf { v: Seq[Double] => topCids(v.toArray, cents.value, np) }
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"),
      assign1(col(vecCol)).as("cid"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      explode(assignP(col(vecCol))).as("cid"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    c.join(broadcast(q), Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", graft.functions.CosineSimilarity.cosineSim(col("qv"), col("nv")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cid"), col("rank"), col("cos"))
  }

  /** Distributed Lloyd iterations for the IVF codebook (the "plug a
    * trained codebook in the same slot" path [[ivfTopK]] documents).
    * Deterministic: init = the k lowest-id vectors; assignment =
    * [[ivfAssign]] (cosine, ties to lowest centroid id); update =
    * dimension-wise mean via posexplode + groupBy(cid, dim) — fully
    * shuffle-parallel, nothing driver-side except the k centroid vectors
    * themselves (broadcast each round, exactly like a real k-means on
    * Spark). Emptied centroids keep their previous vector.
    *
    * The mean is computed on inputs quantized to a 1e-6 grid
    * (`floor(x·1e6)` summed as BIGINT, divided back in double): integer
    * addition is order-free, so the codebook is bit-identical run-to-run
    * REGARDLESS of partition order (a plain double `avg` is not — partial
    * sums reassociate) and reproducible by any engine with the same
    * arithmetic — which is what lets the DuckDB oracle re-train the exact
    * codebook and hash-check [[ivfTopK]] on it. The 1e-6 quantization is
    * noise relative to a coarse quantizer's job.
    */
  def trainCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // scale-adaptive parallelism for the per-round mean jobs: a small
    // corpus can arrive as ONE scan partition (sf0.1 embeddings), which
    // would serialize every round's assignment+mean on one core; never
    // coalesce DOWN (a 100 TB scan keeps its own, larger split count)
    val base = corpus.select(col(idCol).cast("long").as("id"),
      col(vecCol).as("v"))
    val vecs = graft.plans.Parallelism.widen(base).cache()
    // the codebook IS driver state (k·d doubles — the BPE-merge-table
    // budget): holding it as an array makes each Lloyd round ONE job (the
    // quantized-mean aggregate over a narrow inline assignment) instead of
    // three (assignment window + mean shuffle + old/new-join checkpoint) —
    // at 1000 executors two scheduler waves per round disappear, and the
    // full per-id exchange of the corpus (the window) goes with them
    var cents: Array[(Long, Array[Double])] = vecs.orderBy("id").limit(k)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val typed = vecs.as[(Long, Array[Double])]
    val rdd = typed.rdd
    // merged tree reduction instead of a flat collect of per-partition
    // partials (r17 VERDICT #3): driver memory is O(k·d) — ONE merged
    // (sums, counts) accumulator — never O(partitions·k·d), which at
    // 100 TB (10⁵-10⁶ input splits) is gigabytes per Lloyd round (§5).
    // depth is scale-adaptive on a 64-ary tree: 1 level (plain merged
    // reduce, no extra stage, the local shape) up to 64 partitions,
    // 2 up to 4096, 3 beyond — long sums are order-free, so the tree
    // reassociation is bit-identical to the flat merge.
    val depth = math.max(1, math.ceil(
      math.log(math.max(rdd.getNumPartitions, 2).toDouble) / math.log(64.0)).toInt)
    for (_ <- 1 to iters if cents.nonEmpty) {
      // the codebook rides a broadcast, not the task closure: k·d doubles
      // serialized once per executor instead of once per task (ADVICE r17)
      val bc = spark.sparkContext.broadcast(cents)
      val d = cents.head._2.length
      val k = cents.length
      // one NARROW job per round: the per-centroid quantized dim sums
      // (the same floor(x·1e6) BIGINT grid — order-free, bit-identical)
      // fold into k·d longs per task and merge up the tree — no posexplode
      // row blow-up, no mean exchange, no UDF conversion machinery (the
      // expression form measured ~0.39 s/round of fixed overhead at sf0.1
      // regardless of parallelism)
      val (sums, counts) = rdd.treeAggregate(
        (Array.fill(k)(new Array[Long](d)), new Array[Long](k)))(
        seqOp = { case (acc @ (sums, counts), (_, v)) =>
          val cs = bc.value
          var best = 0
          var bestC = cosFused(v, cs(0)._2)
          var i = 1
          while (i < cs.length) {
            val c = cosFused(v, cs(i)._2)
            if (java.lang.Double.compare(c, bestC) > 0) { best = i; bestC = c }
            i += 1
          }
          counts(best) += 1
          val s = sums(best)
          var j = 0
          val n = math.min(v.length, s.length)
          while (j < n) {
            s(j) += math.floor(v(j) * 1000000.0).toLong
            j += 1
          }
          acc
        },
        combOp = { case ((s1, c1), (s2, c2)) =>
          var i = 0
          while (i < c1.length) {
            c1(i) += c2(i)
            val a = s1(i); val b = s2(i)
            var j = 0
            while (j < a.length) { a(j) += b(j); j += 1 }
            i += 1
          }
          (s1, c1)
        }, depth)
      bc.unpersist(blocking = false)
      // a centroid that attracted no vectors keeps its previous position;
      // same arithmetic as the old SQL mean: cast(sum as double) /
      // (count * 1e6) with long→double promotion on the count
      cents = cents.zipWithIndex.map { case ((cid, cv), i) =>
        if (counts(i) == 0L) (cid, cv)
        else (cid, Array.tabulate(cv.length)(j =>
          sums(i)(j).toDouble / (counts(i) * 1000000.0)))
      }
    }
    vecs.unpersist()
    cents.toSeq.toDF("cid", "cv")
  }

  /** Assignment quality for a (cid, cv) codebook: mean cosine similarity of
    * each corpus vector to its assigned centroid (higher is better).
    */
  def assignmentObjective(corpus: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String): Double = {
    val assigned = ivfAssign(
      corpus,
      centroids.select(col("cid").as(idCol), col("cv").as(vecCol)),
      idCol, vecCol)
    corpus.select(col(idCol).as("id"), col(vecCol).as("vv"))
      .join(assigned, Seq("id"))
      .join(centroids, Seq("cid"))
      .select(avg(graft.functions.CosineSimilarity.cosineSim(col("vv"), col("cv"))))
      .head().getDouble(0)
  }

  /** Symmetric int8 scalar quantization (the "SQ8" every vector store
    * offers): L2-normalize in double, then round each coordinate to
    * `clamp(floor(x/‖v‖ · 127 + 0.5), ±127)`. At 100 TB this is the
    * memory/IO lever — a 64-float embedding column becomes 64 bytes (4×
    * smaller scans, int-SIMD dots), and because every op here is IEEE
    * correctly-rounded the codes are bit-identical on any engine.
    * Precondition: no zero vectors (‖v‖ > 0).
    */
  def quantizeInt8(vecs: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = col(vecCol)
    val nrm = sqrt(aggregate(v, lit(0.0), (acc, x) => acc + x * x))
    vecs.select(col(idCol), transform(v, x =>
      greatest(lit(-127L), least(lit(127L), floor(x / nrm * lit(127.0) + lit(0.5))))
        .cast("int")).as("qv"))
  }

  /** Exact top-k over the int8-quantized corpus: rank by the integer dot
    * product of the quantized codes (∝ cosine up to quantization error).
    * After quantization NOTHING floats — the score is a BIGINT sum, so
    * ranking is order-free and exactly reproducible, which is what lets
    * the gate hash-check an approximate-by-quantization operator. Same
    * broadcast-query / corpus-scanned-once shape as [[bruteForceTopK]].
    */
  def int8TopK(
      queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    val q = quantizeInt8(queries, idCol, vecCol)
      .select(col(idCol).as("query_id"), col("qv").as("qq"))
    val c = quantizeInt8(corpus, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("qv").as("qn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("idot").desc, col("neighbor_id"))
    c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("idot", aggregate(
        zip_with(col("qq"), col("qn"), (a, b) => (a * b).cast("long")),
        lit(0L), (acc, x) => acc + x))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("idot"))
  }

  /** ANN top-k: candidates restricted to the query's LSH bucket. */
  def lshTopK(
      queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, planes: Int, dims: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      lshBucket(col(vecCol), planes, dims).as("bucket"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"),
      lshBucket(col(vecCol), planes, dims).as("bucket"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    c.join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", graft.functions.CosineSimilarity.cosineSim(col("qv"), col("nv")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("bucket"), col("rank"), col("cos"))
  }
}
