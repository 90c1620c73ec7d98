package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF-PQ index: the train-once / search-many split that makes
  * ANN viable at corpus scale. Training (coarse k-means + residual PQ
  * codebooks) and corpus encoding are one-time batch jobs whose outputs —
  * three small-to-moderate parquet tables — are written under a directory;
  * every subsequent query load-probes them without touching a raw vector of
  * the corpus:
  *
  *  - `coarse/`    (cid, cv)                 — nlist coarse centroids (tiny, broadcast)
  *  - `codebooks/` (sub, code, cv)           — m×ksub PQ codebooks (tiny, broadcast)
  *  - `codes/`     (neighbor_id, cid, codes) — one m-code row per corpus
  *    vector, written partitioned by `cid` so a probe's equi-join prunes to
  *    its lists' files at the scan
  *  - `_meta.json` (dims, m)                 — geometry, validated on load
  *
  * The commit is atomic in the [[graft.store.VersionedTable]] sense scaled
  * down: everything lands under a temp directory first and a final rename
  * publishes it, so a crashed build can never be mistaken for an index.
  *
  * Determinism: the artifacts inherit the BIGINT-grid training of
  * [[ProductQuantization]], so a reloaded index searches bit-identically to
  * the in-session path (spec-checked, and the `sim_topk_ivfpq_indexed` gate
  * hash-checks reload+search against the re-training DuckDB oracle).
  */
object AnnIndex {

  final case class Index(coarse: DataFrame, codebooks: DataFrame,
      codes: DataFrame, dims: Int, m: Int)

  /** Train coarse + residual-PQ codebooks on `corpus`, encode it, and
    * publish the index atomically under `dir`.
    */
  def buildIvfPq(corpus: DataFrame, idCol: String, vecCol: String, dir: String,
      dims: Int, m: Int, ksub: Int, iters: Int, nlist: Int): Unit = {
    val coarse = Similarity.trainCentroids(corpus, idCol, vecCol, nlist, iters)
    val resid = ProductQuantization.residuals(corpus, coarse, idCol, vecCol)
    val cb = ProductQuantization.trainCodebooks(resid, "id", "rv", dims, m,
      ksub, iters)
    val codes = ProductQuantization.encodeIvfPq(corpus, coarse, cb,
      idCol, vecCol, dims, m)
    val tmp = new java.io.File(dir + ".tmp-" + java.util.UUID.randomUUID())
    coarse.write.mode("overwrite").parquet(new java.io.File(tmp, "coarse").toString)
    cb.write.mode("overwrite").parquet(new java.io.File(tmp, "codebooks").toString)
    codes.write.mode("overwrite").partitionBy("cid")
      .parquet(new java.io.File(tmp, "codes").toString)
    java.nio.file.Files.writeString(tmp.toPath.resolve("_meta.json"),
      s"""{"kind":"ivfpq","dims":$dims,"m":$m}""")
    publishDir(tmp, dir)
  }

  /** Replace-safe publish: the previous index is renamed ASIDE (one atomic
    * op) before the new one renames in — a crash between the two steps
    * leaves the old index recoverable under its .old- name instead of
    * permanently lost, and the aside copy is deleted only after the new
    * index is live. A fresh first build is a single rename.
    */
  private def publishDir(tmp: java.io.File, dir: String): Unit = {
    val target = new java.io.File(dir)
    val aside = if (target.exists()) {
      val a = new java.io.File(dir + ".old-" + java.util.UUID.randomUUID())
      if (!target.renameTo(a))
        throw new java.io.IOException(s"cannot stage old index aside: $target -> $a")
      Some(a)
    } else None
    if (!tmp.renameTo(target)) {
      // restore the old index before failing — never leave the dir empty
      aside.foreach(_.renameTo(target))
      throw new java.io.IOException(s"cannot publish index: $tmp -> $target")
    }
    aside.foreach(delete)
  }

  final case class PqIndex(codebooks: DataFrame, codes: DataFrame,
      dims: Int, m: Int)

  /** Train flat-PQ codebooks on `corpus`, encode it, and publish the index
    * atomically under `dir` — the non-IVF sibling of [[buildIvfPq]] for
    * corpora small enough that a full code-table scan per query is fine
    * (the code table is m bytes-ish per vector; the scan does no explode
    * and no aggregation shuffle).
    */
  def buildPq(corpus: DataFrame, idCol: String, vecCol: String, dir: String,
      dims: Int, m: Int, ksub: Int, iters: Int): Unit = {
    val cb = ProductQuantization.trainCodebooks(corpus, idCol, vecCol,
      dims, m, ksub, iters)
    val codes = ProductQuantization.encode(corpus, idCol, vecCol, cb, dims, m)
      .select(col("id").as("neighbor_id"), col("codes"))
    val tmp = new java.io.File(dir + ".tmp-" + java.util.UUID.randomUUID())
    cb.write.mode("overwrite").parquet(new java.io.File(tmp, "codebooks").toString)
    codes.write.mode("overwrite").parquet(new java.io.File(tmp, "codes").toString)
    java.nio.file.Files.writeString(tmp.toPath.resolve("_meta.json"),
      s"""{"kind":"pq","dims":$dims,"m":$m}""")
    publishDir(tmp, dir)
  }

  /** Load a published flat-PQ index; fails loudly on a missing/partial
    * directory or an IVF-PQ index published at the same path.
    */
  def loadPq(spark: SparkSession, dir: String): PqIndex = {
    val meta = new java.io.File(dir, "_meta.json")
    require(meta.isFile, s"no ANN index published at $dir")
    val txt = java.nio.file.Files.readString(meta.toPath)
    require(txt.contains(""""kind":"pq""""),
      s"index at $dir is not a flat-PQ index: $txt")
    def field(k: String): Int =
      s""""$k":(\\d+)""".r.findFirstMatchIn(txt)
        .getOrElse(throw new IllegalStateException(s"bad _meta.json: $txt"))
        .group(1).toInt
    PqIndex(
      codebooks = spark.read.parquet(new java.io.File(dir, "codebooks").toString),
      codes = spark.read.parquet(new java.io.File(dir, "codes").toString),
      dims = field("dims"), m = field("m"))
  }

  /** Probe a loaded flat-PQ index: identical semantics/results to
    * [[ProductQuantization.topK]], but the corpus side is a scan of the
    * persisted code table — no re-training, no re-encoding.
    */
  def searchPq(queries: DataFrame, index: PqIndex, idCol: String,
      vecCol: String, k: Int): DataFrame =
    ProductQuantization.pqSearch(queries, index.codes, index.codebooks,
      idCol, vecCol, index.dims, index.m, k)

  /** Load a published index; fails loudly on a missing/partial directory
    * (an unrenamed temp dir has no `_meta.json` at `dir`).
    */
  def load(spark: SparkSession, dir: String): Index = {
    val meta = new java.io.File(dir, "_meta.json")
    require(meta.isFile, s"no ANN index published at $dir")
    val txt = java.nio.file.Files.readString(meta.toPath)
    def field(k: String): Int =
      s""""$k":(\\d+)""".r.findFirstMatchIn(txt)
        .getOrElse(throw new IllegalStateException(s"bad _meta.json: $txt"))
        .group(1).toInt
    Index(
      coarse = spark.read.parquet(new java.io.File(dir, "coarse").toString),
      codebooks = spark.read.parquet(new java.io.File(dir, "codebooks").toString),
      // cid is a directory-partition column on disk; partition-type
      // inference would hand it back as int — pin it to the trained long
      codes = spark.read.parquet(new java.io.File(dir, "codes").toString)
        .select(col("neighbor_id"), col("cid").cast("long").as("cid"), col("codes")),
      dims = field("dims"), m = field("m"))
  }

  /** Probe a loaded index: identical semantics/results to
    * [[ProductQuantization.ivfPqTopK]], but the corpus-side work is a
    * partition-pruned scan of the persisted code table.
    */
  def searchIvfPq(queries: DataFrame, index: Index, idCol: String,
      vecCol: String, k: Int, nprobe: Int): DataFrame =
    ProductQuantization.ivfPqSearch(queries, index.codes, index.coarse,
      index.codebooks, idCol, vecCol, index.dims, index.m, k, nprobe)

  /** Incremental corpus append — the daily-drop form of [[buildIvfPq]]:
    * encode `newVecs` with the PERSISTED codebooks (no retraining; the
    * standard IVF-PQ deployment contract — codebooks are retrained on
    * drift schedules, not per drop) and append their code rows into the
    * live cid partitions. Exactly-once in `tag`: staged files move into
    * the partition dirs under deterministic `append-<tag>-part-N` names
    * (same-tag leftovers deleted first, so a crash mid-publish re-moves
    * the same names), and an `_appends/<tag>` marker lands last — a
    * replayed drop is a no-op. Returns false when `tag` was already
    * applied. Search over the appended index is bit-identical to
    * re-encoding the union corpus against the same codebooks
    * (spec-asserted).
    *
    * CONCURRENCY CONTRACT: appends are atomic per FILE, not per drop — a
    * reader that loads/searches WHILE an append is publishing can observe
    * a partially-appended code table (complete and correct over a subset
    * of the drop). Run appends and queries serialized (the daily-drop
    * deployment: ingest job, then query traffic), or put a
    * [[graft.store.VersionedTable]]-style pinned manifest in front when
    * readers and appenders must overlap.
    */
  def appendIvfPq(spark: SparkSession, dir: String, newVecs: DataFrame,
      idCol: String, vecCol: String, tag: String): Boolean = {
    require(tag.nonEmpty && tag.forall(c =>
      c.isLetterOrDigit || c == '-' || c == '_' || c == '.'),
      s"append tag must be a safe file name, got: $tag")
    val marker = new java.io.File(dir, s"_appends/$tag")
    if (marker.isFile) return false
    val idx = load(spark, dir)
    val codes = ProductQuantization.encodeIvfPq(newVecs, idx.coarse,
      idx.codebooks, idCol, vecCol, idx.dims, idx.m)
    val staging = new java.io.File(dir + s".append-$tag.staging")
    codes.write.mode("overwrite").partitionBy("cid").parquet(staging.toString)
    val codesDir = new java.io.File(dir, "codes")
    Option(staging.listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.startsWith("cid="))
      .foreach { part =>
        val dest = new java.io.File(codesDir, part.getName)
        dest.mkdirs()
        Option(dest.listFiles()).getOrElse(Array.empty)
          .filter(_.getName.startsWith(s"append-$tag-"))
          .foreach(_.delete())
        Option(part.listFiles()).getOrElse(Array.empty)
          .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
          .zipWithIndex.foreach { case (f, i) =>
            val to = new java.io.File(dest, f"append-$tag-part-$i%05d.parquet")
            if (!f.renameTo(to))
              throw new java.io.IOException(s"cannot publish $f -> $to")
          }
      }
    delete(staging)
    marker.getParentFile.mkdirs()
    java.nio.file.Files.writeString(marker.toPath, "")
    true
  }

  private def delete(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(delete)
    f.delete()
  }
}
