package graft.store

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, FileAlreadyExistsException}
import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** A no-dependency transactional table: atomic versioned commits over plain
  * parquet, snapshot-isolated reads, time travel, and stats-pruned
  * copy-on-write MERGE/DELETE — the minimal lakehouse log
  * (Delta/Iceberg-shaped, built from nothing but the filesystem).
  *
  * Why it exists: [[ItemStore.replacePartitions]] swaps directories, which
  * is atomic per-partition but gives readers no consistent multi-file
  * snapshot and no history. The reference has the same gap — a DynamoDB
  * scan during a bulk mutation sees half-applied state
  * (`code/manager.py:744-781` deletes items one by one). Here every commit
  * is all-or-nothing and every version stays readable until vacuumed.
  *
  * Layout:
  * {{{
  *   table/_log/v<20-digit>.json              delta manifest: op, schema,
  *                                            added file entries + removed paths
  *   table/_log/v<20-digit>.checkpoint.json   periodic full-state checkpoint
  *   table/data/<txn>/part-*.parquet
  * }}}
  *
  * Manifests are DELTAS of actions (the Delta/Iceberg shape): each commit
  * records only the file entries it adds and the paths it removes, so
  * commit cost is O(touched files), not O(table) — at the 100 TB target
  * (~10^5–10^6 files at 128 MB each) a full-snapshot manifest would make
  * every commit serialize hundreds of MB of JSON. Every
  * [[CheckpointInterval]]-th commit also writes a full-state checkpoint;
  * a reader reconstructs version v from the newest checkpoint ≤ v plus at
  * most [[CheckpointInterval]] delta replays (`VersionedTableDeltaSpec`
  * pins commit-manifest size flat as the table grows). Checkpoints are an
  * optimization, never a correctness dependency: losing one only means
  * replaying more deltas, and vacuum materializes one at the oldest
  * retained version before dropping older deltas.
  *
  * Commit protocol — optimistic concurrency, version number = the CAS:
  *  1. write data files under `data/<fresh-uuid>/` (invisible: no manifest
  *     references them yet — a crashed writer leaks only unreferenced files
  *     that vacuum sweeps);
  *  2. write the manifest to a temp name, fsync;
  *  3. publish atomically at `v<N+1>`: hard-link (local scheme — POSIX
  *     `link(2)` fails-if-exists atomically) or rename-no-overwrite (HDFS
  *     rename is an atomic namenode op that fails on an existing
  *     destination). Exactly one concurrent committer wins version N+1;
  *     losers re-read the new snapshot, rebase, and try N+2. On S3-style
  *     stores with no atomic publish you put a lock service in front —
  *     the same external-commit-service caveat Delta documents.
  *
  * Readers list `_log`, pick the max (or requested) version, and read
  * exactly that manifest's files — writers never disturb them, and a
  * half-finished commit is invisible (temp manifests are dot-prefixed).
  *
  * Per-file min/max column stats (long/int/string leaves, harvested from
  * the parquet footers of just-written files at commit time) ride in the
  * manifest, so MERGE/DELETE prune untouched files from the driver without
  * opening a single footer — the file-skipping half of
  * [[graft.analytics.Layout]]'s Z-order story, applied to mutations.
  */
object VersionedTable {

  /** `blooms`: per-column encoded [[KeyBloom]] ("m:base64"), present only
    * for the table's declared bloom columns on files small enough for the
    * manifest-size cap; absent = conservatively unprunable.
    * `nullCounts`: per-column null totals from the parquet footers, present
    * only when every row group reported valid statistics for the column —
    * what lets [[deleteStringEquals]] PROVE a file pure (min == max ==
    * value AND zero nulls ⇒ every row matches) and drop it from the
    * manifest with no data IO. Absent (all pre-existing manifests) =
    * conservatively impure. json4s defaults keep old manifests readable.
    */
  final case class FileEntry(path: String, rows: Long,
      mins: Map[String, String], maxs: Map[String, String],
      blooms: Map[String, String] = Map.empty,
      nullCounts: Map[String, Long] = Map.empty)
  /** One commit's actions relative to its parent: entries added, paths
    * removed, idempotence tags added. `schema`/`bloomCols` are the (small)
    * post-commit table values, carried in full so replay needs no parent
    * lookup for them.
    */
  final case class DeltaManifest(version: Long, op: String, schema: String,
      adds: List[FileEntry] = Nil, removes: List[String] = Nil,
      tags: List[String] = Nil, bloomCols: List[String] = Nil)
  /** Full reconstructed state at a version — written every
    * [[CheckpointInterval]] commits and at vacuum's oldest retained
    * version, so reads replay a bounded delta suffix.
    */
  final case class CheckpointManifest(version: Long, op: String,
      schema: String, files: List[FileEntry], tags: List[String] = Nil,
      bloomCols: List[String] = Nil)
  final case class Snapshot(version: Long, op: String, schema: StructType,
      files: Seq[FileEntry], tags: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil)

  /** Thrown inside the commit CAS when an idempotence tag was already
    * applied by a committed version — the signal that a replayed batch
    * must NOT commit again.
    */
  private final class TagAlreadyApplied extends RuntimeException

  private implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
  private val MaxRetries = 20

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def logDir(root: String) = new Path(root, "_log")
  private def vPath(root: String, v: Long) =
    new Path(logDir(root), "v" + "%020d".format(v) + ".json")
  private def cpPath(root: String, v: Long) =
    new Path(logDir(root), "v" + "%020d".format(v) + ".checkpoint.json")

  /** Every Nth commit writes a full-state checkpoint: reads replay at most
    * N deltas, and commit JSON stays O(touched files) forever.
    */
  val CheckpointInterval = 10L

  // ---------------------------------------------------------------- log io

  private val DeltaName = "^v(\\d{20})\\.json$".r
  private val CheckpointName = "^v(\\d{20})\\.checkpoint\\.json$".r

  /** (delta versions, checkpoint versions), each ascending. */
  private def listLog(f: FileSystem, root: String): (Seq[Long], Seq[Long]) = {
    val dir = logDir(root)
    if (!f.exists(dir)) (Seq.empty, Seq.empty)
    else {
      val names = f.listStatus(dir).toSeq.map(_.getPath.getName)
      (names.collect { case DeltaName(v) => v.toLong }.sorted,
        names.collect { case CheckpointName(v) => v.toLong }.sorted)
    }
  }

  private def listVersions(f: FileSystem, root: String): Seq[Long] =
    listLog(f, root)._1

  private def readText(f: FileSystem, p: Path): String = {
    val buf = new Array[Byte](f.getFileStatus(p).getLen.toInt)
    val in = f.open(p)
    try in.readFully(0, buf) finally in.close()
    new String(buf, StandardCharsets.UTF_8)
  }

  def latestVersion(spark: SparkSession, root: String): Option[Long] =
    listVersions(fs(spark, root), root).lastOption

  /** Process-local snapshot cache. SAFE because a published manifest is
    * immutable (the CAS never rewrites `v<N>.json`), so a reconstructed
    * Snapshot for (root, version) can never go stale; existence is still
    * re-checked against a live listing on every call, so time travel to a
    * vacuumed version fails correctly even when cached. Bounded LRU —
    * commit loops and read-after-write chains hit the parent snapshot
    * constantly, and without the cache each hit would replay the delta
    * suffix from the last checkpoint.
    */
  private val SnapCacheMax = 64
  private val snapCache =
    new java.util.LinkedHashMap[(String, Long), Snapshot](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long), Snapshot]): Boolean =
        size() > SnapCacheMax
    }

  /** Test hook: a warm cache masks log-corruption paths (a cached ancestor
    * snapshot satisfies reads that a cold process could no longer
    * reconstruct), so specs for those paths must start cold.
    */
  private[store] def resetSnapshotCacheForTests(): Unit =
    snapCache.synchronized { snapCache.clear() }

  /** Reconstruct version `v`: the newest usable base (cached ancestor
    * snapshot or checkpoint ≤ v), then replay the delta suffix in version
    * order — adds append, removes drop by path, tags accumulate,
    * op/schema/bloomCols take the last delta's values. Bounded by
    * [[CheckpointInterval]] replays on a checkpointed table, and usually
    * ZERO log reads on the hot read-after-commit path (cache hit).
    */
  def snapshot(spark: SparkSession, root: String,
      version: Option[Long] = None): Snapshot = {
    val f = fs(spark, root)
    val (versions, cps) = listLog(f, root)
    require(versions.nonEmpty, s"$root is not a versioned table (empty _log)")
    val v = version.getOrElse(versions.last)
    require(versions.contains(v),
      s"version $v of $root does not exist (have ${versions.head}..${versions.last}, vacuumed versions are gone)")
    snapCache.synchronized(Option(snapCache.get((root, v)))) match {
      case Some(hit) => return hit
      case None =>
    }
    // base choice: a cached ancestor beats a checkpoint when newer, and
    // either is usable only if the whole delta chain (base, v] survives
    // (vacuum drops ancestor deltas; versions are contiguous by
    // construction, so the chain is complete iff its length matches)
    val cachedBase = snapCache.synchronized {
      import scala.jdk.CollectionConverters._
      snapCache.keySet.asScala.toSeq
        .collect { case (r, bv) if r == root && bv <= v => bv }
        .sorted.lastOption.map(bv => snapCache.get((root, bv)))
    }.filter(s => versions.count(x => x > s.version && x <= v) == v - s.version)
    val cpV = cps.filter(_ <= v).lastOption
      .filter(c => cachedBase.forall(_.version < c))
    var files: Vector[FileEntry] = Vector.empty
    var tags: Vector[String] = Vector.empty
    var op = ""
    var schemaJson = ""
    var bloomCols: Seq[String] = Nil
    var lo = Long.MinValue
    (cpV, cachedBase) match {
      case (Some(c), _) =>
        val m = org.json4s.jackson.JsonMethods
          .parse(readText(f, cpPath(root, c))).extract[CheckpointManifest]
        files = m.files.toVector; tags = m.tags.toVector
        op = m.op; schemaJson = m.schema; bloomCols = m.bloomCols; lo = c
      case (None, Some(s)) =>
        files = s.files.toVector; tags = s.tags.toVector
        op = s.op; schemaJson = s.schema.json; bloomCols = s.bloomCols
        lo = s.version
      case (None, None) =>
        // no base at all: the replay is only complete if the delta chain
        // reaches back to genesis. A log whose old deltas were vacuumed but
        // whose checkpoint was lost (or externally deleted) would otherwise
        // silently reconstruct a PARTIAL file list.
        require(versions.head == 1L,
          s"$root log starts at version ${versions.head} with no checkpoint ≤ $v: " +
            "cannot reconstruct a complete snapshot (old deltas dropped without " +
            "a surviving checkpoint — restore a checkpoint or the missing deltas)")
    }
    // the replayed chain must be CONTIGUOUS from the base to v: a delta
    // externally deleted MID-chain (genesis or the base surviving) would
    // otherwise replay silently and reconstruct a partial file list —
    // the exact failure the no-base guard above describes.
    val chain = versions.filter(dv => dv > lo && dv <= v)
    val chainLo = if (lo == Long.MinValue) 1L else lo + 1
    require(chain.sameElements(chainLo to v),
      s"$root delta chain ($chainLo..$v] is not contiguous (have ${chain.mkString(",")}): " +
        "a delta manifest was dropped without a covering checkpoint — restore it " +
        "or a checkpoint at or after the gap")
    for (dv <- chain) {
      val d = org.json4s.jackson.JsonMethods
        .parse(readText(f, vPath(root, dv))).extract[DeltaManifest]
      val rm = d.removes.toSet
      files = (if (rm.isEmpty) files
        else files.filterNot(fe => rm.contains(fe.path))) ++ d.adds
      tags = tags ++ d.tags
      op = d.op; schemaJson = d.schema; bloomCols = d.bloomCols
    }
    val snap = Snapshot(v, op,
      if (lo == Long.MinValue || schemaJson.nonEmpty)
        DataType.fromJson(schemaJson).asInstanceOf[StructType]
      else cachedBase.get.schema,
      files, tags, bloomCols)
    snapCache.synchronized { snapCache.put((root, v), snap); () }
    snap
  }

  /** Atomic publish at `dest`: exactly one writer wins. */
  private def casPublishAt(f: FileSystem, root: String, dest: Path,
      json: String): Boolean = {
    val dir = logDir(root)
    f.mkdirs(dir)
    val tmp = new Path(dir, s".tmp-${UUID.randomUUID()}")
    val out = f.create(tmp, true)
    try { out.write(json.getBytes(StandardCharsets.UTF_8)); out.hflush() }
    finally out.close()
    val won =
      if (f.getScheme == "file") {
        // POSIX link(2): atomic fail-if-exists — the only local-FS primitive
        // that is a true CAS (rename overwrites, create-no-overwrite races)
        try { Files.createLink(Paths.get(dest.toUri.getPath),
          Paths.get(tmp.toUri.getPath)); true }
        catch { case _: FileAlreadyExistsException => false }
      } else !f.exists(dest) && f.rename(tmp, dest)
    f.delete(tmp, false)
    won
  }

  /** Atomic publish of version `v`'s delta: exactly one committer wins. */
  private def casPublish(f: FileSystem, root: String, v: Long,
      json: String): Boolean =
    casPublishAt(f, root, vPath(root, v), json)

  /** Best-effort checkpoint at `v` (full state passed in by the committer
    * that just won `v`). Losing the publish race is fine — the racer wrote
    * identical content; failing entirely is fine — checkpoints only bound
    * replay length, never correctness.
    */
  /** Test hook simulating the swallowed-IO-failure mode of
    * [[writeCheckpoint]] (disk full / permission / transient store error):
    * no file lands, no exception escapes — exactly what vacuum's durability
    * guard must catch before deleting deltas.
    */
  private[store] var failCheckpointWritesForTests: Boolean = false

  private def writeCheckpoint(f: FileSystem, root: String, v: Long, op: String,
      schemaJson: String, files: Seq[FileEntry], tags: Seq[String],
      bloomCols: Seq[String]): Unit =
    try {
      if (failCheckpointWritesForTests) throw new java.io.IOException("injected")
      casPublishAt(f, root, cpPath(root, v),
        org.json4s.jackson.Serialization.write(CheckpointManifest(
          v, op, schemaJson, files.toList, tags.toList, bloomCols.toList)))
      ()
    } catch { case scala.util.control.NonFatal(_) => () }

  // ------------------------------------------------------------- data io

  /** Write `df` under a fresh txn dir; return its file entries with
    * footer-harvested min/max stats. Unreferenced until a manifest wins.
    */
  private def writeData(df: DataFrame, root: String,
      bloomCols: Seq[String] = Nil): Seq[FileEntry] = {
    val spark = df.sparkSession
    val txn = s"data/txn-${UUID.randomUUID()}"
    val dir = s"$root/$txn"
    df.write.parquet(dir)
    val f = fs(spark, root)
    val conf = spark.sparkContext.hadoopConfiguration
    val parts = f.listStatus(new Path(dir)).toSeq
      .filter(s => s.getPath.getName.startsWith("part-"))
    def harvest(s: org.apache.hadoop.fs.FileStatus): FileEntry = {
      val (rows, mins, maxs, nulls) = footerStats(s.getPath, conf)
      FileEntry(s"$txn/${s.getPath.getName}", rows, mins, maxs,
        nullCounts = nulls)
    }
    // single-file commits (the streaming/IVM shape) read one footer inline;
    // multi-file commits harvest footers CONCURRENTLY — on object stores
    // each open is a round trip, and a compaction commit would otherwise
    // serialize hundreds of them on the driver
    val entries: Seq[FileEntry] =
      if (parts.lengthCompare(2) < 0) parts.map(harvest)
      else {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.ExecutionContext.Implicits.global
        Await.result(Future.traverse(parts)(s => Future(harvest(s))),
          scala.concurrent.duration.Duration.Inf)
      }
    val cols = bloomCols.filter(df.schema.fieldNames.contains)
    if (cols.isEmpty) entries else attachBlooms(spark, dir, entries, cols)
  }

  /** One extra columnar pass per bloom column over the just-written txn
    * dir (bounded by files-per-commit): per-file key sets aggregated into
    * [[KeyBloom]] bit arrays, distributed via `aggregateByKey` on the file
    * name — the driver only ever receives O(files × m/8) bytes of bloom,
    * never keys. All files in one commit share the bloom size `m`, sized
    * for the largest file; commits whose largest file exceeds the
    * manifest-size cap attach no blooms (range stats still recorded).
    */
  private def attachBlooms(spark: SparkSession, dir: String,
      entries: Seq[FileEntry], cols: Seq[String]): Seq[FileEntry] = {
    val m = KeyBloom.bitsFor(entries.map(_.rows).max)
    if (m < 0) return entries
    val words = m / 64
    val data = spark.read.parquet(dir)
    cols.foldLeft(entries) { (es, c) =>
      // integral columns bloom their value; string columns bloom
      // KeyBloom.stringKey (the same md5-60 a driver-side lookup derives)
      val isString = data.schema(c).dataType ==
        org.apache.spark.sql.types.StringType
      val keyed = data
        .select(input_file_name().as("f"), col(c).as("k"))
        .filter(col("k").isNotNull)
        .rdd
        .map { r =>
          val file = r.getString(0).substring(r.getString(0).lastIndexOf('/') + 1)
          val k = if (isString) KeyBloom.stringKey(r.getString(1))
            else r.getAs[Number](1).longValue
          (file, k)
        }
      val perFile = keyed
        .aggregateByKey(new Array[Long](words))(
          (a, k) => KeyBloom.add(a, m, k), KeyBloom.or)
        .collect().toMap
      es.map { e =>
        val name = e.path.substring(e.path.lastIndexOf('/') + 1)
        perFile.get(name)
          .map(arr => e.copy(blooms = e.blooms + (c -> KeyBloom.encode(m, arr))))
          .getOrElse(e)
      }
    }
  }

  /** One footer read per just-written file (bounded by files-per-commit):
    * per-file row count + min/max for int/long/string leaf columns, plus
    * per-column null totals (kept only when EVERY row group reported a
    * valid null count — a single unknown makes the column's total
    * meaningless, so it is dropped rather than understated).
    * Strings are stored as UTF-8 and row groups merge in [[StringOrder]];
    * other types carry no stats (never pruned on).
    */
  private def footerStats(p: Path,
      conf: org.apache.hadoop.conf.Configuration): (Long, Map[String, String], Map[String, String], Map[String, Long]) = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
    try {
      val blocks = reader.getFooter.getBlocks
      import scala.jdk.CollectionConverters._
      val rows = blocks.asScala.map(_.getRowCount).sum
      val mins = scala.collection.mutable.Map.empty[String, String]
      val maxs = scala.collection.mutable.Map.empty[String, String]
      val nulls = scala.collection.mutable.Map.empty[String, Long]
      val nullsUnknown = scala.collection.mutable.Set.empty[String]
      for (b <- blocks.asScala; c <- b.getColumns.asScala) {
        val name = c.getPath.toDotString
        val st = c.getStatistics
        if (st == null || st.isEmpty || !st.isNumNullsSet || st.getNumNulls < 0)
          nullsUnknown += name
        else nulls.updateWith(name) {
          case Some(n) => Some(n + st.getNumNulls)
          case None => Some(st.getNumNulls)
        }
        if (st != null && !st.isEmpty && st.hasNonNullValue) {
          val (mn, mx) = (st.genericGetMin, st.genericGetMax) match {
            case (a: java.lang.Number, b: java.lang.Number)
                if !a.isInstanceOf[java.lang.Double] && !a.isInstanceOf[java.lang.Float] =>
              (Some(a.longValue.toString), Some(b.longValue.toString))
            case (a: org.apache.parquet.io.api.Binary, b: org.apache.parquet.io.api.Binary)
                if c.getPrimitiveType.getLogicalTypeAnnotation ==
                  org.apache.parquet.schema.LogicalTypeAnnotation.stringType() =>
              (Some(a.toStringUsingUTF8), Some(b.toStringUsingUTF8))
            case _ => (None, None)
          }
          (mn, mx) match {
            case (Some(lo), Some(hi)) =>
              mins.updateWith(name) {
                case Some(cur) => Some(minOf(cur, lo, isNumeric(st)))
                case None => Some(lo)
              }
              maxs.updateWith(name) {
                case Some(cur) => Some(maxOf(cur, hi, isNumeric(st)))
                case None => Some(hi)
              }
            case _ =>
          }
        }
      }
      (rows, mins.toMap, maxs.toMap,
        (nulls -- nullsUnknown).toMap)
    } finally reader.close()
  }

  private def isNumeric(st: org.apache.parquet.column.statistics.Statistics[_]): Boolean =
    st.genericGetMin.isInstanceOf[java.lang.Number]
  private def minOf(a: String, b: String, num: Boolean): String =
    if (num) { if (a.toLong <= b.toLong) a else b } else StringOrder.min(a, b)
  private def maxOf(a: String, b: String, num: Boolean): String =
    if (num) { if (a.toLong >= b.toLong) a else b } else StringOrder.max(a, b)

  /** Code-point order of strings: the order parquet writes string min/max
    * in (unsigned UTF-8 bytes) and Spark's `min`/`max` use. Java's `<=` on
    * String compares UTF-16 code units instead, which disagrees when a
    * supplementary-plane character meets one in U+E000–U+FFFF, so every
    * string footer-range prune compares through this order. ASCII strings
    * compare exactly as in Java's order.
    */
  val StringOrder: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int = {
      var i = 0
      while (i < a.length && i < b.length) {
        val ca = a.codePointAt(i)
        val cb = b.codePointAt(i)
        if (ca != cb) return Integer.compare(ca, cb)
        i += Character.charCount(ca)
      }
      Integer.compare(a.length, b.length)
    }
  }

  /** True when a string footer range [mn, mx] may hold a value in [lo, hi]. */
  def rangeOverlaps(mn: String, mx: String, lo: String, hi: String): Boolean =
    StringOrder.lteq(mn, hi) && StringOrder.lteq(lo, mx)

  // ------------------------------------------------------------- commits

  /** Optimistic-concurrency commit: re-reads the parent snapshot, runs
    * `attempt` against it, and publishes via the CAS; a lost race rebases
    * and retries. Idempotence `tags` accumulate through every commit;
    * `addTag` aborts (throws [[TagAlreadyApplied]]) if the parent already
    * carries it — checked UNDER the CAS loop, so a replayed batch racing
    * its own first commit cannot double-apply.
    */
  private def commitLoop(spark: SparkSession, root: String,
      addTag: Option[String] = None,
      setBloomCols: Option[Seq[String]] = None)(
      attempt: Option[Snapshot] => (String, Seq[FileEntry], StructType)): Long = {
    val f = fs(spark, root)
    var tries = 0
    while (tries < MaxRetries) {
      val parent = listVersions(f, root).lastOption
        .map(v => snapshot(spark, root, Some(v)))
      val parentTags = parent.map(_.tags).getOrElse(Seq.empty)
      addTag.foreach(t =>
        if (parentTags.contains(t)) throw new TagAlreadyApplied)
      val (op, files, schema) = attempt(parent)
      val v = parent.map(_.version).getOrElse(0L) + 1
      // the delta is the diff vs the parent BY PATH — valid because a path
      // is written exactly once under a fresh txn UUID, so equal path ⇒
      // equal entry (carried-by-reference files are the same object). The
      // in-memory set diff is O(files) of pointer work; what it buys is
      // O(touched) commit JSON instead of O(table).
      val parentFiles = parent.map(_.files).getOrElse(Seq.empty)
      val parentPaths = parentFiles.iterator.map(_.path).toSet
      val newPaths = files.iterator.map(_.path).toSet
      val adds = files.filterNot(fe => parentPaths.contains(fe.path))
      val removes = parentFiles.iterator.map(_.path)
        .filterNot(newPaths.contains).toList
      val bloomCols = setBloomCols.orElse(parent.map(_.bloomCols))
        .getOrElse(Seq.empty)
      val m = DeltaManifest(v, op, schema.json, adds.toList, removes,
        addTag.toList, bloomCols.toList)
      if (casPublish(f, root, v, org.json4s.jackson.Serialization.write(m))) {
        if (v % CheckpointInterval == 0)
          writeCheckpoint(f, root, v, op, schema.json, files,
            parentTags ++ addTag, bloomCols)
        return v
      }
      tries += 1
    }
    sys.error(s"commit to $root lost the version race $MaxRetries times")
  }

  /** Create a new table at `root` from `df` (version 1). `bloomKeys`
    * declares the integral columns every subsequent commit builds
    * per-file [[KeyBloom]]s for — the point-lookup / targeted-merge
    * file-skipping index (immutable table property, like Delta's
    * dataSkipping configuration).
    */
  def create(spark: SparkSession, root: String, df: DataFrame,
      bloomKeys: Seq[String] = Nil): Long = {
    require(latestVersion(spark, root).isEmpty, s"$root already exists")
    val files = writeData(df, root, bloomKeys)
    commitLoop(spark, root, setBloomCols = Some(bloomKeys)) { parent =>
      require(parent.isEmpty, s"$root already exists")
      ("create", files, df.schema)
    }
  }

  /** Append `df` — data is written once; only the manifest rebases on a
    * lost race (appends never conflict with each other).
    *
    * `mergeSchema = true` widens the table schema with `df`'s new columns
    * (existing files read them as null; common columns must keep their
    * type). Default is strict: unknown columns in `df` are invisible to
    * readers until declared — schema drift should be a choice, not an
    * accident.
    */
  def append(spark: SparkSession, root: String, df: DataFrame,
      mergeSchema: Boolean = false): Long = {
    val files = writeData(df, root, snapshot(spark, root).bloomCols)
    commitLoop(spark, root) { parent =>
      val p = parent.getOrElse(sys.error(s"$root does not exist"))
      ("append", p.files ++ files, evolved(p.schema, df.schema, mergeSchema))
    }
  }

  private def evolved(table: StructType, incoming: StructType,
      mergeSchema: Boolean): StructType = {
    for (f <- incoming.fields; t <- table.fields if f.name == t.name)
      require(f.dataType == t.dataType,
        s"column ${f.name}: incoming ${f.dataType.simpleString} conflicts " +
          s"with table ${t.dataType.simpleString}")
    if (!mergeSchema) table
    else StructType(table.fields ++
      incoming.fields.filterNot(f => table.fieldNames.contains(f.name)))
  }

  /** Idempotent append for exactly-once streaming ingest: the commit
    * carries `tag` (e.g. `"batch-<batchId>"`) and refuses — atomically,
    * under the version CAS — if any committed version already applied it.
    * Returns false (and leaves only unreferenced files for vacuum) when
    * the tag was already applied: `foreachBatch` replays after a
    * post-commit crash become no-ops, upgrading [[ItemStore.commitBatch]]'s
    * marker dance to a single transactional commit.
    */
  def appendBatch(spark: SparkSession, root: String, df: DataFrame,
      tag: String): Boolean = {
    val head = if (latestVersion(spark, root).isDefined)
      Some(snapshot(spark, root)) else None
    if (head.exists(_.tags.contains(tag))) return false
    val files = writeData(df, root, head.map(_.bloomCols).getOrElse(Nil))
    try {
      commitLoop(spark, root, Some(tag)) { parent =>
        val p = parent.getOrElse(sys.error(s"$root does not exist"))
        ("append", p.files ++ files, p.schema)
      }
      true
    } catch { case _: TagAlreadyApplied => false }
  }

  /** CONDITIONAL append: commit `df` as the child of EXACTLY
    * `expectedParent` — one CAS attempt, NO rebase-and-retry. Returns
    * false (leaving only unreferenced files for vacuum) when the table
    * has advanced past `expectedParent`, when another committer wins the
    * CAS, or when `tag` is already applied.
    *
    * This is the read-validate-commit primitive ([[graft.store.connector.WorkQueueLedger]]'s
    * claim waves): the caller derives `df` from its read of version
    * `expectedParent`, so a successful commit PROVES the validation held
    * against the exact state it was computed from — the DynamoDB
    * `ConditionExpression` the reference's lock protocol lacked
    * (`/root/reference/code/modifier.py:71-125`), at commit granularity.
    * [[append]]'s rebase semantics would silently void the validation: a
    * lost race re-parents the same rows onto a state the caller never
    * read. Callers loop themselves: re-read, re-validate, re-attempt.
    */
  def appendIfVersion(spark: SparkSession, root: String, df: DataFrame,
      expectedParent: Long, tag: Option[String] = None): Boolean = {
    val f = fs(spark, root)
    val head = listVersions(f, root).lastOption
    if (!head.contains(expectedParent)) return false
    val parent = snapshot(spark, root, Some(expectedParent))
    if (tag.exists(parent.tags.contains)) return false
    val files = writeData(df, root, parent.bloomCols)
    val v = expectedParent + 1
    val m = DeltaManifest(v, "append", parent.schema.json, files.toList,
      Nil, tag.toList, parent.bloomCols.toList)
    val won = casPublish(f, root, v, org.json4s.jackson.Serialization.write(m))
    if (won && v % CheckpointInterval == 0)
      writeCheckpoint(f, root, v, "append", parent.schema.json,
        parent.files ++ files, parent.tags ++ tag, parent.bloomCols)
    won
  }

  /** Idempotent overwrite for exactly-once derived-state maintenance (the
    * [[Ivm]] persisted view): replaces the table contents IFF no committed
    * version already carries `tag` — checked atomically under the version
    * CAS, like [[appendBatch]]. Returns false (leaving only unreferenced
    * files for vacuum) when the tag was already applied, so a replayed
    * refresh is a no-op. Reading the table being overwritten inside `df`
    * is safe: the new files are fully written before the commit swaps the
    * manifest, and the old files stay on disk until vacuum.
    */
  def overwriteBatch(spark: SparkSession, root: String, df: DataFrame,
      tag: String): Boolean = {
    val head = snapshot(spark, root)
    if (head.tags.contains(tag)) return false
    val files = writeData(df, root, head.bloomCols)
    try {
      commitLoop(spark, root, Some(tag)) { parent =>
        require(parent.nonEmpty, s"$root does not exist")
        ("overwrite", files, df.schema)
      }
      true
    } catch { case _: TagAlreadyApplied => false }
  }

  /** Replace the table contents (last-writer-wins). */
  def overwrite(spark: SparkSession, root: String, df: DataFrame): Long = {
    val files = writeData(df, root, snapshot(spark, root).bloomCols)
    commitLoop(spark, root) { parent =>
      require(parent.nonEmpty, s"$root does not exist")
      ("overwrite", files, df.schema)
    }
  }

  /** The files a point lookup `key = value` must read at `version`:
    * range-pruned by footer min/max, then bloom-pruned. With
    * hash-distributed keys, range stats overlap on every file and prune
    * nothing — the bloom is what turns "open every file" into "open ~1
    * file" (FPR extras only), which is the 100 TB point-read story.
    */
  def candidateFiles(spark: SparkSession, root: String, key: String,
      value: Long, version: Option[Long] = None): Seq[String] = {
    val s = snapshot(spark, root, version)
    s.files.filter(fe => mightHit(fe, key, value, value) &&
        fe.blooms.get(key).forall(KeyBloom.mightContain(_, value)))
      .map(_.path)
  }

  /** Point lookup reading only [[candidateFiles]]. */
  def pointLookup(spark: SparkSession, root: String, key: String,
      value: Long, version: Option[Long] = None): DataFrame = {
    val s = snapshot(spark, root, version)
    val files = candidateFiles(spark, root, key, value, version)
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], s.schema)
    else spark.read.schema(s.schema)
      .parquet(files.map(p => s"$root/$p"): _*)
      .filter(col(key).cast("long") === value)
  }

  /** String-key variants: the bloom probes [[KeyBloom.stringKey]] (the
    * hash [[attachBlooms]] built string blooms with) and the range check
    * compares the footer min/max strings in [[StringOrder]] — URL / fingerprint /
    * natural-key point reads without a surrogate id.
    */
  def candidateFilesString(spark: SparkSession, root: String, key: String,
      value: String, version: Option[Long] = None): Seq[String] = {
    val s = snapshot(spark, root, version)
    val h = KeyBloom.stringKey(value)
    s.files.filter { fe =>
      val rangeHit = (fe.mins.get(key), fe.maxs.get(key)) match {
        case (Some(mn), Some(mx)) => rangeOverlaps(mn, mx, value, value)
        case _ => true
      }
      rangeHit && fe.blooms.get(key).forall(KeyBloom.mightContain(_, h))
    }.map(_.path)
  }

  /** Point lookup by string key reading only [[candidateFilesString]]. */
  def pointLookupString(spark: SparkSession, root: String, key: String,
      value: String, version: Option[Long] = None): DataFrame = {
    val s = snapshot(spark, root, version)
    val files = candidateFilesString(spark, root, key, value, version)
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], s.schema)
    else spark.read.schema(s.schema)
      .parquet(files.map(p => s"$root/$p"): _*)
      .filter(col(key) === value)
  }

  /** Read version `version` (default: latest) as a DataFrame. */
  def read(spark: SparkSession, root: String,
      version: Option[Long] = None): DataFrame = {
    val s = snapshot(spark, root, version)
    if (s.files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], s.schema)
    else spark.read.schema(s.schema).parquet(s.files.map(f => s"$root/${f.path}"): _*)
  }

  /** Commit log as a DataFrame (version, op, n_files, n_rows). */
  def history(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val f = fs(spark, root)
    listVersions(f, root)
      .map(v => snapshot(spark, root, Some(v)))
      .map(s => (s.version, s.op, s.files.size.toLong, s.files.map(_.rows).sum))
      .toDF("version", "op", "n_files", "n_rows")
  }

  // ------------------------------------------- stats-pruned merge/delete

  /** File-level pruning: does `fe`'s `[min, max]` of `key` possibly
    * intersect the batch's key range? Files with no stats for `key` are
    * conservatively kept.
    */
  private def mightHit(fe: FileEntry, key: String, lo: Long, hi: Long): Boolean =
    (fe.mins.get(key), fe.maxs.get(key)) match {
      case (Some(mn), Some(mx)) => mx.toLong >= lo && mn.toLong <= hi
      case _ => true
    }

  /** Bloom refinement on top of range pruning: with a small probe key set
    * (None = too many keys, stay conservative) a file survives only if
    * some probe key might be in its bloom. Files without a bloom for `key`
    * are kept. Never prunes a true hit (bloom has no false negatives).
    */
  private def bloomMightHit(fe: FileEntry, key: String,
      probe: Option[Array[Long]]): Boolean =
    (fe.blooms.get(key), probe) match {
      case (Some(enc), Some(ks)) => ks.exists(KeyBloom.mightContain(enc, _))
      case _ => true
    }

  /** Max batch keys collected to the driver for bloom probing during
    * MERGE/DELETE — a targeted mutation ("fix these rows") gets per-file
    * bloom pruning; a bulk one falls back to range-only pruning and never
    * pulls a large key set to the driver.
    */
  val BloomProbeMax = 10000

  /** Copy-on-write upsert by `key` (a long/int column): files whose footer
    * key-range cannot contain a batch key are carried forward BY REFERENCE —
    * the 100 TB property: a merge touching one day's keys rewrites one
    * day's files, not the table. Returns the committed version.
    */
  def merge(spark: SparkSession, root: String, updates: DataFrame,
      key: String): Long =
    rewriteHits(spark, root, updates, key, "merge") { (hitRows, upd) =>
      hitRows.join(upd.select(col(key)), Seq(key), "left_anti")
        .unionByName(upd)
    }

  /** Stats-proved DELETE of every row whose string `column` equals
    * `value`, idempotent under `tag` (returns false when already applied).
    *
    * The fast path is MANIFEST-ONLY: a file whose footer stats prove
    * purity (min == max == value and zero nulls) is dropped from the
    * manifest with no data IO at all. That is the claim-wave release
    * shape ([[graft.store.connector.WorkQueueLedger]]): each wave commits
    * its rows with a constant `tag` column into its own files, so
    * releasing a wave is one commit-JSON write regardless of wave size —
    * O(1) data movement per trigger where a filtering rewrite would be
    * O(ledger) per trigger and O(N²/batch) over a worker's lifetime.
    * Files whose [min,max] range merely ADMITS `value` (or that carry no
    * stats — e.g. pre-nullCounts manifests) are rewritten without the
    * matching rows; null rows are never deleted (null ≠ `value`).
    */
  def deleteStringEquals(spark: SparkSession, root: String, column: String,
      value: String, tag: String): Boolean =
    try {
      commitLoop(spark, root, Some(tag)) { parent =>
        val p = parent.getOrElse(sys.error(s"$root does not exist"))
        val (pure, rest) = p.files.partition(fe =>
          fe.mins.get(column).contains(value) &&
            fe.maxs.get(column).contains(value) &&
            fe.nullCounts.get(column).contains(0L))
        val (mixed, kept) = rest.partition(fe =>
          (fe.mins.get(column), fe.maxs.get(column)) match {
            case (Some(mn), Some(mx)) => rangeOverlaps(mn, mx, value, value)
            case _ => fe.rows > 0 // no stats: conservatively rewritten
          })
        val _ = pure // dropped purely via the manifest diff below
        val rewritten =
          if (mixed.isEmpty) Seq.empty
          else writeData(
            spark.read.schema(p.schema)
              .parquet(mixed.map(f => s"$root/${f.path}"): _*)
              .filter(col(column).isNull || col(column) =!= value),
            root, p.bloomCols)
        ("delete", kept ++ rewritten, p.schema)
      }
      true
    } catch { case _: TagAlreadyApplied => false }

  /** Copy-on-write delete of every row whose `key` appears in `keys`. */
  def deleteByKeys(spark: SparkSession, root: String, keys: DataFrame,
      key: String): Long =
    rewriteHits(spark, root, keys.select(col(key)), key, "delete") { (hitRows, ks) =>
      hitRows.join(ks.select(col(key)), Seq(key), "left_anti")
    }

  /** String-key twin of [[deleteByKeys]]: copy-on-write delete pruned by
    * the string footer ranges and per-file blooms, so deleting a handful
    * of ids from a lifetime-sized table rewrites only the files that
    * might hold them (every other file carries by reference). Returns
    * the committed version.
    */
  def deleteByKeysString(spark: SparkSession, root: String, keys: DataFrame,
      key: String): Long = {
    val b = keys.select(col(key).cast("string").as(key))
      .filter(col(key).isNotNull).distinct().cache()
    try {
      // ONE bounded job instead of two (see rewriteHits). The collected
      // set's min/max, the agg form's and the prune below all use
      // code-point order (StringOrder), the order of the footer stats
      val probeRows = b.limit(BloomProbeMax + 1).collect()
      if (probeRows.isEmpty) // empty key set: nothing to rewrite, but still
        return commitLoop(spark, root) { parent => // a recorded commit
          val p = parent.getOrElse(sys.error(s"$root does not exist"))
          ("delete", p.files, p.schema)
        }
      val probe = if (probeRows.length > BloomProbeMax) None
        else Some(probeRows.map(_.getString(0)))
      val (lo, hi) = probe match {
        case Some(ks) => (ks.min(StringOrder), ks.max(StringOrder))
        case None =>
          val head = b.agg(min(col(key)), max(col(key))).head()
          (head.getString(0), head.getString(1))
      }
      commitLoop(spark, root) { parent =>
        val p = parent.getOrElse(sys.error(s"$root does not exist"))
        val (hits, kept) = p.files.partition { fe =>
          fe.rows > 0 && ((fe.mins.get(key), fe.maxs.get(key)) match {
            case (Some(mn), Some(mx)) => rangeOverlaps(mn, mx, lo, hi)
            case _ => true // no stats: conservatively rewritten
          }) && (probe match {
            case Some(vals) => fe.blooms.get(key).forall(enc =>
              vals.exists(v => KeyBloom.mightContain(enc, KeyBloom.stringKey(v))))
            case None => true
          })
        }
        val hitRows =
          if (hits.isEmpty)
            spark.createDataFrame(spark.sparkContext.emptyRDD[Row], p.schema)
          else spark.read.schema(p.schema)
            .parquet(hits.map(f => s"$root/${f.path}"): _*)
        val out = hitRows.join(b, Seq(key), "left_anti")
          .select(p.schema.fieldNames.map(col): _*)
        ("delete", kept ++ writeData(out, root, p.bloomCols), p.schema)
      }
    } finally { b.unpersist(); () }
  }

  private def rewriteHits(spark: SparkSession, root: String, batch: DataFrame,
      key: String, op: String)(
      rewrite: (DataFrame, DataFrame) => DataFrame): Long = {
    require(Seq("long", "integer", "int", "short").exists(
        batch.schema(key).dataType.typeName.startsWith),
      s"stats-pruned $op needs an integral key column, got " +
        batch.schema(key).dataType.typeName)
    val b = batch.cache()
    try {
      // ONE bounded job instead of two (guide §2.4 — every avoided action
      // is a whole scheduler wave per mutation commit at cluster scale):
      // collect up to BloomProbeMax+1 distinct keys; a targeted batch
      // (the common mutation) is fully under the cap, so its min/max
      // derive from the same collected set and the separate agg job
      // existed only for the over-cap bulk case — which alone still pays
      // it (and never bloom-prunes anyway)
      val probeRows = b.select(col(key).cast("long").as("k"))
        .filter(col("k").isNotNull).distinct()
        .limit(BloomProbeMax + 1).collect()
      if (probeRows.isEmpty)  // empty batch: nothing to rewrite, but still
        return commitLoop(spark, root) { parent =>  // a recorded commit
          val p = parent.getOrElse(sys.error(s"$root does not exist"))
          (op, p.files, p.schema)
        }
      val probe = if (probeRows.length > BloomProbeMax) None
        else Some(probeRows.map(_.getLong(0)))
      val (lo, hi) = probe match {
        case Some(ks) => (ks.min, ks.max)
        case None =>
          val Row(l: Long, h: Long) = b
            .agg(min(col(key).cast("long")), max(col(key).cast("long"))).head()
          (l, h)
      }
      commitLoop(spark, root) { parent =>
        val p = parent.getOrElse(sys.error(s"$root does not exist"))
        val (hits, kept) = p.files.partition(fe =>
          mightHit(fe, key, lo, hi) && bloomMightHit(fe, key, probe))
        val hitRows =
          if (hits.isEmpty)
            spark.createDataFrame(spark.sparkContext.emptyRDD[Row], p.schema)
          else spark.read.schema(p.schema)
            .parquet(hits.map(f => s"$root/${f.path}"): _*)
        val out = rewrite(hitRows, b).select(p.schema.fieldNames.map(col): _*)
        // a lost race re-runs this closure against the new parent: the
        // rewritten files of the stale attempt stay unreferenced (vacuum
        // sweeps them), so retries are safe if wasteful
        (op, kept ++ writeData(out, root, p.bloomCols), p.schema)
      }
    } finally { b.unpersist(); () }
  }

  // -------------------------------------------------------------- vacuum

  /** Drop all versions except the newest `retainVersions` (≥1) and delete
    * every data file no surviving manifest references — including leaked
    * files of crashed or raced writers. Time travel to vacuumed versions
    * then fails cleanly (snapshot's require).
    *
    * `pruneTagsKeep`: cap the idempotence-tag history carried by the
    * checkpoint this vacuum writes to the NEWEST `k` tags. Tags otherwise
    * accumulate forever (two per micro-batch on a streaming ledger —
    * O(lifetime) manifest growth, rewritten into every checkpoint), but a
    * tag only has work to do while its batch can still replay, and Spark
    * replays at most the batches since the last offsets commit. The
    * caller owns the contract: `k` must exceed the replay horizon
    * (dispatchers use 1024 against a horizon of ~1). Only effective when
    * this vacuum writes a fresh checkpoint (published checkpoints are
    * immutable); the streaming cadence always does — the head advances
    * every batch.
    */
  def vacuum(spark: SparkSession, root: String, retainVersions: Int = 1,
      pruneTagsKeep: Option[Int] = None,
      minAgeMillis: Long = 0L): Seq[String] = {
    require(retainVersions >= 1, "must retain at least the latest version")
    val f = fs(spark, root)
    val (versions, cps) = listLog(f, root)
    require(versions.nonEmpty, s"$root is not a versioned table")
    val keep = versions.takeRight(retainVersions)
    val dropping = versions.dropRight(retainVersions)
    // the oldest retained version must stay reconstructible after its
    // parent deltas are dropped: materialize a checkpoint AT it first
    // (crash between checkpoint and deletes is safe — extra checkpoint,
    // nothing lost). writeCheckpoint is best-effort by design (routine
    // commits only use checkpoints to bound replay), but HERE the retained
    // versions become unreconstructible if it silently failed — so verify
    // the checkpoint actually exists before deleting anything.
    if (!cps.contains(keep.head) && keep.head > 1L) {
      val s = snapshot(spark, root, Some(keep.head))
      val tags = pruneTagsKeep match {
        case Some(k) => s.tags.takeRight(k)
        case None => s.tags
      }
      // (the process-local snapshot cache may still hold this version with
      // the unpruned tag superset — harmless: tags only gate idempotence,
      // and a superset can only refuse re-applying an OLD tag, never admit
      // a double-apply of a new one)
      writeCheckpoint(f, root, s.version, s.op, s.schema.json, s.files,
        tags, s.bloomCols)
      // a durable checkpoint is a FILE that parses back at the right
      // version — a bare exists() would accept a squatting directory or a
      // truncated partial
      val durable = dropping.isEmpty || (try {
        org.json4s.jackson.JsonMethods
          .parse(readText(f, cpPath(root, keep.head)))
          .extract[CheckpointManifest].version == keep.head
      } catch { case scala.util.control.NonFatal(_) => false })
      require(durable,
        s"vacuum of $root aborted: checkpoint at version ${keep.head} could " +
          "not be written durably; no deltas or data files were deleted")
    }
    val referenced = keep
      .flatMap(v => snapshot(spark, root, Some(v)).files.map(_.path)).toSet
    val dataDir = new Path(root, "data")
    val removed = scala.collection.mutable.ArrayBuffer.empty[String]
    // `minAgeMillis` guards the leaked-file sweep: an unreferenced file
    // younger than the grace window may be a CONCURRENT writer's
    // just-written, not-yet-committed data (a contending claimer mid-CAS)
    // rather than a leak — deleting it would fail that commit's read side
    // after it wins (r15 ADVICE). Files a crashed writer truly leaked age
    // past any grace and are swept by a later vacuum.
    val sweepBefore = System.currentTimeMillis() - minAgeMillis
    // the sweep listings tolerate CONCURRENT vacuums (contending
    // dispatchers' maintenance ticks land together): a txn dir another
    // sweep just removed lists as empty here instead of crashing the
    // caller's streaming batch (first seen live in the 8-contender probe)
    def listOrGone(p: Path): Array[org.apache.hadoop.fs.FileStatus] =
      try f.listStatus(p)
      catch { case _: java.io.FileNotFoundException =>
        Array.empty[org.apache.hadoop.fs.FileStatus] }
    if (f.exists(dataDir)) {
      for (txn <- listOrGone(dataDir); file <- listOrGone(txn.getPath)) {
        val rel = s"data/${txn.getPath.getName}/${file.getPath.getName}"
        if (!file.getPath.getName.startsWith("_") && !referenced.contains(rel)
            && file.getModificationTime < sweepBefore) {
          f.delete(file.getPath, false)
          removed += rel
        }
      }
      // drop now-empty txn dirs (a dir emptied by a concurrent sweep
      // lists as empty and the delete is idempotent); a YOUNG empty dir
      // is spared — it may be a concurrent writer's just-created txn
      // about to receive its files
      for (txn <- listOrGone(dataDir)) {
        val left = listOrGone(txn.getPath)
        if (left.forall(_.getPath.getName.startsWith("_"))
            && txn.getModificationTime < sweepBefore)
          f.delete(txn.getPath, true)
      }
    }
    for (v <- versions.dropRight(retainVersions)) f.delete(vPath(root, v), false)
    for (c <- cps if c < keep.head) f.delete(cpPath(root, c), false)
    removed.toSeq
  }

  // ----------------------------------------------------------------- fsck

  /** Integrity audit of the latest snapshot: re-opens every referenced
    * file's footer and reports `ok` / `missing` / `row_drift` per file.
    * One footer read per file, driver-side — same cost class as a commit's
    * stats harvest; run it like you run vacuum, not per query.
    */
  def fsck(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val s = snapshot(spark, root)
    val f = fs(spark, root)
    val conf = spark.sparkContext.hadoopConfiguration
    s.files.map { fe =>
      val p = new Path(s"$root/${fe.path}")
      if (!f.exists(p)) (fe.path, "missing")
      else if (footerStats(p, conf)._1 != fe.rows) (fe.path, "row_drift")
      else (fe.path, "ok")
    }.toDF("file", "status")
  }

  // ---------------------------------------------------------- change feed

  /** CDC between two committed versions: one row per key present in either,
    * classified added / removed / changed / unchanged by row fingerprint
    * (delegates to [[graft.pipeline.Snapshots.diffSnapshots]] — one
    * full-outer join on md5 fingerprints, never a row-by-row compare).
    * This is what time travel buys downstream consumers: an incremental
    * pipeline subscribes to `changeFeed(lastSeen, latest)` instead of
    * re-reading the table.
    */
  def changeFeed(spark: SparkSession, root: String, fromVersion: Long,
      toVersion: Long, key: String): DataFrame = {
    val schema = snapshot(spark, root, Some(toVersion)).schema
    graft.pipeline.Snapshots.diffSnapshots(
      read(spark, root, Some(fromVersion)),
      read(spark, root, Some(toVersion)),
      key, schema.fieldNames.filterNot(_ == key).toSeq)
  }

  /** Row-level change feed WITH VALUES between two versions, for
    * incremental downstream maintenance ([[Ivm]]): one row per key whose
    * row was added / removed / changed, carrying the full old and new rows
    * as structs (NULL on the missing side).
    *
    * The 100 TB property is file-level pruning BEFORE the diff: carried-by-
    * reference files are identical in both versions by construction (same
    * path = same immutable bytes), so only files that entered or left the
    * manifest are read — a pruned MERGE that rewrote one day's files
    * yields a feed join over one day's rows, not a table-wide full-outer
    * join. Compaction rewrites (same rows, new files) survive correctness:
    * rewritten-but-equal rows fingerprint as unchanged and are dropped.
    */
  def changeFeedRows(spark: SparkSession, root: String, fromVersion: Long,
      toVersion: Long, key: String): DataFrame = {
    val sFrom = snapshot(spark, root, Some(fromVersion))
    val sTo = snapshot(spark, root, Some(toVersion))
    require(sFrom.schema == sTo.schema,
      "changeFeedRows across a schema change is not supported")
    val fromPaths = sFrom.files.map(_.path).toSet
    val toPaths = sTo.files.map(_.path).toSet
    val left = (fromPaths -- toPaths).toSeq.sorted   // rows possibly removed
    val entered = (toPaths -- fromPaths).toSeq.sorted // rows possibly added
    def readFiles(paths: Seq[String]): DataFrame =
      if (paths.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], sTo.schema)
      else spark.read.schema(sTo.schema).parquet(paths.map(p => s"$root/$p"): _*)
    val cols = sTo.schema.fieldNames.toSeq
    val rowType = org.apache.spark.sql.types.StructType(sTo.schema.fields)
    // one-sided fast paths: an append-only span has no left files (every
    // entered row is an add) and a pure-removal span no entered files —
    // the feed is then a straight scan, no full-outer join. At scale this
    // is the common case (daily appends), and the join it skips is the
    // only shuffle in the feed.
    if (left.isEmpty)
      return readFiles(entered).select(col(key).as("key"),
        lit("added").as("change"), lit(null).cast(rowType).as("old"),
        struct(cols.map(col): _*).as("new"))
    if (entered.isEmpty)
      return readFiles(left).select(col(key).as("key"),
        lit("removed").as("change"), struct(cols.map(col): _*).as("old"),
        lit(null).cast(rowType).as("new"))
    val o = readFiles(left)
      .select(col(key).as("key"), struct(cols.map(col): _*).as("old"))
    val n = readFiles(entered)
      .select(col(key).as("key"), struct(cols.map(col): _*).as("new"))
    o.join(n, Seq("key"), "full_outer")
      .withColumn("change",
        when(col("old").isNull, lit("added"))
          .when(col("new").isNull, lit("removed"))
          .when(md5(to_json(col("old"))) =!= md5(to_json(col("new"))),
            lit("changed"))
          .otherwise(lit("unchanged")))
      .filter(col("change") =!= "unchanged")
      .select(col("key"), col("change"), col("old"), col("new"))
  }

  // ------------------------------------------------------------ optimize

  /** OPTIMIZE: compact small files and/or rewrite the table in Z-order —
    * a layout-only commit (row set provably unchanged; spec-asserted).
    *
    * Compaction-only (`zorder = None`): files at or above `targetRows` are
    * carried by reference; the small-file tail is read once and re-packed
    * into `ceil(rows / targetRows)` files. This is the streaming-ingest
    * antidote: [[graft.exec.StreamingRunner]]-style micro-batch appends
    * leave a long tail of tiny files that would otherwise dominate task
    * scheduling at 100 TB.
    *
    * With `zorder = Some((a, b))` the WHOLE table rewrites through
    * [[graft.analytics.Layout.zorderBy]] — every output file covers a
    * square-ish tile of the (a, b) plane, so the manifest's per-file
    * min/max stats turn tight on BOTH columns and [[merge]]/[[deleteByKeys]]
    * pruning (plus any scan-side file skipping) works on either dimension.
    * Same contract as lakehouse `OPTIMIZE ... ZORDER BY`.
    */
  /** Bin-pack small files (< `targetRows`) into target-sized ones; files
    * already at target carry by reference, so repeated runs touch only
    * the NEW small-file tail — each row is rewritten at most once per
    * graduation, never per run. `sortCol` range-partitions + sorts the
    * packed rows on one column so every packed file keeps a TIGHT footer
    * range on it (the done-set shape: stats-pruned membership probes stay
    * effective after compaction; an unsorted repartition would smear every
    * file's [min,max] across the whole key space). `zorder` instead packs
    * on a 2-column space-filling curve and rewrites the whole table.
    */
  def optimize(spark: SparkSession, root: String, targetRows: Long,
      zorder: Option[(String, String)] = None,
      curve: String = "zorder",
      sortCol: Option[String] = None): Long =
    commitLoop(spark, root) { parent =>
      val p = parent.getOrElse(sys.error(s"$root does not exist"))
      val (toRewrite, kept) = zorder match {
        case Some(_) => (p.files, Seq.empty[FileEntry])
        case None => p.files.partition(_.rows < targetRows)
      }
      if (toRewrite.isEmpty) ("optimize", p.files, p.schema)
      else {
        val rows = spark.read.schema(p.schema)
          .parquet(toRewrite.map(f => s"$root/${f.path}"): _*)
        // FLOOR, not ceil: ceil packs to an average of ≤ targetRows per
        // file, so packed files sit just UNDER the graduation threshold
        // and every later run rewrites the whole set again — O(table) per
        // maintenance tick instead of O(new tail). Floor packs to ≥
        // targetRows on average, so graduated files carry by reference
        // forever and each row is rewritten at most once per graduation.
        val nOut = math.max(1L, toRewrite.map(_.rows).sum / targetRows).toInt
        // curve choice: "zorder" (Morton tiles) or "hilbert" (connected
        // curve segments — tighter per-file boxes at the same file count;
        // see Layout's locality spec)
        val packed = (zorder, sortCol) match {
          case (Some((a, b)), _) if curve == "hilbert" =>
            graft.analytics.Layout.hilbertBy(rows, a, b, numFiles = nOut).drop("_h")
          case (Some((a, b)), _) =>
            graft.analytics.Layout.zorderBy(rows, a, b, numFiles = nOut).drop("_z")
          case (None, Some(c)) =>
            rows.repartitionByRange(nOut, col(c)).sortWithinPartitions(c)
          case (None, None) => rows.repartition(nOut)
        }
        ("optimize", kept ++ writeData(packed, root, p.bloomCols), p.schema)
      }
    }

  // ---------------------------------------------------------------- gate

  /** Driver gate: a create → append → merge → delete transaction chain on a
    * fresh table, read back at the final version. Every commit is the real
    * protocol (CAS manifests, stats-pruned rewrites); the oracle replays
    * the same chain relationally. The `+ 1000.0` is one IEEE double add of
    * identical operands in both engines — bit-exact.
    */
  def mergeSnapshotGate(spark: SparkSession, sfDir: String): DataFrame = {
    val root = Files.createTempDirectory("graft-vt-gate").toString + "/t"
    val part = graft.Tables.part(spark, sfDir)
      .select("p_partkey", "p_brand", "p_retailprice")
    create(spark, root, part.filter(col("p_partkey") % 3 === 0))
    append(spark, root, part.filter(col("p_partkey") % 3 === 1))
    merge(spark, root, part.filter(col("p_partkey") % 5 === 0)
      .withColumn("p_retailprice", col("p_retailprice") + lit(1000.0)), "p_partkey")
    deleteByKeys(spark, root,
      part.filter(col("p_partkey") % 7 === 0).select("p_partkey"), "p_partkey")
    read(spark, root).orderBy("p_partkey")
  }

  /** Driver gate: OPTIMIZE as a LIFECYCLE — a create plus a micro-batch
    * append tail (the streaming-ingest small-file pattern), compacted by
    * [[optimize]], read back at the post-compaction version. The gate
    * itself asserts the layout contract (file count shrank, the one
    * already-at-target file carried by reference) so a silently broken
    * compaction fails loudly; the driver hash then proves the rewrite was
    * layout-ONLY — the row multiset after 8 commits + a compaction equals
    * the plain relational union. Thresholds derive from the data so the
    * same shape holds at sf0.01, sf0.1 and the 100× probes.
    */
  def compactSnapshotGate(spark: SparkSession, sfDir: String): DataFrame = {
    val root = Files.createTempDirectory("graft-vt-compact").toString + "/t"
    val orders = graft.Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val target = orders.count() / 10  // big files ≥ n/10 carry by reference
    create(spark, root, orders.filter(col("o_orderkey") % 8 === 0).coalesce(1))
    for (m <- 1 to 7)
      append(spark, root,
        orders.filter(col("o_orderkey") % 8 === m).repartition(3))
    val before = snapshot(spark, root)
    val bigFiles = before.files.filter(_.rows >= target).map(_.path).toSet
    optimize(spark, root, targetRows = target)
    val after = snapshot(spark, root)
    require(after.op == "optimize", s"expected an optimize commit, got ${after.op}")
    require(after.files.size < before.files.size,
      s"compaction must shrink the file count (${before.files.size} -> ${after.files.size})")
    require(bigFiles.subsetOf(after.files.map(_.path).toSet),
      "files already at target size must carry by reference, not rewrite")
    read(spark, root).orderBy("o_orderkey")
  }

  /** Driver gate: TIME TRAVEL — the same commit chain as
    * [[mergeSnapshotGate]] built to version 4, then read AS OF version 2,
    * cross-checked against the relational recomputation of that historical
    * state. What it proves that the head-read gate cannot: a pinned-version
    * snapshot replays exactly the delta prefix (base choice + replay
    * bounds), untouched by the two newer commits.
    */
  def timeTravelGate(spark: SparkSession, sfDir: String): DataFrame = {
    val root = Files.createTempDirectory("graft-vt-tt").toString + "/t"
    val part = graft.Tables.part(spark, sfDir)
      .select("p_partkey", "p_brand", "p_retailprice")
    create(spark, root, part.filter(col("p_partkey") % 3 === 0))
    append(spark, root, part.filter(col("p_partkey") % 3 === 1))
    merge(spark, root, part.filter(col("p_partkey") % 5 === 0)
      .withColumn("p_retailprice", col("p_retailprice") + lit(1000.0)), "p_partkey")
    deleteByKeys(spark, root,
      part.filter(col("p_partkey") % 7 === 0).select("p_partkey"), "p_partkey")
    read(spark, root, version = Some(2L)).orderBy("p_partkey")
  }

  /** Driver gate: CDC — [[changeFeedRows]] between version 2 (post-append)
    * and version 4 (post-delete) of the same chain, classified and
    * flattened. The engine reads ONLY files that entered or left the
    * manifest (carried-by-reference files are identical bytes by
    * construction); rewritten-but-equal rows fingerprint as unchanged and
    * drop — the oracle recomputes the identical diff relationally, so the
    * hash proves the pruned feed equals the full-table diff.
    */
  def changeFeedGate(spark: SparkSession, sfDir: String): DataFrame = {
    val root = Files.createTempDirectory("graft-vt-cdc").toString + "/t"
    val part = graft.Tables.part(spark, sfDir)
      .select("p_partkey", "p_brand", "p_retailprice")
    create(spark, root, part.filter(col("p_partkey") % 3 === 0))
    append(spark, root, part.filter(col("p_partkey") % 3 === 1))
    merge(spark, root, part.filter(col("p_partkey") % 5 === 0)
      .withColumn("p_retailprice", col("p_retailprice") + lit(1000.0)), "p_partkey")
    deleteByKeys(spark, root,
      part.filter(col("p_partkey") % 7 === 0).select("p_partkey"), "p_partkey")
    changeFeedRows(spark, root, fromVersion = 2L, toVersion = 4L, "p_partkey")
      .select(col("key").as("p_partkey"), col("change"),
        col("old.p_retailprice").as("old_price"),
        col("new.p_retailprice").as("new_price"))
      .orderBy("p_partkey")
  }

  /** Driver gate: SCHEMA EVOLUTION — a widening append (`mergeSchema`)
    * adds a column mid-table-life; pre-evolution files read the new column
    * as null without rewriting a byte (the additive-only path every
    * long-lived 100 TB table takes — rewriting history for a new feature
    * column is not an option). The oracle recomputes the widened union.
    */
  def schemaEvolutionGate(spark: SparkSession, sfDir: String): DataFrame = {
    val root = Files.createTempDirectory("graft-vt-evo").toString + "/t"
    val part = graft.Tables.part(spark, sfDir)
    create(spark, root, part.filter(col("p_partkey") % 3 === 0)
      .select("p_partkey", "p_brand"))
    val preEvolution = snapshot(spark, root).files.map(_.path).toSet
    append(spark, root, part.filter(col("p_partkey") % 3 === 1)
      .select("p_partkey", "p_brand", "p_retailprice"), mergeSchema = true)
    require(preEvolution.subsetOf(snapshot(spark, root).files.map(_.path).toSet),
      "schema evolution must not rewrite pre-evolution files")
    read(spark, root).orderBy("p_partkey")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "vt_merge_snapshot" -> (mergeSnapshotGate _),
    "vt_compact_snapshot" -> (compactSnapshotGate _),
    "vt_time_travel" -> (timeTravelGate _),
    "vt_change_feed" -> (changeFeedGate _),
    "vt_schema_evolution" -> (schemaEvolutionGate _))

  val oracles: Map[String, String] = Map(
    "vt_merge_snapshot" ->
      """WITH p AS (SELECT p_partkey, p_brand, p_retailprice FROM part),
        |base AS (SELECT * FROM p WHERE p_partkey % 3 IN (0, 1)),
        |upd AS (SELECT p_partkey, p_brand, p_retailprice + 1000.0 AS p_retailprice
        |        FROM p WHERE p_partkey % 5 = 0),
        |m AS (SELECT * FROM base WHERE p_partkey % 5 <> 0
        |      UNION ALL SELECT * FROM upd),
        |f AS (SELECT * FROM m WHERE p_partkey % 7 <> 0)
        |SELECT * FROM f ORDER BY p_partkey""".stripMargin,
    "vt_compact_snapshot" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_orderkey""".stripMargin,
    "vt_time_travel" ->
      """SELECT p_partkey, p_brand, p_retailprice FROM part
        |WHERE p_partkey % 3 IN (0, 1) ORDER BY p_partkey""".stripMargin,
    "vt_schema_evolution" ->
      """SELECT p_partkey, p_brand, CAST(NULL AS DOUBLE) AS p_retailprice
        |FROM part WHERE p_partkey % 3 = 0
        |UNION ALL
        |SELECT p_partkey, p_brand, p_retailprice
        |FROM part WHERE p_partkey % 3 = 1
        |ORDER BY p_partkey""".stripMargin,
    "vt_change_feed" ->
      """WITH p AS (SELECT p_partkey, p_retailprice FROM part),
        |v2 AS (SELECT * FROM p WHERE p_partkey % 3 IN (0, 1)),
        |v4 AS (SELECT p_partkey,
        |         CASE WHEN p_partkey % 5 = 0 THEN p_retailprice + 1000.0
        |              ELSE p_retailprice END AS p_retailprice
        |       FROM p
        |       WHERE (p_partkey % 3 IN (0, 1) OR p_partkey % 5 = 0)
        |         AND p_partkey % 7 <> 0)
        |SELECT COALESCE(v2.p_partkey, v4.p_partkey) AS p_partkey,
        |  CASE WHEN v2.p_partkey IS NULL THEN 'added'
        |       WHEN v4.p_partkey IS NULL THEN 'removed'
        |       ELSE 'changed' END AS change,
        |  v2.p_retailprice AS old_price,
        |  v4.p_retailprice AS new_price
        |FROM v2 FULL OUTER JOIN v4 ON v2.p_partkey = v4.p_partkey
        |WHERE v2.p_partkey IS NULL OR v4.p_partkey IS NULL
        |   OR v2.p_retailprice <> v4.p_retailprice
        |ORDER BY p_partkey""".stripMargin)
}
