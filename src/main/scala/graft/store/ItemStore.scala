package graft.store

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.model.WorkItem

/** Persistence for the work-item table (SURVEY.md §2 S1/S8/S11).
  *
  * The reference's store is a DynamoDB table whose four GSIs all hash on
  * `ItemState` (`code/workflow-gsi-index.json`) — every hot query is a state
  * equality. The Spark-native analog: a parquet table **partitioned by
  * `itemState`** so those same queries are partition-pruned at the file
  * level (the moral equivalent of the GSI, with no per-query capacity
  * units). At 100 TB the state partition count stays 4, and pruning means a
  * `todo` poll touches only the todo files. A DynamoDB connector would slot
  * in behind this same interface (driver constraint: no extra deps, so
  * parquet is the concrete store here).
  */
object ItemStore {

  /** DDL analog of `create_workflow_table` (`code/manager.py:134-183`):
    * materialize an empty partitioned table with the canonical schema.
    * No GSIs to declare — partitioning by state plays that role.
    */
  def create(spark: SparkSession, path: String): Unit =
    save(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], WorkItem.schema), path)

  /** `delete_workflow_table` analog (`code/manager.py:187-205`). */
  def drop(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    ()
  }

  /** `check_table` analog (`code/manager.py:87-109`). */
  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  def save(items: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite): Unit =
    items.write
      .mode(mode)
      .partitionBy("itemState")
      .parquet(path)

  /** Append newly imported items (`put_item` sink, batched — S8). */
  def append(items: DataFrame, path: String): Unit = save(items, path, SaveMode.Append)

  /** Entry check for dispatchers: true iff batch `batchKey` fully
    * committed (its marker landed) — a replayed batch can then skip claim
    * + execution, not just the write. Dispatchers that share ONE outcome
    * store across workers scope the key by claim identity
    * (`$instance-$batchId`) — every worker's micro-batch numbering starts
    * at 0, so an unscoped key would let worker B's batch 0 be "already
    * committed" by worker A's, silently dropping B's outcomes. Keys must
    * be filename-safe.
    */
  def batchCommitted(spark: SparkSession, path: String, batchKey: String): Boolean = {
    val marker = new Path(new Path(path), s"_graft_commits/batch-$batchKey")
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(marker)
  }

  /** Exactly-once append for streaming `foreachBatch`: `append` replayed
    * after a post-write crash duplicates the batch (foreachBatch is
    * at-least-once — Spark replays the last uncommitted batch on restart).
    * This commit is idempotent in `batchKey`:
    *
    *  1. a `_graft_commits/batch-<key>` marker short-circuits a replay of a
    *     fully committed batch;
    *  2. rows stage to a sibling dir (overwrite mode — a replayed partial
    *     stage just rewrites it; readers of `path` never see staged files);
    *  3. staged files move into the live partition dirs under DETERMINISTIC
    *     `batch-<key>-part-N` names, deleting any same-batch leftovers first —
    *     so a crash between move and marker re-moves the same names instead
    *     of adding new ones;
    *  4. the marker lands last.
    *
    * Every crash point therefore converges to exactly one copy of the
    * batch's rows. On a transactional table format this is a single
    * idempotent `MERGE`/`replaceWhere(batchId)`; plain parquet needs the
    * marker dance. Returns false when the batch was already committed.
    * The reference's analog is the lockID verify loop (`code/modifier.py:99-125`)
    * that exists to stop double-execution; here the WRITE side gets the same
    * guarantee.
    */
  def commitBatch(items: DataFrame, path: String, batchKey: String): Boolean = {
    val spark = items.sparkSession
    val hconf = spark.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val fs = root.getFileSystem(hconf)
    val marker = new Path(root, s"_graft_commits/batch-$batchKey")
    if (fs.exists(marker)) return false
    val stagingStr = s"$path.batch-$batchKey.staging"
    items.write.mode(SaveMode.Overwrite).partitionBy("itemState").parquet(stagingStr)
    val staging = new Path(stagingStr)
    fs.listStatus(staging)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("itemState="))
      .foreach { part =>
        val dest = new Path(root, part.getPath.getName)
        fs.mkdirs(dest)
        fs.listStatus(dest)
          .filter(_.getPath.getName.startsWith(s"batch-$batchKey-"))
          .foreach(f => fs.delete(f.getPath, false))
        part.getPath.getFileSystem(hconf).listStatus(part.getPath)
          .map(_.getPath).filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
          .zipWithIndex.foreach { case (f, i) =>
            require(fs.rename(f, new Path(dest, f"batch-$batchKey-part-$i%05d.parquet")),
              s"failed to publish staged batch file $f")
          }
      }
    fs.delete(staging, true)
    fs.mkdirs(marker.getParent)
    fs.create(marker, true).close()
    true
  }

  def load(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(WorkItem.schema).parquet(path)

  /** itemIDs of batch `batchKey`'s committed rows that landed in the given
    * `states` partitions — read from the batch's own deterministically
    * named `batch-<key>-part-*` files, so a replayed dispatcher can
    * recompute a wave's TERMINAL subset exactly as the original commit
    * wrote it, immune to any later mutation of the store. Empty when the
    * batch published nothing into those states.
    */
  def batchItemIds(spark: SparkSession, path: String, batchKey: String,
      states: Seq[String]): DataFrame = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = states.flatMap { st =>
      val escaped = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .escapePathName(st)
      val dir = new Path(root, s"itemState=$escaped")
      if (!fs.exists(dir)) Seq.empty[String]
      else fs.listStatus(dir).map(_.getPath)
        .filter(_.getName.startsWith(s"batch-$batchKey-"))
        .map(_.toString).toSeq
    }
    if (files.isEmpty)
      spark.range(0).select(
        org.apache.spark.sql.functions.lit("").as("itemID"))
    else spark.read.parquet(files: _*).select("itemID")
  }

  /** Full [[WorkItem]]-shaped rows of batch `batchKey` committed under
    * ONE `state` partition (the partition column is reconstructed from
    * the directory, as for [[batchItemIds]]). Used by replayed
    * dispatchers to recompute a wave's retirable split.
    */
  def batchRows(spark: SparkSession, path: String, batchKey: String,
      state: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val escaped = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .escapePathName(state)
    val dir = new Path(root, s"itemState=$escaped")
    val files =
      if (!fs.exists(dir)) Seq.empty[String]
      else fs.listStatus(dir).map(_.getPath)
        .filter(_.getName.startsWith(s"batch-$batchKey-"))
        .map(_.toString).toSeq
    val dataSchema = org.apache.spark.sql.types.StructType(
      WorkItem.schema.filterNot(_.name == "itemState"))
    val base =
      if (files.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], dataSchema)
      else spark.read.schema(dataSchema).parquet(files: _*)
    base.withColumn("itemState", lit(state))
      .select(WorkItem.schema.fieldNames.map(col): _*)
  }

  /** Compact the store's data files: streaming [[commitBatch]] appends one
    * file per micro-batch per state partition, and at streaming rates the
    * partition dirs accumulate thousands of small files — the classic
    * small-file problem. Rewrites every state partition into at most
    * `filesPerPartition` files through the same stage-and-swap path as
    * [[replacePartitions]].
    *
    * The `_graft_commits` markers are at the table root and survive the
    * partition swap UNTOUCHED — deliberately: exactly-once depends on a
    * replayed batchId still short-circuiting after its rows were compacted
    * into anonymous files (spec-asserted). On a transactional table format
    * this is OPTIMIZE/rewriteDataFiles.
    */
  def compact(spark: SparkSession, path: String,
      filesPerPartition: Int = 1): Unit = {
    import org.apache.spark.sql.functions.col
    val current = load(spark, path)
    val states = current.select("itemState").distinct()
      .collect().map(_.getString(0)).toSeq
    replacePartitions(
      current.repartition(filesPerPartition, col("itemState")),
      path, states)
  }

  /** Partition-scoped persistence for mutations: rewrite ONLY the
    * `itemState` partitions named in `states`, leaving every other
    * partition's files untouched (byte-identical — spec-asserted). This is
    * the reference's per-item `update_item` cost model
    * (`code/modifier.py:219-249`) done Spark-natively: a reset of 0.1% of a
    * 100 TB table rewrites the affected state partitions, not the table.
    *
    * Mechanics: the touched rows are staged to `<path>.next` (computing them
    * from the live files while overwriting those same files in place is a
    * read/write conflict Spark rightly rejects), then each affected
    * partition directory is swapped via FS rename — the same
    * any-FileSystem-safe swap as the full rewrite. A partition that ends up
    * with zero rows is dropped. On a transactional table format
    * (Iceberg/Delta) this maps to `overwritePartitions`/MERGE; parquet dirs
    * are the dependency-free stand-in here.
    */
  def replacePartitions(updated: DataFrame, path: String,
      states: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.col
    val spark = updated.sparkSession
    val tmp = path + ".next"
    updated.filter(col("itemState").isin(states: _*))
      .write.mode(SaveMode.Overwrite).partitionBy("itemState").parquet(tmp)
    val hconf = spark.sparkContext.hadoopConfiguration
    val tmpPath = new Path(tmp)
    val fs = tmpPath.getFileSystem(hconf)
    states.foreach { st =>
      // partition directory names use Spark's escaping convention — a raw
      // state value containing ':', ' ', '%', … would miss the real dir
      // and silently drop the staged rows
      val escaped = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .escapePathName(st)
      val dest = new Path(path, s"itemState=$escaped")
      val src = new Path(tmp, s"itemState=$escaped")
      fs.delete(dest, true)
      if (fs.exists(src))
        require(fs.rename(src, dest),
          s"failed to swap partition $src into place at $dest")
    }
    fs.delete(tmpPath, true)
    ()
  }
}
