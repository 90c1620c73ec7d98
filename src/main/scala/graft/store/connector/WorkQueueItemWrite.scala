package graft.store.connector

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType

/** Batch row-insert path for [[WorkQueueSource]] — the write half that makes
  * the connector a full source/sink pair (the reference's batch `put_item`
  * import loop, `code/manager.py:278-358`; here the rows land in the same
  * `itemState=<s>/` layout every read path already scans).
  *
  * Commit protocol (the moral of a DSv2 sink, scaled to the filesystem
  * demo): each task streams its rows into INVISIBLE temp files (dot-prefix
  * — readers skip dot files), the task's commit message carries the temp
  * paths, and the JOB commit renames them into visible
  * `part-<query>-<task>-<state>.parquet` names ([[WorkQueueParquet]]) —
  * same-directory renames, so a reader never observes a torn file and an
  * abort just deletes temps. A re-executed task (speculation, retry) writes
  * fresh temps under its own attempt's UUID; only the committed attempt's
  * files are published.
  */
class WorkQueueItemWrite(path: String, schema: StructType, queryId: String)
    extends WriteBuilder with Write with BatchWrite {

  override def build(): Write = this
  override def toBatch: BatchWrite = this
  override def description(): String = s"WorkQueueItemWrite(path=$path)"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new ItemWriterFactory(path, schema, queryId)

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case m: ItemCommitMessage => m }.foreach { m =>
      m.tempFiles.foreach { case (tmp, finalName) =>
        val src = Paths.get(tmp)
        if (!Files.exists(src))
          throw new java.io.IOException(s"committed task file vanished: $tmp")
        Files.move(src, src.resolveSibling(finalName),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        // hadoop's checksummed local FS leaves a dot-prefixed .crc sidecar
        // next to parquet temps; it is invisible to readers but dead after
        // the rename — sweep it
        Files.deleteIfExists(
          src.getParent.resolve("." + src.getFileName.toString + ".crc"))
        ()
      }
    }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case m: ItemCommitMessage => m }
      .foreach(_.tempFiles.foreach { case (tmp, _) =>
        Files.deleteIfExists(Paths.get(tmp)); ()
      })
}

final case class ItemCommitMessage(tempFiles: Seq[(String, String)])
    extends WriterCommitMessage

class ItemWriterFactory(path: String, schema: StructType, queryId: String)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new ItemWriter(path, schema, queryId, partitionId, taskId)
}

/** One open output per itemState directory. */
private[connector] final class ParquetStateFile(val tmp: String,
    val finalName: String) {
  private val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
    .builder(new org.apache.hadoop.fs.Path(tmp))
    .withConf(new org.apache.hadoop.conf.Configuration())
    .withType(WorkQueueParquet.FileSchema)
    .build()
  private val factory =
    new org.apache.parquet.example.data.simple.SimpleGroupFactory(
      WorkQueueParquet.FileSchema)
  def write(itemID: String, taskID: String, logLength: java.lang.Long,
      nestedTaskCount: java.lang.Long): Unit = {
    val g = factory.newGroup()
    // the string cells are required: a null string is stored as ""
    g.add("itemID", if (itemID == null) "" else itemID)
    g.add("taskID", if (taskID == null) "" else taskID)
    if (logLength != null) g.add("logLength", logLength.longValue())
    if (nestedTaskCount != null) g.add("nestedTaskCount", nestedTaskCount.longValue())
    w.write(g)
  }
  def close(): Unit = w.close()
}

/** Streams rows into one temp file per itemState directory. The stored
  * field order is the reader's contract: (itemID, taskID, logLength,
  * nestedTaskCount) — itemState is the directory, never a stored column.
  */
class ItemWriter(path: String, schema: StructType, queryId: String,
    partitionId: Int, taskId: Long)
    extends DataWriter[InternalRow] {

  private val idx = WorkQueueSource.schema.fieldNames
    .map(n => n -> (if (schema.fieldNames.contains(n)) schema.fieldIndex(n) else -1))
    .toMap
  private val attempt = java.util.UUID.randomUUID().toString
  private val open = scala.collection.mutable.Map.empty[String, ParquetStateFile]

  private def str(row: InternalRow, field: String): String = {
    val i = idx(field)
    if (i < 0 || row.isNullAt(i)) null else row.getUTF8String(i).toString
  }
  private def lng(row: InternalRow, field: String): java.lang.Long = {
    val i = idx(field)
    if (i < 0 || row.isNullAt(i)) null else java.lang.Long.valueOf(row.getLong(i))
  }

  override def write(row: InternalRow): Unit = {
    val state = str(row, "itemState")
    require(state != null, "itemState must not be null in a queue row")
    val sf = open.getOrElseUpdate(state, {
      val dir = Paths.get(path, "itemState=" + WorkQueueSource.escapeToken(state))
      Files.createDirectories(dir)
      val base = s"$queryId-$partitionId-$taskId-$attempt"
      val tmp = dir.resolve(s".inprogress-$base").toString
      new ParquetStateFile(tmp,
        s"part-$base-${WorkQueueSource.escapeToken(state)}.parquet")
    })
    sf.write(str(row, "itemID"), str(row, "taskID"),
      lng(row, "logLength"), lng(row, "nestedTaskCount"))
  }

  override def commit(): WriterCommitMessage = {
    open.values.foreach(_.close())
    ItemCommitMessage(open.values.map(f => (f.tmp, f.finalName)).toSeq)
  }

  override def abort(): Unit = {
    open.values.foreach { f =>
      try f.close() catch { case _: java.io.IOException => () }
      Files.deleteIfExists(Paths.get(f.tmp))
      // parquet writers leave a .crc sidecar next to local temps
      val crc = Paths.get(f.tmp).getParent
        .resolve("." + Paths.get(f.tmp).getFileName.toString + ".crc")
      Files.deleteIfExists(crc)
      ()
    }
  }

  override def close(): Unit = ()
}
