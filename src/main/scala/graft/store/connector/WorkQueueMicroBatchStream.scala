package graft.store.connector

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl}
import org.apache.spark.sql.types.StructType

/** Micro-batch streaming read over the work-queue connector — the
  * DynamoDB-streams analog of the reference's poll loop
  * (`/root/reference/code/runner.py:144-238`): instead of sleep-refetch
  * cycles over the table, the dispatcher subscribes to the queue directory
  * and each data file arrives in exactly one micro-batch.
  *
  * Shares the batch scan's pushdown, so the streaming plan gets the same
  * source-side pruning the batch plan does:
  *  - a pushed `itemState = 'x'` equality prunes whole state DIRECTORIES at
  *    every offset listing — unselected states are never listed, never enter
  *    an offset, never produce a partition (the GSI key-condition analog,
  *    spec-asserted on the streaming plan);
  *  - a pushed `itemID` equality and the pruned column set ride into the
  *    same per-file readers the batch scan uses.
  *
  * Offsets: an offset is the sorted list of queue-relative data-file paths
  * seen so far (the file-log model of Spark's own file stream source, held
  * in the offset itself — queue dirs are micro-batch-append-shaped, so the
  * list stays proportional to files written, and a compacted queue restarts
  * the stream rather than replaying renames). A batch (start, end] reads
  * exactly the files in `end − start`; files are immutable once published
  * (writers stage + rename), so replaying a batch from the checkpoint
  * re-reads identical rows. Admission control honors `maxFilesPerTrigger`.
  */
class WorkQueueMicroBatchStream(path: String, state: Option[String],
    id: Option[String], required: StructType, maxFilesPerTrigger: Option[Int])
    extends MicroBatchStream with SupportsAdmissionControl {

  /** Sorted queue-relative file list at this instant, state-dir pruned. */
  private def listNow(): Seq[String] =
    WorkQueueSource.stateDirs(path, state).flatMap { dir =>
      WorkQueueSource.dataFiles(dir).map(f => s"${dir.getName}/${f.getName}")
    }.sorted

  override def initialOffset(): Offset = WorkQueueOffset(Nil)

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(ReadLimit.maxFiles).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "admission-controlled source: use latestOffset(start, limit)")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val seen = WorkQueueOffset.of(start).files.toSet
    val fresh = listNow().filterNot(seen)
    val admitted = limit match {
      case m: ReadMaxFiles => fresh.take(m.maxFiles)
      case _ => fresh
    }
    WorkQueueOffset((seen.toSeq ++ admitted).sorted)
  }

  override def reportLatestOffset(): Offset = WorkQueueOffset(listNow())

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = WorkQueueOffset.of(start).files.toSet
    WorkQueueOffset.of(end).files.filterNot(from).map { rel =>
      val stateDir = rel.substring(0, rel.indexOf('/'))
      WorkQueuePartition(s"$path/$rel",
        WorkQueueSource.stateOf(new java.io.File(path, stateDir))): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val req = required
    val idF = id
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
        new WorkQueueParquetReader(partition.asInstanceOf[WorkQueuePartition],
          req, idF, None)
    }
  }

  override def deserializeOffset(json: String): Offset =
    WorkQueueOffset.fromJson(json)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def toString: String =
    s"WorkQueueMicroBatchStream(path=$path, pushedState=$state, pushedId=$id, " +
      s"columns=${required.fieldNames.mkString(",")})"
}

/** Offset = the sorted set of queue-relative data files read so far. */
final case class WorkQueueOffset(files: Seq[String]) extends Offset {
  override def json(): String =
    org.json4s.jackson.Serialization.write(files)(org.json4s.DefaultFormats)
}

object WorkQueueOffset {
  def fromJson(json: String): WorkQueueOffset = {
    implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
    WorkQueueOffset(org.json4s.jackson.JsonMethods.parse(json)
      .extract[Seq[String]].sorted)
  }
  def of(o: Offset): WorkQueueOffset = o match {
    case w: WorkQueueOffset => w
    case other => fromJson(other.json())
  }
}
