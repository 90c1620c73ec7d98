package graft.store.connector

import java.util

import scala.collection.JavaConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 work-queue connector (SURVEY §4: "a custom work-queue
  * source with claim semantics — DataSource V2 with SupportsPushDownFilters
  * covers it without a strategy"). This is the slot a DynamoDB connector
  * plugs into (`spark.read.format(...)`): here backed by state-partitioned
  * parquet files (`path/itemState=<escaped>/part-*.parquet`, see
  * [[WorkQueueParquet]]) so the pushdown mechanics —
  * the moral equivalent of choosing the reference's `ItemStateIndex` GSI
  * (`code/client.py:74-135`) — are real and testable:
  *
  *  - `SupportsPushDownFilters`: an `itemState = 'x'` equality prunes whole
  *    state directories before any file is opened (partition pruning at the
  *    source, like a GSI key-condition).
  *  - `SupportsPushDownRequiredColumns`: only requested columns leave the
  *    file (the reference's `ProjectionExpression`, P1).
  *
  * Usage: `spark.read.format("graft.store.connector.WorkQueueSource")
  * .option("path", dir).load()`.
  */
class WorkQueueSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    WorkQueueSource.schema

  // writes may carry any item-shaped schema (itemID, itemState and a subset
  // of the rest) — accept the query's own schema so AppendData resolves;
  // reads without a user schema still get inferSchema's shape
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new WorkQueueTable(properties.get("path"), schema)
}

object WorkQueueSource {
  /** Flat monitoring subset of the item schema (the queue-poll projection). */
  val schema: StructType = StructType(Seq(
    StructField("itemID", StringType),
    StructField("taskID", StringType),
    StructField("itemState", StringType),
    StructField("logLength", LongType),
    StructField("nestedTaskCount", LongType)))

  /** Overwrite the connector's layout with a DataFrame (schema above),
    * THROUGH the connector's own DSv2 write path ([[WorkQueueItemWrite]]) —
    * the sink half of the source/sink pair. Overwrite semantics: existing
    * state directories are cleared first (driver-side, before the job).
    * itemState must not be null; any other string value round-trips.
    */
  def write(df: org.apache.spark.sql.DataFrame, path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(); ()
    }
    stateDirs(path).foreach(rm)
    append(df, path)
  }

  /** Append rows into the connector's layout through the DSv2 write path.
    * `format` only accepts `parquet`, the one queue layout; any other value
    * fails instead of being ignored.
    */
  def append(df: org.apache.spark.sql.DataFrame, path: String,
      format: String = "parquet"): Unit = {
    requireParquet("WorkQueueSource.append format", format)
    df.select(schema.fieldNames.map(org.apache.spark.sql.functions.col): _*)
      .write.format("graft.store.connector.WorkQueueSource")
      .option("path", path).mode("append").save()
  }

  /** Fails a retired format switch that names anything but parquet. */
  private[connector] def requireParquet(switch: String, format: String): Unit =
    require(format == "parquet",
      s"$switch=$format is retired: parquet is the one queue layout")

  /** The queue's state directories (`itemState=<escaped>`) under `path`,
    * restricted to `state` when one is given. The restriction compares the
    * DECODED value, so states with escaped characters still prune, and an
    * unselected state's files are never listed (the GSI key-condition
    * analog).
    */
  def stateDirs(path: String, state: Option[String] = None): Seq[java.io.File] =
    Option(new java.io.File(path).listFiles()).getOrElse(Array.empty).toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("itemState="))
      .filter(d => state.forall(_ == stateOf(d)))

  /** The `part-*.parquet` data files of one state directory.
    * Dot-prefixed files (a writer's in-progress temps, checksum sidecars)
    * are invisible; any other visible file fails with its path, so a queue
    * left in an older layout is re-imported instead of read as empty.
    */
  private[connector] def dataFiles(dir: java.io.File): Seq[java.io.File] = {
    val visible = Option(dir.listFiles()).getOrElse(Array.empty).toSeq
      .filter(f => f.isFile && !f.getName.startsWith("."))
    visible.find(!_.getName.endsWith(".parquet")).foreach { f =>
      throw new IllegalStateException(s"queue file ${f.getPath} is not " +
        "parquet, the one queue layout: re-import the queue")
    }
    visible
  }

  /** Percent-escape an itemState for its `itemState=<escaped>` directory
    * name, one `%XX` per UTF-8 byte ([[unescapePartitionValue]] decodes
    * it). Only ASCII letters/digits/`_-.` pass through raw: raw non-ASCII
    * in a filename is subject to filesystem Unicode normalization (macOS
    * stores NFD), which would break the byte-equality round-trip that maps
    * one state to exactly one directory.
    */
  def escapeToken(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      val n = Character.charCount(cp)
      val c = s.charAt(i)
      if (n == 1 && c < 0x80 && (c.isLetterOrDigit || c == '_' || c == '-' || c == '.'))
        sb.append(c)
      else
        new String(Character.toChars(cp))
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          .foreach(b => sb.append(f"%%${b & 0xFF}%02X"))
      i += n
    }
    sb.result()
  }

  /** Undo percent-escaping of partition directory values — both Spark's
    * own (ASCII specials, one %XX per char) and [[escapeToken]]'s (one %XX
    * per UTF-8 byte): runs of consecutive %XX groups collect into a byte
    * buffer and decode as UTF-8, so multi-byte escapes reassemble into
    * their original code points. A '%' not followed by two hex digits
    * passes through verbatim. A byte run that is not valid UTF-8 is a
    * name no writer produced: it fails loudly instead of decoding to
    * different text.
    */
  def unescapePartitionValue(s: String): String = {
    def hex(c: Char): Boolean =
      (c >= '0' && c <= '9') || (c >= 'A' && c <= 'F') || (c >= 'a' && c <= 'f')
    val out = new StringBuilder
    val bytes = new java.io.ByteArrayOutputStream
    def flush(): Unit = if (bytes.size > 0) {
      val strict = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
        .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
        .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
      try out.append(strict.decode(java.nio.ByteBuffer.wrap(bytes.toByteArray)).toString)
      catch {
        case e: java.nio.charset.CharacterCodingException =>
          throw new IllegalArgumentException(
            s"malformed escape in '$s': a %XX run is not valid UTF-8", e)
      }
      bytes.reset()
    }
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 3 <= s.length && hex(s.charAt(i + 1)) && hex(s.charAt(i + 2))) {
        bytes.write(Integer.parseInt(s.substring(i + 1, i + 3), 16))
        i += 3
      } else { flush(); out.append(c); i += 1 }
    }
    flush()
    out.result()
  }

  /** The itemState a queue state directory (`itemState=<escaped>`) holds;
    * a name that does not decode fails with the directory's path.
    */
  def stateOf(dir: java.io.File): String =
    try unescapePartitionValue(dir.getName.stripPrefix("itemState="))
    catch {
      case e: IllegalArgumentException =>
        throw new IllegalArgumentException(
          s"queue state directory ${dir.getPath}: ${e.getMessage}", e)
    }
}

/** Parquet shape of a queue data file: the stored fields are (itemID,
  * taskID, logLength, nestedTaskCount); itemState is the directory. Null
  * strings are stored and read back as "". Parquet gives the scan
  * projection pushdown into the file and the count scan a metadata-only
  * row count.
  */
object WorkQueueParquet {
  import org.apache.parquet.schema.{MessageType, Types}
  import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
  import org.apache.parquet.schema.LogicalTypeAnnotation.stringType

  val FileSchema: MessageType = Types.buildMessage()
    .required(PrimitiveTypeName.BINARY).as(stringType()).named("itemID")
    .required(PrimitiveTypeName.BINARY).as(stringType()).named("taskID")
    .optional(PrimitiveTypeName.INT64).named("logLength")
    .optional(PrimitiveTypeName.INT64).named("nestedTaskCount")
    .named("queue_item")

  /** Projection of [[FileSchema]] to the named STORED fields — what the
    * reader hands parquet-mr so unread columns never leave the file.
    */
  def projection(fields: Seq[String]): MessageType = {
    val b = Types.buildMessage()
    fields.foreach {
      case "itemID" =>
        b.required(PrimitiveTypeName.BINARY).as(stringType()).named("itemID"); ()
      case "taskID" =>
        b.required(PrimitiveTypeName.BINARY).as(stringType()).named("taskID"); ()
      case "logLength" => b.optional(PrimitiveTypeName.INT64).named("logLength"); ()
      case "nestedTaskCount" =>
        b.optional(PrimitiveTypeName.INT64).named("nestedTaskCount"); ()
      case other => throw new IllegalArgumentException(s"not a stored field: $other")
    }
    b.named("queue_item")
  }

  /** Open a projected record reader over one queue parquet file. */
  def open(file: String, fields: Seq[String])
      : org.apache.parquet.hadoop.ParquetReader[org.apache.parquet.example.data.Group] = {
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.set(org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA,
      projection(fields).toString)
    org.apache.parquet.hadoop.ParquetReader
      .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(),
        new org.apache.hadoop.fs.Path(file))
      .withConf(conf)
      .build()
  }

  /** Footer-only row count — the count scan never touches a data page. */
  def rowCount(file: String): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file),
      new org.apache.hadoop.conf.Configuration())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }
}

class WorkQueueTable(path: String, tableSchema: StructType = WorkQueueSource.schema)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"workqueue($path)"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ)
  // itemState/itemID read OPTIONS are the STREAMING pushdown surface:
  // Spark's V2ScanRelationPushDown only rewrites batch relations (checked
  // against 4.1 — MicroBatchExecution builds its scan without it), so a
  // streaming reader declares its key conditions up front and gets the
  // same source-side pruning the batch optimizer derives from filters
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new WorkQueueScanBuilder(path,
      Option(options.get("maxFilesPerTrigger")).map(_.toInt),
      Option(options.get("itemState")),
      Option(options.get("itemID")))
  // the sink half of the source/sink pair: item rows append into the state
  // layout — the import slot of the reference's batch writer
  // (`code/manager.py:278-358`)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    val fields = info.schema().fieldNames.toSet
    require(fields.contains("itemID") && fields.contains("itemState"),
      s"workqueue write needs an item (itemID, itemState...) schema, got: ${fields.mkString(",")}")
    Option(info.options().get("format")).foreach(f =>
      WorkQueueSource.requireParquet("workqueue write option format", f))
    new WorkQueueItemWrite(path, info.schema(), info.queryId())
  }
}

class WorkQueueScanBuilder(path: String,
    maxFilesPerTrigger: Option[Int] = None,
    presetState: Option[String] = None,
    presetId: Option[String] = None)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates
    with SupportsPushDownLimit {

  private var stateFilter: Option[String] = presetState
  private var idFilter: Option[String] = presetId
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = WorkQueueSource.schema
  private var countByState = false
  private var limit: Option[Int] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // accept exactly ONE itemState equality; a second (possibly conflicting)
    // one must stay post-scan or Spark would trust us to have enforced both
    val firstEq = filters.collectFirst { case f @ EqualTo("itemState", _: String) => f }
    stateFilter = firstEq.map(_.value.asInstanceOf[String]).orElse(presetState)
    // an itemID equality is the point-lookup key (S4/S5, the reference's
    // getCurrentState/getLockID — `code/client.py:139-184`): enforced in the
    // reader during parsing, so LIMIT can then also push beneath it
    val idEq = filters.collectFirst { case f @ EqualTo("itemID", _: String) => f }
    idFilter = idEq.map(_.value.asInstanceOf[String]).orElse(presetId)
    // IsNotNull(c) is implied by a pushed EqualTo(c, nonNullLiteral) — the
    // equality enforcement subsumes it, and leaving it residual would block
    // LIMIT pushdown (Spark only pushes a limit through a fully-pushed
    // filter set)
    val eqCols = (firstEq.toSeq ++ idEq.toSeq)
      .map(_.attribute).toSet
    val impliedNotNull = filters.collect {
      case f @ org.apache.spark.sql.sources.IsNotNull(c) if eqCols(c) => f
    }
    pushed = firstEq.toArray ++ idEq.toArray ++ impliedNotNull
    filters.filterNot(pushed.contains)
  }

  /** Point-lookup LIMIT pushdown (S4/S5): with the key equalities pushed,
    * `pointLookup(...).head()` plans `Limit → Scan` and the limit lands
    * here; each partition reader stops after `limit` matching rows instead
    * of draining its file — a real GSI point read touches one page, and the
    * local analog is "stop at the first hit". `isPartiallyPushed` stays
    * true (the default): readers bound rows PER PARTITION, Spark keeps the
    * cross-partition global limit — and its incremental take (scan 1
    * partition, then grow) means a satisfied point read opens one file.
    */
  override def pushLimit(l: Int): Boolean = {
    limit = Some(l)
    true
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** The monitor's poll — `GROUP BY itemState` + `COUNT(*)` — is answered
    * from the source without materializing a single item row: footer row
    * counts per state directory (the DynamoDB-connector analog is a per-GSI-key
    * `Select COUNT` query, which DynamoDB serves from the index without
    * returning items). COMPLETE pushdown: the scan emits exactly one
    * pre-aggregated row per state, so Spark plans no aggregate at all over
    * the queue — at any queue size the monitor moves `n_states` rows.
    */
  private def canPushCount(agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    agg.groupByExpressions.length == 1 && agg.aggregateExpressions.length == 1 &&
      (agg.groupByExpressions()(0) match {
        case f: org.apache.spark.sql.connector.expressions.NamedReference =>
          f.fieldNames.sameElements(Array("itemState"))
        case _ => false
      }) &&
      agg.aggregateExpressions()(0)
        .isInstanceOf[org.apache.spark.sql.connector.expressions.aggregate.CountStar]

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    canPushCount(agg)

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    countByState = canPushCount(agg)
    countByState
  }

  override def build(): Scan =
    if (countByState) new WorkQueueCountScan(path, stateFilter, idFilter)
    else new WorkQueueScan(path, stateFilter, idFilter, limit, required,
      maxFilesPerTrigger)
}

/** Complete-pushdown scan for `COUNT(*) GROUP BY itemState`: one input
  * partition per (pruned) state directory, each emitting a single
  * `(itemState, count)` row — no row materialization, no Spark-side
  * aggregate. Without an `itemID` filter the count is the sum of the
  * files' footer row counts (no data page is read); with one, each file's
  * `itemID` column alone is read and only matches are counted — the
  * reference's per-item state probe is a point read
  * (`code/client.py:139-159`), and the connector answers it from the
  * index side without shipping rows. A state whose matching count is zero
  * emits NO row (a group-by never invents empty groups).
  */
class WorkQueueCountScan(path: String, state: Option[String],
    id: Option[String] = None) extends Scan with Batch {

  // pushed-aggregate contract: group-by columns first, then aggregate columns
  override def readSchema(): StructType = StructType(Seq(
    StructField("itemState", StringType),
    StructField("count(*)", LongType, nullable = false)))

  override def toBatch: Batch = this
  override def description(): String =
    s"WorkQueueCountScan(path=$path, pushedState=$state, pushedId=$id, " +
      "pushedAggregation=count(*) group by itemState)"

  override def planInputPartitions(): Array[InputPartition] =
    WorkQueueSource.stateDirs(path, state).map(dir =>
      WorkQueueStatePartition(WorkQueueSource.stateOf(dir),
        WorkQueueSource.dataFiles(dir).map(_.getAbsolutePath)): InputPartition)
      .toArray

  override def createReaderFactory(): PartitionReaderFactory = {
    val idF = id
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
        val p = partition.asInstanceOf[WorkQueueStatePartition]
        new PartitionReader[InternalRow] {
          private var emitted = false
          private lazy val n: Long = p.files.map { f =>
            if (idF.isEmpty) WorkQueueParquet.rowCount(f)
            else {
              // key probe: the row reader with no output columns reads
              // only the itemID column and enforces the pushed id
              val r = new WorkQueueParquetReader(WorkQueuePartition(f, p.state),
                StructType(Nil), idF)
              try {
                var c = 0L
                while (r.next()) c += 1
                c
              } finally r.close()
            }
          }.sum
          override def next(): Boolean =
            if (emitted || n == 0L) false
            else {
              emitted = true
              true
            }
          override def get(): InternalRow =
            InternalRow.fromSeq(Seq(UTF8String.fromString(p.state), n))
          override def close(): Unit = ()
        }
      }
    }
  }
}

final case class WorkQueueStatePartition(state: String, files: Seq[String])
    extends InputPartition

class WorkQueueScan(path: String, state: Option[String], id: Option[String],
    limit: Option[Int], required: StructType,
    maxFilesPerTrigger: Option[Int] = None)
    extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  // the same pushed state/id/columns ride into the streaming read — the
  // dispatcher's plan is pruned exactly like the batch plan's
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new WorkQueueMicroBatchStream(path, state, id, required, maxFilesPerTrigger)
  override def description(): String =
    s"WorkQueueScan(path=$path, pushedState=$state, pushedId=$id, " +
      s"pushedLimit=$limit, columns=${required.fieldNames.mkString(",")})"

  // state equality prunes directories HERE — unselected states are never
  // listed, the GSI-pushdown analog
  override def planInputPartitions(): Array[InputPartition] =
    WorkQueueSource.stateDirs(path, state).flatMap { dir =>
      val st = WorkQueueSource.stateOf(dir)
      WorkQueueSource.dataFiles(dir)
        .map(f => WorkQueuePartition(f.getAbsolutePath, st): InputPartition)
    }.toArray

  override def createReaderFactory(): PartitionReaderFactory = {
    val req = required
    val idF = id
    val lim = limit
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
        new WorkQueueParquetReader(partition.asInstanceOf[WorkQueuePartition],
          req, idF, lim)
    }
  }
}

final case class WorkQueuePartition(file: String, state: String) extends InputPartition

/** Row reader over one queue parquet file: the projection the scan
  * pruned is handed to parquet-mr, so unread columns never leave the file.
  * itemState comes from the directory (a partition value, never stored);
  * the pushed itemID equality is enforced while iterating (non-matching
  * rows never materialize), and a pushed limit stops the reader at its
  * per-partition bound — a satisfied point read reads up to the hit and
  * no further.
  */
class WorkQueueParquetReader(partition: WorkQueuePartition,
    required: StructType, idFilter: Option[String] = None,
    limit: Option[Int] = None) extends PartitionReader[InternalRow] {

  // stored fields needed: the pruned columns minus the directory-valued
  // itemState, plus itemID when a pushed point filter must probe it
  private val storedNeeded = {
    val cols = required.fieldNames.filterNot(_ == "itemState").toSeq
    if (idFilter.isDefined && !cols.contains("itemID")) "itemID" +: cols
    else cols
  }
  private val reader =
    if (storedNeeded.isEmpty) WorkQueueParquet.open(partition.file, Seq("itemID"))
    else WorkQueueParquet.open(partition.file, storedNeeded)
  private var current: InternalRow = _
  private var emitted = 0

  private def strField(g: org.apache.parquet.example.data.Group,
      name: String): String =
    if (g.getFieldRepetitionCount(name) == 0) null else g.getString(name, 0)
  private def lngField(g: org.apache.parquet.example.data.Group,
      name: String): java.lang.Long =
    if (g.getFieldRepetitionCount(name) == 0) null
    else java.lang.Long.valueOf(g.getLong(name, 0))

  @annotation.tailrec
  override final def next(): Boolean =
    if (limit.exists(emitted >= _)) false
    else {
      val g = reader.read()
      if (g == null) false
      else if (idFilter.exists(_ != strField(g, "itemID"))) next()
      else {
        val values = required.fields.map { f =>
          f.name match {
            case "itemID" => UTF8String.fromString(strField(g, "itemID"))
            case "taskID" => UTF8String.fromString(strField(g, "taskID"))
            case "itemState" => UTF8String.fromString(partition.state)
            case "logLength" => lngField(g, "logLength")
            case "nestedTaskCount" => lngField(g, "nestedTaskCount")
            case other => throw new IllegalArgumentException(s"unknown column $other")
          }
        }
        current = InternalRow.fromSeq(values.toSeq)
        emitted += 1
        true
      }
    }

  override def get(): InternalRow = current

  override def close(): Unit = reader.close()
}
