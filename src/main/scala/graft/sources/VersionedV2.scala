package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.example.data.Group
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, MessageTypeParser}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.Types
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max => AggMax, Min => AggMin}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.store.Versioned

/** DataSource V2 connector over the [[graft.store.Versioned]] manifest
  * store — `spark.read.format("graft-versioned").option("path", t)` — the
  * connector surface (TableProvider → Table → ScanBuilder → Batch →
  * PartitionReader) built from scratch on the PUBLIC connector API, with
  * the two pushdowns that matter at 100 TB wired to the manifest's own
  * metadata:
  *
  *  - **Filter pushdown** (`SupportsPushDownFilters`): comparison/equality
  *    filters on integral columns prune FILES at planning time through the
  *    manifest's `#stats` min/max markers, and `EqualTo` additionally
  *    through `#bloom` filters — zero footer opens, zero data IO before the
  *    first surviving byte. Skipping is file-granular (best effort), so
  *    every filter is also returned as a residual for Spark to re-evaluate
  *    row-level — the same contract parquet row-group stats have.
  *  - **Column pruning** (`SupportsPushDownRequiredColumns`): the requested
  *    projection becomes the parquet read schema, so dropped columns are
  *    never decoded (an empty projection — COUNT(*) — reads the narrowest
  *    column and emits zero-field rows).
  *
  * One InputPartition per surviving file: partition count IS the skip
  * telemetry (`scan.description` prints kept/total), and a 1000-executor
  * cluster schedules files independently. `versionAsOf` time-travels the
  * file list through the manifest log (stats/bloom pruning applies on the
  * CURRENT version only — historical reads scan their full manifest).
  *
  * Scoped contract (spec-pinned): flat columns of long/int/double/float/
  * boolean/string/timestamp/date plus `array<float>` embedding vectors,
  * uniform footers, no outstanding renames — the fixture store tables.
  * TIMESTAMP maps to parquet INT64 timestamp-micros (UTC-adjusted) and
  * DATE to INT32 date — Spark's own parquet mapping, so files
  * interchange with native readers. Every non-empty projection decodes
  * through the vectorized [[VersionedColumnarReader]]; empty ones
  * (COUNT(*)) answer from footers in [[VersionedCountReader]]. */
class VersionedV2 extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-versioned"

  // writes to a brand-new (empty) table have no footer to infer from —
  // the DataFrame schema arrives through getTable instead
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val (path, version) = VersionedV2.pathAndVersion(options)
    VersionedV2.sparkSchema(VersionedV2.footerSchema(path, version))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val (path, version) = VersionedV2.pathAndVersion(opts)
    val msg =
      if (Versioned.files(path, version).nonEmpty)
        VersionedV2.footerSchema(path, version)
      else VersionedV2.messageType(schema) // empty table: caller's schema
    new VersionedTable(path, version, msg)
  }
}

object VersionedV2 {

  /** Name of the file-provenance metadata column (see
    * [[VersionedTable.metadataColumns]]). */
  private[sources] val FileMetaCol = "_graft_file"

  /** Files `df`'s `graft-versioned` scans open: the kept-file count of
    * every [[VersionedScan]] in the physical plan (one input partition per
    * kept file), walking through AQE and its query stages. Read before
    * execution it counts planning-time pruning; after execution it also
    * counts runtime (DPP) pruning. */
  private[graft] def filesScanned(df: DataFrame): Int = {
    def scans(p: SparkPlan): Seq[VersionedScan] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case b: BatchScanExec => b.scan match {
        case v: VersionedScan => Seq(v)
        case _ => Seq.empty
      }
      case o => o.children.flatMap(scans)
    }
    scans(df.queryExecution.executedPlan).map(_.keptFiles).sum
  }

  /** The Hadoop configuration a scan's readers share: broadcast once per
    * scan, as Spark's own file sources do, so no reader builds (and
    * parses) a configuration of its own. */
  private[sources] def readerConf(): Broadcast[SerializableConfiguration] = {
    val sc = SparkSession.active.sparkContext
    sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration))
  }

  /** Open a parquet file with `conf` and read options built from it:
    * parquet's default read options would build and parse a fresh Hadoop
    * configuration for every file. */
  private[sources] def openParquet(file: String, conf: Configuration): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file), conf),
      HadoopReadOptions.builder(conf).build())

  private[sources] def footerOf(file: String, conf: Configuration): ParquetMetadata = {
    val r = openParquet(file, conf)
    try r.getFooter finally r.close()
  }

  private[sources] def pathAndVersion(
      options: CaseInsensitiveStringMap): (String, Option[Int]) = {
    val path = Option(options.get("path")).getOrElse(
      sys.error("graft-versioned requires .option(\"path\", <table dir>)"))
    (path, Option(options.get("versionAsOf")).map(_.trim.toInt))
  }

  /** The table's schema: the manifest's RECORDED schema marker when one
    * exists (authoritative — it is what ADD COLUMN / append-time
    * evolution maintain, and pre-evolution files serve NULL for columns
    * they lack via the per-file schema handling in
    * [[VersionedColumnarReader]]); otherwise the first data file's
    * footer (marker-free legacy tables with uniform footers — the
    * original scoped contract). Outstanding renames would make names
    * lie, so they are rejected loudly. */
  private[sources] def footerSchema(path: String,
      version: Option[Int]): MessageType = {
    require(Versioned.renamesOf(path).isEmpty,
      s"graft-versioned: $path has outstanding #rename markers — run " +
        "Versioned.normalize first (the V2 reader serves footer names)")
    val recorded = Versioned.schemaOf(path, version)
    if (recorded.nonEmpty) return messageType(recorded.get)
    val fs = Versioned.files(path, version)
    require(fs.nonEmpty,
      s"graft-versioned: $path has no committed data and no recorded schema")
    footerOf(fs.head, SparkSession.active.sparkContext.hadoopConfiguration)
      .getFileMetaData.getSchema
  }

  private[sources] def sparkSchema(msg: MessageType): StructType =
    StructType(msg.getFields.asScala.toSeq.map { f =>
      require(f.isPrimitive,
        s"graft-versioned supports primitive columns only, got $f")
      val p = f.asPrimitiveType()
      // REPEATED FLOAT = array<float> (the parquet-avro 2-level compat
      // shape — Spark's native reader resolves it as a non-null-element
      // list too): the embedding-vector column the chunk store carries
      val repeated =
        p.isRepetition(org.apache.parquet.schema.Type.Repetition.REPEATED)
      if (repeated) require(p.getPrimitiveTypeName == FLOAT,
        s"graft-versioned: repeated fields are scoped to FLOAT " +
          s"(embedding vectors), got $p")
      val isString = p.getLogicalTypeAnnotation != null &&
        p.getLogicalTypeAnnotation.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
      // TIMESTAMP = INT64 timestamp-micros (Spark's own parquet mapping);
      // DATE = INT32 date — both decode on the long/int fast paths
      val isTsMicros = p.getLogicalTypeAnnotation match {
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS
        case _ => false
      }
      val isDate = p.getLogicalTypeAnnotation != null &&
        p.getLogicalTypeAnnotation.isInstanceOf[LogicalTypeAnnotation.DateLogicalTypeAnnotation]
      // DECIMAL(p <= 18) rides INT32/INT64 with the decimal annotation —
      // Spark's own compact mapping (FIXED_LEN_BYTE_ARRAY p > 18 stays
      // out of scope, loudly)
      val decOf = p.getLogicalTypeAnnotation match {
        case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
          Some(DecimalType(d.getPrecision, d.getScale))
        case _ => None
      }
      val dt = if (repeated) ArrayType(FloatType, containsNull = false)
      else p.getPrimitiveTypeName match {
        case INT64 if p.getLogicalTypeAnnotation == null => LongType
        case INT64 if isTsMicros => TimestampType
        case INT64 | INT32 if decOf.isDefined => decOf.get
        // Spark's DEFAULT parquet timestamp output is legacy INT96
        // (nanos-of-day + julian day) — the store's own copy-on-write
        // rewrites produce it, and so does half the parquet in the wild
        case INT96 => TimestampType
        case INT32 if p.getLogicalTypeAnnotation == null => IntegerType
        case INT32 if isDate => DateType
        case DOUBLE => DoubleType
        case FLOAT => FloatType
        case BOOLEAN => BooleanType
        case BINARY if isString => StringType
        case other => sys.error(
          s"graft-versioned: unsupported parquet type $other for ${f.getName} " +
            s"(annotation ${p.getLogicalTypeAnnotation}) — scoped to primitives")
      }
      StructField(f.getName, dt, nullable = true)
    })

  /** StructType → parquet MessageType (inverse of [[sparkSchema]]; same
    * scoped primitive set, all fields optional). */
  private[sources] def messageType(schema: StructType): org.apache.parquet.schema.MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach { f =>
      val prim = f.dataType match {
        case LongType => Types.optional(INT64)
        case IntegerType => Types.optional(INT32)
        case DoubleType => Types.optional(DOUBLE)
        case FloatType => Types.optional(FLOAT)
        case BooleanType => Types.optional(BOOLEAN)
        case StringType =>
          Types.optional(BINARY).as(LogicalTypeAnnotation.stringType())
        // UTC-adjusted micros / epoch days — Spark's own parquet mapping,
        // so files interchange with native readers and writers
        case TimestampType => Types.optional(INT64).as(
          LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS))
        case DateType => Types.optional(INT32).as(LogicalTypeAnnotation.dateType())
        // compact decimals only: INT64 carries any p <= 18 exactly
        case dt: DecimalType if dt.precision <= 18 =>
          Types.optional(INT64).as(
            LogicalTypeAnnotation.decimalType(dt.scale, dt.precision))
        // embedding vectors: REPEATED FLOAT (2-level compat list — see
        // sparkSchema); absent-vs-empty is not distinguishable in this
        // shape, so null arrays round-trip as empty
        case ArrayType(FloatType, _) => Types.repeated(FLOAT)
        case other => sys.error(
          s"graft-versioned write: unsupported type $other for ${f.name} — " +
            "scoped to long/int/double/float/boolean/string/timestamp/date/" +
            "decimal(<=18)/array<float>")
      }
      b.addField(prim.named(f.name))
    }
    b.named("graft")
  }

  /** Legacy INT96 parquet timestamp → epoch micros: 12 little-endian
    * bytes, nanos-of-day (long) then julian day (int); 2440588 is the
    * julian day of 1970-01-01. The format Spark itself writes by
    * default (spark.sql.parquet.outputTimestampType=INT96). */
  private[sources] def int96ToMicros(b: Array[Byte]): Long = {
    val buf = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val nanos = buf.getLong
    val julianDay = buf.getInt
    (julianDay - 2440588).toLong * 86400000000L + nanos / 1000L
  }

  /** `msg` restricted to `names`, preserving file field order. */
  private[sources] def project(msg: MessageType, names: Seq[String]): MessageType = {
    val keep = names.toSet
    new MessageType(msg.getName,
      msg.getFields.asScala.filter(f => keep(f.getName)).toList.asJava)
  }

  /** V2 `Predicate` → `Column` over the connector's scoped type set —
    * the translation layer `DELETE FROM` rides ([[VersionedTable]]'s
    * SupportsDeleteV2). None = untranslatable, which fails
    * `canDeleteWhere` loudly rather than mis-deleting. */
  private[sources] def predicateToColumn(
      e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.connector.expressions.{Literal => V2Literal}
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    def litOf(l: V2Literal[_]): Column = (l.dataType, l.value) match {
      case (_, u: UTF8String) => lit(u.toString)
      // V2 literals carry timestamps as epoch MICROS and dates as epoch
      // DAYS — rebuild typed literals or the comparison would be
      // long-vs-timestamp and fail analysis
      case (TimestampType, micros: java.lang.Long) =>
        lit(java.time.Instant.EPOCH.plus(micros, java.time.temporal.ChronoUnit.MICROS))
      case (DateType, days: java.lang.Integer) =>
        lit(java.time.LocalDate.ofEpochDay(days.longValue()))
      case (_: DecimalType, d: org.apache.spark.sql.types.Decimal) =>
        lit(d.toJavaBigDecimal)
      case (_, v) => lit(v)
    }
    def bin(p: Predicate)(f: (Column, Column) => Column): Option[Column] =
      for {
        a <- predicateToColumn(p.children()(0))
        b <- predicateToColumn(p.children()(1))
      } yield f(a, b)
    e match {
      case nr: NamedReference if nr.fieldNames.length == 1 =>
        Some(col(nr.fieldNames.head))
      case l: V2Literal[_] => Some(litOf(l))
      case p: Predicate => p.name() match {
        case "ALWAYS_TRUE" => Some(lit(true))
        case "ALWAYS_FALSE" => Some(lit(false))
        case "=" => bin(p)(_ === _)
        case "<=>" => bin(p)(_ <=> _)
        case "<>" => bin(p)(_ =!= _)
        case "<" => bin(p)(_ < _)
        case "<=" => bin(p)(_ <= _)
        case ">" => bin(p)(_ > _)
        case ">=" => bin(p)(_ >= _)
        case "AND" => bin(p)(_ && _)
        case "OR" => bin(p)(_ || _)
        case "NOT" => predicateToColumn(p.children()(0)).map(!_)
        case "IS_NULL" => predicateToColumn(p.children()(0)).map(_.isNull)
        case "IS_NOT_NULL" => predicateToColumn(p.children()(0)).map(_.isNotNull)
        case "IN" =>
          val vals = p.children().tail.toSeq.map {
            case l: V2Literal[_] => Some(litOf(l))
            case _ => None
          }
          for {
            c <- predicateToColumn(p.children().head)
            vs <- Option.when(vals.forall(_.isDefined))(vals.flatten)
            if vs.nonEmpty
          } yield c.isin(vs: _*)
        case _ => None
      }
      case _ => None
    }
  }
}

private[sources] class VersionedTable(path: String, version: Option[Int],
    msg: MessageType,
    recordedSchema: Option[StructType] = None)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDeleteV2
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.TruncatableTable {

  /** SQL `TRUNCATE TABLE` — one metadata-only commit dropping every data
    * line ([[Versioned.truncate]]); no file IO at any size. */
  override def truncateTable(): Boolean = {
    require(version.isEmpty, "graft-versioned: cannot TRUNCATE AS OF a version")
    Versioned.truncate(path) > 0
  }
  private val schemaV = VersionedV2.sparkSchema(msg)

  /** `_graft_file` — the serving file's path as a metadata column (the
    * `input_file_name()` analog for this connector; Iceberg's `_file`).
    * Doubles as the GROUP IDENTITY the row-level operations rewrite by:
    * Spark 4.1's ReplaceData tags rows `WRITE_WITH_METADATA_OPERATION`
    * and applies its data projection only when the operation asks for
    * metadata attributes, so exposing the file column is load-bearing
    * for UPDATE/MERGE correctness, not just provenance sugar. */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = VersionedV2.FileMetaCol
      override def dataType(): DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String = "absolute path of the serving data file"
    })
  override def name(): String = s"graft_versioned(`$path`)"
  /** The RECORDED marker schema when the catalog hands one down —
    * field METADATA (column DEFAULT expressions, X259) survives only
    * there; the MessageType round-trip strips it. Scan/write internals
    * keep using the metadata-free footer form (they only need names and
    * types). */
  override def schema(): StructType = recordedSchema.getOrElse(schemaV)
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.STREAMING_WRITE, TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new VersionedScanBuilder(path, version, msg, schemaV)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(version.isEmpty,
      "graft-versioned: cannot write AS OF a historical version")
    new WriteBuilder {
      override def build(): Write = new VersionedWriteImpl(path, info.schema())
    }
  }

  // ------------------------------------------- row-level SQL: DELETE FROM

  /** `DELETE FROM` delegates to the store's file-pruned rewrite
    * ([[Versioned.deleteWhere]] — only files holding matching rows are
    * rewritten; the predicate pushes into their footers). Predicates the
    * translator can't express reject via [[canDeleteWhere]], so Spark
    * raises a clear analysis error instead of a silent full-table op. */
  override def canDeleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Boolean =
    version.isEmpty && predicates.forall(p => VersionedV2.predicateToColumn(p).isDefined)

  override def deleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Unit = {
    require(version.isEmpty, "graft-versioned: cannot DELETE AS OF a version")
    val cond = predicates.flatMap(p => VersionedV2.predicateToColumn(p))
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    Versioned.deleteWhere(SparkSession.active, path, cond): Unit
  }

  // --------------------------------- row-level SQL: UPDATE / MERGE INTO

  /** GROUP-BASED (copy-on-write) row-level operations — `UPDATE` and
    * `MERGE INTO` as pure SQL: Spark reads the affected GROUPS (files)
    * through the operation's own scan, recomputes their full content
    * with the updates/merge actions applied, and this write REPLACES
    * exactly the scanned files in one atomic manifest commit
    * ([[Versioned.commitExternalRewrite]]). Which files count as
    * affected is the engine's own skipping story: the command's
    * condition pushes into the scan statically (manifest stats/bloom)
    * and Spark's runtime group filtering composes through
    * `SupportsRuntimeV2Filtering` — untouched files carry into the new
    * version by reference, the 100 TB contract `deleteWhere` already
    * has. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(version.isEmpty,
      "graft-versioned: cannot UPDATE/MERGE AS OF a historical version")
    () => new VersionedRowLevelOperation(path, msg, schemaV, info.command())
  }
}

/** One UPDATE/MERGE statement's scan↔write pair: the scan records which
  * files it served (post static + runtime group pruning); the write's
  * commit swaps exactly those for the staged replacements. */
private[sources] class VersionedRowLevelOperation(path: String,
    msg: MessageType, full: StructType,
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command)
    extends org.apache.spark.sql.connector.write.RowLevelOperation {

  @volatile private var groupScan: Option[VersionedScan] = None

  override def command()
      : org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd

  override def description(): String = s"graft-versioned $cmd (copy-on-write)"

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new VersionedScanBuilder(path, None, msg, full,
      onScan = s => groupScan = Some(s))

  /** Spark's ReplaceData applies its data projection only when the
    * operation requests metadata attributes (the rows otherwise reach
    * the writer raw, with the `__row_operation` tag still in front) —
    * so the file column is required for correctness here. */
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column(
      VersionedV2.FileMetaCol))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write =
        new VersionedReplaceDataWrite(path, info.schema(),
          () => groupScan.fold(sys.error(
            "row-level write committed before its scan planned"): Seq[String])(
            _.currentFileList),
          () => groupScan.fold(
            Map.empty[String, Seq[String]])(_.dvSnapshot))
    }
}

/** The replace-groups write: stages files exactly like the append write
  * (unique names, invisible until commit), but publishes them as a
  * REWRITE of the files its operation's scan read. */
private[sources] class VersionedReplaceDataWrite(table: String,
    schema: StructType, scanned: () => Seq[String],
    scannedDv: () => Map[String, Seq[String]] = () => Map.empty)
    extends VersionedWriteImpl(table, schema) {

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val rel = messages.flatMap {
      case VersionedCommitMessage(fs) => fs
      case other => sys.error(s"unexpected commit message $other")
    }
    // the scan's deletion-vector snapshot rides along so the commit can
    // reject MoR deletes that landed on scanned files AFTER planning
    Versioned.commitExternalRewrite(SparkSession.active, table, rel.toSeq,
      scanned(), knownDvAbs = scannedDv()): Unit
  }
}

/** Exactly-once batch append through the manifest commit protocol: every
  * task attempt writes UNIQUE file names into one staged batch dir
  * (invisible — referenced by no manifest); only files named in
  * successful commit messages are published, in ONE atomic manifest
  * commit with constraint validation and schema evolution
  * ([[graft.store.Versioned.commitExternalFiles]]). Failed/speculative
  * attempts leave unreferenced files that `abort` sweeps (and a crashed
  * driver leaves for vacuum) — the Delta/Iceberg write contract. */
private[sources] class VersionedWriteImpl(table: String, schema: StructType)
    extends Write with BatchWrite with StreamingWrite {
  private val batchDir =
    s"v2-batch-${java.util.UUID.randomUUID().toString.take(8)}"
  private val msgString = VersionedV2.messageType(schema).toString

  override def toBatch: BatchWrite = this
  override def toStreaming: StreamingWrite = this
  // both parent traits default this; the diamond needs one explicit pick.
  // true = Spark's commit coordinator guarantees a single winning task
  // attempt per partition — with uniquely-named staged files either
  // value is safe, but coordination avoids orphan files under speculation
  override def useCommitCoordinator(): Boolean = true

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    VersionedWriterFactory(new java.io.File(table).getAbsolutePath,
      batchDir, schema, msgString)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val rel = messages.flatMap {
      case VersionedCommitMessage(fs) => fs
      case other => sys.error(s"unexpected commit message $other")
    }
    if (rel.nonEmpty)
      Versioned.commitExternalFiles(SparkSession.active, table, rel.toSeq): Unit
    else
      // all tasks empty: commit an observable marker-only version (Delta
      // records an empty commit too) — otherwise save() to a fresh table
      // leaves it nonexistent and later reads fail "no committed data"
      Versioned.commitEmpty(table, schema): Unit
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    sweep(messages)

  // ------------------------------------------------- streaming (epoch) side

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    VersionedStreamingWriterFactory(new java.io.File(table).getAbsolutePath,
      batchDir, schema, msgString)

  /** Exactly-once per epoch: publication is ledger-keyed by the epoch id
    * ([[Versioned.commitExternalFilesIdempotent]]) — a replayed epoch
    * (checkpoint recovery, AvailableNow rerun) deletes its re-staged
    * files and commits nothing. */
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val rel = messages.flatMap {
      case VersionedCommitMessage(fs) => fs
      case other => sys.error(s"unexpected commit message $other")
    }
    Versioned.commitExternalFilesIdempotent(SparkSession.active, table,
      rel.toSeq, epochId): Unit
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    sweep(messages)

  private def sweep(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case VersionedCommitMessage(fs) =>
        fs.foreach { r =>
          val f = new java.io.File(table, r)
          f.delete(): Unit
          new java.io.File(f.getParentFile, s".${f.getName}.crc").delete(): Unit
          f.getParentFile.delete(): Unit // batch dir, only when emptied
        }
      case _ => ()
    }
}

private[sources] case class VersionedCommitMessage(relFiles: Seq[String])
    extends WriterCommitMessage

private[sources] case class VersionedWriterFactory(tableAbs: String,
    batchDir: String, schema: StructType, msgString: String)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new VersionedDataWriter(tableAbs, batchDir, partitionId, taskId,
      schema, msgString)
}

private[sources] case class VersionedStreamingWriterFactory(tableAbs: String,
    batchDir: String, schema: StructType, msgString: String)
    extends StreamingDataWriterFactory {
  // epoch in the file name: one factory serves every micro-batch, and
  // (partition, task, epoch) names must never collide across replays
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new VersionedDataWriter(tableAbs, s"$batchDir/e$epochId", partitionId,
      taskId, schema, msgString)
}

/** Writes one parquet file per non-empty task via the example Group API;
  * empty tasks commit nothing (no zero-row files in the manifest). */
private[sources] class VersionedDataWriter(tableAbs: String, batchDir: String,
    partitionId: Int, taskId: Long, schema: StructType, msgString: String)
    extends DataWriter[InternalRow] {

  private val rel = s"$batchDir/part-$partitionId-$taskId.parquet"
  private val msgType = MessageTypeParser.parseMessageType(msgString)
  private val factory = new SimpleGroupFactory(msgType)
  private var rows = 0L
  private lazy val writer = {
    new java.io.File(tableAbs, batchDir).mkdirs()
    val conf = new Configuration()
    // no _SUCCESS/.crc litter inside the staged batch dir
    conf.set("fs.file.impl.disable.cache", "true")
    ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
        new Path(new java.io.File(tableAbs, rel).getPath), conf))
      .withType(msgType).withConf(conf).build()
  }

  /** Row-level (ReplaceData) writes arrive as (metadata, data) pairs —
    * the metadata row carries the serving-file column the operation
    * requested for projection purposes; the data row is the content. */
  override def write(metadata: InternalRow, row: InternalRow): Unit =
    write(row)

  override def write(row: InternalRow): Unit = {
    val g = factory.newGroup()
    var i = 0
    while (i < schema.fields.length) {
      if (!row.isNullAt(i)) {
        val name = schema.fields(i).name
        schema.fields(i).dataType match {
          case LongType | TimestampType => g.add(name, row.getLong(i))
          case IntegerType | DateType => g.add(name, row.getInt(i))
          case dt: DecimalType =>
            g.add(name, row.getDecimal(i, dt.precision, dt.scale).toUnscaledLong)
          case DoubleType => g.add(name, row.getDouble(i))
          case FloatType => g.add(name, row.getFloat(i))
          case BooleanType => g.add(name, row.getBoolean(i))
          case StringType => g.add(name, row.getUTF8String(i).toString)
          case ArrayType(FloatType, _) =>
            val arr = row.getArray(i)
            var j = 0
            while (j < arr.numElements()) {
              // a NULL element would silently land as 0.0f (getFloat on a
              // null slot) — corrupt data, not the loud error the store
              // uses everywhere else (ADVICE r12). The repeated-FLOAT
              // parquet shape cannot represent element nulls at all.
              require(!arr.isNullAt(j),
                s"column $name: NULL array elements are not storable " +
                  "(repeated-FLOAT has no element-level nulls) — filter " +
                  "or coalesce them before writing")
              g.add(name, arr.getFloat(j)); j += 1
            }
          case other => sys.error(s"unsupported type $other")
        }
      }
      i += 1
    }
    writer.write(g)
    rows += 1
  }

  override def commit(): WriterCommitMessage =
    if (rows == 0) VersionedCommitMessage(Seq.empty)
    else { writer.close(); VersionedCommitMessage(Seq(rel)) }

  override def abort(): Unit = {
    if (rows > 0) writer.close()
    val f = new java.io.File(tableAbs, rel)
    f.delete(): Unit
    // the local-FS .crc sidecar and, when this was the last straggler,
    // the emptied batch dir — so an aborted job leaves zero debris even
    // when task aborts land AFTER the job-level sweep (kills are async)
    new java.io.File(f.getParentFile, s".${f.getName}.crc").delete(): Unit
    f.getParentFile.delete(): Unit // succeeds only when empty
    // CTAS stages under a hidden .ctas-<uuid> root: the LAST aborting
    // task removes the emptied root too (real tables never match —
    // their names may not start with '.')
    val tableDir = new java.io.File(tableAbs)
    if (tableDir.getName.startsWith(".ctas-")) tableDir.delete(): Unit
  }

  override def close(): Unit = ()
}

private[sources] class VersionedScanBuilder(path: String, version: Option[Int],
    msg: MessageType, full: StructType,
    onScan: VersionedScan => Unit = _ => ())
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates {

  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty
  private var pushedAgg: Option[(Seq[VersionedAggSpec], StructType)] = None

  /** Aggregate pushdown (`SupportsPushDownAggregates`) — COUNT(*)/MIN/MAX
    * answered from parquet FOOTER metadata alone: one footer open per
    * file, zero data pages. At 100 TB this turns a table-wide
    * count/min/max into k metadata reads — the same trick Spark's own
    * parquet aggregate pushdown plays, here wired through the
    * connector's manifest file list (so versionAsOf time travel
    * composes). Partial pushdown: each file partition emits ONE
    * pre-aggregated row and Spark folds them (so multi-file stores and
    * empty files need no special casing). Scope: group-by-free plans
    * with no filters (our filters are file-granular residuals, so Spark
    * never offers aggregates alongside them), MIN/MAX on integral
    * columns only — footer int stats are exact where string stats may
    * truncate. All-null blocks contribute NULL (Spark's fold ignores
    * it). */
  override def pushAggregation(agg: Aggregation): Boolean = {
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case nr: NamedReference if nr.fieldNames.length == 1 =>
          Some(nr.fieldNames.head)
        case _ => None
      }
    def integral(c: String): Boolean =
      full.fields.find(_.name == c).map(_.dataType).exists {
        case LongType | IntegerType => true
        case _ => false
      }
    if (agg.groupByExpressions.nonEmpty || pushed.nonEmpty) return false
    // outstanding deletion vectors invalidate footer metadata: counts
    // overstate and a deleted row may hold the min/max — fall back to
    // the (DV-subtracting) scan until compaction folds the vectors
    if (Versioned.deletesOf(path, version).nonEmpty) return false
    val specs = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(VersionedCountStar)
      case m: AggMin => colOf(m.column).filter(integral).map(VersionedMinOf)
      case m: AggMax => colOf(m.column).filter(integral).map(VersionedMaxOf)
      case _ => None
    }
    if (specs.exists(_.isEmpty) || specs.isEmpty) return false
    val flat = specs.flatten
    val schema = StructType(flat.map {
      case VersionedCountStar => StructField("count(*)", LongType, nullable = false)
      case VersionedMinOf(c) => StructField(s"min($c)",
        full.fields.find(_.name == c).get.dataType)
      case VersionedMaxOf(c) => StructField(s"max($c)",
        full.fields.find(_.name == c).get.dataType)
    })
    pushedAgg = Some((flat, schema))
    true
  }

  /** Filters the manifest metadata can act on (file-level). */
  private def skippable(f: Filter): Boolean = f match {
    case EqualTo(_, v) => Versioned.longOf(v).isDefined || v.isInstanceOf[String]
    case GreaterThan(_, v) => Versioned.longOf(v).isDefined
    case GreaterThanOrEqual(_, v) => Versioned.longOf(v).isDefined
    case LessThan(_, v) => Versioned.longOf(v).isDefined
    case LessThanOrEqual(_, v) => Versioned.longOf(v).isDefined
    case _ => false
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(skippable)
    filters // file-granular skipping: Spark re-applies every row filter
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = {
    pushedAgg match {
      case Some((specs, schema)) =>
        return new VersionedAggScan(Versioned.files(path, version), specs, schema)
      case None =>
    }
    val all = Versioned.files(path, version)
    // stats/bloom markers describe a SINGLE manifest version; pin the
    // snapshot ONCE here so planning-time and runtime (DPP) pruning both
    // consult the version this scan was built against — a concurrent
    // rewrite committing between planning and execution must not drop a
    // planned file's rows (ADVICE r11). Historical reads keep their full
    // file list (markers describe the current lines only).
    val snapVer = Versioned.currentVersion(path)
    val snap =
      if (version.forall(_ == snapVer)) Some(Versioned.skipSnapshot(path, snapVer))
      else None
    // a file survives when the snapshot admits it under EVERY pushed filter
    def admits(s: Versioned.SkipSnapshot, line: String): Filter => Boolean = {
      case EqualTo(c, v) => s.admitsValue(line, c, v)
      // x > Long.MaxValue is unsatisfiable — prune everything; l + 1
      // would wrap and silently disable skipping
      case GreaterThan(c, v) =>
        val l = Versioned.longOf(v).get
        l < Long.MaxValue && s.admitsRange(line, c, l + 1, Long.MaxValue)
      case GreaterThanOrEqual(c, v) =>
        s.admitsRange(line, c, Versioned.longOf(v).get, Long.MaxValue)
      case LessThan(c, v) =>
        val l = Versioned.longOf(v).get
        l > Long.MinValue && s.admitsRange(line, c, Long.MinValue, l - 1)
      case LessThanOrEqual(c, v) =>
        s.admitsRange(line, c, Long.MinValue, Versioned.longOf(v).get)
      case _ => true
    }
    val survivors = snap match {
      case None => all
      case Some(s) => Versioned.admitted(path, all)(line => pushed.forall(admits(s, line)))
    }
    // COUNT(*) prunes to zero columns; read the narrowest field so row
    // multiplicity survives while decoding as little as possible. The
    // `_graft_file` metadata column is served from the partition itself,
    // never decoded from parquet
    val dataFields = required.fields.filterNot(_.name == VersionedV2.FileMetaCol)
    val readCols =
      if (dataFields.nonEmpty) dataFields.map(_.name).toSeq
      else Seq(full.fields.minBy(f => f.dataType.defaultSize).name)
    // runtime (DPP/semi-join) filters can prune files on any column the
    // PINNED snapshot carries stats or bloom markers for
    val runtimeCols = snap match {
      case None => Seq.empty[String]
      case Some(s) => (s.stats.keysIterator.map(_._1) ++
        s.blooms.keysIterator.map(_._1)).toSeq.distinct
    }
    // deletion vectors of the SERVED version: each partition carries its
    // file's sidecars and the readers subtract the positions in-stream
    val dvByFile: Map[String, Seq[String]] =
      Versioned.deletesOf(path, Some(version.getOrElse(snapVer))).map {
        case (line, vs) => Versioned.resolveLine(path, line) ->
          vs.map { case (rel, _) => Versioned.resolveLine(path, rel) }
      }
    val scan = new VersionedScan(all.size, survivors, required,
      VersionedV2.project(msg, readCols).toString,
      required.fields.isEmpty, path, runtimeCols, snap, dvByFile)
    onScan(scan)
    scan
  }
}

private[sources] sealed trait VersionedAggSpec extends Serializable
private[sources] case object VersionedCountStar extends VersionedAggSpec
private[sources] case class VersionedMinOf(col: String) extends VersionedAggSpec
private[sources] case class VersionedMaxOf(col: String) extends VersionedAggSpec

/** Footer-metadata aggregate scan — one partition per file, each emitting
  * ONE pre-aggregated row (rowCount + per-column min/max from parquet
  * block statistics); no data page is ever opened. */
private[sources] class VersionedAggScan(files: Seq[String],
    specs: Seq[VersionedAggSpec], schema: StructType) extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def description(): String =
    s"graft-versioned AGG-PUSHDOWN files=${files.size} " +
      s"aggs=${schema.fieldNames.mkString(",")}"
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    files.map(f => VersionedAggPartition(f, specs, schema): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new VersionedAggReaderFactory(VersionedV2.readerConf())
}

private[sources] class VersionedAggReaderFactory(conf: Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new VersionedAggReader(p.asInstanceOf[VersionedAggPartition], conf.value.value)
}

private[sources] case class VersionedAggPartition(file: String,
    specs: Seq[VersionedAggSpec], schema: StructType) extends InputPartition

private[sources] class VersionedAggReader(p: VersionedAggPartition, conf: Configuration)
    extends PartitionReader[InternalRow] {
  private var done = false

  override def next(): Boolean = !done

  override def get(): InternalRow = {
    done = true
    val footer = VersionedV2.footerOf(p.file, conf)
    val blocks = footer.getBlocks.asScala.toSeq
    def colStats(c: String) = blocks.flatMap(_.getColumns.asScala
      .find(_.getPath.toDotString == c)
      .filter(m => m.getStatistics != null && m.getStatistics.hasNonNullValue)
      .map(_.getStatistics))
    def asLong(v: Any): Long = v match {
      case l: java.lang.Long => l.longValue()
      case i: java.lang.Integer => i.longValue()
      case other => sys.error(s"unsupported stats type ${other.getClass}")
    }
    def emit(c: String, l: Long): Any =
      p.schema.fields.find(_.name.contains(s"($c)")).map(_.dataType) match {
        case Some(IntegerType) => l.toInt
        case _ => l
      }
    val vals: Array[Any] = p.specs.map {
      case VersionedCountStar => blocks.map(_.getRowCount).sum
      case VersionedMinOf(c) =>
        val ss = colStats(c)
        if (ss.isEmpty) null else emit(c, ss.map(s => asLong(s.genericGetMin)).min)
      case VersionedMaxOf(c) =>
        val ss = colStats(c)
        if (ss.isEmpty) null else emit(c, ss.map(s => asLong(s.genericGetMax)).max)
    }.toArray
    new GenericInternalRow(vals)
  }

  override def close(): Unit = ()
}

private[sources] class VersionedScan(total: Int, files0: Seq[String],
    required: StructType, projectedMsg: String, emitEmptyRows: Boolean,
    tablePath: String, runtimeCols: Seq[String] = Seq.empty,
    snap: Option[Versioned.SkipSnapshot] = None,
    dvByFile: Map[String, Seq[String]] = Map.empty)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeV2Filtering {

  // runtime filtering mutates the surviving file list BEFORE
  // planInputPartitions — Spark's contract for SupportsRuntimeV2Filtering
  @volatile private var files: Seq[String] = files0

  /** Files this scan will actually open (spec telemetry). */
  private[sources] def keptFiles: Int = files.size

  /** The surviving file list itself — the row-level-operation write
    * replaces exactly these groups. */
  private[sources] def currentFileList: Seq[String] = files

  /** The deletion vectors this scan's readers fold in (absolute paths) —
    * the row-level commit compares against them to catch MoR deletes
    * landing after planning. */
  private[sources] def dvSnapshot: Map[String, Seq[String]] = dvByFile

  /** Runtime filters are accepted on every column the current manifest
    * carries stats/bloom markers for — the join-key pruning surface. */
  override def filterAttributes(): Array[NamedReference] =
    runtimeCols.map(c =>
      org.apache.spark.sql.connector.expressions.Expressions.column(c)).toArray

  /** Runtime (dynamic-partition-pruning / semi-join) file pruning: an
    * `IN (v1..vk)` or `= v` predicate delivered at execution keeps only
    * files whose manifest [min, max] stats admit SOME value, then probes
    * each survivor's bloom marker — composing the X157/X159 skipping with
    * Spark's runtime filters, so a `graft-versioned` fact joined against
    * a small aggregate-derived dim reads the hot files only. Unknown
    * predicate shapes or non-scalar values are ignored (keep all —
    * pruning is best-effort, Spark re-applies the join itself). */
  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Unit = {
    import org.apache.spark.sql.connector.expressions.{Literal => V2Literal}
    // prune against the manifest snapshot PINNED at build() — resolving
    // currentVersion here would race a concurrent rewrite (ADVICE r11):
    // its commit removes a planned file's marker lines and a fresh-version
    // keep-set would silently drop that file's rows
    def survivorsFor(c: String, raw: Seq[Any]): Option[Set[String]] = {
      if (!runtimeCols.contains(c)) return None
      val s = snap.getOrElse(return None)
      Some(Versioned.admitted(tablePath, files) { line =>
        raw.exists(v => s.admitsValue(line, c, v))
      }.toSet)
    }
    predicates.foreach { p =>
      (p.name(), p.children().toSeq) match {
        case ("IN", (nr: NamedReference) +: vals)
            if nr.fieldNames.length == 1 &&
              vals.forall(_.isInstanceOf[V2Literal[_]]) =>
          survivorsFor(nr.fieldNames.head,
            vals.map(_.asInstanceOf[V2Literal[_]].value))
            .foreach(keep => files = files.filter(keep))
        case ("=", Seq(nr: NamedReference, l: V2Literal[_]))
            if nr.fieldNames.length == 1 =>
          survivorsFor(nr.fieldNames.head, Seq(l.value))
            .foreach(keep => files = files.filter(keep))
        case _ => ()
      }
    }
  }

  /** Streaming SOURCE over the manifest log ([[VersionedMicroBatchStream]])
    * — `spark.readStream.format("graft-versioned")`. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new VersionedMicroBatchStream(tablePath, projectedMsg, required,
      emitEmptyRows)
  override def readSchema(): StructType = required
  override def description(): String =
    s"graft-versioned files=${files.size}/$total cols=${required.fieldNames.mkString(",")}"
  /** Surviving-file byte size from the local FS — without this a V2
    * relation defaults to "unknown/huge" and the planner never
    * broadcasts it; with it, a pruned small table joins as the
    * broadcast side exactly like a native parquet scan would
    * (VersionedV2Spec pins the BroadcastHashJoin). */
  override def estimateStatistics(): Statistics = new Statistics {
    private val bytes = files.map(f => new java.io.File(f).length()).sum
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(bytes)
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.empty()
  }
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    files.map(f => VersionedFilePartition(f, projectedMsg, required,
      emitEmptyRows, dvByFile.getOrElse(f, Seq.empty)): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new VersionedReaderFactory(VersionedV2.readerConf())
}

private[sources] case class VersionedFilePartition(file: String,
    projectedMsg: String, required: StructType, emitEmptyRows: Boolean,
    dvFiles: Seq[String] = Seq.empty)
    extends InputPartition

private[sources] case class VersionedStreamOffset(v: Int)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json: String = v.toString
}

/** Micro-batch streaming SOURCE over the manifest log — the Delta-style
  * "stream from the table" read side completing the connector's streaming
  * story (the exactly-once sink is [[VersionedWriteImpl]]): offsets are
  * MANIFEST VERSIONS, each micro-batch reads exactly the files the
  * versions in (start, end] added, and admission control paces ONE
  * version per batch (so a catch-up replay shows the commit history,
  * batch for batch — `Trigger.AvailableNow` drains to the version
  * current at query start via `SupportsTriggerAvailableNow`).
  *
  * Scope: APPEND-ONLY tables (the Delta streaming-source default): a
  * version that REMOVES files (rewrite/delete/compaction) fails the
  * stream with a clear message rather than silently replaying rewritten
  * rows — the CDC path for mutating tables is `Versioned.changes`.
  * Offsets serialize as the bare version number, so checkpoints survive
  * restarts; commit() is a no-op because the manifest log itself is the
  * durable history. */
private[sources] class VersionedMicroBatchStream(path: String,
    projectedMsg: String, required: StructType, emitEmptyRows: Boolean)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset => SOffset, ReadLimit}

  @volatile private var availableNowCap: Option[Int] = None

  override def initialOffset(): SOffset = VersionedStreamOffset(0)
  override def deserializeOffset(json: String): SOffset =
    VersionedStreamOffset(json.trim.toInt)
  override def latestOffset(): SOffset =
    VersionedStreamOffset(availableNowCap.getOrElse(Versioned.currentVersion(path)))
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(Versioned.currentVersion(path))
  // admission control: ONE version per micro-batch — a catch-up replay
  // walks the commit history batch for batch
  override def latestOffset(start: SOffset, limit: ReadLimit): SOffset = {
    val s = start.asInstanceOf[VersionedStreamOffset].v
    val target = availableNowCap.getOrElse(Versioned.currentVersion(path))
    VersionedStreamOffset(math.min(s + 1, target).max(s))
  }
  override def reportLatestOffset(): SOffset =
    VersionedStreamOffset(Versioned.currentVersion(path))

  override def planInputPartitions(start: SOffset, end: SOffset): Array[InputPartition] = {
    val s = start.asInstanceOf[VersionedStreamOffset].v
    val e = end.asInstanceOf[VersionedStreamOffset].v
    if (e <= s) return Array.empty
    val before = if (s == 0) Set.empty[String]
      else Versioned.files(path, Some(s)).toSet
    val after = Versioned.files(path, Some(e))
    val removed = before -- after.toSet
    if (removed.nonEmpty) throw new IllegalStateException(
      s"graft-versioned streaming source: versions ($s, $e] of $path remove " +
        s"${removed.size} file(s) (rewrite/delete/compaction) — the source " +
        "is append-only; use Versioned.changes for CDC over mutating tables")
    // merge-on-read deletes mutate rows without touching file lines —
    // the same append-only violation in disguise: already-replayed rows
    // would silently diverge from the table. Fail as loudly as removals.
    def dvSet(v: Int): Set[(String, String)] =
      if (v == 0) Set.empty
      else Versioned.deletesOf(path, Some(v)).toSeq.flatMap { case (line, vs) =>
        vs.map { case (rel, _) => (line, rel) } }.toSet
    val newDvs = dvSet(e) -- dvSet(s)
    if (newDvs.nonEmpty) throw new IllegalStateException(
      s"graft-versioned streaming source: versions ($s, $e] of $path add " +
        s"${newDvs.size} deletion vector(s) (merge-on-read delete) — the " +
        "source is append-only; use Versioned.changes for CDC over " +
        "mutating tables")
    after.filterNot(before)
      .map(f => VersionedFilePartition(f, projectedMsg, required,
        emitEmptyRows): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new VersionedReaderFactory(VersionedV2.readerConf())
  override def commit(end: SOffset): Unit = ()
  override def stop(): Unit = ()
}

private[sources] class VersionedReaderFactory(conf: Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[VersionedFilePartition]
    // empty projection (COUNT(*) after column pruning, no residual filter
    // possible without columns): row multiplicity comes from footer
    // metadata alone — ZERO data pages opened at any table size (a file
    // with deletion vectors additionally reads its sidecars, still no
    // data pages)
    require(p.emitEmptyRows,
      s"graft-versioned: ${p.file} has a non-empty projection; it must " +
        "take the columnar reader")
    new VersionedCountReader(p.file, p.dvFiles, conf.value.value)
  }

  /** Columnar decode for the connector's full projection surface — the
    * 100 TB scan path ([[VersionedColumnarReader]]): column readers fill
    * Spark `OnHeapColumnVector`s directly, no per-row Group
    * materialization, and downstream operators consume the batch inside
    * whole-stage codegen. This includes `array<float>` embedding columns
    * (the defining scan of a vector store — k-NN, ANN builds, re-embeds
    * all project the vector payload): the repeated-FLOAT values decode
    * in one repetition-level loop into the array vector's child. Only
    * empty projections keep the count reader (per-partition decision is
    * schema-only, so every partition of a scan agrees — Spark requires
    * uniformity). */
  override def supportColumnarReads(partition: InputPartition): Boolean =
    !partition.asInstanceOf[VersionedFilePartition].emitEmptyRows

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new VersionedColumnarReader(partition.asInstanceOf[VersionedFilePartition],
      conf.value.value)
}

/** Zero-IO COUNT(*) partition: emits exactly the footer's rowCount empty
  * rows, MINUS the file's recorded deletion-vector positions (X271
  * introduced row-level merge-on-read deletes inside files; the sidecar
  * subtraction below is load-bearing, not an optimization). Exact
  * because DV positions are distinct and in-range by construction and an
  * empty projection admits no residual row filter (filters force their
  * columns into the read schema). */
private[sources] class VersionedCountReader(file: String,
    dvFiles: Seq[String], conf: Configuration)
    extends PartitionReader[InternalRow] {
  private var remaining: Long = {
    val footer = VersionedV2.footerOf(file, conf)
    // deletion vectors subtract exactly (positions are distinct and
    // in-range by construction; readDvPositions unions overlaps)
    footer.getBlocks.asScala.map(_.getRowCount).sum -
      (if (dvFiles.isEmpty) 0L
       else Versioned.readDvPositions(dvFiles).length.toLong)
  }
  private val row = new GenericInternalRow(0)
  override def next(): Boolean =
    if (remaining > 0) { remaining -= 1; true } else false
  override def get(): InternalRow = row
  override def close(): Unit = ()
}

/** Vectorized parquet decode — the scan path a 100 TB table rides.
  *
  * A row reader over the example Group API would materialize one
  * `Group` PER ROW: an object graph, a field-by-name lookup and a boxed
  * value per cell — allocation-bound at scan rates. This reader walks
  * each row group's column pages directly (`ColumnReadStoreImpl`, the
  * same page machinery under parquet-mr's own readers) and fills
  * `OnHeapColumnVector`s in tight per-column loops; Spark consumes the
  * resulting `ColumnarBatch` without any row-at-a-time shim.
  * `array<float>` embedding columns decode on this path too — the
  * repeated-FLOAT values stream into the array vector's child in one
  * repetition-level loop (the vector-payload scan behind every k-NN /
  * ANN-build / re-embed read). Per-file schema handling is the evolution
  * contract: requested columns this file
  * lacks serve a constant-null vector, `_graft_file` a constant-string
  * vector, present columns decode under the FILE's own column
  * descriptors. Vectors are reused across batches (reset, not
  * realloc). */
private[sources] class VersionedColumnarReader(p: VersionedFilePartition,
    conf: Configuration) extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.parquet.column.ColumnReader
  import org.apache.parquet.column.impl.ColumnReadStoreImpl
  import org.apache.parquet.io.api.{Converter, GroupConverter, PrimitiveConverter}
  import org.apache.spark.sql.execution.vectorized.{ConstantColumnVector, OnHeapColumnVector}
  import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

  private val Cap = 4096

  private val reader = VersionedV2.openParquet(p.file, conf)
  private val fileMsg = reader.getFooter.getFileMetaData.getSchema
  private val createdBy = reader.getFooter.getFileMetaData.getCreatedBy
  private val fileFields: Set[String] =
    fileMsg.getFields.asScala.map(_.getName).toSet

  private val projected = MessageTypeParser.parseMessageType(p.projectedMsg)
  // the columns to DECODE: requested ∩ present, under file definitions
  private val readMsg = new MessageType(projected.getName,
    projected.getFields.asScala.map(_.getName)
      .filter(fileFields)
      .map(n => fileMsg.getType(fileMsg.getFieldIndex(n))).asJava)
  reader.setRequestedSchema(readMsg)

  // required-schema position → decode plan
  private val metaValue = UTF8String.fromString(p.file)
  private val vectors: Array[ColumnVector] = p.required.fields.map { f =>
    if (f.name == VersionedV2.FileMetaCol) {
      val v = new ConstantColumnVector(Cap, StringType)
      v.setUtf8String(metaValue)
      v: ColumnVector
    } else if (!fileFields(f.name)) {
      // evolution constant: the column's EXISTS_DEFAULT if declared
      // (ALTER ADD COLUMN ... DEFAULT — ANSI: old rows read the
      // default), NULL otherwise
      val v = new ConstantColumnVector(Cap, f.dataType)
      org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
          .getExistenceDefaultValue(f) match {
        case null => v.setNull()
        case x: java.lang.Long => v.setLong(x)
        case x: java.lang.Integer => v.setInt(x)
        case x: java.lang.Double => v.setDouble(x)
        case x: java.lang.Float => v.setFloat(x)
        case x: java.lang.Boolean => v.setBoolean(x)
        case x: UTF8String => v.setUtf8String(x)
        case x: org.apache.spark.sql.types.Decimal =>
          v.setDecimal(x, f.dataType.asInstanceOf[DecimalType].precision)
        case other => sys.error(
          s"unsupported EXISTS_DEFAULT ${other.getClass} for ${f.name}")
      }
      v: ColumnVector
    } else new OnHeapColumnVector(Cap, f.dataType): ColumnVector
  }
  // decoded columns in required order: (vector index, column descriptor)
  private val decoded: Array[(Int, org.apache.parquet.column.ColumnDescriptor)] =
    p.required.fields.zipWithIndex.collect {
      case (f, i) if f.name != VersionedV2.FileMetaCol && fileFields(f.name) =>
        (i, readMsg.getColumns.asScala
          .find(_.getPath()(0) == f.name)
          .getOrElse(sys.error(s"no descriptor for ${f.name}")))
    }
  private val batch = new ColumnarBatch(vectors)

  // ColumnReadStoreImpl wants a record converter; we pull values via the
  // typed getters, so a no-op primitive tree suffices (dictionary
  // support stays off — pages decode eagerly)
  private object Noop extends GroupConverter {
    override def getConverter(i: Int): Converter = new PrimitiveConverter {}
    override def start(): Unit = ()
    override def end(): Unit = ()
  }

  // deletion vectors: sorted distinct positions to skip (file-level row
  // indexes); decode consumes every physical row but only KEPT rows land
  // in the vectors, under one per-batch mask shared by all columns
  private val deleted: Array[Long] =
    if (p.dvFiles.isEmpty) Array.emptyLongArray
    else Versioned.readDvPositions(p.dvFiles)
  private var dvPtr = 0
  private var filePos = 0L

  // every requested column postdates this file: nothing to decode — rows
  // are constant-vector-only, multiplicity from footer metadata (no pages;
  // deletion vectors subtract exactly, same as the count reader)
  private val constOnly = decoded.isEmpty
  private var constOnlyRemaining: Long =
    if (constOnly)
      reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum - deleted.length
    else 0L

  private var groupRemaining = 0L
  private var colReaders: Array[ColumnReader] = _
  // repeated (array) columns carry MORE values than records; per-column
  // remaining-value counts guard the repetition-level peek at row-group end
  private var valuesLeft: Array[Long] = _

  private def advanceRowGroup(): Boolean = {
    if (constOnly) {
      groupRemaining = constOnlyRemaining
      constOnlyRemaining = 0L
      return groupRemaining > 0L
    }
    val pages = reader.readNextRowGroup()
    if (pages == null) return false
    groupRemaining = pages.getRowCount
    val crs = new ColumnReadStoreImpl(pages, Noop, readMsg, createdBy)
    colReaders = decoded.map { case (_, d) => crs.getColumnReader(d) }
    valuesLeft = colReaders.map(_.getTotalValueCount)
    true
  }

  override def next(): Boolean = {
    while (true) {
      while (groupRemaining == 0L) if (!advanceRowGroup()) return false
      val n = math.min(Cap.toLong, groupRemaining).toInt
      groupRemaining -= n
      // deletion vectors: ONE keep mask per batch (rows [filePos,
      // filePos+n)), applied identically by every column so the filled
      // vectors stay row-aligned; null mask = keep everything. Values of
      // skipped rows MUST cr.skip() — the page value stream materializes
      // lazily, and an unread value would serve stale data to the next
      // getX (consume() advances levels only)
      var kept = n
      var keep: Array[Boolean] = null
      if (deleted.length > 0) {
        keep = new Array[Boolean](n)
        kept = 0
        var i = 0
        while (i < n) {
          val pos = filePos + i
          while (dvPtr < deleted.length && deleted(dvPtr) < pos) dvPtr += 1
          keep(i) = !(dvPtr < deleted.length && deleted(dvPtr) == pos)
          if (keep(i)) kept += 1
          i += 1
        }
      }
      filePos += n
      var k = 0
      while (k < decoded.length) {
        val (vi, desc) = decoded(k)
        val vec = vectors(vi).asInstanceOf[OnHeapColumnVector]
        vec.reset()
        val cr = colReaders(k)
        val maxDef = desc.getMaxDefinitionLevel
        val dt = p.required.fields(vi).dataType
        var r = 0
        var dr = 0
        dt match {
          case TimestampType if desc.getPrimitiveType.getPrimitiveTypeName ==
              org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT96 =>
            while (r < n) {
              if ((keep eq null) || keep(r)) {
                if (cr.getCurrentDefinitionLevel == maxDef)
                  vec.putLong(dr, VersionedV2.int96ToMicros(cr.getBinary.getBytes))
                else vec.putNull(dr)
                dr += 1
              } else if (cr.getCurrentDefinitionLevel == maxDef) cr.skip()
              cr.consume(); r += 1
            }
          case LongType | TimestampType =>
            while (r < n) {
              if ((keep eq null) || keep(r)) {
                if (cr.getCurrentDefinitionLevel == maxDef) vec.putLong(dr, cr.getLong)
                else vec.putNull(dr)
                dr += 1
              } else if (cr.getCurrentDefinitionLevel == maxDef) cr.skip()
              cr.consume(); r += 1
            }
          case dt: DecimalType =>
            // vector storage is precision-keyed (ints through p=9, longs
            // through p=18); the FILE width is the descriptor's primitive
            val fromInt32 = desc.getPrimitiveType.getPrimitiveTypeName ==
              org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT32
            val toInt = dt.precision <= org.apache.spark.sql.types.Decimal.MAX_INT_DIGITS
            while (r < n) {
              if ((keep eq null) || keep(r)) {
                if (cr.getCurrentDefinitionLevel == maxDef) {
                  val unscaled = if (fromInt32) cr.getInteger.toLong else cr.getLong
                  if (toInt) vec.putInt(dr, unscaled.toInt)
                  else vec.putLong(dr, unscaled)
                } else vec.putNull(dr)
                dr += 1
              } else if (cr.getCurrentDefinitionLevel == maxDef) cr.skip()
              cr.consume(); r += 1
            }
          case IntegerType | DateType =>
            while (r < n) {
              if ((keep eq null) || keep(r)) {
                if (cr.getCurrentDefinitionLevel == maxDef) vec.putInt(dr, cr.getInteger)
                else vec.putNull(dr)
                dr += 1
              } else if (cr.getCurrentDefinitionLevel == maxDef) cr.skip()
              cr.consume(); r += 1
            }
          case DoubleType =>
            while (r < n) {
              if ((keep eq null) || keep(r)) {
                if (cr.getCurrentDefinitionLevel == maxDef) vec.putDouble(dr, cr.getDouble)
                else vec.putNull(dr)
                dr += 1
              } else if (cr.getCurrentDefinitionLevel == maxDef) cr.skip()
              cr.consume(); r += 1
            }
          case FloatType =>
            while (r < n) {
              if ((keep eq null) || keep(r)) {
                if (cr.getCurrentDefinitionLevel == maxDef) vec.putFloat(dr, cr.getFloat)
                else vec.putNull(dr)
                dr += 1
              } else if (cr.getCurrentDefinitionLevel == maxDef) cr.skip()
              cr.consume(); r += 1
            }
          case BooleanType =>
            while (r < n) {
              if ((keep eq null) || keep(r)) {
                if (cr.getCurrentDefinitionLevel == maxDef) vec.putBoolean(dr, cr.getBoolean)
                else vec.putNull(dr)
                dr += 1
              } else if (cr.getCurrentDefinitionLevel == maxDef) cr.skip()
              cr.consume(); r += 1
            }
          case StringType =>
            while (r < n) {
              if ((keep eq null) || keep(r)) {
                if (cr.getCurrentDefinitionLevel == maxDef) {
                  val b = cr.getBinary.getBytes
                  vec.putByteArray(dr, b, 0, b.length): Unit
                } else vec.putNull(dr)
                dr += 1
              } else if (cr.getCurrentDefinitionLevel == maxDef) cr.skip()
              cr.consume(); r += 1
            }
          case ArrayType(FloatType, _) =>
            // repeated FLOAT (maxRep = maxDef = 1): one entry per VALUE,
            // plus one def-0 placeholder per empty record. Record
            // boundaries are repetition level 0; records never span row
            // groups and batches align to records, so the inner loop can
            // peek the NEXT value's repetition level safely under the
            // remaining-value guard. def-0 decodes as the EMPTY array
            // (2-level lists cannot represent null).
            // Deleted records consume their values without emitting.
            val child = vec.arrayData()
            var left = valuesLeft(k)
            var off = 0
            while (r < n) {
              val keepR = (keep eq null) || keep(r)
              if (cr.getCurrentDefinitionLevel == maxDef) {
                val start = off
                if (keepR) {
                  child.reserve(off + 1)
                  child.putFloat(off, cr.getFloat); off += 1
                } else cr.skip()
                cr.consume(); left -= 1
                while (left > 0 && cr.getCurrentRepetitionLevel == 1) {
                  if (keepR) {
                    child.reserve(off + 1)
                    child.putFloat(off, cr.getFloat); off += 1
                  } else cr.skip()
                  cr.consume(); left -= 1
                }
                if (keepR) { vec.putArray(dr, start, off - start): Unit; dr += 1 }
              } else {
                if (keepR) { vec.putArray(dr, off, 0): Unit; dr += 1 }
                cr.consume(); left -= 1
              }
              r += 1
            }
            valuesLeft(k) = left
          case other => sys.error(s"columnar: unsupported type $other")
        }
        k += 1
      }
      if (kept > 0) {
        batch.setNumRows(kept)
        return true
      }
      // a fully-deleted batch was consumed; take the next one
    }
    false // unreachable
  }

  override def get(): ColumnarBatch = batch

  override def close(): Unit = {
    batch.close()
    reader.close()
  }
}
