package graft.store

import java.util.UUID

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter}
import org.apache.parquet.schema.MessageType

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, SparkToParquetSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.ingest.ChunkRow

/** Persistent chunk store — the engine's durable table, replacing the
  * reference's Chroma collection (/root/reference/app.py:70-79). Parquet,
  * partitioned by (user, source): `user` gives row-level tenancy pruning
  * for retrieval (fixing the cross-user leakage of app.py:409 — SURVEY.md
  * X5), and `source` turns delete-by-filename into a partition drop — the
  * reference's delete fetches the WHOLE collection to the client and
  * filters in Python (multiple_document_upload.py:182-189); here it never
  * reads a data file at all.
  *
  * 100 TB note: (user, source) partitioning assumes many users × many
  * files; for a pathological single-tenant skew (one user or one file
  * holding a dominant share of the corpus) pass `skewBuckets > 1` to
  * [[append]] — a deterministic hash-of-chunk_id bucket becomes a third
  * partition level under source, splitting the hot directory into
  * independently plannable/compactable slices while user-prefix pruning
  * and the recursive delete keep working unchanged. Upgrade path to
  * in-place mutation (tombstones, upserts) is a Delta/Iceberg table
  * format — out of scope per SURVEY.md §7.4 risk 6.
  *
  * Every read uses the fixed [[schema]], so no read runs a parquet
  * footer-inference job. The facade's routes open one tenant's directory
  * ([[openUser]]) and delete one (user, source) directory, so their cost
  * follows that tenant's data, never the whole store's listing. Two
  * writers share one commit rule (stage, then rename in): [[append]], a
  * Spark job, for streaming and bulk loads, and [[appendRows]], which
  * writes a request's rows on the driver. An upload's dedup probe
  * ([[storedHashes]]) and a delete's row count ([[deleteBySource]]) read
  * parquet footers on the driver, so no upload and no delete runs a
  * Spark job.
  */
object ChunkStore {

  /** Append chunk rows (schema from ChunkRow) to the store with a Spark
    * write job. First write creates the store — the reference's
    * create-or-append branch at multiple_document_upload.py:161-168.
    * Committed like every write into the store (see [[staged]]).
    *
    * `skewBuckets > 1` adds a `bucket` partition level under source
    * (hash of chunk_id, so a chunk lands in the same bucket on every
    * append — re-ingest dedup semantics survive). Pick per STORE, at
    * creation: mixing bucketed and unbucketed appends into one store
    * would fork the directory schema. */
  def append(chunks: DataFrame, path: String, skewBuckets: Int = 1): Unit = {
    require(skewBuckets >= 1, s"skewBuckets must be >= 1, got $skewBuckets")
    val (rows, partCols) =
      if (skewBuckets == 1) (chunks, Seq("user", "source"))
      else (chunks.withColumn("bucket",
        pmod(xxhash64(col("chunk_id")), lit(skewBuckets.toLong)).cast("int")),
        Seq("user", "source", "bucket"))
    staged(chunks.sparkSession, path, bucketed = skewBuckets > 1) { staging =>
      rows.write.partitionBy(partCols: _*).parquet(staging.toString)
    }
  }

  /** Append request-sized chunk rows by writing them on the driver, with
    * no Spark job: each run of rows with one `(user, source)` becomes one
    * parquet file in that unbucketed `user=…/source=…/` directory, so
    * rows arrive grouped as [[graft.ingest.IngestPipeline.chunkRows]]
    * orders them. The file schema is Spark's own conversion of
    * [[schema]]'s data columns and the codec is the session's
    * `spark.sql.parquet.compression.codec`, so the files read back as the
    * ones [[append]] writes. Committed like every write into the store
    * (see [[staged]]); the rows are consumed while the files are written. */
  def appendRows(spark: SparkSession, rows: Iterator[ChunkRow], path: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val codec = CompressionCodecName.valueOf(
      new ParquetOptions(Map.empty[String, String], spark.sessionState.conf).compressionCodecClassName)
    staged(spark, path, bucketed = false) { staging =>
      val it = rows.buffered
      while (it.hasNext) {
        val (user, source) = (it.head.user, it.head.source)
        val file = new Path(staging, s"user=${escapePathName(user)}/" +
          s"source=${escapePathName(source)}/part-${UUID.randomUUID()}${codec.getExtension}.parquet")
        val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(file, conf))
          .withConf(conf).withType(fileSchema).withCompressionCodec(codec).build()
        try while (it.hasNext && it.head.user == user && it.head.source == source)
          writer.write(group(it.next()))
        finally writer.close()
      }
    }
  }

  /** A chunk row's data columns as a parquet record; null fields are
    * omitted (read back as null). */
  private def group(r: ChunkRow): Group = {
    val g = new SimpleGroup(fileSchema)
    g.add("chunk_id", r.chunk_id)
    g.add("chunk_seq", r.chunk_seq)
    Seq("type" -> r.`type`, "file_hash" -> r.file_hash, "text" -> r.text)
      .foreach { case (field, v) => if (v != null) g.add(field, v) }
    if (r.embedding != null) {
      val list = g.addGroup("embedding")
      r.embedding.foreach(x => list.addGroup(0).add(0, x))
    }
    g
  }

  /** The store's one commit rule. `write` fills a staging directory of
    * its own beside the store (`<store>.staging/<uuid>`) with `user=…/
    * source=…[/bucket=…]/` directories; their parquet files are then
    * renamed into the store and the staging directory is deleted, also
    * when `write` fails. Spark's writer into the store itself would stage
    * every job in one shared `<store>/_temporary/0`, where one job's
    * commit deletes a concurrent job's staged files, so concurrent appends
    * (two uploads at once) would lose data. File names carry a unique id,
    * so publishes never collide. As with Spark's own job commit, the
    * publish is one rename per file, not one atomic step: a crash
    * mid-publish leaves the rest of the batch in its staging directory,
    * outside the store. Cached frames over the store are refreshed. */
  private def staged(spark: SparkSession, path: String, bucketed: Boolean)(
      write: Path => Unit): Unit = {
    requireLayoutMatches(spark, path, bucketed)
    val store = new Path(path)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new Path(new Path(store.getParent, store.getName + ".staging"),
      UUID.randomUUID().toString)
    def publish(from: Path, to: Path): Unit = fs.listStatus(from).foreach { st =>
      val dest = new Path(to, st.getPath.getName)
      if (st.isDirectory) { fs.mkdirs(dest); publish(st.getPath, dest) }
      else if (st.getPath.getName.endsWith(".parquet") && !fs.rename(st.getPath, dest))
        throw new java.io.IOException(s"append: could not publish ${st.getPath} to $dest")
    }
    try {
      write(staging)
      fs.mkdirs(store)
      publish(staging, store)
    } finally fs.delete(staging, true)
    // what Spark's write into the store path did: cached frames over the
    // store see the new files
    spark.catalog.refreshByPath(path)
  }

  /** Fail a mismatched append LOUDLY at write time: mixing bucketed and
    * unbucketed appends forks the directory schema, and Spark's partition
    * discovery would only surface it at some later read ("conflicting
    * directory structures"), far from the faulty write. The probe is one
    * directory listing per level (user → source → children), never a
    * recursive walk. */
  private def requireLayoutMatches(spark: SparkSession, path: String, bucketed: Boolean): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(path))) return // new store: the write defines the layout
    def firstDir(p: Path, prefix: String): Option[Path] =
      fs.listStatus(p).find(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
        .map(_.getPath)
    val existing = for {
      u <- firstDir(new Path(path), "user=")
      s <- firstDir(u, "source=")
    } yield firstDir(s, "bucket=").isDefined
    existing.foreach { isBucketed =>
      require(isBucketed == bucketed,
        s"store $path is ${if (isBucketed) "skew-bucketed" else "unbucketed"}; " +
          s"append with ${if (bucketed) "skewBuckets > 1" else "skewBuckets = 1"} " +
          "would fork the directory schema (pick the layout per store, at creation)")
    }
  }

  /** Append with single-pass telemetry: the metrics a production ingest
    * would emit are computed by `observe` DURING the write — no second
    * scan of the data. Returns (n_chunks, n_users_approx, text_bytes);
    * the tenant count is HLL-approximate (~2% relative error at high
    * cardinality — observe() cannot host exact distinct aggregates),
    * exact at the small per-batch cardinalities typical of ingest. */
  def appendObserved(chunks: DataFrame, path: String,
      skewBuckets: Int = 1): (Long, Long, Long) = {
    val obs = new org.apache.spark.sql.Observation("chunk-append")
    append(chunks.observe(obs,
      // fully qualified: ChunkStore.count(spark, path) shadows functions.count
      org.apache.spark.sql.functions.count(lit(1)).as("n_chunks"),
      approx_count_distinct(col("user")).as("n_users"),
      sum(length(col("text")).cast("long")).as("text_bytes")), path, skewBuckets)
    val m = obs.get
    (m("n_chunks").asInstanceOf[Long], m("n_users").asInstanceOf[Long],
      m.get("text_bytes").collect { case b: Long => b }.getOrElse(0L))
  }

  /** The store's read schema, pinned from [[ChunkRow]]. Partition values
    * of `user`/`source` are read as strings (never type-inferred), and a
    * partition level outside it (a skew store's `bucket`) is still
    * discovered from the paths. Columns come out as the data columns, then
    * `user, source[, bucket]`. */
  val schema: StructType = Encoders.product[ChunkRow].schema

  /** The parquet schema of [[appendRows]]'s files: Spark's own conversion
    * of [[schema]]'s data columns, in its default (non-legacy) layout, so
    * `embedding` is a standard 3-level list. */
  private val fileSchema: MessageType = new SparkToParquetSchemaConverter()
    .convert(StructType(schema.filterNot(f => f.name == "user" || f.name == "source")))

  /** The whole store (every tenant). Lists every partition directory. */
  def load(spark: SparkSession, path: String): DataFrame = {
    recover(spark, path)
    read(spark, path, new Path(path))
  }

  /** One tenant's rows, read from its `user=` directory alone — no walk or
    * listing of other tenants' data. `None` when the tenant has no data
    * file (new tenant, or every file deleted). */
  def openUser(spark: SparkSession, path: String, user: String): Option[DataFrame] = {
    recover(spark, path)
    val dir = new Path(path, s"user=${escapePathName(user)}")
    if (hasDataFile(spark, dir)) Some(read(spark, path, dir)) else None
  }

  private def read(spark: SparkSession, path: String, dir: Path): DataFrame =
    spark.read.schema(schema).option("basePath", path).parquet(dir.toString)

  /** The hashes among `hashes` that `user`'s rows hold in `file_hash`:
    * the dedup gate's store side for one tenant, answered from parquet
    * footers on the driver with no Spark job. It reads the files
    * [[openUser]] would scan (recover, then [[dataFiles]] of the tenant's
    * directory) and gives what `openUser(…).where(file_hash IN hashes)`
    * returns. Per row group, from its `file_hash` statistics: a group
    * whose [min, max] holds no wanted hash is skipped; a group holding one
    * hash (min = max, no nulls: every file [[appendRows]] writes) answers
    * from the statistics alone; any other group (Spark-written bulk,
    * compacted or skew-bucketed files hold many hashes) has its
    * `file_hash` column read. */
  def storedHashes(spark: SparkSession, path: String, user: String,
      hashes: Set[String]): Set[String] = {
    recover(spark, path)
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(path, s"user=${escapePathName(user)}")
    val fs = dir.getFileSystem(conf)
    if (hashes.isEmpty || !fs.exists(dir)) return Set.empty
    footers(conf, dataFiles(fs, dir))(hashesIn(_, hashes)).flatten.toSet
  }

  /** The wanted hashes one file's `file_hash` column holds. */
  private def hashesIn(reader: ParquetFileReader, wanted: Set[String]): Iterable[String] = {
    val fileSchema = reader.getFooter.getFileMetaData.getSchema
    if (!fileSchema.containsField("file_hash")) return Nil
    val projected = new MessageType(fileSchema.getName,
      fileSchema.getType(fileSchema.getFieldIndex("file_hash")))
    reader.setRequestedSchema(projected)
    val column = projected.getColumns.get(0)
    val createdBy = reader.getFooter.getFileMetaData.getCreatedBy
    val probes = wanted.toSeq.map(Binary.fromString)
    reader.getRowGroups.asScala.toSeq.zipWithIndex.flatMap { case (group, i) =>
      val chunk = group.getColumns.asScala.find(_.getPath.toDotString == "file_hash").get
      val s = chunk.getStatistics.asInstanceOf[Statistics[Binary]]
      val nulls = if (s != null && s.isNumNullsSet) s.getNumNulls else -1L
      // min/max are set only when the group holds a non-null value
      val bounded = s != null && s.hasNonNullValue
      if (nulls == chunk.getValueCount) Nil
      else if (bounded && probes.forall(h => s.compareMinToValue(h) > 0 || s.compareMaxToValue(h) < 0))
        Nil
      else if (bounded && nulls == 0 && s.compareMinToValue(s.genericGetMax) == 0)
        Seq(s.genericGetMin.toStringUsingUTF8).filter(wanted)
      else {
        val values = new ColumnReadStoreImpl(reader.readRowGroup(i), IgnoreRecords, projected, createdBy)
          .getColumnReader(column)
        val found = mutable.Set.empty[String]
        var left = values.getTotalValueCount
        while (left > 0) {
          if (values.getCurrentDefinitionLevel == column.getMaxDefinitionLevel) {
            val h = values.getBinary.toStringUsingUTF8
            if (wanted(h)) found += h
          }
          values.consume()
          left -= 1
        }
        found
      }
    }
  }

  /** The record converter a column reader asks for; values are pulled
    * through the reader's own getters, so it does nothing. */
  private object IgnoreRecords extends GroupConverter {
    override def getConverter(i: Int): Converter = new PrimitiveConverter {}
    override def start(): Unit = ()
    override def end(): Unit = ()
  }

  /** `f` over each of `files` opened as parquet, lazily, with one set of
    * read options for the call: parquet's default options would build and
    * parse a fresh Hadoop configuration for every file. */
  private def footers[A](conf: Configuration, files: Iterator[FileStatus])(
      f: ParquetFileReader => A): Iterator[A] = {
    val options = HadoopReadOptions.builder(conf).build()
    files.map { st =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf), options)
      try f(reader) finally reader.close()
    }
  }

  /** The data files below `dir` as Spark's reader sees them: names that
    * start with `_` or `.` (`_SUCCESS`, `_temporary`, checksums) are skipped,
    * files and directories alike. A lazy `listStatus` walk, so a caller
    * that stops early lists no further: `listFiles`/`listLocatedStatus`
    * would read each entry's permission, which Hadoop's local file system
    * without its native library does by forking a process per entry. */
  private def dataFiles(fs: FileSystem, dir: Path): Iterator[FileStatus] =
    fs.listStatus(dir).iterator
      .filter { st => val n = st.getPath.getName; !n.startsWith("_") && !n.startsWith(".") }
      .flatMap(st => if (st.isDirectory) dataFiles(fs, st.getPath) else Iterator.single(st))

  /** True when `dir` holds a data file anywhere below it. Short-circuits
    * on the first one found. */
  private def hasDataFile(spark: SparkSession, dir: Path): Boolean = {
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(dir) && dataFiles(fs, dir).hasNext
  }

  /** True when the store has no data: missing directory OR a directory
    * with no parquet files left (the delete-everything state, where only
    * _SUCCESS markers remain). Short-circuits on the first data file. */
  def isEmpty(spark: SparkSession, path: String): Boolean = {
    recover(spark, path)
    !hasDataFile(spark, new Path(path))
  }

  /** Crash recovery for [[compact]]'s two-rename swap: if a crash landed
    * between staging out the live store and swapping the compacted copy
    * in, the store directory is missing but `<path>.precompact` holds the
    * intact original — restore it. Called by every entry point that
    * inspects the store path, so a half-finished compaction can never
    * present as an empty store (which would silently fork a new store and
    * defeat chunk-level dedup). */
  private def recover(spark: SparkSession, path: String): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new Path(path)
    val backup = new Path(path + ".precompact")
    if (!fs.exists(live) && fs.exists(backup)) {
      if (!fs.rename(backup, live))
        throw new java.io.IOException(
          s"store recovery: could not restore $backup to $path")
    }
  }

  /** Collection count (reference startup log, app.py:79). */
  def count(spark: SparkSession, path: String): Long =
    if (isEmpty(spark, path)) 0L else load(spark, path).count()

  /** Mandatory tenancy filter for retrieval (SURVEY.md X5): partition
    * pruning makes this a directory-level skip, not a row scan. */
  def userScoped(store: DataFrame, user: String): DataFrame =
    store.filter(col("user") === user)

  /** Compact the store's data files: every micro-batch append writes at
    * least one file per touched (user, source) partition, so a streaming
    * ingest accumulates small files until scan planning and footer reads
    * dominate — the classic 100 TB small-file problem. Rewrites the store
    * into at most `filesPerPartition` files per partition directory via a
    * staged overwrite (write to `<path>.compacting`, swap directories),
    * so a crash mid-compact never loses data: a crash before the stage-out
    * leaves the original untouched, and a crash between the two renames
    * leaves the original in `<path>.precompact`, from which every store
    * entry point auto-restores (see [[recover]]). Returns the row count
    * (unchanged by compaction; callers can assert on it).
    *
    * At real scale this runs per-partition (compact only directories whose
    * file count exceeds a threshold) under a table-format transaction; the
    * staged-swap here is the single-writer equivalent. */
  def compact(spark: SparkSession, path: String, filesPerPartition: Int = 1): Long = {
    if (isEmpty(spark, path)) return 0L
    val store = load(spark, path)
    val n = store.count()
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new Path(path + ".compacting")
    val backup = new Path(path + ".precompact")
    if (fs.exists(staging)) fs.delete(staging, true)
    // a skew-bucketed store keeps its bucket level through compaction
    val partCols =
      if (store.columns.contains("bucket")) Seq("user", "source", "bucket")
      else Seq("user", "source")
    // shuffle on (partition cols, bounded salt): a directory's rows land in
    // at most `filesPerPartition` distinct shuffle keys → at most that many
    // tasks → at most that many files per partition directory
    store
      .repartition(partCols.map(col) :+
        pmod(xxhash64(col("chunk_id")), lit(filesPerPartition.toLong)): _*)
      .write.mode("overwrite").partitionBy(partCols: _*).parquet(staging.toString)
    if (fs.exists(backup)) fs.delete(backup, true)
    if (!fs.rename(new Path(path), backup))
      throw new java.io.IOException(s"compact: could not stage out $path")
    if (!fs.rename(staging, new Path(path))) {
      fs.rename(backup, new Path(path)) // roll back
      throw new java.io.IOException(s"compact: could not swap in $staging")
    }
    fs.delete(backup, true)
    n
  }

  /** Number of parquet data files currently backing the store. */
  def dataFileCount(spark: SparkSession, path: String): Long = {
    if (isEmpty(spark, path)) return 0L
    val store = new Path(path)
    dataFiles(store.getFileSystem(spark.sparkContext.hadoopConfiguration), store).size.toLong
  }

  /** Delete every chunk of `source` (lowercased filename) owned by `user` —
    * the reference's delete-by-filename (multiple_document_upload.py:178-200)
    * as a partition drop, tenant-scoped: the reference's delete is global
    * only because its whole store is global; with per-user retrieval a
    * same-named file of another tenant must survive. Partition values are
    * Hive-escaped exactly as Spark wrote them (a literal `source=<raw>`
    * path would miss any filename containing %, #, = …). Only that one
    * directory is checked and counted, and the count is the sum of its
    * data files' parquet footer row counts: no data page is read and no
    * Spark job runs. Returns the number of deleted rows (0 = the
    * reference's "No vectors found"). */
  def deleteBySource(spark: SparkSession, path: String, user: String, source: String): Long = {
    recover(spark, path)
    val conf = spark.sparkContext.hadoopConfiguration
    val srcDir = new Path(path,
      s"user=${escapePathName(user)}/source=${escapePathName(source.toLowerCase)}")
    val fs = srcDir.getFileSystem(conf)
    if (!fs.exists(srcDir)) return 0L
    val n = footers(conf, dataFiles(fs, srcDir))(_.getRecordCount).sum
    if (n > 0) fs.delete(srcDir, true)
    n
  }
}
