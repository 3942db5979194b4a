package graft.store

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
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
  * follows that tenant's data, never the whole store's listing.
  */
object ChunkStore {

  /** Append chunk rows (schema from ChunkRow) to the store. First write
    * creates the store — the reference's create-or-append branch at
    * multiple_document_upload.py:161-168.
    *
    * Each call writes into a staging directory of its own beside the
    * store (`<store>.staging/<uuid>`), then renames its part files into
    * the store's `user=…/source=…[/bucket=…]/` directories and deletes
    * the staging directory. Spark's writer into the store itself would
    * stage every job in one shared `<store>/_temporary/0`, where one
    * job's commit deletes a concurrent job's staged files, so concurrent
    * appends (two uploads at once) would lose data. Part-file names carry
    * the write job's id, so publishes never collide. As with Spark's own
    * job commit, the publish is one rename per file, not one atomic step:
    * a crash mid-publish leaves the rest of the batch in its staging
    * directory, outside the store.
    *
    * `skewBuckets > 1` adds a `bucket` partition level under source
    * (hash of chunk_id, so a chunk lands in the same bucket on every
    * append — re-ingest dedup semantics survive). Pick per STORE, at
    * creation: mixing bucketed and unbucketed appends into one store
    * would fork the directory schema. */
  def append(chunks: DataFrame, path: String, skewBuckets: Int = 1): Unit = {
    require(skewBuckets >= 1, s"skewBuckets must be >= 1, got $skewBuckets")
    val spark = chunks.sparkSession
    requireLayoutMatches(spark, path, bucketed = skewBuckets > 1)
    val (rows, partCols) =
      if (skewBuckets == 1) (chunks, Seq("user", "source"))
      else (chunks.withColumn("bucket",
        pmod(xxhash64(col("chunk_id")), lit(skewBuckets.toLong)).cast("int")),
        Seq("user", "source", "bucket"))
    val store = new Path(path)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new Path(new Path(store.getParent, store.getName + ".staging"),
      java.util.UUID.randomUUID().toString)
    def publish(from: Path, to: Path): Unit = fs.listStatus(from).foreach { st =>
      val dest = new Path(to, st.getPath.getName)
      if (st.isDirectory) { fs.mkdirs(dest); publish(st.getPath, dest) }
      else if (st.getPath.getName.endsWith(".parquet") && !fs.rename(st.getPath, dest))
        throw new java.io.IOException(s"append: could not publish ${st.getPath} to $dest")
    }
    try {
      rows.write.partitionBy(partCols: _*).parquet(staging.toString)
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

  /** True when `dir` holds a parquet file anywhere below it. Short-circuits
    * on the first one found. */
  private def hasDataFile(spark: SparkSession, dir: Path): Boolean = {
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return false
    val it = fs.listFiles(dir, true)
    while (it.hasNext) {
      if (it.next().getPath.getName.endsWith(".parquet")) return true
    }
    false
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
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(new Path(path), true)
    var n = 0L
    while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
    n
  }

  /** Delete every chunk of `source` (lowercased filename) owned by `user` —
    * the reference's delete-by-filename (multiple_document_upload.py:178-200)
    * as a partition drop, tenant-scoped: the reference's delete is global
    * only because its whole store is global; with per-user retrieval a
    * same-named file of another tenant must survive. Partition values are
    * Hive-escaped exactly as Spark wrote them (a literal `source=<raw>`
    * path would miss any filename containing %, #, = …). Only that one
    * directory is checked and counted. Returns the number of deleted rows
    * (0 = the reference's "No vectors found"). */
  def deleteBySource(spark: SparkSession, path: String, user: String, source: String): Long = {
    recover(spark, path)
    val srcDir = new Path(path,
      s"user=${escapePathName(user)}/source=${escapePathName(source.toLowerCase)}")
    if (!hasDataFile(spark, srcDir)) return 0L
    // a map-only count of the zero-column scan: one job, no shuffle stage
    val n = read(spark, path, srcDir).select().rdd.count()
    if (n > 0) srcDir.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(srcDir, true)
    n
  }
}
