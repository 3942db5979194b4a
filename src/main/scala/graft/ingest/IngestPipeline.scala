package graft.ingest

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.Embedder

/** Multi-format ingest dataflow — the Spark-native form of the reference's
  * `ingest_document` (/root/reference/helper/multiple_document_upload.py:68-176):
  *
  *   binary scan → sha256 → dedup gate vs batch and store → ext validate →
  *   parse → chunk(1000/200) → blank filter → metadata stamp → embed →
  *   chunk rows
  *
  * Two stages. [[gate]] is the dedup gate (a window over the batch plus a
  * join with the store); it is the only stage that shuffles, and only
  * (user, file_hash, path) keys. [[classify]] is the per-file stage: every
  * per-file reject branch of the reference survives as a row-level status
  * (`IngestPipeline.Status`), computed by Projects alone, so one pass
  * classifies an arbitrarily large batch with no per-file driver loop.
  * [[ingest]] is `classify(gate(files, store))`, the path for bulk loads,
  * `StreamingIngest` and the declared queries. A request-sized upload
  * (`Engine.upload`) instead flags duplicates on the driver with
  * [[dupFlags]], the gate's rule for one tenant, runs [[classify]] over
  * its `LocalRelation`, which Spark evaluates on the driver, and takes its
  * chunk rows from [[chunkRows]], the driver-side form of [[chunksOf]].
  */
object IngestPipeline {

  /** Allowed upload extensions (multiple_document_upload.py:24-30), plus
    * `eml` — email archives are a first-class LLM-corpus source the
    * reference's loader set lacks (MailParser). */
  val AllowedExts: Set[String] =
    Set("pdf", "txt", "md", "csv", "doc", "docx", "xls", "xlsx", "ppt", "pptx", "html", "htm",
      "eml")

  // Formats parsed natively in this build (the defaultParsers key set is
  // the authority): plain text family; the OOXML office formats (ZIP+XML,
  // pure-JDK parsers — OfficeParsers); the legacy OLE2 binaries
  // (doc/xls/ppt — CFB container + piece-table/SST/TextAtom subsets,
  // LegacyOfficeParsers); and a best-effort PDF subset (Flate/plain
  // content streams — PdfParser). Every extension the reference accepts
  // now has a real decoder; out-of-subset structure degrades to
  // parse_error/no_content, and tests can still inject decoders through
  // `parsers`.

  /** Reject/accept status values, mirroring multiple_document_upload.py:80-149. */
  object Status {
    val Ok = "ok"
    val UnsupportedType = "unsupported_type" // :80-87  "Unsupported file type"
    val ParseError = "parse_error"           // :100-109 loader exception
    val NoContent = "no_content"             // :111-118 "No readable content"
    val NoChunks = "no_chunks"               // :129-136 "No valid text chunks"
    val Duplicate = "duplicate"              // :139-149 "File already exists"
  }

  type Parser = Array[Byte] => Either[String, Seq[String]]

  /** A file's dedup key (multiple_document_upload.py:139): SHA-256 hex of
    * its `content` bytes. */
  val fileHash: Column = sha2(col("content"), 256)

  /** Default per-format parsers. CSV mirrors the reference's loader
    * semantics (one document per row, "header: value" lines); HTML strips
    * tags. */
  def defaultParsers: Map[String, Parser] = {
    val asText: Parser = bytes => Right(Seq(new String(bytes, StandardCharsets.UTF_8)))
    val asCsv: Parser = bytes => {
      val lines = new String(bytes, StandardCharsets.UTF_8).split("\r?\n").filter(_.nonEmpty)
      if (lines.isEmpty) Right(Seq.empty)
      else {
        val header = lines.head.split(",", -1)
        Right(lines.tail.toSeq.map { line =>
          header.zip(line.split(",", -1)).map { case (h, v) => s"$h: $v" }.mkString("\n")
        })
      }
    }
    val asHtml: Parser = bytes =>
      Right(Seq(new String(bytes, StandardCharsets.UTF_8)
        .replaceAll("(?is)<(script|style)[^>]*>.*?</\\1>", " ")
        .replaceAll("<[^>]+>", " ")
        .replaceAll("\\s+", " ").trim))
    val unavailable: Parser = _ => Left("decoder not available in this build")
    Map(
      "txt" -> asText, "md" -> asText, "csv" -> asCsv,
      "html" -> asHtml, "htm" -> asHtml,
      "docx" -> OfficeParsers.docx, "xlsx" -> OfficeParsers.xlsx,
      "pptx" -> OfficeParsers.pptx,
      "doc" -> LegacyOfficeParsers.doc, "xls" -> LegacyOfficeParsers.xls,
      "ppt" -> LegacyOfficeParsers.ppt,
      "pdf" -> PdfParser.pdf,
      "eml" -> MailParser.eml
    ).withDefaultValue(unavailable)
  }


  /** The dedup rule for one tenant's batch, as the gate's window and join
    * apply it: among the batch's files with one `file_hash`, the first
    * path in path order proceeds and the rest are duplicates (the
    * reference gets this by processing files one by one); a file whose
    * hash the tenant already stored is a duplicate. Every file counts,
    * including one that later ends unsupported or blank, and a status
    * decided before dedup wins over `duplicate` (see [[classify]]).
    *
    * This is the driver-side form for a request-sized batch: `keys` are
    * the batch's `(path, file_hash)` pairs in row order, `stored` the
    * hashes the tenant already holds; the result is each row's `is_dup`. */
  def dupFlags(keys: Seq[(String, String)], stored: Set[String]): Seq[Boolean] = {
    // path order is Spark's string order (UTF-8 bytes), not String's UTF-16
    val winner = keys.indices.groupBy(i => keys(i)._2).map { case (h, rows) =>
      h -> rows.minBy(i => UTF8String.fromString(keys(i)._1))
    }
    keys.indices.map(i => winner(keys(i)._2) != i || stored(keys(i)._2))
  }

  /** The dedup gate ([[dupFlags]]'s rule over any number of tenants and
    * files): stamps `file_hash` and `is_dup` on `(path, user, content)`
    * rows. Scoped per tenant: the reference's check is global
    * (where={"file_hash": h}) because its retrieval is global; with
    * tenant-scoped retrieval (X5) a global gate would silently swallow a
    * tenant's upload because ANOTHER tenant stored the same bytes. The
    * batch side is a window over (user, file_hash); the store side a left
    * join on (user, file_hash) — no broadcast hint, AQE picks the strategy
    * (the store-side hash set is unbounded at scale).
    *
    * @param store any frame with `user` and `file_hash` columns — the
    *              existing chunk store, or rows already collected from
    *              it; None on first load (the reference's
    *              `vector_db is None` branch at :140)
    */
  def gate(files: DataFrame, store: Option[DataFrame]): DataFrame = {
    val batchW = Window.partitionBy(col("user"), col("file_hash")).orderBy(col("path"))
    val withBatchDup = files.withColumn("file_hash", fileHash)
      .withColumn("batch_dup", row_number().over(batchW) > 1)
    val withDup = store.map(_.select(col("user"), col("file_hash")).distinct()) match {
      case Some(d) =>
        withBatchDup.join(d.withColumn("in_store", lit(true)), Seq("user", "file_hash"), "left")
          .withColumn("is_dup", col("batch_dup") || coalesce(col("in_store"), lit(false)))
          .drop("in_store")
      case None => withBatchDup.withColumn("is_dup", col("batch_dup"))
    }
    withDup.drop("batch_dup")
  }

  /** The per-file outcome report's columns, in order: [[classify]] emits
    * them first, then `docs`. */
  val OutcomeColumns: Seq[String] =
    Seq("path", "source", "user", "type", "file_hash", "status", "reason", "n_chunks")

  /** The per-file stage: `(path, user, content, file_hash, is_dup)` rows →
    * one classified row per file, [[OutcomeColumns]] plus `docs` (the
    * file's chunk texts). Every operator is a per-row Project, so over a
    * request's `LocalRelation` Spark's `ConvertToLocalRelation` evaluates
    * the whole stage on the driver with these same expressions and no job.
    */
  def classify(flagged: DataFrame, chunker: Chunker = Chunker.reference,
      parsers: Map[String, Parser] = defaultParsers): DataFrame = {
    val ch = chunker
    val ps = parsers
    val parseChunk = udf { (ext: String, content: Array[Byte]) =>
      ps(ext)(content) match {
        case Left(err) => ParseOut(err, hadContent = false, Seq.empty)
        case Right(docs) =>
          val nonEmpty = docs.filter(d => d != null && d.trim.nonEmpty)
          if (nonEmpty.isEmpty) ParseOut(null, hadContent = false, Seq.empty)
          else ParseOut(null, hadContent = true,
            nonEmpty.flatMap(ch.split).filter(_.trim.nonEmpty))
      }
    }
    flagged
      // filename/ext stamping — lower() + last-dot suffix, as the reference
      // computes them (multiple_document_upload.py:77,153-156)
      .withColumn("source", lower(element_at(split(col("path"), "/"), -1)))
      .withColumn("type", element_at(split(col("source"), "\\."), -1))
      .withColumn("supported", col("type").isInCollection(AllowedExts))
      .withColumn("parsed",
        when(col("supported"), parseChunk(col("type"), col("content"))))
      // status precedence mirrors the reference's stage order
      // (multiple_document_upload.py:80→149): ext → load → content → chunks →
      // dedup LAST — a blank duplicate is "no content", not "duplicate"
      .withColumn("status",
        when(!col("supported"), Status.UnsupportedType)
          .when(col("parsed.err").isNotNull, Status.ParseError)
          .when(!col("parsed.hadContent"), Status.NoContent)
          .when(size(col("parsed.docs")) === 0, Status.NoChunks)
          .when(col("is_dup"), Status.Duplicate)
          .otherwise(Status.Ok))
      .select(col("path"), col("source"), col("user"), col("type"), col("file_hash"),
        col("status"), col("parsed.err").as("reason"),
        coalesce(size(col("parsed.docs")), lit(0)).as("n_chunks"),
        col("parsed.docs").as("docs"))
  }

  /** A chunk's `chunk_id`: unique and deterministic over (tenant, content
    * hash, position). `user` is part of the key because two tenants may
    * store identical bytes (tenant-scoped dedup) and their chunks must not
    * collide. */
  val chunkId: Column = xxhash64(col("user"), col("file_hash"), col("chunk_seq")).as("chunk_id")

  /** Appendable chunk rows (schema from [[ChunkRow]]) of [[classify]]'s
    * `ok` rows. Embedding runs here, in the consuming job's partitions. */
  def chunksOf(classified: DataFrame, embedDim: Int = Embedder.DefaultDim): DataFrame = {
    import classified.sparkSession.implicits._
    val dim = embedDim
    classified
      .filter(col("status") === Status.Ok)
      .select(col("source"), col("user"), col("type"), col("file_hash"),
        posexplode(col("docs")).as(Seq("chunk_seq", "text")))
      .select(chunkId, col("source"), col("user"), col("type"), col("file_hash"),
        col("chunk_seq"), col("text"))
      .as[ChunkRowNoVec]
      // partition-level map: the production seam where an ONNX session is
      // instantiated once per partition and reused (SURVEY.md §2.1 T6)
      .mapPartitions { it =>
        val model = Embedder.StandIn.load(dim) // one model init per partition
        it.map(c => ChunkRow(c.chunk_id, c.source, c.user, c.`type`, c.file_hash,
          c.chunk_seq, c.text, model(c.text)))
      }
      .toDF()
  }

  /** [[chunksOf]] for classified rows already collected on the driver (a
    * request-sized upload): the same chunk rows, ordered by `(user,
    * source)` so each file's directory gets one run. `chunk_id` is
    * [[chunkId]] over a `LocalRelation`, which Spark evaluates on the
    * driver with no job; the embedding model is loaded once for the batch
    * and applied as the rows are consumed. */
  def chunkRows(spark: SparkSession, classified: Seq[Row],
      embedDim: Int = Embedder.DefaultDim): Iterator[ChunkRow] = {
    import spark.implicits._
    val chunks = classified.filter(_.getAs[String]("status") == Status.Ok)
      .sortBy(r => (r.getAs[String]("user"), r.getAs[String]("source")))
      .flatMap { r =>
        r.getAs[collection.Seq[String]]("docs").zipWithIndex.map { case (text, seq) =>
          ChunkRow(0L, r.getAs("source"), r.getAs("user"), r.getAs("type"),
            r.getAs("file_hash"), seq, text, null)
        }
      }
    val ids = chunks.map(c => (c.user, c.file_hash, c.chunk_seq))
      .toDF("user", "file_hash", "chunk_seq").select(chunkId).as[Long].collect()
    val model = Embedder.StandIn.load(embedDim)
    chunks.iterator.zip(ids.iterator).map { case (c, id) =>
      c.copy(chunk_id = id, embedding = model(c.text))
    }
  }

  /** Run the full ingest dataflow: `classify(gate(files, store))`, with
    * the report and the chunk rows both read from the classified rows.
    *
    * @param files  DataFrame with `path: string, user: string, content: binary`
    * @param store  the dedup gate's store side (see [[gate]])
    * @param chunker chunk splitter (reference config 1000/200)
    * @param cacheParsed cache the classified rows (both outputs consume
    *                    them); pass false when only ONE of chunks/outcomes
    *                    will be read exactly once — no cache to leak, no
    *                    release() obligation
    * @return (chunks ready to append, per-file outcome report)
    */
  def ingest(
      spark: SparkSession,
      files: DataFrame,
      store: Option[DataFrame],
      chunker: Chunker = Chunker.reference,
      parsers: Map[String, Parser] = defaultParsers,
      embedDim: Int = Embedder.DefaultDim,
      cacheParsed: Boolean = true): IngestBatch = {
    val classified = classify(gate(files, store), chunker, parsers)
    val kept = if (cacheParsed) classified.cache() else classified
    IngestBatch(chunksOf(kept, embedDim), kept.select(OutcomeColumns.map(col): _*), kept)
  }
}

/** UDF output of the parse+chunk stage (top-level so Catalyst codegen can
  * construct/inspect it). */
case class ParseOut(err: String, hadContent: Boolean, docs: Seq[String])

case class ChunkRowNoVec(chunk_id: Long, source: String, user: String, `type`: String,
    file_hash: String, chunk_seq: Int, text: String)

case class ChunkRow(chunk_id: Long, source: String, user: String, `type`: String,
    file_hash: String, chunk_seq: Int, text: String, embedding: Array[Float])

/** Result of one ingest pass: appendable chunk rows + per-file outcomes.
  * When the parse stage is cached (`cacheParsed = true`, the default —
  * both outputs consume it), call [[release]] once chunks/outcomes have
  * been materialized — repeated ingest passes (e.g. streaming
  * micro-batches) would otherwise accumulate cached partitions on the
  * executors. With `cacheParsed = false`, release() is a harmless no-op. */
case class IngestBatch(chunks: DataFrame, outcomes: DataFrame,
    private val parsed: DataFrame) {
  def release(): Unit = { parsed.unpersist(); () }
}
