package graft.ingest

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Embedder

/** Multi-format ingest dataflow — the Spark-native form of the reference's
  * `ingest_document` (/root/reference/helper/multiple_document_upload.py:68-176):
  *
  *   binary scan → ext validate → parse → chunk(1000/200) → blank filter →
  *   sha256 → dedup anti-join vs store → metadata stamp → embed → chunk rows
  *
  * Every per-file reject branch of the reference survives as a row-level
  * status (`IngestPipeline.Status`), so one distributed pass classifies an
  * arbitrarily large upload batch — no per-file driver loop. At 100 TB the
  * stages are all narrow (per-file) except the dedup anti-join, which
  * shuffles only (file_hash → path) pairs.
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


  /** Run the full ingest dataflow.
    *
    * @param files  DataFrame with `path: string, user: string, content: binary`
    * @param store  the dedup gate's store side: any frame with `user` and
    *               `file_hash` columns — the existing chunk store, or rows
    *               already collected from it; pass None on first load (the
    *               reference's `vector_db is None` branch at :140)
    * @param chunker chunk splitter (reference config 1000/200)
    * @param cacheParsed cache the parse stage (both outputs consume it);
    *                    pass false when only ONE of chunks/outcomes will be
    *                    read exactly once — no cache to leak, no release()
    *                    obligation
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
    import spark.implicits._

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

    // filename/ext stamping — lower() + last-dot suffix, as the reference
    // computes them (multiple_document_upload.py:77,153-156)
    val named = files
      .withColumn("source", lower(element_at(split(col("path"), "/"), -1)))
      .withColumn("type", element_at(split(col("source"), "\\."), -1))
      .withColumn("file_hash", fileHash)

    val supported = named.withColumn("supported", col("type").isInCollection(AllowedExts))

    // Dedup gate, scoped per tenant: the reference's check is global
    // (where={"file_hash": h}) because its retrieval is global; with
    // tenant-scoped retrieval (X5) a global gate would silently swallow a
    // tenant's upload because ANOTHER tenant stored the same bytes.
    // Two layers:
    //  1. intra-batch: the first path per (user, hash) proceeds, the rest
    //     are duplicates (the reference gets this by processing files
    //     sequentially);
    //  2. vs store: left join on (user, hash) — no broadcast hint, AQE
    //     picks the strategy (the store-side hash set is unbounded at scale).
    val batchW = Window.partitionBy(col("user"), col("file_hash")).orderBy(col("path"))
    val withBatchDup = supported.withColumn("batch_dup", row_number().over(batchW) > 1)
    val withDup = store.map(_.select(col("user"), col("file_hash")).distinct()) match {
      case Some(d) =>
        withBatchDup.join(d.withColumn("in_store", lit(true)), Seq("user", "file_hash"), "left")
          .withColumn("is_dup", col("batch_dup") || coalesce(col("in_store"), lit(false)))
      case None => withBatchDup.withColumn("is_dup", col("batch_dup"))
    }

    // status precedence mirrors the reference's stage order
    // (multiple_document_upload.py:80→149): ext → load → content → chunks →
    // dedup LAST — a blank duplicate is "no content", not "duplicate"
    val parsed = withDup
      .withColumn("parsed",
        when(col("supported"), parseChunk(col("type"), col("content"))))
      .withColumn("status",
        when(!col("supported"), Status.UnsupportedType)
          .when(col("parsed.err").isNotNull, Status.ParseError)
          .when(!col("parsed.hadContent"), Status.NoContent)
          .when(size(col("parsed.docs")) === 0, Status.NoChunks)
          .when(col("is_dup"), Status.Duplicate)
          .otherwise(Status.Ok))
      .drop("content")
    val parsedMaybeCached = if (cacheParsed) parsed.cache() else parsed

    val outcomes = parsedMaybeCached.select(
      col("path"), col("source"), col("user"), col("type"), col("file_hash"),
      col("status"), col("parsed.err").as("reason"),
      coalesce(size(col("parsed.docs")), lit(0)).as("n_chunks"))

    val dim = embedDim
    val chunkRows = parsedMaybeCached
      .filter(col("status") === Status.Ok)
      .select(col("source"), col("user"), col("type"), col("file_hash"),
        posexplode(col("parsed.docs")).as(Seq("chunk_seq", "text")))
      .select(
        // unique, deterministic chunk id: (tenant, content hash, position) —
        // user is part of the key because two tenants may store identical
        // bytes (tenant-scoped dedup) and their chunks must not collide
        xxhash64(col("user"), col("file_hash"), col("chunk_seq")).as("chunk_id"),
        col("source"), col("user"), col("type"), col("file_hash"),
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

    IngestBatch(chunkRows, outcomes, parsedMaybeCached)
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
