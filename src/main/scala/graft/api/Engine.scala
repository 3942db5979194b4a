package graft.api

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.auth.Jwt
import graft.ingest.IngestPipeline
import graft.rag.Rag
import graft.store.ChunkStore
import graft.streaming.ChatLog

/** The engine facade — the reference's four HTTP routes
  * (/root/reference/app.py: /login :284, /upload-pdf :352, /chat :395,
  * /delete-file :451) as typed methods over the Spark-native pieces, so
  * "a user of the reference could switch" is one object, not an
  * assembly manual. HTTP/Flask itself stays out of engine scope; every
  * method takes the bearer token and binds the verified identity into
  * the plan exactly where the reference binds `g.email`.
  *
  * Upload reads only the parquet footers of the caller's store directory
  * ([[ChunkStore.storedHashes]]), chat opens only that directory
  * ([[ChunkStore.openUser]], with the store's pinned schema) and delete
  * touches only the caller's (user, source) directory — a route's cost
  * follows the caller's data, not the whole store.
  *
  * `now` is injected (epoch seconds) so token issue/expiry and chat-log
  * timestamps are deterministic under test.
  */
final class Engine(spark: SparkSession, storeDir: String, chatLogDir: String,
    secret: String, now: () => Long) {

  /** POST /login — email → 1h HS256 token (app.py:284-299). */
  def login(email: String): String = Jwt.issue(email, secret, now())

  private def authed[A](token: String)(f: String => A): Either[Jwt.AuthError, A] =
    Jwt.verify(token, secret, now()).map(f)

  /** POST /upload — ingest a batch of (path, content) uploads under the
    * token's identity; accepted chunks land in the store, and the
    * per-file outcome report (the reference's indexed/reason JSON,
    * app.py:378-391) is returned as local rows, so reading it runs no job.
    *
    * The request's bytes are already on the driver (the reference, too,
    * handles an upload in one process, file by file), so the whole route
    * runs there with no Spark job and no SQL execution: each file's hash
    * ([[IngestPipeline.fileHashOf]]), the dedup probe of the caller's
    * directory ([[ChunkStore.storedHashes]], which reads parquet footers),
    * the gate's rule for one tenant ([[IngestPipeline.dupFlags]]), the
    * per-file stage bulk ingest maps over its rows
    * ([[IngestPipeline.classifyFile]]), and the embedding and write of the
    * accepted chunks ([[IngestPipeline.chunkRows]],
    * [[ChunkStore.appendRows]]). The driver holds the request's files and
    * their chunk texts, so its memory is bounded by the request's bytes
    * and by [[Engine.MaxFilesPerUpload]]; the probe reads one footer per
    * file of the caller's directory. */
  def upload(token: String, files: Seq[(String, Array[Byte])]): Either[Jwt.AuthError, DataFrame] =
    authed(token) { user =>
      // Bulk corpus loads go through IngestPipeline/StreamingIngest
      // directly, which keep every row on the cluster.
      require(files.size <= Engine.MaxFilesPerUpload,
        s"upload batch of ${files.size} files exceeds ${Engine.MaxFilesPerUpload}; " +
          "use StreamingIngest for bulk loads")
      val hashes = files.map { case (_, content) => IngestPipeline.fileHashOf(content) }
      // the dedup gate's store side: the key is (user, file_hash) with
      // user fixed to the caller, so only the caller's directory is read
      val stored = ChunkStore.storedHashes(spark, storeDir, user, hashes.toSet)
      val isDup = IngestPipeline.dupFlags(files.map(_._1).zip(hashes), stored)
      val rows = files.indices.map { i =>
        IngestPipeline.classifyFile(files(i)._1, user, files(i)._2, hashes(i), isDup(i))
      }
      if (rows.exists(_.getAs[String]("status") == IngestPipeline.Status.Ok))
        ChunkStore.appendRows(spark, IngestPipeline.chunkRows(spark, rows), storeDir)
      spark.createDataFrame(rows.map(r => Row.fromSeq(r.toSeq.init)).asJava,
        IngestPipeline.OutcomeSchema)
    }

  /** POST /chat — retrieve top-13 for the question WITHIN the caller's
    * tenant (fixing app.py:409's cross-user leakage; Rag.retrieve's user
    * filter stays as a second guard over the tenant open), assemble the
    * grounded prompt, and log the turn as one driver-written file
    * ([[ChatLog.append]]): no Spark job or stream runs for the log, and the
    * turn is readable through [[ChatLog.read]] before `chat` returns.
    * The LLM completion itself is an external boundary; the prompt is
    * the engine's product. */
  def chat(token: String, question: String): Either[Jwt.AuthError, String] =
    authed(token) { user =>
      val p = ChunkStore.openUser(spark, storeDir, user)
        .fold(Rag.prompt(question, ""))(Rag.ask(_, question, user))
      ChatLog.append(spark, chatLogDir, user, question, p, now() * 1000000L)
      p
    }

  /** Release the engine. It holds nothing between calls (no stream, no
    * cached frame), so this does nothing; it stays for callers written
    * against the relay-era engine, which stopped its chat-log relay here. */
  def shutdown(): Unit = ()

  /** POST /delete-file — drop every chunk of the caller's `filename`;
    * returns the deleted count (0 = the reference's "No vectors found"),
    * summed from the file's parquet footers: no Spark job runs. */
  def delete(token: String, filename: String): Either[Jwt.AuthError, Long] =
    authed(token)(user => ChunkStore.deleteBySource(spark, storeDir, user, filename))

  /** Collection count (reference startup log, app.py:79). */
  def count(): Long = ChunkStore.count(spark, storeDir)
}

object Engine {
  /** Upper bound on files per [[Engine.upload]] call — the upload
    * classifies its files on the driver, so the batch must stay
    * request-sized, matching the reference's HTTP multipart route; bulk
    * loads bypass the facade. */
  val MaxFilesPerUpload = 4096
}
