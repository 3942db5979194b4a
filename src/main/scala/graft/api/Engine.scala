package graft.api

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

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
  * Upload and chat open only the caller's store directory
  * ([[ChunkStore.openUser]]) and delete touches only the caller's
  * (user, source) directory, all read with the store's pinned schema —
  * a route's cost follows the caller's data, not the whole store.
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
    * handles an upload in one process, file by file), so the per-file
    * work stays there: the batch is a `LocalRelation`, and hashing and
    * [[IngestPipeline.classify]] over it are Projects that Spark's
    * `ConvertToLocalRelation` evaluates on the driver, with the same
    * expressions as bulk ingest. The driver holds the request's files
    * and their chunk texts, so its memory is bounded by the request's
    * bytes and by [[Engine.MaxFilesPerUpload]]. An upload runs two Spark
    * jobs: the dedup probe of the caller's directory (none for a tenant
    * with no files) and the store write, which embeds (none when no file
    * is accepted). Opening a tenant with more than 32 files adds Spark's
    * listing job. */
  def upload(token: String, files: Seq[(String, Array[Byte])]): Either[Jwt.AuthError, DataFrame] =
    authed(token) { user =>
      import spark.implicits._
      // Bulk corpus loads go through IngestPipeline/StreamingIngest
      // directly, which keep every row on the cluster.
      require(files.size <= Engine.MaxFilesPerUpload,
        s"upload batch of ${files.size} files exceeds ${Engine.MaxFilesPerUpload}; " +
          "use StreamingIngest for bulk loads")
      val batch = files.map { case (p, c) => (p, c, user) }.toDF("path", "content", "user")
      val keys = batch.select(col("path"), IngestPipeline.fileHash).as[(String, String)].collect()
      // The dedup gate's store side: the batch's hashes probe only the
      // caller's directory (the key is (user, file_hash) with user fixed
      // to the caller). One job, no shuffle: each partition returns its
      // distinct matches, at most one per uploaded file.
      val hashes = keys.map(_._2).distinct
      val stored = ChunkStore.openUser(spark, storeDir, user).fold(Set.empty[String])(
        _.where(col("file_hash").isin(hashes.toIndexedSeq: _*)).select("file_hash").as[String]
          .mapPartitions(_.distinct).collect().toSet)
      val isDup = IngestPipeline.dupFlags(keys.toIndexedSeq, stored)
      val flagged = files.indices.map { i =>
        (files(i)._1, files(i)._2, user, keys(i)._2, isDup(i))
      }.toDF("path", "content", "user", "file_hash", "is_dup")
      // parse once: the classified rows are materialized on the driver,
      // and both the report and the chunk frame are read from them
      val classified = IngestPipeline.classify(flagged)
      val rows = classified.collect().toIndexedSeq
      if (rows.exists(_.getAs[String]("status") == IngestPipeline.Status.Ok))
        ChunkStore.append(IngestPipeline.chunksOf(
          spark.createDataFrame(rows.asJava, classified.schema)), storeDir)
      val n = IngestPipeline.OutcomeColumns.size
      spark.createDataFrame(rows.map(r => Row.fromSeq(r.toSeq.take(n))).asJava,
        StructType(classified.schema.take(n)))
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
    * returns the deleted count (0 = the reference's "No vectors found"). */
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
