package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
    * app.py:378-391) is returned. */
  def upload(token: String, files: Seq[(String, Array[Byte])]): Either[Jwt.AuthError, DataFrame] =
    authed(token) { user =>
      import spark.implicits._
      // the outcome report below is collect()ed to the driver — safe only
      // because it is one row PER UPLOADED FILE, never per chunk/row, and
      // the route enforces the same bound an HTTP multipart endpoint would
      // (the reference accepts request-sized batches, app.py:378). Bulk
      // corpus loads go through IngestPipeline/StreamingIngest directly,
      // which never collect.
      require(files.size <= Engine.MaxFilesPerUpload,
        s"upload batch of ${files.size} files exceeds ${Engine.MaxFilesPerUpload}; " +
          "use StreamingIngest for bulk loads")
      val batch = files.toDF("path", "content").withColumn("user", lit(user))
      // The dedup gate's store side, collected up front: the batch's
      // hashes probe only the caller's directory (the key is (user,
      // file_hash) with user fixed to the caller), and at most one row per
      // uploaded file comes back. As local rows, the gate holds no scan
      // of the store, so the append below neither re-lists the tenant's
      // directory to refresh the cached ingest nor lets the dedup join see
      // this batch's own freshly written chunks.
      val hashes = batch.select(IngestPipeline.fileHash).as[String].collect().distinct
      val stored = ChunkStore.openUser(spark, storeDir, user).map(_
        .where(col("file_hash").isin(hashes.toIndexedSeq: _*))
        .select("file_hash").distinct().as[String].collect().toSeq
        .toDF("file_hash").withColumn("user", lit(user)))
      val result = IngestPipeline.ingest(spark, batch, stored)
      try {
        val rows = result.outcomes.collect()
        // any accepted chunks? answered from the collected report — no
        // extra cluster job just to probe emptiness
        if (rows.exists(_.getAs[String]("status") == IngestPipeline.Status.Ok))
          ChunkStore.append(result.chunks, storeDir)
        spark.createDataFrame(
          spark.sparkContext.parallelize(rows.toIndexedSeq), result.outcomes.schema)
      } finally result.release()
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
  /** Upper bound on files per [[Engine.upload]] call — keeps the one-row-
    * per-file outcome collect() a bounded driver allocation (at ~200 bytes
    * a row this is <1 MiB). Request-sized, matching the reference's HTTP
    * multipart route; bulk loads bypass the facade. */
  val MaxFilesPerUpload = 4096
}
