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
      // the dedup key is (user, file_hash) with user fixed to the caller,
      // so only the caller's partitions can match — open only the caller's
      // directory as the gate's store side
      val result = IngestPipeline.ingest(spark, batch, ChunkStore.openUser(spark, storeDir, user))
      try {
        // Materialize outcomes BEFORE the append: the dedup join re-reads
        // the store on evaluation, and an evaluation after the append
        // would see this batch's own freshly-written chunks — marking the
        // upload a duplicate of itself (read-your-own-write).
        val rows = result.outcomes.collect()
        // any accepted chunks? answered from the collected report — no
        // extra cluster job just to probe emptiness
        if (rows.exists(_.getAs[String]("status") == IngestPipeline.Status.Ok))
          ChunkStore.append(result.chunks, storeDir)
        spark.createDataFrame(
          spark.sparkContext.parallelize(rows.toIndexedSeq), result.outcomes.schema)
      } finally result.release()
    }

  /** The chat-log relay (landing → canonical log on Structured
    * Streaming): started on first chat, resumed from its checkpoint if a
    * previous engine instance over the same dirs already committed
    * turns — restart replays nothing (see [[graft.streaming.ChatLog]]).
    * Re-resolved per call rather than cached: after shutdown() a stopped
    * query's processAllAvailable() returns immediately, which would
    * silently strand turns in the landing dir. */
  private def chatRelay: org.apache.spark.sql.streaming.StreamingQuery = this.synchronized {
    spark.streams.active.find(_.name == ChatLog.relayName(chatLogDir))
      .getOrElse(ChatLog.relay(spark, chatLogDir))
  }

  /** POST /chat — retrieve top-13 for the question WITHIN the caller's
    * tenant (fixing app.py:409's cross-user leakage; Rag.retrieve's user
    * filter stays as a second guard over the tenant open), assemble the
    * grounded prompt, append the chat log through the streaming sink.
    * The LLM completion itself is an external boundary; the prompt is
    * the engine's product. */
  def chat(token: String, question: String): Either[Jwt.AuthError, String] =
    authed(token) { user =>
      val p = ChunkStore.openUser(spark, storeDir, user)
        .fold(Rag.prompt(question, ""))(Rag.ask(_, question, user))
      ChatLog.append(spark, chatLogDir, user, question, p, now() * 1000000L)
      // flush for read-your-write facade semantics; production leaves the
      // relay draining asynchronously
      chatRelay.processAllAvailable()
      p
    }

  /** Stop the chat-log relay (the checkpoint makes a later restart
    * seamless). */
  def shutdown(): Unit =
    spark.streams.active.filter(_.name == ChatLog.relayName(chatLogDir)).foreach(_.stop())

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
