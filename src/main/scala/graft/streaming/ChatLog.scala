package graft.streaming

import java.io.IOException
import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** The chat log — the reference's append-only history write
  * (its app.py:436-443) as one parquet file per turn.
  *
  * Shape: [[append]] writes each turn on the driver as one small parquet
  * file in [[landingDir]] and publishes it with a rename, so a turn is
  * visible exactly once, whole, as soon as `append` returns — read-your-
  * write with no Spark job, no stream and no checkpoint on the chat path.
  * Concurrent writers need no coordination: every call writes its own
  * uniquely named file. [[read]] reads that directory with the pinned
  * [[schema]].
  *
  * Logs written by relay-era engines read back complete without
  * migration: those engines landed every turn in the same directory (as
  * Spark-written files, INT96 `ts`) and their relay only copied turns out
  * of it, never deleting one. The copies under `logDir` itself are not
  * read.
  *
  * 100 TB note: the log grows by one small file per turn, like the
  * reference's per-request append; compacting it is left to an offline
  * rewrite.
  */
object ChatLog {

  val schema = Encoders.product[Streams.ChatRecord].schema

  /** Parquet schema of a turn file: [[schema]] with `ts` as INT64
    * microseconds since the epoch, UTC-adjusted (read back as
    * TimestampType). */
  private val fileSchema = MessageTypeParser.parseMessageType(
    """message chat_turn {
      |  optional int64 ts (TIMESTAMP(MICROS,true));
      |  optional binary user (STRING);
      |  optional binary question (STRING);
      |  optional binary answer (STRING);
      |}""".stripMargin)

  /** The directory that holds every turn of the log at `logDir`. */
  def landingDir(logDir: String): String = logDir + ".landing"
  def checkpointDir(logDir: String): String = logDir + ".checkpoint"

  /** Relay query name, unique per log directory: a second relay over the
    * SAME log is rejected by the streaming manager's name check (two
    * relays sharing a checkpoint would corrupt it). The full path is
    * embedded verbatim, so the name→dir mapping is injective. */
  def relayName(logDir: String): String = "chat-log-relay:" + logDir

  /** Durably log one chat turn: write it on the driver as
    * `_part-<uuid>.parquet` (hidden from readers), then rename it to
    * `part-<uuid>.parquet`. Null fields are omitted (read back as null). */
  def append(spark: SparkSession, logDir: String, user: String, question: String,
      answer: String, tsMicros: Long): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(landingDir(logDir))
    val fs = dir.getFileSystem(conf)
    val name = s"part-${UUID.randomUUID()}.parquet"
    val tmp = new Path(dir, "_" + name)
    val turn = new SimpleGroup(fileSchema)
    turn.add("ts", tsMicros)
    Seq("user" -> user, "question" -> question, "answer" -> answer)
      .foreach { case (field, v) => if (v != null) turn.add(field, v) }
    try {
      val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(tmp, conf))
        .withConf(conf).withType(fileSchema).build()
      try writer.write(turn) finally writer.close()
      if (!fs.rename(tmp, new Path(dir, name)))
        throw new IOException(s"could not publish chat turn $tmp")
    } catch {
      case e: Throwable => fs.delete(tmp, false); throw e
    }
  }

  /** A landing → `logDir` file-stream relay, as relay-era engines ran it
    * per turn. Nothing in the engine starts it: it remains only for the
    * journey benchmark's traced routes, which still flush it, and goes
    * when they do. Its output under `logDir` is not what [[read]] reads. */
  def relay(spark: SparkSession, logDir: String): StreamingQuery =
    Streams.appendSink(
      spark.readStream.schema(schema).parquet(landingDir(logDir)),
      logDir, checkpointDir(logDir), queryName = relayName(logDir))

  /** Every turn logged at `logDir`, each once. */
  def read(spark: SparkSession, logDir: String): DataFrame =
    spark.read.schema(schema).parquet(landingDir(logDir))
}
