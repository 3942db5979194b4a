package graft.props

import java.nio.charset.StandardCharsets

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAllNoShrink

import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.ingest.IngestPipeline

/** The upload dedup rule has two forms: the window + join gate of bulk
  * ingest ([[IngestPipeline.gate]]) and the driver-side flags of a
  * request-sized upload ([[IngestPipeline.dupFlags]]). On random batches
  * of one tenant (repeated bytes; unsorted, repeated and non-ASCII paths;
  * identical bytes under an unsupported or blank name; hashes stored by
  * the tenant and by another tenant) both give every row the same
  * `is_dup`. */
object DedupProps extends Properties("Dedup") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(40)

  private lazy val spark: SparkSession =
    GraftSession.builder(4).appName("graft-test").getOrCreate()

  private val user = "me@x.com"
  private val other = "other@y.com"
  // few contents and names, so hashes and paths repeat; "" and " \n" are blank
  private val contents = Seq("alpha", "beta", "", " \n", "alpha beta")
  private val names = Seq("a.txt", "B.txt", "c.zip", "d.md", "e.pdf", "a.txt ", "z.txt")
  // these two order one way as UTF-16 and the other as UTF-8 bytes
  private val unicode = Seq("\uE000.txt", "\uD83D\uDE00.txt")
  private def hash(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8)).map("%02x".format(_)).mkString

  private val batchGen: Gen[Seq[(String, String)]] = Gen.chooseNum(1, 8).flatMap(n =>
    Gen.listOfN(n, Gen.zip(Gen.frequency(2 -> Gen.oneOf(names), 1 -> Gen.oneOf(unicode))
      .map("/up/" + _), Gen.oneOf(contents))))
  private val storedGen: Gen[Seq[(String, String)]] = Gen.someOf(
    contents.map(c => (user, hash(c))) ++ contents.map(c => (other, hash(c)))).map(_.toSeq)

  // no shrinking: every sample runs a Spark job, and a shrink of a
  // falsified batch would run hundreds more before reporting it
  property("the driver-side flags equal the window + join gate's") =
    forAllNoShrink(batchGen, storedGen) { (batch, stored) =>
      import spark.implicits._
      val files = batch.map { case (p, c) => (p, user, c.getBytes(StandardCharsets.UTF_8)) }
        .toDF("path", "user", "content")
      val store = if (stored.isEmpty) None else Some(stored.toDF("user", "file_hash"))
      val gated = IngestPipeline.gate(files, store)
        .select("path", "file_hash", "is_dup").as[(String, String, Boolean)].collect().sorted.toSeq
      val keys = batch.map { case (p, c) => (p, hash(c)) }
      val mine = stored.collect { case (`user`, h) => h }.toSet
      val driver = keys.zip(IngestPipeline.dupFlags(keys, mine))
        .map { case ((p, h), d) => (p, h, d) }.sorted
      gated == driver
    }
}
