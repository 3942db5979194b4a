package graft.props

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileUtil, Path}
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.{forAllNoShrink, propBoolean}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.GraftSession
import graft.ingest.{ChunkRow, IngestPipeline}
import graft.store.ChunkStore

/** An upload's dedup probe has two forms: the footer probe
  * ([[ChunkStore.storedHashes]]) and the Spark scan it replaced, an
  * `isin` filter over the tenant's open ([[ChunkStore.openUser]]). Both
  * give the same hashes on random stores: driver-written files
  * ([[ChunkStore.appendRows]]) mixed with Spark-written ones
  * ([[ChunkStore.append]]) whose files hold many hashes, a skew-bucketed
  * store, a store after [[ChunkStore.deleteBySource]] and one after
  * [[ChunkStore.compact]]; probed for a tenant's own hashes, another
  * tenant's, and hashes nobody stored.
  *
  * The four stores are built once a run from random content; each
  * sample probes one of them and runs one Spark job, the scan. */
object StoredHashesProps extends Properties("StoredHashes") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(40)

  private lazy val spark: SparkSession =
    GraftSession.builder(4).appName("graft-test").getOrCreate()

  private val users = Seq("me@x.com", "o%x=y@z.com")
  // few names and texts: a (user, source) directory gets several
  // contents, so Spark's writer and compaction put many hashes in a file
  private val names = Seq("a.txt", "B.md", "c.txt", "d 100%.csv")
  private val texts = (0 until 10).map(i => s"document text $i")
  private def hash(s: String): String = IngestPipeline.fileHashOf(s.getBytes(StandardCharsets.UTF_8))

  /** One uploaded file's chunk rows, as many as its text's index says. */
  private def chunks(user: String, name: String, text: String): Seq[ChunkRow] = {
    val h = hash(text)
    (0 to text.last.asDigit % 3).map { seq =>
      ChunkRow((user + h + seq).hashCode.toLong, name.toLowerCase, user, "txt", h, seq,
        s"$text, part $seq", Array(seq.toFloat, 1f))
    }
  }

  private val fileGen = Gen.zip(Gen.oneOf(users), Gen.oneOf(names), Gen.oneOf(texts))
  private val batchGen = Gen.chooseNum(1, 6).flatMap(n => Gen.listOfN(n, fileGen))

  private def sample[A](g: Gen[A]): A = Iterator.continually(g.sample).flatten.next()

  private def frame(batch: Seq[(String, String, String)]) = {
    import spark.implicits._
    batch.flatMap((chunks _).tupled).toDF()
  }

  // appendRows takes each (user, source) directory's rows as one run
  private def rows(batch: Seq[(String, String, String)]): Iterator[ChunkRow] =
    batch.sortBy(f => (f._1, f._2.toLowerCase)).flatMap((chunks _).tupled).iterator

  /** (name, store directory): built on first use. */
  private lazy val stores: Seq[(String, String)] = {
    val root = java.nio.file.Files.createTempDirectory("stored-hashes").toString
    val conf = spark.sparkContext.hadoopConfiguration
    val mixed = s"$root/mixed"
    val batches = Seq.fill(3)(sample(batchGen))
    batches.foreach { b =>
      ChunkStore.append(frame(b), mixed)
      ChunkStore.appendRows(spark, rows(sample(batchGen)), mixed)
    }
    val skew = s"$root/skew"
    (1 to 3).foreach(_ => ChunkStore.append(frame(sample(batchGen)), skew, skewBuckets = 3))
    val Seq(deleted, compacted) = Seq("deleted", "compacted").map { n =>
      val dir = new Path(s"$root/$n")
      FileUtil.copy(dir.getFileSystem(conf), new Path(mixed), dir.getFileSystem(conf), dir, false, conf)
      dir.toString
    }
    val (user, name, _) = batches.head.head
    assert(ChunkStore.deleteBySource(spark, deleted, user, name) > 0)
    ChunkStore.compact(spark, compacted)
    Seq("mixed" -> mixed, "skew-bucketed" -> skew, "deleted" -> deleted, "compacted" -> compacted)
  }

  private val probeGen: Gen[(Int, String, Set[String])] = for {
    store <- Gen.chooseNum(0, 3)
    user <- Gen.frequency(4 -> Gen.oneOf(users), 1 -> Gen.const("new@x.com"))
    stored <- Gen.someOf(texts.map(hash))
    absent <- Gen.listOf(Gen.alphaStr.map(hash)).map(_.take(2))
    if stored.nonEmpty || absent.nonEmpty
  } yield (store, user, (stored ++ absent).toSet)

  // no shrinking: every sample runs a Spark job
  property("the footer probe equals the Spark isin probe") =
    forAllNoShrink(probeGen) { case (i, user, hashes) =>
      import spark.implicits._
      val (name, dir) = stores(i)
      val scanned = ChunkStore.openUser(spark, dir, user).fold(Set.empty[String])(
        _.where(col("file_hash").isin(hashes.toSeq: _*)).select("file_hash").as[String]
          .collect().toSet)
      val footers = ChunkStore.storedHashes(spark, dir, user, hashes)
      (footers == scanned) :| s"$name store, $user: footers $footers, scan $scanned"
    }
}
