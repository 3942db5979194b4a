package graft.store

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.JobCount
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName

import graft.SparkSpec
import graft.ingest.IngestPipeline

class ChunkStoreSpec extends SparkSpec {
  import spark.implicits._

  private def ingestOne(path: String, user: String, text: String) =
    IngestPipeline.ingest(
      spark,
      Seq((path, user, text.getBytes(StandardCharsets.UTF_8))).toDF("path", "user", "content"),
      None)

  test("append/load/count round-trip with (user, source) partitioning") {
    val dir = tmpDir("store").toString + "/chunks"
    val b1 = ingestOne("/up/one.txt", "a@x.com", (1 to 300).map(i => s"w$i").mkString(" "))
    val b2 = ingestOne("/up/two.txt", "b@y.com", "short doc")
    ChunkStore.append(b1.chunks, dir)
    ChunkStore.append(b2.chunks, dir)
    val total = b1.chunks.count() + b2.chunks.count()
    assert(ChunkStore.count(spark, dir) == total)
    // partition columns survive the round-trip
    val loaded = ChunkStore.load(spark, dir)
    assert(loaded.columns.toSet.contains("user") && loaded.columns.toSet.contains("source"))
    assert(ChunkStore.userScoped(loaded, "a@x.com").count() == b1.chunks.count())
  }

  test("deleteBySource drops exactly that tenant's file and returns the count") {
    val dir = tmpDir("store").toString + "/chunks"
    val b1 = ingestOne("/up/keep.txt", "a@x.com", (1 to 300).map(i => s"k$i").mkString(" "))
    val b2 = ingestOne("/up/Drop.TXT", "a@x.com", (1 to 300).map(i => s"d$i").mkString(" "))
    // same filename, different tenant, different content — must survive
    val b3 = ingestOne("/up/drop.txt", "b@y.com", "other tenant same-named file")
    ChunkStore.append(b1.chunks, dir)
    ChunkStore.append(b2.chunks, dir)
    ChunkStore.append(b3.chunks, dir)
    val nDrop = b2.chunks.count()
    // mixed-case input resolves to the stored lowercase source
    assert(ChunkStore.deleteBySource(spark, dir, "a@x.com", "DROP.txt") == nDrop)
    assert(ChunkStore.count(spark, dir) == b1.chunks.count() + b3.chunks.count())
    // tenant B's same-named file is untouched
    assert(ChunkStore.userScoped(ChunkStore.load(spark, dir), "b@y.com").count() == 1)
    // unknown filename: 0 deleted ("No vectors found")
    assert(ChunkStore.deleteBySource(spark, dir, "a@x.com", "missing.txt") == 0L)
    // another tenant's file is out of reach: 0 deleted, the file stays
    assert(ChunkStore.deleteBySource(spark, dir, "b@y.com", "keep.txt") == 0L)
    assert(ChunkStore.openUser(spark, dir, "a@x.com").get.count() == b1.chunks.count())
  }

  test("compact rewrites many small appends into one file per partition, same rows") {
    val dir = tmpDir("store").toString + "/chunks"
    // simulate a streaming ingest: many tiny appends to the same partitions
    val batches = (1 to 6).map { i =>
      ingestOne(s"/up/f$i.txt", if (i % 2 == 0) "a@x.com" else "b@y.com",
        (1 to 150).map(j => s"w${i}_$j").mkString(" "))
    }
    batches.foreach(b => ChunkStore.append(b.chunks, dir))
    val total = ChunkStore.count(spark, dir)
    val filesBefore = ChunkStore.dataFileCount(spark, dir)
    assert(filesBefore >= 6, s"expected one file per append, saw $filesBefore")

    assert(ChunkStore.compact(spark, dir) == total)

    // 6 distinct (user, source) partitions → exactly 6 files at 1/partition
    assert(ChunkStore.dataFileCount(spark, dir) == 6L)
    assert(ChunkStore.count(spark, dir) == total)
    // content identical, not just counts
    val ids = ChunkStore.load(spark, dir).select("chunk_id").as[Long].collect().sorted.toSeq
    val want = batches.flatMap(_.chunks.select("chunk_id").as[Long].collect()).sorted
    assert(ids == want)
    // store stays functional: tenancy scoping and delete still work
    assert(ChunkStore.deleteBySource(spark, dir, "a@x.com", "f2.txt") > 0)
  }

  test("appendObserved reports single-pass write telemetry matching the data") {
    val dir = tmpDir("store").toString + "/chunks"
    val b1 = ingestOne("/up/a.txt", "a@x.com", (1 to 300).map(i => s"w$i").mkString(" "))
    val b2 = ingestOne("/up/b.txt", "b@y.com", "short doc")
    val all = b1.chunks.unionByName(b2.chunks)
    val (n, users, bytes) = ChunkStore.appendObserved(all, dir)
    assert(n == all.count())
    assert(users == 2L)
    val wantBytes = all.selectExpr("sum(length(text))").head().getLong(0)
    assert(bytes == wantBytes)
    assert(ChunkStore.count(spark, dir) == n)
  }

  test("compact on an empty/missing store is a no-op") {
    val dir = tmpDir("store").toString + "/chunks"
    assert(ChunkStore.compact(spark, dir) == 0L)
  }

  test("a crash between compact's renames auto-recovers on next access") {
    val dir = tmpDir("store").toString + "/chunks"
    val b = ingestOne("/up/a.txt", "a@x.com", (1 to 300).map(i => s"w$i").mkString(" "))
    ChunkStore.append(b.chunks, dir)
    val total = ChunkStore.count(spark, dir)
    // simulate the crash window: live dir staged out, compacted copy never
    // swapped in — the store path is missing, .precompact holds the data
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + ".precompact")))
    // every entry point must see the original store, not an empty one
    assert(!ChunkStore.isEmpty(spark, dir))
    assert(ChunkStore.count(spark, dir) == total)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + ".precompact")))
    // the tenant open and the delete restore it too
    def crash() = assert(fs.rename(new Path(dir), new Path(dir + ".precompact")))
    crash()
    assert(ChunkStore.openUser(spark, dir, "a@x.com").map(_.count()).contains(total))
    crash()
    assert(ChunkStore.deleteBySource(spark, dir, "a@x.com", "a.txt") == total)
    assert(!fs.exists(new Path(dir + ".precompact")))
  }

  test("skew-bucketed store: same rows, pruning intact, delete and compact still work") {
    val dir = tmpDir("store").toString + "/chunks"
    // one giant tenant file — the skew shape skewBuckets exists for
    val big = ingestOne("/up/giant.txt", "whale@x.com",
      (1 to 3000).map(i => s"w$i").mkString(" "))
    val small = ingestOne("/up/tiny.txt", "b@y.com", "short doc")
    ChunkStore.append(big.chunks, dir, skewBuckets = 4)
    ChunkStore.append(small.chunks, dir, skewBuckets = 4)
    val total = big.chunks.count() + small.chunks.count()
    assert(ChunkStore.count(spark, dir) == total)

    // the hot (user, source) directory split across several bucket dirs
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val esc = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName _
    val whaleDir = new org.apache.hadoop.fs.Path(
      dir, s"user=${esc("whale@x.com")}/source=${esc("giant.txt")}")
    val buckets = fs.listStatus(whaleDir).filter(_.isDirectory)
      .map(_.getPath.getName).filter(_.startsWith("bucket="))
    assert(buckets.length >= 2, s"expected multiple buckets, saw ${buckets.toSeq}")

    // retrieval: identical rows, and the tenancy filter still prunes at
    // the partition level (user= is the path prefix above bucket=)
    val loaded = ChunkStore.load(spark, dir)
    val scoped = ChunkStore.userScoped(loaded, "whale@x.com")
    assert(scoped.count() == big.chunks.count())
    val plan = scoped.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("user"), plan)

    // a chunk's bucket is a pure function of chunk_id: the same chunk
    // re-appended lands in the same bucket (no cross-bucket duplicates)
    ChunkStore.append(big.chunks, dir, skewBuckets = 4)
    val perBucket = ChunkStore.load(spark, dir)
      .filter($"user" === "whale@x.com")
      .groupBy($"chunk_id").agg(
        org.apache.spark.sql.functions.countDistinct($"bucket").as("nb"))
      .filter($"nb" > 1).count()
    assert(perBucket == 0, "a re-appended chunk changed bucket")

    // a mismatched append fails loudly at write time, not at a later read
    val e = intercept[IllegalArgumentException] {
      ChunkStore.append(small.chunks, dir) // default skewBuckets = 1
    }
    assert(e.getMessage.contains("fork the directory schema"))

    // the tenant open keeps the bucket level beside the pinned schema
    val own = ChunkStore.openUser(spark, dir, "whale@x.com").get
    assert(own.columns.takeRight(3).toSeq == Seq("user", "source", "bucket"))
    assert(own.count() == 2 * big.chunks.count())

    // compact preserves the bucket level; delete drops the whole tenant file
    ChunkStore.compact(spark, dir)
    assert(fs.listStatus(whaleDir).exists(_.getPath.getName.startsWith("bucket=")))
    assert(ChunkStore.deleteBySource(spark, dir, "whale@x.com", "giant.txt") ==
      2 * big.chunks.count())
    assert(ChunkStore.count(spark, dir) == small.chunks.count())
  }

  test("deleteBySource handles sources needing Hive partition escaping") {
    val dir = tmpDir("store").toString + "/chunks"
    val b = ingestOne("/up/100%done.txt", "a@x.com", "tricky partition name")
    ChunkStore.append(b.chunks, dir)
    assert(ChunkStore.deleteBySource(spark, dir, "a@x.com", "100%done.txt") == 1L)
    assert(ChunkStore.count(spark, dir) == 0L)
  }

  test("openUser reads one tenant with the pinned schema; a tenant with no files is None") {
    val dir = tmpDir("store").toString + "/chunks"
    val a = ingestOne("/up/one.txt", "a@x.com", (1 to 300).map(i => s"w$i").mkString(" "))
    val b = ingestOne("/up/two.txt", "b@y.com", "short doc")
    ChunkStore.append(a.chunks, dir)
    ChunkStore.append(b.chunks, dir)
    // other tenants hold data, this one none: no store to open
    assert(ChunkStore.openUser(spark, dir, "new@z.com").isEmpty)
    val own = ChunkStore.openUser(spark, dir, "a@x.com").get
    assert(own.count() == a.chunks.count())
    assert(own.select("user").distinct().as[String].collect().toSeq == Seq("a@x.com"))
    // the pinned schema is exactly what footer inference would find:
    // data columns first, then the partition columns
    val inferred = spark.read.option("basePath", dir).parquet(dir).schema
    def shape(st: org.apache.spark.sql.types.StructType) =
      st.fields.map(f => f.name -> f.dataType.simpleString).toSeq
    assert(shape(ChunkStore.load(spark, dir).schema) == shape(inferred))
    assert(shape(own.schema) == shape(inferred))
    assert(own.columns.takeRight(2).toSeq == Seq("user", "source"))
  }

  test("a tenant open and a delete run no Spark job") {
    val dir = tmpDir("store").toString + "/chunks"
    // 20 files for the tenant: below the 32-path parallel-listing threshold
    (1 to 20).foreach { i =>
      ChunkStore.append(ingestOne(s"/up/f$i.txt", "a@x.com", s"document number $i").chunks, dir)
    }
    ChunkStore.append(ingestOne("/up/other.txt", "b@y.com", "another tenant").chunks, dir)
    val sc = spark.sparkContext
    val (opened, openJobs) = JobCount.of(sc)(ChunkStore.openUser(spark, dir, "a@x.com"))
    assert(opened.isDefined)
    assert(openJobs == 0, s"openUser ran $openJobs Spark jobs")
    val (deleted, deleteJobs) =
      JobCount.of(sc)(ChunkStore.deleteBySource(spark, dir, "a@x.com", "f7.txt"))
    assert(deleted == 1L)
    assert(deleteJobs == 0, s"deleteBySource ran $deleteJobs Spark jobs")
    // the counter sees the job a schema-inferring open of the same
    // directory runs — the job the pinned schema removes
    val userDir = new Path(dir, s"user=${escapePathName("a@x.com")}").toString
    val (_, inferJobs) =
      JobCount.of(sc)(spark.read.option("basePath", dir).parquet(userDir))
    assert(inferJobs >= 1, "schema inference ran no job: the counter is blind")
  }

  /** Classified rows of a mixed batch: two tenants, a multi-chunk file, a
    * name needing Hive escaping, and two files sharing one source. */
  private def classifiedBatch() = {
    val long = (1 to 400).map(i => s"word$i").mkString(" ")
    Seq(
      ("/up/a.txt", "a@x.com", long),
      ("/up/Notes.MD", "a@x.com", "# notes\n\nmarkdown body " + ("pad " * 30)),
      ("/up/100%done.txt", "a@x.com", "tricky partition name"),
      ("/up/two.txt", "b@y.com", "short doc"),
      ("/other/two.txt", "b@y.com", "another short doc under the same name"),
      ("/up/raw.zip", "b@y.com", "not stored"))
      .map { case (p, u, t) => (p, u, t.getBytes(StandardCharsets.UTF_8)) }
      .toDF("path", "user", "content")
      .transform(df => IngestPipeline.classify(IngestPipeline.gate(df, None)))
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame) =
    df.select("chunk_id", "user", "source", "type", "file_hash", "chunk_seq", "text", "embedding")
      .as[(Long, String, String, String, String, Int, String, Array[Float])].collect()
      .map(r => r.copy(_8 = r._8.toSeq)).sortBy(r => (r._1, r._2)).toSeq

  test("driver-written rows read back as Spark-written ones") {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val root = tmpDir("store").toString
    val (bySpark, byDriver) = (root + "/spark", root + "/driver")
    val classified = classifiedBatch()
    ChunkStore.append(IngestPipeline.chunksOf(classified), bySpark)
    val collected = classified.collect().toSeq
    val (_, jobs) = JobCount.of(spark.sparkContext)(
      ChunkStore.appendRows(spark, IngestPipeline.chunkRows(spark, collected), byDriver))
    assert(jobs == 0, s"the driver write ran $jobs Spark jobs")

    val want = rowsOf(ChunkStore.load(spark, bySpark))
    assert(want.map(_._3).toSet == Set("a.txt", "notes.md", "100%done.txt", "two.txt"))
    assert(rowsOf(ChunkStore.load(spark, byDriver)) == want)
    assert(ChunkStore.count(spark, byDriver) == want.size)
    Seq("a@x.com", "b@y.com").foreach { u =>
      assert(rowsOf(ChunkStore.openUser(spark, byDriver, u).get) ==
        rowsOf(ChunkStore.openUser(spark, bySpark, u).get))
    }
    // one file per (user, source), the two same-named files included
    assert(ChunkStore.dataFileCount(spark, byDriver) == 4L)
    // the same file schema, and the same schema under inference
    val conf = spark.sparkContext.hadoopConfiguration
    def fileSchema(dir: String) = {
      val f = new Path(dir, s"user=${escapePathName("a@x.com")}/source=a.txt")
      val st = f.getFileSystem(conf).listStatus(f).filter(_.getPath.getName.endsWith(".parquet")).head
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
      try r.getFooter.getFileMetaData.getSchema finally r.close()
    }
    assert(fileSchema(byDriver) == fileSchema(bySpark))
    def inferred(dir: String) = spark.read.option("basePath", dir).parquet(dir).schema
    assert(inferred(byDriver) == inferred(bySpark))
    // deleteBySource's footer count equals what a Spark scan counts
    assert(ChunkStore.deleteBySource(spark, byDriver, "b@y.com", "TWO.txt") == 2L)
    assert(ChunkStore.deleteBySource(spark, bySpark, "b@y.com", "two.txt") == 2L)
    assert(rowsOf(ChunkStore.load(spark, byDriver)) == rowsOf(ChunkStore.load(spark, bySpark)))

    // compaction rewrites driver-written files into the same rows
    val before = rowsOf(ChunkStore.load(spark, byDriver))
    assert(ChunkStore.compact(spark, byDriver) == before.size)
    assert(rowsOf(ChunkStore.load(spark, byDriver)) == before)

    // StreamingIngest's chunk-level dedup sees driver-written chunk ids:
    // a replay of the stored files plus one new file appends the new one only
    val landing = tmpDir("store-landing").toString
    Seq(("/up/a.txt", "a@x.com", (1 to 400).map(i => s"word$i").mkString(" ")),
      ("/up/fresh.txt", "a@x.com", "a fresh streamed document"))
      .map { case (p, u, t) => (p, u, t.getBytes(StandardCharsets.UTF_8)) }
      .toDF("path", "user", "content").write.mode("append").parquet(landing)
    Seq(byDriver, bySpark).foreach { dir =>
      graft.streaming.StreamingIngest.start(spark, landing, dir, s"$dir.ck").awaitTermination()
    }
    val streamed = rowsOf(ChunkStore.load(spark, byDriver))
    assert(streamed.size == before.size + 1)
    assert(streamed == rowsOf(ChunkStore.load(spark, bySpark)))
    val sources = ChunkStore.load(spark, byDriver).select("source").distinct().as[String]
    assert(sources.collect().sorted.toSeq == Seq("100%done.txt", "a.txt", "fresh.txt", "notes.md"))
  }

  test("a driver write that fails mid-upload leaves the store as it was") {
    val dir = tmpDir("store").toString + "/chunks"
    ChunkStore.append(ingestOne("/up/kept.txt", "a@x.com", "a file stored before").chunks, dir)
    val before = rowsOf(ChunkStore.load(spark, dir))
    val filesBefore = ChunkStore.dataFileCount(spark, dir)
    val rows = IngestPipeline.chunkRows(spark, classifiedBatch().collect().toSeq).toSeq
    val firstRun = rows.takeWhile(r => (r.user, r.source) == (rows.head.user, rows.head.source))
    // the writer fails inside the second file, after the first file closed
    val failing = rows.iterator.take(firstRun.size + 1) ++
      Iterator.fill(1)(throw new java.io.IOException("injected write failure"))
    val e = intercept[java.io.IOException](ChunkStore.appendRows(spark, failing, dir))
    assert(e.getMessage == "injected write failure")
    assert(rowsOf(ChunkStore.load(spark, dir)) == before)
    assert(ChunkStore.dataFileCount(spark, dir) == filesBefore)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(dir,
      s"user=${escapePathName(rows.head.user)}/source=${escapePathName(rows.head.source)}")))
    val staging = new Path(dir + ".staging")
    assert(!fs.exists(staging) || fs.listStatus(staging).isEmpty, "a staging directory was left behind")
    // the store takes the same rows once the writer works
    ChunkStore.appendRows(spark, rows.iterator, dir)
    assert(ChunkStore.count(spark, dir) == before.size + rows.size)
  }
}
