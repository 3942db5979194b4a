package graft.api

import java.nio.charset.StandardCharsets

import graft.SparkSpec
import graft.auth.Jwt
import graft.rag.Rag
import graft.store.ChunkStore
import graft.streaming.ChatLog

/** End-to-end journey through the facade — the complete reference
  * workflow (login → upload → chat → delete) with the behaviors the
  * reference gets wrong done right: tenant isolation in retrieval,
  * per-tenant dedup and delete. */
class EngineSpec extends SparkSpec {
  import spark.implicits._

  private def bytes(s: String) = s.getBytes(StandardCharsets.UTF_8)

  test("full journey: two tenants upload, chat stays tenant-scoped, delete is tenant-scoped") {
    val storeDir = tmpDir("engine").toString + "/chunks"
    val chatDir = tmpDir("engine").toString + "/chat"
    var clock = 1700000000L
    val engine = new Engine(spark, storeDir, chatDir, "s3cret", () => clock)

    val alice = engine.login("alice@x.com")
    val bob = engine.login("bob@y.com")

    // upload: alice has a searchable doc + a dup + an unsupported file
    val up1 = engine.upload(alice, Seq(
      "/up/guide.txt" -> bytes("the warranty period is twelve months from purchase " + ("pad " * 50)),
      "/up/guide_copy.txt" -> bytes("the warranty period is twelve months from purchase " + ("pad " * 50)),
      "/up/raw.zip" -> bytes("zipzip"))).toOption.get
    val statuses = up1.select("path", "status").as[(String, String)].collect().toMap
    assert(statuses("/up/guide.txt") == "ok")
    assert(statuses("/up/guide_copy.txt") == "duplicate")
    assert(statuses("/up/raw.zip") == "unsupported_type")

    // bob's identical bytes are HIS OWN upload (tenant-scoped dedup)
    val up2 = engine.upload(bob, Seq(
      "/up/guide.txt" -> bytes("the warranty period is twelve months from purchase " + ("pad " * 50)))).toOption.get
    assert(up2.select("status").as[String].collect().toSeq == Seq("ok"))
    val total = engine.count()
    assert(total > 0)

    // chat: both tenants get a grounded prompt from their own store
    val answer = engine.chat(alice, "what is the warranty period").toOption.get
    assert(answer.contains("warranty period"))
    assert(answer.contains("Question: what is the warranty period"))
    // chat log appended per call
    engine.chat(bob, "warranty?").toOption.get
    assert(ChatLog.read(spark, chatDir).count() == 2)

    // delete: alice's filename; bob's same-named file survives
    val deleted = engine.delete(alice, "guide.txt").toOption.get
    assert(deleted > 0)
    assert(engine.delete(alice, "missing.txt").toOption.get == 0L)
    assert(engine.count() == total - deleted)
    assert(engine.chat(bob, "still there?").isRight)

    // auth surface: expired and forged tokens are rejected with the
    // reference's error taxonomy
    clock += 4000 // past the 1h TTL
    assert(engine.chat(alice, "late").swap.toOption.contains(Jwt.Expired))
    assert(engine.upload("not.a.token", Seq()).swap.toOption.contains(Jwt.Invalid))
  }

  test("deleting the last document leaves a usable engine, not a bricked store") {
    val storeDir = tmpDir("engine").toString + "/chunks"
    val chatDir = tmpDir("engine").toString + "/chat"
    val engine = new Engine(spark, storeDir, chatDir, "s3cret", () => 1700000000L)
    val t = engine.login("solo@x.com")
    engine.upload(t, Seq("/up/only.txt" -> bytes("the single document " + ("pad " * 40)))).toOption.get
    assert(engine.count() > 0)
    assert(engine.delete(t, "only.txt").toOption.get > 0)
    assert(engine.count() == 0)
    // the store dir still exists but holds no data files; every route
    // must keep working (chat answers from empty context, upload accepts)
    assert(engine.chat(t, "anything there?").toOption.get.contains("I don't know")
      || engine.chat(t, "anything there?").isRight)
    val re = engine.upload(t, Seq("/up/only.txt" -> bytes("fresh content " + ("pad " * 40)))).toOption.get
    assert(re.select("status").as[String].head() == "ok")
    assert(engine.count() > 0)
  }

  test("the chat log holds every turn at once and across an engine restart, none twice") {
    val storeDir = tmpDir("engine").toString + "/chunks"
    val chatDir = tmpDir("engine").toString + "/chat"
    var clock = 1700000000L
    val e1 = new Engine(spark, storeDir, chatDir, "s3cret", () => clock)
    val t1 = e1.login("replay@x.com")
    e1.chat(t1, "first turn").toOption.get
    assert(ChatLog.read(spark, chatDir).count() == 1, "a turn is readable when chat returns")
    clock += 1
    e1.chat(t1, "second turn").toOption.get
    assert(ChatLog.read(spark, chatDir).count() == 2)
    assert(spark.streams.active.isEmpty, "chat must start no stream")
    e1.shutdown()

    // a new engine over the same dirs appends; nothing is replayed
    val e2 = new Engine(spark, storeDir, chatDir, "s3cret", () => clock + 1)
    val t2 = e2.login("replay@x.com")
    e2.chat(t2, "third turn").toOption.get
    assert(spark.streams.active.isEmpty)
    val log = ChatLog.read(spark, chatDir)
    assert(log.count() == 3, "restart must neither duplicate nor drop turns")
    assert(log.select("question").distinct().count() == 3)
    e2.shutdown()
  }

  test("a relay-era log reads back complete") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.functions.{col, timestamp_micros, unix_micros}
    val chatDir = tmpDir("engine").toString + "/chat"
    val landing = new Path(ChatLog.landingDir(chatDir))
    val fs = landing.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def tsTypes(): Set[String] = fs.listStatus(landing).map(_.getPath)
      .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet")).map { p =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, spark.sparkContext.hadoopConfiguration))
        try r.getFooter.getFileMetaData.getSchema.getType(Seq("ts"): _*).asPrimitiveType.getPrimitiveTypeName.name
        finally r.close()
      }.toSet
    // turns as relay-era engines landed them: one Spark write job each
    val old = Seq(("old one", 1700000000123456L), ("old two", 1700000001654321L))
    old.foreach { case (q, us) =>
      Seq((us, "a@x.com", q, "ans")).toDF("ts_us", "user", "question", "answer")
        .select(timestamp_micros(col("ts_us")).as("ts"), col("user"), col("question"), col("answer"))
        .write.mode("append").parquet(landing.toString)
    }
    assert(tsTypes() == Set("INT96"), "Spark's default parquet timestamp is INT96")
    // the relay ran once over them, leaving its output and checkpoint on disk
    val relay = ChatLog.relay(spark, chatDir)
    try relay.processAllAvailable() finally { relay.stop(); relay.awaitTermination() }
    assert(fs.exists(new Path(chatDir)) && fs.exists(new Path(ChatLog.checkpointDir(chatDir))))

    val fresh = Seq(("new one", 1700000002000001L), ("new two", 1700000003999999L))
    fresh.foreach { case (q, us) => ChatLog.append(spark, chatDir, "a@x.com", q, "ans", us) }
    assert(tsTypes() == Set("INT96", "INT64"))
    val got = ChatLog.read(spark, chatDir)
      .select(col("question"), unix_micros(col("ts"))).as[(String, Long)].collect()
    assert(got.sorted.toSeq == (old ++ fresh).sorted, "every turn once, with its exact ts")
  }

  test("concurrent chats on two threads into one log lose and duplicate nothing") {
    val storeDir = tmpDir("engine").toString + "/chunks"
    val chatDir = tmpDir("engine").toString + "/chat"
    val engine = new Engine(spark, storeDir, chatDir, "s3cret", () => 1700000000L)
    val perThread = 4
    val questions = (0 until 2).map(t => (0 until perThread).map(i => s"thread $t turn $i"))
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = questions.zipWithIndex.map { case (qs, t) =>
      val token = engine.login(s"t$t@x.com")
      new Thread(() =>
        try qs.foreach(q => engine.chat(token, q).toOption.get)
        catch { case e: Throwable => failures.add(e): Unit })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(failures.isEmpty, failures.toString)
    assert(spark.streams.active.isEmpty)
    val logged = ChatLog.read(spark, chatDir).select("question").as[String].collect()
    assert(logged.sorted.toSeq == questions.flatten.sorted)
  }

  test("an upload's append re-lists no tenant directory") {
    import org.apache.spark.JobCount
    val storeDir = tmpDir("engine").toString + "/chunks"
    val chatDir = tmpDir("engine").toString + "/chat"
    val engine = new Engine(spark, storeDir, chatDir, "s3cret", () => 1700000000L)
    val t = engine.login("big@x.com")
    // 36 files: past the 32-path parallel-listing threshold, so every
    // listing of the tenant's directory is a Spark job
    def doc(i: Int) = bytes(s"document number $i " + ("pad " * 20))
    engine.upload(t, (1 to 36).map(i => s"/up/f$i.txt" -> doc(i))).toOption.get
    val (statuses, listings) = JobCount.of(spark.sparkContext, _.startsWith("Listing leaf files")) {
      engine.upload(t, Seq("/up/new.txt" -> doc(37), "/up/again.txt" -> doc(5))).toOption.get
        .select("path", "status").as[(String, String)].collect().toMap
    }
    assert(statuses == Map("/up/new.txt" -> "ok", "/up/again.txt" -> "duplicate"))
    assert(listings == 0, s"the probe walks the tenant on the driver; the upload listed $listings times")
    assert(engine.count() == 37)
  }

  test("an upload runs no Spark job or SQL execution") {
    import org.apache.spark.JobCount
    val storeDir = tmpDir("engine").toString + "/chunks"
    val chatDir = tmpDir("engine").toString + "/chat"
    val engine = new Engine(spark, storeDir, chatDir, "s3cret", () => 1700000000L)
    def doc(i: Int) = bytes(s"document number $i " + ("pad " * 20))
    def upload(t: String, files: Seq[(String, Array[Byte])], what: String) = {
      val (report, jobs, executions) = JobCount.withExecutions(spark)(engine.upload(t, files).toOption.get)
      assert(jobs == 0, s"$what ran $jobs jobs")
      assert(executions == 0, s"$what ran $executions SQL executions")
      report.select("path", "status").as[(String, String)].collect().toMap
    }
    val mixed = Seq("/up/new.txt" -> doc(100), "/up/again.txt" -> doc(3),
      "/up/blank.txt" -> bytes(" \n\t "), "/up/raw.zip" -> bytes("zipzip"))
    val mixedWant = Map("/up/new.txt" -> "ok", "/up/again.txt" -> "duplicate",
      "/up/blank.txt" -> "no_content", "/up/raw.zip" -> "unsupported_type")

    val six = engine.login("six@x.com")
    // a new tenant: nothing to probe
    val (first, _, _) = JobCount.withExecutions(spark)(engine.upload(six, Seq("/up/f1.txt" -> doc(1))).toOption.get)
    // the counter sees executions: collecting the report is one, with no job
    val (firstStatus, reportJobs, reportExecutions) =
      JobCount.withExecutions(spark)(first.select("status").as[String].collect().toSeq)
    assert(firstStatus == Seq("ok"))
    assert(reportJobs == 0 && reportExecutions == 1,
      s"collecting the report ran $reportJobs jobs and $reportExecutions executions")
    assert(upload(six, (2 to 6).map(i => s"/up/f$i.txt" -> doc(i)), "a new tenant's upload")
      .values.toSet == Set("ok"))
    assert(upload(six, mixed, "a 6-file tenant's upload") == mixedWant)
    // nothing accepted
    assert(upload(six, Seq("/up/copy.txt" -> doc(1)), "an all-duplicate upload") ==
      Map("/up/copy.txt" -> "duplicate"))

    // 36 files: past the 32-path threshold at which Spark's listing of the
    // tenant's directory becomes a job of its own
    val big = engine.login("big@x.com")
    assert(upload(big, (1 to 36).map(i => s"/up/f$i.txt" -> doc(i)), "a new tenant's upload")
      .values.toSet == Set("ok"))
    assert(upload(big, mixed, "a 36-file tenant's upload") == mixedWant)
    assert(upload(big, Seq("/up/copy.txt" -> doc(36)), "an all-duplicate upload") ==
      Map("/up/copy.txt" -> "duplicate"))
    assert(engine.count() == 6 + 1 + 36 + 1)
  }

  /** Upload `name` under a directory, check its source against the bulk
    * path's expression evaluated by Spark, then chat over it and delete
    * it by its original spelling. */
  private def roundTrip(name: String): Unit = {
    import org.apache.spark.sql.functions.{col, element_at, lower, split}
    val storeDir = tmpDir("engine").toString + "/chunks"
    val chatDir = tmpDir("engine").toString + "/chat"
    val engine = new Engine(spark, storeDir, chatDir, "s3cret", () => 1700000000L)
    val user = "names@x.com"
    val t = engine.login(user)
    val path = "/up/Some=Dir%/" + name
    val up = engine.upload(t, Seq(path -> bytes("the quokka warranty lasts seven years " + ("pad " * 40))))
      .toOption.get.select("source", "status").as[(String, String)].head()
    val want = Seq(path).toDF("path").select(lower(element_at(split(col("path"), "/"), -1)))
      .as[String].head()
    assert(up == (want, "ok"))
    assert(ChunkStore.openUser(spark, storeDir, user).get.select("source").distinct()
      .as[String].collect().toSeq == Seq(want))
    assert(engine.chat(t, "how long is the quokka warranty?").toOption.get.contains("seven years"))
    assert(engine.delete(t, name).toOption.get > 0)
    assert(engine.count() == 0)
  }

  test("a filename with mixed case, % and = round-trips upload, chat and delete") {
    roundTrip("Mixed CASE 100%=Done.TXT")
  }

  test("a filename with non-ASCII letters round-trips upload, chat and delete") {
    val name = "Ünïcode ÇA Straße 100%=Déjà Vu.TXT"
    // the source is a directory name: a JVM whose file-name charset cannot
    // encode it (an ASCII locale) cannot store it as written
    val nameCharset = java.nio.charset.Charset.forName(System.getProperty("sun.jnu.encoding"))
    assume(nameCharset.newEncoder().canEncode(name), s"file names are encoded as $nameCharset")
    roundTrip(name)
  }

  test("an upload reports and stores exactly what IngestPipeline.ingest and ChunkStore.append give") {
    import org.apache.spark.sql.functions.col
    import graft.ingest.IngestPipeline
    val root = tmpDir("engine").toString
    val engine = new Engine(spark, root + "/chunks", root + "/chat", "s3cret", () => 1700000000L)
    val user = "every@x.com"
    val t = engine.login(user)
    val stored = "/up/kept.txt" -> bytes("a file stored before the batch " + ("pad " * 30))
    val long = (1 to 400).map(i => s"word$i").mkString(" ")
    val batch = Seq(
      "/up/new.txt" -> bytes(long),                            // ok, several chunks
      "/up/again.txt" -> stored._2,                            // duplicate of a stored file
      "/up/z_copy.txt" -> bytes(long),                         // duplicate within the batch
      "/up/blank.txt" -> bytes(" \n\t "),                      // no_content
      "/up/blank_copy.txt" -> bytes(" \n\t "),                 // a blank duplicate is no_content
      "/up/a.zip" -> bytes("zipped bytes " + ("pad " * 30)),   // unsupported_type ...
      "/up/b.txt" -> bytes("zipped bytes " + ("pad " * 30)),   // ... whose bytes still win the hash
      "/up/slides.pdf" -> bytes("not a pdf at all"),           // parse_error
      "/up/Notes.MD" -> bytes("# notes\n\nmarkdown body " + ("pad " * 30)))
    engine.upload(t, Seq(stored)).toOption.get
    val report = engine.upload(t, batch).toOption.get

    val refDir = root + "/reference"
    def rows(fs: Seq[(String, Array[Byte])]) =
      fs.map { case (p, c) => (p, user, c) }.toDF("path", "user", "content")
    val first = IngestPipeline.ingest(spark, rows(Seq(stored)), None)
    ChunkStore.append(first.chunks, refDir)
    first.release()
    val want = IngestPipeline.ingest(spark, rows(batch), Some(ChunkStore.load(spark, refDir)))
    val wantReport = want.outcomes.collect()
    ChunkStore.append(want.chunks, refDir)
    want.release()

    assert(report.schema == want.outcomes.schema)
    assert(report.collect().sortBy(_.getString(0)).toSeq == wantReport.sortBy(_.getString(0)).toSeq)
    assert(wantReport.map(_.getAs[String]("status")).toSet == Set(
      "ok", "duplicate", "no_content", "unsupported_type", "parse_error"))
    assert(report.where(col("path") === "/up/blank_copy.txt").select("status").as[String].head() ==
      "no_content")
    def chunks(dir: String) = ChunkStore.openUser(spark, dir, user).get
      .select("chunk_id", "text", "embedding").as[(Long, String, Array[Float])].collect()
      .map { case (id, text, e) => (id, text, e.toSeq) }.sortBy(_._1).toSeq
    val got = chunks(root + "/chunks")
    assert(got.size > 3)
    assert(got == chunks(refDir))
  }

  test("concurrent uploads on two threads into one store lose no file") {
    val storeDir = tmpDir("engine").toString + "/chunks"
    val chatDir = tmpDir("engine").toString + "/chat"
    val engine = new Engine(spark, storeDir, chatDir, "s3cret", () => 1700000000L)
    val perThread = 4
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val statuses = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = (0 until 2).map { t =>
      val token = engine.login(s"t$t@x.com")
      new Thread(() =>
        try (0 until perThread).foreach { i =>
          val up = engine.upload(token,
            Seq(s"/up/t${t}_$i.txt" -> bytes(s"thread $t file $i " + ("pad " * 20)))).toOption.get
          up.select("status").as[String].collect().foreach(statuses.add)
        } catch { case e: Throwable => failures.add(e): Unit })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(failures.isEmpty, failures.toString)
    assert(statuses.toArray.toSeq == Seq.fill(2 * perThread)("ok"))
    val files = ChunkStore.load(spark, storeDir).select("user", "source").distinct().count()
    assert(files == 2 * perThread, s"stored $files of ${2 * perThread} files")
    assert(engine.count() == 2 * perThread)
  }

  test("a tenant with no files gets the empty-context prompt while others hold data") {
    val storeDir = tmpDir("engine").toString + "/chunks"
    val chatDir = tmpDir("engine").toString + "/chat"
    val engine = new Engine(spark, storeDir, chatDir, "s3cret", () => 1700000000L)
    val alice = engine.login("alice@x.com")
    val carol = engine.login("carol@z.com")
    engine.upload(alice, Seq("/up/a.txt" -> bytes("alice's private notes " + ("pad " * 40)))).toOption.get
    assert(ChunkStore.openUser(spark, storeDir, "carol@z.com").isEmpty)
    val q = "what are alice's notes?"
    assert(engine.chat(carol, q).toOption.get == Rag.prompt(q, ""))
    val up = engine.upload(carol, Seq("/up/a.txt" -> bytes("carol's first file " + ("pad " * 40)))).toOption.get
    assert(up.select("status").as[String].collect().toSeq == Seq("ok"))
    val own = engine.chat(carol, q).toOption.get
    assert(own.contains("carol's first file") && !own.contains("alice's private notes"))
  }

  test("a tenant id needing Hive path escaping round-trips upload, chat and delete") {
    val storeDir = tmpDir("engine").toString + "/chunks"
    val chatDir = tmpDir("engine").toString + "/chat"
    val engine = new Engine(spark, storeDir, chatDir, "s3cret", () => 1700000000L)
    val odd = engine.login("o%x=y/z@ex.com")
    val plain = engine.login("plain@ex.com")
    engine.upload(plain, Seq("/up/doc.txt" -> bytes("plain tenant text " + ("pad " * 40)))).toOption.get
    val before = engine.count()
    val up = engine.upload(odd, Seq(
      "/up/doc.txt" -> bytes("the escaped tenant's warranty is ninety days " + ("pad " * 300)))).toOption.get
    val (status, nChunks) = up.select("status", "n_chunks").as[(String, Int)].head()
    assert(status == "ok" && nChunks > 1)
    assert(engine.count() == before + nChunks)
    val answer = engine.chat(odd, "what is the warranty?").toOption.get
    assert(answer.contains("ninety days") && !answer.contains("plain tenant"))
    assert(engine.delete(odd, "doc.txt").toOption.get == nChunks)
    assert(engine.count() == before)
    assert(engine.chat(odd, "anything left?").toOption.get == Rag.prompt("anything left?", ""))
  }
}
