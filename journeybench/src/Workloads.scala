package journeybench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.api.Engine
import graft.auth.Jwt
import graft.functions.Embedder
import graft.ingest.{Chunker, IngestPipeline}
import graft.rag.Rag
import graft.store.ChunkStore
import graft.streaming.ChatLog

/** The two journey workloads. Each has one closed-loop client. */
object Workloads {

  /** What a workload hands back besides its operation log: the operation
    * kinds one measured step makes, with their count per step, and the
    * store's disk bytes per stored text byte. */
  final case class Extra(perStep: Seq[(String, Int)], storeBytesPerTextByte: Option[Double] = None)

  val SetupReps = 3
  val Tenants = 4
  /** Files per tenant in the upload_churn store. The first tenant holds more
    * than 32 files: past Spark's parallel partition discovery threshold, so
    * every store open lists that tenant's directory level with a Spark job,
    * the listing cost that dominates larger stores. */
  val ChurnTenantFiles = Seq(36, 6, 6, 6)
  val ChurnNewPerStep = 1
  val Secret = "journeybench-secret"
  val Now = 1700000000L

  private def tenant(i: Int) = s"tenant$i@journey.bench"

  /** An Engine over its own store and chat log, with one token per tenant. */
  final case class Site(eng: Engine, store: String, chatLog: String, tokens: IndexedSeq[String])

  private def site(spark: SparkSession, run: Run, name: String): Site = {
    val dir = s"${run.args.work}/$name"
    val eng = new Engine(spark, s"$dir/store", s"$dir/chatlog", Secret, () => Now)
    Site(eng, s"$dir/store", s"$dir/chatlog", (0 until Tenants).map(t => eng.login(tenant(t))))
  }

  /** The Engine.upload result as (path → (status, n_chunks)). */
  private def outcomes(df: DataFrame): Map[String, (String, Int)] =
    df.select("path", "status", "n_chunks").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getInt(2))).toMap

  /** Build a fresh store of `files` (tenant → uploads) through Engine.upload,
    * one call per tenant, checking every file is stored. */
  private def load(run: Run, site: Site, files: IndexedSeq[Seq[(String, Array[Byte])]]): Unit =
    files.indices.foreach { t =>
      run.step("setup upload")(site.eng.upload(site.tokens(t), files(t)).map(outcomes)) match {
        case Some(Right(got)) =>
          files(t).foreach { case (p, _) =>
            run.check(got.get(p).exists(_._1 == IngestPipeline.Status.Ok), s"setup: $p not stored: ${got.get(p)}")
          }
        case other => run.problem(s"setup upload for tenant $t: $other")
      }
    }

  /** Set-up of the Engine workloads, timed [[SetupReps]] times: a fresh
    * store of `files` built through Engine.upload. The first repetition also
    * pays the JVM's first-use cost (class loading, code generation); the
    * median of the repetitions is the set-up time. The last store is kept
    * for the measured phase. */
  private def setUp(spark: SparkSession, run: Run, files: IndexedSeq[Seq[(String, Array[Byte])]]): Site = {
    val reps = (0 until SetupReps).map { rep =>
      val s = site(spark, run, s"setup$rep")
      run.timedSetup(load(run, s, files))
      s
    }
    reps.init.foreach { s =>
      s.eng.shutdown()
      rmTree(spark, new Path(s.store).getParent.toString)
    }
    run.mark("setup")
    reps.last
  }

  /** Split `docs` into consecutive per-tenant upload batches of `sizes`. */
  private def uploads(docs: IndexedSeq[String], sizes: Seq[Int],
      prefix: String): IndexedSeq[Seq[(String, Array[Byte])]] =
    sizes.scanLeft(0)(_ + _).zip(sizes).map { case (from, n) =>
      (from until from + n).map(i => (s"$prefix-$i.txt", docs(i).getBytes(UTF_8)))
    }.toIndexedSeq

  /** Squared L2 with the float arithmetic of VectorOps.squaredL2: a
    * left-to-right double fold of (a - b)². */
  def squaredL2(a: Seq[Float], b: Seq[Float]): Double =
    a.lazyZip(b).foldLeft(0.0) { case (acc, (x, y)) => val d = x.toDouble - y.toDouble; acc + d * d }

  /** Exact top-k texts by (squared L2, chunk_id) over (user, chunk_id, text, embedding) rows. */
  def exactTopK(rows: Array[Row], question: String, k: Int = Rag.DefaultK): Seq[String] = {
    val q = Embedder.embed(question).toSeq
    rows.map(row => (squaredL2(row.getSeq[Float](3), q), row.getLong(1), row.getString(2)))
      .sortBy(x => (x._1, x._2)).take(k).map(_._3).toSeq
  }

  // ------------------------------------------------------------- upload_churn

  def uploadChurn(spark: SparkSession, run: Run): Extra = {
    val r = new SplittableRandom(run.args.seed)
    val seen = mutable.HashSet.empty[String]
    def newDoc(): String = Iterator.continually(Corpus.text(r)).find(seen.add).get
    val docs = IndexedSeq.fill(ChurnTenantFiles.sum)(newDoc())
    val files = uploads(docs, ChurnTenantFiles, "base")
    val Site(eng, store, chat, tokens) = setUp(spark, run, files)
    val tracer = if (run.args.trace) Some(new Tracer(spark.sparkContext)) else None

    // model: each tenant's stored files, oldest first, with their chunk counts
    def chunksOf(text: String) = Chunker.reference.split(text).count(_.trim.nonEmpty)
    val stored = IndexedSeq.fill(Tenants)(mutable.Queue.empty[(String, String, Int)])
    files.indices.foreach(t => files(t).foreach { case (p, b) =>
      val s = new String(b, UTF_8); stored(t).enqueue((p, s, chunksOf(s)))
    })
    val dirs0 = storeLayout(spark, store).sourceDirs
    val uploadsSeen = mutable.ArrayBuffer.empty[(Int, Int)] // (files, duplicates) per upload call
    val newChunks = mutable.ArrayBuffer.empty[Int]

    def churnStep(s: Int): Unit = {
      val t = s % Tenants
      val fresh = IndexedSeq.fill(ChurnNewPerStep)(newDoc())
      val dupOf = stored(t)(r.nextInt(stored(t).size))
      val junk = Array.fill(64)(r.nextInt(256).toByte)
      val batch: Seq[(String, Array[Byte], String)] = fresh.zipWithIndex.map { case (d, j) =>
        (s"churn-$s-$j.txt", d.getBytes(UTF_8), IngestPipeline.Status.Ok)
      } ++ Seq(
        (s"churn-$s-dup.txt", dupOf._2.getBytes(UTF_8), IngestPipeline.Status.Duplicate),
        (s"churn-$s-blank.txt", " \n\t \n".getBytes(UTF_8), IngestPipeline.Status.NoContent),
        (s"churn-$s-archive.zip", junk, IngestPipeline.Status.UnsupportedType))
      val shuffled = batch.sortBy(_ => r.nextInt())
      val upFiles = shuffled.map(b => (b._1, b._2))
      val got = run.op("upload")(tracer.fold(eng.upload(tokens(t), upFiles))(tr =>
        Routes.upload(spark, tr, store, tokens(t), upFiles)).map(outcomes))
      got.foreach { o =>
        shuffled.foreach { case (p, _, want) =>
          run.check(o.get(p).map(_._1).contains(want), s"upload status of $p: ${o.get(p)}, want $want")
        }
        uploadsSeen += ((shuffled.size, o.values.count(_._1 == IngestPipeline.Status.Duplicate)))
      }
      fresh.zipWithIndex.foreach { case (d, j) =>
        val n = chunksOf(d)
        got.flatMap(_.get(s"churn-$s-$j.txt")).foreach(o =>
          run.check(o._2 == n, s"churn-$s-$j.txt stored ${o._2} chunks, want $n"))
        stored(t).enqueue((s"churn-$s-$j.txt", d, n))
        newChunks += n
      }
      // read-your-write: asked with the whole text of a just-uploaded file,
      // the exact top-k must rank that file's chunk first (distance 0)
      val src = fresh(r.nextInt(fresh.size))
      val answer = tracer match {
        case None => run.op("chat")(eng.chat(tokens(t), src))
        case Some(tr) =>
          val p = run.op("chat_traced")(Routes.chat(spark, tr, store, chat, tokens(t), src))
          run.check(p == run.op("chat")(eng.chat(tokens(t), src)), s"traced chat differs from Engine.chat for '$src'")
          p
      }
      answer.foreach(p => run.check(p.contains(s"Context:\n$src"),
        s"chat after upload does not rank the uploaded text first: '$src'"))
      // delete the tenant's oldest files, as many as were stored
      (0 until ChurnNewPerStep).foreach { _ =>
        val (name, _, n) = stored(t).dequeue()
        run.op("delete")(tracer.fold(eng.delete(tokens(t), name))(tr =>
          Routes.delete(spark, tr, store, tokens(t), name))).foreach(c => run.check(c == n, s"delete of $name removed $c chunks, want $n"))
      }
    }

    // warm-up, checked: one chat per tenant (the first starts this store's
    // chat relay) must equal an exact top-k, computed here, over that tenant's
    // own rows, which also proves tenant isolation
    val rows = ChunkStore.load(spark, store).select("user", "chunk_id", "text", "embedding").collect()
    val modelChunks0 = stored.map(_.map(_._3).sum).sum
    run.check(rows.length == modelChunks0, s"store holds ${rows.length} rows, model holds $modelChunks0 chunks")
    val byUser = rows.groupBy(_.getString(0))
    (0 until Tenants).foreach { t =>
      val q = Corpus.question(r, stored(t)(r.nextInt(stored(t).size))._2)
      val want = Rag.prompt(q, exactTopK(byUser.getOrElse(tenant(t), Array.empty), q).mkString("\n\n"))
      run.op("warm-up chat")(eng.chat(tokens(t), q)).foreach(p =>
        run.check(p == want, s"chat prompt for tenant $t question '$q' is not the exact top-${Rag.DefaultK}"))
    }
    val landing0 = countFiles(spark, ChatLog.landingDir(chat), ".parquet")
    // six steps at least: the per-kind medians then leave out the first,
    // slowest step and come from the flatter end of the JIT warm-up
    val steps = run.measure(minSteps = 6)(churnStep).size
    val landing1 = countFiles(spark, ChatLog.landingDir(chat), ".parquet")

    val layout = storeLayout(spark, store)
    val modelChunks = stored.map(_.map(_._3).sum).sum
    run.step("final count")(eng.count()).foreach(c =>
      run.check(c == modelChunks, s"Engine.count() = $c, model holds $modelChunks chunks"))
    run.check(layout.sourceDirs == dirs0, s"store file count drifted: ${layout.sourceDirs} vs $dirs0 at start")
    val textBytes = stored.map(_.map(_._2.getBytes(UTF_8).length.toLong).sum).sum
    run.report ++= Map("store_files_per_tenant" -> ChurnTenantFiles,
      "files_per_upload" -> (ChurnNewPerStep + 3), "steps" -> steps,
      "store_source_dirs_start" -> dirs0, "store_source_dirs_end" -> layout.sourceDirs,
      "landing_files_start" -> landing0, "landing_files_end" -> landing1,
      "landing_files_growth" -> (landing1 - landing0))
    tracer.foreach { tr =>
      val spans = tr.summary()
      run.perLayer ++= spans
      run.perLayer ++= layoutMetrics(layout, textBytes)
      run.perLayer += "rag.rows_per_result" -> spans.getOrElse("rag.retrieve.rows_read", 0.0) / Rag.DefaultK
      run.perLayer += "ingest.files" -> Stats.mean(uploadsSeen.map(_._1.toDouble).toSeq)
      run.perLayer += "ingest.chunks" -> newChunks.sum.toDouble / math.max(1, uploadsSeen.size)
      run.perLayer += "ingest.dup_ratio" -> uploadsSeen.map(_._2).sum.toDouble / uploadsSeen.map(_._1).sum
      run.perLayer += "streaming.landing_files" -> landing1.toDouble
      run.perLayer += "trace.chat_overhead_ms" ->
        (Stats.median(run.latencies("chat_traced")) - Stats.median(run.latencies("chat")))
    }
    eng.shutdown()
    Extra(Seq("upload" -> 1, "chat" -> 1, "delete" -> ChurnNewPerStep),
      storeBytesPerTextByte = Some(layout.bytes.toDouble / textBytes))
  }

  // ---------------------------------------------------------------- knn_batch

  /** Declared top-k queries: the exact forms (TakeOrderedAndProject, the
    * Rag.retrieve plan, SQL and DataFrame row_number, the TopKAggregator
    * UDAF) and the ANN indexes (IVF, IVF-PQ, NSW, HNSW). */
  val ExactQueries = Seq("knn_top13", "knn_user_scoped", "knn_sql", "knn_cosine_top10",
    "knn_batch_top5", "knn_batch_agg", "rag_context")
  val AnnQueries = Seq("ivf_topk", "ivfpq_topk", "nsw_topk", "hnsw_topk")
  val KnnQueries: Seq[String] = ExactQueries ++ AnnQueries

  def knnBatch(spark: SparkSession, run: Run): Extra = {
    val dir = s"${run.args.work}/knn-data" // written from the seed by vectors.py
    val declared = SparkEntry.queries
    def pass(s: SparkSession, tracer: Option[Tracer]): Map[String, Array[Row]] =
      KnnQueries.flatMap { name =>
        def exec() = run.op(s"query:$name")(Right(declared(name)(s, dir).collect()))
        tracer.fold(exec())(tr => tr.span(s"queries.$name")(exec())).map(name -> _)
      }.toMap
    // set-up: on a fresh session (empty Tables memo, no cached frames) each
    // ANN query answers once, which builds and memoizes its index. The memos
    // pin every session's indexes, so the heap is read after the first
    // repetition, while it holds one session's indexes.
    var session = spark
    (0 until SetupReps).foreach { rep =>
      spark.catalog.clearCache()
      session = spark.newSession()
      run.timedSetup(AnnQueries.foreach(n =>
        run.op(s"setup:$n")(Right(declared(n)(session, dir).collect()))))
      if (rep == 0) run.readHeap()
    }
    run.mark("setup")
    val tracer = if (run.args.trace) Some(new Tracer(spark.sparkContext)) else None
    var out = Map.empty[String, Array[Row]]
    // an untimed warm-up pass holds the exact queries' first calls on this
    // session, so the timed passes start closer to level
    pass(session, None)
    val passes = run.measure(minSteps = 3)(_ => out = pass(session, tracer))
    // checks: oracle-backed outputs go to the DuckDB oracle (run.py), ANN
    // outputs are scored for recall@13 against the exact top-13 here
    val outDir = s"${run.args.work}/knn-out"
    val oracle = SparkEntry.oracleSql
    ExactQueries.filter(oracle.contains).foreach { name =>
      run.step(s"write $name")(session.createDataFrame(
        spark.sparkContext.parallelize(out(name).toSeq, 1),
        declared(name)(session, dir).schema).write.parquet(s"$outDir/$name"))
    }
    val exact13 = {
      val emb = session.read.parquet(s"$dir/embeddings.parquet").select("vec_id", "embedding").collect()
      val q = emb.find(_.getLong(0) == 0L).get.getSeq[Float](1)
      emb.map(row => (squaredL2(row.getSeq[Float](1), q), row.getLong(0)))
        .sortBy(identity).take(13).map(_._2).toSet
    }
    val recall = AnnQueries.flatMap(n => out.get(n).map { rows =>
      n -> rows.map(_.getAs[Long]("vec_id")).toSet.intersect(exact13).size / 13.0
    }).toMap
    run.check(out.keySet == KnnQueries.toSet, s"queries without output: ${KnnQueries.filterNot(out.contains)}")
    run.report ++= Map("queries" -> KnnQueries,
      "oracle_queries" -> ExactQueries.filter(oracle.contains), "oracle_sql" ->
        ExactQueries.filter(oracle.contains).map(n => n -> oracle(n)).toMap,
      "oracle_out" -> outDir, "data_dir" -> dir, "recall_at_13" -> recall,
      "per_query_p50_ms" -> KnnQueries.map(n => n -> Stats.median(run.latencies(s"query:$n"))).toMap)
    tracer.foreach { tr =>
      val s = tr.summary()
      KnnQueries.foreach { n =>
        run.perLayer += s"queries.${n}_ms" -> Stats.median(tr.wallMs(s"queries.$n"))
        run.perLayer += s"queries.${n}_jobs" -> s.getOrElse(s"queries.$n.jobs", 0.0)
      }
    }
    Extra(KnnQueries.map(n => s"query:$n" -> 1))
  }

  // ------------------------------------------------------------------ helpers

  final case class Layout(dirs: Long, sourceDirs: Long, dataFiles: Long, bytes: Long)

  /** Directories, `source=` directories, parquet files and parquet bytes under the store. */
  def storeLayout(spark: SparkSession, store: String): Layout = {
    val root = new Path(store)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var dirs = 0L; var sources = 0L; var files = 0L; var bytes = 0L
    def walk(p: Path): Unit = fs.listStatus(p).foreach { st =>
      if (st.isDirectory) {
        dirs += 1
        if (st.getPath.getName.startsWith("source=")) sources += 1
        walk(st.getPath)
      } else if (st.getPath.getName.endsWith(".parquet")) { files += 1; bytes += st.getLen }
    }
    if (fs.exists(root)) walk(root)
    Layout(dirs, sources, files, bytes)
  }

  def layoutMetrics(l: Layout, textBytes: Long): Map[String, Double] = Map(
    "store.dirs" -> l.dirs.toDouble, "store.data_files" -> l.dataFiles.toDouble,
    "store.bytes" -> l.bytes.toDouble, "store.bytes_per_text_byte" -> l.bytes.toDouble / textBytes)

  def countFiles(spark: SparkSession, dir: String, suffix: String): Long = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L else fs.listStatus(p).count(_.getPath.getName.endsWith(suffix)).toLong
  }

  private def rmTree(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true): Unit
  }
}

/** The Engine routes re-stated call by call, each module call inside its
  * layer span: the same public functions in the same order as
  * Engine.chat / upload / delete. The workloads check these routes against
  * Engine on the same inputs, so a drift between the two fails the run. */
object Routes {
  private def relay(spark: SparkSession, chatDir: String) =
    spark.streams.active.find(_.name == ChatLog.relayName(chatDir))
      .getOrElse(ChatLog.relay(spark, chatDir))

  private def verify(tr: Tracer, token: String) =
    tr.span("auth.verify")(Jwt.verify(token, Workloads.Secret, Workloads.Now))

  def chat(spark: SparkSession, tr: Tracer, storeDir: String, chatDir: String,
      token: String, question: String): Either[Jwt.AuthError, String] =
    verify(tr, token).map { user =>
      val store = tr.span("store.open") {
        if (ChunkStore.isEmpty(spark, storeDir)) None else Some(ChunkStore.load(spark, storeDir))
      }
      val p = tr.span("rag.retrieve") {
        store.fold(Rag.prompt(question, ""))(s =>
          Rag.prompt(question, Rag.contextOf(Rag.retrieve(s, question, user))))
      }
      val from = tr.nowMs
      tr.span("streaming.log_append")(
        ChatLog.append(spark, chatDir, user, question, p, Workloads.Now * 1000000L))
      tr.span("streaming.flush", streamFrom = Some(from))(relay(spark, chatDir).processAllAvailable())
      p
    }

  def upload(spark: SparkSession, tr: Tracer, storeDir: String, token: String,
      files: Seq[(String, Array[Byte])]): Either[Jwt.AuthError, DataFrame] =
    verify(tr, token).map { user =>
      import spark.implicits._
      val batch = files.toDF("path", "content").withColumn("user", lit(user))
      val store = tr.span("store.open") {
        if (ChunkStore.isEmpty(spark, storeDir)) None
        else Some(ChunkStore.userScoped(ChunkStore.load(spark, storeDir), user))
      }
      val (result, rows) = tr.span("ingest.outcomes") {
        val res = IngestPipeline.ingest(spark, batch, store)
        (res, res.outcomes.collect())
      }
      try {
        if (rows.exists(_.getAs[String]("status") == IngestPipeline.Status.Ok))
          tr.span("store.append")(ChunkStore.append(result.chunks, storeDir))
        spark.createDataFrame(spark.sparkContext.parallelize(rows.toIndexedSeq), result.outcomes.schema)
      } finally result.release()
    }

  def delete(spark: SparkSession, tr: Tracer, storeDir: String, token: String,
      filename: String): Either[Jwt.AuthError, Long] =
    verify(tr, token).map(user =>
      tr.span("store.delete")(ChunkStore.deleteBySource(spark, storeDir, user, filename)))
}

/** The per-layer metric names and units, in report order. */
object Layers {
  val counts: Seq[(String, String)] = Seq("store.dirs" -> "count", "store.data_files" -> "count",
    "store.bytes" -> "bytes", "store.bytes_per_text_byte" -> "ratio", "ingest.files" -> "count",
    "ingest.chunks" -> "count", "ingest.dup_ratio" -> "ratio", "rag.rows_per_result" -> "rows",
    "streaming.landing_files" -> "count", "trace.chat_overhead_ms" -> "ms")

  val all: Seq[(String, String)] =
    Tracer.JourneySpans.flatMap(s => Tracer.SpanFields.map { case (suffix, u) => (s + suffix, u) }) ++
      counts ++
      Workloads.KnnQueries.flatMap(q => Seq(s"queries.${q}_ms" -> "ms", s"queries.${q}_jobs" -> "count"))
}
