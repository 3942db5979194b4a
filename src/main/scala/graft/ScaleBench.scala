package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measured scale datapoint beyond sf0.1 (VERDICT r15 #3): upsample the
  * sf0.1 fixtures 10× DETERMINISTICALLY (seeded row replication with
  * re-keyed ids — no RNG, so reruns measure the same corpus) and compare
  * each heavy family's wall time against the same query at 1×. The
  * upsample is content-aware so the 10× corpus keeps the 1× corpus's
  * STRUCTURE instead of degenerating:
  *
  *  - ids re-key per replica (`id + r·(max+1)`): key cardinality scales
  *    10×, no collisions;
  *  - document TEXT passes through a per-replica letter permutation
  *    (translate over the 10 most frequent letters, rotated by r):
  *    within-replica near-dup structure is preserved exactly, while
  *    cross-replica pairs stop being near-dups — a naive copy would
  *    hand every doc 9 synthetic twins and the dedup families would be
  *    measuring an artifact, not scale;
  *  - EMBEDDINGS rotate by r positions (norm-preserving, decorrelates
  *    cosine) for the same reason;
  *  - lineitem re-keys part/supplier/order, so the derived graph gets
  *    10× nodes and 10× edges in 10 disconnected replicas.
  *
  * Prints per-family [sec at 1×, sec at 10×, time ratio] — the evidence
  * table SCALE.md cites. A family scaling ~linearly (ratio ≈ 10 on 32
  * threads, minus fixed per-query cost amortization) holds its plan
  * shape; a superlinear one is flagged for explanation. */
object ScaleBench {
  private def rmTree(path: String): Unit = {
    val f = new java.io.File(path)
    Option(f.listFiles).foreach(_.foreach(c => rmTree(c.getAbsolutePath)))
    f.delete(): Unit
  }

  private def upsampleDir(base: String, factor: Int): String =
    new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_upsample_f${factor}_" +
        base.replaceAll("[^A-Za-z0-9.]", "_")).getAbsolutePath

  /** Cross-join with the replica index and re-key. `textCols` pass
    * through the per-replica letter permutation; `keyCols` shift by
    * r·(max+1); `rotateArrayCols` rotate by r. */
  private def upsample(spark: SparkSession, base: String, table: String,
      out: String, factor: Int, keyCols: Seq[String],
      textCols: Seq[String] = Seq.empty,
      rotateArrayCols: Seq[String] = Seq.empty): Unit = {
    val src = spark.read.parquet(s"$base/$table.parquet")
    val maxes = keyCols.map { k =>
      k -> (src.agg(max(col(k))).head().getLong(0) + 1L)
    }
    val alphabet = "etaoinshrd"
    // the letter rotation has period |alphabet|: replica 10 would be
    // byte-identical text to replica 0, re-creating the synthetic-twin
    // blowup the permutation exists to prevent (every dedup family
    // would then measure a quadratic exact-dup artifact, not scale)
    require(textCols.isEmpty || factor <= alphabet.length,
      s"upsample factor $factor exceeds the ${alphabet.length}-period " +
        "text permutation — extend the alphabet before scaling further")
    def rotated(r: Int) = alphabet.drop(r % alphabet.length) +
      alphabet.take(r % alphabet.length)
    var df = src.crossJoin(
      spark.range(factor.toLong).select(col("id").cast("int").as("__r")))
    maxes.foreach { case (k, m) =>
      df = df.withColumn(k, col(k) + col("__r").cast("long") * m)
    }
    textCols.foreach { t =>
      df = df.withColumn(t,
        (1 until factor).foldLeft(when(col("__r") === 0, col(t))) {
          case (acc, r) => acc.when(col("__r") === r,
            translate(col(t), alphabet, rotated(r)))
        }.otherwise(col(t)))
    }
    rotateArrayCols.foreach { a =>
      df = df.withColumn(a,
        when(col("__r") === 0, col(a)).otherwise(concat(
          slice(col(a), col("__r") + 1, size(col(a)) - col("__r")),
          slice(col(a), lit(1), col("__r")))))
    }
    df.drop("__r")
      .repartition(32) // spread the 10× corpus over real files
      .write.mode("overwrite").parquet(s"$out/$table.parquet")
  }

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_BASE", "/root/testdata/sf0.1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_FACTOR", "10").toInt
    val spark = GraftSession.builder(32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val up = upsampleDir(base, factor)
    if (!new java.io.File(up, "documents.parquet").exists()) {
      println(s"[scalebench] building ${factor}x corpus at $up ...")
      val t0 = System.nanoTime()
      upsample(spark, base, "documents", up, factor,
        keyCols = Seq("doc_id"), textCols = Seq("text"))
      upsample(spark, base, "events", up, factor,
        keyCols = Seq("event_id", "user_id"))
      upsample(spark, base, "embeddings", up, factor,
        keyCols = Seq("vec_id"), rotateArrayCols = Seq("embedding"))
      upsample(spark, base, "lineitem", up, factor,
        keyCols = Seq("l_orderkey", "l_partkey", "l_suppkey"))
      // the remaining TPC-H-ish dims are not read by the measured
      // families; symlink-free copy keeps Tables.* total on the dir
      Seq("region", "nation", "customer", "supplier", "part", "orders")
        .foreach { t =>
          spark.read.parquet(s"$base/$t.parquet")
            .write.mode("overwrite").parquet(s"$up/$t.parquet")
        }
      println(f"[scalebench] corpus built in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    } else println(s"[scalebench] reusing ${factor}x corpus at $up")

    // Full-corpus family runners, NOT the declared oracle queries: most
    // declared rows cap their input (doc_id < 200 etc.) for oracle
    // determinism, so at 10× they would re-measure the same slice. Each
    // runner drives the scale-library engine over the WHOLE corpus of
    // `dir` and returns a row count (the action).
    import graft.scale.{ConnectedComponents, Ivf, NearDup, Nsw, PageRank, PrefixJoin}
    def psEdges(d: String): DataFrame = {
      val pairs = Tables.lineitem(spark, d)
        .select(concat(lit("p"), col("l_partkey")).as("src"),
          concat(lit("s"), col("l_suppkey")).as("dst")).distinct()
      pairs.unionAll(pairs.select(col("dst").as("src"), col("src").as("dst")))
    }
    def queryVec(d: String): Array[Float] =
      Tables.embeddings(spark, d).filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
    val families: Seq[(String, String => Long)] = Seq(
      "minhash_banding" -> { d =>
        NearDup.minhashNearDupsOnShingles(
          NearDup.shingles(Tables.documents(spark, d)), 0.5).count()
      },
      "simhash_banding" -> { d =>
        NearDup.simhashNearDups(Tables.documents(spark, d), 12).count()
      },
      "prefix_jaccard_join" -> { d =>
        PrefixJoin.jaccardSelfJoin(
          PrefixJoin.wordKGrams(Tables.documents(spark, d), k = 5),
          tNum = 4, tDen = 5).count()
      },
      "connected_components" -> { d =>
        // components() wants LONG node ids: parts keep their key,
        // suppliers shift past the part-key range (disjoint id spaces)
        val off = Tables.lineitem(spark, d)
          .agg(max(col("l_partkey"))).head().getLong(0) + 1L
        val pairs = Tables.lineitem(spark, d)
          .select(col("l_partkey").as("src"),
            (col("l_suppkey") + off).as("dst")).distinct()
        val e = pairs.unionAll(
          pairs.select(col("dst").as("src"), col("src").as("dst")))
        ConnectedComponents.components(e,
          e.select(col("src").as("node")).distinct()).count()
      },
      "pagerank" -> { d =>
        PageRank.run(psEdges(d), iterations = 5,
          doubledUndirected = true).count()
      },
      "ivf_build_search" -> { d =>
        val idx = Ivf.build(spark, Tables.embeddings(spark, d))
        val n = Ivf.search(idx, queryVec(d), k = 13, nprobe = 3).count()
        idx.assigned.unpersist()
        n
      },
      "nsw_build_search" -> { d =>
        val g = Nsw.build(Tables.embeddings(spark, d), maxLevel = 0)
        Nsw.search(g, queryVec(d), k = 13).count()
      },
      "bm25_postings" -> { d =>
        SparkEntry.queries("bm25_topk")(spark, d).count() // full-corpus already
      },
      // collect() the aggregate ROWS, not count() over the Aggregate —
      // count() references no output column, so column pruning drops
      // the agg expressions AND the tokenize/sketch work below them,
      // timing a zero-column footer read (caught round 16: both
      // families' "ratios" were measuring nothing)
      "quality_signals" -> { d =>
        Tables.documents(spark, d)
          .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
          .select(col("doc_id"), size(col("toks")).as("len"),
            size(array_distinct(col("toks"))).as("uniq"))
          .agg(count(lit(1)), avg(col("len")), avg(col("uniq") / col("len")))
          .collect().length.toLong
      },
      "sketch_profile" -> { d =>
        Tables.events(spark, d).groupBy(col("event_type"))
          .agg(approx_count_distinct(col("user_id")).as("u"),
            expr("approx_percentile(value, array(0.5, 0.95, 0.99))").as("q"))
          .collect().length.toLong
      },
      "store_merge_cdc" -> { d =>
        val path = new java.io.File(sys.props("java.io.tmpdir"),
          s"graft_scalemerge_${d.replaceAll("[^A-Za-z0-9.]", "_")}").getAbsolutePath
        rmTree(path)
        val ev = Tables.events(spark, d)
          .select(col("event_id"), col("user_id"), col("value"))
        graft.store.Versioned.append(ev, path)
        val cdc = ev.filter(col("event_id") % 100 === 0)
          .withColumn("value", col("value") + 1.0)
        graft.store.Versioned.merge(spark, path, cdc, Seq("event_id"))
        val n = graft.store.Versioned.read(spark, path).count()
        rmTree(path)
        n
      })
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(ns) => families.filter { case (n, _) => ns(n) }
      case None => families
    }
    spark.range(1000000L).selectExpr("sum(id)").collect()
    def bestOf2(fn: String => Long, dir: String, label: String): (Double, Long) = {
      def once(): (Double, Long) = {
        val t0 = System.nanoTime()
        val n = fn(dir)
        ((System.nanoTime() - t0) / 1e9, n)
      }
      try {
        val a = once(); val b = once()
        spark.catalog.clearCache(); System.gc()
        (math.min(a._1, b._1), b._2)
      } catch { case e: Throwable =>
        System.err.println(s"[scalebench] $label@$dir failed: ${e.getMessage}")
        (-1.0, -1L)
      }
    }
    def r2(v: Double) = math.round(v * 100) / 100.0
    val rows = selected.map { case (n, fn) =>
      val (b, nb) = bestOf2(fn, base, n)
      val (u, nu) = bestOf2(fn, up, n)
      val ratio = if (b > 0 && u > 0) u / b else -1.0
      println(f"[scalebench] $n%-22s 1x ${b}%7.2f s ($nb rows)   " +
        f"${factor}x ${u}%7.2f s ($nu rows)   ratio ${ratio}%5.2f")
      s""""$n":[${r2(b)},${r2(u)},${r2(ratio)},$nb,$nu]"""
    }
    println(s"""{"metric":"scale_ratio","factor":$factor,"base":"$base",""" +
      s""""columns":["sec_1x","sec_${factor}x","time_ratio","rows_1x","rows_${factor}x"],""" +
      s""""families":{${rows.mkString(",")}}}""")
    spark.stop()
  }
}
