package graft.store

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.scale.{Ivf, Nsw}

/** Contract pins for the snapshot-versioned serving index, IVF and
  * graph alike: atomic publish, index↔store version binding, time
  * travel, rebuild-vs-search isolation, loud rebuild races, and the
  * diagnostic error for a version without its meta row. */
class VersionedIndexSpec extends SparkSpec {
  import spark.implicits._

  private def vecs(ids: Seq[Long]) =
    ids.map(i => (i, Seq(i.toFloat, (i % 7).toFloat, 1f))).toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>"))

  test("publish is one commit; open pins index and store versions together") {
    val t = tmpDir("vidx").toString
    val i1 = Ivf.build(spark, vecs(0L until 40L), nlist = 4, maxIter = 1)
    assert(VersionedIndex.commit(spark, t, i1, storeVersion = 1) == 1)
    val s = VersionedIndex.open(spark, t)
    assert(s.version == 1 && s.storeVersion == 1)
    assert(s.index.centroids.length == 4)
    assert(s.index.assigned.count() == 40)
    // search works through the snapshot (exhaustive probe = exact)
    val r = Ivf.search(s.index, Array(5f, 5f, 1f), k = 3, nprobe = 4)
      .select("vec_id").as[Long].collect().toSeq
    assert(r.size == 3 && r.contains(5L), r.toString)
  }

  test("rebuild replaces atomically; old snapshot and time travel survive") {
    val t = tmpDir("vidx").toString
    val i1 = Ivf.build(spark, vecs(0L until 40L), nlist = 4, maxIter = 1)
    VersionedIndex.commit(spark, t, i1, storeVersion = 1)
    val pinned = VersionedIndex.open(spark, t) // opened BEFORE the rebuild
    val before = Ivf.search(pinned.index, Array(9f, 2f, 1f), k = 5, nprobe = 4)
      .select("vec_id").as[Long].collect().toSeq

    // the nightly rebuild: disjoint id range, different layout
    val i2 = Ivf.build(spark, vecs(100L until 160L), nlist = 4, maxIter = 1)
    VersionedIndex.commit(spark, t, i2, storeVersion = 2)

    // the pre-rebuild snapshot still serves its exact files — no torn
    // read, identical results after the swap
    val after = Ivf.search(pinned.index, Array(9f, 2f, 1f), k = 5, nprobe = 4)
      .select("vec_id").as[Long].collect().toSeq
    assert(after == before, "pinned snapshot must be rebuild-isolated")
    // time travel: v1 by number == the pinned view; v2 is the new world
    val v1 = VersionedIndex.open(spark, t, Some(1))
    assert(v1.storeVersion == 1 &&
      v1.index.assigned.agg(max("vec_id")).head.getLong(0) == 39L)
    val v2 = VersionedIndex.open(spark, t)
    assert(v2.version == 2 && v2.storeVersion == 2 &&
      v2.index.assigned.agg(min("vec_id")).head.getLong(0) == 100L)
  }

  test("probe pruning is file-level: nprobe < nlist opens fewer files, results identical") {
    val t = tmpDir("vidx").toString
    // ids 0..199 with embedding (i, i%7, 1): nlist=8 gives a real spread
    val i1 = Ivf.build(spark, vecs(0L until 200L), nlist = 8, maxIter = 2)
    VersionedIndex.commit(spark, t, i1, storeVersion = 1)
    val s = VersionedIndex.open(spark, t)
    val total = Versioned.files(t).size
    val q = Array(42f, 0f, 1f)
    // a narrow probe must SKIP files via the manifest's #stats:cell
    // markers (the commit publishes them with the data — no ANALYZE run
    // in this test), and an exhaustive probe must keep every file
    val narrow = VersionedIndex.probeFiles(s, q, nprobe = 1)
    val exhaustive = VersionedIndex.probeFiles(s, q, nprobe = 8)
    assert(narrow.size < total,
      s"nprobe=1 opened ${narrow.size} of $total files — no file was skipped")
    assert(exhaustive.size == total,
      s"nprobe=nlist must probe every file (${exhaustive.size} of $total)")
    // pruning is I/O only, never semantics: the pruned search returns
    // exactly what the unpruned in-memory search returns, at every nprobe
    for (np <- Seq(1, 3, 8)) {
      val pruned = VersionedIndex.search(spark, s, q, k = 5, nprobe = np)
        .select("vec_id", "dist").as[(Long, Double)].collect().toSeq
      val flat = Ivf.search(s.index, q, k = 5, nprobe = np)
        .select("vec_id", "dist").as[(Long, Double)].collect().toSeq
      assert(pruned == flat, s"nprobe=$np: pruned != unpruned")
    }
    // rebuild keeps the markers fresh: the new version prunes too
    val i2 = Ivf.build(spark, vecs(0L until 100L), nlist = 8, maxIter = 2)
    VersionedIndex.commit(spark, t, i2, storeVersion = 2)
    val s2 = VersionedIndex.open(spark, t)
    assert(VersionedIndex.probeFiles(s2, q, nprobe = 1).size <
      Versioned.files(t).size, "post-rebuild version must prune as well")
  }

  test("racing rebuilds serialize: the loser fails loudly, winner intact") {
    val t = tmpDir("vidx").toString
    VersionedIndex.commit(spark, t,
      Ivf.build(spark, vecs(0L until 20L), nlist = 2, maxIter = 1), 1)
    // both rebuilds derive from v1 (both will try to replace v1's files);
    // simulate the interleaving by committing A, then B with A's stale
    // removal set — exactly what a concurrent loser holds
    val staleInputs = Versioned.files(t)
    VersionedIndex.commit(spark, t,
      Ivf.build(spark, vecs(20L until 40L), nlist = 2, maxIter = 1), 2)
    val b = Ivf.build(spark, vecs(40L until 60L), nlist = 2, maxIter = 1)
    import org.apache.spark.sql.functions.lit
    val batch = "idx-race"
    b.assigned.select(lit("v").as("kind"), col("cell").cast("int").as("cell"),
        col("vec_id").cast("long").as("vec_id"), col("embedding"),
        lit(null).cast("array<float>").as("centroid"),
        lit(null).cast("long").as("store_version"))
      .write.parquet(s"$t/$batch")
    val added = Option(new java.io.File(t, batch).listFiles())
      .getOrElse(Array.empty).filter(_.getName.endsWith(".parquet"))
      .map(f => s"$batch/${f.getName}").toSeq
    val e = intercept[IllegalStateException] {
      Versioned.commitExternalRewrite(spark, t, added, staleInputs)
    }
    assert(e.getMessage.contains("conflict"), e.getMessage)
    // the winner's index is whole
    val s = VersionedIndex.open(spark, t)
    assert(s.storeVersion == 2 && s.index.assigned.count() == 20)
  }

  // ------------------------------------------------ NSW/HNSW graph index

  private def graphVecs(ids: Seq[Long]) =
    ids.map(i => (i, Seq(i.toFloat, (i % 5).toFloat, 1f))).toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>"))

  private def topIds(g: org.apache.spark.sql.DataFrame, q: Array[Float], k: Int) =
    Nsw.search(g, q, k = k, ef = Int.MaxValue)
      .select("vec_id").as[Long].collect().toSeq

  test("publish pins graph and store version; exhaustive search is exact") {
    val t = tmpDir("vnsw").toString
    val g1 = Nsw.build(graphVecs(0L until 40L), maxLevel = 0, numShards = 4)
    assert(VersionedIndex.commitGraph(spark, t, g1, storeVersion = 1) == 1)
    val s = VersionedIndex.openGraph(spark, t)
    assert(s.version == 1 && s.storeVersion == 1)
    assert(s.graph.count() == 40)
    // unbounded beam over a connected NSW graph IS brute force
    val got = topIds(s.graph, Array(7f, 2f, 1f), 3)
    assert(got.contains(7L), got.toString)
  }

  test("a layered graph commits and reopens; exhaustive search equals brute force") {
    val t = tmpDir("vnsw").toString
    val ids = 0L until 60L
    val g = Nsw.build(graphVecs(ids), maxLevel = Nsw.DefaultMaxLevel, numShards = 2)
    assert(g.agg(max("level")).head.getInt(0) > 0, "fixture has no upper layer")
    VersionedIndex.commitGraph(spark, t, g, storeVersion = 1)
    val s = VersionedIndex.openGraph(spark, t)
    assert(s.graph.count() == ids.length)
    val q = Array(17.5f, 3f, 1f)
    val brute = ids.map { i =>
      val v = Array(i.toFloat, (i % 5).toFloat, 1f)
      (v.zip(q).map { case (a, b) => (a - b).toDouble * (a - b) }.sum, i)
    }.sorted.take(7).map(_._2)
    assert(topIds(s.graph, q, 7) == brute)
  }

  test("rebuild replaces atomically; pinned snapshot and time travel survive") {
    val t = tmpDir("vnsw").toString
    VersionedIndex.commitGraph(spark, t,
      Nsw.build(graphVecs(0L until 40L), maxLevel = 0, numShards = 4), storeVersion = 1)
    val pinned = VersionedIndex.openGraph(spark, t) // BEFORE the rebuild
    val before = topIds(pinned.graph, Array(9f, 4f, 1f), 5)
    VersionedIndex.commitGraph(spark, t,
      Nsw.build(graphVecs(100L until 160L), maxLevel = 0, numShards = 4), storeVersion = 2)
    // the pre-rebuild snapshot still serves its exact files
    assert(topIds(pinned.graph, Array(9f, 4f, 1f), 5) == before)
    val v1 = VersionedIndex.openGraph(spark, t, Some(1))
    assert(v1.storeVersion == 1 &&
      v1.graph.agg(max("vec_id")).head.getLong(0) == 39L)
    val v2 = VersionedIndex.openGraph(spark, t)
    assert(v2.version == 2 && v2.storeVersion == 2 &&
      v2.graph.agg(min("vec_id")).head.getLong(0) == 100L)
  }

  test("racing graph rebuilds serialize: the loser fails loudly, winner intact") {
    val t = tmpDir("vnsw").toString
    VersionedIndex.commitGraph(spark, t,
      Nsw.build(graphVecs(0L until 20L), maxLevel = 0, numShards = 2), storeVersion = 1)
    // both rebuilds derive from v1; B commits with A's stale removal set
    val staleInputs = Versioned.files(t)
    VersionedIndex.commitGraph(spark, t,
      Nsw.build(graphVecs(20L until 40L), maxLevel = 0, numShards = 2), storeVersion = 2)
    val b = Nsw.build(graphVecs(40L until 60L), maxLevel = 0, numShards = 2)
    val batch = "nsw-race"
    b.withColumn("kind", lit("g"))
      .withColumn("store_version", lit(null).cast("long"))
      .write.parquet(s"$t/$batch")
    val added = Option(new java.io.File(t, batch).listFiles())
      .getOrElse(Array.empty).filter(_.getName.endsWith(".parquet"))
      .map(f => s"$batch/${f.getName}").toSeq
    val e = intercept[IllegalStateException] {
      Versioned.commitExternalRewrite(spark, t, added, staleInputs)
    }
    assert(e.getMessage.contains("conflict"), e.getMessage)
    val s = VersionedIndex.openGraph(spark, t)
    assert(s.storeVersion == 2 && s.graph.count() == 20)
  }

  test("a version without its meta row surfaces a diagnostic error") {
    val t = tmpDir("vnsw").toString
    val g = Nsw.build(graphVecs(0L until 10L), maxLevel = 0, numShards = 2)
    // hand-commit graph rows WITHOUT the meta row (a torn bootstrap)
    val batch = "nsw-torn"
    g.select(lit("g").as("kind"), col("shard").cast("int").as("shard"),
        col("vec_id"), col("embedding"),
        col("level"), col("layers").cast("array<array<bigint>>").as("layers"),
        col("parent"), lit(null).cast("long").as("store_version"))
      .write.parquet(s"$t/$batch")
    val added = Option(new java.io.File(t, batch).listFiles())
      .getOrElse(Array.empty).filter(_.getName.endsWith(".parquet"))
      .map(f => s"$batch/${f.getName}").toSeq
    Versioned.commit(t, 0, added)
    val e = intercept[IllegalArgumentException](VersionedIndex.openGraph(spark, t))
    assert(e.getMessage.contains("meta row"), e.getMessage)
  }
}
