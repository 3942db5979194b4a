package graft.store

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.scale.Nsw

/** Contract pins for the snapshot-versioned NSW graph index (VERDICT
  * r13 #6): atomic publish with the store pin, time travel, pinned
  * snapshots surviving rebuilds, and loud rebuild races. */
class VersionedNswSpec extends SparkSpec {
  import spark.implicits._

  private def vecs(ids: Seq[Long]) =
    ids.map(i => (i, Seq(i.toFloat, (i % 5).toFloat, 1f))).toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>"))

  private def topIds(g: org.apache.spark.sql.DataFrame, q: Array[Float], k: Int) =
    Nsw.search(g, q, k = k, ef = Int.MaxValue)
      .select("vec_id").as[Long].collect().toSeq

  test("publish pins graph and store version; exhaustive search is exact") {
    val t = tmpDir("vnsw").toString
    val g1 = Nsw.build(vecs(0L until 40L), maxLevel = 0, numShards = 4)
    assert(VersionedNsw.commit(spark, t, g1, storeVersion = 1) == 1)
    val s = VersionedNsw.open(spark, t)
    assert(s.version == 1 && s.storeVersion == 1)
    assert(s.graph.count() == 40)
    // unbounded beam over a connected NSW graph IS brute force
    val got = topIds(s.graph, Array(7f, 2f, 1f), 3)
    assert(got.contains(7L), got.toString)
  }

  test("a layered graph commits and reopens; exhaustive search equals brute force") {
    val t = tmpDir("vnsw").toString
    val ids = 0L until 60L
    val g = Nsw.build(vecs(ids), maxLevel = Nsw.DefaultMaxLevel, numShards = 2)
    assert(g.agg(max("level")).head.getInt(0) > 0, "fixture has no upper layer")
    VersionedNsw.commit(spark, t, g, storeVersion = 1)
    val s = VersionedNsw.open(spark, t)
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
    VersionedNsw.commit(spark, t,
      Nsw.build(vecs(0L until 40L), maxLevel = 0, numShards = 4), storeVersion = 1)
    val pinned = VersionedNsw.open(spark, t) // BEFORE the rebuild
    val before = topIds(pinned.graph, Array(9f, 4f, 1f), 5)
    VersionedNsw.commit(spark, t,
      Nsw.build(vecs(100L until 160L), maxLevel = 0, numShards = 4), storeVersion = 2)
    // the pre-rebuild snapshot still serves its exact files
    assert(topIds(pinned.graph, Array(9f, 4f, 1f), 5) == before)
    val v1 = VersionedNsw.open(spark, t, Some(1))
    assert(v1.storeVersion == 1 &&
      v1.graph.agg(max("vec_id")).head.getLong(0) == 39L)
    val v2 = VersionedNsw.open(spark, t)
    assert(v2.version == 2 && v2.storeVersion == 2 &&
      v2.graph.agg(min("vec_id")).head.getLong(0) == 100L)
  }

  test("racing rebuilds serialize: the loser fails loudly, winner intact") {
    val t = tmpDir("vnsw").toString
    VersionedNsw.commit(spark, t,
      Nsw.build(vecs(0L until 20L), maxLevel = 0, numShards = 2), storeVersion = 1)
    // both rebuilds derive from v1; B commits with A's stale removal set
    val staleInputs = Versioned.files(t)
    VersionedNsw.commit(spark, t,
      Nsw.build(vecs(20L until 40L), maxLevel = 0, numShards = 2), storeVersion = 2)
    val b = Nsw.build(vecs(40L until 60L), maxLevel = 0, numShards = 2)
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
    val s = VersionedNsw.open(spark, t)
    assert(s.storeVersion == 2 && s.graph.count() == 20)
  }

  test("a version without its meta row surfaces a diagnostic error") {
    val t = tmpDir("vnsw").toString
    val g = Nsw.build(vecs(0L until 10L), maxLevel = 0, numShards = 2)
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
    val e = intercept[IllegalArgumentException](VersionedNsw.open(spark, t))
    assert(e.getMessage.contains("meta row"), e.getMessage)
  }
}
