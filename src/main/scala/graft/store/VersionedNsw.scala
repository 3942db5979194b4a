package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Snapshot-versioned NSW/HNSW graph index (VERDICT r13 #6 — the
  * graph-index sibling of [[VersionedIndex]], which covers IVF): the
  * sharded adjacency rows [[graft.scale.Nsw]] builds live under the
  * SAME manifest protocol as the store they serve, so "search at index
  * v1" is exact time travel, a rebuild is ONE atomic replace, and the
  * index↔store binding can never tear. Chroma persists its HNSW inside
  * the collection the same way (reference app.py:73-76); here the
  * consistency comes from the manifest log.
  *
  * Row encoding, one schema (the [[VersionedIndex]] pattern):
  *  - `kind = 'g'`: graph rows (shard, vec_id, embedding, level, layers,
  *    parent) — exactly [[graft.scale.Nsw.build]]'s output columns, so
  *    flat and layered graphs version alike;
  *  - `kind = 'm'`: one meta row carrying the STORE version this graph
  *    was built from.
  * Graph rows land `repartition(shard)` so files cluster by shard (the
  * layout [[graft.scale.Nsw.searchPruned]]'s shard skipping wants; a
  * `#stats:shard` marker pass would turn that into manifest file
  * skipping exactly as VersionedIndex does for `cell`).
  *
  * Concurrency: [[open]] pins the manifest once — a snapshot keeps
  * serving its exact files through any number of rebuilds; two racing
  * rebuilds serialize through the put-if-absent commit and the loser
  * fails loudly ([[Versioned.commitExternalRewrite]]'s lost-inputs
  * check). VersionedNswSpec races both. */
object VersionedNsw {

  /** A pinned, immutable view of one index version. */
  case class Snapshot(graph: DataFrame, version: Int, storeVersion: Int)

  private val GraphCols = Seq("shard", "vec_id", "embedding", "level", "layers", "parent")

  /** Publish `graph` (an [[graft.scale.Nsw]] adjacency frame) as the
    * next version of `table` in ONE atomic commit pinned to
    * `storeVersion`. First publish creates the table; later publishes
    * REPLACE the content (old versions stay time-travelable until
    * vacuum). Returns the new index version. */
  def commit(spark: SparkSession, table: String, graph: DataFrame,
      storeVersion: Int): Int = {
    import spark.implicits._
    val g = graph.select(
      lit("g").as("kind"),
      col("shard").cast("int").as("shard"),
      col("vec_id").cast("long").as("vec_id"),
      col("embedding").cast("array<float>").as("embedding"),
      col("level").cast("int").as("level"),
      col("layers").cast("array<array<bigint>>").as("layers"),
      col("parent").cast("long").as("parent"),
      lit(null).cast("long").as("store_version"))
    val meta = Seq(storeVersion.toLong).toDF("store_version")
      .select(lit("m").as("kind"), lit(null).cast("int").as("shard"),
        lit(null).cast("long").as("vec_id"),
        lit(null).cast("array<float>").as("embedding"),
        lit(null).cast("int").as("level"),
        lit(null).cast("array<array<bigint>>").as("layers"),
        lit(null).cast("long").as("parent"), col("store_version"))
    val batch = f"nsw-${java.util.UUID.randomUUID().toString.take(8)}"
    val dir = new java.io.File(table, batch)
    g.repartition(col("shard")).unionByName(meta.coalesce(1))
      .write.parquet(dir.getPath)
    val added = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(f => s"$batch/${f.getName}").toSeq.sorted
    if (Versioned.currentVersion(table) == 0)
      // first publish: direct put-if-absent at v1 — racing bootstraps
      // must not merge (two meta rows, mixed graphs); the loser's
      // EEXIST is the same loud conflict the rebuild path reports
      Versioned.commit(table, 0, added)
    else
      Versioned.commitExternalRewrite(spark, table, added,
        Versioned.files(table))
  }

  /** Open a PINNED snapshot of `version` (default latest): the file
    * list resolves here, once, so concurrent rebuilds never tear this
    * reader. The graph stays a lazy scan for [[graft.scale.Nsw.search]]. */
  def open(spark: SparkSession, table: String,
      version: Option[Int] = None): Snapshot = {
    val v = version.getOrElse(Versioned.currentVersion(table))
    val df = Versioned.read(spark, table, Some(v))
    val metaRows = df.filter(col("kind") === "m")
      .select(col("store_version")).collect()
    require(metaRows.nonEmpty,
      s"nsw index $table v$v has no meta row (store-version pin) — " +
        "corrupt or partially-written index version")
    val graph = df.filter(col("kind") === "g")
      .select(GraphCols.map(col): _*)
    Snapshot(graph, v, metaRows.head.getLong(0).toInt)
  }
}
