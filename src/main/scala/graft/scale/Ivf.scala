package graft.scale

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.VectorOps

/** Batch IVF (inverted-file) ANN index — the 100 TB answer to the
  * reference's Chroma HNSW serving index (/root/reference/app.py:409):
  * Spark batch-builds the index (the north star's "batch index build with
  * MLlib"), an online service would serve it. KMeans learns `nlist`
  * centroids; vectors are stored clustered by nearest centroid; a query
  * scores only the `nprobe` nearest cells and exact-reranks inside them.
  *
  * Scale notes: the build is KMeans (sampled fit is fine at scale) plus one
  * map-only assignment pass (centroids broadcast); search prunes
  * (nlist - nprobe)/nlist of the data before any distance math, and on
  * the persisted index ([[graft.store.VersionedIndex]]) the pruning is
  * file-level, from the manifest's per-file cell stats.
  */
object Ivf {

  case class Index(centroids: Array[Array[Float]], assigned: DataFrame)

  /** Fit centroids and assign every vector to its nearest cell. */
  def build(spark: SparkSession, emb: DataFrame, nlist: Int = 16, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding", maxIter: Int = 10): Index = {
    // cache only for the duration of the fit (KMeans iterates over the
    // features RDD once per iteration), then unpersist — the assignment
    // pass below recomputes the cheap array→vector map instead of pinning
    // the features frame on the executors for the index's lifetime
    val fitInput = emb.withColumn("features", array_to_vector(col(vecCol))).cache()
    // random init, not k-means||: the parallel init runs ~5 extra passes
    // over the data to seed centroids, which an IVF coarse quantizer does
    // not need — Lloyd iterations from a seeded random start converge to an
    // equally good cell layout (recall is enforced by ScaleSpec either way)
    val model = try new KMeans().setK(nlist).setSeed(seed).setMaxIter(maxIter)
      .setInitMode("random").fit(fitInput)
      finally fitInput.unpersist()
    val centroids = model.clusterCenters.map(_.toArray.map(_.toFloat))
    // assignment via the published float centroids through the codegen'd
    // kernel column — NOT model.transform, whose prediction UDF (plus the
    // array_to_vector UDF) would put two interpreter boundaries in every
    // downstream query plan. This also makes assignment UNIFORM across
    // build/append/probe: every path ranks cells by the same
    // float-centroid left-to-right double fold, so a vector lands in the
    // same cell no matter which path carried it
    val assigned = emb
      .withColumn("cell", element_at(nearestCellsCol(centroids, col(vecCol), 1), 1))
      // cluster the layout by cell (VersionedIndex.commit range-clusters
      // the persisted files the same way)
      .repartition(col("cell"))
    Index(centroids, assigned)
  }

  /** Exact distances from a vector to all centroids — the single shared
    * assignment/probe routine (search and append must agree). Requires
    * matching dimensions: silent prefix-truncation would mis-assign a
    * wrong-dimension batch (e.g. after an embedding-model change). */
  private[graft] def nearestCells(centroids: Array[Array[Float]], q: Array[Float],
      nprobe: Int): Seq[Int] = {
    require(q != null && centroids.forall(_.length == q.length),
      s"dimension mismatch: index is ${centroids.head.length}-dim, vector is " +
        s"${if (q == null) "null" else q.length.toString}")
    centroids.zipWithIndex
      .map { case (c, i) =>
        var d = 0.0; var j = 0
        while (j < c.length) { val t = c(j).toDouble - q(j); d += t * t; j += 1 }
        (d, i)
      }
      .sortBy(t => (t._1, t._2)).take(nprobe).map(_._2).toSeq
  }

  /** Column twin of [[nearestCells]] — the `nprobe` nearest cell ids as an
    * `array<int>` computed without a UDF/serialization boundary: one
    * codegen'd [[graft.core.VectorExpressions FloatVecSquaredL2]] kernel
    * per centroid against embedded centroid literals (nlist × dim floats —
    * task-binary freight equivalent to the closure the UDF shipped), then
    * a lexicographic (dist, cell) struct sort for the exact tie-break
    * order the driver-side form uses. Distance arithmetic is the same
    * left-to-right double fold, so assignments are bit-identical to
    * [[nearestCells]]. Fail-fast contract preserved executor-side:
    * `assert_true` raises on null or wrong-dimension vectors instead of
    * silently prefix-truncating. */
  private[scale] def nearestCellsCol(centroids: Array[Array[Float]], v: Column,
      nprobe: Int): Column = {
    val dim = centroids.head.length
    val dists = centroids.zipWithIndex.toSeq.map { case (c, i) =>
      struct(VectorOps.squaredL2(v, typedLit(c)).as("d"), lit(i).as("cell"))
    }
    val cells = transform(
      slice(array_sort(array(dists: _*)), 1, math.min(nprobe, centroids.length)),
      s => s.getField("cell"))
    // assert_true returns NULL on pass; coalesce keeps it in the plan so
    // column pruning can't drop the check
    coalesce(
      assert_true(v.isNotNull && size(v) === lit(dim),
        lit(s"dimension mismatch: index is $dim-dim")).cast("array<int>"),
      cells)
  }

  /** ANN search: prune to `nprobe` cells, exact-rerank, top-k by
    * (dist, id).
    *
    * `corpusFilter` is the FILTERED vector search every serving store
    * needs (Chroma exposes it as the `where=` metadata clause the
    * reference uses for its dedup probe, multiple_document_upload.py:141;
    * the reference's own retrieval notably does NOT filter by user —
    * §2.1 Q1's leakage quirk): the predicate applies AFTER cell pruning
    * and BEFORE the rerank/top-k, so matching rows can never be crowded
    * out by filtered-out neighbors (post-filtering the top-k would
    * return < k rows). On the persisted index both prunings compose:
    * file-level cell pruning × parquet predicate pushdown of the
    * metadata filter. For highly selective filters production
    * flips to brute force over the filtered rows (the candidate set is
    * already small); that switch is a cost decision, not a semantics
    * one — at nprobe = nlist this path IS the brute force, which is how
    * `ivf_filtered_precision` oracle-checks it. */
  def search(index: Index, q: Array[Float], k: Int = 13, nprobe: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding",
      corpusFilter: Column = lit(true)): DataFrame = {
    val cells = nearestCells(index.centroids, q, nprobe)
    searchCells(index.assigned, cells, q, k, idCol, vecCol, corpusFilter)
  }

  /** [[search]]'s probe-and-rerank half over PRECOMPUTED probe cells —
    * shared with [[graft.store.VersionedIndex.search]], whose `assigned`
    * frame comes from a manifest-stats-pruned file list (the probed
    * cells select FILES there, not just rows). */
  private[graft] def searchCells(assigned: DataFrame, cells: Seq[Int],
      q: Array[Float], k: Int, idCol: String, vecCol: String,
      corpusFilter: Column): DataFrame =
    assigned
      .filter(col("cell").isInCollection(cells))
      .filter(corpusFilter)
      .withColumn("dist", VectorOps.squaredL2(col(vecCol), lit(q)))
      .orderBy(col("dist").asc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("cell"), col("dist"))

  /** Incremental maintenance: assign NEW vectors to the existing
    * centroids and extend the index — no KMeans refit, no touch of the
    * already-assigned data. This is the operational path for a live
    * corpus (ingest appends vectors continuously; refitting 100 TB per
    * batch is not an option): a broadcast-centroid map-only pass, then a
    * union. Centroids drift from optimal as the distribution shifts —
    * [[imbalance]] is the rebuild trigger metric.
    *
    * Assignment shares the [[nearestCellsCol]] kernel order with search's
    * [[nearestCells]] (fails fast on null or wrong-dimension vectors
    * rather than mis-assigning them) and stays inside whole-stage codegen
    * — no UDF on the assignment path, and build/append agree bit-for-bit
    * on every assignment (both rank the published float centroids with
    * the same fold). */
  def append(index: Index, newVecs: DataFrame,
      vecCol: String = "embedding"): Index = {
    val assigned = newVecs
      .withColumn("cell",
        element_at(nearestCellsCol(index.centroids, col(vecCol), 1), 1))
      .select(index.assigned.columns.map(col).toSeq: _*)
    Index(index.centroids, index.assigned.unionByName(assigned))
  }

  /** Large×large batch k-NN join through the shared cell layout: every
    * query row multi-probes its `nprobe` nearest cells (explode), the
    * candidate join is a plain cell equi-join — pair count is
    * Σ_cell |Q∩cell|·|corpus∩cell| instead of |Q|·|corpus| — and the
    * per-query top-k is a rank window that compiles to WindowGroupLimit
    * (map-side trim before the q_id shuffle). This is the batch
    * similarity-graph builder when NEITHER side fits a broadcast (the
    * exact broadcast form is VectorQueries.knnBatchTop5); recall follows
    * probed-cell coverage exactly as in single-query IVF search, and a
    * corpus vector meets a query at most once per probe set (it lives in
    * ONE cell), so no dedup shuffle is needed. ScaleSpec measures recall
    * against the exact join. */
  def knnJoin(index: Index, queries: DataFrame, k: Int = 5, nprobe: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding",
      corpusFilter: Column = lit(true)): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_emb"))
      .withColumn("cell",
        explode(nearestCellsCol(index.centroids, col("q_emb"), nprobe)))
    // the filter narrows the CORPUS side before the cell join (and before
    // the rank window — filtering ranked rows after the fact would change
    // which neighbors survive), e.g. decontamination joins test queries
    // against the train-split subset of the shared index
    val corpus = index.assigned.filter(corpusFilter)
      .withColumnRenamed(idCol, "n_id").withColumnRenamed(vecCol, "n_emb")
    val pairs = q.join(corpus, "cell")
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        VectorOps.squaredL2(col("n_emb"), col("q_emb")).as("d"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("d").asc, col("n_id").asc)
    pairs.withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rn") <= k)
      .orderBy(col("q_id"), col("rn"))
  }

  /** Cell-size imbalance: max cell size over the mean size across ALL
    * nlist cells (empty cells included — averaging only occupied cells
    * would score the total-collapse layout, everything in one cell, as
    * perfectly balanced). ~1 means balanced; past a threshold (e.g. 3×)
    * the centroids no longer fit the data and probing degrades toward
    * scanning the hot cell — schedule a rebuild. */
  def imbalance(index: Index): Double = {
    val sizes = index.assigned.groupBy(col("cell")).count()
      .select(col("count")).collect().map(_.getLong(0))
    if (sizes.isEmpty || index.centroids.isEmpty) 1.0
    else sizes.max.toDouble / (sizes.sum.toDouble / index.centroids.length)
  }
}
