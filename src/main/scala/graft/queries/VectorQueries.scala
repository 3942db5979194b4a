package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.core.VectorOps

/** Exact k-NN retrieval queries — the Spark-native form of the reference's
  * `vector_db.similarity_search(question, k=13)` (/root/reference/app.py:409,
  * L2 space per app.py:73-76). Declared queries are exact brute-force with a
  * deterministic `(dist, vec_id)` tie-break so the DuckDB oracle hash-matches;
  * ANN variants (IVF / LSH) live in graft.scale and are bench-only.
  *
  * Scale notes (100 TB): the single-query form broadcasts the 1-row query
  * side, so scoring is a map-only stage over the store scan — no shuffle;
  * top-k plans as TakeOrderedAndProject (per-partition heap + driver merge of
  * k rows per partition, never a full sort). The batched form broadcasts the
  * whole query batch and keeps per-query top-k inside one shuffle of
  * (query × k) candidates.
  */
object VectorQueries {

  /** Distances are emitted as `round(d * 1e4)` bigints: the fold itself is
    * deterministic, but emitting raw doubles would make the driver's hash
    * compare fragile to engine-specific float formatting; scaled integers
    * hash identically everywhere (SURVEY.md §7.4 risk 5). */
  private def distE4(d: org.apache.spark.sql.Column) =
    round(d * lit(10000d)).cast("long")

  // ---------------------------------------------------------------- queries

  /** Top-13 nearest rows to the vec_id=0 vector by squared L2 — the minimum
    * slice (SURVEY.md §7.1). */
  def knnTop13(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
    emb
      .crossJoin(broadcast(q))
      .select(col("vec_id"), VectorOps.squaredL2(col("embedding"), col("q_emb")).as("d"))
      .orderBy(col("d").asc, col("vec_id").asc)
      .limit(13)
      .select(col("vec_id"), distE4(col("d")).as("dist_e4"))
  }

  /** Batched retrieval: for each of the first 8 vectors, the top-5 nearest
    * others (excluding self). Broadcast the query batch; per-query top-k via
    * a row_number window partitioned by query id. */
  def knnBatchTop5(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb
      .filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val scored = emb
      .crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), VectorOps.squaredL2(col("embedding"), col("q_emb")).as("d"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("d").asc, col("vec_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("rank"), col("vec_id"), distE4(col("d")).as("dist_e4"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** Batched retrieval via the bounded TopKAggregator (SURVEY.md §7.3) —
    * same result set as [[knnBatchTop5]] (and the same oracle), but each
    * partition forwards only k candidates per query instead of shuffling
    * and sorting all of them. */
  def knnBatchAgg(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb
      .filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val scored = emb
      .crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), VectorOps.squaredL2(col("embedding"), col("q_emb")).as("d"))
    val top5 = udaf(new graft.core.TopKAggregator(5))
    scored
      .groupBy(col("q_id"))
      .agg(top5(col("vec_id"), col("d")).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("q_id"), (col("pos") + 1).cast("int").as("rank"),
        col("s.id").as("vec_id"), distE4(col("s.d")).as("dist_e4"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** Cosine top-10 for the vec_id=0 query (excluding self) — same shape as
    * knnTop13 but on cosine distance. */
  def knnCosineTop10(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
    emb
      .filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), VectorOps.cosineDist(col("embedding"), col("q_emb")).as("d"))
      .orderBy(col("d").asc, col("vec_id").asc)
      .limit(10)
      .select(col("vec_id"), distE4(col("d")).as("dist_e4"))
  }

  /** Bounded rank window per ranker for RRF fusion — the standard
    * `rank_window_size` knob: each ranker contributes only its top-N list
    * and a doc outside that list gets no contribution from that ranker. */
  val RrfRankWindow = 100

  /** Hybrid retrieval via Reciprocal Rank Fusion — the standard fusion of
    * a vector rank list and a keyword rank list (score = Σ 1/(60+rank)):
    * cosine similarity to the vec_id=0 embedding on one side, word-set
    * Jaccard against doc_id=0's text on the other, RRF over both ranks.
    * Entirely rational arithmetic (no transcendentals), so the fused
    * ranking is oracle-hash-checked end to end.
    *
    * Scale shape: each rank list is bounded to [[RrfRankWindow]] BEFORE
    * any rank window runs — `orderBy(...).limit(N)` plans as
    * TakeOrderedAndProject (per-partition heap + driver merge of N rows
    * per partition), so the corpus-wide scoring stage is map-only and the
    * only unpartitioned `row_number` windows execute over ≤N rows. Ranks
    * within a top-N list equal global ranks (the list holds exactly the N
    * globally best under the same total order). Docs missing from one
    * list carry a NULL rank there and contribute 0 — the same fusion
    * semantics Elasticsearch/Vespa implement with `rank_window_size`.
    * PlanSpec pins the no-corpus-wide-unpartitioned-window property for
    * every declared query. */
  def rrfFusion(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    // drop empty tokens from runs of spaces: a phantom "" shared by two
    // texts must not count as an intersecting word
    val wordSet = array_remove(array_distinct(split(col("text"), " ")), "")
    val corpus = docs.join(emb, col("doc_id") === col("vec_id"))
      .select(col("doc_id"), wordSet.as("ws"), col("embedding"))
    val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
    val qw = docs.filter(col("doc_id") === 0).select(wordSet.as("q_words"))
    val inter = size(array_intersect(col("ws"), col("q_words")))
    val scored = corpus
      .filter(col("doc_id") =!= 0)
      .crossJoin(broadcast(qv))
      .crossJoin(broadcast(qw))
      .select(col("doc_id"),
        VectorOps.cosineSim(col("embedding"), col("q_emb")).as("vsim"),
        (inter.cast("double") / (size(col("ws")) + size(col("q_words")) - inter)).as("ksim"))
    // bounded top-N per ranker first (TakeOrderedAndProject), THEN the rank
    // window over the N-row list — never a corpus-wide single-reducer sort
    val vtop = scored.select(col("doc_id"), col("vsim"))
      .orderBy(col("vsim").desc, col("doc_id").asc).limit(RrfRankWindow)
      .withColumn("rv", row_number().over(Window.orderBy(col("vsim").desc, col("doc_id").asc)))
      .select(col("doc_id"), col("rv"))
    val ktop = scored.select(col("doc_id"), col("ksim"))
      .orderBy(col("ksim").desc, col("doc_id").asc).limit(RrfRankWindow)
      .withColumn("rk", row_number().over(Window.orderBy(col("ksim").desc, col("doc_id").asc)))
      .select(col("doc_id"), col("rk"))
    val rrf = coalesce(lit(1.0) / (lit(60) + col("rv")), lit(0.0)) +
      coalesce(lit(1.0) / (lit(60) + col("rk")), lit(0.0))
    vtop.join(ktop, Seq("doc_id"), "full_outer")
      .withColumn("rrf", rrf)
      .orderBy(col("rrf").desc, col("doc_id").asc)
      .limit(13)
      .select(col("doc_id"), col("rv"), col("rk"),
        round(col("rrf") * 1000000).cast("long").as("rrf_e6"))
  }

  /** INTEGER-EXACT k-means (Lloyd's, k = 8, 3 fixed iterations) — the
    * unsupervised clustering operator the supervised centroid rows
    * (label_centroids) and the MLlib-backed IVF build don't cover under
    * the oracle gate: every quantity is a long, so DuckDB can replay ALL
    * THREE Lloyd iterations digit-exactly (the pagerank unrolled-oracle
    * regime, for clustering). Embeddings quantize to e6 longs up front
    * (±4.6e5 per dim ⇒ Σ diff² ≤ 5.4e13 per pair — far inside long);
    * assignment is argmin over broadcast centroids with the
    * (dist, cluster) struct-min tie-break; the update is a FLOOR per-dim
    * mean (Math.floorDiv == DuckDB BIGINT `//`); a cluster that empties
    * drops (both engines re-derive centroids from non-empty groups
    * only). Init = the first k vectors.
    *
    * Plan shape at 100 TB: per iteration one MAP-SIDE argmin scan (the
    * k·dim centroid longs ride the plan as an array literal, folded to
    * a (dist, cluster) struct-min per row — no exchange) + one
    * (k × dim)-bounded partial aggregation — centroids cross the driver
    * as k·dim longs, never data; iterations are jobs, not lineage (the
    * quantized frame persists once). Output is the final assignment's
    * per-cluster roll-up plus centroid fingerprints (first dim + L1
    * norm). */
  def kmeansClusters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = 8; val iters = 3; val dims = 64
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        // widen to double BEFORE the scale-up: a float-precision product
        // rounds at 7 digits and flips occasional half-way cases
        expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))").as("q"))
      .persist() // read by iters+1 jobs; released by the harness clearCache
    var cents: Seq[(Long, Seq[Long])] = emb.filter(col("vec_id") < k)
      .as[(Long, Seq[Long])].collect().toSeq.sortBy(_._1)
    // an empty centroid literal would make array_min null and assign every
    // row to a null cluster
    require(cents.nonEmpty, "kmeans needs at least one initial centroid (empty embeddings input)")
    var lastAssign: DataFrame = null
    for (_ <- 1 to iters) {
      // r17 (guide §2.4 remove shuffles outright): assignment used to be
      // crossJoin(broadcast(centroids)) + groupBy(vec_id, q) + min(struct)
      // — a full shuffle KEYED ON THE 64-LONG ARRAY every iteration, just
      // to argmin k=8 rows back down. The centroids are k·dim bounded
      // driver state, so the argmin is a pure map: fold the same
      // (dist, cl) struct-min over a centroid array LITERAL per row —
      // bit-identical tie-break (lexicographic struct min), zero
      // exchanges per assignment at any scale.
      val centsCol = typedLit(cents.map { case (cl, c) => (cl, c) })
      lastAssign = emb
        .withColumn("m", array_min(transform(centsCol, cc =>
          struct(
            aggregate(zip_with(col("q"), cc.getField("_2"),
              (a, b) => (a - b) * (a - b)), lit(0L), (s, x) => s + x)
              .as("dist"),
            cc.getField("_1").as("cl")))))
        .select(col("vec_id"), col("q"), col("m.cl").as("cl"))
      val sums = lastAssign
        .select(col("cl"), posexplode(col("q")).as(Seq("d", "x")))
        .groupBy(col("cl"), col("d"))
        .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
        .as[(Long, Int, Long, Long)].collect()
      cents = sums.groupBy(_._1).toSeq.sortBy(_._1).map { case (cl, rows) =>
        val byDim = rows.sortBy(_._2)
        require(byDim.map(_._2).toSeq == (0 until dims),
          s"cluster $cl missing dims")
        (cl, byDim.map(r => Math.floorDiv(r._3, r._4)).toSeq)
      }
    }
    val fp = cents.map { case (cl, c) => (cl, c.head, c.map(math.abs).sum) }
      .toDF("cl", "c0_e6", "c_l1_e6")
    lastAssign.groupBy(col("cl"))
      .agg(count(lit(1)).as("n_members"), min(col("vec_id")).as("min_member"),
        sum(col("vec_id")).as("sum_members"))
      .join(broadcast(fp), "cl")
      .select(col("cl").as("cluster"), col("n_members"), col("min_member"),
        col("sum_members"), col("c0_e6"), col("c_l1_e6"))
      .orderBy(col("cluster"))
  }

  /** Rocchio pseudo-relevance feedback (X236) — the classical two-stage
    * retrieval refinement (Rocchio 1971; Manning/IR ch. 9): retrieve
    * top-10 for each query, treat them as pseudo-relevant, move the
    * query toward their centroid (q' = q + c̄ at α = β = 1), re-retrieve
    * top-5 with the expanded query — the zero-training recall lift every
    * retrieval stack ships before it has click feedback. Exactness:
    * embeddings quantize to e6 longs up front (the kmeans_clusters
    * regime), distances are order-free integer sums, the centroid is a
    * per-dim FLOOR mean (positive-residue form — Math.floorDiv on
    * negatives), so BOTH stages replay digit-exactly in DuckDB. Shape:
    * stage-1/stage-2 scoring is the corpus × 4-query broadcast
    * cross with per-query WindowGroupLimit trims (the knn_batch
    * recipe); the feedback centroid is a 4×64-long frame. */
  def rocchioPrf(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))").as("q"))
    val queries = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("q_id"), col("q").as("qv"))
    val corpus = emb.filter(col("vec_id") >= 4)
    def dist(a: String, b: String) =
      expr(s"aggregate(zip_with($a, $b, (x, y) -> (x - y) * (x - y)), 0L, (s, x) -> s + x)")
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("d").asc, col("vec_id").asc)
    val top10 = corpus.crossJoin(broadcast(queries))
      .withColumn("d", dist("q", "qv"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10)
    // per-dim floor mean of the 10 pseudo-relevant vectors, then q' = q + mean
    val cent = top10
      .select(col("q_id"), posexplode(col("q")).as(Seq("dim", "x")))
      .groupBy(col("q_id"), col("dim"))
      .agg(sum(col("x")).as("s"), count(lit(1)).as("k"))
      .withColumn("m", expr("(s - ((s % k + k) % k)) div k"))
      .groupBy(col("q_id"))
      .agg(expr("transform(array_sort(collect_list(struct(dim, m))), p -> p.m)")
        .as("cv"))
    val expanded = queries.join(cent, "q_id")
      .select(col("q_id"), expr("zip_with(qv, cv, (a, b) -> a + b)").as("qx"))
    corpus.crossJoin(broadcast(expanded))
      .withColumn("d", dist("q", "qx"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("q_id"), col("rn").cast("long").as("rank"),
        col("vec_id"), col("d").as("dist_q"))
      .orderBy(col("q_id"), col("rank"))
  }

  // ---------------------------------------------------------------- oracles

  /** One unrolled Lloyd iteration: assignment by (dist, cl) rank-1 over
    * the previous centroid set, then floor-mean centroid update with
    * empty clusters dropping out. DuckDB `//` TRUNCATES on integers
    * (probed: -7 // 2 = -3), so the floor is made explicit by
    * subtracting the positive residue first — Math.floorDiv on the
    * engine side. */
  private def kmRoundSql(prev: String, an: String, cn: String): String =
    s"""$an AS (
       |  SELECT vec_id, q, cl FROM (
       |    SELECT e.vec_id, e.q, c.cl,
       |      CAST(list_sum(list_transform(list_zip(e.q, c.c),
       |        p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS dist,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY CAST(list_sum(list_transform(list_zip(e.q, c.c),
       |          p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT), c.cl) AS rk
       |    FROM e CROSS JOIN $prev c) WHERE rk = 1),
       |$cn AS (
       |  SELECT cl, list(s ORDER BY d) AS c FROM (
       |    SELECT a.cl, u.i AS d,
       |      (CAST(SUM(a.q[u.i]) AS BIGINT)
       |        - ((CAST(SUM(a.q[u.i]) AS BIGINT) % COUNT(*) + COUNT(*)) % COUNT(*)))
       |        // COUNT(*) AS s
       |    FROM $an a, unnest(generate_series(1, 64)) u(i)
       |    GROUP BY a.cl, u.i)
       |  GROUP BY cl)"""

  /** DuckDB left-to-right fold for squared L2 between two list<float>
    * columns, elements cast to double first (mirrors VectorOps.squaredL2). */
  private def sqL2Sql(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), " +
      s"p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))"

  private def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), " +
      s"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"

  private lazy val batchTop5Sql: String =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 8),
       |d AS (SELECT q.q_id, e.vec_id, ${sqL2Sql("e.embedding", "q.q_emb")} AS d
       |      FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.q_id),
       |r AS (SELECT q_id, vec_id, d,
       |             row_number() OVER (PARTITION BY q_id ORDER BY d, vec_id) AS rank
       |      FROM d)
       |SELECT q_id, CAST(rank AS INT) AS rank, vec_id, CAST(round(d * 10000) AS BIGINT) AS dist_e4
       |FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  private lazy val kmeansSql: String =
    s"""WITH e AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
       |  FROM embeddings),
       |c0 AS (SELECT vec_id AS cl, q AS c FROM e WHERE vec_id < 8),
       |${kmRoundSql("c0", "a1", "c1")},
       |${kmRoundSql("c1", "a2", "c2")},
       |${kmRoundSql("c2", "a3", "c3")}
       |SELECT a.cl AS cluster, CAST(COUNT(*) AS BIGINT) AS n_members,
       |  CAST(MIN(a.vec_id) AS BIGINT) AS min_member,
       |  CAST(SUM(a.vec_id) AS BIGINT) AS sum_members,
       |  CAST(MIN(c.c[1]) AS BIGINT) AS c0_e6,
       |  CAST(MIN(list_sum(list_transform(c.c, x -> abs(x)))) AS BIGINT) AS c_l1_e6
       |FROM a3 a JOIN c3 c USING (cl)
       |GROUP BY a.cl ORDER BY a.cl""".stripMargin

  val oracles: Map[String, String] = Map(
    // both stages replayed on e6-long vectors: integer L2, floor-mean
    // centroid (positive-residue form), q' = q + centroid
    "rocchio_prf" ->
      """WITH e AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
        |  FROM embeddings),
        |qs AS (SELECT vec_id AS q_id, q AS qv FROM e WHERE vec_id < 4),
        |corpus AS (SELECT vec_id, q FROM e WHERE vec_id >= 4),
        |s1 AS (
        |  SELECT qs.q_id, c.vec_id, c.q,
        |    CAST(list_sum(list_transform(list_zip(c.q, qs.qv),
        |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d
        |  FROM corpus c CROSS JOIN qs),
        |top10 AS (
        |  SELECT * FROM (
        |    SELECT q_id, vec_id, q,
        |      row_number() OVER (PARTITION BY q_id ORDER BY d, vec_id) AS rn
        |    FROM s1) WHERE rn <= 10),
        |cent AS (
        |  SELECT q_id, list(m ORDER BY dim) AS cv FROM (
        |    SELECT q_id, u.i AS dim,
        |      (CAST(SUM(q[u.i]) AS BIGINT)
        |        - ((CAST(SUM(q[u.i]) AS BIGINT) % COUNT(*) + COUNT(*))
        |           % COUNT(*))) // COUNT(*) AS m
        |    FROM top10, unnest(generate_series(1, 64)) u(i)
        |    GROUP BY q_id, u.i)
        |  GROUP BY q_id),
        |expanded AS (
        |  SELECT qs.q_id,
        |    list_transform(list_zip(qs.qv, cent.cv), p -> p[1] + p[2]) AS qx
        |  FROM qs JOIN cent ON cent.q_id = qs.q_id),
        |s2 AS (
        |  SELECT x.q_id, c.vec_id,
        |    CAST(list_sum(list_transform(list_zip(c.q, x.qx),
        |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d
        |  FROM corpus c CROSS JOIN expanded x)
        |SELECT q_id, CAST(rn AS BIGINT) AS rank, vec_id, d AS dist_q
        |FROM (
        |  SELECT q_id, vec_id, d,
        |    row_number() OVER (PARTITION BY q_id ORDER BY d, vec_id) AS rn
        |  FROM s2) WHERE rn <= 5
        |ORDER BY q_id, rank""".stripMargin,
    "kmeans_clusters" -> kmeansSql,
    // the ±1 matrix is re-derived from md5 in SQL; the projection sum is
    // integer, so SUM's HUGEINT widening casts back losslessly
    "random_projection" ->
      """WITH dims AS (SELECT unnest(generate_series(0, 15)) AS j),
        |idx AS (SELECT unnest(generate_series(0, 63)) AS i),
        |s AS (
        |  SELECT j, i,
        |    CASE WHEN substr(md5('rp:' || i || ':' || j), 1, 1)
        |           IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END AS sgn
        |  FROM dims CROSS JOIN idx),
        |x AS (
        |  SELECT e.vec_id, idx.i,
        |    CAST(round(CAST(e.embedding[idx.i + 1] AS DOUBLE) * 10000) AS BIGINT) AS xe4
        |  FROM embeddings e CROSS JOIN idx)
        |SELECT x.vec_id, CAST(s.j AS INT) AS dim,
        |  CAST(SUM(x.xe4 * s.sgn) AS BIGINT) AS y_e4
        |FROM x JOIN s ON s.i = x.i
        |GROUP BY x.vec_id, s.j
        |ORDER BY vec_id, dim""".stripMargin,
    // same md5-matrix re-derivation as random_projection, then floor(y/Q)
    // in DOUBLE (both engines) and a min/count per occupied grid cell
    "grid_diversity_sample" ->
      """WITH dims AS (SELECT unnest(generate_series(0, 3)) AS j),
        |idx AS (SELECT unnest(generate_series(0, 63)) AS i),
        |s AS (
        |  SELECT j, i,
        |    CASE WHEN substr(md5('gs:' || i || ':' || j), 1, 1)
        |           IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END AS sgn
        |  FROM dims CROSS JOIN idx),
        |x AS (
        |  SELECT e.vec_id, idx.i,
        |    CAST(round(CAST(e.embedding[idx.i + 1] AS DOUBLE) * 10000) AS BIGINT) AS xe4
        |  FROM embeddings e CROSS JOIN idx),
        |y AS (
        |  SELECT x.vec_id, s.j,
        |    CAST(floor(CAST(SUM(x.xe4 * s.sgn) AS DOUBLE) / 15000.0) AS BIGINT) AS c
        |  FROM x JOIN s ON s.i = x.i
        |  GROUP BY x.vec_id, s.j),
        |g AS (
        |  SELECT vec_id,
        |    MAX(CASE WHEN j = 0 THEN c END) AS c0,
        |    MAX(CASE WHEN j = 1 THEN c END) AS c1,
        |    MAX(CASE WHEN j = 2 THEN c END) AS c2,
        |    MAX(CASE WHEN j = 3 THEN c END) AS c3
        |  FROM y GROUP BY vec_id)
        |SELECT c0, c1, c2, c3, MIN(vec_id) AS keep_id, COUNT(*) AS n_members
        |FROM g GROUP BY c0, c1, c2, c3 ORDER BY c0, c1, c2, c3""".stripMargin,
    "knn_top13" ->
      s"""WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
         |d AS (SELECT e.vec_id, ${sqL2Sql("e.embedding", "q.q_emb")} AS d
         |      FROM embeddings e CROSS JOIN q)
         |SELECT vec_id, CAST(round(d * 10000) AS BIGINT) AS dist_e4
         |FROM d ORDER BY d, vec_id LIMIT 13""".stripMargin,
    "knn_batch_top5" -> batchTop5Sql,
    "knn_batch_agg" -> batchTop5Sql, // same contract, different physical strategy
    "knn_cosine_top10" ->
      s"""WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
         |d AS (SELECT e.vec_id,
         |             1.0 - ${dotSql("e.embedding", "q.q_emb")} /
         |                   (sqrt(${dotSql("e.embedding", "e.embedding")}) * sqrt(${dotSql("q.q_emb", "q.q_emb")})) AS d
         |      FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0)
         |SELECT vec_id, CAST(round(d * 10000) AS BIGINT) AS dist_e4
         |FROM d ORDER BY d, vec_id LIMIT 10""".stripMargin,
    "rrf_fusion" ->
      s"""WITH words AS (
         |  SELECT doc_id,
         |    list_filter(list_distinct(string_split(text, ' ')), x -> x <> '') AS ws
         |  FROM documents),
         |corpus AS (
         |  SELECT w.doc_id, w.ws, e.embedding
         |  FROM words w JOIN embeddings e ON w.doc_id = e.vec_id),
         |qv AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
         |qw AS (SELECT ws AS q_words FROM words WHERE doc_id = 0),
         |scored AS (
         |  SELECT c.doc_id,
         |    ${dotSql("c.embedding", "qv.q_emb")} /
         |      (sqrt(${dotSql("c.embedding", "c.embedding")}) * sqrt(${dotSql("qv.q_emb", "qv.q_emb")})) AS vsim,
         |    CAST(len(list_filter(c.ws, x -> list_contains(qw.q_words, x))) AS DOUBLE) /
         |      (len(c.ws) + len(qw.q_words) -
         |       len(list_filter(c.ws, x -> list_contains(qw.q_words, x)))) AS ksim
         |  FROM corpus c CROSS JOIN qv CROSS JOIN qw WHERE c.doc_id <> 0),
         |vtop AS (
         |  SELECT doc_id, CAST(row_number() OVER (ORDER BY vsim DESC, doc_id) AS INT) AS rv
         |  FROM scored QUALIFY rv <= 100),
         |ktop AS (
         |  SELECT doc_id, CAST(row_number() OVER (ORDER BY ksim DESC, doc_id) AS INT) AS rk
         |  FROM scored QUALIFY rk <= 100),
         |fused AS (
         |  SELECT COALESCE(v.doc_id, k.doc_id) AS doc_id, v.rv, k.rk,
         |    COALESCE(1.0 / (60 + v.rv), 0) + COALESCE(1.0 / (60 + k.rk), 0) AS rrf
         |  FROM vtop v FULL OUTER JOIN ktop k ON v.doc_id = k.doc_id)
         |SELECT doc_id, rv, rk, CAST(round(rrf * 1000000) AS BIGINT) AS rrf_e6
         |FROM fused ORDER BY rrf DESC, doc_id LIMIT 13""".stripMargin,
    // Spark posexplode is 0-based; generate_series below starts at 1, so
    // pos = i - 1 aligns the two
    "centroid_drift" ->
      """WITH e AS (
        |  SELECT label, vec_id,
        |    unnest(list_transform(generate_series(1, len(embedding)),
        |      i -> {'pos': i - 1, 'v': embedding[i]})) AS s
        |  FROM embeddings),
        |sums AS (
        |  SELECT label, s.pos AS pos,
        |    COUNT(*) FILTER (WHERE vec_id < 250) AS n_old,
        |    COUNT(*) FILTER (WHERE vec_id >= 250) AS n_new,
        |    CAST(COALESCE(SUM(round(CAST(s.v AS DOUBLE) * 10000)) FILTER (WHERE vec_id < 250), 0) AS BIGINT) AS s_old,
        |    CAST(COALESCE(SUM(round(CAST(s.v AS DOUBLE) * 10000)) FILTER (WHERE vec_id >= 250), 0) AS BIGINT) AS s_new
        |  FROM e GROUP BY label, s.pos),
        |d AS (
        |  SELECT label, n_old, n_new,
        |    CASE WHEN n_old > 0 AND n_new > 0 THEN
        |      CAST(round(CAST(s_new AS DOUBLE) / n_new) AS BIGINT)
        |        - CAST(round(CAST(s_old AS DOUBLE) / n_old) AS BIGINT)
        |    END AS dd
        |  FROM sums)
        |SELECT label, MAX(n_old) AS n_old_vecs, MAX(n_new) AS n_new_vecs,
        |  CASE WHEN SUM(dd * dd) IS NOT NULL
        |    THEN CAST(round(sqrt(CAST(SUM(dd * dd) AS DOUBLE))) AS BIGINT) END AS drift_e4
        |FROM d GROUP BY label ORDER BY label""".stripMargin,
    "label_centroids" ->
      """WITH e AS (
        |  SELECT label,
        |    unnest(list_transform(generate_series(1, len(embedding)),
        |      i -> {'pos': i - 1, 'v': embedding[i]})) AS s
        |  FROM embeddings)
        |SELECT label, CAST(s.pos AS INT) AS pos, COUNT(*) AS n,
        |  CAST(SUM(round(CAST(s.v AS DOUBLE) * 10000)) AS BIGINT) AS sum_e4
        |FROM e WHERE s.pos < 8
        |GROUP BY label, s.pos ORDER BY label, pos""".stripMargin,
    // same e4-fixed explode as label_centroids; ranks compare the exact
    // integer d²·n², the double division is display-only after ranking
    "embedding_outliers" ->
      """WITH e AS (
        |  SELECT label, vec_id,
        |    unnest(list_transform(generate_series(1, len(embedding)),
        |      i -> {'pos': i - 1, 'v': embedding[i]})) AS s
        |  FROM embeddings),
        |ex AS (
        |  SELECT label, vec_id, s.pos AS pos,
        |    CAST(round(CAST(s.v AS DOUBLE) * 10000) AS BIGINT) AS v_e4
        |  FROM e),
        |cent AS (
        |  SELECT label, pos, COUNT(*) AS n, SUM(v_e4) AS s_e4
        |  FROM ex GROUP BY label, pos),
        |d AS (
        |  SELECT ex.label, ex.vec_id, MAX(c.n) AS n,
        |    SUM((ex.v_e4 * c.n - c.s_e4) * (ex.v_e4 * c.n - c.s_e4)) AS d2n2
        |  FROM ex JOIN cent c ON ex.label = c.label AND ex.pos = c.pos
        |  GROUP BY ex.label, ex.vec_id),
        |r AS (
        |  SELECT label, vec_id, n, d2n2,
        |    row_number() OVER (PARTITION BY label ORDER BY d2n2 DESC, vec_id) AS rank
        |  FROM d)
        |SELECT label, CAST(rank AS INT) AS rank, vec_id,
        |  CAST(round(CAST(d2n2 AS DOUBLE) / CAST(n * n AS DOUBLE) / 100.0) AS BIGINT) AS dist2_e6
        |FROM r WHERE rank <= 3 ORDER BY label, rank""".stripMargin
  )

  /** Per-label centroid accumulation — the class-prototype / IVF-cell
    * statistics primitive: posexplode to (label, dim), one partial-
    * aggregated shuffle of labels×dims keys. Per-element e4 fixed-point
    * BEFORE summation keeps the sums integer-exact and order-free (no
    * float→decimal rounding hazard); the consumer divides sum_e4/n for
    * the mean. Emitted sparse (first 8 dims) to keep the declared output
    * small — the plan is identical at any dim count. */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .filter(col("pos") < 8)
      .groupBy(col("label"), col("pos"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("v").cast("double") * 10000).cast("long")).as("sum_e4"))
      .orderBy(col("label"), col("pos"))

  /** Embedding outlier screen — the curation pass that catches mislabeled
    * or corrupted samples before training: per label, the 3 vectors
    * farthest (squared L2) from their own label's centroid. The whole
    * ranking chain is order-free integer arithmetic: values are e4-fixed,
    * centroid sums are integer, and each vector's distance is compared as
    * d²·n² = Σ_pos (v_e4·n − Σv_e4)² — an exact integer (n is constant
    * within a label, so the n² factor never reorders ranks); the one
    * double division happens after ranking, for display. Plan shape: a
    * map-side explode into a (label, pos) aggregate (labels × dims rows —
    * tiny), a broadcast join back, a per-vector integer rollup, and a
    * per-label rank that compiles to WindowGroupLimit. Integer headroom:
    * |v_e4·n − Σv_e4| ≤ 2·1e4·n, so the 64-dim squared sum is bounded by
    * 2.56e10·n² and stays under 2⁶³ through n ≈ 1.9e4 vectors per label;
    * beyond that, rank on the drift-style fixed-order double chain
    * instead. */
  def embeddingOutliers(spark: SparkSession, dir: String): DataFrame = {
    val ex = Tables.embeddings(spark, dir)
      .select(col("label"), col("vec_id"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .withColumn("v_e4", round(col("v").cast("double") * 10000).cast("long"))
    val cent = ex.groupBy(col("label"), col("pos"))
      .agg(count(lit(1)).as("n"), sum(col("v_e4")).as("s_e4"))
    val d2 = ex.join(broadcast(cent), Seq("label", "pos"))
      .withColumn("diff", col("v_e4") * col("n") - col("s_e4"))
      .groupBy(col("label"), col("vec_id"), col("n"))
      .agg(sum(col("diff") * col("diff")).as("d2n2"))
    val w = Window.partitionBy(col("label"))
      .orderBy(col("d2n2").desc, col("vec_id").asc)
    d2.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("label"), col("rank"), col("vec_id"),
        round(col("d2n2").cast("double") /
          (col("n") * col("n")).cast("double") / 100.0).cast("long")
          .as("dist2_e6"))
      .orderBy(col("label"), col("rank"))
  }

  /** Embedding drift monitor: per-label L2 distance between the OLD
    * corpus generation's centroid (vec_id < 250) and the NEW one's —
    * the check a pipeline runs after a re-embed or a new crawl lands,
    * before trusting the index ("did the distribution move?"). The
    * whole chain is order-free: per-(label, generation, position)
    * means come from e4-fixed-point integer sums, per-position deltas
    * are integer subtractions, the squared sum is an exact integer, and
    * the single sqrt/round at the end is engine-identical. Shuffle keys
    * are (label, gen, pos) — scale with dims × labels, never rows. */
  def centroidDrift(spark: SparkSession, dir: String): DataFrame = {
    val isOld = col("vec_id") < 250
    // single pass over ALL dimensions: conditional counts/sums per
    // (label, pos) — no self-join, so a label living entirely in one
    // generation (the loudest drift signal) still surfaces, with
    // drift_e4 NULL (no centroid to compare) instead of vanishing
    val sums = Tables.embeddings(spark, dir)
      .select(col("label"), col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .withColumn("v_e4", round(col("v").cast("double") * 10000).cast("long"))
      .groupBy(col("label"), col("pos"))
      .agg(count(when(isOld, lit(1))).as("n_old"),
        count(when(!isOld, lit(1))).as("n_new"),
        sum(when(isOld, col("v_e4")).otherwise(lit(0L))).as("s_old"),
        sum(when(!isOld, col("v_e4")).otherwise(lit(0L))).as("s_new"))
      .withColumn("d",
        when(col("n_old") > 0 && col("n_new") > 0,
          round(col("s_new").cast("double") / col("n_new")).cast("long") -
            round(col("s_old").cast("double") / col("n_old")).cast("long")))
    sums.groupBy(col("label"))
      .agg(max(col("n_old")).as("n_old_vecs"), max(col("n_new")).as("n_new_vecs"),
        sum(col("d") * col("d")).as("ss"))
      .select(col("label"), col("n_old_vecs"), col("n_new_vecs"),
        when(col("ss").isNotNull, round(sqrt(col("ss").cast("double"))).cast("long"))
          .as("drift_e4"))
      .orderBy(col("label"))
  }

  /** Johnson–Lindenstrauss random projection 64 → 16 dims — the
    * dimensionality-reduction pass a pipeline runs before ANN indexing /
    * clustering when the embedding dim is wasteful (4× less vector IO at
    * preserved pairwise geometry, ε ~ sqrt(ln n / k)). The projection
    * matrix is a ±1 Achlioptas sign matrix derived from md5("rp:i:j") —
    * a pure function both engines reproduce digit for digit, so unlike a
    * Gaussian matrix this is fully oracle-checkable. Arithmetic is the
    * integer recipe: inputs e4-fixed per element, y_j = Σ_i x_e4[i]·s_ij
    * is an order-free integer sum (no IEEE summation-order dependence).
    * Plan: the 16×64 sign matrix is a LITERAL (driver cost is the
    * parameterization, never data), the projection is one codegen'd HOF
    * chain per row, map-only — no shuffle until the output sort. */
  def randomProjection(spark: SparkSession, dir: String): DataFrame = {
    val d = 64
    val k = 16
    def sign(i: Int, j: Int): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"rp:$i:$j".getBytes("UTF-8"))
      if ((h(0) & 0x80) != 0) 1L else -1L // first hex digit in 8..f
    }
    // S[j][i]: row per output dim for a direct M[j][i] lookup in the HOF
    val s = Seq.tabulate(k, d)((j, i) => sign(i, j))
    val sLit = typedlit(s)
    val xe4 = transform(col("embedding"),
      x => round(x.cast("double") * 10000).cast("long"))
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), xe4.as("xe4"))
      .select(col("vec_id"), posexplode(
        transform(sequence(lit(0), lit(k - 1)), j =>
          aggregate(sequence(lit(0), lit(d - 1)), lit(0L),
            (acc, i) => acc +
              element_at(col("xe4"), i + 1) *
              element_at(element_at(sLit, j + 1), i + 1)))))
      .select(col("vec_id"), col("pos").as("dim"), col("col").as("y_e4"))
      .orderBy(col("vec_id"), col("dim"))
  }

  /** Grid-blocked diversity sampling — the semantic-coverage coreset pass
    * a training-data pipeline runs AFTER dedup: near-dup removal kills
    * copies, but a corpus can still be 90% one topic; diversity sampling
    * keeps representatives spread across embedding space (the practical
    * stand-in for greedy k-center, which is inherently sequential). The
    * space is carved by a deterministic JL sign projection (64 → 4 dims,
    * md5 matrix — X92's recipe, so the whole pass is oracle-checkable)
    * quantized into grid cells; each occupied cell keeps its min-id
    * member. Cell width 15000 e4-units ≈ 1.8σ of the projected
    * coordinate, the resolution where the fixture's 500 vectors spread
    * over ~110 cells.
    *
    * Scale shape: one map-only projection pass (codegen'd integer HOFs —
    * inputs e4-fixed, each coordinate an order-free integer sum), one
    * groupBy on the 4-int cell key. No pairwise math anywhere — coverage
    * sampling at 100 TB is exactly one aggregation. floor(y/Q) is
    * evaluated in DOUBLE on both engines (integer `div` truncates toward
    * zero — it would merge the two cells adjacent to 0). */
  def gridDiversitySample(spark: SparkSession, dir: String): DataFrame = {
    val d = 64
    val k = 4
    val q = 15000.0
    def sign(i: Int, j: Int): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"gs:$i:$j".getBytes("UTF-8"))
      if ((h(0) & 0x80) != 0) 1L else -1L
    }
    val s = Seq.tabulate(k, d)((j, i) => sign(i, j))
    val sLit = typedlit(s)
    val xe4 = transform(col("embedding"),
      x => round(x.cast("double") * 10000).cast("long"))
    val cells = (0 until k).map { j =>
      val y = aggregate(sequence(lit(0), lit(d - 1)), lit(0L),
        (acc, i) => acc +
          element_at(col("xe4"), i + 1) *
          element_at(element_at(sLit, j + 1), i + 1))
      floor(y.cast("double") / lit(q)).cast("long").as(s"c$j")
    }
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), xe4.as("xe4"))
      .select((col("vec_id") +: cells): _*)
      .groupBy(col("c0"), col("c1"), col("c2"), col("c3"))
      .agg(min(col("vec_id")).as("keep_id"), count(lit(1)).as("n_members"))
      .orderBy(col("c0"), col("c1"), col("c2"), col("c3"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "random_projection" -> (randomProjection _),
    "grid_diversity_sample" -> (gridDiversitySample _),
    "centroid_drift" -> (centroidDrift _),
    "knn_top13" -> (knnTop13 _),
    "kmeans_clusters" -> (kmeansClusters _),
    "rocchio_prf" -> (rocchioPrf _),
    "knn_batch_top5" -> (knnBatchTop5 _),
    "knn_batch_agg" -> (knnBatchAgg _),
    "knn_cosine_top10" -> (knnCosineTop10 _),
    "rrf_fusion" -> (rrfFusion _),
    "label_centroids" -> (labelCentroids _),
    "embedding_outliers" -> (embeddingOutliers _)
  )
}
