package graft.scale

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.Tables
import graft.core.VectorOps

class NswSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, sfDir).cache()
  private lazy val graph = Nsw.build(emb, maxLevel = 0, numShards = 4).cache()

  private def queryVec(id: Long): Array[Float] =
    emb.filter(col("vec_id") === id).select(col("embedding"))
      .head().getSeq[Float](0).toArray

  private def exactTopK(q: Array[Float], k: Int): Seq[Long] =
    emb.withColumn("d", VectorOps.squaredL2(col("embedding"), lit(q)))
      .orderBy(col("d").asc, col("vec_id").asc)
      .limit(k).select("vec_id").as[Long].collect().toSeq

  test("every node is reachable from its shard's entry (guarded parent edges hold)") {
    val rows = graph.select(col("shard"), col("vec_id"), col("layers")(0))
      .as[(Int, Long, Array[Long])].collect()
    assert(rows.length == emb.count())
    rows.groupBy(_._1).foreach { case (shard, nodes) =>
      val adj = nodes.map(n => n._2 -> n._3).toMap
      val entry = nodes.map(_._2).min
      val seen = scala.collection.mutable.Set(entry)
      val stack = scala.collection.mutable.Stack(entry)
      while (stack.nonEmpty)
        adj(stack.pop()).foreach(v => if (seen.add(v)) stack.push(v))
      assert(seen.size == nodes.length,
        s"shard $shard: ${nodes.length - seen.size} nodes unreachable from entry")
    }
  }

  test("degree contract: capped at 2m except guarded children; tail is small") {
    val degs = graph.select(size(col("layers")(0))).as[Int].collect()
    val over = degs.count(_ > 2 * Nsw.DefaultM)
    // guarded edges total n-1 graph-wide; hubs past the cap must stay rare
    assert(over <= degs.length / 10, s"$over of ${degs.length} nodes exceed the 2m cap")
    assert(degs.max <= 2 * Nsw.DefaultM + 64, s"runaway hub degree ${degs.max}")
  }

  test("unbounded beam reproduces exact brute-force top-13 (nsw_precision regime)") {
    for (qid <- Seq(0L, 7L, 123L)) {
      val q = queryVec(qid)
      val got = Nsw.search(graph, q, k = 13, ef = Int.MaxValue)
        .select("vec_id").as[Long].collect().toSeq
      assert(got == exactTopK(q, 13), s"query $qid diverged from brute force")
    }
  }

  test("filtered search: exact over the filtered corpus; in-beam filter beats post-filter") {
    // sparse predicate (1 in 16 ids): exact filtered brute force at
    // unbounded beam, for flat AND hnsw paths
    val admitted = emb.filter(col("vec_id") % 16 === 3).select(col("vec_id"))
    val admIds = admitted.as[Long].collect().toSet
    val q = queryVec(0L)
    def exactFiltered(k: Int): Seq[Long] =
      emb.filter(col("vec_id") % 16 === 3)
        .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
        .collect().toSeq
        .map { case (id, v) => (id, v.zip(q).map { case (a, b) => (a - b).toDouble * (a - b) }.sum) }
        .sortBy { case (id, d) => (d, id) }.take(k).map(_._1)
    val gotFlat = Nsw.search(graph, q, k = 13, ef = Int.MaxValue, admitted = admitted)
      .select("vec_id").as[Long].collect().toSeq
    assert(gotFlat == exactFiltered(13), "flat filtered search diverged from brute force")
    val hg = Nsw.build(emb, maxLevel = Nsw.DefaultMaxLevel, numShards = 4)
    val gotH = Nsw.search(hg, q, k = 13, ef = Int.MaxValue, admitted = admitted)
      .select("vec_id").as[Long].collect().toSeq
    assert(gotH == exactFiltered(13), "hnsw filtered search diverged from brute force")
    // bounded beam: the in-beam filter returns k admitted rows; a
    // POST-filter of the same-ef unfiltered search is crowded out
    val inBeam = Nsw.search(graph, q, k = 13, ef = 24, admitted = admitted)
      .select("vec_id").as[Long].collect().toSeq
    assert(inBeam.size == 13, s"in-beam filter returned ${inBeam.size} rows")
    assert(inBeam.forall(admIds), "in-beam filter leaked a non-matching row")
    val postFiltered = Nsw.search(graph, q, k = 13, ef = 24)
      .select("vec_id").as[Long].collect().toSeq.filter(admIds)
    assert(postFiltered.size < 13,
      s"post-filter unexpectedly kept ${postFiltered.size} rows — predicate not sparse enough to pin the contrast")
  }

  test("working-beam search reaches high recall vs exact top-13") {
    val qids = Seq(0L, 7L, 42L, 123L, 321L)
    val recalls = qids.map { qid =>
      val q = queryVec(qid)
      val got = Nsw.search(graph, q, k = 13, ef = 48)
        .select("vec_id").as[Long].collect().toSet
      val want = exactTopK(q, 13).toSet
      got.intersect(want).size.toDouble / want.size
    }
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.85, s"mean recall $mean too low (per-query: $recalls)")
  }

  test("build is deterministic: identical adjacency on rebuild") {
    val a = graph.select(col("vec_id"), col("layers")(0))
      .as[(Long, Array[Long])].collect().map(r => r._1 -> r._2.toSeq).toMap
    val b = Nsw.build(emb, maxLevel = 0, numShards = 4)
      .select(col("vec_id"), col("layers")(0))
      .as[(Long, Array[Long])].collect().map(r => r._1 -> r._2.toSeq).toMap
    assert(a == b)
  }

  test("cell-keyed hybrid: all-cells unbounded beam is exact; pruned probe keeps recall") {
    val index = Ivf.build(spark, emb, nlist = 8)
    val g = Nsw.buildByCell(index).cache()
    assert(g.count() == emb.count())
    for (qid <- Seq(0L, 42L)) {
      val q = queryVec(qid)
      val exactGot = Nsw.searchPruned(g, index.centroids, q, k = 13,
        nprobe = index.centroids.length, ef = Int.MaxValue)
        .select("vec_id").as[Long].collect().toSeq
      assert(exactGot == exactTopK(q, 13), s"hybrid exhaustive diverged for query $qid")
      // pruned probe: cell coverage is IVF's loss (characterized in
      // ScaleSpec); what the hybrid must get right is the beam INSIDE
      // the probed cells — compare against the exact top-13 restricted
      // to those cells
      val pruned = Nsw.searchPruned(g, index.centroids, q, k = 13, nprobe = 3, ef = 48)
        .select("vec_id").as[Long].collect().toSet
      val probedExact = Nsw.searchPruned(g, index.centroids, q, k = 13,
        nprobe = 3, ef = Int.MaxValue)
        .select("vec_id").as[Long].collect().toSet
      assert(pruned.intersect(probedExact).size >= 12,
        s"in-cell beam recall too low for query $qid: " +
          s"${pruned.intersect(probedExact).size}/13")
    }
  }

  test("single-node shard searches without crashing") {
    val one = emb.filter(col("vec_id") === 0)
    val g = Nsw.build(one, maxLevel = 0, numShards = 2)
    val got = Nsw.search(g, queryVec(0), k = 5, ef = 8)
      .select("vec_id").as[Long].collect().toSeq
    assert(got == Seq(0L))
  }

  test("duplicate vec_id within a shard fails loudly instead of corrupting the graph") {
    val dup = emb.filter(col("vec_id") < 8)
      .unionAll(emb.filter(col("vec_id") < 8))
    val e = intercept[org.apache.spark.SparkException] {
      Nsw.build(dup, maxLevel = 0, numShards = 2).count()
    }
    assert(e.getMessage.contains("duplicate vec_id") ||
      Option(e.getCause).exists(_.getMessage.contains("duplicate vec_id")))
  }

  // ------------------------------------------------------------------ HNSW

  private lazy val hnsw =
    Nsw.build(emb, maxLevel = Nsw.DefaultMaxLevel, numShards = 4).cache()

  test("hnsw level assignment is deterministic and geometric (P(level>=l) ~ 8^-l)") {
    val n = 100000
    val levels = (0 until n).map(i => Nsw.levelOf(i.toLong))
    assert(levels == (0 until n).map(i => Nsw.levelOf(i.toLong)), "not deterministic")
    val atLeast1 = levels.count(_ >= 1).toDouble / n
    val atLeast2 = levels.count(_ >= 2).toDouble / n
    assert(math.abs(atLeast1 - 1.0 / 8) < 0.01, s"P(level>=1)=$atLeast1, want ~0.125")
    assert(math.abs(atLeast2 - 1.0 / 64) < 0.005, s"P(level>=2)=$atLeast2, want ~0.0156")
  }

  test("hnsw structure: every node spans layers 0..level; layer 0 is connected") {
    val rows = hnsw.select("shard", "vec_id", "level", "layers")
      .as[(Int, Long, Int, Array[Array[Long]])].collect()
    assert(rows.length == emb.count())
    rows.foreach { case (_, id, lvl, layers) =>
      assert(lvl == Nsw.levelOf(id), s"node $id level mismatch")
      assert(layers.length == lvl + 1, s"node $id has ${layers.length} layers for level $lvl")
    }
    // guarded parent edges keep layer 0 connected — the hnsw_precision
    // exactness contract
    rows.groupBy(_._1).foreach { case (shard, nodes) =>
      val adj = nodes.map(n => n._2 -> n._4(0)).toMap
      val entry = nodes.map(_._2).min
      val seen = scala.collection.mutable.Set(entry)
      val stack = scala.collection.mutable.Stack(entry)
      while (stack.nonEmpty)
        adj(stack.pop()).foreach(v => if (seen.add(v)) stack.push(v))
      assert(seen.size == nodes.length,
        s"shard $shard: ${nodes.length - seen.size} nodes unreachable at layer 0")
    }
    // upper-layer adjacency only references nodes that exist at that layer
    val levelOfId = rows.map(r => r._2 -> r._3).toMap
    rows.foreach { case (_, id, _, layers) =>
      layers.zipWithIndex.foreach { case (ns, l) =>
        ns.foreach(v => assert(levelOfId(v) >= l,
          s"node $id layer $l links to $v whose level is ${levelOfId(v)}"))
      }
    }
  }

  test("hnsw unbounded beam reproduces exact brute-force top-13 (hnsw_precision regime)") {
    for (qid <- Seq(0L, 7L, 123L)) {
      val q = queryVec(qid)
      val got = Nsw.search(hnsw, q, k = 13, ef = Int.MaxValue)
        .select("vec_id").as[Long].collect().toSeq
      assert(got == exactTopK(q, 13), s"query $qid diverged from brute force")
    }
  }

  test("hnsw build is deterministic: identical layers on rebuild") {
    val a = hnsw.select("vec_id", "layers")
      .as[(Long, Array[Array[Long]])].collect()
      .map(r => r._1 -> r._2.map(_.toSeq).toSeq).toMap
    val b = Nsw.build(emb, maxLevel = Nsw.DefaultMaxLevel, numShards = 4)
      .select("vec_id", "layers")
      .as[(Long, Array[Array[Long]])].collect()
      .map(r => r._1 -> r._2.map(_.toSeq).toSeq).toMap
    assert(a == b)
  }

  test("hnsw recall at working beam is at least the flat graph's at equal ef") {
    val qids = Seq(0L, 7L, 42L, 123L, 321L)
    def recall(search: Array[Float] => Set[Long]): Double = {
      val rs = qids.map { qid =>
        val q = queryVec(qid)
        val want = exactTopK(q, 13).toSet
        search(q).intersect(want).size.toDouble / want.size
      }
      rs.sum / rs.length
    }
    val flat = recall(q => Nsw.search(graph, q, k = 13, ef = 48)
      .select("vec_id").as[Long].collect().toSet)
    val hier = recall(q => Nsw.search(hnsw, q, k = 13, ef = 48)
      .select("vec_id").as[Long].collect().toSet)
    assert(hier >= flat, s"hnsw recall $hier below flat NSW recall $flat at equal ef")
    assert(hier >= 0.85, s"hnsw mean recall $hier too low")
  }

  test("persisted hnsw graph reloads, prunes by shard, and searches identically") {
    val t = tmpDir("nsw").toString + "/hnsw"
    graft.store.VersionedIndex.commitGraph(spark, t, hnsw, storeVersion = 1)
    val reloaded = graft.store.VersionedIndex.openGraph(spark, t)
    val q = queryVec(0)
    val mem = Nsw.search(hnsw, q, k = 13, ef = 48)
      .select("vec_id").as[Long].collect().toSeq
    val disk = Nsw.search(reloaded.graph, q, k = 13, ef = 48)
      .select("vec_id").as[Long].collect().toSeq
    assert(disk == mem)
    // a shard probe on the stored graph prunes at the file level, from
    // the manifest's #stats:shard markers alone
    val all = graft.store.Versioned.files(t, Some(reloaded.version))
    val kept = graft.store.Versioned.prunedFilesIn(t, reloaded.version,
      "shard", Seq(1L))
    assert(kept.size < all.size, s"shard 1 kept ${kept.size} of ${all.size} files")
  }

  // --------------------------------------------------- incremental insert

  test("insert of a tail batch is bit-identical to a from-scratch build of the union") {
    // delta ids all larger than resident ids ⇒ the incremental path
    // replays exactly the batch builder's ascending insertion order, so
    // adjacency AND parents must match edge for edge
    val cut = 400L
    val init = emb.filter(col("vec_id") < cut)
    val delta = emb.filter(col("vec_id") >= cut)
    val grown = Nsw.insert(Nsw.build(init, maxLevel = 0, numShards = 4), delta,
      numShards = 4, maxLevel = 0)
      .select(col("vec_id"), col("layers")(0), col("parent"))
      .as[(Long, Array[Long], Long)].collect()
      .map(r => r._1 -> ((r._2.toSeq, r._3))).toMap
    val scratch = Nsw.build(emb, maxLevel = 0, numShards = 4)
      .select(col("vec_id"), col("layers")(0), col("parent"))
      .as[(Long, Array[Long], Long)].collect()
      .map(r => r._1 -> ((r._2.toSeq, r._3))).toMap
    assert(grown == scratch)
  }

  test("hnsw insert of a tail batch is bit-identical to a from-scratch build") {
    val cut = 400L
    val init = emb.filter(col("vec_id") < cut)
    val delta = emb.filter(col("vec_id") >= cut)
    val grown = Nsw.insert(Nsw.build(init, maxLevel = Nsw.DefaultMaxLevel, numShards = 4), delta,
      numShards = 4, maxLevel = Nsw.DefaultMaxLevel)
      .select("vec_id", "level", "layers", "parent")
      .as[(Long, Int, Array[Array[Long]], Long)].collect()
      .map(r => r._1 -> ((r._2, r._3.map(_.toSeq).toSeq, r._4))).toMap
    val scratch = Nsw.build(emb, maxLevel = Nsw.DefaultMaxLevel, numShards = 4)
      .select("vec_id", "level", "layers", "parent")
      .as[(Long, Int, Array[Array[Long]], Long)].collect()
      .map(r => r._1 -> ((r._2, r._3.map(_.toSeq).toSeq, r._4))).toMap
    assert(grown == scratch)
  }

  test("insert touching one shard leaves the other shards' rows bit-identical (bypass path)") {
    // delta ids all ≡ 1 (mod 4) ⇒ only shard 1 is touched; shards 0/2/3
    // must flow through the narrow bypass unmodified — at scale (graph
    // stored partitionBy(shard)) those directories are never read
    val init = emb.filter(col("vec_id") < 400)
    val delta = emb.filter(col("vec_id") >= 400 && col("vec_id") % 4 === 1)
    assert(delta.count() > 0)
    val base = Nsw.build(init, maxLevel = 0, numShards = 4)
    def rowsOf(df: org.apache.spark.sql.DataFrame, shards: Seq[Int]) =
      df.filter(col("shard").isin(shards.map(Int.box): _*))
        .select(col("shard"), col("vec_id"), col("layers")(0), col("parent"))
        .as[(Int, Long, Array[Long], Long)].collect()
        .map(r => (r._1, r._2) -> ((r._3.toSeq, r._4))).toMap
    val grown = Nsw.insert(base, delta, numShards = 4, maxLevel = 0)
    assert(rowsOf(grown, Seq(0, 2, 3)) == rowsOf(base, Seq(0, 2, 3)))
    // and the touched shard actually grew
    assert(grown.filter(col("shard") === 1).count() ==
      base.filter(col("shard") === 1).count() + delta.count())
  }

  test("insert with a smaller maxLevel than the graph's fails with a clear message") {
    val delta = emb.filter(col("vec_id") < 4)
      .withColumn("vec_id", col("vec_id") + 1000000L)
    val e = intercept[org.apache.spark.SparkException] {
      Nsw.insert(hnsw, delta, numShards = 4, maxLevel = 0).count()
    }
    assert(e.getMessage.contains("above maxLevel") ||
      Option(e.getCause).exists(_.getMessage.contains("above maxLevel")), e.getMessage)
  }

  test("interleaved-id insert keeps the unbounded beam exact (insert_precision regime)") {
    // every 5th id arrives as the delta — ids interleave with residents,
    // so the result is NOT the batch build; what must still hold is the
    // guarded-reachability invariant ⇒ ef = ∞ equals brute force
    val init = emb.filter(col("vec_id") % 5 =!= 0)
    val delta = emb.filter(col("vec_id") % 5 === 0)
    val grown = Nsw.insert(Nsw.build(init, maxLevel = 0, numShards = 4), delta,
      numShards = 4, maxLevel = 0).cache()
    try {
      assert(grown.count() == emb.count())
      for (qid <- Seq(0L, 7L)) {
        val q = queryVec(qid)
        val got = Nsw.search(grown, q, k = 13, ef = Int.MaxValue)
          .select("vec_id").as[Long].collect().toSeq
        assert(got == exactTopK(q, 13), s"query $qid diverged after interleaved insert")
      }
      val hGrown = Nsw.insert(Nsw.build(init, maxLevel = Nsw.DefaultMaxLevel, numShards = 4), delta,
        numShards = 4, maxLevel = Nsw.DefaultMaxLevel).cache()
      try {
        val q = queryVec(0)
        val got = Nsw.search(hGrown, q, k = 13, ef = Int.MaxValue)
          .select("vec_id").as[Long].collect().toSeq
        assert(got == exactTopK(q, 13), "hnsw diverged after interleaved insert")
      } finally hGrown.unpersist()
    } finally grown.unpersist()
  }

  // -------------------------------------------------------- batch knn join

  test("nsw batch knn join: unbounded beam equals the exact join; working beam keeps recall") {
    val queries = emb.filter(col("vec_id") < 30)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("d").asc, col("vec_id").asc)
    val exact = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .crossJoin(emb)
      .withColumn("d", VectorOps.squaredL2(col("embedding"), col("q_emb")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select("q_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, ps) => q -> ps.map(_._2).toSet }
    def joined(ef: Int): Map[Long, Set[Long]] =
      Nsw.knnJoin(graph, queries, k = 5, ef = ef)
        .select("q_id", "n_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, ps) => q -> ps.map(_._2).toSet }
    // connected shards + unbounded beam: the join IS the exact join
    assert(joined(Int.MaxValue) == exact)
    // working beam: high mean recall (self-match at d=0 is always found)
    val got = joined(48)
    val rs = exact.map { case (q, want) =>
      got.getOrElse(q, Set.empty).intersect(want).size.toDouble / want.size
    }
    val mean = rs.sum / rs.size
    assert(mean >= 0.85, s"batch join mean recall $mean too low")
  }

  test("hnsw batch knn join: unbounded beam equals the exact join") {
    val queries = emb.filter(col("vec_id") < 20)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("d").asc, col("vec_id").asc)
    val exact = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .crossJoin(emb)
      .withColumn("d", VectorOps.squaredL2(col("embedding"), col("q_emb")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select("q_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, ps) => q -> ps.map(_._2).toSet }
    val got = Nsw.knnJoin(hnsw, queries, k = 5, ef = Int.MaxValue)
      .select("q_id", "n_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, ps) => q -> ps.map(_._2).toSet }
    assert(got == exact)
    // working beam: every query still finds its own vector at d=0
    val pruned = Nsw.knnJoin(hnsw, queries, k = 5, ef = 48)
      .select("q_id", "n_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, ps) => q -> ps.map(_._2).toSet }
    pruned.foreach { case (q, ns) => assert(ns.contains(q), s"query $q lost its self-match") }
  }

  test("nsw batch knn join routes through cells when centroids are given (pruned fan-out)") {
    val index = Ivf.build(spark, emb, nlist = 8)
    val g = Nsw.buildByCell(index).cache()
    val queries = emb.filter(col("vec_id") < 20)
    // full probe + unbounded beam over the cell-keyed graph = exact join
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("d").asc, col("vec_id").asc)
    val exact = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .crossJoin(emb)
      .withColumn("d", VectorOps.squaredL2(col("embedding"), col("q_emb")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select("q_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, ps) => q -> ps.map(_._2).toSet }
    val full = Nsw.knnJoin(g, queries, k = 5, ef = Int.MaxValue,
        centroids = index.centroids, nprobe = index.centroids.length)
      .select("q_id", "n_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, ps) => q -> ps.map(_._2).toSet }
    assert(full == exact)
    // pruned probe: a query always finds ITSELF (its own cell is probed)
    val pruned = Nsw.knnJoin(g, queries, k = 5, ef = 48,
        centroids = index.centroids, nprobe = 2)
      .select("q_id", "n_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, ps) => q -> ps.map(_._2).toSet }
    pruned.foreach { case (q, ns) => assert(ns.contains(q), s"query $q lost its self-match") }
  }
}
