package graft.scale

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sharded hierarchical navigable-small-world (HNSW) graph ANN — the
  * graph/beam-search counterpart of the reference's Chroma HNSW serving
  * index (reference app.py:73-76), shaped for Spark batch instead of
  * a single-process in-memory store: vectors are id-sharded into disjoint
  * shards, each shard builds an in-partition graph (greedy beam-search
  * insertion, bidirectional links, degree-capped) in one `mapPartitions`
  * pass, and the whole index IS a DataFrame of rows
  * `(shard, vec_id, embedding, level, layers, parent)`, persisted
  * through [[graft.store.VersionedIndex.commitGraph]] like the IVF index.
  *
  * Query = map-only fan-out: every shard searches its own graph
  * independently (no cross-shard edges, so no shuffle until the final
  * merge), then one global `TakeOrderedAndProject` keeps top-k of the
  * per-shard candidates. This is the standard disjoint-shard HNSW serving
  * architecture (each executor owns shards; queries broadcast).
  *
  * 100 TB shape: a shard graph must fit one executor's heap — shard count
  * scales with the corpus (adjacency is M longs/vector, so ~100M vectors
  * per 32 GB executor at M=8). Build is embarrassingly parallel across
  * shards and needs no training pass (vs IVF's KMeans); inserts are
  * incremental by construction. The trade: queries touch every shard
  * (fan-out cost), where IVF prunes cells — the hybrid (graphs inside IVF
  * cells, [[buildByCell]]) composes both by keying shards on IVF cell ids
  * instead of id mod.
  *
  * Layers: `maxLevel` caps the hierarchy. Flat NSW is the graph built
  * with `maxLevel = 0` — in Malkov & Yashunin's HNSW (TPAMI 2020) NSW is
  * exactly the single-layer special case, and here the same builder,
  * insert, search and k-NN join serve both: at level 0 the descent loops
  * never run and the entry is the shard's min id. Levels buy log-routing
  * inside big shards; NswSpec pins recall at working ef ≥ the flat graph's.
  *
  * Determinism (DeterminismSpec double-runs declared queries): shard
  * assignment is `vec_id % numShards` (not engine hash), insertion order
  * is ascending vec_id within a shard, every heap/prune ordering
  * tie-breaks on id, levels are a pure function of the id ([[levelOf]])
  * and the entry is the highest-level node, ties to min id — no
  * randomness anywhere, unlike textbook HNSW's random level draws.
  */
object Nsw {

  val DefaultM = 8 // links added per insert; degree cap is 2*M
  val DefaultMaxLevel = 4

  private def sqDist(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0
    var i = 0
    while (i < a.length) { val t = a(i).toDouble - b(i); d += t * t; i += 1 }
    d
  }

  private val ord: Ordering[(Double, Long)] =
    Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)

  /** Greedy beam search over one in-memory graph layer: expand the
    * nearest unexpanded candidate until it is farther than the worst of
    * the `ef` best seen. Returns (id, dist) ordered by (dist, id).
    * With ef ≥ shard size nothing is ever evicted, so every node
    * reachable from `entry` is visited — layer 0 is connected by
    * construction (each insert links to an existing node,
    * bidirectionally), making the ef ≥ n parameterization EXACT; that is
    * what `nsw_precision` stakes its oracle row on. */
  private[scale] def beamSearch(
      vecs: java.util.HashMap[Long, Array[Float]],
      adj: Long => Array[Long],
      entry: Long, q: Array[Float], ef: Int,
      admit: Long => Boolean = _ => true): IndexedSeq[(Long, Double)] =
    beamSearchFrom(vecs, adj, Seq(entry), q, ef, admit)

  /** [[beamSearch]] seeded with SEVERAL entry points — the layer-0 form
    * the searches need for exactness: connectivity is guaranteed from the
    * shard's min-id root (guarded parent→child edges), but the
    * hierarchy's descent can land anywhere, and a pruned child→parent
    * back-edge may be the only path from that region back to the root's
    * subtree. Seeding with {descent entry, root} keeps the hierarchy's
    * entry quality AND the root's reachability guarantee.
    *
    * `admit` is the FILTERED-search hook (the Chroma `where=` analog,
    * hnswlib's filter-functor shape): navigation traverses the WHOLE
    * graph — frontier and visited-set ignore the predicate, because
    * non-matching nodes may be the only path between matching regions —
    * but only admitted nodes enter the RESULT heap, and the beam's
    * termination bound reads that heap, so the search keeps expanding
    * until it holds ef admitted candidates (it cannot be crowded out by
    * closer non-matching rows, which a post-filter would be). With an
    * unbounded ef this visits every reachable node and returns every
    * admitted one — exact search over the filtered corpus, the
    * `nsw_filtered_precision` contract. */
  private[scale] def beamSearchFrom(
      vecs: java.util.HashMap[Long, Array[Float]],
      adj: Long => Array[Long],
      entries: Seq[Long], q: Array[Float], ef: Int,
      admit: Long => Boolean = _ => true): IndexedSeq[(Long, Double)] = {
    val visited = new java.util.HashSet[Long]()
    val cand = scala.collection.mutable.PriorityQueue.empty[(Double, Long)](ord.reverse)
    val kept = scala.collection.mutable.PriorityQueue.empty[(Double, Long)](ord)
    entries.foreach { entry =>
      if (visited.add(entry)) {
        val d0 = sqDist(vecs.get(entry), q)
        cand.enqueue((d0, entry))
        if (admit(entry)) {
          kept.enqueue((d0, entry))
          if (kept.size > ef) kept.dequeue()
        }
      }
    }
    var done = false
    while (!done && cand.nonEmpty) {
      val (d, u) = cand.dequeue()
      if (kept.size >= ef && ord.gt((d, u), kept.head)) done = true
      else {
        val ns = adj(u)
        var i = 0
        while (i < ns.length) {
          val v = ns(i)
          if (visited.add(v)) {
            val dv = sqDist(vecs.get(v), q)
            if (kept.size < ef || ord.lt((dv, v), kept.head)) {
              cand.enqueue((dv, v))
              if (admit(v)) {
                kept.enqueue((dv, v))
                if (kept.size > ef) kept.dequeue()
              }
            }
          }
          i += 1
        }
      }
    }
    val drained: Seq[(Double, Long)] = kept.dequeueAll
    drained.reverse.map(t => (t._2, t._1)).toIndexedSeq
  }

  /** Items must carry distinct ids: the builder's maps are keyed by id, so
    * a duplicate would silently overwrite the earlier vector/adjacency
    * while `items` retains both rows — emitting duplicate adjacency rows
    * whose links reference the overwritten vector. Fail loudly instead
    * (the determinism contract in the object doc assumes unique ids). */
  private def requireDistinctIds(items: Array[(Long, Array[Float])]): Unit = {
    val seen = new java.util.HashSet[Long](items.length * 2)
    items.foreach { case (id, _) =>
      require(seen.add(id), s"duplicate vec_id $id within a shard")
    }
  }

  /** Degree-cap one node's adjacency in place: guarded edges always
    * survive; unguarded ones fill the cap's remainder by distance
    * (tie-break on id). When guarded alone reaches the cap, EVERY
    * unguarded edge goes — leaving them unpruned would let a hub keep
    * accumulating back-links unbounded (guarded + 2m is the documented
    * degree contract, not guarded + everything). A null `guarded` (the
    * upper layers) prunes purely by distance. */
  private def pruneNeighbors(ns: scala.collection.mutable.ArrayBuffer[Long],
      guarded: java.util.HashSet[Long],
      vecs: java.util.HashMap[Long, Array[Float]],
      base: Array[Float], maxDeg: Int): Unit =
    if (ns.length > maxDeg) {
      val (keep, rest) =
        if (guarded == null) (Seq.empty[Long], ns.toSeq)
        else ns.toSeq.partition(guarded.contains)
      val room = math.max(0, maxDeg - keep.length)
      val best = rest.map(n => (sqDist(vecs.get(n), base), n)).sorted(ord)
        .take(room).map(_._2)
      ns.clear()
      ns ++= keep
      ns ++= best
    }

  /** Deterministic geometric layer assignment — the hierarchy of
    * Malkov & Yashunin's HNSW (the algorithm behind the reference's
    * Chroma index, /root/reference/app.py:409) without the paper's random
    * draw, which would break the engine's determinism contract: the level
    * is the count of trailing zero base-8 digits of a splitmix64-mixed
    * vec_id, so P(level ≥ l) = 8^{-l} — exactly the paper's geometric
    * distribution at mL = 1/ln(M) for M = 8 — yet a pure function of the
    * id (same id ⇒ same level on every run and every executor). */
  private[scale] def levelOf(id: Long, maxLevel: Int = DefaultMaxLevel): Int = {
    var z = id + 0x9E3779B97F4A7C15L // splitmix64 finalizer (public domain)
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    math.min(maxLevel, java.lang.Long.numberOfTrailingZeros(z) / 3)
  }

  /** Mutable one-shard build state — what an INCREMENTAL insert needs to
    * resume from: vectors, levels, per-layer adjacency, the guarded
    * layer-0 parent→children sets (reconstructible from the persisted
    * `parent` column — without them a post-insert prune could drop a
    * guarded edge and break the connectivity invariant `nsw_precision`
    * stakes exactness on), and the descent entry. Only layer-0 parent
    * edges are guarded (upper layers route; they may disconnect without
    * costing exactness at ef = ∞). */
  private final class State(expected: Int, maxLevel: Int) {
    val vecs = new java.util.HashMap[Long, Array[Float]](expected * 2)
    val adjL = Array.fill(maxLevel + 1)(
      new java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[Long]]())
    val children = new java.util.HashMap[Long, java.util.HashSet[Long]]() // layer-0 guards
    val parents = new java.util.HashMap[Long, Long]()
    val levels = new java.util.HashMap[Long, Int](expected * 2)
    var entry: Long = -1L
    var entryLevel: Int = -1

    /** One node's persisted form: (level, layers, parent). */
    def row(id: Long): (Int, Array[Array[Long]], Long) = {
      val lvl = levels.get(id)
      (lvl, (0 to lvl).map(l => adjL(l).get(id).toArray).toArray, parents.get(id).longValue)
    }
  }

  /** The insertion loop, shared by the from-scratch build and the
    * incremental append: items (ascending id within a batch) enter an
    * existing state one by one. Each node lives in layers 0..level; it
    * greedily descends from the current entry (top layer, ef=1
    * hill-climb per layer) to its own level, then at each of its layers
    * beams to the m nearest, links bidirectionally and degree-caps the
    * neighbours at 2m. On layer 0 the single nearest becomes the node's
    * permanent GUARDED parent edge, which pruning never drops. The
    * invariant "every non-first node has an in-edge from an
    * earlier-inserted node" then holds by induction, so every node is
    * reachable from the min-id root via layer-0 out-edges — textbook
    * degree-capped pruning can silently disconnect nodes (a back-link
    * evicted by the cap may be a node's only in-edge), which would break
    * `nsw_precision`'s exactness. The induction holds across batches
    * because parents are restored from the persisted column, not
    * recomputed. The cost is an honest degree contract: a node's layer-0
    * degree is bounded by max(2m, its guarded-children count) (one
    * guarded edge per node graph-wide, so Σ guarded = n-1; a parent hub
    * can exceed 2m through guarded edges alone, NswSpec measures the
    * tail). Upper layers prune purely by distance. The entry is the
    * highest-level node, ties to the earliest inserted. */
  private def insertNodes(st: State, items: Array[(Long, Array[Float])],
      m: Int, efConstruction: Int, maxLevel: Int): Unit = {
    val maxDeg = 2 * m
    def pruneAt(layer: Int, id: Long): Unit =
      pruneNeighbors(st.adjL(layer).get(id),
        if (layer == 0) st.children.get(id) else null, st.vecs, st.vecs.get(id), maxDeg)
    items.foreach { case (id, v) =>
      // intra-batch duplicates are rejected before this loop
      // (requireDistinctIds), so a hit here means the id is resident in
      // the rehydrated shard state — an upsert attempt, not a bad batch
      require(!st.vecs.containsKey(id),
        s"vec_id $id is already present in the index (insert is insert-only, no upsert; delete then re-insert to update)")
      val lvl = levelOf(id, maxLevel)
      st.vecs.put(id, v)
      st.levels.put(id, lvl)
      (0 to lvl).foreach(l =>
        st.adjL(l).put(id, scala.collection.mutable.ArrayBuffer.empty[Long]))
      if (st.entry < 0) { st.entry = id; st.entryLevel = lvl; st.parents.put(id, -1L) }
      else {
        // the new node is unreachable during its own searches: nothing
        // links to it yet and its adjacency is empty
        var cur = st.entry
        var l = st.entryLevel
        while (l > lvl) { // greedy descent above the node's own top layer
          cur = beamSearch(st.vecs, n => st.adjL(l).get(n).toArray, cur, v, 1).head._1
          l -= 1
        }
        while (l >= 0) { // link layers: beam, connect m nearest, prune
          val near = beamSearch(st.vecs, n => st.adjL(l).get(n).toArray, cur, v,
            efConstruction).take(m)
          st.adjL(l).get(id) ++= near.map(_._1)
          if (l == 0) {
            val parent = near.head._1 // nearest existing node: guarded in-edge
            st.children.computeIfAbsent(parent, _ => new java.util.HashSet[Long]()).add(id)
            st.parents.put(id, parent)
          }
          near.foreach { case (nid, _) =>
            st.adjL(l).get(nid) += id
            pruneAt(l, nid)
          }
          cur = near.head._1
          l -= 1
        }
        if (lvl > st.entryLevel) { st.entry = id; st.entryLevel = lvl }
      }
    }
  }

  /** Build one shard from scratch: (vec_id, level, layers, parent) per
    * item, in item order. */
  private[scale] def buildShard(items: Array[(Long, Array[Float])],
      m: Int, efConstruction: Int, maxLevel: Int): Array[(Long, Int, Array[Array[Long]], Long)] = {
    requireDistinctIds(items)
    val st = new State(items.length, maxLevel)
    insertNodes(st, items, m, efConstruction, maxLevel)
    items.map { case (id, _) => val (lvl, ls, p) = st.row(id); (id, lvl, ls, p) }
  }

  /** Rehydrate a shard's build state from persisted rows
    * (vec_id, embedding, level, layers, parent). Entry: highest level,
    * ties to min id — the builder's own rule under ascending insertion.
    * Every resident level must fit `maxLevel`: inserting into a layered
    * graph with a smaller cap is a caller error, reported as such. */
  private def loadState(
      rows: Array[(Long, Array[Float], Int, Array[Array[Long]], Long)],
      maxLevel: Int): State = {
    val st = new State(rows.length, maxLevel)
    rows.foreach { case (id, v, lvl, layers, p) =>
      require(lvl <= maxLevel,
        s"vec_id $id has level $lvl above maxLevel $maxLevel " +
          "(insert with the maxLevel the graph was built with)")
      st.vecs.put(id, v)
      st.levels.put(id, lvl)
      (0 to lvl).foreach { l =>
        st.adjL(l).put(id,
          scala.collection.mutable.ArrayBuffer(layers(l).toSeq: _*))
      }
      st.parents.put(id, p)
      if (p >= 0)
        st.children.computeIfAbsent(p, _ => new java.util.HashSet[Long]()).add(id)
    }
    val (entry, entryLevel) = topEntry(rows.iterator.map(r => (r._1, r._3)))
    st.entry = entry
    st.entryLevel = entryLevel
    st
  }

  /** (id, level) of the highest-level node, ties to min id. */
  private def topEntry(idLevels: Iterator[(Long, Int)]): (Long, Int) =
    idLevels.reduce { (a, b) =>
      if (b._2 > a._2 || (b._2 == a._2 && b._1 < a._1)) b else a
    }

  /** Build the sharded index: one row per vector with its level,
    * per-layer adjacency and guarded layer-0 parent
    * `(shard, vec_id, embedding, level, layers, parent)`. `maxLevel = 0`
    * builds the flat NSW graph, [[DefaultMaxLevel]] the hierarchy; it is
    * required so no caller switches between them silently. The result is
    * a plain DataFrame — persist with [[write]] for the serving layout. */
  def build(emb: DataFrame, maxLevel: Int, numShards: Int = 8, m: Int = DefaultM,
      efConstruction: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    buildKeyed(
      emb.select(pmod(col(idCol), lit(numShards.toLong)).cast("int").as("shard"),
        col(idCol).cast("long").as("vec_id"), col(vecCol).as("embedding")),
      numShards, m, efConstruction, maxLevel)

  /** Flat graphs keyed by IVF cell — the hybrid: vectors shard by the
    * index's cell assignment instead of id-mod, so [[searchPruned]] can
    * skip whole shard graphs the way IVF search skips cells (directory
    * pruning once the graph is written `partitionBy("shard")`), and the
    * beam replaces IVF's exhaustive in-cell rerank. Fan-out drops from
    * every-shard to nprobe shards; recall follows the probed cells'
    * coverage exactly as in IVF (plus the in-shard beam's own recall,
    * which ef controls — NswSpec measures the composition). */
  def buildByCell(index: Ivf.Index, m: Int = DefaultM, efConstruction: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    buildKeyed(
      index.assigned.select(col("cell").cast("int").as("shard"),
        col(idCol).cast("long").as("vec_id"), col(vecCol).as("embedding")),
      numPartitions = math.max(1, index.centroids.length), m, efConstruction,
      maxLevel = 0)

  private def buildKeyed(keyed: DataFrame, numPartitions: Int, m: Int,
      efConstruction: Int, maxLevel: Int): DataFrame = {
    val spark = keyed.sparkSession
    import spark.implicits._
    keyed
      .repartition(numPartitions, col("shard"))
      .as[(Int, Long, Array[Float])]
      .mapPartitions { it =>
        // a partition holds whole shards (possibly several — hash
        // collisions of the shard key), never a fragment of one
        it.toArray.groupBy(_._1).iterator.flatMap { case (shard, rows) =>
          val items = rows.map(r => (r._2, r._3)).sortBy(_._1)
          buildShard(items, m, efConstruction, maxLevel).iterator.zip(items.iterator)
            .map { case ((id, lvl, ls, p), (_, v)) => (shard, id, v, lvl, ls, p) }
        }
      }
      .toDF("shard", "vec_id", "embedding", "level", "layers", "parent")
  }

  /** Incremental per-shard insert — the live `add_documents` path the
    * serving index needs (the sibling of [[Ivf.append]]; Chroma inserts
    * into its serving index incrementally,
    * helper/multiple_document_upload.py:168): route the delta batch to
    * shards by the SAME id-mod key as [[build]], rehydrate each touched
    * shard's build state from its persisted rows (guarded parent edges
    * come from the `parent` column), and run the identical insertion loop
    * over the delta (ascending id). `maxLevel` must be the one the graph
    * was built with. Untouched shards pass through unchanged — at scale,
    * with the graph stored `partitionBy("shard")`, only touched shard
    * directories rewrite. The guarded-reachability invariant survives the
    * append, so ef ≥ shard size stays EXACT over the grown graph
    * (`nsw_insert_precision` stakes its oracle row on it), and when delta
    * ids are larger than every resident id the result is BIT-IDENTICAL to
    * a from-scratch build of the union (NswSpec pins both).
    *
    * INSERT-ONLY, not upsert: a delta id already resident in the graph
    * (the CDC "update of an existing vector" shape) fails loudly rather
    * than silently rewiring the neighborhood — re-embedding an existing
    * document must go delete → insert (or a fresh build of the touched
    * shard), because replacing a vector in place would invalidate every
    * guarded parent edge chosen against the old position. */
  def insert(graph: DataFrame, newVecs: DataFrame, numShards: Int, maxLevel: Int,
      m: Int = DefaultM, efConstruction: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = graph.sparkSession
    import spark.implicits._
    val delta = newVecs.select(
      pmod(col(idCol), lit(numShards.toLong)).cast("int").as("shard"),
      col(idCol).cast("long").as("vec_id"), col(vecCol).as("embedding"))
    // the touched-shard set is bounded by numShards — the one driver
    // scalar this path needs. Untouched shards BYPASS the cogroup as a
    // narrow filter + union (with the graph stored partitionBy("shard"),
    // that is "those directories are not read, let alone rewritten"),
    // so insert cost scales with the touched shards, not the index
    val touched = delta.select(col("shard")).distinct()
      .as[Int].collect().toSet
    val g = graph
      .select(col("shard"), col("vec_id"), col("embedding"), col("level"),
        col("layers"), col("parent"))
    val gTouched = g.filter(col("shard").isInCollection(touched))
      .as[(Int, Long, Array[Float], Int, Array[Array[Long]], Long)]
      .groupByKey(_._1)
    val d = delta.as[(Int, Long, Array[Float])].groupByKey(_._1)
    val grown = gTouched.cogroup(d) { (shard, graphRows, deltaRows) =>
      val existing = graphRows.map(r => (r._2, r._3, r._4, r._5, r._6)).toArray
      val items = deltaRows.map(r => (r._2, r._3)).toArray.sortBy(_._1)
      if (items.isEmpty)
        existing.iterator.map { case (id, v, lvl, ls, p) => (shard, id, v, lvl, ls, p) }
      else {
        requireDistinctIds(items) // intra-batch dup ≠ resident-id upsert
        val st =
          if (existing.isEmpty) new State(items.length, maxLevel)
          else loadState(existing, maxLevel)
        insertNodes(st, items, m, efConstruction, maxLevel)
        (existing.iterator.map(_._1) ++ items.iterator.map(_._1)).map { id =>
          val (lvl, ls, p) = st.row(id)
          (shard, id, st.vecs.get(id), lvl, ls, p)
        }
      }
    }.toDF("shard", "vec_id", "embedding", "level", "layers", "parent")
    g.filter(!col("shard").isInCollection(touched)).unionByName(grown)
  }

  /** One shard in memory: vectors, per-layer adjacency, the descent
    * entry (highest level, ties to min id — matching the builder's
    * "strictly greater replaces" rule under ascending-id insertion) and
    * the layer-0 ROOT (min id): guarded parent edges prove connectivity
    * from the root, not from wherever descent lands, so the layer-0 beam
    * seeds with BOTH — that is what makes ef ≥ shard size exact. On a
    * flat graph entry and root coincide. */
  private[scale] final class Shard(
      vecs: java.util.HashMap[Long, Array[Float]],
      layers: java.util.HashMap[Long, Array[Array[Long]]],
      entry: Long, entryLevel: Int, root: Long) {
    /** `admit` gates only the layer-0 RESULT heap: the upper-layer
      * descent is pure navigation (its output is an entry point, not a
      * result), so it ignores the predicate — filtering it could strand
      * the descent in an all-filtered region with an empty beam. */
    def search(q: Array[Float], k: Int, beam: Int,
        admit: Long => Boolean = _ => true): Iterator[(Long, Double)] = {
      var cur = entry
      var l = entryLevel
      while (l > 0) { // any node present at layer l has level >= l
        cur = beamSearch(vecs, n => layers.get(n)(l), cur, q, 1).head._1
        l -= 1
      }
      beamSearchFrom(vecs, n => layers.get(n)(0), Seq(cur, root).distinct, q, beam, admit)
        .take(k).iterator
    }
  }

  /** Load one shard's rows (shard, vec_id, embedding, level, layers). */
  private[scale] def loadShard(
      rows: Array[(Int, Long, Array[Float], Int, Array[Array[Long]])]): Shard = {
    val vecs = new java.util.HashMap[Long, Array[Float]](rows.length * 2)
    val layers = new java.util.HashMap[Long, Array[Array[Long]]](rows.length * 2)
    rows.foreach { r => vecs.put(r._2, r._3); layers.put(r._2, r._5) }
    val (entry, entryLevel) = topEntry(rows.iterator.map(r => (r._2, r._4)))
    new Shard(vecs, layers, entry, entryLevel, rows.iterator.map(_._2).min)
  }

  /** Search every shard graph for `q` — per shard, greedy-descend from the
    * top-layer entry through layers L..1, then beam layer 0 with `ef`
    * (seeded with the root as well — see [[Shard]]) — and merge the
    * per-shard candidates into the global top-k by (dist, id). `ef`
    * bounds per-shard work; ef ≥ shard size makes the search exact (see
    * [[beamSearch]]).
    *
    * `admitted` (optional) is the metadata predicate of a FILTERED
    * search, resolved to a one-column `vec_id` frame (e.g.
    * `embeddings.filter(label % 4 === 1).select("vec_id")`): it
    * equi-joins onto the graph rows as a flag — distributed, never a
    * driver collect — and the flag gates the layer-0 beam's RESULT heap
    * while navigation still crosses non-matching nodes (see
    * [[beamSearchFrom]]). Unbounded ef ⇒ exact top-k over the filtered
    * corpus; a post-filter would instead return fewer than k rows
    * whenever the unfiltered top-ef crowds matches out. */
  def search(graph: DataFrame, q: Array[Float], k: Int = 13, ef: Int = 32,
      admitted: DataFrame = null): DataFrame = {
    val spark = graph.sparkSession
    import spark.implicits._
    val beam = math.max(ef, k)
    flagged(graph.select(col("shard"), col("vec_id"), col("embedding"),
        col("level"), col("layers")), admitted)
      .repartition(col("shard"))
      .as[(Int, Long, Array[Float], Int, Array[Array[Long]], Boolean)]
      .mapPartitions { it =>
        it.toArray.groupBy(_._1).iterator.flatMap { case (_, rows) =>
          val adm = new java.util.HashSet[Long](rows.length * 2)
          rows.foreach { r => if (r._6) adm.add(r._2) }
          loadShard(rows.map(r => (r._1, r._2, r._3, r._4, r._5)))
            .search(q, k, beam, adm.contains(_))
        }
      }
      .toDF("vec_id", "dist")
      .orderBy(col("dist").asc, col("vec_id").asc)
      .limit(k)
  }

  /** Left-join the admitted-id frame onto graph rows as a boolean
    * flag; a null `admitted` admits everything without a join. */
  private def flagged(g: DataFrame, admitted: DataFrame): DataFrame =
    if (admitted == null) g.withColumn("__adm", lit(true))
    else g.join(
      admitted.select(col("vec_id").cast("long").as("vec_id"))
        .distinct().withColumn("__adm", lit(true)),
      Seq("vec_id"), "left")
      .withColumn("__adm", coalesce(col("__adm"), lit(false)))
      .select(g.columns.map(col) :+ col("__adm"): _*)

  /** Hybrid search over a [[buildByCell]] graph: probe only the `nprobe`
    * nearest cells' shard graphs (centroid ranking shared with
    * `Ivf.search` via [[Ivf.nearestCells]]), beam inside each. With
    * nprobe = nlist and an unbounded beam this is exhaustive and exact —
    * the `nswivf_precision` oracle regime. `admitted` as in [[search]]. */
  def searchPruned(graph: DataFrame, centroids: Array[Array[Float]],
      q: Array[Float], k: Int = 13, nprobe: Int = 3, ef: Int = 32,
      admitted: DataFrame = null): DataFrame = {
    val cells = Ivf.nearestCells(centroids, q, nprobe)
    search(graph.filter(col("shard").isInCollection(cells)), q, k, ef, admitted)
  }

  // ------------------------------------------------------- batch k-NN join

  /** Large-batch k-NN join over the sharded graph — what a 100 TB offline
    * eval job runs instead of [[search]]'s one-vector form. Queries fan
    * out to shards (id-keyed graphs: every shard; cell-keyed graphs with
    * `centroids` given: only each query's `nprobe` nearest cells, the
    * IVF-pruned hybrid, ranked by [[Ivf.nearestCellsCol]]), the fan-out
    * is a distributed join (no driver collect on either side), each shard
    * partition rebuilds its graph ONCE per task and runs every assigned
    * query through [[Shard.search]] (descent, then layer-0 beam), and the
    * per-query global top-k is a rank window that compiles to
    * WindowGroupLimit — the same merge shape as [[Ivf.knnJoin]].
    * Self-matches (a corpus vector querying its own graph) are kept:
    * dist 0 rows are the join's identity and callers filter as needed. */
  def knnJoin(graph: DataFrame, queries: DataFrame, k: Int = 5, ef: Int = 32,
      centroids: Array[Array[Float]] = null, nprobe: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = graph.sparkSession
    import spark.implicits._
    val beam = math.max(ef, k)
    val q0 = queries.select(col(idCol).cast("long").as("q_id"), col(vecCol).as("q_emb"))
    val fanned =
      if (centroids == null)
        // id-keyed graphs have no routing key: every query visits every
        // shard (the honest fan-out cost the cell-keyed hybrid avoids)
        q0.crossJoin(broadcast(graph.select(col("shard")).distinct()))
      else q0.withColumn("shard", explode(Ivf.nearestCellsCol(centroids, col("q_emb"), nprobe)))
    val g = graph
      .select(col("shard"), col("vec_id"), col("embedding"), col("level"), col("layers"))
      .as[(Int, Long, Array[Float], Int, Array[Array[Long]])]
      .groupByKey(_._1)
    val qs = fanned
      .select(col("shard").cast("int"), col("q_id"), col("q_emb"))
      .as[(Int, Long, Array[Float])]
      .groupByKey(_._1)
    val perShard = g.cogroup(qs) { (_, graphRows, queryRows) =>
      val rows = graphRows.toArray
      if (rows.isEmpty) Iterator.empty
      else {
        val shard = loadShard(rows)
        queryRows.flatMap { case (_, qid, qv) =>
          shard.search(qv, k, beam).map { case (id, d) => (qid, id, d) }
        }
      }
    }.toDF("q_id", "n_id", "d")
    mergeTopK(perShard, k)
  }

  /** Global per-query top-k over per-shard candidates: a rank window
    * that compiles to WindowGroupLimit (map-side trim before the q_id
    * shuffle). */
  private def mergeTopK(perShard: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("d").asc, col("n_id").asc)
    perShard.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .orderBy(col("q_id"), col("rn"))
  }
}
