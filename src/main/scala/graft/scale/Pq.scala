package graft.scale

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** IVF-PQ: product quantization layered on the IVF cell layout — the
  * standard vector-store memory story at 100 TB (Jégou et al., "Product
  * Quantization for Nearest Neighbor Search", TPAMI 2011; the format
  * FAISS/Chroma serve at scale, and the compression the reference's
  * Chroma index would adopt long before 100 TB). Each vector's RESIDUAL
  * from its cell centroid is split into `m` sub-vectors; every sub-vector
  * is encoded as its nearest entry in a per-subspace codebook, so a
  * 64-dim float32 embedding (256 bytes) becomes `m` small ints (m bytes
  * at 256-entry books) — 32× — and search scores codes without touching
  * raw vectors: per query and probed cell, one m×ksub table of
  * sub-distances is precomputed and a vector's approximate distance is m
  * table lookups (asymmetric distance computation), followed by an exact
  * rerank of a small shortlist.
  *
  * Scale shape: codebooks train DRIVER-side on a bounded deterministic
  * sample (exactly how FAISS trains PQ — sub-quantizer statistics
  * saturate long before corpus scale), then encoding is one broadcast
  * map-only pass and search is cell-pruned scan + lookups + a
  * shortlist-sized rerank gather. Nothing shuffles but the top-k.
  *
  * Oracle regime (the KMV/KLL pattern): with `ksub` ≥ the distinct
  * residual sub-vectors of the (full) sample, fitting degenerates to
  * "codebook = every distinct sub-vector" — encoding is LOSSLESS, ADC
  * distances equal exact distances to fp-regrouping (PqSpec pins ≤1e-9),
  * and the `pq_precision` declared query (all cells probed, shortlist =
  * k) must reproduce brute-force top-13 — hash-checked against DuckDB.
  * The compressed headline (`ivfpq_topk`) is rows-only with PqSpec
  * pinning recall against exact ground truth.
  */
object Pq {

  /** `books(s)(j)`: entry j of subspace s, `dsub` doubles each. Doubles,
    * not floats: keeps the lossless regime's "(q−c)−(v−c) == q−v"
    * argument exact (float-to-double is exact, and so are differences of
    * floats in double). */
  final case class Codebooks(dsub: Int, books: Array[Array[Array[Double]]]) {
    def m: Int = books.length
  }

  /** An IVF index whose vectors additionally carry `pq_code`. The raw
    * embedding column stays alongside the codes for the rerank gather —
    * at scale the codes live hot, the raw vectors cold. */
  final case class Index(ivf: Ivf.Index, cb: Codebooks, encoded: DataFrame)

  /** Deterministic per-subspace Lloyd over a driver-side residual sample.
    * Init is the first `ksub` DISTINCT sub-vectors in sample order (so a
    * sample with ≤ ksub distinct sub-vectors yields the lossless
    * identity codebook and zero iterations change it); assignment breaks
    * ties toward the lower index; empty clusters keep their centroid.
    * Pure double arithmetic in fixed order — bit-reproducible. */
  def fitCodebooks(sample: Array[Array[Double]], m: Int, ksub: Int,
      iters: Int = 12): Codebooks = {
    require(sample.nonEmpty, "PQ training sample is empty")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    require(sample.forall(_.length == dim), "ragged training sample")
    val dsub = dim / m
    val books = Array.tabulate(m) { s =>
      val subs = sample.map(v => java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
      val init = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
      val seen = scala.collection.mutable.HashSet.empty[Seq[Double]]
      subs.iterator.takeWhile(_ => init.size < ksub).foreach { v =>
        if (seen.add(v.toSeq)) init += v
      }
      var centroids = init.toArray
      val lossless = centroids.length < ksub ||
        subs.forall(v => seen.contains(v.toSeq))
      if (!lossless) {
        var it = 0
        while (it < iters) {
          val sums = Array.fill(centroids.length, dsub)(0.0)
          val counts = Array.fill(centroids.length)(0L)
          subs.foreach { v =>
            val c = nearest(centroids, v)
            counts(c) += 1
            var d = 0; while (d < dsub) { sums(c)(d) += v(d); d += 1 }
          }
          centroids = Array.tabulate(centroids.length) { c =>
            if (counts(c) == 0) centroids(c)
            else { val o = sums(c); var d = 0; while (d < dsub) { o(d) /= counts(c); d += 1 }; o }
          }
          it += 1
        }
      }
      centroids
    }
    Codebooks(dsub, books)
  }

  private def nearest(book: Array[Array[Double]], v: Array[Double]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var j = 0
    while (j < book.length) {
      val b = book(j)
      var d = 0.0; var i = 0
      while (i < b.length) { val t = v(i) - b(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = j }
      j += 1
    }
    best
  }

  /** Codebook training collects `sampleCap` rows to the DRIVER — the one
    * driver-side step of the PQ pipeline. Fine when bounded; an unbounded
    * cap at corpus scale is a driver OOM, so it requires the caller to
    * say `allowUnboundedSample = true` explicitly (the lossless
    * oracle/test parameterization is the only legitimate user). */
  val MaxDriverSample = 1 << 20

  /** Build over an existing IVF index: sample residuals (vec_id order —
    * deterministic), fit codebooks driver-side, encode every vector's
    * residual map-only. `sampleCap = Int.MaxValue` trains on everything
    * — the lossless-parameterization path, gated by
    * `allowUnboundedSample` (see [[MaxDriverSample]]). */
  def build(ivf: Ivf.Index, m: Int = 8, ksub: Int = 16,
      sampleCap: Int = 2048, iters: Int = 12,
      idCol: String = "vec_id", vecCol: String = "embedding",
      allowUnboundedSample: Boolean = false): Index = {
    require(allowUnboundedSample || sampleCap <= MaxDriverSample,
      s"sampleCap $sampleCap collects to the driver; caps past " +
        s"$MaxDriverSample need allowUnboundedSample = true (oracle/test only)")
    val centroids = ivf.centroids
    val sampleDf =
      if (sampleCap == Int.MaxValue) ivf.assigned
      else ivf.assigned.orderBy(col(idCol)).limit(sampleCap)
    val sample = sampleDf.select(col("cell"), col(vecCol)).collect().map { r =>
      residual(centroids(r.getInt(0)), r.getSeq[Float](1))
    }
    val cb = fitCodebooks(sample, m, ksub, iters)
    val books = cb.books
    val dsub = cb.dsub
    val encodeUdf = udf { (cell: Int, v: Seq[Float]) =>
      val res = residual(centroids(cell), v)
      Array.tabulate(books.length)(s =>
        nearest(books(s), java.util.Arrays.copyOfRange(res, s * dsub, (s + 1) * dsub)))
    }
    Index(ivf, cb, ivf.assigned.withColumn("pq_code", encodeUdf(col("cell"), col(vecCol))))
  }

  private def residual(centroid: Array[Float], v: Seq[Float]): Array[Double] = {
    require(v != null && v.length == centroid.length,
      s"dimension mismatch: cell is ${centroid.length}-dim, vector is " +
        s"${if (v == null) "null" else v.length.toString}")
    val out = new Array[Double](centroid.length)
    var i = 0
    while (i < out.length) { out(i) = v(i).toDouble - centroid(i).toDouble; i += 1 }
    out
  }

  /** ADC search: prune to `nprobe` cells, score codes against the
    * per-cell lookup tables, exact-rerank the `shortlist` best. With
    * lossless codebooks + all cells + shortlist = k this IS brute-force
    * top-k (the pq_precision contract). */
  def search(index: Index, q: Array[Float], k: Int = 13, nprobe: Int = 3,
      shortlist: Int = 64, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val cells = Ivf.nearestCells(index.ivf.centroids, q, nprobe)
    val books = index.cb.books
    val dsub = index.cb.dsub
    // tables(cell)(s)(j) = ||(q − centroid(cell))_s − books(s)(j)||²:
    // nprobe·m·ksub doubles, built once per query on the driver
    val tables: Map[Int, Array[Array[Double]]] = cells.map { c =>
      val qres = residual(index.ivf.centroids(c), q)
      c -> Array.tabulate(books.length) { s =>
        val qs = java.util.Arrays.copyOfRange(qres, s * dsub, (s + 1) * dsub)
        books(s).map { b =>
          var d = 0.0; var i = 0
          while (i < dsub) { val t = qs(i) - b(i); d += t * t; i += 1 }
          d
        }
      }
    }.toMap
    val adcUdf = udf { (cell: Int, code: Seq[Int]) =>
      val t = tables(cell)
      var s = 0.0; var i = 0
      while (i < code.length) { s += t(i)(code(i)); i += 1 }
      s
    }
    val short = index.encoded
      .filter(col("cell").isInCollection(cells))
      .withColumn("adist", adcUdf(col("cell"), col("pq_code")))
      .orderBy(col("adist").asc, col(idCol).asc)
      .limit(shortlist)
    // exact rerank of the shortlist: IVF's own probe-and-rerank half
    Ivf.searchCells(short, cells, q, k, idCol, vecCol, lit(true))
  }
}
