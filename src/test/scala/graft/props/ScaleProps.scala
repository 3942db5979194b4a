package graft.scale

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

import graft.core.{CountMin, CountMinAgg}

/** Property tests for the driver-free cores of the round-5 primitives:
  * Count-Min invariants over arbitrary streams, and graph build/search
  * invariants over random vector sets, flat and layered (the
  * guarded-connectivity theorem `nsw_precision` and `hnsw_precision` rely
  * on, exercised across random geometries instead of one fixture). */
object CountMinProps extends Properties("CountMin") {

  private val streamGen: Gen[List[Long]] =
    Gen.listOf(Gen.chooseNum(-50L, 50L))

  property("estimates never undercount, at any geometry") =
    forAll(streamGen, Gen.chooseNum(1, 4), Gen.chooseNum(2, 64)) { (xs, d, w) =>
      val agg = new CountMinAgg(d, w)
      val sk = xs.foldLeft(agg.zero)(agg.reduce)
      val truth = xs.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
      truth.forall { case (x, n) => CountMin.estimate(sk, d, w, x) >= n }
    }

  property("lossless when row 0 covers the domain") =
    forAll(streamGen) { xs =>
      val (d, w) = (3, 128) // domain [-50, 50] → 101 < 128 distinct mod slots
      val agg = new CountMinAgg(d, w)
      val sk = xs.foldLeft(agg.zero)(agg.reduce)
      val truth = xs.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
      truth.forall { case (x, n) => CountMin.estimate(sk, d, w, x) == n }
    }

  property("any split-merge equals the single fold") =
    forAll(streamGen, Gen.chooseNum(0, 100)) { (xs, cut) =>
      val agg = new CountMinAgg(2, 32)
      val (l, r) = xs.splitAt(cut % (xs.length + 1))
      val merged = agg.merge(l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
      merged.toSeq == xs.foldLeft(agg.zero)(agg.reduce).toSeq
    }
}

object MediaProps extends Properties("MediaCodecs") {
  import graft.multimodal.MediaCodecs

  private val bytesGen: Gen[Array[Byte]] = for {
    body <- Gen.listOf(Gen.chooseNum(-128, 127).map(_.toByte)).map(_.toArray)
    prefix <- Gen.oneOf(
      Array.empty[Byte],
      "RIFF\u0000\u0000\u0000\u0000AVI ".getBytes("ISO-8859-1"),
      "RIFF\u0000\u0000\u0000\u0000WAVE".getBytes("ISO-8859-1"),
      Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte),
      Array(0xff.toByte, 0xd8.toByte))
  } yield prefix ++ body

  property("every media decoder is total: Either/Option out, never an exception") =
    forAll(bytesGen) { bytes =>
      // the property's teeth are exception propagation: each call must
      // RETURN (any Either/Option value is acceptable for garbage input)
      MediaCodecs.decodeImage(bytes)
      MediaCodecs.decodeWav(bytes)
      MediaCodecs.decodeAvi(bytes)
      MediaCodecs.imageFeatures(bytes, 16)
      MediaCodecs.audioFeatures(bytes, 16)
      MediaCodecs.videoFeatures(bytes, 16)
      true
    }
}

object NswProps extends Properties("Nsw") {

  // ids start at a generated base so the deterministic level assignment
  // (a function of the id) differs from case to case
  private val itemsGen: Gen[Array[(Long, Array[Float])]] = for {
    n <- Gen.chooseNum(1, 40)
    base <- Gen.chooseNum(0L, 1L << 40)
    vecs <- Gen.listOfN(n, Gen.listOfN(4, Gen.chooseNum(-100, 100).map(_ / 10.0f)))
  } yield vecs.zipWithIndex.map { case (v, i) => (base + i, v.toArray) }.toArray

  private val maxLevelGen: Gen[Int] = Gen.oneOf(0, Nsw.DefaultMaxLevel)

  private val qGen: Gen[Array[Float]] =
    Gen.listOfN(4, Gen.chooseNum(-100, 100).map(_ / 10.0f)).map(_.toArray)

  private def sqDist(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var i = 0
    while (i < a.length) { val t = a(i).toDouble - b(i); d += t * t; i += 1 }
    d
  }

  property("every node reachable from the entry (guarded parent edges)") =
    forAll(itemsGen, maxLevelGen) { (items, maxLevel) =>
      val adj = Nsw.buildShard(items, m = 3, efConstruction = 8, maxLevel)
        .map(r => r._1 -> r._3(0)).toMap
      val entry = items.map(_._1).min
      val seen = scala.collection.mutable.Set(entry)
      val stack = scala.collection.mutable.Stack(entry)
      while (stack.nonEmpty)
        adj(stack.pop()).foreach(v => if (seen.add(v)) stack.push(v))
      seen.size == items.length
    }

  property("unbounded beam is exhaustive and exactly (dist, id)-ordered") =
    forAll(itemsGen, maxLevelGen, qGen) { (items, maxLevel, q) =>
      val vecOf = items.toMap
      val shard = Nsw.loadShard(Nsw.buildShard(items, m = 3, efConstruction = 8, maxLevel)
        .map { case (id, lvl, layers, _) => (0, id, vecOf(id), lvl, layers) })
      val got = shard.search(q, items.length, Int.MaxValue).toIndexedSeq
      val want = items.map { case (id, v) => (id, sqDist(v, q)) }
        .sortBy { case (id, d) => (d, id) }.toIndexedSeq
      got == want
    }
}
