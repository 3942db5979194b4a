package graft.store

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.SparkSpec

class VersionedSpec extends SparkSpec {
  import spark.implicits._

  private def rows(t: String, v: Option[Int] = None): Set[(Long, String)] =
    Versioned.read(spark, t, v).as[(Long, String)].collect().toSet

  test("appends create monotonically numbered versions; reads see the cumulative table") {
    val t = tmpDir("versioned").toString
    assert(Versioned.currentVersion(t) == 0)
    assert(Versioned.append(Seq((1L, "a")).toDF("id", "s"), t) == 1)
    assert(Versioned.append(Seq((2L, "b")).toDF("id", "s"), t) == 2)
    assert(Versioned.append(Seq((3L, "c")).toDF("id", "s"), t) == 3)
    assert(rows(t) == Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("time travel: every retained version reads its exact snapshot") {
    val t = tmpDir("versioned").toString
    Versioned.append(Seq((1L, "a")).toDF("id", "s"), t)
    Versioned.append(Seq((2L, "b")).toDF("id", "s"), t)
    Versioned.append(Seq((3L, "c")).toDF("id", "s"), t)
    assert(rows(t, Some(1)) == Set((1L, "a")))
    assert(rows(t, Some(2)) == Set((1L, "a"), (2L, "b")))
    assert(rows(t, Some(3)) == Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("compaction preserves rows, bumps the version, and leaves old snapshots intact") {
    val t = tmpDir("versioned").toString
    Versioned.append(Seq((1L, "a")).toDF("id", "s"), t)
    Versioned.append(Seq((2L, "b")).toDF("id", "s"), t)
    val v = Versioned.compact(spark, t)
    assert(v == 3)
    assert(rows(t) == Set((1L, "a"), (2L, "b")))
    assert(Versioned.files(t, Some(3)).size == 1, "compaction must produce one file")
    // snapshot isolation: version 2 still resolves its ORIGINAL files
    assert(rows(t, Some(2)) == Set((1L, "a"), (2L, "b")))
    assert(Versioned.files(t, Some(2)).toSet != Versioned.files(t, Some(3)).toSet)
  }

  test("merge: upserts by key, rewrites only affected files, keeps snapshots") {
    val t = tmpDir("versioned").toString
    Versioned.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), t)
    Versioned.append(Seq((3L, "c"), (4L, "d")).toDF("id", "s"), t)
    val preFiles = Versioned.files(t, Some(2)).toSet
    // update id=3, insert id=9: only the second append's file holds a
    // matched key, so the first append's file must carry by REFERENCE
    val v = Versioned.merge(spark, t,
      Seq((3L, "C!"), (9L, "i")).toDF("id", "s"), keys = Seq("id"))
    assert(v == 3)
    assert(rows(t) == Set((1L, "a"), (2L, "b"), (3L, "C!"), (4L, "d"), (9L, "i")))
    val postFiles = Versioned.files(t, Some(3)).toSet
    val carried = preFiles.intersect(postFiles)
    assert(carried.nonEmpty, "the unmatched file should carry by reference")
    // the batch-1 file (ids 1,2 — untouched keys) is exactly the carry-over
    val batch1 = Versioned.files(t, Some(1)).toSet
    assert(batch1.subsetOf(postFiles), "untouched file rewritten")
    // snapshot isolation: pre-merge version unchanged
    assert(rows(t, Some(2)) == Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
  }

  test("merge: no matched keys is a pure insert; empty table accepts a first merge") {
    val t = tmpDir("versioned").toString
    // merge into an empty table = insert
    assert(Versioned.merge(spark, t, Seq((1L, "a")).toDF("id", "s"), Seq("id")) == 1)
    assert(rows(t) == Set((1L, "a")))
    val before = Versioned.files(t, Some(1)).toSet
    // disjoint keys: nothing rewrites, the old file carries forward
    assert(Versioned.merge(spark, t, Seq((2L, "b")).toDF("id", "s"), Seq("id")) == 2)
    assert(rows(t) == Set((1L, "a"), (2L, "b")))
    assert(before.subsetOf(Versioned.files(t, Some(2)).toSet))
  }

  test("merge: null update keys insert rather than match anything") {
    val t = tmpDir("versioned").toString
    Versioned.append(Seq((1L, "a")).toDF("id", "s"), t)
    val upd = Seq((Option.empty[Long], "n"), (Some(1L), "A"))
      .toDF("id", "s")
    Versioned.merge(spark, t, upd, Seq("id"))
    val got = Versioned.read(spark, t).as[(Option[Long], String)].collect().toSet
    assert(got == Set((Some(1L), "A"), (None, "n")))
  }

  test("a conflicting manifest makes commit fail loudly; append retries past it") {
    val t = tmpDir("versioned").toString
    Versioned.append(Seq((1L, "a")).toDF("id", "s"), t)
    // simulate a concurrent winner for v2 (a valid, empty-delta manifest
    // carrying v1's files forward)
    val v1 = new File(t, "_manifests/v00000001.list")
    Files.write(new File(t, "_manifests/v00000002.list").toPath,
      Files.readAllBytes(v1.toPath))
    intercept[IllegalStateException] {
      Versioned.commit(t, base = 1, newFiles = Seq("nope.parquet"))
    }
    // append's optimistic retry lands on v3 with all rows visible
    assert(Versioned.append(Seq((2L, "b")).toDF("id", "s"), t) == 3)
    assert(rows(t) == Set((1L, "a"), (2L, "b")))
  }

  test("vacuum deletes only files outside the retained horizon and ends their time travel") {
    val t = tmpDir("versioned").toString
    Versioned.append(Seq((1L, "a")).toDF("id", "s"), t) // v1
    Versioned.append(Seq((2L, "b")).toDF("id", "s"), t) // v2
    Versioned.compact(spark, t) // v3 rewrites everything
    val preCompactFiles = Versioned.files(t, Some(2))
    val deleted = Versioned.vacuum(t, keepVersions = 1, minAgeMs = 0)
    assert(deleted == preCompactFiles.size, "both pre-compaction files reclaimed")
    // current version unaffected; old versions are gone
    assert(rows(t) == Set((1L, "a"), (2L, "b")))
    intercept[IllegalArgumentException] { Versioned.files(t, Some(2)) }
    assert(preCompactFiles.forall(f => !new File(f).exists))
  }

  test("vacuum refuses keepVersions=0 and spares files inside the grace window") {
    val t = tmpDir("versioned").toString
    Versioned.append(Seq((1L, "a")).toDF("id", "s"), t)
    Versioned.compact(spark, t)
    intercept[IllegalArgumentException] { Versioned.vacuum(t, keepVersions = 0) }
    // default grace period: the just-written unreferenced files are
    // younger than 10 minutes, so an in-flight writer's data survives
    assert(Versioned.vacuum(t, keepVersions = 1) == 0)
    assert(Versioned.vacuum(t, keepVersions = 1, minAgeMs = 0) > 0)
  }

  test("vacuum tolerates manifest holes left by an earlier, stricter vacuum") {
    val t = tmpDir("versioned").toString
    Versioned.append(Seq((1L, "a")).toDF("id", "s"), t) // v1
    Versioned.append(Seq((2L, "b")).toDF("id", "s"), t) // v2
    Versioned.append(Seq((3L, "c")).toDF("id", "s"), t) // v3
    Versioned.vacuum(t, keepVersions = 1, minAgeMs = 0) // drops v1+v2 manifests
    Versioned.append(Seq((4L, "d")).toDF("id", "s"), t) // v4
    // horizon [2..4] includes the vacuumed v2 — must skip it, not throw
    assert(Versioned.vacuum(t, keepVersions = 3, minAgeMs = 0) == 0)
    assert(rows(t) == Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
  }

  test("manifest log: delta commits replay to the exact listings full writes would produce") {
    val t = tmpDir("mlog").toString
    // v1: an 80-file base — wide enough that later commits log as deltas
    Versioned.append(
      spark.range(0, 800).selectExpr("id", "'x' AS s").repartition(80), t)
    assert(Versioned.isCheckpointManifest(t, 1), "first commit is a full listing")
    // v2..v20: one-row appends — O(1)-line deltas, except the forced
    // checkpoint at the cadence boundary
    (2 to 20).foreach { v =>
      Versioned.append(Seq((1000L + v, "d")).toDF("id", "s"), t): Unit
    }
    assert(!Versioned.isCheckpointManifest(t, 2), "small append logs as a delta")
    assert(Versioned.isCheckpointManifest(t, Versioned.ManifestCheckpointEvery),
      "cadence boundary forces a full listing")
    assert(!Versioned.isCheckpointManifest(t, Versioned.ManifestCheckpointEvery + 1))
    // resolution equivalence: every version's resolved file set telescopes
    // exactly as the full-listing format would
    (2 to 20).foreach { v =>
      val prev = Versioned.files(t, Some(v - 1)).toSet
      val cur = Versioned.files(t, Some(v)).toSet
      assert(cur.size == 80 + (v - 1), s"v$v resolves ${cur.size} files")
      assert(prev.subsetOf(cur), s"v$v must contain v${v - 1}'s files")
    }
    // rows time-travel identically through delta and checkpoint versions
    assert(Versioned.read(spark, t, Some(5)).count() == 804)
    assert(Versioned.read(spark, t, Some(16)).count() == 815)
    assert(Versioned.read(spark, t, Some(20)).count() == 819)
    // a whole-table rewrite retires more lines than it keeps — the
    // policy writes it as a full listing, never a ±2F delta
    val vc = Versioned.compact(spark, t)
    assert(Versioned.isCheckpointManifest(t, vc))
    assert(Versioned.read(spark, t).count() == 819)
    // restore ACROSS delta versions republishes the resolved content
    val vr = Versioned.restore(t, 3)
    assert(Versioned.read(spark, t, Some(vr)).count() == 802)
    assert(Versioned.read(spark, t, Some(vr)).as[(Long, String)].collect().toSet ==
      Versioned.read(spark, t, Some(3)).as[(Long, String)].collect().toSet)
  }

  test("manifest log: vacuum anchors at the nearest checkpoint so the horizon stays resolvable") {
    val t = tmpDir("mlogvac").toString
    Versioned.append(
      spark.range(0, 700).selectExpr("id", "'x' AS s").repartition(70), t)
    (2 to 20).foreach { v =>
      Versioned.append(Seq((1000L + v, "d")).toDF("id", "s"), t): Unit
    }
    val ce = Versioned.ManifestCheckpointEvery // 16
    // horizon [19..20]: both are deltas over the v16 checkpoint — vacuum
    // must keep the whole resolution chain [16..20], not cut at 19
    Versioned.vacuum(t, keepVersions = 2, minAgeMs = 0): Unit
    def mf(v: Int) = new File(t, f"_manifests/v$v%08d.list")
    assert(!mf(1).exists && !mf(ce - 1).exists, "pre-anchor manifests reclaimed")
    assert(mf(ce).exists, "the anchoring checkpoint survives")
    assert((ce to 20).forall(v => mf(v).exists))
    // every retained version still RESOLVES (files + rows)
    (ce to 20).foreach { v =>
      assert(Versioned.files(t, Some(v)).size == 70 + (v - 1))
      assert(Versioned.read(spark, t, Some(v)).count() == 700 + (v - 1))
    }
    // pre-anchor time travel is over, loudly
    intercept[IllegalArgumentException] { Versioned.files(t, Some(2)) }
    // once a checkpoint passes the horizon, the next sweep reclaims the
    // previously over-retained chain
    (21 to 33).foreach { v =>
      Versioned.append(Seq((2000L + v, "e")).toDF("id", "s"), t): Unit
    }
    Versioned.vacuum(t, keepVersions = 1, minAgeMs = 0): Unit
    assert(!mf(ce).exists && !mf(20).exists, "old chain reclaimed after the next checkpoint")
    assert(mf(2 * ce).exists, "new anchor checkpoint survives")
    assert(Versioned.read(spark, t).count() == 700 + 32)
  }

  test("change feed returns exactly the rows added between two versions") {
    val t = tmpDir("versioned").toString
    Versioned.append(Seq((1L, "a")).toDF("id", "s"), t) // v1
    Versioned.append(Seq((2L, "b")).toDF("id", "s"), t) // v2
    Versioned.append(Seq((3L, "c")).toDF("id", "s"), t) // v3
    def delta(from: Int, to: Int) =
      Versioned.changes(spark, t, from, Some(to)).as[(Long, String)].collect().toSet
    assert(delta(1, 3) == Set((2L, "b"), (3L, "c")))
    assert(delta(2, 3) == Set((3L, "c")))
    assert(delta(0, 1) == Set((1L, "a"))) // from the empty table: everything
    assert(delta(3, 3) == Set.empty) // no-op delta is empty, schema intact
    // after compaction the delta degrades explicitly: the compacted file
    // is "new" relative to v3, so the consumer sees a full re-read, not
    // silent row loss
    Versioned.compact(spark, t) // v4
    assert(delta(3, 4) == Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("concurrent appends all land: every row visible, versions contiguous") {
    val t = tmpDir("versioned").toString
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (1L to 8L).map { i =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int =
            Versioned.append(Seq((i, s"w$i")).toDF("id", "s"), t, maxRetries = 20)
        })
      }
      val versions = futures.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      // optimistic concurrency: all 8 commits won SOME version, exactly
      // versions 1..8, and nothing was overwritten or lost
      assert(versions.sorted == (1 to 8))
      assert(Versioned.currentVersion(t) == 8)
      assert(rows(t) == (1L to 8L).map(i => (i, s"w$i")).toSet)
    } finally pool.shutdown()
  }

  test("merge races appends: outcome serializes by commit version, no lost updates") {
    val t = tmpDir("versioned").toString
    val seed = (0L until 6L).map(i => (i, "seed"))
    Versioned.append(seed.toDF("id", "s"), t) // v1
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      // the classic lost-update shape: every append lands a row whose key
      // is inside every merge's update set (plus one fresh key), while
      // the merges replace that whole key range. A blind retry after a
      // conflicting append would keep the appended row next to the
      // merge's replacement row; the re-derive contract must instead make
      // the final state equal a serial replay in commit order.
      val ops: Seq[(String, Seq[(Long, String)])] =
        (0 until 4).map(i => ("A", Seq((i.toLong, s"app$i"), (100L + i, s"new$i")))) ++
          (0 until 4).map(j => ("M", (0L until 6L).map(k => (k, s"merge$j"))))
      val futures = ops.map { case (kind, rs) =>
        pool.submit(new java.util.concurrent.Callable[(String, Seq[(Long, String)], Int)] {
          def call(): (String, Seq[(Long, String)], Int) = {
            val v = kind match {
              case "A" => Versioned.append(rs.toDF("id", "s"), t, maxRetries = 50)
              case "M" => Versioned.merge(spark, t, rs.toDF("id", "s"), Seq("id"), maxRetries = 50)
            }
            (kind, rs, v)
          }
        })
      }
      val done = futures.map(_.get(180, java.util.concurrent.TimeUnit.SECONDS))
      val versions = done.map(_._3)
      // optimistic concurrency: all 8 writers won SOME version, 2..9
      assert(versions.sorted == (2 to 9), s"got $versions")
      // serial replay in commit-version order == the final table, row for
      // row (sorted Seq compare, so an extra surviving duplicate of any
      // row — the lost-update symptom — fails even at equal key counts)
      var state: Seq[(Long, String)] = seed
      done.sortBy(_._3).foreach {
        case ("A", rs, _) => state = state ++ rs
        case ("M", us, _) =>
          val ks = us.map(_._1).toSet
          state = state.filterNot(r => ks(r._1)) ++ us
      }
      val got = Versioned.read(spark, t).as[(Long, String)].collect().toSeq.sorted
      assert(got == state.sorted,
        s"final state diverges from the serial replay:\n got=$got\n want=${state.sorted}")
    } finally pool.shutdown()
  }

  test("optimize: z-order rewrite preserves rows, narrows file envelopes, keeps snapshots") {
    import org.apache.spark.sql.functions.col
    val t = tmpDir("versioned").toString
    val ev = graft.Tables.events(spark, sfDir).select("event_id", "user_id", "value")
    // arrival-order appends: each file spans the full user_id range, so a
    // 2-D box predicate can skip nothing
    Versioned.append(ev.filter("event_id % 2 = 0").repartition(4), t)
    Versioned.append(ev.filter("event_id % 2 = 1").repartition(4), t)
    def skippable(): Long = Clustered.fileEnvelopes(
        Versioned.read(spark, t), "user_id", "event_id")
      .filter(col("user_id_max") < 4 || col("user_id_min") >= 10 ||
        col("event_id_max") < 100 || col("event_id_min") >= 800)
      .count()
    val before = skippable()
    val v = Versioned.optimize(spark, t, "user_id", "event_id", numFiles = 8)
    assert(v == 3)
    assert(Versioned.files(t).size == 8)
    assert(Versioned.read(spark, t).count() == ev.count())
    assert(Versioned.read(spark, t, Some(2)).count() == ev.count(), "old snapshot must survive")
    val after = skippable()
    // the fixture's bit widths are asymmetric (user_id < 16 is 4 bits vs
    // event_id's 10), so the interleave is event-major here and only the
    // event-range tails fall fully outside the box — the point pinned is
    // that arrival-order files (full-range envelopes, 0 skippable) become
    // skippable at all; ClusteredSpec measures balanced-width layouts
    assert(before == 0, s"arrival-order files should skip nothing, got $before")
    assert(after > before,
      s"z-order must make files skippable for the box ($before -> $after of 8)")
  }

  test("compactSmall packs only the small-file tail; large files and old snapshots untouched") {
    val t = tmpDir("versioned").toString
    // one healthy file, then a tail of tiny single-row appends
    Versioned.append((0L until 5000L).map(i => (i, s"s$i")).toDF("id", "s").coalesce(1), t)
    (0 until 4).foreach(i => Versioned.append(Seq((10000L + i, "tiny")).toDF("id", "s"), t))
    val before = Versioned.files(t).toSet
    val big = before.filter(f => new File(f).length() >= 5000)
    assert(big.size == 1, s"expected exactly one healthy-sized file, got ${big.size}")
    val v = Versioned.compactSmall(spark, t, smallBytes = 5000L, targetBytes = 1L << 20)
    assert(v == 6)
    val after = Versioned.files(t).toSet
    assert(after.contains(big.head), "healthy file must be carried over unrewritten")
    assert(before.intersect(after) == big, "every small file must leave the manifest")
    assert(after.size == 2, s"4 tiny files should pack into one batch file: $after")
    // contents identical, old snapshot intact
    assert(Versioned.read(spark, t).count() == 5004)
    assert(rows(t, Some(2)).contains((10000L, "tiny")))
    assert(Versioned.read(spark, t, Some(2)).count() == 5001)
    // nothing small left → no-op, same version
    assert(Versioned.compactSmall(spark, t, smallBytes = 5000L) == 6)
  }

  test("incremental re-embed consumes only the delta: scan files and observed rows") {
    import org.apache.spark.sql.functions.{col, count, lit, sum, udf}
    // the cost half of the incremental_reembed contract (StoreQueries):
    // the CDC read must touch only v2's batch files, and the embed job
    // must observe exactly the delta row count — never the full corpus
    val t = tmpDir("versioned").toString
    val docs = graft.Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    Versioned.append(docs.filter("doc_id < 150"), t)
    val v1Files = Versioned.files(t, Some(1)).toSet
    Versioned.append(docs.filter("doc_id >= 150 AND doc_id < 250"), t)
    val delta = Versioned.changes(spark, t, fromVersion = 1)
    assert(delta.inputFiles.nonEmpty)
    assert(delta.inputFiles.forall(f =>
        !v1Files.contains(new File(new java.net.URI(f)).getAbsolutePath)),
      s"delta scan read a v1 file: ${delta.inputFiles.mkString(",")}")
    // observe the embed job's actual scan volume — through the same
    // partition-mapped seam the pipeline uses (Embedder.embedFrame)
    val obs = new org.apache.spark.sql.Observation("reembed_delta")
    val embedded = graft.functions.Embedder.embedFrame(
      delta.observe(obs, count(lit(1)).as("rows_scanned")))
    assert(embedded.count() == 100, "delta should be exactly the 100 appended docs")
    assert(obs.get("rows_scanned") == 100L,
      s"embed job scanned ${obs.get("rows_scanned")} rows — must be delta-only")
    // and the declared end-to-end query agrees with a direct source-side oracle
    val got = graft.queries.StoreQueries.incrementalReembed(spark, sfDir)
      .as[(String, Long, Long, Long)].collect().toSeq
    val want = graft.Tables.documents(spark, sfDir)
      .filter("doc_id >= 150 AND doc_id < 250")
      .groupBy("source")
      .agg(count(lit(1)).as("n_reembedded"), sum("doc_id").cast("long").as("id_checksum"))
      .withColumn("n_index_total", lit(250L))
      .orderBy("source")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == want, s"got=$got want=$want")
  }

  test("deleteWhere rewrites only files containing matches; erasure completes at vacuum") {
    import org.apache.spark.sql.functions.col
    val t = tmpDir("versioned").toString
    Versioned.append((0L until 100L).map(i => (i, s"a$i")).toDF("id", "s").coalesce(2), t)
    Versioned.append((100L until 200L).map(i => (i, s"b$i")).toDF("id", "s").coalesce(2), t)
    val before = Versioned.files(t).toSet
    val untouched = before.filter { f =>
      // batch-2 files hold ids >= 100 only — the delete must not rewrite them
      spark.read.parquet(f).agg(org.apache.spark.sql.functions.min(col("id"))).head().getLong(0) >= 100
    }
    assert(untouched.nonEmpty)
    val v = Versioned.deleteWhere(spark, t, col("id") === 7L)
    assert(v == 3)
    val after = Versioned.files(t).toSet
    assert(untouched.subsetOf(after), "files without matches must carry over by reference")
    assert(rows(t).size == 199 && !rows(t).exists(_._1 == 7L))
    // snapshot isolation: the pre-delete version still has the row
    assert(rows(t, Some(2)).exists(_._1 == 7L))
    // no-op delete returns the same version
    assert(Versioned.deleteWhere(spark, t, col("id") === 7L) == 3)
    // physical erasure: vacuum retires the pre-delete snapshot's files
    Versioned.vacuum(t, keepVersions = 1, minAgeMs = 0L)
    val remaining = before -- Versioned.files(t).toSet
    assert(remaining.forall(f => !new File(f).exists), "vacuum must delete the rewritten files")
  }

  test("deleteWhere keeps rows where the predicate is NULL (three-valued logic)") {
    import org.apache.spark.sql.functions.col
    val t = tmpDir("versioned").toString
    Versioned.append(Seq((1L, "bob"), (2L, null.asInstanceOf[String]), (3L, "eve"))
      .toDF("id", "user").coalesce(1), t)
    Versioned.deleteWhere(spark, t, col("user") === "bob")
    // the NULL-user row never matched the predicate — a plain !cond
    // filter would have evaluated NULL and silently dropped it too
    assert(rows(t).map(_._1) == Set(2L, 3L))
  }

  test("streaming-batch ledger: replayed micro-batches commit exactly once, through compaction") {
    val t = tmpDir("versioned").toString
    val b0 = Seq((1L, "x"), (2L, "y")).toDF("id", "s")
    val b1 = Seq((3L, "z")).toDF("id", "s")
    assert(Versioned.appendBatchIdempotent(b0, t, batchId = 0) == 1)
    assert(Versioned.appendBatchIdempotent(b1, t, batchId = 1) == 2)
    // at-least-once delivery: both batches replay — no new versions, no dup rows
    assert(Versioned.appendBatchIdempotent(b0, t, batchId = 0) == 2)
    assert(Versioned.appendBatchIdempotent(b1, t, batchId = 1) == 2)
    assert(rows(t) == Set((1L, "x"), (2L, "y"), (3L, "z")))
    // the ledger survives a compaction rewrite (markers aren't data files)
    Versioned.compact(spark, t)
    assert(Versioned.appendBatchIdempotent(b1, t, batchId = 1) == 3)
    assert(rows(t) == Set((1L, "x"), (2L, "y"), (3L, "z")))
    assert(Versioned.processedBatch(t, 0) && Versioned.processedBatch(t, 1))
    assert(!Versioned.processedBatch(t, 2))
  }

  test("appendStream lands a memory stream exactly once across restarts") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val t = tmpDir("versioned").toString
    val cp = tmpDir("versioned_cp").toString
    val input = MemoryStream[(Long, String)]
    val q = Versioned.appendStream(input.toDF().toDF("id", "s"), t, cp)
    try {
      input.addData((1L, "a"), (2L, "b")); q.processAllAvailable()
      input.addData((3L, "c")); q.processAllAvailable()
    } finally q.stop()
    assert(rows(t) == Set((1L, "a"), (2L, "b"), (3L, "c")))
    // restart from the same checkpoint: nothing re-lands
    val q2 = Versioned.appendStream(input.toDF().toDF("id", "s"), t, cp)
    try {
      input.addData((4L, "d")); q2.processAllAvailable()
    } finally q2.stop()
    assert(rows(t) == Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
  }

  test("end to end: streaming sink lands batches, CDC consumer re-embeds only deltas") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{col, udf}
    implicit val sqlCtx = spark.sqlContext
    val t = tmpDir("versioned").toString
    val cp = tmpDir("versioned_cp").toString
    val input = MemoryStream[(Long, String)]
    val q = Versioned.appendStream(input.toDF().toDF("doc_id", "text"), t, cp)
    val embedded = scala.collection.mutable.Map.empty[Long, Int]
    def consume(from: Int): Int = {
      // the incremental consumer: resolve ONE target version, read the
      // delta pinned to exactly that window, checkpoint that version —
      // checkpointing a version re-read AFTER the delta would skip any
      // commit that landed in between, losing data forever
      val cur = Versioned.currentVersion(t)
      if (cur > from) {
        val delta = graft.functions.Embedder.embedFrame(
            Versioned.changes(spark, t, from, Some(cur)))
          .collect()
        delta.foreach(r => embedded(r.getLong(0)) = embedded.getOrElse(r.getLong(0), 0) + 1)
      }
      cur
    }
    val cp1 =
      try {
        input.addData((1L, "alpha beta"), (2L, "gamma")); q.processAllAvailable()
        val c = consume(0)
        input.addData((3L, "delta text")); q.processAllAvailable()
        c
      } finally q.stop()
    // restart-shaped replay of the last micro-batch (same epoch id the
    // stream committed): the manifest ledger absorbs it, no new version
    val before = Versioned.currentVersion(t)
    assert(Versioned.appendBatchIdempotent(
      Seq((3L, "delta text")).toDF("doc_id", "text"), t, batchId = 1) == before)
    consume(cp1)
    consume(Versioned.currentVersion(t)) // nothing further to consume
    // every doc embedded exactly once: the sink deduped the replay and
    // the CDC consumer never re-read an old batch
    assert(embedded.toMap == Map(1L -> 1, 2L -> 1, 3L -> 1),
      s"per-doc embed counts: $embedded")
  }

  test("mergeBatchIdempotent: replayed micro-batches upsert exactly once; out-of-order can't regress") {
    val t = tmpDir("versioned").toString
    val b0 = Seq((1L, "v1"), (2L, "v1")).toDF("id", "s")
    Versioned.mergeBatchIdempotent(spark, t, b0, Seq("id"), batchId = 0)
    val v1 = Versioned.currentVersion(t)
    // replay of batch 0 is a no-op: same version, no duplicate rows
    assert(Versioned.mergeBatchIdempotent(spark, t, b0, Seq("id"), batchId = 0) == v1)
    assert(rows(t) == Set((1L, "v1"), (2L, "v1")))
    // batch 1 upserts id 1 and inserts id 3
    Versioned.mergeBatchIdempotent(spark, t,
      Seq((1L, "v2"), (3L, "v1")).toDF("id", "s"), Seq("id"), batchId = 1)
    assert(rows(t) == Set((1L, "v2"), (2L, "v1"), (3L, "v1")))
    // replaying batch 0 AFTER batch 1 must not resurrect id 1's old value
    assert(Versioned.mergeBatchIdempotent(spark, t, b0, Seq("id"), batchId = 0)
      == Versioned.currentVersion(t))
    assert(rows(t) == Set((1L, "v2"), (2L, "v1"), (3L, "v1")))
    // the upsert-sink conflict layer: an out-of-order batch resolved
    // through applyUpsertBatch keeps the newer resident row
    val t2 = tmpDir("versioned").toString
    def evs(rs: (Long, Long, String)*) =
      rs.toSeq.toDF("user_id", "seq", "val")
    graft.streaming.Streams.applyUpsertBatch(
      evs((1L, 10L, "new"), (2L, 5L, "mid")), t2, Seq("user_id"), Seq("seq"), 0)
    graft.streaming.Streams.applyUpsertBatch(
      evs((1L, 3L, "old"), (2L, 9L, "newer")), t2, Seq("user_id"), Seq("seq"), 1)
    val got = Versioned.read(spark, t2).as[(Long, Long, String)].collect().toSet
    assert(got == Set((1L, 10L, "new"), (2L, 9L, "newer")),
      s"out-of-order batch regressed state: $got")
  }

  test("CHECK constraints: log-recorded, enforced on append/merge, NULL passes, survive compaction") {
    val t = tmpDir("versioned").toString
    Versioned.append(Seq((1L, Some(10.0)), (2L, None)).toDF("id", "v"), t)
    // NULL rows pass SQL CHECK semantics, so adding v > 0 succeeds
    Versioned.addConstraint(spark, t, "v_pos", "v > 0")
    assert(Versioned.constraintsOf(t) == Seq(("v_pos", "v > 0")))
    // a violated add is rejected (existing data validated first)
    intercept[IllegalArgumentException] {
      Versioned.addConstraint(spark, t, "v_big", "v > 100")
    }
    // violating append rejected atomically: version unchanged, no rows landed
    val vBefore = Versioned.currentVersion(t)
    intercept[IllegalArgumentException] {
      Versioned.append(Seq((3L, Some(-1.0))).toDF("id", "v"), t)
    }
    assert(Versioned.currentVersion(t) == vBefore)
    // violating merge rejected too; clean writes pass
    intercept[IllegalArgumentException] {
      Versioned.merge(spark, t, Seq((1L, Some(-5.0))).toDF("id", "v"), Seq("id"))
    }
    Versioned.append(Seq((3L, Some(3.0))).toDF("id", "v"), t)
    Versioned.merge(spark, t, Seq((1L, Some(11.0))).toDF("id", "v"), Seq("id"))
    // constraints ride through compaction (rewrites drop only data lines)
    Versioned.compact(spark, t)
    assert(Versioned.constraintsOf(t) == Seq(("v_pos", "v > 0")))
    intercept[IllegalArgumentException] {
      Versioned.append(Seq((4L, Some(-2.0))).toDF("id", "v"), t)
    }
    // re-add replaces; drop removes enforcement
    Versioned.addConstraint(spark, t, "v_pos", "v > -100")
    assert(Versioned.constraintsOf(t) == Seq(("v_pos", "v > -100")))
    Versioned.dropConstraint(t, "v_pos")
    Versioned.append(Seq((5L, Some(-2.0))).toDF("id", "v"), t) // now allowed
    assert(Versioned.read(spark, t).count() == 4) // ids 1,2,3,5 (id 4 was rejected)
  }

  test("manifests are plain relative-path lists (no absolute paths leak in)") {
    val t = tmpDir("versioned").toString
    Versioned.append(Seq((1L, "a")).toDF("id", "s"), t)
    val manifest = new String(Files.readAllBytes(
      new File(t, "_manifests/v00000001.list").toPath), StandardCharsets.UTF_8)
    assert(manifest.linesIterator.forall(l => !l.startsWith("/")), manifest)
  }

  test("schema evolution: add-column batch stamps the union schema; old rows read NULL") {
    val t = tmpDir("versioned").toString
    Versioned.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), t) // v1, no marker
    assert(Versioned.schemaOf(t).isEmpty, "same-schema tables stay marker-free")
    Versioned.append(Seq((3L, "c", 30L)).toDF("id", "s", "q"), t) // v2 evolves
    val recorded = Versioned.schemaOf(t)
    assert(recorded.map(_.fieldNames.toSeq).contains(Seq("id", "s", "q")),
      s"marker should record the union schema, got $recorded")
    // current read: evolved width, pre-evolution rows NULL-filled
    val cur = Versioned.read(spark, t)
      .select("id", "s", "q").as[(Long, String, Option[Long])].collect().toSet
    assert(cur == Set((1L, "a", None), (2L, "b", None), (3L, "c", Some(30L))))
    // time travel reads v1 under v1's OWN schema — the new column is
    // invisible before the evolution commit
    assert(Versioned.read(spark, t, Some(1)).columns.toSeq == Seq("id", "s"))
  }

  test("schema evolution: NARROWER batch on a marker-free table stamps the schema") {
    val t = tmpDir("versioned").toString
    Versioned.append(Seq((1L, "a", 10L)).toDF("id", "s", "q"), t) // v1, no marker
    assert(Versioned.schemaOf(t).isEmpty)
    // a strict-subset batch would commit mixed-width files; without a
    // recorded schema, reads would depend on which footer Spark lists
    // first — the commit must stamp the current schema instead
    Versioned.append(Seq((2L, "b")).toDF("id", "s"), t) // v2, narrower
    assert(Versioned.schemaOf(t).map(_.fieldNames.toSeq).contains(Seq("id", "s", "q")),
      "narrower batch must stamp the (unchanged) schema marker")
    val cur = Versioned.read(spark, t)
      .select("id", "s", "q").as[(Long, String, Option[Long])].collect().toSet
    assert(cur == Set((1L, "a", Some(10L)), (2L, "b", None)),
      "wide rows must keep their values; narrow rows NULL-fill")
  }

  test("schema evolution: legacy marker-free table with MIXED footers evolves to the true union") {
    // simulate a table written by pre-marker-invariant code: two batches
    // with different widths committed directly, no schema marker. The
    // one-footer fast path may see either footer; an append must still
    // derive the union over ALL committed columns, not whichever footer
    // lists first
    val t = tmpDir("versioned").toString
    Seq((1L, "a")).toDF("id", "s").write.parquet(new File(t, "legacy-narrow").getPath)
    Seq((2L, "b", 20L)).toDF("id", "s", "q").write.parquet(new File(t, "legacy-wide").getPath)
    def parquets(b: String) = new File(t, b).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).map(f => s"$b/${f.getName}")
    Versioned.commit(t, 0, parquets("legacy-narrow").toSeq ++ parquets("legacy-wide").toSeq)
    assert(Versioned.schemaOf(t).isEmpty, "legacy table starts marker-free")
    // append a batch matching NEITHER footer exactly: forces the fallback
    Versioned.append(Seq((3L, "c", 30L, true)).toDF("id", "s", "q", "ok"), t)
    assert(Versioned.schemaOf(t).map(_.fieldNames.toSet).contains(Set("id", "s", "q", "ok")),
      s"union must cover every legacy column, got ${Versioned.schemaOf(t)}")
    val cur = Versioned.read(spark, t)
      .select("id", "s", "q", "ok")
      .as[(Long, String, Option[Long], Option[Boolean])].collect().toSet
    assert(cur == Set((1L, "a", None, None), (2L, "b", Some(20L), None),
      (3L, "c", Some(30L), Some(true))))
  }

  test("legacy mixed-footer table: a batch that FITS the narrow footer still stamps the union") {
    // ADVICE round 9: the old fallback only fired when the batch did NOT
    // fit the one sampled footer, so a narrow-fitting batch left the
    // footer-order read ambiguity in place. Any append to a marker-free
    // nonempty table now pays the one-time footer-merge and stamps the
    // union — after which no append or read opens a footer again.
    val t = tmpDir("versioned").toString
    Seq((1L, "a")).toDF("id", "s").write.parquet(new File(t, "legacy-narrow").getPath)
    Seq((2L, "b", 20L)).toDF("id", "s", "q").write.parquet(new File(t, "legacy-wide").getPath)
    def parquets(b: String) = new File(t, b).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).map(f => s"$b/${f.getName}")
    Versioned.commit(t, 0, parquets("legacy-narrow").toSeq ++ parquets("legacy-wide").toSeq)
    assert(Versioned.schemaOf(t).isEmpty, "legacy table starts marker-free")
    Versioned.append(Seq((3L, "c")).toDF("id", "s"), t) // fits the NARROW footer
    assert(Versioned.schemaOf(t).map(_.fieldNames.toSet).contains(Set("id", "s", "q")),
      s"fitting batch must still stamp the true union, got ${Versioned.schemaOf(t)}")
    val cur = Versioned.read(spark, t)
      .select("id", "s", "q").as[(Long, String, Option[Long])].collect().toSet
    assert(cur == Set((1L, "a", None), (2L, "b", Some(20L)), (3L, "c", None)))
  }

  test("append re-validates against constraints committed after its entry validation") {
    // the ADVICE round-9 race: addConstraint lands between an append's
    // entry validation and its commit — the rebased commit must re-gate
    // the batch, not land rows violating the new constraint. The sneak
    // UDF fires during the append's own data write (after entry
    // validation, before the commit loop), making the interleaving
    // deterministic.
    val t = tmpDir("versioned").toString
    Versioned.append(Seq((1L, 20L)).toDF("id", "x"), t) // v1
    ConstraintRace.table = t
    ConstraintRace.armed.set(true)
    val sneak = org.apache.spark.sql.functions.udf { x: Long => ConstraintRace.fire(); x }
    val df = Seq((2L, 5L)).toDF("id", "x")
      .withColumn("x", sneak(org.apache.spark.sql.functions.col("x")))
    val err = intercept[IllegalArgumentException] { Versioned.append(df, t) }
    assert(err.getMessage.contains("x_big"), err.getMessage)
    assert(Versioned.read(spark, t).select("id").as[Long].collect().toSeq == Seq(1L),
      "the violating batch must not be part of the table")
  }

  test("multi-constraint validation is a single aggregate action; first violation reported") {
    val df = Seq((1L, 5L), (2L, -1L), (3L, 1000L)).toDF("id", "x").cache()
    df.count() // warm the cache so the validation pass is the only scan
    val cons = Seq("a" -> "x < 100", "b" -> "id > 0", "c" -> "x != 7")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    // the listener bus is async: poll until the count is stable
    def settle(): Int = {
      var last = -1
      var cur = jobs.get()
      var waited = 0
      while (cur != last && waited < 10000) {
        last = cur; Thread.sleep(100); waited += 100; cur = jobs.get()
      }
      cur
    }
    settle()
    spark.sparkContext.addSparkListener(l)
    try {
      val err = intercept[IllegalArgumentException] {
        Versioned.requireConstraints(cons, df)
      }
      assert(err.getMessage.contains("'a'"), err.getMessage)
      // job count must NOT grow with constraint count (AQE may split one
      // action into a fixed number of jobs — compare against a
      // 1-constraint baseline instead of pinning an absolute count)
      jobs.set(0)
      Versioned.requireConstraints(Seq("a" -> "x < 10000"), df)
      val oneCons = settle()
      jobs.set(0)
      // 4 passing constraints (incl. NULL ⇒ pass) — same job count
      Versioned.requireConstraints(
        Seq("a" -> "x < 10000", "b" -> "id > -10", "c" -> "x != 7",
          "n" -> "CAST(NULL AS BOOLEAN)"), df)
      val fourCons = settle()
      assert(fourCons == oneCons,
        s"validation cost must be constraint-count independent: 1 constraint ran " +
          s"$oneCons job(s), 4 constraints ran $fourCons")
    } finally spark.sparkContext.removeSparkListener(l)
    df.unpersist(): Unit
  }

  test("restore rolls back by manifest re-publish: content equals the target version, history survives") {
    val t = tmpDir("versioned").toString
    Versioned.append(Seq((1L, "a")).toDF("id", "s"), t) // v1
    Versioned.append(Seq((2L, "b")).toDF("id", "s"), t) // v2
    Versioned.append(Seq((3L, "c")).toDF("id", "s"), t) // v3
    val v4 = Versioned.restore(t, 2)
    assert(v4 == 4, "restore must add a version, not rewrite one")
    assert(rows(t) == Set((1L, "a"), (2L, "b")), "current state == v2")
    assert(rows(t, Some(3)) == Set((1L, "a"), (2L, "b"), (3L, "c")),
      "the rolled-back version stays time-travelable")
    // restoring a vacuumed version is a clear error
    Versioned.vacuum(t, keepVersions = 2, minAgeMs = 0)
    val err = intercept[IllegalArgumentException] { Versioned.restore(t, 1) }
    assert(err.getMessage.contains("unavailable"))
  }

  test("shallow clone: zero-copy reference, both directions isolated, source files out of clone vacuum's reach") {
    val src = tmpDir("versioned").toString
    val tgt = tmpDir("versioned").toString + "-clone"
    Versioned.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), src)
    Versioned.addConstraint(spark, src, "id_pos", "id > 0")
    Versioned.shallowClone(src, tgt)
    assert(rows(tgt) == rows(src), "clone sees the source's current content")
    // metadata-only: the clone directory holds no parquet of its own
    def parquetsUnder(d: String): Seq[File] = {
      def walk(f: File): Seq[File] =
        if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Seq.empty
      walk(new File(d))
    }
    assert(parquetsUnder(tgt).isEmpty, "shallow clone must copy no data")
    // constraints carry; the clone enforces them on its own writes
    val bad = intercept[IllegalArgumentException] {
      Versioned.append(Seq((-5L, "x")).toDF("id", "s"), tgt)
    }
    assert(bad.getMessage.contains("id_pos"))
    // divergence is isolated both ways
    Versioned.append(Seq((3L, "c")).toDF("id", "s"), tgt)
    Versioned.deleteWhere(spark, src,
      org.apache.spark.sql.functions.col("id") === 1L)
    assert(rows(src) == Set((2L, "b")))
    assert(rows(tgt) == Set((1L, "a"), (2L, "b"), (3L, "c")),
      "clone still reads the pre-delete files it references")
    // the clone's vacuum can only touch files under the CLONE's root
    Versioned.vacuum(tgt, keepVersions = 1, minAgeMs = 0)
    assert(rows(src, Some(1)) == Set((1L, "a"), (2L, "b")),
      "source files must survive any clone vacuum")
    assert(rows(tgt) == Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  /** The rows of the files whose `id` stats admit [lo, hi] at the current
    * version — a stats-pruned range read. */
  private def rangeRead(t: String, lo: Long, hi: Long) =
    Versioned.readFilesOf(spark, t, Versioned.currentVersion(t),
      Versioned.prunedFiles(t, "id", lo, hi))

  test("shallow clone carries LIVE stats/bloom markers: skipping works on the clone") {
    // the clone's data lines are ABSOLUTE external paths, so carried
    // markers must rewrite their embedded file line to the same form —
    // source-relative marker lines could never match and skipping would
    // be silently disabled (round-10 ADVICE)
    val src = tmpDir("versioned").toString
    val tgt = tmpDir("versioned").toString + "-mclone"
    Versioned.append(Seq((1L, "a"), (5L, "b")).toDF("id", "s").coalesce(1), src)
    Versioned.append(Seq((50L, "c")).toDF("id", "s").coalesce(1), src)
    Versioned.analyzeStats(spark, src, "id")
    Versioned.analyzeBloom(spark, src, "id", bits = 4096)
    Versioned.shallowClone(src, tgt)
    // stats keyed on the clone's manifest lines resolve: [40,60] keeps
    // only the second file, same as on the source
    assert(Versioned.prunedFiles(src, "id", 40, 60).size == 1)
    assert(Versioned.prunedFiles(tgt, "id", 40, 60).size == 1,
      "clone stats markers must key on the clone's absolute file lines")
    assert(Versioned.statsOf(tgt).size == Versioned.statsOf(src).size)
    assert(Versioned.bloomOf(tgt).size == Versioned.bloomOf(src).size)
    assert(rangeRead(tgt, 40, 60)
      .as[(Long, String)].collect().toSet == Set((50L, "c")))
  }

  test("table_history: file counts telescope; churn matches the commit classes") {
    val rows = graft.queries.StoreQueries.queries("table_history")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // n_files(v) = n_files(v-1) + added - removed, from zero
    rows.foldLeft(0L) { case (prev, (_, nf, add, rem, _)) =>
      assert(nf == prev + add - rem); nf
    }
    // appends only add; the delete version both adds (rewrite) and removes
    assert(rows.take(3).forall(_._4 == 0L))
    assert(rows.last._3 == 1L && rows.last._4 == 1L)
    // row counts are monotone through the appends, then the delete shrinks
    assert(rows(0)._5 <= rows(1)._5 && rows(1)._5 <= rows(2)._5)
    assert(rows(3)._5 < rows(2)._5)
  }

  test("manifest stats: analyze, prune from the log alone, markers retire with rewrites") {
    val t = tmpDir("versioned").toString
    Versioned.append(Seq((1L, "a"), (5L, "b")).toDF("id", "s").coalesce(1), t)   // file [1,5]
    Versioned.append(Seq((10L, "c"), (20L, "d")).toDF("id", "s").coalesce(1), t) // file [10,20]
    Versioned.append(Seq((50L, "e")).toDF("id", "s").coalesce(1), t)             // file [50,50]
    Versioned.analyzeStats(spark, t, "id")
    assert(Versioned.statsOf(t).size == 3)
    // pruning selects files from stats alone
    assert(Versioned.prunedFiles(t, "id", 8, 30).size == 1)
    assert(rangeRead(t, 8, 30)
      .as[(Long, String)].collect().toSet == Set((10L, "c"), (20L, "d")))
    assert(Versioned.prunedFiles(t, "id", 100, 200).isEmpty)
    assert(rangeRead(t, 100, 200).count() == 0)
    // incremental: a new (unanalyzed) file is conservatively read...
    Versioned.append(Seq((200L, "f")).toDF("id", "s").coalesce(1), t)
    assert(Versioned.prunedFiles(t, "id", 8, 30).size == 2)
    // ...until the next analyze covers it (one marker added, 3 kept)
    Versioned.analyzeStats(spark, t, "id")
    assert(Versioned.statsOf(t).size == 4)
    assert(Versioned.prunedFiles(t, "id", 8, 30).size == 1)
    // a rewrite retires the removed files' markers with them
    Versioned.deleteWhere(spark, t, org.apache.spark.sql.functions.col("id") === 10L)
    val after = Versioned.statsOf(t)
    assert(after.size == 3, s"deleted file's marker must retire, got $after")
    assert(Versioned.read(spark, t).count() == 5)
  }

  test("manifest blooms: point-lookup pruning where min/max cannot, markers retire") {
    val t = tmpDir("versioned").toString
    // interleaved landing: both files span [1, 100] by min/max
    Versioned.append(Seq((1L, "a"), (50L, "b"), (100L, "c")).toDF("id", "s").coalesce(1), t)
    Versioned.append(Seq((2L, "d"), (51L, "e"), (99L, "f")).toDF("id", "s").coalesce(1), t)
    Versioned.analyzeStats(spark, t, "id")
    Versioned.analyzeBloom(spark, t, "id")
    assert(Versioned.bloomOf(t).size == 2)
    // the admit rule at the current version, over its files
    def admitted(admit: (Versioned.SkipSnapshot, String) => Boolean): Seq[String] = {
      val snap = Versioned.skipSnapshot(t, Versioned.currentVersion(t))
      Versioned.admitted(t, Versioned.files(t))(admit(snap, _))
    }
    // min/max keeps both files for any in-range point; bloom prunes to 1
    assert(admitted(_.admitsRange(_, "id", 51L, 51L)).size == 2)
    assert(admitted(_.admitsValue(_, "id", "51")).size == 1)
    assert(admitted(_.admitsValue(_, "id", "100")).size == 1)
    // an absent value may FP but never misses; at 6 keys FPR ~ 0
    assert(admitted(_.admitsValue(_, "id", "77")).isEmpty)
    // incremental: a new file lacks a filter and is conservatively kept
    Versioned.append(Seq((200L, "g")).toDF("id", "s").coalesce(1), t)
    assert(admitted(_.admitsValue(_, "id", "77")).size == 1)
    Versioned.analyzeBloom(spark, t, "id")
    assert(Versioned.bloomOf(t).size == 3)
    assert(admitted(_.admitsValue(_, "id", "77")).isEmpty)
    // a rewrite retires the removed files' bloom markers with them
    Versioned.deleteWhere(spark, t, org.apache.spark.sql.functions.col("id") === 2L)
    assert(Versioned.bloomOf(t).size == 2,
      s"rewritten file's bloom must retire, got ${Versioned.bloomOf(t).keySet}")
    assert(Versioned.read(spark, t).count() == 6)
  }

  test("zero-rewrite column rename: legacy files serve canonical names; rewrites gated until normalize") {
    val t = tmpDir("versioned").toString
    Versioned.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), t)
    val legacyFiles = Versioned.files(t).toSet
    Versioned.renameColumn(spark, t, "s", "label")
    // no data file was touched, but reads serve the new name
    assert(Versioned.files(t).toSet == legacyFiles)
    assert(Versioned.read(spark, t).columns.toSeq == Seq("id", "label"))
    assert(Versioned.read(spark, t).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    // post-rename appends write canonical names; the union still resolves
    Versioned.append(Seq((3L, "c")).toDF("id", "label"), t)
    assert(Versioned.read(spark, t).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // CDC deltas serve canonical names for legacy-era files too
    assert(Versioned.changes(spark, t, 0).columns.toSeq == Seq("id", "label"))
    // chained rename: a -> b -> c resolves through both markers
    Versioned.renameColumn(spark, t, "label", "tag")
    assert(Versioned.read(spark, t).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // file-rewriting ops are rejected while renames are outstanding
    val e = intercept[IllegalArgumentException] {
      Versioned.deleteWhere(spark, t, org.apache.spark.sql.functions.col("id") === 1L)
    }
    assert(e.getMessage.contains("normalize"))
    // normalize: one explicit rewrite retires the markers and unblocks
    Versioned.normalize(spark, t)
    assert(Versioned.renamesOf(t).isEmpty)
    assert(Versioned.read(spark, t).columns.toSeq == Seq("id", "tag"))
    Versioned.deleteWhere(spark, t, org.apache.spark.sql.functions.col("id") === 1L)
    assert(Versioned.read(spark, t).as[(Long, String)].collect().toSet ==
      Set((2L, "b"), (3L, "c")))
  }

  test("retention delete: expired files drop as metadata, only straddlers rewrite") {
    val t = tmpDir("versioned").toString
    Versioned.append(Seq((1L, "a"), (5L, "b")).toDF("id", "s").coalesce(1), t)   // [1,5] expired
    Versioned.append(Seq((8L, "c"), (12L, "d")).toDF("id", "s").coalesce(1), t)  // [8,12] straddles 10
    Versioned.append(Seq((20L, "e")).toDF("id", "s").coalesce(1), t)             // [20,20] live
    Versioned.analyzeStats(spark, t, "id")
    val live = Versioned.files(t).last // the [20,20] file's path
    val out = Versioned.retentionDelete(spark, t, "id", cutoff = 10L)
    assert(out.droppedMeta == 1 && out.rewritten == 1 && out.untouched == 1, out.toString)
    assert(rows(t) == Set((12L, "d"), (20L, "e")))
    // the live file carried by reference, and the retired files' stats
    // markers went with them (only the untouched file's marker survives)
    assert(Versioned.files(t).contains(live))
    assert(Versioned.statsOf(t).size == 1)
    // a statless table still deletes correctly (conservative rewrite)
    val t2 = tmpDir("versioned").toString
    Versioned.append(Seq((1L, "a"), (20L, "b")).toDF("id", "s").coalesce(1), t2)
    val out2 = Versioned.retentionDelete(spark, t2, "id", cutoff = 10L)
    assert(out2.droppedMeta == 0 && out2.rewritten == 1)
    assert(rows(t2) == Set((20L, "b")))
    // snapshot isolation: the pre-delete version still serves expired rows
    assert(rows(t, Some(4)) ==
      Set((1L, "a"), (5L, "b"), (8L, "c"), (12L, "d"), (20L, "e")))
  }

  test("timestamp time travel: publish-time resolution, holes, edges") {
    val t = tmpDir("versioned").toString
    Versioned.append(Seq((1L, "a")).toDF("id", "s"), t)
    Versioned.append(Seq((2L, "b")).toDF("id", "s"), t)
    Versioned.append(Seq((3L, "c")).toDF("id", "s"), t)
    val now = System.currentTimeMillis()
    def stamp(v: Int, ageSec: Long): Unit = {
      val f = new File(t, f"_manifests/v$v%08d.list")
      assert(f.setLastModified(now - ageSec * 1000))
    }
    stamp(1, 300); stamp(2, 200); stamp(3, 100)
    assert(Versioned.versionAsOf(t, now - 150 * 1000) == 2)
    assert(rows(t, Some(Versioned.versionAsOf(t, now - 150 * 1000))) ==
      Set((1L, "a"), (2L, "b")))
    assert(Versioned.readAsOf(spark, t, now - 250 * 1000)
      .as[(Long, String)].collect().toSet == Set((1L, "a")))
    // a future timestamp resolves to the current version
    assert(Versioned.versionAsOf(t, now + 1000000) == 3)
    // before the earliest commit: loud error, not silent empty
    intercept[IllegalArgumentException] {
      Versioned.versionAsOf(t, now - 400 * 1000)
    }
    // a vacuumed hole is skipped; a time inside it resolves to the
    // newest RETAINED version at or before it... or errors when none is
    Versioned.vacuum(t, keepVersions = 1, minAgeMs = 0)
    intercept[IllegalArgumentException] {
      Versioned.versionAsOf(t, now - 150 * 1000)
    }
    assert(Versioned.versionAsOf(t, now) == 3)
  }

  test("schema evolution: marker and NULL-fill survive compaction and merge") {
    val t = tmpDir("versioned").toString
    Versioned.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), t)
    Versioned.append(Seq((3L, "c", 30L)).toDF("id", "s", "q"), t)
    val v3 = Versioned.compact(spark, t)
    assert(Versioned.schemaOf(t, Some(v3)).isDefined, "compaction must carry the marker")
    assert(Versioned.read(spark, t).columns.toSeq == Seq("id", "s", "q"))
    // merge with full-width updates: the rewrite reads mixed-width files
    // under the recorded schema, so the replaced row keeps its NULL ↔
    // value distinction straight
    Versioned.merge(spark, t,
      Seq((2L, "B!", 20L), (9L, "i", 90L)).toDF("id", "s", "q"), keys = Seq("id"))
    val cur = Versioned.read(spark, t)
      .select("id", "s", "q").as[(Long, String, Option[Long])].collect().toSet
    assert(cur == Set((1L, "a", None), (2L, "B!", Some(20L)),
      (3L, "c", Some(30L)), (9L, "i", Some(90L))))
  }

  test("schema evolution: a batch that fits the evolved schema does not re-stamp; type changes are rejected") {
    val t = tmpDir("versioned").toString
    Versioned.append(Seq((1L, "a")).toDF("id", "s"), t)
    Versioned.append(Seq((2L, "b", 20L)).toDF("id", "s", "q"), t)
    val marker = Versioned.schemaOf(t)
    // a narrower batch (missing the evolved column) still fits — commits
    // without touching the marker, reads back NULL in q
    Versioned.append(Seq((4L, "d")).toDF("id", "s"), t)
    assert(Versioned.schemaOf(t) == marker)
    val q4 = Versioned.read(spark, t).where("id = 4")
      .select("q").as[Option[Long]].collect().toSeq
    assert(q4 == Seq(None))
    // changing an existing column's type is a caller error, not evolution
    val err = intercept[IllegalArgumentException] {
      Versioned.append(Seq((5L, "e", "not-a-long")).toDF("id", "s", "q"), t)
    }
    assert(err.getMessage.contains("schema evolution cannot change column"))
  }

  test("dropColumn: zero-rewrite, per-version schema on time travel, tombstone blocks re-add, purge clears it") {
    import org.apache.spark.sql.functions.col
    val t = tmpDir("versioned").toString
    Versioned.append(Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "s", "q"), t)
    Versioned.append(Seq((3L, "c", 30L)).toDF("id", "s", "q"), t)
    val preFiles = Versioned.files(t).toSet
    val vDrop = Versioned.dropColumn(spark, t, "q")
    // metadata-only: the exact same data files back the new version
    assert(Versioned.files(t, Some(vDrop)).toSet == preFiles)
    assert(Versioned.read(spark, t).columns.toSeq == Seq("id", "s"))
    // time travel reads the PRE-drop version under its own schema
    assert(Versioned.read(spark, t, Some(2)).columns.toSeq == Seq("id", "s", "q"))
    assert(Versioned.read(spark, t, Some(2)).where("id = 2")
      .select("q").as[Long].collect().toSeq == Seq(20L))
    // re-introducing the dropped name is blocked (old bytes would resurrect)
    val err = intercept[IllegalArgumentException] {
      Versioned.append(Seq((4L, "d", 99L)).toDF("id", "s", "q"), t)
    }
    assert(err.getMessage.contains("dropped"))
    // rewriting ops still work and physically shed the column
    Versioned.merge(spark, t, Seq((2L, "B!")).toDF("id", "s"), Seq("id"))
    assert(rows(t) == Set((1L, "a"), (2L, "B!"), (3L, "c")))
    // purge: one explicit rewrite erases the bytes and frees the name
    val vPurge = Versioned.purgeDropped(spark, t)
    assert(Versioned.droppedOf(t, Some(vPurge)).isEmpty)
    Versioned.append(Seq((5L, "e", 50L)).toDF("id", "s", "q"), t)
    val q5 = Versioned.read(spark, t).where("id = 5")
      .select("q").as[Option[Long]].collect().toSeq
    assert(q5 == Seq(Some(50L)))
    // pre-purge rows carry NULL in the re-added column, never old bytes
    assert(Versioned.read(spark, t).where("id = 1")
      .select("q").as[Option[Long]].collect().toSeq == Seq(None))
  }

  test("widenColumn: zero-rewrite int->bigint, mixed-width reads upcast, narrow appends keep landing") {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val t = tmpDir("versioned").toString
    Versioned.append(Seq((1, "a"), (2, "b")).toDF("v", "s"), t)
    // the first append is marker-free; stamp a marker via a second batch
    Versioned.append(Seq((3, "c")).toDF("v", "s"), t)
    val preFiles = Versioned.files(t).toSet
    val vWide = Versioned.widenColumn(spark, t, "v", LongType)
    assert(Versioned.files(t, Some(vWide)).toSet == preFiles, "widen must not rewrite")
    assert(Versioned.read(spark, t).schema("v").dataType == LongType)
    // existing INT32 files upcast under the wide schema
    assert(Versioned.read(spark, t).selectExpr("sum(v)").as[Long].head() == 6L)
    // a LONG batch with a value beyond int range lands post-widen
    Versioned.append(Seq((3000000000L, "wide")).toDF("v", "s"), t)
    // a NARROW int batch still lands (scan upcasts it), without marker churn
    val marker = Versioned.schemaOf(t)
    Versioned.append(Seq((4, "d")).toDF("v", "s"), t)
    assert(Versioned.schemaOf(t) == marker)
    assert(Versioned.read(spark, t).selectExpr("sum(v)").as[Long].head() ==
      3000000010L)
    // time travel: the pre-widen version still reads its narrow schema
    assert(Versioned.read(spark, t, Some(2)).schema("v").dataType == IntegerType)
    // a rewrite converges touched files to the wide physical type
    Versioned.compact(spark, t)
    assert(spark.read.parquet(Versioned.files(t).head).schema("v").dataType == LongType)
    assert(Versioned.read(spark, t).selectExpr("sum(v)").as[Long].head() ==
      3000000010L)
    // narrowing is rejected; so is widening a non-numeric column
    intercept[IllegalArgumentException] {
      Versioned.widenColumn(spark, t, "v", IntegerType)
    }
    intercept[IllegalArgumentException] {
      Versioned.widenColumn(spark, t, "s", LongType)
    }
  }

  test("schema evolution races an append: both commits land, no lost update") {
    import org.apache.spark.sql.types.LongType
    val t = tmpDir("versioned").toString
    Versioned.append(Seq((1, "a")).toDF("v", "s"), t)
    Versioned.append(Seq((2, "b")).toDF("v", "s"), t) // stamps the marker
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val widen = pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = Versioned.widenColumn(spark, t, "v", LongType, maxRetries = 50)
      })
      val append = pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = Versioned.append(Seq((3, "c")).toDF("v", "s"), t, maxRetries = 50)
      })
      widen.get(); append.get(): Unit
    } finally pool.shutdown()
    // whichever order the OCC race serialized them in: the final schema is
    // wide, and all three rows survive (upcast where the file is narrow)
    assert(Versioned.read(spark, t).schema("v").dataType == LongType)
    assert(Versioned.read(spark, t).selectExpr("sum(v)").as[Long].head() == 6L)
    assert(Versioned.currentVersion(t) == 4)
  }

  test("cross-table txn: all-or-nothing visibility, crash leaves nothing, commit flips every table at once") {
    val txnDir = tmpDir("txnlog").toString
    val a = tmpDir("versioned").toString
    val b = tmpDir("versioned").toString
    Versioned.append(Seq((1L, "a0")).toDF("id", "s"), a)
    Versioned.append(Seq((1L, "b0")).toDF("id", "s"), b)
    // CRASH between prepare and decide: stage + prepare both tables by
    // reaching into commit()'s own pieces — simulate by a txn whose
    // driver never decides (we just don't call commit's decide): use a
    // real txn but kill it after prepare via a subclass seam — instead,
    // drive the REAL protocol and simulate the crash with abort-less
    // pending state: prepare happens inside commit(), so emulate the
    // crash by preparing manually through a second txn object whose
    // decide step we never reach — here: stage, then write the
    // marker-bearing versions via the public API by racing an abort.
    // Simplest faithful simulation: stage + commit in a thread we
    // interrupt AFTER prepare would be flaky; instead verify the
    // PENDING window directly: a txn that staged but never called
    // commit leaves both tables untouched (manifest-invisible).
    val crashed = Versioned.beginTxn(txnDir)
    crashed.stageAppend(Seq((2L, "a1")).toDF("id", "s"), a)
    crashed.stageAppend(Seq((2L, "b1")).toDF("id", "s"), b)
    // staged-only (pre-prepare crash): no manifest references the files
    assert(rows(a) == Set((1L, "a0")) && rows(b) == Set((1L, "b0")))
    // now the post-prepare pre-decide crash: prepare runs inside
    // commit(), so emulate it by committing marker-bearing versions the
    // way prepare does, without an outcome file
    val marker = s"#txn:${new File(txnDir).getAbsolutePath}:deadbeef"
    Versioned.commit(a, Versioned.currentVersion(a), Seq(marker))
    Versioned.commit(b, Versioned.currentVersion(b), Seq(marker))
    // pending: BOTH tables still read their old content, version numbers
    // advanced but invisible (all-or-nothing during the window)
    assert(rows(a) == Set((1L, "a0")) && rows(b) == Set((1L, "b0")))
    // a writer arriving at table a force-aborts the stalled txn…
    Versioned.append(Seq((3L, "a2")).toDF("id", "s"), a)
    assert(rows(a) == Set((1L, "a0"), (3L, "a2")))
    // …which keeps table b's pending version invisible FOREVER
    assert(rows(b) == Set((1L, "b0")))
    assert(Files.readAllLines(
      new File(txnDir, "deadbeef.outcome").toPath).get(0) == "abort")
    // happy path: a full commit flips both tables atomically
    val txn = Versioned.beginTxn(txnDir)
    txn.stageAppend(Seq((4L, "a3")).toDF("id", "s"), a)
    txn.stageAppend(Seq((4L, "b3")).toDF("id", "s"), b)
    assert(rows(a) == Set((1L, "a0"), (3L, "a2")) && rows(b) == Set((1L, "b0")))
    txn.commit()
    assert(rows(a) == Set((1L, "a0"), (3L, "a2"), (4L, "a3")))
    assert(rows(b) == Set((1L, "b0"), (4L, "b3")))
    // post-commit housekeeping: later appends build on the committed
    // content and strip the handshake marker from the next version
    Versioned.append(Seq((5L, "b4")).toDF("id", "s"), b)
    assert(rows(b) == Set((1L, "b0"), (4L, "b3"), (5L, "b4")))
    // the crashed txn's earlier staged-only files are orphans — fsck
    // counts them, vacuum's orphan story applies; reads never see them
    val fsck = Versioned.fsck(b)
    assert(fsck.missingFiles == 0)
  }

  test("cross-table txn: a writer force-abort makes the txn driver's commit fail loudly") {
    val txnDir = tmpDir("txnlog").toString
    val a = tmpDir("versioned").toString
    Versioned.append(Seq((1L, "a0")).toDF("id", "s"), a)
    val txn = Versioned.beginTxn(txnDir)
    txn.stageAppend(Seq((2L, "a1")).toDF("id", "s"), a)
    // a concurrent writer's force-abort normally races the driver's
    // decide; land it first deterministically by writing the outcome
    // file the way decideTxn would
    Files.write(new File(txnDir, s"${txn.id}.outcome").toPath,
      "abort".getBytes(StandardCharsets.UTF_8))
    intercept[IllegalStateException] { txn.commit() }
    assert(rows(a) == Set((1L, "a0")))
    assert(Versioned.currentVersion(a) == 1, "an aborted txn publishes nothing")
  }

  test("txn stream ledger: committed batch skips replay, crashed-pending batch replays exactly once") {
    val txnDir = tmpDir("txnlog").toString
    val u = tmpDir("versioned").toString
    val t = tmpDir("versioned").toString
    // the stream_txn_sink foreachBatch body, isolated: ledger guard +
    // two-table transactional publish carrying the batch marker
    def land(id: Long, row: (Long, String)): Boolean =
      if (Versioned.processedBatch(u, id)) false
      else {
        val m = Seq(Versioned.batchMarker(id))
        Versioned.beginTxn(txnDir)
          .stageAppend(Seq(row).toDF("id", "s"), u, m)
          .stageAppend(Seq(row).toDF("id", "s"), t, m)
          .commit()
        true
      }
    assert(land(0, (1L, "b0")))
    // a COMMITTED batch's marker is visible through txn resolution: the
    // checkpoint-replay of batch 0 must skip
    assert(!land(0, (1L, "b0-replayed")))
    assert(rows(u) == Set((1L, "b0")) && rows(t) == Set((1L, "b0")))
    // crash between prepare and decide for batch 1: marker-bearing
    // versions land on both tables, no outcome file ever appears
    val stall = s"#txn:${new File(txnDir).getAbsolutePath}:feedf00d"
    Versioned.commit(u, Versioned.currentVersion(u),
      Seq(Versioned.batchMarker(1L), stall))
    Versioned.commit(t, Versioned.currentVersion(t),
      Seq(Versioned.batchMarker(1L), stall))
    // the PENDING marker is invisible — the guard re-runs batch 1, and
    // the replay's own commit force-aborts the stalled transaction
    assert(!Versioned.processedBatch(u, 1L),
      "a pending transaction's ledger marker must not satisfy the guard")
    assert(land(1, (2L, "b1")))
    assert(rows(u) == Set((1L, "b0"), (2L, "b1")))
    assert(rows(t) == Set((1L, "b0"), (2L, "b1")))
    assert(Versioned.processedBatch(u, 1L) && Versioned.processedBatch(t, 1L))
    assert(Files.readAllLines(
      new File(txnDir, "feedf00d.outcome").toPath).get(0) == "abort")
    // a third batch still lands normally after the recovery
    assert(land(2, (3L, "b2")))
    assert(rows(u) == Set((1L, "b0"), (2L, "b1"), (3L, "b2")))
  }

  test("vacuum counts a pending txn's prepared files as live; the txn still commits after the sweep") {
    // the data-loss scenario: a txn prepares (marker-bearing versions
    // committed, outcome not yet decided), stalls past the vacuum grace
    // window, and an operator vacuums a member table. The prepared
    // files are invisible to linesOf, but deleting them would let the
    // driver's later decide publish dangling references.
    val txnDir = tmpDir("txnlog").toString
    val a = tmpDir("versioned").toString
    Versioned.append(Seq((1L, "a0")).toDF("id", "s"), a)
    Versioned.append(Seq((2L, "a1")).toDF("id", "s"), a) // 2 retained versions
    // prepare manually (commit() would also decide): stage + marker-bearing
    // version with no outcome, exactly commit()'s crash window
    val txn = Versioned.beginTxn(txnDir)
    txn.stageAppend(Seq((3L, "a2")).toDF("id", "s"), a)
    val stagedFiles = Option(new File(a).listFiles()).get
      .filter(d => d.isDirectory && d.getName.startsWith("txn-"))
      .flatMap(d => Option(d.listFiles()).get.filter(_.getName.endsWith(".parquet")))
    assert(stagedFiles.nonEmpty)
    val marker = s"#txn:${new File(txnDir).getAbsolutePath}:${txn.id}"
    val tableAbs = new File(a).getAbsolutePath
    Versioned.commit(a, Versioned.currentVersion(a),
      stagedFiles.map(_.getAbsolutePath.stripPrefix(tableAbs + "/")).toSeq :+ marker)
    // age everything past the grace window, then vacuum with zero grace
    val n = Versioned.vacuum(a, keepVersions = 2, minAgeMs = 0L)
    assert(stagedFiles.forall(_.exists),
      s"vacuum deleted $n file(s) including a pending txn's prepared data")
    // the driver resumes and decides commit: the version becomes visible
    // and every referenced file is present
    Files.write(new File(txnDir, s"${txn.id}.outcome").toPath,
      "commit".getBytes(StandardCharsets.UTF_8))
    assert(rows(a) == Set((1L, "a0"), (2L, "a1"), (3L, "a2")))
  }

  test("schema-drift replay guards: widen-if-narrow + append-if-absent re-run safely at every crash point") {
    // the stream_schema_drift foreachBatch discipline, isolated: each
    // step keys off the state it produces, so a checkpoint replay that
    // re-enters a batch after ANY crash point is a no-op for the steps
    // that already landed — never a double-append, never a
    // BIGINT→BIGINT widen rejection wedging the stream
    import org.apache.spark.sql.types.LongType
    val t = tmpDir("versioned").toString
    def narrowBatch(): Unit =
      if (Versioned.currentVersion(t) == 0)
        Versioned.append(Seq((1L, 10), (2L, 20)).toDF("id", "v"), t): Unit
    def wideBatch(): Unit = {
      val sch = Versioned.read(spark, t).schema
      if (sch("v").dataType != LongType)
        Versioned.widenColumn(spark, t, "v", LongType): Unit
      if (!sch.fieldNames.contains("note"))
        Versioned.append(
          Seq((3L, 30L, "x")).toDF("id", "v", "note"), t): Unit
    }
    narrowBatch(); narrowBatch() // replay of batch 0: second is a no-op
    assert(Versioned.currentVersion(t) == 1)
    // crash between widen and append: the widen landed, append did not
    Versioned.widenColumn(spark, t, "v", LongType)
    wideBatch() // replay: skips the (rejected) re-widen, lands the append
    assert(Versioned.read(spark, t).schema("v").dataType == LongType)
    assert(Versioned.read(spark, t).count() == 3)
    wideBatch() // full replay of batch 1: both steps no-op
    assert(Versioned.read(spark, t).count() == 3)
    assert(Versioned.read(spark, t).selectExpr("sum(v)").as[Long].head() == 60L)
    // old narrow rows serve upcast with NULL note; the wide row carries it
    assert(Versioned.read(spark, t).filter($"note".isNull).count() == 2)
  }

  test("merge-on-read delete: zero data files rewritten, reads subtract, snapshots intact") {
    val t = tmpDir("versioned").toString
    Versioned.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"), t)
    Versioned.append(Seq((4L, "d"), (5L, "e")).toDF("id", "s"), t)
    val filesBefore = Versioned.files(t).toSet
    val v = Versioned.deleteWhereMor(spark, t, $"id" === 2L || $"id" === 5L)
    assert(v == 3)
    // the commit is markers + sidecars only: data lines untouched
    assert(Versioned.files(t).toSet == filesBefore)
    assert(Versioned.deletesOf(t).values.flatten.map(_._2).sum == 2L)
    assert(rows(t) == Set((1L, "a"), (3L, "c"), (4L, "d")))
    // snapshot isolation: the pre-delete version serves everything
    assert(rows(t, Some(2)) ==
      Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e")))
    // a second, OVERLAPPING MoR delete matches live rows only and the
    // position sets union — nothing doubles, nothing resurrects
    Versioned.deleteWhereMor(spark, t, $"id" >= 3L)
    assert(rows(t) == Set((1L, "a")))
    // matching nothing commits nothing
    val cur = Versioned.currentVersion(t)
    assert(Versioned.deleteWhereMor(spark, t, $"id" === 99L) == cur)
  }

  test("merge-on-read delete: compaction folds vectors; vacuum honors live sidecars") {
    val t = tmpDir("versioned").toString
    Versioned.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), t)
    Versioned.append(Seq((3L, "c"), (4L, "d")).toDF("id", "s"), t)
    Versioned.deleteWhereMor(spark, t, $"id".isin(2L, 3L))
    val dvAbs = Versioned.deletesOf(t).values.flatten.map { case (rel, _) =>
      new File(t, rel).getAbsolutePath }.toSeq
    assert(dvAbs.nonEmpty && dvAbs.forall(new File(_).exists))
    // sidecars referenced by the retained horizon survive vacuum —
    // reclaiming one would resurrect its rows
    Versioned.vacuum(t, keepVersions = 1, minAgeMs = 0)
    assert(dvAbs.forall(new File(_).exists), "live sidecars survive vacuum")
    assert(rows(t) == Set((1L, "a"), (4L, "d")))
    // compaction reads DV-applied and retires the folded markers
    Versioned.compact(spark, t)
    assert(rows(t) == Set((1L, "a"), (4L, "d")))
    assert(Versioned.deletesOf(t).isEmpty, "folded markers retire")
    // now the sidecars are unreferenced weight; vacuum reclaims them
    Versioned.vacuum(t, keepVersions = 1, minAgeMs = 0)
    assert(dvAbs.forall(f => !new File(f).exists), "dead sidecars reclaimed")
    assert(rows(t) == Set((1L, "a"), (4L, "d")))
  }

  test("merge-on-read and copy-on-write deletes agree; CoW folds outstanding vectors") {
    val t1 = tmpDir("versioned").toString
    val t2 = tmpDir("versioned").toString
    Seq(t1, t2).foreach { t =>
      // one file per slice so "which file rewrites" is deterministic
      Versioned.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s")
        .coalesce(1), t)
      Versioned.append(Seq((4L, "d"), (5L, "e")).toDF("id", "s").coalesce(1), t)
    }
    val f1 = Versioned.files(t1).toSet
    val f2 = Versioned.files(t2).toSet
    Versioned.deleteWhere(spark, t1, $"id".isin(2L, 4L))
    Versioned.deleteWhereMor(spark, t2, $"id".isin(2L, 4L))
    assert(rows(t1) == rows(t2))
    assert(Versioned.files(t1).toSet != f1, "CoW rewrites affected files")
    assert(Versioned.files(t2).toSet == f2, "MoR rewrites nothing")
    // a CoW delete ON TOP of outstanding vectors reads DV-applied and
    // retires the rewritten file's markers — never resurrects
    Versioned.deleteWhere(spark, t2, $"id" === 1L)
    assert(rows(t2) == Set((3L, "c"), (5L, "e")))
    val remaining = Versioned.deletesOf(t2)
    assert(remaining.size == 1, "rewritten file's marker retires; the other survives")
    assert(remaining.keys.forall(line =>
      Versioned.files(t2).exists(_.endsWith(line))),
      "no marker survives without its data line")
  }

  test("merge-on-read update: one atomic commit, zero rewrites, type-safe SET") {
    val t = tmpDir("versioned").toString
    Versioned.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1), t)
    Versioned.append(Seq((3L, "c"), (4L, "d")).toDF("id", "s").coalesce(1), t)
    val filesBefore = Versioned.files(t).toSet
    val v = Versioned.updateWhereMor(spark, t, $"id" % 2 === 0L,
      Map("s" -> org.apache.spark.sql.functions.concat($"s", org.apache.spark.sql.functions.lit("!"))))
    assert(v == 3, "markers + replacement files land as ONE commit")
    assert(filesBefore.subsetOf(Versioned.files(t).toSet),
      "no existing file rewrites")
    assert(rows(t) == Set((1L, "a"), (2L, "b!"), (3L, "c"), (4L, "d!")))
    // pre-update snapshot intact; updated rows never doubled
    assert(rows(t, Some(2)) == Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    assert(Versioned.read(spark, t).count() == 4)
    // an update on top of outstanding vectors composes (live view only)
    Versioned.updateWhereMor(spark, t, $"s" === "b!",
      Map("s" -> org.apache.spark.sql.functions.lit("bb")))
    assert(rows(t) == Set((1L, "a"), (2L, "bb"), (3L, "c"), (4L, "d!")))
    // a SET that changes the column's TYPE is rejected loudly
    val e = intercept[IllegalArgumentException] {
      Versioned.updateWhereMor(spark, t, $"id" === 1L, Map("s" -> org.apache.spark.sql.functions.lit(7L)))
    }
    assert(e.getMessage.contains("may not change types"), e.getMessage)
    // compaction folds vectors AND the replacement files into one clean file
    Versioned.compact(spark, t)
    assert(Versioned.deletesOf(t).isEmpty)
    assert(rows(t) == Set((1L, "a"), (2L, "bb"), (3L, "c"), (4L, "d!")))
  }

  test("fsck: flags missing files, missing sidecars, orphans and dangling markers") {
    val t = tmpDir("versioned").toString
    Versioned.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1), t)
    Versioned.append(Seq((3L, "c"), (4L, "d")).toDF("id", "s").coalesce(1), t)
    Versioned.deleteWhereMor(spark, t, $"id" === 2L)
    val clean = Versioned.fsck(t)
    assert(clean == Versioned.FsckReport(3, 2, 0, 0, 0, 0), clean.toString)
    // orphan: a stray data-shaped file no manifest references
    val stray = new File(t, "stray/impostor.parquet")
    stray.getParentFile.mkdirs()
    java.nio.file.Files.copy(new File(Versioned.files(t).head).toPath, stray.toPath)
    assert(Versioned.fsck(t).orphanFiles == 1)
    // dangling marker: a stats line keyed to a data line that never was
    Versioned.commit(t, Versioned.currentVersion(t),
      Seq("#stats:id:never-was.parquet:1:9"))
    assert(Versioned.fsck(t).danglingMarkers == 1)
    // missing sidecar: deleting a dv file would RESURRECT rows on a
    // naive reader — fsck must call it out
    val dv = Versioned.deletesOf(t).values.flatten.map { case (rel, _) =>
      new File(t, rel) }.head
    assert(dv.delete())
    assert(Versioned.fsck(t).missingSidecars == 1)
    // missing data file: reads of every retained version referencing it fail
    assert(new File(Versioned.files(t).head).delete())
    val broken = Versioned.fsck(t)
    assert(broken.missingFiles == 1 && broken.missingSidecars == 1 &&
      broken.orphanFiles == 1 && broken.danglingMarkers == 1, broken.toString)
  }

  test("rewrite racing a merge-on-read delete cannot resurrect deleted rows") {
    val t = tmpDir("versioned").toString
    Versioned.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), t)
    val base = Versioned.currentVersion(t)
    val inputAbs = Versioned.files(t, Some(base))
    // stage a compaction's data AGAINST `base` by hand (the read happens
    // BEFORE the delete lands)...
    val batch = "compact-race"
    Versioned.read(spark, t, Some(base)).coalesce(1)
      .write.parquet(new File(t, batch).getPath)
    val added = Option(new File(t, batch).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(f => s"$batch/${f.getName}").toSeq
    // ...then let a merge-on-read delete commit first
    Versioned.deleteWhereMor(spark, t, $"id" === 1L)
    assert(rows(t) == Set((2L, "b")))
    // the staged rewrite must FAIL (its rows predate the delete) — a
    // blind commit would retire the marker and resurrect id=1
    val e = intercept[IllegalStateException] {
      Versioned.commitExternalRewrite(spark, t, added, inputAbs)
    }
    assert(e.getMessage.contains("resurrect"), e.getMessage)
    assert(rows(t) == Set((2L, "b")), "the delete's outcome stands")
  }

  test("changeFeed: inserts + MoR-delete retractions + MoR-update pairs; compaction emits nothing") {
    import org.apache.spark.sql.functions.lit
    val t = tmpDir("cfeed").toString
    Versioned.append(Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "a", 30L))
      .toDF("id", "k", "v"), t) // v1
    Versioned.append(Seq((4L, "b", 40L)).toDF("id", "k", "v"), t) // v2
    Versioned.deleteWhereMor(spark, t, $"id" === 2L) // v3
    Versioned.compact(spark, t) // v4: folds the DV, must emit NOTHING
    Versioned.updateWhereMor(spark, t, $"id" === 3L,
      Map("v" -> lit(99L))) // v5: pre-image delete + replacement insert
    def feed(from: Int, to: Option[Int] = None) =
      Versioned.changeFeed(spark, t, from, to)
        .select("id", "k", "v", "_change_type", "_commit_version")
        .as[(Long, String, Long, String, Long)].collect().toSeq
        .sortBy(x => (x._5, x._4, x._1))
    assert(feed(0) == Seq(
      (1L, "a", 10L, "insert", 1L), (2L, "b", 20L, "insert", 1L),
      (3L, "a", 30L, "insert", 1L),
      (4L, "b", 40L, "insert", 2L),
      (2L, "b", 20L, "delete", 3L),
      (3L, "a", 30L, "delete", 5L), (3L, "a", 99L, "insert", 5L)))
    // the feed replays to the live state: inserts minus deletes == table
    val net = feed(0).groupBy(x => (x._1, x._2, x._3)).map { case (kv, xs) =>
      kv -> xs.map(x => if (x._4 == "insert") 1 else -1).sum
    }.filter(_._2 != 0).keys.toSet
    val live = Versioned.read(spark, t)
      .as[(Long, String, Long)].collect().toSet
    assert(net == live, s"net=$net live=$live")
    // incremental consumption: a checkpointed consumer sees only the tail
    assert(feed(3) == Seq(
      (3L, "a", 30L, "delete", 5L), (3L, "a", 99L, "insert", 5L)))
    // a copy-on-write rewrite is NOT reconstructible — loud, named error;
    // an interval ending before it still serves
    Versioned.deleteWhere(spark, t, $"id" === 1L) // v6
    val e = intercept[IllegalStateException](
      Versioned.changeFeed(spark, t, 0).collect())
    assert(e.getMessage.contains("full resync"), e.getMessage)
    assert(feed(0, Some(5)).size == 7)
  }

  test("changeFeed: a rename in the interval is loud — even after normalize resolves it") {
    import org.apache.spark.sql.functions.col
    val t = tmpDir("cfeedrn").toString
    Versioned.append(Seq((1L, 10L)).toDF("id", "v"), t) // v1
    Versioned.renameColumn(spark, t, "v", "val") // v2 (metadata-only)
    Versioned.normalize(spark, t) // v3: rewrites under canonical names
    // the to-version has NO outstanding renames, but the v1 files the
    // feed would emit carry the legacy name — raw reads under the new
    // schema would serve silent NULLs; the guard must fire on the
    // interval, not just the endpoint
    val e = intercept[IllegalStateException](
      Versioned.changeFeed(spark, t, 0).collect())
    assert(e.getMessage.contains("rename"), e.getMessage)
    // a post-normalize interval serves normally
    Versioned.append(Seq((2L, 20L)).toDF("id", "val"), t) // v4
    val tail = Versioned.changeFeed(spark, t, 3)
      .select(col("id"), col("val"), col("_change_type")).collect()
    assert(tail.length == 1 && tail.head.getString(2) == "insert")
  }
}

/** Deterministic interleaving hook for the constraint-race test: fires
  * exactly once, from inside a task of the append's data-write job —
  * i.e. after the append's entry validation, before its commit loop —
  * committing a CHECK marker directly (no Spark action, so no nested-job
  * hazard from an executor thread). */
object ConstraintRace {
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
  @volatile var table: String = _
  def fire(): Unit =
    if (armed.compareAndSet(true, false)) {
      Versioned.commit(table, Versioned.currentVersion(table),
        Seq("#check:x_big:x > 10")): Unit
    }
}
