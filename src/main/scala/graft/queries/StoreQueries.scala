package graft.queries

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.store.{Clustered, Versioned}

/** Declared queries for the clustered store layouts (SURVEY.md §2.3 store
  * ops): a Z-ordered write of the events table followed by a 2-D box scan.
  * The layout must not change any answer — the oracle reads the same box
  * straight from the source table — while ClusteredSpec and SCALE.md carry
  * the pruning evidence (file min/max envelopes vs the predicate box).
  */
object StoreQueries {

  /** Per-process scratch dir: stable within a run (DeterminismSpec reruns
    * overwrite in place) but disjoint across processes, so concurrent
    * drivers (Verify and Bench over the same sfDir) cannot race one
    * overwrite against the other's scan. Pid-unique names don't overwrite
    * each other across runs, so each dir is deleted on JVM exit — without
    * the hook, every run would permanently leak its parquet scratch. */
  private val created = scala.collection.mutable.Set.empty[String]

  /** 16-hex-char digest of the raw fixture dir — the injective
    * disambiguator shared by scratch dirs and catalog table names (the
    * sanitized dir alone is NOT injective: /a/b and /a_b collide). */
  private def dirDigest(dir: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(dir.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString

  /** Register a path for RECURSIVE deletion at JVM exit — pid-unique
    * scratch (dirs AND managed-table directories) would otherwise leak
    * permanently across runs. Shared with the other query objects'
    * temp trees (weights files, streaming sink/checkpoint dirs), which
    * `File.deleteOnExit` cannot clean: it only removes EMPTY dirs. */
  private[queries] def cleanupAtExit(path: String): Unit =
    created.synchronized {
      if (created.isEmpty)
        Runtime.getRuntime.addShutdownHook(new Thread(() =>
          created.synchronized(created.foreach(rmTree))))
      created += path
    }

  private def scratch(name: String, dir: String): String = {
    val p = new File(new File(sys.props("java.io.tmpdir")),
      s"graft_${name}_p${ProcessHandle.current().pid()}_" +
        s"${dir.replaceAll("[^A-Za-z0-9.]", "_")}_${dirDigest(dir)}")
      .getAbsolutePath
    cleanupAtExit(p)
    p
  }

  private[queries] def rmTree(path: String): Unit = {
    val f = new File(path)
    Option(f.listFiles).foreach(_.foreach(c => rmTree(c.getAbsolutePath)))
    f.delete(): Unit
  }

  /** Round-trip events through a Z-ordered (user_id, event_id) layout and
    * aggregate a 2-D box. Values are layout-independent (decimal sums, so
    * accumulation order cannot perturb low bits); what the layout buys is
    * scan pruning, pinned separately in ClusteredSpec. Box bounds stay
    * inside every SF's id range so the result is non-vacuous at sf0.001. */
  def zorderScan(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val path = scratch("zorder", dir)
    Clustered.writeZOrdered(ev, path, numFiles = 16, col("user_id"), col("event_id"))
    spark.read.parquet(path)
      .filter(col("user_id") >= 4 && col("user_id") < 10 &&
        col("event_id") >= 100 && col("event_id") < 800)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** Versioned-table round-trip through the DRIVER's oracle: commit
    * docs<100 (v1), docs 100-199 (v2), compact (v3), then aggregate each
    * version — v1/v2 prove time travel reads exact snapshots, v3 proves
    * compaction preserves rows. Rebuilt from scratch on every call so
    * reruns in one process (DeterminismSpec) see identical version
    * numbers. */
  def timeTravel(spark: SparkSession, dir: String): DataFrame = {
    val path = scratch("timetravel", dir)
    rmTree(path)
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("n_chars"))
    graft.store.Versioned.append(docs.filter(col("doc_id") < 100), path)
    graft.store.Versioned.append(
      docs.filter(col("doc_id") >= 100 && col("doc_id") < 200), path)
    graft.store.Versioned.compact(spark, path)
    def at(v: Int) = graft.store.Versioned.read(spark, path, Some(v))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).cast("long").as("total_chars"))
      .select(lit(v).as("version"), col("n_docs"), col("total_chars"))
    at(1).unionByName(at(2)).unionByName(at(3)).orderBy(col("version"))
  }

  /** Manifest-log checkpointing under the oracle gate (X307 — VERDICT
    * r14 #2): a manifest used to be a complete file listing per version
    * (O(F·C) log growth — the metadata store's own scale-killer at 10⁵
    * files × 10⁴ commits); commits over wide tables now log as DELTAS
    * with a full checkpoint every [[graft.store.Versioned
    * .ManifestCheckpointEvery]] versions (Delta's checkpoint+JSON-delta
    * layout). The journey: a 70-file base (v1, full listing), eighteen
    * delta appends crossing the v16 checkpoint boundary, then reads at
    * BOTH a pre-checkpoint delta version and the head. The declared row
    * carries the two aggregates plus the manifest-format probes — a
    * wrong replay (lost line, double-applied delta, mis-anchored
    * checkpoint) changes row counts or revenue and breaks the hash. */
  def manifestCheckpoint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val path = scratch("mlogck", dir)
    rmTree(path)
    val ev = Tables.events(spark, dir).select(col("user_id"), col("event_id"),
      expr("CAST(round(value * 100) AS BIGINT)").as("v"))
    // v1: 70 manifest lines — wide enough that the delta policy engages
    graft.store.Versioned.append(
      ev.filter(col("user_id") < 10).repartition(70), path): Unit
    // the 18 delta batches all slice user_id ∈ [10, 100): stage that slice
    // in memory ONCE (r16 optimization — each append used to re-scan the
    // whole events parquet through its coalesce(1) single task, 18 serial
    // full-table scans; dropped at journey end like every in-query cache)
    val deltas = ev.filter(col("user_id") >= 10 && col("user_id") < 100).cache()
    try (2 to 19).foreach { k =>
      val lo = 10 + 5 * (k - 2)
      graft.store.Versioned.append(
        deltas.filter(col("user_id") >= lo && col("user_id") < lo + 5).coalesce(1),
        path): Unit
    } finally deltas.unpersist(): Unit // ADVICE r16: no leak on a mid-loop throw
    val ce = graft.store.Versioned.ManifestCheckpointEvery
    def at(v: Option[Int]) = graft.store.Versioned.read(spark, path, v)
      .agg(count(lit(1)).as("n"), sum(col("v")).as("rev")).head()
    val fin = at(None)
    val pre = at(Some(10)) // a delta version strictly before the checkpoint
    Seq((fin.getLong(0), fin.getLong(1), pre.getLong(0), pre.getLong(1),
      (if (!graft.store.Versioned.isCheckpointManifest(path, 10)) 1L else 0L),
      (if (graft.store.Versioned.isCheckpointManifest(path, ce)) 1L else 0L),
      graft.store.Versioned.currentVersion(path).toLong))
      .toDF("n_final", "rev_final_e2", "n_pre", "rev_pre_e2",
        "pre_is_delta", "ck_is_full", "n_versions")
  }

  /** Incremental maintenance of a COUNT(DISTINCT) view (X325 — the
    * non-monoid IVM case `ivm_join_view`'s sum/count algebra cannot
    * touch: distinct counts don't subtract, so the textbook fix is a
    * SUPPORT table of per-(group, key) multiplicities — the view
    * updates from support-count ZERO CROSSINGS, never a rescan.
    * Gupta-Mumick's duplicate-count view maintenance, the machinery
    * behind every incremental `COUNT(DISTINCT user)` dashboard):
    *
    *  1. purchases before Jan 21 land (fact v1); support S = per
    *     (segment, user) event count and view V = per segment
    *     (n_events, n_users) materialize once.
    *  2. the later batch appends; the consumer reads ONLY the delta,
    *     merges per-key counts into S (resident rows via semi-join),
    *     and bumps V by the delta's events and by the count of keys
    *     whose support went 0 → positive.
    *  3. RETRACTION: a merge-on-read delete (event_id % 7 = 0) feeds
    *     through the row-level change feed; support counts decrement,
    *     keys crossing positive → 0 decrement V's distinct count — the
    *     case where a naive distinct-IVM silently over-counts forever.
    *     (Zero-support rows stay resident in S — one fewer commit per
    *     interval; a periodic compaction would purge them, and the
    *     insert path treats 0 as absent.)
    *
    * The declared rows are the final view, which must equal the full
    * recompute under the final fact state — the oracle replays exactly
    * that. Every maintenance step is O(delta). */
  def ivmDistinctView(spark: SparkSession, dir: String): DataFrame = {
    val factPath = scratch("ivmdfact", dir)
    val suppPath = scratch("ivmdsupp", dir)
    val viewPath = scratch("ivmdview", dir)
    Seq(factPath, suppPath, viewPath).foreach(rmTree)
    val purch = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), to_date(col("ts")).as("day"))
      .cache() // populated by the first append's write — no extra job
    val seg = (col("user_id") % 5).as("seg")
    val splitDay = lit("2024-01-21").cast("date")
    // 1) initial load + one-time materialization of support and view
    graft.store.Versioned.append(
      purch.filter(col("day") < splitDay).drop("day"), factPath): Unit
    val cp1 = graft.store.Versioned.currentVersion(factPath)
    val s0 = graft.store.Versioned.read(spark, factPath)
      .groupBy(seg, col("user_id")).agg(count(lit(1)).as("cnt"))
      // lazy: the support append (first consumer) materializes it
      .localCheckpoint(false) // feeds the support append AND the view build
    graft.store.Versioned.append(s0, suppPath): Unit
    graft.store.Versioned.append(
      s0.groupBy(col("seg")).agg(sum(col("cnt")).as("n_events"),
        count(lit(1)).as("n_users")), viewPath): Unit
    // 2) insert-only delta: counts merge into S; V bumps by the delta's
    //    events and the 0→positive key count
    graft.store.Versioned.append(
      purch.filter(col("day") >= splitDay).drop("day"), factPath): Unit
    val d1 = graft.store.Versioned.changes(spark, factPath, cp1)
      .groupBy(seg, col("user_id")).agg(count(lit(1)).as("dn"))
      .localCheckpoint(false) // lazy: first consumer materializes (r17)
    val sUp1 = d1.join(graft.store.Versioned.read(spark, suppPath)
        .withColumnRenamed("cnt", "cnt0"),
        Seq("seg", "user_id"), "left")
      .select(col("seg"), col("user_id"),
        (coalesce(col("cnt0"), lit(0L)) + col("dn")).as("cnt"),
        // zero-support rows stay resident (cheaper than a purge commit
        // per interval), so "new" means crossing FROM zero, not just
        // absent
        (col("cnt0").isNull || col("cnt0") === 0L).as("is_new"), col("dn"))
      .localCheckpoint(false) // lazy: first consumer materializes (r17)
    graft.store.Versioned.merge(spark, suppPath,
      sUp1.select(col("seg"), col("user_id"), col("cnt")),
      Seq("seg", "user_id"),
      wholeRewriteBelowBytes = graft.store.Versioned.WholeRewriteBytes): Unit
    val dV1 = sUp1.groupBy(col("seg"))
      .agg(sum(col("dn")).as("de"),
        sum(when(col("is_new"), 1L).otherwise(0L)).as("du"))
    graft.store.Versioned.merge(spark, viewPath,
      dV1.join(graft.store.Versioned.read(spark, viewPath), Seq("seg"), "left")
        .select(col("seg"),
          (coalesce(col("n_events"), lit(0L)) + col("de")).as("n_events"),
          (coalesce(col("n_users"), lit(0L)) + col("du")).as("n_users")),
      Seq("seg"),
      wholeRewriteBelowBytes = graft.store.Versioned.WholeRewriteBytes): Unit
    // 3) retraction: MoR delete → change feed → support decrements;
    //    positive→0 crossings leave S and decrement the distinct count
    val cp2 = graft.store.Versioned.currentVersion(factPath)
    graft.store.Versioned.deleteWhereMor(spark, factPath,
      col("event_id") % 7 === 0): Unit
    val sign = when(col("_change_type") === "delete", -1L).otherwise(1L)
    val d2 = graft.store.Versioned.changeFeed(spark, factPath, cp2)
      .groupBy(seg, col("user_id")).agg(sum(sign).as("dn"))
      .localCheckpoint(false) // lazy: first consumer materializes (r17)
    val sUp2 = d2.join(graft.store.Versioned.read(spark, suppPath)
        .withColumnRenamed("cnt", "cnt0"),
        Seq("seg", "user_id"), "left")
      .select(col("seg"), col("user_id"),
        (coalesce(col("cnt0"), lit(0L)) + col("dn")).as("cnt"), col("dn"))
      .localCheckpoint(false) // lazy: first consumer materializes (r17)
    graft.store.Versioned.merge(spark, suppPath,
      sUp2.select(col("seg"), col("user_id"), col("cnt")),
      Seq("seg", "user_id"),
      wholeRewriteBelowBytes = graft.store.Versioned.WholeRewriteBytes): Unit
    val dV2 = sUp2.groupBy(col("seg"))
      .agg(sum(col("dn")).as("de"),
        sum(when(col("cnt") === 0L, -1L).otherwise(0L)).as("du"))
    graft.store.Versioned.merge(spark, viewPath,
      dV2.join(graft.store.Versioned.read(spark, viewPath), Seq("seg"), "left")
        .select(col("seg"),
          (coalesce(col("n_events"), lit(0L)) + col("de")).as("n_events"),
          (coalesce(col("n_users"), lit(0L)) + col("du")).as("n_users")),
      Seq("seg"),
      wholeRewriteBelowBytes = graft.store.Versioned.WholeRewriteBytes): Unit
    graft.store.Versioned.read(spark, viewPath)
      .filter(col("n_users") > 0)
      .orderBy(col("seg"))
  }

  /** Schema evolution beyond add/rename (X331 — the two evolutions every
    * long-lived table eventually needs, both shipped by Delta and
    * Iceberg): zero-rewrite DROP COLUMN ([[graft.store.Versioned
    * .dropColumn]] — metadata marker + tombstone, reads stop projecting
    * the column, time travel still serves it per-version) and
    * zero-rewrite lossless TYPE WIDENING ([[graft.store.Versioned
    * .widenColumn]] — INT files stay as written, the scan upcasts them
    * under the recorded BIGINT schema). The journey: two INT batches, a
    * widen, a BIGINT batch holding values beyond int range, a NARROW
    * int batch landing post-widen, a drop, a rejected re-add of the
    * dropped name (tombstone), and a compaction that physically
    * converges the mixed widths and sheds the dropped bytes. Both DDLs
    * are probed zero-rewrite (identical file sets across the commit);
    * the final aggregates must equal the oracle's replay over the
    * fixture. */
  def schemaDropWiden(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val path = scratch("dropwiden", dir)
    rmTree(path)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"), col("source").as("src"))
    def band(k: Int) = docs.filter(col("doc_id") % 4 === k)
    // two INT batches (the second stamps the schema marker)
    graft.store.Versioned.append(
      band(0).withColumn("n_chars", col("n_chars").cast("int")), path): Unit
    graft.store.Versioned.append(
      band(1).withColumn("n_chars", col("n_chars").cast("int")), path): Unit
    val preWidenFiles = graft.store.Versioned.files(path).toSet
    val vPreWiden = graft.store.Versioned.currentVersion(path)
    graft.store.Versioned.widenColumn(spark, path, "n_chars", LongType): Unit
    val widenZeroRewrite =
      graft.store.Versioned.files(path).toSet == preWidenFiles
    // a BIGINT batch with values no INT column could hold
    graft.store.Versioned.append(
      band(2).withColumn("n_chars", col("n_chars") + lit(3000000000L)), path): Unit
    // a NARROW int batch still lands post-widen (the scan upcasts it)
    graft.store.Versioned.append(
      band(3).withColumn("n_chars", col("n_chars").cast("int")), path): Unit
    val preWidenIsInt = graft.store.Versioned.read(spark, path, Some(vPreWiden))
      .schema("n_chars").dataType == IntegerType
    // zero-rewrite DROP; the tombstone blocks re-adding the name
    val preDropFiles = graft.store.Versioned.files(path).toSet
    graft.store.Versioned.dropColumn(spark, path, "src"): Unit
    val dropZeroRewrite = graft.store.Versioned.files(path).toSet == preDropFiles
    val rejectReadd =
      try {
        graft.store.Versioned.append(
          docs.limit(1).withColumn("n_chars", col("n_chars")), path): Unit
        false // src would re-enter through evolution — must not land
      } catch { case e: IllegalArgumentException =>
        e.getMessage.contains("dropped")
      }
    // compaction physically converges widths and sheds the dropped bytes
    graft.store.Versioned.compact(spark, path): Unit
    val physical = spark.read
      .parquet(graft.store.Versioned.files(path).head: String).schema
    val agg = graft.store.Versioned.read(spark, path)
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("s")).head()
    Seq((agg.getLong(0), agg.getLong(1),
      (if (widenZeroRewrite) 1L else 0L), (if (dropZeroRewrite) 1L else 0L),
      (if (preWidenIsInt) 1L else 0L), (if (rejectReadd) 1L else 0L),
      (if (physical.fieldNames.sameElements(Array("doc_id", "n_chars")) &&
        physical("n_chars").dataType == LongType) 1L else 0L)))
      .toDF("n_docs", "sum_nc", "widen_zero_rewrite", "drop_zero_rewrite",
        "pre_widen_is_int", "reject_readd", "compact_converged")
  }

  /** Cross-table ATOMIC commit over a medallion pipeline (X330 —
    * [[graft.store.Versioned.MultiTxn]]): each interval lands bronze
    * rows, silver rows, and a gold partial aggregate in ONE two-phase
    * transaction, so no reader can ever see the pipeline half-updated.
    * The journey: txn1 commits batch A across all three tables; a
    * PREPARED-but-undecided transaction (the crash window — published
    * through the store's own manifest form) must leave gold reading its
    * pre-txn content; txn2 stages batch B and ABORTS (nothing lands
    * anywhere); txn3 commits batch C, force-deciding the stalled
    * transaction on its way. The declared row is the final gold rollup
    * plus the invisibility probes; the oracle replays batches A and C
    * only. */
  def txnMedallion(spark: SparkSession, dir: String): DataFrame = {
    val bronzeP = scratch("txnbronze", dir)
    val silverP = scratch("txnsilver", dir)
    val goldP = scratch("txngold", dir)
    val txnLog = scratch("txnlog", dir)
    Seq(bronzeP, silverP, goldP, txnLog).foreach(rmTree)
    val purch = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v_e2"))
      .cache()
    def batch(k: Int) = purch.filter(col("event_id") % 3 === k)
    def silverOf(b: DataFrame) =
      b.withColumn("seg", col("user_id") % 4)
    def goldOf(b: DataFrame) = silverOf(b).groupBy(col("seg"))
      .agg(count(lit(1)).as("n"), sum(col("v_e2")).as("sv"))
    def commitBatch(k: Int): Unit = {
      val b = batch(k)
      graft.store.Versioned.beginTxn(txnLog)
        .stageAppend(b, bronzeP)
        .stageAppend(silverOf(b), silverP)
        .stageAppend(goldOf(b), goldP)
        .commit()
    }
    def goldState(): (Long, Long) = {
      val r = graft.store.Versioned.read(spark, goldP)
        .agg(sum(col("n")).cast("long"), sum(col("sv")).cast("long")).head()
      (r.getLong(0), r.getLong(1))
    }
    commitBatch(0) // txn1: batch A lands atomically across all three
    val afterA = goldState()
    // the crash window: a transaction PREPARED on gold (marker-bearing
    // manifest version, published through the store's own commit form)
    // whose driver never decides — readers must keep serving batch A
    graft.store.Versioned.commit(goldP,
      graft.store.Versioned.currentVersion(goldP),
      Seq(s"#txn:${new File(txnLog).getAbsolutePath}:crashed0"))
    val pendingInvisible = goldState() == afterA
    // txn2: stage batch B everywhere, then abort — all-or-NOTHING
    val t2 = graft.store.Versioned.beginTxn(txnLog)
    t2.stageAppend(batch(1), bronzeP)
      .stageAppend(silverOf(batch(1)), silverP)
      .stageAppend(goldOf(batch(1)), goldP): Unit
    t2.abort()
    val abortedInvisible = goldState() == afterA
    commitBatch(2) // txn3: force-decides the stalled txn, lands batch C
    // liveness probe: txn3's prepare force-aborted the crashed txn (its
    // outcome file now says so; its version stays invisible forever)
    val crashedAborted = new String(java.nio.file.Files.readAllBytes(
      new File(txnLog, "crashed0.outcome").toPath), "UTF-8").trim == "abort"
    graft.store.Versioned.read(spark, goldP)
      .groupBy(col("seg")).agg(sum(col("n")).as("n_purch"),
        sum(col("sv")).as("rev_e2"))
      .withColumn("pending_invisible", lit(if (pendingInvisible) 1L else 0L))
      .withColumn("aborted_invisible", lit(if (abortedInvisible) 1L else 0L))
      .withColumn("crash_recovered", lit(if (crashedAborted) 1L else 0L))
      .orderBy(col("seg"))
  }

  /** VACUUM dry-run audit (X320 — Delta's `VACUUM ... DRY RUN`: what an
    * irreversible storage sweep WOULD reclaim, read before running it):
    * three single-file appends, one compaction (retiring all three
    * inputs), then [[graft.store.Versioned.vacuumAudit]] at
    * keepVersions = 1 — the audit must report exactly the three retired
    * files reclaimable and the compacted file live, the REAL sweep must
    * delete exactly what the audit promised, and the surviving table
    * must still serve the full fixture content. All five claims land in
    * one declared row the oracle pins by construction + fixture
    * aggregate. */
  def vacuumAuditQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val path = scratch("vacaudit", dir)
    rmTree(path)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"))
    graft.store.Versioned.append(
      docs.filter(col("doc_id") < 100).coalesce(1), path): Unit
    graft.store.Versioned.append(
      docs.filter(col("doc_id") >= 100 && col("doc_id") < 200).coalesce(1), path): Unit
    graft.store.Versioned.append(
      docs.filter(col("doc_id") >= 200 && col("doc_id") < 300).coalesce(1), path): Unit
    graft.store.Versioned.compact(spark, path): Unit // v4: 3 inputs retire
    val (reclaimable, live) =
      graft.store.Versioned.vacuumAudit(path, keepVersions = 1, minAgeMs = 0)
    val deleted = graft.store.Versioned.vacuum(path, keepVersions = 1, minAgeMs = 0)
    val after = graft.store.Versioned.read(spark, path)
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).cast("long").as("cs"))
      .head()
    Seq((reclaimable, live,
        (if (deleted.toLong == reclaimable) 1L else 0L),
        graft.store.Versioned.files(path).size.toLong,
        after.getLong(0), after.getLong(1)))
      .toDF("n_reclaimable", "n_live", "audit_matches_sweep",
        "n_files_after", "n_docs", "chars_sum")
  }

  /** MERGE INTO under the oracle gate: commit docs < 200 (v1), then merge
    * a CDC batch covering docs 100–299 with shifted n_chars — rows
    * 100–199 must be REPLACED (not duplicated), 200–299 INSERTED, and
    * docs < 100 carried untouched (their file carries into the v2
    * manifest by reference — the file-pruned rewrite VersionedSpec pins
    * structurally). The declared result aggregates the POST-MERGE table,
    * so a double-landed update row, a lost insert, or a resurrection of
    * a replaced row breaks the hash. Rebuilt per call for rerun-stable
    * version numbers. */
  def versionedMerge(spark: SparkSession, dir: String): DataFrame = {
    val path = scratch("vmerge", dir)
    rmTree(path)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    graft.store.Versioned.append(docs.filter(col("doc_id") < 200), path) // v1
    val updates = docs.filter(col("doc_id") >= 100 && col("doc_id") < 300)
      .withColumn("n_chars", col("n_chars") + 1000)
    val v = graft.store.Versioned.merge(spark, path, updates, keys = Seq("doc_id"))
    graft.store.Versioned.read(spark, path, Some(v))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("chars_sum"))
      .orderBy(col("source"))
  }

  /** Incremental re-embed pipeline (SURVEY §2.3 X38): CDC →
    * deterministic embedder → IVF append, composed end-to-end. v1
    * commits docs < 150 and batch-builds the serving index from their
    * embeddings; v2 appends docs 150–249; the consumer — checkpointed at
    * v1 — reads ONLY the v1→v2 delta files (`Versioned.changes`), embeds
    * just those rows, and `Ivf.append` folds them into the existing cell
    * layout without a refit. Cost scales with the DELTA, never the
    * corpus — the operational answer to "a new crawl landed; update the
    * 100 TB vector store tonight". The declared result is derived from
    * the POST-APPEND index contents (per-source counts + id-checksums of
    * the delta vectors found in the index, plus the total index size),
    * so the oracle pins the CDC semantics end-to-end; VersionedSpec pins
    * the cost side — the delta scan touches only batch-2 files and its
    * observed row count is exactly the delta. Rebuilt per call so reruns
    * see identical version numbers. */
  def incrementalReembed(spark: SparkSession, dir: String): DataFrame = {
    val path = scratch("reembed", dir)
    rmTree(path)
    // both the batch build and the CDC delta go through the SAME
    // mapPartitions model seam as ingest (one model init per partition,
    // Embedder.embedFrame) — never a per-row UDF, which would re-create
    // a real model's session for every row
    def embedded(d: DataFrame) = graft.functions.Embedder.embedFrame(d)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
    graft.store.Versioned.append(docs.filter(col("doc_id") < 150), path) // v1
    val v1 = graft.store.Versioned.read(spark, path, Some(1))
    val idx = graft.scale.Ivf.build(spark, embedded(v1), nlist = 8)
    graft.store.Versioned.append(
      docs.filter(col("doc_id") >= 150 && col("doc_id") < 250), path) // v2
    // the consumer checkpointed (table, v1): its next poll reads the delta
    val delta = graft.store.Versioned.changes(spark, path, fromVersion = 1)
    val idx2 = graft.scale.Ivf.append(idx, embedded(delta))
    val total = idx2.assigned.agg(count(lit(1)).as("n_index_total"))
    idx2.assigned
      .join(delta.select(col("doc_id"), col("source")), col("vec_id") === col("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_reembedded"),
        sum(col("doc_id")).cast("long").as("id_checksum"))
      .crossJoin(broadcast(total)) // 1-row scalar, annotates every group
      .orderBy(col("source"))
  }

  /** Unique-but-stable catalog table name per (process, fixture dir) —
    * the managed-table analogue of [[scratch]], including the cleanup
    * half: the in-memory catalog dies with the JVM, so a later run (new
    * pid → new name) could never drop this run's warehouse directory —
    * it is registered for deletion at exit instead. */
  private def tableName(spark: SparkSession, base: String, dir: String): String = {
    val name = s"graft_${base}_p${ProcessHandle.current().pid()}_${dirDigest(dir)}"
    // ask the catalog for the table's real location rather than
    // hand-parsing spark.sql.warehouse.dir (unencoded special chars,
    // non-file schemes); only local paths can be swept at exit
    val loc = org.apache.spark.sql.graftbridge.ColumnBridge.defaultTablePath(spark, name)
    if (loc.getScheme == null || loc.getScheme == "file")
      cleanupAtExit(new File(loc.getPath).getAbsolutePath)
    name
  }

  /** Bucketed co-located join: both sides land as catalog tables
    * bucketed (and sorted) on the join key with the SAME bucket count,
    * so the join consumes matching bucket files directly — NO shuffle
    * on either side (BucketedSpec pins the exchange-free plan against a
    * shuffling unbucketed control). This is the pre-shuffled layout a
    * recurring 100 TB join amortizes its exchange into: pay one
    * bucketed write, then every subsequent join/aggregation on the
    * bucket key is map-side. The merge hint keeps the demonstration on
    * the bucket-aware sort-merge path (AQE would otherwise broadcast
    * the small fixture dimension). Values are layout-independent —
    * the oracle is the plain join. */
  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val ordT = tableName(spark, "bkt_ord", dir)
    val custT = tableName(spark, "bkt_cust", dir)
    Tables.orders(spark, dir).select(col("o_custkey"), col("o_totalprice"))
      .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
      .mode("overwrite").saveAsTable(ordT)
    Tables.customer(spark, dir).select(col("c_custkey"), col("c_mktsegment"))
      .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
      .mode("overwrite").saveAsTable(custT)
    bucketedJoinFrame(spark, ordT, custT)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total_spend"))
      .orderBy(col("c_mktsegment"))
  }

  /** The bare bucket-key join (pre-aggregation) — shared with
    * BucketedSpec's plan assertion. */
  private[graft] def bucketedJoinFrame(spark: SparkSession,
      ordT: String, custT: String): DataFrame =
    spark.table(ordT).hint("merge")
      .join(spark.table(custT), col("o_custkey") === col("c_custkey"))

  /** Build (idempotently) the bucketed tables and return the bare join —
    * the zero-exchange frame plan_audit pins under the oracle gate. */
  private[graft] def bucketedJoinBare(spark: SparkSession, dir: String): DataFrame = {
    val ordT = tableName(spark, "bkt_ord", dir)
    val custT = tableName(spark, "bkt_cust", dir)
    if (!spark.catalog.tableExists(ordT))
      Tables.orders(spark, dir).select(col("o_custkey"), col("o_totalprice"))
        .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
        .mode("overwrite").saveAsTable(ordT)
    if (!spark.catalog.tableExists(custT))
      Tables.customer(spark, dir).select(col("c_custkey"), col("c_mktsegment"))
        .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
        .mode("overwrite").saveAsTable(custT)
    bucketedJoinFrame(spark, ordT, custT)
  }

  /** Schema evolution (add-column) under the oracle gate — the Delta
    * `mergeSchema` contract on the Versioned store: v1 commits 3-column
    * rows; v2 appends a batch carrying a new `quality_e4` column, which
    * stamps the UNION schema into the manifest (`#schema:` marker — the
    * log-carries-the-schema design, no per-file footer merge). Reading
    * the CURRENT version surfaces pre-evolution rows with quality_e4
    * NULL; time travel to v1 reads under v1's OWN (3-column) schema.
    * Both facts land in the declared row: per-lang totals split into
    * legacy/evolved counts with a quality checksum (NULL-aware), plus
    * the column counts of each version's frame as pinned literals. The
    * oracle replays the split from the documents table — a reader that
    * drops old rows, mis-fills the new column, or shows the evolved
    * width at v1 breaks the hash. Rebuilt per call for rerun-stable
    * version numbers. */
  def schemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val path = scratch("schevo", dir)
    rmTree(path)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    graft.store.Versioned.append(docs.filter(col("doc_id") < 300), path) // v1
    graft.store.Versioned.append( // v2: evolves the schema
      docs.filter(col("doc_id") >= 300 && col("doc_id") < 400)
        .withColumn("quality_e4", (col("n_chars") % 1000) * 10),
      path)
    val v1Cols = graft.store.Versioned.read(spark, path, Some(1)).columns.length
    val cur = graft.store.Versioned.read(spark, path)
    cur.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("quality_e4")).as("n_evolved"),
        sum(coalesce(col("quality_e4"), lit(0L))).cast("long").as("q_sum"))
      .withColumn("v1_cols", lit(v1Cols))
      .withColumn("v2_cols", lit(cur.columns.length))
      .orderBy(col("lang"))
  }

  /** CHECK-constraint enforcement as a declared row
    * ([[graft.store.Versioned.addConstraint]]): a quality gate the
    * store itself enforces — `ALTER TABLE ADD CONSTRAINT` recorded in
    * the manifest LOG, validated against existing rows at add time and
    * against every subsequent append/merge batch atomically (a
    * violating batch bumps no version and lands no file). The replay:
    * commit a clean slice, add two constraints, append a second clean
    * slice, attempt a CORRUPTED batch (negated n_chars — must be
    * rejected), then MERGE a clean revision batch. The declared rollup
    * reads the final table: if the corrupt batch had landed (or the
    * rejection had half-landed), counts and sums break against the
    * oracle's reconstruction from the clean slices alone. */
  def constraintGate(spark: SparkSession, dir: String): DataFrame = {
    val path = scratch("ckgate", dir)
    rmTree(path)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    graft.store.Versioned.append(docs.filter(col("doc_id") < 200), path)
    graft.store.Versioned.addConstraint(spark, path, "chars_pos", "n_chars > 0")
    graft.store.Versioned.addConstraint(spark, path, "lang_known",
      "lang IN ('de', 'en', 'es', 'fr', 'zh')")
    graft.store.Versioned.append(
      docs.filter(col("doc_id") >= 200 && col("doc_id") < 300), path)
    val rejected =
      try {
        graft.store.Versioned.append(
          docs.filter(col("doc_id") >= 300 && col("doc_id") < 400)
            .withColumn("n_chars", -col("n_chars")), path)
        0L
      } catch { case _: IllegalArgumentException => 1L }
    // clean MERGE passes the same gate: revise doc 0-49 n_chars by +1
    graft.store.Versioned.merge(spark, path,
      docs.filter(col("doc_id") < 50).withColumn("n_chars", col("n_chars") + 1),
      Seq("doc_id"))
    graft.store.Versioned.read(spark, path)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("n_chars")).cast("long").as("chars_sum"))
      .withColumn("n_rejected_batches", lit(rejected))
      .orderBy(col("lang"))
  }

  /** RETRACTABLE aggregate maintenance — the DELETE-side completion of
    * `incremental_agg` (which only handles inserts): a stored per-group
    * profile (count/sum/min/max) must follow a GDPR-style
    * [[graft.store.Versioned.deleteWhere]] without a base rescan.
    * count and sum form GROUPS (invertible monoids), so the deleted
    * rows' partials SUBTRACT exactly; min/max are only monoids — they
    * retract by recomputing, but ONLY for groups whose deleted partial
    * TOUCHES the stored extreme (deleted-min == stored-min or
    * deleted-max == stored-max; anywhere else the extreme provably
    * survives). The declared row carries the patched profile AND the
    * per-group recompute flag, so both the arithmetic and the
    * recompute-set derivation sit under the oracle; cost is O(deleted)
    * + O(touched groups), never a full rescan. All values e2-fixed. */
  def retractableAgg(spark: SparkSession, dir: String): DataFrame = {
    val path = scratch("retract", dir)
    rmTree(path)
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("user_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v"))
    graft.store.Versioned.append(ev, path) // v1
    val base = graft.store.Versioned.read(spark, path)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
        min(col("v")).as("mn"), max(col("v")).as("mx"))
    val cond = col("user_id") % 7 === 3
    val deleted = graft.store.Versioned.read(spark, path).filter(cond)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("dn"), sum(col("v")).as("dsv"),
        min(col("v")).as("dmn"), max(col("v")).as("dmx"))
    graft.store.Versioned.deleteWhere(spark, path, cond) // v2
    val patched = base.join(deleted, Seq("event_type"), "left")
      .withColumn("recompute",
        col("dmn").isNotNull && (col("dmn") === col("mn") || col("dmx") === col("mx")))
    // recompute extremes ONLY for touched groups, from the post-delete
    // table (a semi-joined slice, not a full rescan at scale: the group
    // key prunes)
    val touched = patched.filter(col("recompute")).select(col("event_type"))
    val fresh = graft.store.Versioned.read(spark, path)
      .join(touched, Seq("event_type"), "left_semi")
      .groupBy(col("event_type"))
      .agg(min(col("v")).as("fmn"), max(col("v")).as("fmx"))
    patched.join(fresh, Seq("event_type"), "left")
      .select(col("event_type"),
        (col("n") - coalesce(col("dn"), lit(0L))).as("n"),
        (col("sv") - coalesce(col("dsv"), lit(0L))).as("sum_e2"),
        when(col("recompute"), col("fmn")).otherwise(col("mn")).as("min_e2"),
        when(col("recompute"), col("fmx")).otherwise(col("mx")).as("max_e2"),
        col("recompute"))
      .orderBy(col("event_type"))
  }

  /** The END-TO-END "nightly crawl" composition — every pipeline stage
    * the repo ships, chained over ONE store and ONE serving index, with
    * the final state under the oracle gate (VERDICT r7 ask #7: the
    * integration row that pins the whole chain the way
    * incremental_reembed pins its slice).
    *
    * Night 1: crawl batch (⅔ of the corpus, plus planted exact-duplicate
    * mirrors) → quality funnel (token count ≥ 10, distinct-token ratio
    * as q_e4) → exact dedup (keep min doc_id per normalized-text md5
    * fingerprint — a window over fp, one shuffle) → Versioned commit v1
    * → embed through the T6 seam → IVF serving-index build.
    *
    * Night 2: fresh docs + planted cross-batch duplicates + RE-CRAWLED
    * revisions (changed text, same doc_id) → same funnel + within-batch
    * dedup → cross-batch exact dedup (fp anti-join against the v1
    * store) → CDC re-embed of the DELTA ONLY → index delete→insert (the
    * replaced ids anti-joined out of the cell layout, replacements
    * appended — MERGE INTO for the vector index) → Versioned MERGE v2
    * (re-crawls replace by key, fresh docs insert, untouched files carry
    * by reference).
    *
    * The declared row aggregates the POST-MERGE store LEFT-JOINED
    * against the index ids, plus the total index size: a lost insert, a
    * double-landed update, a stale index entry surviving the re-crawl,
    * or a missed re-embed each breaks a column. The oracle replays the
    * whole relational chain in SQL (funnel, dedup windows, fp anti-join,
    * merge-by-key) and pins `n_indexed`/`n_index_total` to the replayed
    * row counts — which only match when index ids == store ids exactly.
    * Every stage is shuffle-bounded (window by fp, cell-pruned index
    * edit, file-pruned merge) — the 100 TB shapes, composed. */
  def nightlyCrawl(spark: SparkSession, dir: String): DataFrame = {
    val path = scratch("crawl", dir)
    rmTree(path)
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))

    def funnel(d: DataFrame): DataFrame = d
      .withColumn("toks", filter(split(col("text"), " "), t => t =!= ""))
      .withColumn("n_toks", size(col("toks")))
      .filter(col("n_toks") >= 10)
      .withColumn("q_e4", round(size(array_distinct(col("toks"))).cast("double")
        / col("n_toks") * 10000).cast("long"))
      .withColumn("fp",
        substring(md5(regexp_replace(lower(col("text")), "\\s+", " ")), 1, 16))
      .drop("toks", "n_toks")
    def dedupBatch(d: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("fp")).orderBy(col("doc_id"))
      d.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
    }

    // night 1: crawl + planted intra-batch exact dups, funnel, dedup, v1
    val mirror1 = base.filter(col("doc_id") % 5 === 0 && col("doc_id") % 3 =!= 2)
      .withColumn("doc_id", col("doc_id") + 10000)
    val crawl1 = dedupBatch(funnel(
      base.filter(col("doc_id") % 3 =!= 2).unionByName(mirror1)))
    graft.store.Versioned.append(crawl1, path) // v1
    val store1 = graft.store.Versioned.read(spark, path, Some(1))
    // maxIter=1: the declared row pins id-set equality, not cell quality —
    // one Lloyd pass from the seeded start is the cheapest layout that
    // still exercises the real cell machinery (build/append/prune agree
    // on assignments regardless of how converged the centroids are)
    val idx = graft.scale.Ivf.build(spark,
      graft.functions.Embedder.embedFrame(store1), nlist = 8, maxIter = 1)

    // night 2: fresh docs, planted cross-batch dups, re-crawled revisions
    val fresh = base.filter(col("doc_id") % 3 === 2)
    val mirror2 = base.filter(col("doc_id") % 7 === 1 && col("doc_id") % 3 =!= 2)
      .withColumn("doc_id", col("doc_id") + 20000)
    val recrawl = base.filter(col("doc_id") % 21 === 0)
      .withColumn("text", concat(col("text"), lit(" recrawl refresh")))
    // cached: the delta feeds four consumers (index prune keys, re-embed,
    // the MERGE batch, and the merge's own semi-join) — without the cache
    // the funnel + dedup window + anti-join chain re-derives per consumer
    val delta = dedupBatch(funnel(
      fresh.unionByName(mirror2).unionByName(recrawl)))
      .join(store1.select(col("fp")), Seq("fp"), "left_anti")
      .persist()
    // CDC re-embed of the delta only; index MERGE = anti-join out the
    // replaced ids, append the replacement vectors (delete → insert —
    // exactly the contract Nsw.insert documents for CDC updates)
    val pruned = idx.assigned
      .join(delta.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_anti")
    // cached: the post-edit index id set is read twice (per-row membership
    // mark + the total-size scalar)
    val assigned2 = graft.scale.Ivf.append(
      graft.scale.Ivf.Index(idx.centroids, pruned),
      graft.functions.Embedder.embedFrame(delta)).assigned.persist()
    val v2 = graft.store.Versioned.merge(spark, path, delta, keys = Seq("doc_id"))

    val marked = graft.store.Versioned.read(spark, path, Some(v2))
      .join(assigned2.select(col("vec_id").as("doc_id"), lit(1L).as("in_idx")),
        Seq("doc_id"), "left")
    val total = assigned2.agg(count(lit(1)).as("n_index_total"))
    marked.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).cast("long").as("id_checksum"),
        sum(col("q_e4")).cast("long").as("q_checksum"),
        sum(col("in_idx")).cast("long").as("n_indexed"))
      .crossJoin(broadcast(total)) // 1-row scalar, annotates every group
      .orderBy(col("source"))
  }

  /** Table diff (anti-entropy reconciliation): v2 of the documents table
    * is derived deterministically — doc_id % 17 = 0 deleted, % 13 = 0
    * rewritten, a % 29 = 0 slice re-keyed as inserts — and the diff is
    * ONE full-outer join on the key comparing md5 row checksums:
    * added / removed / changed, with fingerprint prefixes as evidence
    * columns. The reconciliation every replication/migration pipeline
    * runs before cutover. At 100 TB the join is preceded by a
    * bucket-level checksum pass (Merkle level 1: per-bucket count +
    * aggregated hash; only differing buckets join row-wise) — same
    * row-level shape inside each surviving bucket. */
  def tableDiff(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val v1 = docs.select(col("doc_id"), md5(col("text")).as("fp"))
    val v2 = docs.filter(col("doc_id") % 17 =!= 0)
      .select(col("doc_id"),
        md5(when(col("doc_id") % 13 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text"))).as("fp"))
      .unionByName(docs.filter(col("doc_id") % 29 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), md5(col("text")).as("fp")))
    v1.as("a").join(v2.as("b"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("a.fp").isNull, "added")
          .when(col("b.fp").isNull, "removed")
          .when(col("a.fp") =!= col("b.fp"), "changed").as("status"),
        substring(col("a.fp"), 1, 8).as("old_fp"),
        substring(col("b.fp"), 1, 8).as("new_fp"))
      .filter(col("status").isNotNull)
      .orderBy(col("doc_id"))
  }

  /** Incremental maintenance of a materialized JOIN view (delta-join
    * IVM — the view-maintenance algebra warehouses run for dashboards
    * over CDC: Δ(A ⋈ D) = ΔA ⋈ D ∪ A ⋈ ΔD, with the aggregate's monoid
    * absorbing the fact delta; the aggregate-only sibling is X134
    * retractable_agg, the sink-side sibling X132 stream_upsert — this
    * one maintains a view that JOINS two tables, under changes to
    * EITHER side). Scenario, all through [[graft.store.Versioned]]:
    *
    *  1. fact F (purchases) lands as batch 1; dim D (per-user segment)
    *     commits; the view V = agg(F) ⋈ D materializes ONCE.
    *  2. fact batch 2 appends → the consumer reads ONLY the delta via
    *     `changes(checkpointed version)`, aggregates it (O(Δ)), reads
    *     the RESIDENT view rows for the delta's keys only (semi-join —
    *     the same O(batch) discipline the round-10 upsert-sink fix
    *     pinned), monoid-adds, takes segments for first-seen users from
    *     a dim lookup, and MERGEs — file-pruned, O(Δ × touched files).
    *  3. dim update (a segment reclassification) merges into D, and the
    *     view rows for JUST those users rewrite via semi-join + MERGE —
    *     the fact table is never rescanned.
    *
    * The declared row is the final view, which must equal the full
    * recompute under the final dim state — the oracle replays exactly
    * that. At 100 TB the full recompute is the nightly job this
    * operator retires: every maintenance step above is bounded by the
    * DELTA, never the accumulated table. */
  def ivmJoinView(spark: SparkSession, dir: String): DataFrame = {
    val factPath = scratch("ivmfact", dir)
    val dimPath = scratch("ivmdim", dir)
    val viewPath = scratch("ivmview", dir)
    Seq(factPath, dimPath, viewPath).foreach(rmTree)
    val ev = Tables.events(spark, dir)
    // ONE events scan feeds both fact batches (the journey's two appends
    // used to each rescan the fact source — the delta discipline the
    // operator preaches applies to its own setup too, VERDICT r14 #4)
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v"),
        to_date(col("ts")).as("day"))
      .cache()
    def factSlice(cond: org.apache.spark.sql.Column) =
      purch.filter(cond).drop("day")
    val splitDay = lit("2024-01-21").cast("date")
    // 1) initial loads + the ONE full materialization this operator
    //    thereafter retires
    graft.store.Versioned.append(
      factSlice(col("day") < splitDay), factPath): Unit // F v1
    val checkpointed = graft.store.Versioned.currentVersion(factPath)
    graft.store.Versioned.append(
      ev.groupBy(col("user_id")).agg(min(col("event_type")).as("segment")),
      dimPath): Unit // D v1
    val dimDf = graft.store.Versioned.read(spark, dimPath)
    val v0 = graft.store.Versioned.read(spark, factPath)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_purch"), sum(col("v")).as("rev_e2"))
      .join(dimDf, "user_id")
      .select(col("user_id"), col("n_purch"), col("rev_e2"), col("segment"))
    graft.store.Versioned.append(v0, viewPath): Unit
    // 2) fact batch 2 appends; the consumer reads ONLY the delta and
    //    monoid-adds into the view's resident rows for the delta's keys
    graft.store.Versioned.append(
      factSlice(col("day") >= splitDay), factPath): Unit // F v2
    val dF = graft.store.Versioned.changes(spark, factPath, checkpointed)
    val dAgg = dF.groupBy(col("user_id"))
      .agg(count(lit(1)).as("dn"), sum(col("v")).as("dv"))
      .localCheckpoint(false) // lazy (r17); backs the resident semi-join AND the upsert build
      // (measured r16: dropping this costs MORE than the job it saves —
      // the merge's source cache covers only the plan TOP, so the twice-
      // referenced delta aggregate re-evaluates inside the write action)
    // LEFT join from the delta keys restricts the resident read to the
    // delta's keys exactly as the old semi-join prestep did, with one
    // view join instead of two (semi + left) — fewer broadcast builds
    // per maintenance action, same O(batch) discipline
    val upserts = dAgg
      .join(graft.store.Versioned.read(spark, viewPath), Seq("user_id"), "left")
      .join(dimDf.withColumnRenamed("segment", "d_segment"), Seq("user_id"), "left")
      .select(col("user_id"),
        (coalesce(col("n_purch"), lit(0L)) + col("dn")).as("n_purch"),
        (coalesce(col("rev_e2"), lit(0L)) + col("dv")).as("rev_e2"),
        coalesce(col("segment"), col("d_segment")).as("segment"))
    graft.store.Versioned.merge(spark, viewPath, upserts, Seq("user_id"),
      wholeRewriteBelowBytes = graft.store.Versioned.WholeRewriteBytes): Unit
    // 3) dim-side delta: a segment reclassification merges into D. The
    //    view's reflection of it FOLDS into leg 4's maintenance merge
    //    below (one view rewrite serves both deltas — VERDICT r14 #4:
    //    two consecutive O(Δ) merges re-resolved the resident view
    //    twice for no semantic gain; a real consumer batches deltas
    //    that arrive inside one maintenance interval).
    val updD = dimDf.filter(col("user_id") % 7 === 0)
      .withColumn("segment", lit("vip"))
    // merge-on-read UPDATE: the reclassification touches a key SLICE of
    // the dim, so a DV + replacement-rows commit beats rewriting every
    // file the slice straddles (the CoW merge form is exercised by the
    // view maintenance merges below; at 100 TB a dim reclassification
    // is exactly the high-frequency small-delta op MoR exists for)
    graft.store.Versioned.updateWhereMor(spark, dimPath,
      col("user_id") % 7 === 0, Map("segment" -> lit("vip"))): Unit
    // 4) RETRACTION (VERDICT r13 #2): refunds land as a merge-on-read
    //    DELETE on the fact table; the consumer reads the ROW-LEVEL
    //    change feed — delete rows carry the pre-image — and the
    //    aggregate monoid SUBTRACTS. A compaction in the same interval
    //    must contribute nothing (layout-only). Groups retracted to
    //    zero leave the view, so the final state equals the recompute.
    val cp2 = graft.store.Versioned.currentVersion(factPath)
    graft.store.Versioned.deleteWhereMor(spark, factPath,
      col("event_id") % 11 === 0): Unit
    graft.store.Versioned.compact(spark, factPath): Unit // feed-silent
    val cf = graft.store.Versioned.changeFeed(spark, factPath, cp2)
    val sign = when(col("_change_type") === "delete", -1L).otherwise(1L)
    // materialized once: the feed read (manifest walk + DV decode) backs
    // BOTH the touched-key union and the merge source below
    val dRet = cf.groupBy(col("user_id"))
      .agg(sum(sign).as("dn"), sum(sign * col("v")).as("dv"))
      .localCheckpoint(false) // lazy: first consumer materializes (r17)
    // ONE maintenance merge covers both outstanding deltas: keys =
    // retraction keys ∪ reclassified keys; counts monoid-add the
    // retraction delta (zero for segment-only rows), segment resolves
    // from the CURRENT dim (authoritative after the leg-3 merge).
    val touched = dRet.select(col("user_id"))
      .unionByName(updD.select(col("user_id"))).distinct()
    val dimNow = graft.store.Versioned.read(spark, dimPath)
      .withColumnRenamed("segment", "d_segment")
    val retracted = touched
      .join(dRet, Seq("user_id"), "left")
      .join(graft.store.Versioned.read(spark, viewPath), Seq("user_id"), "left")
      .join(dimNow, Seq("user_id"), "left")
      // reclassified dim users with NO view row (never purchased) are
      // not view maintenance work — without this screen the merge would
      // insert zero-count rows just for the final purge to delete
      .filter(col("n_purch").isNotNull || col("dn").isNotNull)
      .select(col("user_id"),
        (coalesce(col("n_purch"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n_purch"),
        (coalesce(col("rev_e2"), lit(0L)) + coalesce(col("dv"), lit(0L))).as("rev_e2"),
        coalesce(col("d_segment"), col("segment")).as("segment"))
    // whenMatchedDelete folds the zero-purge into THIS commit: groups
    // retracted to zero delete right here instead of costing a separate
    // deleteWhere journey leg (selection scan + rewrite + commit). The
    // view is delta-sized by construction, so the whole-rewrite
    // threshold also skips the affected-file selection action.
    graft.store.Versioned.mergeWithDeletes(spark, viewPath, retracted,
      Seq("user_id"), deleteWhen = col("n_purch") === 0L,
      wholeRewriteBelowBytes = graft.store.Versioned.WholeRewriteBytes): Unit
    graft.store.Versioned.read(spark, viewPath).orderBy(col("user_id"))
  }

  /** Row-level CDC change feed over one store (X290 —
    * [[graft.store.Versioned.changeFeed]], the Delta CDF / Iceberg
    * changelog surface the append-only `changes()` cannot give): a
    * journey of two appends, a merge-on-read DELETE, a compaction, and
    * a merge-on-read UPDATE, consumed as `_change_type` ∈ {insert,
    * delete} rows. The declared rollup groups the feed by (change,
    * commit version): the MoR delete must materialize its pre-image
    * rows as deletes, the UPDATE must emit its pre-image deletes AND
    * replacement inserts from ONE commit, and the compaction must emit
    * NOTHING (versions 1/2/3/5 appear, 4 must not). Oracle: DuckDB
    * replays the whole journey from the fixture. */
  def cdcFeed(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch("cdcfeed", dir)
    rmTree(root)
    val base = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v"))
    graft.store.Versioned.append(
      base.filter(col("event_id") % 3 === 0), root): Unit // v1
    graft.store.Versioned.append(
      base.filter(col("event_id") % 3 === 1), root): Unit // v2
    graft.store.Versioned.deleteWhereMor(spark, root,
      col("user_id") % 5 === 0): Unit // v3
    graft.store.Versioned.compact(spark, root): Unit // v4: feed-silent
    graft.store.Versioned.updateWhereMor(spark, root,
      col("user_id") % 7 === 0, Map("v" -> (col("v") + 1L))): Unit // v5
    graft.store.Versioned.changeFeed(spark, root, 0)
      .groupBy(col("_change_type").as("change_type"),
        col("_commit_version").as("commit_version"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
        sum(col("user_id")).as("su"))
      .orderBy(col("commit_version"), col("change_type"))
  }

  /** SHALLOW CLONE + RESTORE over one store ([[graft.store.Versioned
    * .shallowClone]]/[[graft.store.Versioned.restore]] — the Delta
    * zero-copy test-sandbox and rollback pair): purchases land (v1), a
    * predicate delete rewrites (v2), a metadata-only clone pins v2's
    * files BY REFERENCE and then diverges with its own append — after
    * which the SOURCE rolls back to v1 with one manifest commit and no
    * data IO. The declared row profiles all three ends: the diverged
    * clone (kept purchases + its own signup batch), the restored source
    * (the full purchase set again), and the source's v2 history (still
    * time-travelable after the restore — rollback adds a version, it
    * rewrites nothing). A lost clone isolation, a restore that
    * resurrects the deleted rows in history, or a clone that misses the
    * divergence batch each breaks a row. At 100 TB both operations are
    * O(manifest): the clone never copies data, the restore never
    * rewrites it. */
  def shallowCloneRestore(spark: SparkSession, dir: String): DataFrame = {
    val src = scratch("clonesrc", dir)
    val tgt = scratch("clonetgt", dir)
    Seq(src, tgt).foreach(rmTree)
    def slice(t: String) = Tables.events(spark, dir)
      .filter(col("event_type") === t)
      .select(col("user_id"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v"))
    graft.store.Versioned.append(slice("purchase"), src): Unit // v1
    graft.store.Versioned.deleteWhere(spark, src,
      col("user_id") % 5 === 0): Unit // v2
    graft.store.Versioned.shallowClone(src, tgt): Unit // zero-copy
    graft.store.Versioned.append(slice("signup"), tgt): Unit // clone diverges
    graft.store.Versioned.restore(src, 1): Unit // source rolls back, O(manifest)
    def profile(stage: String, df: DataFrame) =
      df.agg(count(lit(1)).as("n_rows"), sum(col("v")).as("sum_e2"))
        .select(lit(stage).as("stage"), col("n_rows"), col("sum_e2"))
    profile("clone_after_divergence", graft.store.Versioned.read(spark, tgt))
      .unionByName(profile("source_restored", graft.store.Versioned.read(spark, src)))
      .unionByName(profile("source_v2_history",
        graft.store.Versioned.read(spark, src, Some(2))))
      .orderBy(col("stage"))
  }

  /** Malformed-record HANDLING audit for the CSV reader — the ingest
    * hygiene every pipeline fed by third-party exports needs, exercised
    * against a corpus with PLANTED malformations (short rows missing a
    * column, type-corrupt numerics — the planted-defect regime of
    * dq_audit/pii_scan). Two PROBED Spark CSV behaviors this row pins
    * cross-engine, both the kind that silently skew production counts:
    *
    *  - SHORT rows are NOT malformed: PERMISSIVE null-fills the missing
    *    trailing columns and leaves `_corrupt` NULL — only rows whose
    *    READ columns fail to parse (the type-corrupt class) are flagged.
    *    The audit therefore counts null-filled rows as their own class.
    *  - Malformation detection follows COLUMN PRUNING: a bare `count()`
    *    under DROPMALFORMED parses ZERO columns and drops NOTHING — the
    *    drop-parity leg aggregates over the value column explicitly so
    *    the parse actually runs (the classic monitoring bug where the
    *    row count changes with the columns selected).
    *
    * Declared row: totals, corrupt count, null-filled count, the
    * DROPMALFORMED survivor count (= n_total − n_corrupt), and the
    * good-row checksum — all replayed by the oracle from the planted
    * construction. */
  def csvMalformedAudit(spark: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-csv-")
    cleanupAtExit(tmp.toString)
    val csvDir = tmp.resolve("landing").toString
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v"))
      .select(concat_ws(",",
        col("event_id"), col("user_id"),
        when(col("event_id") % 10 === 7, lit(null)) // short row: 2 fields
          .when(col("event_id") % 10 === 3, lit("notanumber")) // type corrupt
          .otherwise(col("v").cast("string"))).as("line"))
      .write.mode("overwrite").text(csvDir)
    val parsed = spark.read
      .schema("event_id LONG, user_id LONG, v LONG, _corrupt STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .csv(csvDir)
    // the aggregate reads v, so the per-row parse (and the drop) happens
    val survivors = spark.read
      .schema("event_id LONG, user_id LONG, v LONG")
      .option("mode", "DROPMALFORMED")
      .csv(csvDir)
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
      .head().getLong(0)
    parsed.agg(
      count(lit(1)).as("n_total"),
      sum(when(col("_corrupt").isNotNull, 1L).otherwise(0L)).as("n_corrupt"),
      sum(when(col("_corrupt").isNull && col("v").isNull, 1L).otherwise(0L))
        .as("n_nullfilled"),
      sum(when(col("_corrupt").isNull, col("v")).otherwise(0L)).as("sum_v_good"))
      .select(col("n_total"), col("n_corrupt"), col("n_nullfilled"),
        lit(survivors).as("n_survivors"), col("sum_v_good"))
  }

  /** Write-path TELEMETRY through the Observation API (`df.observe` —
    * named accumulator-backed aggregates evaluated DURING the action,
    * Spark's production pattern for row-count/checksum reconciliation
    * on every batch load): the metrics ride the write itself, costing
    * one pass of accumulator updates instead of the separate
    * re-aggregation job a "write then count" pipeline pays (which at
    * 100 TB doubles the scan, and can silently diverge from what was
    * actually written under concurrent appends). The declared row is
    * the OBSERVED metrics of a real parquet write — count, exact e2
    * sum, min/max — which the oracle recomputes relationally: a metric
    * pipeline that drops rows, double-counts retried tasks, or
    * aggregates the wrong column breaks the hash match. (Observation
    * constraints, pinned by use: aggregates only, no distinct — the
    * accumulator merge must be idempotent-safe under task retry.) */
  def observedWrite(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val obs = org.apache.spark.sql.Observation("ingest_stats")
    val tmp = java.nio.file.Files.createTempDirectory("graft-obs-")
    cleanupAtExit(tmp.toString)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v"))
      .observe(obs,
        count(lit(1)).as("n_rows"),
        sum(col("v")).as("sum_v_e2"),
        min(col("v")).as("min_v_e2"),
        max(col("v")).as("max_v_e2"))
      .write.mode("overwrite").parquet(tmp.resolve("out").toString)
    val m = obs.get
    Seq((m("n_rows").asInstanceOf[Long], m("sum_v_e2").asInstanceOf[Long],
      m("min_v_e2").asInstanceOf[Long], m("max_v_e2").asInstanceOf[Long]))
      .toDF("n_rows", "sum_v_e2", "min_v_e2", "max_v_e2")
  }

  /** LOG-level data skipping ([[graft.store.Versioned.analyzeStats]] /
    * [[graft.store.Versioned.prunedFiles]] — the Delta per-file-stats
    * design): ANALYZE records each file's [min, max] of the key column
    * as manifest marker lines, after which a range read selects files
    * from the MANIFEST ALONE —
    * zero footer opens, zero directory listing (the log-level
    * complement of zorder_scan's footer-envelope skipping; at 100 TB
    * with 10⁵ files that is the difference between one small-file read
    * and 10⁵ object-store requests at planning). The store lands as
    * four user-range batches (one file each), so the [20, 59] window
    * must read EXACTLY 2 of 4 files — the declared row carries both
    * file counts and the pruned slice's aggregate, all under the
    * oracle; stats markers retire with their file on rewrites
    * (VersionedSpec). Files without stats are conservatively read —
    * correctness never depends on ANALYZE coverage. */
  def statsPrunedScan(spark: SparkSession, dir: String): DataFrame = {
    val path = scratch("statsprune", dir)
    rangeLanded(spark, dir, path)
    val total = graft.store.Versioned.files(path).size
    val kept = graft.store.Versioned.prunedFiles(path, "user_id", 20, 59)
    graft.store.Versioned.readFilesOf(spark, path,
        graft.store.Versioned.currentVersion(path), kept)
      .filter(col("user_id") >= 20 && col("user_id") <= 59)
      .agg(count(lit(1)).as("n_rows"), sum(col("v")).as("rev_e2"))
      .select(lit(total.toLong).as("n_files_total"),
        lit(kept.size.toLong).as("n_files_read"), col("n_rows"), col("rev_e2"))
  }

  /** The 4-file store `stats_pruned_scan` and `stats_skip_auto` share:
    * one file per 40-user range of `user_id`, stats analyzed. */
  private def rangeLanded(spark: SparkSession, dir: String, path: String): Unit = {
    rmTree(path)
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v"))
    (0 until 4).foreach { b =>
      graft.store.Versioned.append(
        ev.filter(col("user_id") >= b * 40 && col("user_id") < (b + 1) * 40)
          .coalesce(1), path): Unit
    }
    graft.store.Versioned.analyzeStats(spark, path, "user_id"): Unit
  }

  /** AUTOMATIC data skipping (the completion of `stats_pruned_scan`): the
    * same 4-file range-landed store, but the query is a PLAIN `.filter`
    * over the `graft-versioned` source — no pruning call. The source
    * receives the [20, 59] bounds as pushed filters and keeps only the
    * files the manifest stats admit, so the built scan holds 2 of 4
    * files; the declared row reports that count FROM THE PHYSICAL PLAN
    * ([[graft.sources.VersionedV2.filesScanned]]) plus the slice
    * aggregate, both under the oracle. This is where skipping belongs at
    * 100 TB: in the scan, so every ad-hoc query gets it without calling a
    * special read API. */
  def statsSkipAuto(spark: SparkSession, dir: String): DataFrame = {
    val path = scratch("statsskipauto", dir)
    rangeLanded(spark, dir, path)
    val df = spark.read.format("graft-versioned").option("path", path).load()
      .filter(col("user_id") >= 20 && col("user_id") <= 59)
    val read = graft.sources.VersionedV2.filesScanned(df)
    val total = graft.store.Versioned.files(path).size
    df.agg(count(lit(1)).as("n_rows"), sum(col("v")).as("rev_e2"))
      .select(lit(total.toLong).as("n_files_total"),
        lit(read.toLong).as("n_files_read"), col("n_rows"), col("rev_e2"))
  }

  /** Bloom-filter file skipping ([[graft.store.Versioned.analyzeBloom]]
    * + the `graft-versioned` source's equality pushdown): the store lands
    * INTERLEAVED — each of the 4 files holds one `user_id % 4` residue
    * class, so every file's [min, max] covers the whole domain and
    * min/max stats can prune NOTHING (the plan-counted stats-only
    * baseline in the declared row pins exactly that). Per-file Bloom
    * filters in the manifest close the gap: the point lookup
    * `user_id = 7` consults 4 filters driver-side and reads only the
    * residue-3 file — the skip that matters when keys arrive in landing
    * order rather than range-clustered (hash IDs, content digests).
    * False-positive rate at fixture scale: ~40 distinct keys in a
    * 16 Kbit/6-hash filter ≈ 0 — and the filter is deterministic, so
    * the plan-counted 1-of-4 is stable. */
  def bloomSkipScan(spark: SparkSession, dir: String): DataFrame = {
    val path = scratch("bloomskip", dir)
    rmTree(path)
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v"))
    (0 until 4).foreach { b =>
      graft.store.Versioned.append(
        ev.filter(col("user_id") % 4 === b).coalesce(1), path): Unit
    }
    graft.store.Versioned.analyzeStats(spark, path, "user_id"): Unit
    graft.store.Versioned.analyzeBloom(spark, path, "user_id"): Unit
    def v2 = spark.read.format("graft-versioned").option("path", path).load()
    // stats alone cannot prune an interleaved landing: a (non-point) range
    // probe intersects every file's [residue, max] envelope — reads all 4
    val statsOnly = graft.sources.VersionedV2.filesScanned(
      v2.filter(col("user_id") >= 6 && col("user_id") <= 8))
    val df = v2.filter(col("user_id") === 7)
    df.agg(count(lit(1)).as("n_rows"), sum(col("v")).as("rev_e2"))
      .select(lit(graft.store.Versioned.files(path).size.toLong).as("n_files_total"),
        lit(statsOnly.toLong).as("n_files_stats_only"),
        lit(graft.sources.VersionedV2.filesScanned(df).toLong).as("n_files_bloom"),
        col("n_rows"), col("rev_e2"))
  }

  /** ZERO-REWRITE column rename ([[graft.store.Versioned.renameColumn]]
    * — the Iceberg ALTER TABLE RENAME design point): two batches land
    * under the OLD column name, the rename commits pure metadata (the
    * declared row pins the file set unchanged), a third batch lands
    * under the NEW name, and one read serves ALL rows under the
    * canonical name — legacy files resolve through the manifest's
    * rename marker (`coalesce(new, old)` under the union scan), so no
    * data file is rewritten at ANY table size. The aggregate over the
    * canonical column must equal the full events recompute. */
  def renameZeroRewrite(spark: SparkSession, dir: String): DataFrame = {
    val path = scratch("renamezr", dir)
    rmTree(path)
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v"))
    graft.store.Versioned.append(ev.filter(col("event_id") % 3 === 0), path): Unit
    graft.store.Versioned.append(ev.filter(col("event_id") % 3 === 1), path): Unit
    val before = graft.store.Versioned.files(path).toSet
    graft.store.Versioned.renameColumn(spark, path, "v", "rev_e2"): Unit
    val untouched = graft.store.Versioned.files(path).toSet == before
    graft.store.Versioned.append(
      ev.filter(col("event_id") % 3 === 2).withColumnRenamed("v", "rev_e2"),
      path): Unit
    graft.store.Versioned.read(spark, path)
      .agg(count(lit(1)).as("n_rows"), sum(col("rev_e2")).as("rev_e2_total"))
      .select(lit(if (untouched) 1L else 0L).as("files_untouched"),
        col("n_rows"), col("rev_e2_total"))
  }

  /** Stats-driven retention DELETE
    * ([[graft.store.Versioned.retentionDelete]] — the TTL sweep):
    * 4 range-landed files, cutoff 70 — the [0,39] file is ENTIRELY
    * expired and drops as pure metadata (never read, never rewritten),
    * [40,79] straddles and pays the only row-level rewrite, [80,119]
    * and [120,∞) are untouched. The declared row pins the 1/1/2
    * classification AND the post-delete aggregate under the oracle. At
    * 100 TB this classification is what makes retention affordable:
    * almost every file is entirely expired or entirely live, so the
    * sweep reads only the boundary. */
  def retentionDeleteQuery(spark: SparkSession, dir: String): DataFrame = {
    val path = scratch("retention", dir)
    rmTree(path)
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v"))
    (0 until 4).foreach { b =>
      graft.store.Versioned.append(
        ev.filter(col("user_id") >= b * 40 && col("user_id") < (b + 1) * 40)
          .coalesce(1), path): Unit
    }
    graft.store.Versioned.analyzeStats(spark, path, "user_id"): Unit
    val out = graft.store.Versioned.retentionDelete(spark, path, "user_id", 70L)
    graft.store.Versioned.read(spark, path)
      .agg(count(lit(1)).as("n_rows"), sum(col("v")).as("rev_e2"))
      .select(lit(out.droppedMeta.toLong).as("n_dropped_meta"),
        lit(out.rewritten.toLong).as("n_rewritten"),
        lit(out.untouched.toLong).as("n_untouched"),
        col("n_rows"), col("rev_e2"))
  }

  /** TIMESTAMP AS OF time travel ([[graft.store.Versioned.readAsOf]] —
    * the Delta resolution rule: commit time = manifest publish time):
    * three user-slice batches land with staged publish times, and a
    * read AS OF a moment between the 2nd and 3rd commits must serve
    * exactly the first two slices — the "what did the table say when
    * the model trained" audit query, answered from the log alone. */
  def timeTravelAsof(spark: SparkSession, dir: String): DataFrame = {
    val path = scratch("asof", dir)
    rmTree(path)
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v"))
    graft.store.Versioned.append(ev.filter(col("user_id") < 50), path): Unit
    graft.store.Versioned.append(
      ev.filter(col("user_id") >= 50 && col("user_id") < 100), path): Unit
    graft.store.Versioned.append(ev.filter(col("user_id") >= 100), path): Unit
    val now = System.currentTimeMillis()
    Seq((1, 300L), (2, 200L), (3, 100L)).foreach { case (ver, age) =>
      val f = new java.io.File(path, f"_manifests/v$ver%08d.list")
      require(f.setLastModified(now - age * 1000), s"stamp $ver")
    }
    graft.store.Versioned.readAsOf(spark, path, now - 150 * 1000)
      .agg(count(lit(1)).as("n_rows"), sum(col("v")).as("rev_e2"))
  }

  /** The events table served through the from-scratch DataSource V2
    * connector ([[graft.sources.VersionedV2]]) — `format("graft-
    * versioned")` — with both V2 pushdowns live: the user-id slice
    * filter prunes the 3-file store to 1 file at PLANNING time through
    * the manifest stats (the scan's partition count is the proof,
    * VersionedV2Spec pins it), and column pruning drops event_id before
    * any decode. The aggregate must equal DuckDB reading the raw
    * fixture — connector decode, file pruning, and projection all sit
    * on the hash path. */
  def v2SourceRead(spark: SparkSession, dir: String): DataFrame = {
    val path = scratch("v2src", dir)
    rmTree(path)
    val ev = Tables.events(spark, dir).select(col("event_id"),
      col("user_id"), col("event_type"),
      expr("CAST(round(value * 100) AS BIGINT)").as("v_e2"))
    graft.store.Versioned.append(ev.filter(col("user_id") < 50).coalesce(1), path)
    graft.store.Versioned.append(
      ev.filter(col("user_id").between(50, 99)).coalesce(1), path)
    graft.store.Versioned.append(ev.filter(col("user_id") >= 100).coalesce(1), path)
    graft.store.Versioned.analyzeStats(spark, path, "user_id")
    spark.read.format("graft-versioned").option("path", path).load()
      .filter(col("user_id").between(60, 79))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("v_e2")).as("sv_e2"))
      .orderBy(col("event_type"))
  }

  /** Round-trip through the V2 WRITE path: the events slice lands via
    * `df.write.format("graft-versioned")` (executor-side Group-API
    * parquet encode, staged batch dir, one atomic manifest commit —
    * [[graft.sources.VersionedV2]]'s exactly-once contract), in TWO
    * appends so the manifest log carries two versions; the read-back
    * aggregate must equal DuckDB over the raw fixture — encode, commit,
    * and decode all sit on the hash path. */
  def v2SourceWrite(spark: SparkSession, dir: String): DataFrame = {
    val path = scratch("v2w", dir)
    rmTree(path)
    val ev = Tables.events(spark, dir).select(col("event_id"),
      col("user_id"), col("event_type"),
      expr("CAST(round(value * 100) AS BIGINT)").as("v_e2"))
      .filter(col("user_id") < 40)
    ev.filter(col("user_id") < 20).write.format("graft-versioned")
      .option("path", path).mode("append").save()
    ev.filter(col("user_id") >= 20).write.format("graft-versioned")
      .option("path", path).mode("append").save()
    spark.read.format("graft-versioned").option("path", path).load()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("v_e2")).as("sv_e2"))
      .orderBy(col("event_type"))
  }

  /** REAL Structured Streaming through the V2 STREAMING sink
    * (`writeStream.format("graft-versioned")`): the events slice lands
    * in two micro-batches (file source, maxFilesPerTrigger=1,
    * AvailableNow), each epoch publishing one ledger-keyed manifest
    * version ([[graft.store.Versioned.commitExternalFilesIdempotent]] —
    * the exactly-once half the engine owns; VersionedV2Spec pins the
    * replayed-epoch no-op). The read-back aggregate must equal DuckDB
    * over the raw fixture. */
  def v2StreamSink(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val tmp = java.nio.file.Files.createTempDirectory("graft-v2s-")
    cleanupAtExit(tmp.toString)
    val landing = java.nio.file.Files.createDirectory(tmp.resolve("landing"))
    val store = tmp.resolve("store").toString
    val ev = Tables.events(spark, dir).select(col("event_id"),
      col("user_id"), col("event_type"),
      expr("CAST(round(value * 100) AS BIGINT)").as("v_e2"))
      .filter(col("user_id") < 60)
    def stage(name: String, df: DataFrame): Unit = {
      val st = tmp.resolve(s"$name-stage")
      df.coalesce(1).write.parquet(st.toString)
      val part = java.nio.file.Files.list(st)
        .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.copy(part, landing.resolve(name)): Unit
    }
    stage("b0.parquet", ev.filter(col("user_id") < 30))
    stage("b1.parquet", ev.filter(col("user_id") >= 30))
    val schema = spark.read.parquet(landing.toString).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(landing.toString)
      .writeStream.format("graft-versioned").option("path", store)
      .option("checkpointLocation", s"$tmp/ckpt")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    graft.store.Versioned.read(spark, store)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("v_e2")).as("sv_e2"))
      .orderBy(col("event_type"))
  }

  /** Dynamic partition pruning — the runtime-pruning headline Spark
    * feature the static layouts above can't show: the fact side is a
    * DAY-partitioned copy of events (Hive layout, one dir per day) and
    * the probe side is a frame of hot days (daily revenue > 1.05× the
    * average — an aggregate-derived list NO static pushdown can see).
    * Joining fact ⋈ broadcast(hot days) on the partition column makes
    * Spark insert a `dynamicpruning` subquery into the scan's
    * PartitionFilters: the broadcast result prunes fact DIRECTORIES at
    * runtime — 7 of 30 read at sf0.01 (13/30 at sf0.001, 1/30 at sf0.1).
    * At 100 TB this is the difference between scanning a month and
    * scanning the hot days, with zero changes to the query. The
    * selection predicate is the exact integer cross-multiplication
    * rev·n_days·100 > total·105 (no division). PlanSpec pins the
    * `dynamicpruning` expression + the pruned InputPartitions count;
    * the oracle recomputes the same join from the RAW table — the
    * partitioned layout must change nothing. */
  def dppJoin(spark: SparkSession, dir: String): DataFrame = {
    val fact = graft.scale.ShingleStore.storedPartitioned(
      spark, dir, "events-by-day", "day") {
      Tables.events(spark, dir)
        .select(col("event_id"), col("event_type"),
          expr("CAST(round(value * 100) AS BIGINT)").as("v_e2"),
          to_date(col("ts")).as("day"))
    }
    // the hot-day gate must reach the planner as a FILTER on the probe
    // side (scalar subqueries for the corpus totals) — phrased as a
    // cross-join condition it becomes a BNLJ join predicate, which
    // PartitionPruning's hasSelectivePredicate does not accept and DPP
    // silently never fires (measured; PlanSpec now pins the firing)
    Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("rev"))
      .createOrReplaceTempView("graft_dpp_daily")
    val hot = spark.sql(
      """SELECT day FROM graft_dpp_daily
        |WHERE rev * (SELECT COUNT(*) FROM graft_dpp_daily) * 100
        |      > (SELECT SUM(rev) FROM graft_dpp_daily) * 105""".stripMargin)
    fact.join(broadcast(hot), "day")
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_events"), sum(col("v_e2")).as("rev_e2"))
      .orderBy(col("day"))
  }

  /** Streaming SOURCE over the versioned store — the read side of the
    * connector's streaming story ([[graft.sources.VersionedV2]]'s
    * `MicroBatchStream`): three manifest versions replay as three REAL
    * micro-batches (admission control paces one VERSION per batch;
    * `Trigger.AvailableNow` drains to the version current at start), the
    * streamed rows land in a parquet sink, and the read-back aggregate
    * must equal DuckDB over the raw fixture — version diffing, batch
    * planning, decode, and the sink all sit on the hash path.
    * VersionedV2Spec additionally pins the batch count, checkpointed
    * RESUME (a fourth version appended after the first drain streams
    * alone), and the append-only rejection on rewrites. */
  def v2StreamSource(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val tmp = java.nio.file.Files.createTempDirectory("graft-v2src-")
    cleanupAtExit(tmp.toString)
    val store = tmp.resolve("store").toString
    val out = tmp.resolve("out").toString
    val ev = Tables.events(spark, dir).select(col("event_id"),
      col("user_id"), col("event_type"),
      expr("CAST(round(value * 100) AS BIGINT)").as("v_e2"))
    graft.store.Versioned.append(ev.filter(col("user_id") < 50).coalesce(1), store)
    graft.store.Versioned.append(
      ev.filter(col("user_id").between(50, 99)).coalesce(1), store)
    graft.store.Versioned.append(ev.filter(col("user_id") >= 100).coalesce(1), store)
    val q = spark.readStream.format("graft-versioned").option("path", store)
      .load()
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", s"$tmp/ckpt")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.read.parquet(out)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("v_e2")).as("sv_e2"))
      .orderBy(col("event_type"))
  }

  /** Medallion pipeline — STREAM FROM THE STORE INTO THE STORE: bronze
    * (raw events, three manifest versions) streams through a transform
    * (high-value purchases only, revenue-band column) into silver, with
    * the V2 connector on BOTH ends — the version-offset source (X211)
    * feeding the epoch-ledger exactly-once sink (X191). Each bronze
    * version replays as its own micro-batch and lands as its own silver
    * version, so the silver manifest log mirrors the bronze commit
    * history — the bronze→silver→gold architecture every lakehouse
    * pitch draws, here end-to-end under the oracle gate (the silver
    * read-back must equal DuckDB's transform of the raw fixture). */
  def v2Medallion(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val tmp = java.nio.file.Files.createTempDirectory("graft-v2med-")
    cleanupAtExit(tmp.toString)
    val bronze = tmp.resolve("bronze").toString
    val silver = tmp.resolve("silver").toString
    val ev = Tables.events(spark, dir).select(col("event_id"),
      col("user_id"), col("event_type"),
      expr("CAST(round(value * 100) AS BIGINT)").as("v_e2"))
    graft.store.Versioned.append(ev.filter(col("user_id") < 50).coalesce(1), bronze)
    graft.store.Versioned.append(
      ev.filter(col("user_id").between(50, 99)).coalesce(1), bronze)
    graft.store.Versioned.append(ev.filter(col("user_id") >= 100).coalesce(1), bronze)
    val q = spark.readStream.format("graft-versioned").option("path", bronze)
      .load()
      .filter(col("event_type") === "purchase" && col("v_e2") > 20000L)
      .withColumn("band", expr("v_e2 div 10000"))
      .writeStream.format("graft-versioned").option("path", silver)
      .option("checkpointLocation", s"$tmp/ckpt")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    graft.store.Versioned.read(spark, silver)
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n"), sum(col("v_e2")).as("sv_e2"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("band"))
  }

  /** Aggregate pushdown through the V2 connector — COUNT(*)/MIN/MAX
    * answered from parquet FOOTER metadata (one footer open per manifest
    * file, zero data pages; [[graft.sources.VersionedV2]]'s
    * `SupportsPushDownAggregates`). The store is written in three appends
    * so the fold crosses file boundaries; the oracle recomputes the same
    * aggregates from the raw fixture — metadata and data must agree
    * exactly (parquet int stats are exact; that's why the pushdown is
    * scoped to integral columns). VersionedV2Spec pins the plan
    * (AGG-PUSHDOWN scan, no row-reading scan) and the all-null column
    * contract. */
  def v2AggPushdown(spark: SparkSession, dir: String): DataFrame = {
    val path = scratch("v2agg", dir)
    rmTree(path)
    val ev = Tables.events(spark, dir).select(col("event_id"),
      col("user_id"), col("event_type"),
      expr("CAST(round(value * 100) AS BIGINT)").as("v_e2"))
    graft.store.Versioned.append(ev.filter(col("user_id") < 50).coalesce(1), path)
    graft.store.Versioned.append(
      ev.filter(col("user_id").between(50, 99)).coalesce(1), path)
    graft.store.Versioned.append(ev.filter(col("user_id") >= 100).coalesce(1), path)
    spark.read.format("graft-versioned").option("path", path).load()
      .agg(count(lit(1)).as("n_rows"),
        min(col("v_e2")).as("min_v_e2"), max(col("v_e2")).as("max_v_e2"),
        min(col("user_id")).as("min_user"), max(col("user_id")).as("max_user"))
  }

  /** The whole store journey as PURE SQL through the
    * [[graft.sources.GraftCatalog]] `TableCatalog` plugin (X218) — the
    * open-a-collection-BY-NAME UX of the reference's Chroma layer
    * (`app.py:73-76`) with zero library calls: CREATE TABLE publishes a
    * schema-only version 1, two INSERT INTOs land as manifest versions
    * 2 and 3 through the V2 exactly-once write path, the readout joins
    * the current version's rollup with a `VERSION AS OF 2` scalar
    * subquery (SQL time travel — only the first slice existed then).
    * The catalog name carries the fixture digest so concurrent suites
    * at different SFs resolve disjoint roots. */
  def catalogSql(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch("catroot", dir)
    rmTree(root)
    val cat = s"graft_cat_${dirDigest(dir)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v_e2"))
      .createOrReplaceTempView("graft_cat_src")
    spark.sql(s"DROP TABLE IF EXISTS $cat.ev")
    spark.sql(s"CREATE TABLE $cat.ev " +
      "(event_id BIGINT, user_id BIGINT, event_type STRING, v_e2 BIGINT)")
    spark.sql(s"INSERT INTO $cat.ev SELECT * FROM graft_cat_src WHERE user_id < 60")
    spark.sql(s"INSERT INTO $cat.ev SELECT * FROM graft_cat_src WHERE user_id >= 60")
    spark.sql(
      s"""SELECT event_type, COUNT(*) AS n, SUM(v_e2) AS sv_e2,
         |  (SELECT COUNT(*) FROM $cat.ev VERSION AS OF 2) AS n_v2
         |FROM $cat.ev GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  /** Row-level SQL over the connector (X219): `DELETE FROM <catalog
    * table> WHERE ...` routed through `SupportsDeleteV2` onto the
    * store's FILE-PRUNED rewrite ([[graft.store.Versioned.deleteWhere]])
    * — the reference's delete route (`app.py:451-462`) as pure SQL. The
    * two inserts land user-sliced files; the delete predicate touches
    * only the first slice, so exactly one file rewrites (VersionedV2Spec
    * pins the pruning); the read-back aggregate must equal DuckDB's
    * complement filter over the raw fixture. */
  def v2DeleteSql(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch("catdel", dir)
    rmTree(root)
    val cat = s"graft_del_${dirDigest(dir)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v_e2"))
      .createOrReplaceTempView("graft_del_src")
    spark.sql(s"DROP TABLE IF EXISTS $cat.ev")
    spark.sql(s"CREATE TABLE $cat.ev " +
      "(event_id BIGINT, user_id BIGINT, event_type STRING, v_e2 BIGINT)")
    spark.sql(s"INSERT INTO $cat.ev SELECT * FROM graft_del_src WHERE user_id < 60")
    spark.sql(s"INSERT INTO $cat.ev SELECT * FROM graft_del_src WHERE user_id >= 60")
    spark.sql(s"DELETE FROM $cat.ev " +
      "WHERE user_id < 30 AND (event_type = 'error' OR v_e2 < 5000)")
    spark.sql(
      s"""SELECT event_type, COUNT(*) AS n, SUM(v_e2) AS sv_e2
         |FROM $cat.ev GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  /** `UPDATE` as pure SQL over the connector (X221 —
    * `SupportsRowLevelOperations`, group-based copy-on-write): Spark
    * reads the affected GROUPS through the operation's scan (static
    * stats pushdown + runtime group filtering both prune), applies the
    * assignment to matching rows, and the write REPLACES exactly the
    * scanned files in one atomic manifest commit
    * ([[graft.store.Versioned.commitExternalRewrite]] — conflicting
    * concurrent rewrites surface as clear errors, never lost updates).
    * The `_graft_file` metadata column is load-bearing here: Spark 4.1
    * applies the ReplaceData row projection only for operations that
    * request metadata attributes. The read-back rollup must equal
    * DuckDB's CASE-adjusted rollup over the raw fixture. */
  def v2UpdateSql(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch("catupd", dir)
    rmTree(root)
    val cat = s"graft_upd_${dirDigest(dir)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v_e2"))
      .createOrReplaceTempView("graft_upd_src")
    spark.sql(s"DROP TABLE IF EXISTS $cat.ev")
    spark.sql(s"CREATE TABLE $cat.ev " +
      "(event_id BIGINT, user_id BIGINT, event_type STRING, v_e2 BIGINT)")
    spark.sql(s"INSERT INTO $cat.ev SELECT * FROM graft_upd_src WHERE user_id < 60")
    spark.sql(s"INSERT INTO $cat.ev SELECT * FROM graft_upd_src WHERE user_id >= 60")
    spark.sql(s"UPDATE $cat.ev SET v_e2 = v_e2 + 100 " +
      "WHERE event_type = 'error' AND user_id < 30")
    spark.sql(
      s"""SELECT event_type, COUNT(*) AS n, SUM(v_e2) AS sv_e2
         |FROM $cat.ev GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  /** `MERGE INTO` as pure SQL over the connector (X222 — the same
    * group-based ReplaceData machinery as [[v2UpdateSql]] with a source
    * JOIN): matched target rows take the source value, unmatched source
    * rows INSERT as a synthetic 'merged' event class. Affected-group
    * discovery joins through the scan (stats + runtime group filter);
    * inserted rows simply become new files in the same atomic rewrite
    * commit. Oracle: the CASE-adjusted rollup UNION the inserted class
    * recomputed from the raw fixture. */
  def v2MergeSql(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch("catmrg", dir)
    rmTree(root)
    val cat = s"graft_mrg_${dirDigest(dir)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v_e2"))
      .createOrReplaceTempView("graft_mrg_src")
    spark.sql(s"DROP TABLE IF EXISTS $cat.ev")
    spark.sql(s"CREATE TABLE $cat.ev " +
      "(event_id BIGINT, user_id BIGINT, event_type STRING, v_e2 BIGINT)")
    spark.sql(s"INSERT INTO $cat.ev SELECT * FROM graft_mrg_src WHERE user_id < 60")
    spark.sql(s"INSERT INTO $cat.ev SELECT * FROM graft_mrg_src WHERE user_id >= 60")
    spark.sql(
      s"""MERGE INTO $cat.ev t
         |USING (
         |  SELECT event_id, v_e2 * 2 AS nv FROM graft_mrg_src WHERE user_id < 10
         |  UNION ALL
         |  SELECT event_id + 10000000, CAST(777 AS BIGINT)
         |  FROM graft_mrg_src WHERE user_id < 3) s
         |ON t.event_id = s.event_id
         |WHEN MATCHED THEN UPDATE SET v_e2 = s.nv
         |WHEN NOT MATCHED THEN
         |  INSERT (event_id, user_id, event_type, v_e2)
         |  VALUES (s.event_id, 0, 'merged', s.nv)""".stripMargin)
    spark.sql(
      s"""SELECT event_type, COUNT(*) AS n, SUM(v_e2) AS sv_e2
         |FROM $cat.ev GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  /** Table history (X245 — the `DESCRIBE HISTORY` observability Delta
    * users lean on): per-version file-churn telemetry derived from the
    * manifest LOG ALONE (added/removed = set differences of adjacent
    * manifests — O(log) driver arithmetic, zero data IO) joined with
    * each version's time-travel row count. The scenario drives every
    * commit class: three appends then a file-pruned DELETE whose
    * version REMOVES one file and ADDS its rewrite — so the history
    * shows growth AND churn; the oracle recomputes row counts from the
    * raw fixture slices and pins the file churn as literals (one
    * coalesced file per append, one rewritten by the delete). */
  def tableHistory(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val path = scratch("hist", dir)
    rmTree(path)
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v_e2"))
    graft.store.Versioned.append(ev.filter(col("user_id") < 50).coalesce(1), path)
    graft.store.Versioned.append(
      ev.filter(col("user_id").between(50, 99)).coalesce(1), path)
    graft.store.Versioned.append(ev.filter(col("user_id") >= 100).coalesce(1), path)
    graft.store.Versioned.deleteWhere(spark, path, col("user_id") < 10)
    val cur = graft.store.Versioned.currentVersion(path)
    val rows = (1 to cur).map { v =>
      val fs = graft.store.Versioned.files(path, Some(v)).toSet
      val prev = if (v == 1) Set.empty[String]
        else graft.store.Versioned.files(path, Some(v - 1)).toSet
      (v.toLong, fs.size.toLong, (fs -- prev).size.toLong,
        (prev -- fs).size.toLong,
        graft.store.Versioned.read(spark, path, Some(v)).count())
    }
    rows.toDF("version", "n_files", "n_added", "n_removed", "n_rows")
      .orderBy(col("version"))
  }

  /** SQL schema evolution (X242 — `ALTER TABLE ... ADD COLUMN` through
    * the catalog): CREATE a narrow table, land a slice, ALTER in a
    * `band` column (metadata-only — [[graft.store.Versioned
    * .replaceSchemaMarker]], zero files touched), land a second slice
    * WITH the column, and read both eras together — pre-evolution rows
    * serve NULL through the V2 reader's per-file read-schema clip. The
    * readout aggregates both eras (COUNT, COUNT(band), banded revenue),
    * recomputed by DuckDB from the raw fixture with the same era split. */
  def catalogEvolveSql(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch("catevo", dir)
    rmTree(root)
    val cat = s"graft_evo_${dirDigest(dir)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v_e2"))
      .createOrReplaceTempView("graft_evo_src")
    spark.sql(s"DROP TABLE IF EXISTS $cat.ev")
    spark.sql(s"CREATE TABLE $cat.ev " +
      "(event_id BIGINT, user_id BIGINT, event_type STRING, v_e2 BIGINT)")
    spark.sql(s"INSERT INTO $cat.ev SELECT * FROM graft_evo_src WHERE user_id < 60")
    spark.sql(s"ALTER TABLE $cat.ev ADD COLUMN band BIGINT")
    spark.sql(s"INSERT INTO $cat.ev " +
      "SELECT event_id, user_id, event_type, v_e2, v_e2 div 10000 " +
      "FROM graft_evo_src WHERE user_id >= 60")
    spark.sql(
      s"""SELECT event_type, COUNT(*) AS n, COUNT(band) AS n_banded,
         |  SUM(v_e2) AS sv_e2, SUM(coalesce(band, -1)) AS band_sum
         |FROM $cat.ev GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  /** Runtime file pruning INTO the V2 scan (X220 —
    * `SupportsRuntimeV2Filtering` composing with the manifest stats of
    * X157): the fact store lands four user-residue files with `band`
    * stats markers, the probe side is the aggregate-derived hot-band
    * list (revenue strictly above the mean — 3/2/1 of 4 bands at
    * sf0.001/0.01/0.1, probed), and the broadcast join's runtime IN
    * filter prunes the fact FILE LIST at execution — where `dpp_join`
    * (X205) proves the same mechanic over a Hive-layout directory copy,
    * this is the store's own scan being runtime-pruned.
    * VersionedV2Spec pins the kept-file telemetry; the oracle recomputes
    * the join from the raw fixture. */
  def v2Dpp(spark: SparkSession, dir: String): DataFrame = {
    val path = scratch("v2dpp", dir)
    rmTree(path)
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v_e2"),
        (col("user_id") % 4).as("band"))
    (0 until 4).foreach { b =>
      graft.store.Versioned.append(
        ev.filter(col("band") === b).coalesce(1), path): Unit
    }
    graft.store.Versioned.analyzeStats(spark, path, "band"): Unit
    // the hot-band gate must reach the planner as a FILTER (the dpp_join
    // lesson: a cross-join phrasing becomes a BNLJ predicate and runtime
    // pruning never fires)
    ev.groupBy(col("band")).agg(sum(col("v_e2")).as("rev"))
      .createOrReplaceTempView("graft_v2dpp_bands")
    val hot = spark.sql(
      """SELECT band FROM graft_v2dpp_bands
        |WHERE rev * (SELECT COUNT(*) FROM graft_v2dpp_bands)
        |      > (SELECT SUM(rev) FROM graft_v2dpp_bands)""".stripMargin)
    spark.read.format("graft-versioned").option("path", path).load()
      .join(broadcast(hot), "band")
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_events"), sum(col("v_e2")).as("rev_e2"))
      .orderBy(col("band"))
  }

  /** The reference's CORE retrieval (k-NN over the vector store,
    * `app.py:409`) as PURE SQL on a fresh session (X247 —
    * `FunctionCatalog` on [[graft.sources.GraftCatalog]]): nothing is
    * pre-registered; the catalog itself serves both the TABLE (`emb`,
    * with a real `array<float>` embedding column round-tripping through
    * the V2 writer's repeated-FLOAT shape) and the FUNCTION
    * (`<cat>.vec_squared_l2`, bound to the codegen-friendly magic-invoke
    * ScalarFunction). The top-13 with (dist, vec_id) tie-break must
    * hash-match the library-route `knn_sql` oracle digit-for-digit —
    * same strict left-to-right double fold. Plan shape: one scan +
    * broadcast of the 1-row query vector + TakeOrderedAndProject
    * (GraftCatalogSpec pins it). */
  def catalogKnnSql(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch("catknn", dir)
    rmTree(root)
    val cat = s"graft_knn_${dirDigest(dir)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
      .createOrReplaceTempView("graft_knn_src")
    spark.sql(s"DROP TABLE IF EXISTS $cat.emb")
    spark.sql(s"CREATE TABLE $cat.emb (vec_id BIGINT, embedding ARRAY<FLOAT>)")
    spark.sql(s"INSERT INTO $cat.emb SELECT vec_id, embedding FROM graft_knn_src")
    spark.sql(
      s"""WITH q AS (SELECT embedding AS q_emb FROM $cat.emb WHERE vec_id = 0),
         |d AS (SELECT e.vec_id, $cat.vec_squared_l2(e.embedding, q.q_emb) AS d
         |      FROM $cat.emb e CROSS JOIN q)
         |SELECT vec_id, CAST(round(d * 10000) AS BIGINT) AS dist_e4
         |FROM d ORDER BY d, vec_id LIMIT 13""".stripMargin)
  }

  /** Atomic `CREATE TABLE AS SELECT` (X248 — `StagedTableCatalog`):
    * schema and data publish as ONE version-1 manifest commit
    * ([[graft.store.Versioned.initTableWithFiles]]) — the
    * first-write-creates semantics of the reference's
    * `Chroma(documents=…)` (multiple_document_upload.py:161-166), with
    * no observable empty-table intermediate (create-then-insert strands
    * one on insert failure). `n_versions` exports the post-CTAS version
    * count: 1 proves single-commit publish; the abort-leaves-nothing
    * half is GraftCatalogSpec's. */
  def catalogCtas(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch("catctas", dir)
    rmTree(root)
    val cat = s"graft_ctas_${dirDigest(dir)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v_e2"))
      .createOrReplaceTempView("graft_ctas_src")
    spark.sql(s"DROP TABLE IF EXISTS $cat.ev_hi")
    spark.sql(s"CREATE TABLE $cat.ev_hi AS " +
      "SELECT * FROM graft_ctas_src WHERE user_id % 3 = 1")
    val nVersions = graft.store.Versioned.currentVersion(
      new File(root, "ev_hi").getAbsolutePath)
    spark.sql(
      s"""SELECT event_type, COUNT(*) AS n, SUM(v_e2) AS sv_e2
         |FROM $cat.ev_hi GROUP BY event_type ORDER BY event_type""".stripMargin)
      .withColumn("n_versions", lit(nVersions.toLong))
  }

  /** SQL maintenance verbs (X249 — `ProcedureCatalog`): the background
    * jobs that keep a 100 TB table healthy, each one `CALL` away —
    * OPTIMIZE ZORDER rewrite, ANALYZE stats/bloom marker collection,
    * VACUUM reclaim — completing Delta-parity DML+maintenance over the
    * manifest store with zero Scala. Version arithmetic is deterministic
    * (CREATE=1, three INSERTs, optimize=5, stats=6, bloom=7);
    * `reclaimed_all` pins that vacuum swept EXACTLY the pre-optimize
    * input files, `skipped_some` that the post-ZORDER stats markers
    * actually prune a box probe. Data must survive every verb bit-exact
    * (the readout aggregate). */
  def catalogMaintenance(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch("catmnt", dir)
    rmTree(root)
    val cat = s"graft_mnt_${dirDigest(dir)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val path = new File(root, "ev").getAbsolutePath
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v_e2"))
      .createOrReplaceTempView("graft_mnt_src")
    spark.sql(s"DROP TABLE IF EXISTS $cat.ev")
    spark.sql(s"CREATE TABLE $cat.ev " +
      "(event_id BIGINT, user_id BIGINT, event_type STRING, v_e2 BIGINT)")
    (0 until 3).foreach { r =>
      spark.sql(s"INSERT INTO $cat.ev " +
        s"SELECT * FROM graft_mnt_src WHERE user_id % 3 = $r"): Unit
    }
    val inputFiles = graft.store.Versioned.files(path).size
    val vOpt = spark.sql(
      s"CALL $cat.system.optimize('ev', 'user_id', 'v_e2')").head.getLong(0)
    // probe the morton-DOMINANT dimension: v_e2 carries ~19 significant
    // bits vs user_id's handful, so the interleave sorts primarily by
    // v_e2 and per-file v_e2 envelopes are narrow (user_id envelopes only
    // tighten once user cardinality approaches v_e2's — the 2-D payoff
    // needs comparable bit widths; at fixture scale v_e2 is the skipper)
    val vStats = spark.sql(
      s"CALL $cat.system.analyze_stats('ev', 'v_e2')").head.getLong(0)
    val vBloom = spark.sql(
      s"CALL $cat.system.analyze_bloom('ev', 'event_id')").head.getLong(0)
    val kept = graft.store.Versioned.prunedFiles(path, "v_e2", 0L, 1000L).size
    val total = graft.store.Versioned.files(path).size
    val deleted = spark.sql(
      s"CALL $cat.system.vacuum('ev', 1, 0)").head.getLong(0)
    spark.sql(s"SELECT COUNT(*) AS n, SUM(v_e2) AS sv_e2 FROM $cat.ev")
      .select(lit(vOpt).as("v_optimize"), lit(vStats).as("v_stats"),
        lit(vBloom).as("v_bloom"),
        lit(deleted == inputFiles).as("reclaimed_all"),
        lit(kept < total).as("skipped_some"),
        col("n"), col("sv_e2"))
  }

  /** SQL `TRUNCATE TABLE` (X256 — `TruncatableTable`): ONE metadata-only
    * commit drops every data line (no file read/rewritten at any size;
    * rows stay on disk for time travel until vacuum — the Delta
    * contract). The journey re-inserts one slice after the truncate, so
    * the readout proves truncate removed exactly everything and the
    * table stayed live; `n_versions` pins the commit arithmetic
    * (CREATE, 2 INSERTs, TRUNCATE, INSERT = 5). */
  def v2TruncateSql(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch("cattrunc", dir)
    rmTree(root)
    val cat = s"graft_tr_${dirDigest(dir)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v_e2"))
      .createOrReplaceTempView("graft_tr_src")
    spark.sql(s"DROP TABLE IF EXISTS $cat.ev")
    spark.sql(s"CREATE TABLE $cat.ev " +
      "(event_id BIGINT, user_id BIGINT, event_type STRING, v_e2 BIGINT)")
    spark.sql(s"INSERT INTO $cat.ev SELECT * FROM graft_tr_src WHERE user_id < 60")
    spark.sql(s"INSERT INTO $cat.ev SELECT * FROM graft_tr_src WHERE user_id >= 60")
    spark.sql(s"TRUNCATE TABLE $cat.ev")
    spark.sql(s"INSERT INTO $cat.ev SELECT * FROM graft_tr_src WHERE user_id < 25")
    val nVersions = graft.store.Versioned.currentVersion(
      new File(root, "ev").getAbsolutePath)
    spark.sql(
      s"""SELECT event_type, COUNT(*) AS n, SUM(v_e2) AS sv_e2
         |FROM $cat.ev GROUP BY event_type ORDER BY event_type""".stripMargin)
      .withColumn("n_versions", lit(nVersions.toLong))
  }

  /** ANSI `ALTER TABLE ... ADD CONSTRAINT ... CHECK` as pure SQL (X257
    * — `TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT` routing onto
    * the store's validated CHECK markers): the constraint validates
    * EXISTING rows at ADD time, then gates every subsequent commit —
    * the journey proves all three acts: a violating INSERT throws (the
    * store's commit gate, not best-effort), a conforming INSERT lands,
    * and adding a constraint the CURRENT data violates is itself
    * rejected. `gate_fired`/`retro_rejected` export the observed
    * behavior for the oracle's TRUE literals. */
  def catalogConstraintSql(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch("catck", dir)
    rmTree(root)
    val cat = s"graft_ck_${dirDigest(dir)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v_e2"))
      .createOrReplaceTempView("graft_ck_src")
    spark.sql(s"DROP TABLE IF EXISTS $cat.ev")
    spark.sql(s"CREATE TABLE $cat.ev " +
      "(event_id BIGINT, user_id BIGINT, event_type STRING, v_e2 BIGINT)")
    spark.sql(s"INSERT INTO $cat.ev SELECT * FROM graft_ck_src WHERE user_id < 50")
    spark.sql(s"ALTER TABLE $cat.ev ADD CONSTRAINT nonneg CHECK (v_e2 >= 0)")
    val path = new File(root, "ev").getAbsolutePath
    // a violating INSERT must FAIL at the store's commit gate (the
    // readout aggregate separately proves the row never landed)
    val gateFired =
      try { spark.sql(s"INSERT INTO $cat.ev VALUES (0, 0, 'bad', -1)"); false }
      catch { case _: Throwable => true }
    // conforming rows still land
    spark.sql(s"INSERT INTO $cat.ev SELECT * FROM graft_ck_src WHERE user_id >= 50")
    // retroactive violation: a constraint the current data breaks is
    // rejected at ADD time (Delta's validate-first contract) — detected
    // STRUCTURALLY: it threw AND no marker was recorded
    val retroRejected =
      (try { spark.sql(
          s"ALTER TABLE $cat.ev ADD CONSTRAINT tiny CHECK (v_e2 < 10)"); false }
        catch { case _: Throwable => true }) &&
      !graft.store.Versioned.constraintsOf(path).exists(_._1 == "tiny")
    spark.sql(
      s"""SELECT event_type, COUNT(*) AS n, SUM(v_e2) AS sv_e2
         |FROM $cat.ev GROUP BY event_type ORDER BY event_type""".stripMargin)
      .withColumn("gate_fired", lit(gateFired))
      .withColumn("retro_rejected", lit(retroRejected))
  }

  /** Column DEFAULT values as pure SQL (X259 —
    * `SUPPORT_COLUMN_DEFAULT_VALUE`): `CREATE TABLE` records the default
    * expressions in the schema-marker FIELD METADATA (the marker
    * StructType serves verbatim through `loadTable`, so the analyzer
    * fills omitted INSERT columns — no engine-side machinery). The
    * journey inserts one slice OMITTING event_type/v_e2 (both default)
    * and one full slice; the readout proves defaulted and explicit rows
    * coexist. */
  def catalogDefaultsSql(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch("catdflt", dir)
    rmTree(root)
    val cat = s"graft_df_${dirDigest(dir)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v_e2"))
      .createOrReplaceTempView("graft_df_src")
    spark.sql(s"DROP TABLE IF EXISTS $cat.ev")
    spark.sql(s"CREATE TABLE $cat.ev (event_id BIGINT, user_id BIGINT, " +
      "event_type STRING DEFAULT 'unrecorded', v_e2 BIGINT DEFAULT 0)")
    spark.sql(s"INSERT INTO $cat.ev (event_id, user_id) " +
      "SELECT event_id, user_id FROM graft_df_src WHERE user_id < 40")
    spark.sql(s"INSERT INTO $cat.ev " +
      "SELECT * FROM graft_df_src WHERE user_id >= 40")
    spark.sql(
      s"""SELECT event_type, COUNT(*) AS n, SUM(v_e2) AS sv_e2
         |FROM $cat.ev GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  /** `CALL system.clone` + `CALL system.restore` (X262) — Delta's
    * CLONE/RESTORE verbs completing the procedure surface: a zero-copy
    * shallow clone freezes the pre-delete state by NAME, a file-pruned
    * DELETE mutates the source, and a metadata-only RESTORE rolls the
    * source back — the clone must be unaffected throughout (snapshot
    * isolation across tables) and the restored source must equal it
    * again. Version arithmetic pinned: CREATE 1, two INSERTs, delete 4,
    * restore 5. */
  def catalogCloneRestore(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch("catclone", dir)
    rmTree(root)
    val cat = s"graft_cl_${dirDigest(dir)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v_e2"))
      .createOrReplaceTempView("graft_cl_src")
    spark.sql(s"DROP TABLE IF EXISTS $cat.ev2")
    spark.sql(s"DROP TABLE IF EXISTS $cat.ev")
    spark.sql(s"CREATE TABLE $cat.ev " +
      "(event_id BIGINT, user_id BIGINT, event_type STRING, v_e2 BIGINT)")
    spark.sql(s"INSERT INTO $cat.ev SELECT * FROM graft_cl_src WHERE user_id < 60")
    spark.sql(s"INSERT INTO $cat.ev SELECT * FROM graft_cl_src WHERE user_id >= 60")
    spark.sql(s"CALL $cat.system.clone('ev', 'ev2')")
    spark.sql(s"DELETE FROM $cat.ev WHERE user_id < 60")
    val vRestored = spark.sql(s"CALL $cat.system.restore('ev', 3)")
      .head.getLong(0)
    spark.sql(
      s"""SELECT 'ev' AS tbl, event_type, COUNT(*) AS n, SUM(v_e2) AS sv_e2
         |FROM $cat.ev GROUP BY event_type
         |UNION ALL
         |SELECT 'ev2', event_type, COUNT(*) AS n, SUM(v_e2) AS sv_e2
         |FROM $cat.ev2 GROUP BY event_type
         |ORDER BY tbl, event_type""".stripMargin)
      .withColumn("v_restored", lit(vRestored))
  }

  /** Merge-on-read DELETE via deletion vectors (X271): the same predicate
    * as [[v2DeleteSql]], but [[graft.store.Versioned.deleteWhereMor]]
    * records the matching POSITIONS in per-file sidecars and rewrites
    * NOTHING — the commit is markers only (`zero_rewrites` pins the file
    * set unchanged), read paths subtract in-stream (the V2 columnar/row/
    * count readers all serve the complement), and the pre-delete version
    * still serves every row (`n_before`). The CDC-heavy 100 TB shape:
    * delete cost O(deleted rows), not O(files touched); compaction folds
    * the vectors back in (VersionedSpec pins folding + the resurrection
    * race). Reference tie: delete-by-source is the reference's only
    * mutation (multiple_document_upload.py:178-200). Oracle: DuckDB's
    * complement filter over the raw fixture. */
  def v2DeleteMor(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch("mordel", dir)
    rmTree(root)
    val cat = s"graft_mor_${dirDigest(dir)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v_e2"))
      .createOrReplaceTempView("graft_mor_src")
    spark.sql(s"DROP TABLE IF EXISTS $cat.ev")
    spark.sql(s"CREATE TABLE $cat.ev " +
      "(event_id BIGINT, user_id BIGINT, event_type STRING, v_e2 BIGINT)")
    spark.sql(s"INSERT INTO $cat.ev SELECT * FROM graft_mor_src WHERE user_id < 60")
    spark.sql(s"INSERT INTO $cat.ev SELECT * FROM graft_mor_src WHERE user_id >= 60")
    val t = s"$root/ev"
    val filesBefore = Versioned.files(t).toSet
    // the SQL route: CALL, not DELETE FROM (which is copy-on-write)
    spark.sql(s"CALL $cat.system.delete_mor('ev', " +
      "'user_id < 30 AND (event_type = ''error'' OR v_e2 < 5000)')")
    val untouched = Versioned.files(t).toSet == filesBefore
    spark.sql(
      s"""SELECT event_type, COUNT(*) AS n, SUM(v_e2) AS sv_e2,
         |  (SELECT COUNT(*) FROM $cat.ev VERSION AS OF 3) AS n_before
         |FROM $cat.ev GROUP BY event_type ORDER BY event_type""".stripMargin)
      .withColumn("zero_rewrites", lit(untouched))
  }

  /** TIMESTAMP/DATE through the catalog's SQL surface (X272): a fresh
    * SQL user's first `CREATE TABLE ... (ts TIMESTAMP, d DATE)` now
    * works end to end — write, read, row-level DELETE with a typed
    * timestamp literal — with no epoch-micros convention to know about.
    * The connector maps TIMESTAMP to parquet INT64 timestamp-micros
    * (UTC-adjusted) and DATE to INT32 date, Spark's own mapping, and
    * both ride the vectorized decode (VersionedV2Spec round-trips
    * pre-epoch and DST-boundary values). Exported as epoch micros/days
    * so the DuckDB oracle compares integers, not formatter output. */
  def catalogTimestampSql(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch("catts", dir)
    rmTree(root)
    val cat = s"graft_ts_${dirDigest(dir)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .createOrReplaceTempView("graft_ts_src")
    spark.sql(s"DROP TABLE IF EXISTS $cat.ev")
    spark.sql(s"CREATE TABLE $cat.ev " +
      "(event_id BIGINT, ts TIMESTAMP, d DATE, user_id BIGINT, event_type STRING)")
    spark.sql(s"INSERT INTO $cat.ev SELECT event_id, ts, CAST(ts AS DATE), " +
      "user_id, event_type FROM graft_ts_src")
    // typed row-level DELETE: the predicate translates through the V2
    // Predicate bridge with a real TIMESTAMP literal
    val cutoff = spark.sql("SELECT CAST(MAX(ts) AS STRING) FROM graft_ts_src")
      .head.getString(0)
    spark.sql(s"DELETE FROM $cat.ev WHERE ts >= TIMESTAMP'$cutoff' " +
      "AND event_type = 'view'")
    spark.sql(
      s"""SELECT event_type, COUNT(*) AS n,
         |  CAST(unix_micros(MIN(ts)) AS BIGINT) AS min_ts_us,
         |  CAST(unix_micros(MAX(ts)) AS BIGINT) AS max_ts_us,
         |  CAST(MIN(datediff(d, DATE'1970-01-01')) AS BIGINT) AS min_d_days,
         |  CAST(SUM(datediff(d, DATE'1970-01-01')) AS BIGINT) AS sum_d_days
         |FROM $cat.ev GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  /** Snapshot-versioned serving index (X273 — [[graft.store
    * .VersionedIndex]]): the IVF index lives under the SAME manifest
    * protocol as the store, so "search at index-v1" is exact time travel
    * — this query rebuilds the index after the store grows and pins BOTH
    * worlds against brute force. Index v1 is built from store v1
    * (vec_id % 3 != 2) and pinned to it; the nightly rebuild publishes
    * index v2 from store v2 (everything) as ONE atomic replace. Searches
    * run with nprobe = nlist (exhaustive probing IS brute force, so the
    * oracle is exact); each row carries the index version AND its pinned
    * store version — a torn rebuild, a stale vector surviving the swap,
    * or a broken pin each breaks a row. Oracle: DuckDB brute-force top-10
    * over the matching fixture subsets. */
  def indexTimeTravel(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch("idxtt", dir)
    rmTree(root)
    val store = s"$root/store"
    val idxT = s"$root/index"
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    Versioned.append(emb.filter(col("vec_id") % 3 =!= 2), store) // store v1
    val i1 = graft.scale.Ivf.build(spark,
      Versioned.read(spark, store, Some(1)), nlist = 8, maxIter = 1)
    graft.store.VersionedIndex.commit(spark, idxT, i1, storeVersion = 1)
    Versioned.append(emb.filter(col("vec_id") % 3 === 2), store) // store v2
    val i2 = graft.scale.Ivf.build(spark,
      Versioned.read(spark, store, Some(2)), nlist = 8, maxIter = 1)
    graft.store.VersionedIndex.commit(spark, idxT, i2, storeVersion = 2)
    val q = emb.filter(col("vec_id") === 0).select(col("embedding"))
      .head.getSeq[Float](0).toArray
    def rows(v: Int) = {
      val s = graft.store.VersionedIndex.open(spark, idxT, Some(v))
      // the PRUNED serving path (file-level probe skipping via the
      // manifest's #stats:cell markers); at nprobe = nlist every file is
      // probed, so this IS brute force and the oracle stays exact
      graft.store.VersionedIndex.search(spark, s, q, k = 10, nprobe = 8)
        .select(lit(v.toLong).as("idx_version"),
          lit(s.storeVersion.toLong).as("store_version"), col("vec_id"),
          round(col("dist") * 10000).cast("long").as("dist_e4"))
    }
    rows(1).unionByName(rows(2))
      .orderBy(col("idx_version"), col("dist_e4"), col("vec_id"))
  }

  /** Snapshot-versioned NSW graph index (X291 — [[graft.store
    * .VersionedIndex.commitGraph]], VERDICT r13 #6: the graph half of
    * X273's versioned index, one publish protocol for both): the sharded
    * NSW adjacency lives under the store's manifest protocol, with
    * per-file `#stats:shard` markers, so a nightly rebuild is ONE atomic
    * replace and "search at index v1" is exact time travel pinned to
    * store v1. Index v1 is built from store v1 (vec_id % 3 != 2), the
    * rebuild publishes v2 from the grown store; searches run with an
    * unbounded beam (exhaustive beam over a connected NSW graph IS
    * brute force, so the oracle is exact), each row carrying the index
    * version AND its pinned store version. A torn rebuild, a stale
    * graph row surviving the swap, or a broken pin each breaks a row.
    * Oracle: DuckDB brute-force top-10 over the matching fixture
    * subsets — the same SQL as `index_time_travel`. */
  def nswIndexTimeTravel(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch("nswtt", dir)
    rmTree(root)
    val store = s"$root/store"
    val idxT = s"$root/index"
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    Versioned.append(emb.filter(col("vec_id") % 3 =!= 2), store) // store v1
    val g1 = graft.scale.Nsw.build(
      Versioned.read(spark, store, Some(1)), maxLevel = 0, numShards = 4)
    graft.store.VersionedIndex.commitGraph(spark, idxT, g1, storeVersion = 1)
    Versioned.append(emb.filter(col("vec_id") % 3 === 2), store) // store v2
    val g2 = graft.scale.Nsw.build(
      Versioned.read(spark, store, Some(2)), maxLevel = 0, numShards = 4)
    graft.store.VersionedIndex.commitGraph(spark, idxT, g2, storeVersion = 2)
    val q = emb.filter(col("vec_id") === 0).select(col("embedding"))
      .head.getSeq[Float](0).toArray
    def rows(v: Int) = {
      val s = graft.store.VersionedIndex.openGraph(spark, idxT, Some(v))
      graft.scale.Nsw.search(s.graph, q, k = 10, ef = Int.MaxValue)
        .select(lit(v.toLong).as("idx_version"),
          lit(s.storeVersion.toLong).as("store_version"), col("vec_id"),
          round(col("dist") * 10000).cast("long").as("dist_e4"))
    }
    rows(1).unionByName(rows(2))
      .orderBy(col("idx_version"), col("dist_e4"), col("vec_id"))
  }

  /** Persistent SQL views through the catalog (X278 — `ViewCatalog`):
    * `CREATE VIEW` / `CREATE OR REPLACE VIEW` / view-over-view
    * composition, with each definition one put-if-absent metadata file
    * under the store root (visible to every session sharing the
    * catalog). The journey pins replace semantics (the second definition
    * narrows the filter — stale-definition reads would overcount) and
    * composition (the rollup view reads THROUGH the replaced base view).
    * Oracle: DuckDB recomputes the final definition chain from the raw
    * fixture. */
  def catalogViewSql(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch("catview", dir)
    rmTree(root)
    val cat = s"graft_vw_${dirDigest(dir)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v_e2"))
      .createOrReplaceTempView("graft_vw_src")
    spark.sql(s"DROP TABLE IF EXISTS $cat.ev")
    spark.sql(s"CREATE TABLE $cat.ev " +
      "(event_id BIGINT, user_id BIGINT, event_type STRING, v_e2 BIGINT)")
    spark.sql(s"INSERT INTO $cat.ev SELECT * FROM graft_vw_src")
    spark.sql(s"CREATE VIEW $cat.typed AS " +
      s"SELECT event_type, v_e2 FROM $cat.ev WHERE user_id < 50")
    // REPLACE narrows the filter — a stale definition would overcount
    spark.sql(s"CREATE OR REPLACE VIEW $cat.typed AS " +
      s"SELECT event_type, v_e2 FROM $cat.ev WHERE user_id < 40")
    // view-over-view: the rollup composes through the replaced base
    spark.sql(s"CREATE VIEW $cat.rollup2 AS " +
      s"SELECT event_type, COUNT(*) AS n, SUM(v_e2) AS sv_e2 " +
      s"FROM $cat.typed GROUP BY event_type")
    spark.sql(s"SELECT * FROM $cat.rollup2 ORDER BY event_type")
  }

  /** `MERGE INTO` with a `WHEN MATCHED ... THEN DELETE` clause (X280) —
    * the full three-action CDC-apply statement (delete / update /
    * insert in ONE atomic rewrite commit) through the connector's
    * group-based row-level machinery, completing [[v2MergeSql]]'s
    * update+insert form. Matched error rows DELETE, other matched rows
    * take a +100 adjustment, unmatched source rows INSERT as a
    * synthetic 'merged' class. Oracle: DuckDB replays the three actions
    * as set algebra over the raw fixture. */
  def v2MergeDeleteSql(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch("catmd", dir)
    rmTree(root)
    val cat = s"graft_md_${dirDigest(dir)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v_e2"))
      .createOrReplaceTempView("graft_md_src")
    spark.sql(s"DROP TABLE IF EXISTS $cat.ev")
    spark.sql(s"CREATE TABLE $cat.ev " +
      "(event_id BIGINT, user_id BIGINT, event_type STRING, v_e2 BIGINT)")
    spark.sql(s"INSERT INTO $cat.ev SELECT * FROM graft_md_src WHERE user_id < 60")
    spark.sql(s"INSERT INTO $cat.ev SELECT * FROM graft_md_src WHERE user_id >= 60")
    spark.sql(
      s"""MERGE INTO $cat.ev t
         |USING (SELECT event_id, user_id, event_type, v_e2
         |       FROM graft_md_src WHERE user_id < 30
         |       UNION ALL
         |       SELECT event_id + 1000000, user_id, 'merged', v_e2
         |       FROM graft_md_src WHERE user_id >= 90) s
         |ON t.event_id = s.event_id
         |WHEN MATCHED AND s.event_type = 'error' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET v_e2 = t.v_e2 + 100
         |WHEN NOT MATCHED THEN INSERT (event_id, user_id, event_type, v_e2)
         |  VALUES (s.event_id, s.user_id, s.event_type, s.v_e2)""".stripMargin)
    spark.sql(
      s"""SELECT event_type, COUNT(*) AS n, SUM(v_e2) AS sv_e2
         |FROM $cat.ev GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  /** DECIMAL money columns through the catalog (X279): `CREATE TABLE ...
    * (amount DECIMAL(12,2))`, INSERT, typed-literal row-level DELETE,
    * exact aggregation — the type every billing table needs, previously
    * outside the connector's surface. Compact mapping only (p ≤ 18 rides
    * INT64, and the readers also decode external INT32 decimals); the
    * vectorized path serves precision-keyed vectors. Exported as exact
    * integer cents. */
  def catalogDecimalSql(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch("catdec", dir)
    rmTree(root)
    val cat = s"graft_dec_${dirDigest(dir)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        (expr("CAST(round(value * 100) AS BIGINT)").cast("decimal(12,2)")
          / 100).cast("decimal(12,2)").as("amount"))
      .createOrReplaceTempView("graft_dec_src")
    spark.sql(s"DROP TABLE IF EXISTS $cat.ev")
    spark.sql(s"CREATE TABLE $cat.ev " +
      "(event_id BIGINT, user_id BIGINT, event_type STRING, amount DECIMAL(12,2))")
    spark.sql(s"INSERT INTO $cat.ev SELECT * FROM graft_dec_src")
    // typed DECIMAL literal through the row-level predicate bridge
    spark.sql(s"DELETE FROM $cat.ev WHERE amount < 2.50 AND event_type = 'view'")
    spark.sql(
      s"""SELECT event_type, COUNT(*) AS n,
         |  CAST(SUM(amount) * 100 AS BIGINT) AS cents
         |FROM $cat.ev GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  /** Merge-on-read UPDATE (X280 — [[graft.store.Versioned
    * .updateWhereMor]]): the same adjustment as [[v2UpdateSql]], but the
    * matched rows' positions land in deletion vectors and their
    * replacements land as new files — ONE atomic commit, ZERO existing
    * files rewritten (`zero_rewrites` pins the original file set still
    * present), and the pre-update snapshot stays intact (`n_before`).
    * The hot-row CDC shape: cost O(updated rows), not O(file bytes
    * touched). Oracle: DuckDB's CASE-adjusted rollup. */
  def v2UpdateMor(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch("morupd", dir)
    rmTree(root)
    val t = s"$root/ev"
    val ev = Tables.events(spark, dir).select(col("event_id"), col("user_id"),
      col("event_type"), expr("CAST(round(value * 100) AS BIGINT)").as("v_e2"))
    ev.filter(col("user_id") < 60).coalesce(1)
      .write.format("graft-versioned").option("path", t).mode("append").save()
    ev.filter(col("user_id") >= 60).coalesce(1)
      .write.format("graft-versioned").option("path", t).mode("append").save()
    val filesBefore = Versioned.files(t).toSet
    Versioned.updateWhereMor(spark, t,
      col("event_type") === "error" && col("user_id") < 30,
      Map("v_e2" -> (col("v_e2") + 100)))
    val untouched = filesBefore.subsetOf(Versioned.files(t).toSet)
    val nBefore = spark.read.format("graft-versioned").option("path", t)
      .option("versionAsOf", "2").load().count()
    spark.read.format("graft-versioned").option("path", t).load()
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("v_e2").as("sv_e2"))
      .withColumn("zero_rewrites", lit(untouched))
      .withColumn("n_before", lit(nBefore))
      .orderBy("event_type")
  }

  /** `CALL system.fsck` (X285): the store integrity audit over a table
    * with a PLANTED orphan (a stray parquet dropped into a batch dir —
    * the debris a crashed writer leaves) and live deletion vectors. The
    * report must read exactly: 2 data files across 4 retained versions,
    * nothing missing, ONE orphan, zero dangling markers — and the table
    * content itself stays the MoR-delete complement (the audit is
    * read-only). A wrong count in any column means the walker missed a
    * corruption class. */
  def storeFsck(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch("fsck", dir)
    rmTree(root)
    val cat = s"graft_fsck_${dirDigest(dir)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v_e2"))
      .coalesce(1)
      .createOrReplaceTempView("graft_fsck_src")
    spark.sql(s"DROP TABLE IF EXISTS $cat.ev")
    spark.sql(s"CREATE TABLE $cat.ev " +
      "(event_id BIGINT, user_id BIGINT, event_type STRING, v_e2 BIGINT)")
    spark.sql(s"INSERT INTO $cat.ev SELECT * FROM graft_fsck_src WHERE user_id < 60")
    spark.sql(s"INSERT INTO $cat.ev SELECT * FROM graft_fsck_src WHERE user_id >= 60")
    spark.sql(s"CALL $cat.system.delete_mor('ev', 'event_type = ''error''')")
    // plant the orphan: a stray data-shaped file no manifest references
    val t = s"$root/ev"
    val aData = new File(Versioned.files(t).head)
    val stray = new File(t, "stray-batch/stray.parquet")
    stray.getParentFile.mkdirs()
    java.nio.file.Files.copy(aData.toPath, stray.toPath)
    val report = spark.sql(s"CALL $cat.system.fsck('ev')")
    spark.sql(
      s"""SELECT event_type, COUNT(*) AS n, SUM(v_e2) AS sv_e2
         |FROM $cat.ev GROUP BY event_type""".stripMargin)
      .crossJoin(broadcast(report))
      .orderBy(col("event_type")) // ordered AFTER the join: a cross join
                                  // does not preserve the left's sort
  }

  /** Cohort LTV curves (X286 — the cumulative-revenue companion to
    * cohort_retention): users cohort by the week of their FIRST event;
    * each cohort's purchase revenue accrues by week-age into the
    * cumulative "lifetime value to date" curve finance actually plots
    * (per-user e2 cents, exact). One pass finds first-touch (min over a
    * user-keyed groupBy), one pass buckets purchases by (cohort, age),
    * and the cumsum window partitions BY COHORT (grows with data; ages
    * per cohort are calendar-bounded). Oracle replays the chain in SQL. */
  def cohortLtv(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val first = ev.groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("first_day"))
      .select(col("user_id"),
        expr("date_sub(first_day, CAST((datediff(first_day, DATE'1970-01-05')) % 7 AS INT))")
          .as("cohort_week"))
    val sized = first.groupBy(col("cohort_week")).agg(count(lit(1)).as("n_users"))
    val rev = ev.filter(col("event_type") === "purchase")
      .join(first, "user_id")
      .select(col("cohort_week"),
        expr("CAST(datediff(to_date(ts), cohort_week) div 7 AS BIGINT)")
          .as("age_week"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .groupBy(col("cohort_week"), col("age_week"))
      .agg(sum(col("cents")).as("week_cents"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cohort_week")).orderBy(col("age_week"))
    rev.withColumn("cum_cents", sum(col("week_cents")).over(w))
      .join(broadcast(sized), "cohort_week")
      .select(col("cohort_week").cast("string").as("cohort_week"),
        col("age_week"), col("n_users"), col("week_cents"), col("cum_cents"),
        expr("cum_cents div n_users").as("ltv_per_user_e2"))
      .orderBy(col("cohort_week"), col("age_week"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "store_fsck" -> (storeFsck _),
    "cohort_ltv" -> (cohortLtv _),
    "v2_update_mor" -> (v2UpdateMor _),
    "catalog_decimal_sql" -> (catalogDecimalSql _),
    "v2_merge_delete_sql" -> (v2MergeDeleteSql _),
    "catalog_view_sql" -> (catalogViewSql _),
    "index_time_travel" -> (indexTimeTravel _),
    "nsw_index_time_travel" -> (nswIndexTimeTravel _),
    "catalog_timestamp_sql" -> (catalogTimestampSql _),
    "v2_delete_mor" -> (v2DeleteMor _),
    "catalog_clone_restore" -> (catalogCloneRestore _),
    "catalog_defaults_sql" -> (catalogDefaultsSql _),
    "catalog_constraint_sql" -> (catalogConstraintSql _),
    "v2_truncate_sql" -> (v2TruncateSql _),
    "catalog_knn_sql" -> (catalogKnnSql _),
    "catalog_ctas" -> (catalogCtas _),
    "catalog_maintenance" -> (catalogMaintenance _),
    "catalog_sql" -> (catalogSql _),
    "v2_delete_sql" -> (v2DeleteSql _),
    "v2_update_sql" -> (v2UpdateSql _),
    "catalog_evolve_sql" -> (catalogEvolveSql _),
    "table_history" -> (tableHistory _),
    "v2_merge_sql" -> (v2MergeSql _),
    "v2_dpp" -> (v2Dpp _),
    "v2_agg_pushdown" -> (v2AggPushdown _),
    "v2_stream_source" -> (v2StreamSource _),
    "v2_medallion" -> (v2Medallion _),
    "dpp_join" -> (dppJoin _),
    "v2_source_read" -> (v2SourceRead _),
    "v2_source_write" -> (v2SourceWrite _),
    "v2_stream_sink" -> (v2StreamSink _),
    "time_travel_asof" -> (timeTravelAsof _),
    "retention_delete" -> (retentionDeleteQuery _),
    "rename_zero_rewrite" -> (renameZeroRewrite _),
    "bloom_skip_scan" -> (bloomSkipScan _),
    "stats_skip_auto" -> (statsSkipAuto _),
    "stats_pruned_scan" -> (statsPrunedScan _),
    "observed_write" -> (observedWrite _),
    "csv_malformed_audit" -> (csvMalformedAudit _),
    "shallow_clone_restore" -> (shallowCloneRestore _),
    "ivm_join_view" -> (ivmJoinView _),
    "table_diff" -> (tableDiff _),
    "bucketed_join" -> (bucketedJoin _),
    "zorder_scan" -> (zorderScan _),
    "time_travel" -> (timeTravel _),
    "versioned_merge" -> (versionedMerge _),
    "incremental_reembed" -> (incrementalReembed _),
    "schema_evolution" -> (schemaEvolution _),
    "constraint_gate" -> (constraintGate _),
    "retractable_agg" -> (retractableAgg _),
    "nightly_crawl" -> (nightlyCrawl _),
    "cdc_feed" -> (cdcFeed _),
    "manifest_checkpoint" -> (manifestCheckpoint _),
    "vacuum_audit" -> (vacuumAuditQuery _),
    "ivm_distinct_view" -> (ivmDistinctView _),
    "schema_drop_widen" -> (schemaDropWiden _),
    "txn_medallion" -> (txnMedallion _)
  )

  val oracles: Map[String, String] = Map(
    // widen/drop probes pinned by construction (zero-rewrite file-set
    // equality, tombstone rejection, physical convergence); aggregates
    // replay the band arithmetic: band 2 carries the +3e9 beyond-int
    // values the widened column must hold
    "schema_drop_widen" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN doc_id % 4 = 2 THEN n_chars + 3000000000
        |           ELSE n_chars END) AS BIGINT) AS sum_nc,
        |  CAST(1 AS BIGINT) AS widen_zero_rewrite,
        |  CAST(1 AS BIGINT) AS drop_zero_rewrite,
        |  CAST(1 AS BIGINT) AS pre_widen_is_int,
        |  CAST(1 AS BIGINT) AS reject_readd,
        |  CAST(1 AS BIGINT) AS compact_converged
        |FROM documents""".stripMargin,
    // serial history = batches A (event_id%3=0) and C (%3=2); batch B
    // aborted; the crash/abort invisibility probes pin all-or-nothing
    "txn_medallion" ->
      """SELECT CAST(user_id % 4 AS BIGINT) AS seg,
        |  CAST(COUNT(*) AS BIGINT) AS n_purch,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS rev_e2,
        |  CAST(1 AS BIGINT) AS pending_invisible,
        |  CAST(1 AS BIGINT) AS aborted_invisible,
        |  CAST(1 AS BIGINT) AS crash_recovered
        |FROM events
        |WHERE event_type = 'purchase' AND event_id % 3 <> 1
        |GROUP BY 1 ORDER BY seg""".stripMargin,
    // journey pinned by construction: 3 retired single-file appends
    // reclaimable, 1 compacted file live, sweep == audit, content = the
    // fixture slice
    // the final view must equal the full recompute over the surviving
    // fact rows (later batch included, the %7 refunds removed)
    "ivm_distinct_view" ->
      """SELECT CAST(user_id % 5 AS BIGINT) AS seg,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events
        |WHERE event_type = 'purchase' AND event_id % 7 <> 0
        |GROUP BY 1 ORDER BY seg""".stripMargin,
    "vacuum_audit" ->
      """SELECT CAST(3 AS BIGINT) AS n_reclaimable, CAST(1 AS BIGINT) AS n_live,
        |  CAST(1 AS BIGINT) AS audit_matches_sweep,
        |  CAST(1 AS BIGINT) AS n_files_after,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars_sum
        |FROM documents WHERE doc_id < 300""".stripMargin,
    // final state = v1 slice (< 10) plus bands [10, 100); the
    // pre-checkpoint read at v10 covers < 55; the format probes and
    // version count are pinned by construction (19 commits, checkpoint
    // cadence 16)
    "manifest_checkpoint" ->
      """SELECT
        |  CAST(COUNT(CASE WHEN user_id < 100 THEN 1 END) AS BIGINT) AS n_final,
        |  CAST(SUM(CASE WHEN user_id < 100
        |      THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT) AS rev_final_e2,
        |  CAST(COUNT(CASE WHEN user_id < 55 THEN 1 END) AS BIGINT) AS n_pre,
        |  CAST(SUM(CASE WHEN user_id < 55
        |      THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT) AS rev_pre_e2,
        |  CAST(1 AS BIGINT) AS pre_is_delta,
        |  CAST(1 AS BIGINT) AS ck_is_full,
        |  CAST(19 AS BIGINT) AS n_versions
        |FROM events""".stripMargin,
    // read-only audit literals pinned by construction: 4 versions, 2
    // files, one planted orphan; the rollup is the MoR-delete complement
    "store_fsck" ->
      """WITH t AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS v_e2 FROM events)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(v_e2) AS BIGINT) AS sv_e2,
        |  CAST(4 AS BIGINT) AS checked_versions,
        |  CAST(2 AS BIGINT) AS checked_files,
        |  CAST(0 AS BIGINT) AS missing_files,
        |  CAST(0 AS BIGINT) AS missing_sidecars,
        |  CAST(1 AS BIGINT) AS orphan_files,
        |  CAST(0 AS BIGINT) AS dangling_markers
        |FROM t WHERE event_type <> 'error'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // first-touch cohorts, week ages, cohort-partitioned cumsum
    "cohort_ltv" ->
      """WITH f AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
        |           FROM events GROUP BY 1),
        |c AS (SELECT user_id, first_day - CAST(
        |        date_diff('day', DATE '1970-01-05', first_day) % 7 AS INTEGER)
        |        AS cohort_week FROM f),
        |sized AS (SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS n_users
        |          FROM c GROUP BY 1),
        |r AS (SELECT c.cohort_week,
        |        CAST(date_diff('day', c.cohort_week, CAST(e.ts AS DATE)) // 7
        |          AS BIGINT) AS age_week,
        |        CAST(round(e.value * 100) AS BIGINT) AS cents
        |      FROM events e JOIN c ON c.user_id = e.user_id
        |      WHERE e.event_type = 'purchase'),
        |wk AS (SELECT cohort_week, age_week, CAST(SUM(cents) AS BIGINT)
        |         AS week_cents FROM r GROUP BY 1, 2),
        |cum AS (SELECT cohort_week, age_week, week_cents,
        |          CAST(SUM(week_cents) OVER (PARTITION BY cohort_week
        |            ORDER BY age_week) AS BIGINT) AS cum_cents FROM wk)
        |SELECT CAST(cum.cohort_week AS VARCHAR) AS cohort_week, age_week,
        |  s.n_users, week_cents, cum_cents,
        |  CAST(cum_cents // s.n_users AS BIGINT) AS ltv_per_user_e2
        |FROM cum JOIN sized s ON s.cohort_week = cum.cohort_week
        |ORDER BY cohort_week, age_week""".stripMargin,
    // the merge-on-read update serves the CASE-adjusted rollup with the
    // original files intact and the pre-update snapshot whole
    "v2_update_mor" ->
      """WITH t AS (SELECT event_type, user_id,
        |    CAST(round(value * 100) AS BIGINT) AS v_e2 FROM events)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN event_type = 'error' AND user_id < 30
        |    THEN v_e2 + 100 ELSE v_e2 END) AS BIGINT) AS sv_e2,
        |  TRUE AS zero_rewrites,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM events) AS n_before
        |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin,
    // exact cents arithmetic: the typed-decimal delete's complement
    "catalog_decimal_sql" ->
      """WITH t AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(cents) AS BIGINT) AS cents
        |FROM t WHERE NOT (cents < 250 AND event_type = 'view')
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // three-action MERGE as set algebra: matched errors drop, other
    // matched rows (+100), the unmatched source slice inserts as 'merged'
    "v2_merge_delete_sql" ->
      """WITH t AS (SELECT event_id, user_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS v_e2 FROM events),
        |after AS (
        |  SELECT event_type,
        |    CASE WHEN user_id < 30 THEN v_e2 + 100 ELSE v_e2 END AS v_e2
        |  FROM t WHERE NOT (user_id < 30 AND event_type = 'error')
        |  UNION ALL
        |  SELECT 'merged', v_e2 FROM t WHERE user_id >= 90)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(v_e2) AS BIGINT) AS sv_e2
        |FROM after GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the REPLACED view definition (user_id < 40) through the rollup
    "catalog_view_sql" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sv_e2
        |FROM events WHERE user_id < 40
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // brute-force top-10 over each store snapshot's subset: index v1 was
    // built from (and pinned to) store v1, index v2 from store v2
    "index_time_travel" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |d AS (SELECT e.vec_id,
        |        list_sum(list_transform(list_zip(e.embedding, q.qe),
        |          p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))) AS d,
        |        e.vec_id % 3 <> 2 AS in_v1
        |      FROM embeddings e CROSS JOIN q),
        |v1 AS (SELECT CAST(1 AS BIGINT) AS idx_version,
        |         CAST(1 AS BIGINT) AS store_version, vec_id,
        |         CAST(round(d * 10000) AS BIGINT) AS dist_e4
        |       FROM d WHERE in_v1 ORDER BY d, vec_id LIMIT 10),
        |v2 AS (SELECT CAST(2 AS BIGINT) AS idx_version,
        |         CAST(2 AS BIGINT) AS store_version, vec_id,
        |         CAST(round(d * 10000) AS BIGINT) AS dist_e4
        |       FROM d ORDER BY d, vec_id LIMIT 10)
        |SELECT * FROM (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
        |ORDER BY idx_version, dist_e4, vec_id""".stripMargin,
    // IDENTICAL brute force: an exhaustive beam over a connected NSW
    // graph visits every node, so the graph journey must reproduce the
    // same top-10 per pinned store subset as the IVF one
    "nsw_index_time_travel" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |d AS (SELECT e.vec_id,
        |        list_sum(list_transform(list_zip(e.embedding, q.qe),
        |          p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))) AS d,
        |        e.vec_id % 3 <> 2 AS in_v1
        |      FROM embeddings e CROSS JOIN q),
        |v1 AS (SELECT CAST(1 AS BIGINT) AS idx_version,
        |         CAST(1 AS BIGINT) AS store_version, vec_id,
        |         CAST(round(d * 10000) AS BIGINT) AS dist_e4
        |       FROM d WHERE in_v1 ORDER BY d, vec_id LIMIT 10),
        |v2 AS (SELECT CAST(2 AS BIGINT) AS idx_version,
        |         CAST(2 AS BIGINT) AS store_version, vec_id,
        |         CAST(round(d * 10000) AS BIGINT) AS dist_e4
        |       FROM d ORDER BY d, vec_id LIMIT 10)
        |SELECT * FROM (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
        |ORDER BY idx_version, dist_e4, vec_id""".stripMargin,
    // timestamp/date round-trip: the complement of the typed-literal
    // delete, exported as epoch micros/days integers
    "catalog_timestamp_sql" ->
      """WITH t AS (SELECT event_type, ts, CAST(ts AS DATE) AS d FROM events),
        |c AS (SELECT MAX(ts) AS cutoff FROM events)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(epoch_us(MIN(ts)) AS BIGINT) AS min_ts_us,
        |  CAST(epoch_us(MAX(ts)) AS BIGINT) AS max_ts_us,
        |  CAST(MIN(date_diff('day', DATE '1970-01-01', d)) AS BIGINT) AS min_d_days,
        |  CAST(SUM(date_diff('day', DATE '1970-01-01', d)) AS BIGINT) AS sum_d_days
        |FROM t, c
        |WHERE NOT (ts >= cutoff AND event_type = 'view')
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the merge-on-read delete serves exactly the complement filter; the
    // TRUE literal pins zero file rewrites, n_before the intact snapshot
    "v2_delete_mor" ->
      """WITH t AS (SELECT event_type, user_id,
        |    CAST(round(value * 100) AS BIGINT) AS v_e2 FROM events)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(v_e2) AS BIGINT) AS sv_e2,
        |  TRUE AS zero_rewrites,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM events) AS n_before
        |FROM t
        |WHERE NOT (user_id < 30 AND (event_type = 'error' OR v_e2 < 5000))
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // both tables read the FULL fixture aggregate: the clone froze the
    // pre-delete state and the restore rolled the source back to it
    "catalog_clone_restore" ->
      """WITH agg AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sv_e2
        |  FROM events GROUP BY event_type)
        |SELECT t.tbl, agg.event_type, agg.n, agg.sv_e2,
        |  CAST(5 AS BIGINT) AS v_restored
        |FROM (SELECT 'ev' AS tbl UNION ALL SELECT 'ev2') t
        |CROSS JOIN agg
        |ORDER BY t.tbl, agg.event_type""".stripMargin,
    // slice 1's omitted columns read as their defaults; slice 2 explicit
    "catalog_defaults_sql" ->
      """WITH t AS (
        |  SELECT 'unrecorded' AS event_type, CAST(0 AS BIGINT) AS v_e2
        |  FROM events WHERE user_id < 40
        |  UNION ALL
        |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v_e2
        |  FROM events WHERE user_id >= 40)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(v_e2) AS BIGINT) AS sv_e2
        |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin,
    // both inserts' rows survive; the violating row never landed and the
    // retroactive constraint never recorded — TRUE literals pin both
    "catalog_constraint_sql" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sv_e2,
        |  TRUE AS gate_fired, TRUE AS retro_rejected
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // post-truncate content == the re-inserted slice alone; 5 commits
    "v2_truncate_sql" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sv_e2,
        |  CAST(5 AS BIGINT) AS n_versions
        |FROM events WHERE user_id < 25
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // identical to knn_sql's oracle: the catalog route must reproduce the
    // library route digit-for-digit
    "catalog_knn_sql" ->
      """WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
        |d AS (SELECT e.vec_id,
        |        list_sum(list_transform(list_zip(e.embedding, q.q_emb),
        |          p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))) AS d
        |      FROM embeddings e CROSS JOIN q)
        |SELECT vec_id, CAST(round(d * 10000) AS BIGINT) AS dist_e4
        |FROM d ORDER BY d, vec_id LIMIT 13""".stripMargin,
    // n_versions = 1: CTAS published schema AND data as ONE commit
    "catalog_ctas" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sv_e2,
        |  CAST(1 AS BIGINT) AS n_versions
        |FROM events WHERE user_id % 3 = 1
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // version arithmetic: CREATE=1, INSERTs=2..4, optimize=5, stats=6,
    // bloom=7; vacuum reclaims exactly the pre-optimize inputs; the
    // readout aggregate proves the data survived every maintenance verb
    "catalog_maintenance" ->
      """SELECT CAST(5 AS BIGINT) AS v_optimize, CAST(6 AS BIGINT) AS v_stats,
        |  CAST(7 AS BIGINT) AS v_bloom, TRUE AS reclaimed_all,
        |  TRUE AS skipped_some, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sv_e2
        |FROM events""".stripMargin,
    // the catalog journey == the raw table; VERSION AS OF 2 == slice 1
    "catalog_sql" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sv_e2,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM events WHERE user_id < 60)
        |    AS n_v2
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // file churn as literals (one coalesced file per append, one
    // rewritten by the delete); row counts from the raw slices
    "table_history" ->
      """SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS version, CAST(1 AS BIGINT) AS n_files,
        |    CAST(1 AS BIGINT) AS n_added, CAST(0 AS BIGINT) AS n_removed,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM events WHERE user_id < 50)
        |      AS n_rows
        |  UNION ALL
        |  SELECT 2, 2, 1, 0,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM events WHERE user_id < 100)
        |  UNION ALL
        |  SELECT 3, 3, 1, 0, (SELECT CAST(COUNT(*) AS BIGINT) FROM events)
        |  UNION ALL
        |  SELECT 4, 3, 1, 1,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM events WHERE user_id >= 10))
        |ORDER BY version""".stripMargin,
    // both eras from the raw fixture: era 1 rows carry NULL band (-1 in
    // the sum), era 2 rows carry v_e2 div 10000
    "catalog_evolve_sql" ->
      """WITH src AS (
        |  SELECT event_id, user_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS v_e2,
        |    CASE WHEN user_id >= 60
        |      THEN CAST(round(value * 100) AS BIGINT) // 10000 END AS band
        |  FROM events)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(COUNT(band) AS BIGINT) AS n_banded,
        |  CAST(SUM(v_e2) AS BIGINT) AS sv_e2,
        |  CAST(SUM(COALESCE(band, -1)) AS BIGINT) AS band_sum
        |FROM src GROUP BY event_type ORDER BY event_type""".stripMargin,
    // post-UPDATE state == the CASE-adjusted rollup over the raw fixture
    "v2_update_sql" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN event_type = 'error' AND user_id < 30
        |    THEN CAST(round(value * 100) AS BIGINT) + 100
        |    ELSE CAST(round(value * 100) AS BIGINT) END) AS BIGINT) AS sv_e2
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // post-MERGE state == doubled-value matches + the inserted class
    "v2_merge_sql" ->
      """WITH base AS (
        |  SELECT event_type,
        |    CASE WHEN user_id < 10
        |      THEN CAST(round(value * 100) AS BIGINT) * 2
        |      ELSE CAST(round(value * 100) AS BIGINT) END AS v
        |  FROM events
        |  UNION ALL
        |  SELECT 'merged', CAST(777 AS BIGINT) FROM events WHERE user_id < 3)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(v) AS BIGINT) AS sv_e2
        |FROM base GROUP BY event_type ORDER BY event_type""".stripMargin,
    // post-DELETE state == the complement filter over the raw fixture
    "v2_delete_sql" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sv_e2
        |FROM events
        |WHERE NOT (user_id < 30 AND (event_type = 'error'
        |  OR CAST(round(value * 100) AS BIGINT) < 5000))
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // same join recomputed from the raw table — runtime pruning must
    // change nothing; hot gate = revenue strictly above the band mean
    "v2_dpp" ->
      """WITH b AS (
        |  SELECT user_id % 4 AS band,
        |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS rev
        |  FROM events GROUP BY 1),
        |hot AS (
        |  SELECT band FROM b
        |  WHERE rev * (SELECT COUNT(*) FROM b) > (SELECT SUM(rev) FROM b))
        |SELECT e.band, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(e.v) AS BIGINT) AS rev_e2
        |FROM (SELECT user_id % 4 AS band,
        |        CAST(round(value * 100) AS BIGINT) AS v FROM events) e
        |JOIN hot ON hot.band = e.band
        |GROUP BY e.band ORDER BY e.band""".stripMargin,
    // the silver table IS the transform of the raw fixture
    "v2_medallion" ->
      """WITH f AS (
        |  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS v_e2
        |  FROM events
        |  WHERE event_type = 'purchase' AND CAST(round(value * 100) AS BIGINT) > 20000)
        |SELECT v_e2 // 10000 AS band, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(v_e2) AS BIGINT) AS sv_e2,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM f GROUP BY 1 ORDER BY band""".stripMargin,
    // the streamed union of the three versions IS the raw table
    "v2_stream_source" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sv_e2
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // footer metadata must agree exactly with the data it describes
    "v2_agg_pushdown" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(MIN(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS min_v_e2,
        |  CAST(MAX(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS max_v_e2,
        |  CAST(MIN(user_id) AS BIGINT) AS min_user,
        |  CAST(MAX(user_id) AS BIGINT) AS max_user
        |FROM events""".stripMargin,
    // same join recomputed from the raw table — the partitioned layout
    // must change nothing; hot-day gate is the exact cross-multiplication
    "dpp_join" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS rev
        |  FROM events GROUP BY 1),
        |t AS (SELECT CAST(SUM(rev) AS BIGINT) AS tr,
        |  CAST(COUNT(*) AS BIGINT) AS nd FROM daily),
        |hot AS (
        |  SELECT day FROM daily
        |  WHERE rev * (SELECT nd FROM t) * 100 > (SELECT tr FROM t) * 105)
        |SELECT e.day, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(e.v) AS BIGINT) AS rev_e2
        |FROM (SELECT CAST(ts AS DATE) AS day,
        |        CAST(round(value * 100) AS BIGINT) AS v FROM events) e
        |JOIN hot ON hot.day = e.day
        |GROUP BY e.day ORDER BY e.day""".stripMargin,
    // two streamed epochs through the V2 sink == raw fixture
    "v2_stream_sink" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sv_e2
        |FROM events WHERE user_id < 60
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // two V2-written versions re-read and aggregated == raw fixture
    "v2_source_write" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sv_e2
        |FROM events WHERE user_id < 40
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the V2 connector must reproduce the raw-fixture aggregate exactly
    "v2_source_read" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sv_e2
        |FROM events WHERE user_id BETWEEN 60 AND 79
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // AS OF between the 2nd and 3rd publishes = the first two slices
    "time_travel_asof" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS rev_e2
        |FROM events WHERE user_id < 100""".stripMargin,
    // [0,39] drops metadata-only, [40,79] is the one rewrite, two live
    // files untouched; the survivors are exactly user_id >= 70
    "retention_delete" ->
      """SELECT CAST(1 AS BIGINT) AS n_dropped_meta,
        |  CAST(1 AS BIGINT) AS n_rewritten,
        |  CAST(2 AS BIGINT) AS n_untouched,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS rev_e2
        |FROM events WHERE user_id >= 70""".stripMargin,
    // the rename touches zero files; the canonical-name read must still
    // serve every row from both eras
    "rename_zero_rewrite" ->
      """SELECT CAST(1 AS BIGINT) AS files_untouched,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS rev_e2_total
        |FROM events""".stripMargin,
    // interleaved landing: stats keep all 4 files, blooms prune to the one
    // residue-3 file; the slice aggregate rides the pruned scan
    "bloom_skip_scan" ->
      """SELECT CAST(4 AS BIGINT) AS n_files_total,
        |  CAST(4 AS BIGINT) AS n_files_stats_only,
        |  CAST(1 AS BIGINT) AS n_files_bloom,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS rev_e2
        |FROM events WHERE user_id = 7""".stripMargin,
    // the graft-versioned source's pushdown must land on the same 2-of-4
    // file selection and the same slice aggregate as the prunedFiles read
    "stats_skip_auto" ->
      """SELECT CAST(4 AS BIGINT) AS n_files_total,
        |  CAST(2 AS BIGINT) AS n_files_read,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS rev_e2
        |FROM events WHERE user_id BETWEEN 20 AND 59""".stripMargin,
    // 4 one-file range batches; [20,59] overlaps exactly 2; slice agg
    "stats_pruned_scan" ->
      """SELECT CAST(4 AS BIGINT) AS n_files_total,
        |  CAST(2 AS BIGINT) AS n_files_read,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS rev_e2
        |FROM events WHERE user_id BETWEEN 20 AND 59""".stripMargin,
    // what the in-flight observed metrics must equal
    "observed_write" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_v_e2,
        |  CAST(MIN(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS min_v_e2,
        |  CAST(MAX(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS max_v_e2
        |FROM events""".stripMargin,
    // the planted-malformation arithmetic the CSV reader must reproduce
    "csv_malformed_audit" ->
      """WITH cls AS (
        |  SELECT CASE WHEN event_id % 10 = 3 THEN 1 ELSE 0 END AS corrupt,
        |    CASE WHEN event_id % 10 = 7 THEN 1 ELSE 0 END AS shortrow,
        |    CASE WHEN event_id % 10 IN (3, 7) THEN 0
        |         ELSE CAST(round(value * 100) AS BIGINT) END AS v
        |  FROM events)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
        |  CAST(SUM(corrupt) AS BIGINT) AS n_corrupt,
        |  CAST(SUM(shortrow) AS BIGINT) AS n_nullfilled,
        |  CAST(COUNT(*) - SUM(corrupt) AS BIGINT) AS n_survivors,
        |  CAST(SUM(v) AS BIGINT) AS sum_v_good
        |FROM cls""".stripMargin,
    // replayed clone/restore endpoints from the fixture slices
    "shallow_clone_restore" ->
      """WITH p AS (SELECT user_id, CAST(round(value * 100) AS BIGINT) AS v
        |           FROM events WHERE event_type = 'purchase'),
        |s AS (SELECT user_id, CAST(round(value * 100) AS BIGINT) AS v
        |      FROM events WHERE event_type = 'signup'),
        |kept AS (SELECT * FROM p WHERE user_id % 5 <> 0),
        |stages AS (
        |  SELECT 'clone_after_divergence' AS stage,
        |    CAST((SELECT COUNT(*) FROM kept) + (SELECT COUNT(*) FROM s) AS BIGINT) AS n_rows,
        |    CAST((SELECT SUM(v) FROM kept) + (SELECT SUM(v) FROM s) AS BIGINT) AS sum_e2
        |  UNION ALL
        |  SELECT 'source_restored',
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM p),
        |    (SELECT CAST(SUM(v) AS BIGINT) FROM p)
        |  UNION ALL
        |  SELECT 'source_v2_history',
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM kept),
        |    (SELECT CAST(SUM(v) AS BIGINT) FROM kept))
        |SELECT stage, n_rows, sum_e2 FROM stages ORDER BY stage""".stripMargin,
    // full recompute of the join view under the FINAL dim AND fact
    // state (refunds retracted) — the nightly job the incremental
    // maintenance must equal exactly
    "ivm_join_view" ->
      """WITH f AS (
        |  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events
        |  WHERE event_type = 'purchase' AND event_id % 11 <> 0),
        |d0 AS (SELECT user_id, min(event_type) AS seg FROM events GROUP BY 1),
        |d AS (SELECT user_id,
        |        CASE WHEN user_id % 7 = 0 THEN 'vip' ELSE seg END AS segment
        |      FROM d0),
        |a AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_purch,
        |        CAST(SUM(v) AS BIGINT) AS rev_e2
        |      FROM f GROUP BY 1)
        |SELECT a.user_id, a.n_purch, a.rev_e2, d.segment
        |FROM a JOIN d USING (user_id) ORDER BY a.user_id""".stripMargin,
    // replay of the whole feed journey: batch membership by event_id
    // mod, MoR delete pre-images, update pre-image+replacement pairs,
    // the compaction version (4) absent by construction
    "cdc_feed" ->
      """WITH base AS (
        |  SELECT user_id, event_id, CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events WHERE event_type = 'purchase'),
        |b1 AS (SELECT * FROM base WHERE event_id % 3 = 0),
        |b2 AS (SELECT * FROM base WHERE event_id % 3 = 1),
        |live12 AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2),
        |d3 AS (SELECT * FROM live12 WHERE user_id % 5 = 0),
        |u5 AS (SELECT * FROM live12
        |       WHERE user_id % 5 <> 0 AND user_id % 7 = 0),
        |feed AS (
        |  SELECT 'insert' AS change_type, 1 AS cv, user_id, v FROM b1
        |  UNION ALL SELECT 'insert', 2, user_id, v FROM b2
        |  UNION ALL SELECT 'delete', 3, user_id, v FROM d3
        |  UNION ALL SELECT 'delete', 5, user_id, v FROM u5
        |  UNION ALL SELECT 'insert', 5, user_id, v + 1 FROM u5)
        |SELECT change_type, CAST(cv AS BIGINT) AS commit_version,
        |  CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS sv,
        |  CAST(SUM(user_id) AS BIGINT) AS su
        |FROM feed GROUP BY 1, 2
        |ORDER BY commit_version, change_type""".stripMargin,
    // same deterministic v2 derivation; FULL OUTER + md5 compare
    "table_diff" ->
      """WITH v1 AS (SELECT doc_id, md5(text) AS fp FROM documents),
        |v2 AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END) AS fp
        |  FROM documents WHERE doc_id % 17 <> 0
        |  UNION ALL
        |  SELECT doc_id + 100000, md5(text) FROM documents WHERE doc_id % 29 = 0),
        |d AS (
        |  SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
        |    CASE WHEN v1.fp IS NULL THEN 'added'
        |         WHEN v2.fp IS NULL THEN 'removed'
        |         WHEN v1.fp <> v2.fp THEN 'changed' END AS status,
        |    substring(v1.fp, 1, 8) AS old_fp, substring(v2.fp, 1, 8) AS new_fp
        |  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
        |SELECT * FROM d WHERE status IS NOT NULL ORDER BY doc_id""".stripMargin,
    // replay of the evolved-table read: rows < 300 are legacy (NULL
    // quality), 300-399 evolved; the column counts are the schema facts
    // (3 at v1, 4 current) the store must reproduce
    // the patched profile AND the recompute-set derivation replayed:
    // a group recomputes iff the deleted slice touches its extreme
    "retractable_agg" ->
      """WITH ev AS (
        |  SELECT event_type, user_id, CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events),
        |base AS (
        |  SELECT event_type, COUNT(*) AS n, SUM(v) AS sv, MIN(v) AS mn, MAX(v) AS mx
        |  FROM ev GROUP BY 1),
        |del AS (
        |  SELECT event_type, COUNT(*) AS dn, SUM(v) AS dsv, MIN(v) AS dmn, MAX(v) AS dmx
        |  FROM ev WHERE user_id % 7 = 3 GROUP BY 1),
        |kept AS (
        |  SELECT event_type, MIN(v) AS fmn, MAX(v) AS fmx
        |  FROM ev WHERE user_id % 7 <> 3 GROUP BY 1)
        |SELECT b.event_type,
        |  CAST(b.n - COALESCE(d.dn, 0) AS BIGINT) AS n,
        |  CAST(b.sv - COALESCE(d.dsv, 0) AS BIGINT) AS sum_e2,
        |  CASE WHEN d.dmn IS NOT NULL AND (d.dmn = b.mn OR d.dmx = b.mx)
        |       THEN k.fmn ELSE b.mn END AS min_e2,
        |  CASE WHEN d.dmn IS NOT NULL AND (d.dmn = b.mn OR d.dmx = b.mx)
        |       THEN k.fmx ELSE b.mx END AS max_e2,
        |  d.dmn IS NOT NULL AND (d.dmn = b.mn OR d.dmx = b.mx) AS recompute
        |FROM base b LEFT JOIN del d ON d.event_type = b.event_type
        |LEFT JOIN kept k ON k.event_type = b.event_type
        |ORDER BY b.event_type""".stripMargin,
    // final state = the two clean slices with docs<50 revised (+1);
    // the corrupt batch contributes nothing but the rejection count
    "constraint_gate" ->
      """SELECT lang, COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN doc_id < 50 THEN n_chars + 1 ELSE n_chars END) AS BIGINT) AS chars_sum,
        |  CAST(1 AS BIGINT) AS n_rejected_batches
        |FROM documents WHERE doc_id < 300
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "schema_evolution" ->
      """SELECT lang, COUNT(*) AS n_rows,
        |  COUNT(CASE WHEN doc_id >= 300 THEN 1 END) AS n_evolved,
        |  CAST(COALESCE(SUM(CASE WHEN doc_id >= 300
        |    THEN (n_chars % 1000) * 10 ELSE 0 END), 0) AS BIGINT) AS q_sum,
        |  CAST(3 AS INT) AS v1_cols, CAST(4 AS INT) AS v2_cols
        |FROM documents WHERE doc_id < 400
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // full relational replay of the nightly-crawl chain; n_indexed and
    // n_index_total are the replayed row counts — they only match the
    // engine when the serving index's id set equals the store's exactly
    "nightly_crawl" ->
      """WITH base AS (SELECT doc_id, source, text FROM documents),
        |b1 AS (
        |  SELECT doc_id, source, text FROM base WHERE doc_id % 3 <> 2
        |  UNION ALL
        |  SELECT doc_id + 10000, source, text FROM base
        |  WHERE doc_id % 5 = 0 AND doc_id % 3 <> 2),
        |d0 AS (
        |  SELECT doc_id, source, text FROM base WHERE doc_id % 3 = 2
        |  UNION ALL
        |  SELECT doc_id + 20000, source, text FROM base
        |  WHERE doc_id % 7 = 1 AND doc_id % 3 <> 2
        |  UNION ALL
        |  SELECT doc_id, source, text || ' recrawl refresh' FROM base
        |  WHERE doc_id % 21 = 0),
        |s1 AS (
        |  SELECT doc_id, source,
        |    CAST(round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) * 10000) AS BIGINT) AS q_e4,
        |    substr(md5(regexp_replace(lower(text), '\s+', ' ', 'g')), 1, 16) AS fp
        |  FROM (SELECT *, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM b1)
        |  WHERE len(toks) >= 10),
        |v1 AS (SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM s1)
        |  WHERE rn = 1),
        |s2 AS (
        |  SELECT doc_id, source,
        |    CAST(round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) * 10000) AS BIGINT) AS q_e4,
        |    substr(md5(regexp_replace(lower(text), '\s+', ' ', 'g')), 1, 16) AS fp
        |  FROM (SELECT *, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM d0)
        |  WHERE len(toks) >= 10),
        |dd AS (SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM s2)
        |  WHERE rn = 1 AND fp NOT IN (SELECT fp FROM v1)),
        |merged AS (
        |  SELECT doc_id, source, q_e4 FROM v1
        |  WHERE doc_id NOT IN (SELECT doc_id FROM dd)
        |  UNION ALL
        |  SELECT doc_id, source, q_e4 FROM dd),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_index_total FROM merged)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
        |  CAST(SUM(q_e4) AS BIGINT) AS q_checksum,
        |  CAST(COUNT(*) AS BIGINT) AS n_indexed,
        |  (SELECT n_index_total FROM tot) AS n_index_total
        |FROM merged GROUP BY source ORDER BY source""".stripMargin,
    "zorder_scan" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE user_id >= 4 AND user_id < 10 AND event_id >= 100 AND event_id < 800
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "time_travel" ->
      """SELECT 1 AS version, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM documents WHERE doc_id < 100
        |UNION ALL
        |SELECT 2, COUNT(*), CAST(SUM(n_chars) AS BIGINT)
        |FROM documents WHERE doc_id < 200
        |UNION ALL
        |SELECT 3, COUNT(*), CAST(SUM(n_chars) AS BIGINT)
        |FROM documents WHERE doc_id < 200
        |ORDER BY version""".stripMargin,
    // post-merge table = docs < 300 with rows >= 100 carrying the CDC
    // batch's shifted n_chars — replaced, inserted, or carried exactly
    "versioned_merge" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN doc_id >= 100 THEN n_chars + 1000 ELSE n_chars END) AS BIGINT) AS chars_sum
        |FROM documents WHERE doc_id < 300
        |GROUP BY source ORDER BY source""".stripMargin,
    "bucketed_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "incremental_reembed" ->
      """SELECT source,
        |  COUNT(*) AS n_reembedded,
        |  CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
        |  (SELECT COUNT(*) FROM documents WHERE doc_id < 250) AS n_index_total
        |FROM documents
        |WHERE doc_id >= 150 AND doc_id < 250
        |GROUP BY source ORDER BY source""".stripMargin
  )
}
