package graft.store

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Versioned parquet table with a manifest-based commit protocol — the
  * Delta/Iceberg upgrade path the ChunkStore Scaladoc points at, built
  * minimally: a table is a directory of immutable parquet data files plus
  * `_manifests/v<NNNNNNNN>.list` files, each the COMPLETE file listing of
  * one table version. Readers resolve a manifest and read exactly its
  * files; writers publish a new manifest atomically. Data files are never
  * mutated or implicitly deleted.
  *
  * Guarantees (VersionedSpec pins each):
  *  - **Atomic commit**: a manifest is written to a temp name and
  *    published with an atomic rename — a crash mid-commit leaves the
  *    previous version intact and no torn manifest visible.
  *  - **Optimistic concurrency**: the commit fails (and surfaces, never
  *    silently drops) if the target version was taken by a concurrent
  *    writer — first writer wins, loser retries on the new base.
  *  - **Snapshot isolation**: a reader pinned to version N sees N's exact
  *    files regardless of later appends/compactions, until `vacuum`
  *    explicitly reclaims files unreferenced by the retained horizon.
  *  - **Time travel**: any retained version is readable by number.
  *
  * 100 TB shape: the manifest lists files, not rows — listing cost scales
  * with file count (compaction bounds it), commits are O(1) renames on
  * the driver, and readers skip directory listing entirely (no eventual-
  * consistency hazards on object stores; the rename becomes a
  * put-if-absent there, same protocol). A real multi-driver deployment
  * swaps the local-FS rename for a log/catalog CAS — the manifest format
  * and reader are unchanged.
  */
object Versioned {

  private def manifestDir(table: String) = new File(table, "_manifests")
  private def manifestFile(table: String, v: Int) =
    new File(manifestDir(table), f"v$v%08d.list")

  // ── manifest log compaction (checkpoint + delta commits) ──────────
  //
  // A manifest used to be a COMPLETE file listing per version: O(F)
  // lines written per commit, O(F·C) log growth — at 10⁵ files × 10⁴
  // commits the metadata store becomes its own scale-killer (VERDICT
  // r14 #2; Delta solves this with checkpoints + JSON deltas). A commit
  // now writes either
  //   · a FULL listing (a checkpoint — the historical format, first
  //     line is ordinary content), or
  //   · a DELTA: first line `#delta:<baseVersion>`, then `-<line>` for
  //     every base line this commit retires and `+<line>` for every
  //     line it adds.
  // Both live under the SAME `v%08d.list` name, so the put-if-absent
  // link(2) publish — the whole concurrency story — is untouched: the
  // format is content-internal, decided by whichever racer wins.
  // Resolution ([[linesOf]]) walks back to the nearest full listing and
  // replays deltas forward; `kept.filter ++ new` and `base.filter(not
  // removed) ++ added` produce byte-identical line sequences, so every
  // reader (markers, renames — whose ORDER is semantic — ledger, stats)
  // sees exactly what a full write would have produced.
  //
  // Policy: a checkpoint lands every [[ManifestCheckpointEvery]]
  // versions (bounds every replay chain), whenever the base listing is
  // small (< [[ManifestDeltaMinLines]] lines — rewriting a tiny
  // manifest is cheaper than a replay chain), and whenever the delta
  // would not be materially smaller than the listing (a truncate or
  // restore replaces everything; logging it as ±2F lines helps nobody).
  private[graft] val ManifestCheckpointEvery = 16
  private[graft] val ManifestDeltaMinLines = 64
  private val DeltaHeader = "#delta:"

  /** Raw lines of one manifest file — possibly a delta, never resolved. */
  private def rawManifestLines(table: String, v: Int): Seq[String] = {
    val mf = manifestFile(table, v)
    require(mf.exists,
      s"version $v of $table does not exist (vacuumed or never committed)")
    Files.readAllLines(mf.toPath, StandardCharsets.UTF_8)
      .toArray(Array.empty[String]).toSeq
  }

  /** Is version `v`'s manifest a full listing (a checkpoint)? */
  private[graft] def isCheckpointManifest(table: String, v: Int): Boolean =
    !rawManifestLines(table, v).headOption.exists(_.startsWith(DeltaHeader))

  // resolved-listing memo: manifests are IMMUTABLE once linked, so a
  // resolved (table, version) → lines entry can never go stale in
  // content — a hit only re-checks the manifest file still EXISTS, so a
  // vacuumed version stays a loud error, never a ghost served from
  // memory. Bounded: single-entry eviction past the cap (the access
  // pattern is overwhelmingly "current version of a handful of tables").
  // This is what keeps delta resolution O(1) amortized on the commit
  // path: each commit resolves its base from the previous resolution
  // plus ONE delta application instead of replaying the whole chain.
  // value = (manifest mtime, manifest length, resolved lines): the
  // fingerprint guards against a table DIRECTORY being deleted and
  // rebuilt at the same path with the same version numbers (scratch
  // journeys do exactly this) — same (path, version), different content
  private val resolvedMemo =
    scala.collection.concurrent.TrieMap.empty[(String, Int), (Long, Long, Seq[String])]
  private val ResolvedMemoCap = 64

  private def memoGet(table: String, v: Int): Option[Seq[String]] = {
    val mf = manifestFile(table, v)
    resolvedMemo.get((new File(table).getAbsolutePath, v)) match {
      case Some((m, l, lines))
        if mf.exists && mf.lastModified == m && mf.length == l => Some(lines)
      case Some(_) =>
        resolvedMemo.remove((new File(table).getAbsolutePath, v)); None
      case None => None
    }
  }

  private def memoPut(table: String, v: Int, lines: Seq[String]): Unit = {
    val mf = manifestFile(table, v)
    if (mf.exists) {
      while (resolvedMemo.size >= ResolvedMemoCap)
        resolvedMemo.headOption.foreach { case (k, _) => resolvedMemo.remove(k) }
      resolvedMemo.put((new File(table).getAbsolutePath, v),
        (mf.lastModified, mf.length, lines)): Unit
    }
  }

  /** Raw RESOLVED manifest lines of version `v`: full listings return as
    * written; a delta replays forward from the nearest full listing (or
    * the nearest memoized ancestor). Content-immutable, so memoizable —
    * but NOT transaction-visibility-resolved: a `#txn:` version's lines
    * come back marker and all. Readers go through [[linesOf]]. */
  private def rawLinesOf(table: String, v: Int): Seq[String] = {
    if (v == 0) return Seq.empty
    memoGet(table, v).foreach(hit => return hit)
    var raw = rawManifestLines(table, v)
    var deltas = List.empty[Seq[String]] // oldest-first after the loop
    var resolvedBase: Option[Seq[String]] = None
    while (resolvedBase.isEmpty &&
        raw.headOption.exists(_.startsWith(DeltaHeader))) {
      deltas ::= raw
      val base = raw.head.stripPrefix(DeltaHeader).toIntOption.getOrElse(
        sys.error(s"corrupt delta header in $table v$v: '${raw.head}'"))
      resolvedBase = memoGet(table, base)
      if (resolvedBase.isEmpty) raw = rawManifestLines(table, base)
    }
    var lines = resolvedBase.getOrElse(raw.filter(_.nonEmpty))
    deltas.foreach { d =>
      val removed = d.tail.collect { case l if l.startsWith("-") => l.drop(1) }.toSet
      val added = d.tail.collect { case l if l.startsWith("+") => l.drop(1) }
      lines = lines.filterNot(removed) ++ added
    }
    memoPut(table, v, lines)
    lines
  }

  /** COMPLETE resolved manifest lines of version `v`, with CROSS-TABLE
    * TRANSACTION visibility applied: a version published as part of a
    * [[MultiTxn]] carries a `#txn:` marker, and its content is served
    * only once the transaction's single outcome file says `commit` —
    * a pending or aborted transaction's version reads as its
    * predecessor (all-or-nothing across every table in the
    * transaction). Committed versions serve with the marker STRIPPED
    * (it described the publish handshake, not the table). Every
    * manifest reader goes through here. */
  private[graft] def linesOf(table: String, v: Int): Seq[String] = {
    if (v == 0) return Seq.empty
    val raw = rawLinesOf(table, v)
    raw.find(_.startsWith(TxnPrefix)) match {
      case None => raw
      case Some(marker) =>
        val (txnDir, id) = parseTxnMarker(marker)
        txnOutcome(txnDir, id) match {
          case Some("commit") => raw.filterNot(_.startsWith(TxnPrefix))
          case _ => linesOf(table, v - 1) // pending or aborted: invisible
        }
    }
  }

  // ---- cross-table atomic transactions (X330) -------------------------
  //
  // The medallion problem: a pipeline committing bronze, then silver,
  // then gold independently can crash (or be read) BETWEEN commits,
  // exposing a half-updated pipeline. Per-table OCC cannot fix that — the
  // atomicity unit must span tables. Two-phase publish with ONE atomic
  // arbiter (Iceberg REST-catalog / Delta commit-coordinator semantics,
  // built on this store's own put-if-absent primitive):
  //
  //  PREPARE  each table's staged files publish as a normal manifest
  //           version that additionally carries `#txn:<dir>:<id>` —
  //           invisible to every reader until the outcome exists.
  //  DECIDE   one put-if-absent outcome file <dir>/<id>.outcome with
  //           content `commit` (the txn driver) or `abort` (any writer
  //           that finds the pending version in its way). First link
  //           wins; the loser reads the decided outcome. This single
  //           file IS the atomic commit point for ALL tables at once.
  //
  // Readers resolve through the outcome ([[linesOf]]): before the
  // outcome exists, every txn version reads as its predecessor, so no
  // reader anywhere can observe table A new + table B old. A crash
  // between PREPARE and DECIDE leaves the pipeline fully old; the next
  // writer on any member table force-aborts the stalled txn (liveness)
  // and the staged files fall to vacuum as orphans.

  private val TxnPrefix = "#txn:"

  /** `#txn:<absolute txn dir>:<id>` — parse from the right (paths may
    * contain ':'). */
  private def parseTxnMarker(l: String): (String, String) = {
    val rest = l.stripPrefix(TxnPrefix)
    val cut = rest.lastIndexOf(':')
    (rest.take(cut), rest.drop(cut + 1))
  }

  /** The decided outcome of transaction `id`, if any: "commit"/"abort". */
  private def txnOutcome(txnDir: String, id: String): Option[String] = {
    val f = new File(txnDir, s"$id.outcome")
    if (!f.exists) None
    else Some(new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8).trim)
  }

  /** Decide `id`'s outcome via put-if-absent; returns the DECIDED value
    * (ours if the link landed, the winner's otherwise). */
  private def decideTxn(txnDir: String, id: String, want: String): String = {
    val dir = new File(txnDir)
    dir.mkdirs()
    val tmp = File.createTempFile(s"$id-", ".tmp", dir)
    Files.write(tmp.toPath, want.getBytes(StandardCharsets.UTF_8))
    try {
      Files.createLink(new File(dir, s"$id.outcome").toPath, tmp.toPath)
      want
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        txnOutcome(txnDir, id).getOrElse(want)
    } finally { tmp.delete(): Unit }
  }

  /** Force a DECISION on a pending transaction blocking `table`'s head
    * (abort unless its driver already committed); no-op when the head
    * carries no undecided marker. Called by [[commit]] so a stalled
    * transaction can never wedge a table. */
  private def decidePendingHead(table: String, base: Int): Unit = {
    if (base == 0) return
    rawLinesOf(table, base).find(_.startsWith(TxnPrefix)).foreach { m =>
      val (dir, id) = parseTxnMarker(m)
      if (txnOutcome(dir, id).isEmpty) { decideTxn(dir, id, "abort"): Unit }
    }
  }

  /** A cross-table atomic transaction. Stage any number of per-table
    * appends, then [[commit]] publishes ALL of them with one atomic
    * decision — a reader of any member table sees every staged append
    * or none, before, during, and after, including across a crash at
    * any point. [[abort]] (or a crash, via the next writer's
    * force-abort) discards everything; staged files fall to vacuum.
    *
    * Scope: appends (the medallion shape). Rewrites inside a
    * transaction would need cross-table conflict re-derivation — out of
    * scope, exactly as Delta's multi-statement transactions are. */
  final class MultiTxn private[Versioned] (val txnDir: String) {
    val id: String = java.util.UUID.randomUUID().toString.take(12)
    private val staged =
      scala.collection.mutable.ArrayBuffer.empty[(String, Seq[String])]
    // per-table CHECK-constraint set the staged rows were validated
    // against, plus the session to re-read staged files if a retry's
    // base carries a different set (same re-validate-on-rebase
    // discipline as append/merge — ADVICE round 9)
    private val validatedCons =
      scala.collection.mutable.Map.empty[String, Seq[(String, String)]]
    private var session: Option[SparkSession] = None
    private var done = false

    /** Stage `df` as an append to `table` — data lands on disk now
      * (invisible: no manifest references it), publication waits for
      * [[commit]]. Constraints validate now, against the staging-time
      * version. `extraMarkers` (`#`-prefixed lines, e.g. the streaming
      * batch ledger marker) ride in this table's prepare commit and
      * become visible exactly when the transaction does — which is what
      * makes an exactly-once MULTI-TABLE streaming sink composable: the
      * replay guard reads the marker through [[linesOf]]'s transaction
      * resolution, so a crashed (pending) transaction's marker is
      * invisible and the batch replays, while a committed one is
      * visible and the batch skips. */
    def stageAppend(df: DataFrame, table: String,
        extraMarkers: Seq[String] = Seq.empty): this.type = synchronized {
      require(!done, s"transaction $id is already decided")
      require(extraMarkers.forall(_.startsWith("#")),
        s"extraMarkers must be #-prefixed manifest markers: $extraMarkers")
      val cons = constraintsOf(table, Some(currentVersion(table)))
      requireConstraints(cons, df)
      validatedCons(table) = cons
      session = Some(df.sparkSession)
      val batch = f"txn-${id}-${staged.size}%02d"
      staged += ((table, stageFiles(df, table, batch) ++ extraMarkers))
      this
    }

    /** Two-phase publish. PREPARE: commit each table's staged files as a
      * marker-bearing (invisible) version, with per-table OCC retries.
      * DECIDE: one put-if-absent outcome link. Throws if a concurrent
      * writer force-aborted the transaction first (the staged data is
      * then fully discarded — all-or-nothing either way). */
    def commit(maxRetries: Int = 5): Unit = synchronized {
      require(!done, s"transaction $id is already decided")
      done = true
      val marker = s"$TxnPrefix${new File(txnDir).getAbsolutePath}:$id"
      // several stages to ONE table fold into one prepare commit — a
      // second marker-bearing version on the same table would trip this
      // transaction's OWN force-abort when it built on the first
      val perTable = staged.foldLeft(
        scala.collection.immutable.ListMap.empty[String, Seq[String]]) {
        case (m, (t, fs)) => m.updated(t, m.getOrElse(t, Seq.empty) ++ fs)
      }
      perTable.foreach { case (table, added) =>
        var attempt = 0
        var landed = false
        while (!landed) {
          // a concurrent writer may have force-aborted us already —
          // stop preparing, nothing published becomes visible
          if (txnOutcome(new File(txnDir).getAbsolutePath, id).contains("abort"))
            throw new IllegalStateException(
              s"transaction $id was aborted by a concurrent writer")
          val base = currentVersion(table)
          // re-validate on rebase: a constraint committed between this
          // table's staging and its prepare must gate the transaction —
          // staged rows re-read from their files against the new set
          // (append/merge re-check their in-memory frames; the txn's
          // frames are gone, but the staged parquet IS the same rows)
          val cons = constraintsOf(table, Some(base))
          if (cons != validatedCons.getOrElse(table, Seq.empty)) {
            val dataAbs = added.filter(l => !l.startsWith("#"))
              .map(r => new File(table, r).getPath)
            session.filter(_ => dataAbs.nonEmpty).foreach(s =>
              requireConstraints(cons, s.read.parquet(dataAbs: _*)))
            validatedCons(table) = cons
          }
          try {
            Versioned.commit(table, base, added :+ marker): Unit
            landed = true
          } catch {
            case e: IllegalStateException
                if e.getMessage != null && e.getMessage.contains("commit conflict") =>
              attempt += 1
              if (attempt > maxRetries) throw e
          }
        }
      }
      val decided = decideTxn(new File(txnDir).getAbsolutePath, id, "commit")
      if (decided != "commit") throw new IllegalStateException(
        s"transaction $id was aborted by a concurrent writer " +
          "(its pending version blocked their commit) — nothing was published")
    }

    /** Explicitly discard the transaction (idempotent). */
    def abort(): Unit = synchronized {
      done = true
      decideTxn(new File(txnDir).getAbsolutePath, id, "abort"): Unit
    }
  }

  /** Begin a cross-table transaction whose outcome file lives under
    * `txnDir` (one shared dir per pipeline — the arbiter location every
    * member table's marker names). */
  def beginTxn(txnDir: String): MultiTxn = new MultiTxn(txnDir)

  /** Latest committed version, 0 if the table is empty/uninitialized. */
  def currentVersion(table: String): Int = {
    val files = Option(manifestDir(table).list()).getOrElse(Array.empty)
    files.collect { case n if n.matches("v\\d{8}\\.list") => n.substring(1, 9).toInt }
      .foldLeft(0)(math.max)
  }

  /** The data files (absolute paths) of `version` (default: latest).
    * Version 0 is the empty table. Lines are normally RELATIVE to the
    * table root; an absolute line is an external reference (a
    * [[shallowClone]] pointing at the source table's files) and
    * resolves as itself. */
  def files(table: String, version: Option[Int] = None): Seq[String] = {
    val v = version.getOrElse(currentVersion(table))
    if (v == 0) Seq.empty
    else {
      linesOf(table, v)
        // '#'-lines are metadata markers (e.g. the streaming-batch
        // ledger), not data files; commit() carries them forward
        .filter(l => l.nonEmpty && !l.startsWith("#"))
        .map(rel =>
          if (new File(rel).isAbsolute) rel
          else new File(table, rel).getAbsolutePath)
    }
  }

  /** Delta-style RESTORE (rollback): re-publish `toVersion`'s COMPLETE
    * manifest — data references, schema marker, constraints, stream
    * ledger — as the NEXT version. Nothing rewrites: the restored
    * version still references `toVersion`'s files (which exist as long
    * as `toVersion` itself is inside vacuum's retained horizon — the
    * same precondition the `require` checks), history after
    * `toVersion` stays time-travelable until vacuumed, and the rollback
    * is itself one atomic put-if-absent commit that loses cleanly to
    * concurrent writers (re-deriving is just re-reading the old
    * manifest). Caveat the ledger restore implies: a streaming sink
    * whose recent batch markers are rolled back will re-land those
    * batches on replay — restart streaming checkpoints alongside a
    * restore, exactly as Delta documents. */
  def restore(table: String, toVersion: Int, maxRetries: Int = 5): Int = {
    require(toVersion > 0 && manifestFile(table, toVersion).exists,
      s"version $toVersion of $table is unavailable (vacuumed or never committed)")
    val restored = linesOf(table, toVersion).filter(_.nonEmpty)
    var attempt = 0
    while (true) {
      val cur = currentVersion(table)
      val curLines = linesOf(table, cur).toSet
      try return commit(table, cur, restored, curLines)
      catch {
        case e: IllegalStateException =>
          attempt += 1
          if (attempt > maxRetries) throw e
      }
    }
    -1 // unreachable
  }

  /** Delta-style SHALLOW CLONE: materialize `target` as a new table
    * whose first version references the SOURCE's current data files by
    * absolute path — a metadata-only copy (O(manifest), zero data IO)
    * carrying the source's schema marker and CHECK constraints, but NOT
    * its stream ledger (the clone is a different sink; replaying a
    * source checkpoint into it would be a caller error the ledger
    * should not mask). From then on the tables diverge freely: writes
    * to the clone land in the clone's own directory; rewrites
    * (compact/delete/merge) drop external references naturally; and the
    * clone's `vacuum` only ever deletes files under the CLONE's root,
    * so the source's files are structurally out of its reach — the
    * source controls their lifetime (dropping source versions the clone
    * still references breaks the clone, exactly Delta's documented
    * shallow-clone contract). Returns the clone's version (1). */
  def shallowClone(table: String, target: String): Int = {
    require(currentVersion(target) == 0, s"clone target $target already exists")
    val cur = currentVersion(table)
    require(cur > 0, s"cannot clone empty table $table")
    val lines = linesOf(table, cur).filter(_.nonEmpty)
    val (markers, data) = lines.partition(_.startsWith("#"))
    // stats/bloom markers key on the manifest's FILE LINES — the clone's
    // data lines are the absolute external forms, so carried markers must
    // rewrite their embedded file line identically or they can never
    // match again (skipping would be silently disabled on clones)
    def absolutize(rel: String): String =
      if (new File(rel).isAbsolute) rel else new File(table, rel).getAbsolutePath
    def rewriteMarker(l: String, prefix: String, trailing: Int): String = {
      val rest = l.stripPrefix(prefix)
      val colName = rest.takeWhile(_ != ':')
      val tail = rest.drop(colName.length + 1)
      // parse the file line from the RIGHT — file lines may contain ':'
      var cut = tail.length
      (0 until trailing).foreach { _ => cut = tail.lastIndexOf(':', cut - 1) }
      prefix + colName + ":" + absolutize(tail.take(cut)) + tail.drop(cut)
    }
    val carried = markers.filterNot(_.startsWith("#stream:")).map { l =>
      if (l.startsWith(StatsPrefix)) rewriteMarker(l, StatsPrefix, 2)
      else if (l.startsWith(BloomPrefix)) rewriteMarker(l, BloomPrefix, 3)
      else if (l.startsWith(DeletesPrefix)) {
        // both the data-file line AND the sidecar live under the SOURCE
        // root — absolutize each or the clone reads resurrected rows
        val (fileLine, dvRel, cnt) = parseDeletesMarker(l)
        s"$DeletesPrefix${absolutize(fileLine)}:${absolutize(dvRel)}:$cnt"
      }
      else l
    }
    val external = data.map(absolutize)
    commit(target, 0, external ++ carried)
  }

  /** SQL `TRUNCATE TABLE` (X256): publish a version with EVERY data line
    * removed — pure metadata, no file read or rewritten at any table
    * size (rows stay on disk for older versions until vacuum — the
    * snapshot-isolation contract, identical to Delta's TRUNCATE). The
    * schema and CHECK markers survive (the empty table stays readable
    * and constrained); stats/bloom markers retire with the lines they
    * key. */
  def truncate(table: String, maxRetries: Int = 5): Int = {
    var attempt = 0
    while (true) {
      val cur = currentVersion(table)
      require(cur > 0, s"cannot truncate nonexistent table $table")
      val lines = linesOf(table, cur).filter(_.nonEmpty)
      val dead = lines.filter(l => !l.startsWith("#") ||
        l.startsWith(StatsPrefix) || l.startsWith(BloomPrefix) ||
        l.startsWith(DeletesPrefix))
      try return commit(table, cur, Seq.empty, dead.toSet)
      catch {
        case e: IllegalStateException
            if e.getMessage != null && e.getMessage.contains("commit conflict") =>
          attempt += 1
          if (attempt > maxRetries) throw e
      }
    }
    -1 // unreachable
  }

  /** Does ANY retained manifest of `table` reference a data file under
    * `prefix` by absolute path? True exactly when `table` is a shallow
    * clone (or restore) of the table at `prefix` — the guard
    * [[graft.sources.GraftCatalog.renameTable]] uses to refuse renaming
    * a clone source out from under its clones. Metadata-only scan. */
  private[graft] def referencesPrefix(table: String, prefix: String): Boolean = {
    val root = Paths.get(prefix).toAbsolutePath
    (1 to currentVersion(table)).exists { v =>
      val mf = manifestFile(table, v)
      mf.exists && linesOf(table, v)
        .exists(l => !l.startsWith("#") && l.nonEmpty &&
          new File(l).isAbsolute && Paths.get(l).startsWith(root))
    }
  }

  private val SchemaPrefix = "#schema:"
  private val CheckPrefix = "#check:"
  private val StatsPrefix = "#stats:"

  /** Per-file min/max stats recorded in `version`'s manifest, keyed by
    * (column, manifest file line). Like the schema and CHECK markers,
    * stats live in the LOG — the Delta data-skipping design point: a
    * pruned read selects files from the manifest alone, opening ZERO
    * footers (contrast OPTIMIZE ZORDER + footer envelopes, which still
    * cost one footer read per file at planning). */
  def statsOf(table: String,
      version: Option[Int] = None): Map[(String, String), (Long, Long)] = {
    val v = version.getOrElse(currentVersion(table))
    val mf = manifestFile(table, v)
    if (v == 0 || !mf.exists) Map.empty
    else linesOf(table, v)
      .filter(_.startsWith(StatsPrefix))
      .map { l =>
        val rest = l.stripPrefix(StatsPrefix)
        val ci = rest.indexOf(':')
        val colName = rest.take(ci)
        val tail = rest.drop(ci + 1)
        // parse min/max from the RIGHT so file lines may contain ':'
        val j2 = tail.lastIndexOf(':')
        val j1 = tail.lastIndexOf(':', j2 - 1)
        ((colName, tail.take(j1)), (tail.substring(j1 + 1, j2).toLong,
          tail.substring(j2 + 1).toLong))
      }.toMap
  }

  /** ANALYZE-style stats collection: compute per-file min/max of
    * `column` (cast to long — the integer-key case data skipping
    * serves) for every current file LACKING a stats marker, and commit
    * the markers as one metadata-only version. One pruned job over just
    * the unanalyzed files, collecting one row per file; incremental by
    * construction (re-running analyzes only new files). Concurrency
    * note (applies to [[analyzeBloom]] too): the marker commit rebases
    * on conflict, so a rewrite that raced it can leave a marker whose
    * file line no longer exists — harmless (lookups key by live file
    * lines; the dangler is dead manifest weight until the next rewrite
    * of that area) but worth knowing when reading manifests by hand. */
  def analyzeStats(spark: SparkSession, table: String, column: String,
      maxRetries: Int = 5): Int = {
    val cur = currentVersion(table)
    val have = statsOf(table, Some(cur)).keySet
    val missing = files(table, Some(cur))
      .filter(f => !have((column, manifestLineOf(table, f))))
    if (missing.isEmpty) return cur
    val c = org.apache.spark.sql.functions.col(column).cast("long")
    // readTagged, not input_file_name(): provenance must survive the
    // DV anti-join (stats over LIVE rows stay conservative bounds for
    // the original file either way)
    val rows = readTagged(spark, table, cur, missing)
      .select(org.apache.spark.sql.functions.col("__graft_path").as("f"), c.as("x"))
      .groupBy("f")
      .agg(org.apache.spark.sql.functions.min("x").as("mn"),
        org.apache.spark.sql.functions.max("x").as("mx"))
      .collect()
    // an empty file produces no group row, an all-NULL column a NULL
    // min/max — either way no marker lands and reads keep the file
    // conservatively
    val markers = rows.filter(r => !r.isNullAt(1) && !r.isNullAt(2)).map { r =>
      val line = manifestLineOf(table, toLocalPath(r.getString(0)))
      s"$StatsPrefix$column:$line:${r.getLong(1)}:${r.getLong(2)}"
    }.toSeq
    if (markers.isEmpty) cur
    else retryCommit(table, markers, Set.empty, maxRetries)
  }

  /** Files a [lo, hi] read of `column` must open at the current version:
    * every file whose recorded [min, max] can intersect the window (see
    * [[SkipSnapshot.admitsRange]]). File selection costs one manifest
    * read, no footer opens, no directory listing; read the survivors with
    * [[readFilesOf]] and apply the row-level predicate on top, exactly as
    * with any coarse index. */
  def prunedFiles(table: String, column: String, lo: Long, hi: Long): Seq[String] = {
    val cur = currentVersion(table)
    val snap = SkipSnapshot(cur, statsOf(table, Some(cur)), Map.empty)
    admitted(table, files(table, Some(cur)))(snap.admitsRange(_, column, lo, hi))
  }

  /** POINT-SET file pruning at a pinned version: the files of `version`
    * whose recorded [min, max] stats for `column` can contain ANY of
    * `values` (files without a marker are conservatively kept). This is
    * the IN-list complement of [[prunedFiles]]'s single range — the
    * shape an IVF probe produces (`cell IN (c₁…c_p)`), where the probed
    * cells are scattered, not contiguous. One manifest read, no file
    * I/O. Correct in the presence of deletion vectors: stats are
    * conservative bounds over the ORIGINAL file, and DV subtraction
    * only removes rows, so a file whose bounds miss every value holds
    * no live match either. */
  def prunedFilesIn(table: String, version: Int, column: String,
      values: Seq[Long]): Seq[String] = {
    val snap = SkipSnapshot(version, statsOf(table, Some(version)), Map.empty)
    admitted(table, files(table, Some(version))) { line =>
      values.exists(v => snap.admitsRange(line, column, v, v))
    }
  }

  /** Read exactly `absFiles` of `version` (deletion vectors applied) —
    * for callers that pruned the file list themselves: a
    * [[prunedFiles]] range read, the versioned serving index's
    * probe-pruned search. */
  private[graft] def readFilesOf(spark: SparkSession, table: String,
      version: Int, absFiles: Seq[String]): DataFrame =
    readUnder(spark, table, version, absFiles)

  /** One `#stats:` marker line for a file already known to span
    * [mn, mx] on `column` — lets a writer that KNOWS its layout (e.g.
    * [[VersionedIndex.commit]]'s cell-clustered vector files) publish
    * skipping stats atomically WITH the data commit, instead of a
    * second [[analyzeStats]] pass + version. */
  private[graft] def statsMarkerLine(table: String, relFile: String,
      column: String, mn: Long, mx: Long): String =
    s"$StatsPrefix$column:$relFile:$mn:$mx"

  private val BloomPrefix = "#bloom:"

  /** The k bit positions of `v` in an m-bit Bloom filter — double
    * hashing over two murmur3 seeds (Kirsch–Mitzenmacher: position_i =
    * h1 + i·h2 mod m, same FPR as k independent hashes). Values hash by
    * their STRING form so one layout serves long and string keys; the
    * probe side must cast identically. */
  private[graft] def bloomPositions(v: String, m: Int, k: Int): Array[Int] = {
    val h1 = scala.util.hashing.MurmurHash3.stringHash(v, 0x9747b28c)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(v, 0x5bd1e995) | 1
    Array.tabulate(k) { i =>
      val h = (h1.toLong + i.toLong * h2.toLong) % m
      (if (h < 0) h + m else h).toInt
    }
  }

  private[graft] def bloomMightContain(bits: Array[Byte], m: Int, k: Int,
      v: String): Boolean =
    bloomPositions(v, m, k).forall(p => (bits(p >> 3) & (1 << (p & 7))) != 0)

  /** Per-file Bloom filters recorded in `version`'s manifest, keyed by
    * (column, manifest file line) → (m bits, k hashes, bitset). The
    * EQUALITY complement of the [[statsOf]] min/max markers: point
    * lookups on keys that are NOT range-clustered (hashes, IDs landed in
    * arrival order) skip files min/max can never rule out. */
  def bloomOf(table: String, version: Option[Int] = None)
      : Map[(String, String), (Int, Int, Array[Byte])] = {
    val v = version.getOrElse(currentVersion(table))
    val mf = manifestFile(table, v)
    if (v == 0 || !mf.exists) Map.empty
    else linesOf(table, v)
      .filter(_.startsWith(BloomPrefix))
      .map { l =>
        val rest = l.stripPrefix(BloomPrefix)
        val ci = rest.indexOf(':')
        val colName = rest.take(ci)
        val tail = rest.drop(ci + 1)
        val j3 = tail.lastIndexOf(':')
        val j2 = tail.lastIndexOf(':', j3 - 1)
        val j1 = tail.lastIndexOf(':', j2 - 1)
        ((colName, tail.take(j1)),
          (tail.substring(j1 + 1, j2).toInt, tail.substring(j2 + 1, j3).toInt,
            java.util.Base64.getDecoder.decode(tail.substring(j3 + 1))))
      }.toMap
  }

  /** ANALYZE-style Bloom collection: build an m-bit/k-hash Bloom filter
    * of `column`'s values (string form, NULLs skipped) for every current
    * file LACKING one, and commit the filters as one metadata-only
    * version. 16 Kbit (2 KB base64 ≈ 2.7 KB of manifest) holds ~1150
    * values at 1% FPR — size `bits` to the table's rows-per-file. Like
    * [[analyzeStats]]: one job over just the unanalyzed files,
    * incremental by construction. */
  def analyzeBloom(spark: SparkSession, table: String, column: String,
      bits: Int = 16384, k: Int = 6, maxRetries: Int = 5): Int = {
    require(bits % 8 == 0 && bits > 0 && k > 0, s"bad bloom shape ($bits, $k)")
    val cur = currentVersion(table)
    val have = bloomOf(table, Some(cur)).keySet
    val missing = files(table, Some(cur))
      .filter(f => !have((column, manifestLineOf(table, f))))
    if (missing.isEmpty) return cur
    import spark.implicits._
    val m = bits
    val kk = k
    val perFile = readTagged(spark, table, cur, missing)
      .select(org.apache.spark.sql.functions.col("__graft_path").as("f"),
        org.apache.spark.sql.functions.col(column).cast("string").as("x"))
      .where(org.apache.spark.sql.functions.col("x").isNotNull)
      .as[(String, String)]
      .groupByKey(_._1)
      .mapGroups { (f, it) =>
        val bs = new Array[Byte](m / 8)
        it.foreach { case (_, v) =>
          bloomPositions(v, m, kk).foreach(p => bs(p >> 3) =
            (bs(p >> 3) | (1 << (p & 7))).toByte)
        }
        (f, java.util.Base64.getEncoder.encodeToString(bs))
      }
      .collect()
    val markers = perFile.map { case (f, b64) =>
      val line = manifestLineOf(table, toLocalPath(f))
      s"$BloomPrefix$column:$line:$m:$k:$b64"
    }.toSeq
    if (markers.isEmpty) cur
    else retryCommit(table, markers, Set.empty, maxRetries)
  }

  /** Version-pinned skipping metadata — the ONE file-admit rule every
    * data-skipping path decides with: the `graft-versioned` source's
    * planning-time and runtime pruning, [[prunedFiles]] and
    * [[prunedFilesIn]]. A scan that prunes at EXECUTION time (runtime V2
    * filtering) must consult the manifest version it was planned against,
    * not whatever [[currentVersion]] resolves to when the filter arrives —
    * a concurrent DELETE/UPDATE rewrite landing between planning and
    * execution would otherwise drop a planned file's marker lines and the
    * prune would silently discard that file's rows. Files absent from the
    * snapshot's maps are conservatively admitted. */
  case class SkipSnapshot(version: Int,
      stats: Map[(String, String), (Long, Long)],
      blooms: Map[(String, String), (Int, Int, Array[Byte])]) {

    /** Can the file at manifest `line` hold a `column` value in [lo, hi]?
      * Only a recorded [min, max] that misses the window says no. */
    def admitsRange(line: String, column: String, lo: Long, hi: Long): Boolean =
      stats.get((column, line)).forall { case (mn, mx) => mx >= lo && mn <= hi }

    /** Can the file at manifest `line` hold `column = value`? An integral
      * value must pass [[admitsRange]]; any value must then pass the
      * file's Bloom filter, probed with its string form (the form
      * [[analyzeBloom]] hashes). */
    def admitsValue(line: String, column: String, value: Any): Boolean =
      longOf(value).forall(l => admitsRange(line, column, l, l)) &&
        blooms.get((column, line)).forall { case (m, k, bs) =>
          bloomMightContain(bs, m, k, String.valueOf(value))
        }
  }

  /** Capture `version`'s stats + bloom markers as one immutable snapshot. */
  private[graft] def skipSnapshot(table: String, version: Int): SkipSnapshot =
    SkipSnapshot(version, statsOf(table, Some(version)),
      bloomOf(table, Some(version)))

  /** The files of `absFiles` (absolute paths or `file:` URIs) whose
    * manifest line `admit` accepts — callers pass a [[SkipSnapshot]] test. */
  private[graft] def admitted(table: String, absFiles: Seq[String])(
      admit: String => Boolean): Seq[String] =
    absFiles.filter(f => admit(manifestLineOf(table, toLocalPath(f))))

  /** An integral literal as a Long — the one literal form min/max stats
    * can bound; anything else is None. */
  private[graft] def longOf(v: Any): Option[Long] = v match {
    case l: Long => Some(l)
    case i: Int => Some(i.toLong)
    case s: Short => Some(s.toLong)
    case b: Byte => Some(b.toLong)
    case _ => None
  }

  private val DeletesPrefix = "#deletes:"

  /** Position-delete sidecars ("deletion vectors") recorded in
    * `version`'s manifest, keyed by manifest data-file line → the
    * sidecar entries `(dvRel, count)` holding that file's DELETED ROW
    * POSITIONS. A merge-on-read DELETE ([[deleteWhereMor]]) publishes
    * one marker per affected file and rewrites NOTHING — the
    * Delta/Iceberg deletion-vector design point: delete cost is
    * O(deleted rows), not O(files touched). Multiple markers may
    * accumulate per file (each delete batch adds one; concurrent MoR
    * deletes of one file BOTH land — positions are sets, so readers
    * union them and overlap is harmless). Readers subtract the
    * positions; compaction/rewrites fold them (a rewritten file's
    * markers retire with its line — [[commit]]). */
  def deletesOf(table: String, version: Option[Int] = None)
      : Map[String, Seq[(String, Long)]] = {
    val v = version.getOrElse(currentVersion(table))
    val mf = manifestFile(table, v)
    if (v == 0 || !mf.exists) Map.empty
    else linesOf(table, v)
      .filter(_.startsWith(DeletesPrefix))
      .map { l =>
        val (fileLine, dvRel, cnt) = parseDeletesMarker(l)
        (fileLine, (dvRel, cnt.toLong))
      }
      .groupBy(_._1).map { case (line, xs) => line -> xs.map(_._2) }
  }

  /** Parse a `#deletes:<fileLine>:<dvRel>:<count>` marker from the RIGHT
    * (file lines may contain ':'; dv names are house-made and colon-free)
    * → (fileLine, dvRel, count-text). ONE parser for every consumer —
    * the resurrection guards must never drift from the writer. */
  private def parseDeletesMarker(l: String): (String, String, String) = {
    val tail = l.stripPrefix(DeletesPrefix)
    val j2 = tail.lastIndexOf(':')
    val j1 = tail.lastIndexOf(':', j2 - 1)
    (tail.take(j1), tail.substring(j1 + 1, j2), tail.substring(j2 + 1))
  }

  /** Resolve a manifest line (data file or DV sidecar) to an absolute
    * path under `table` — relative lines live under the table root,
    * absolute lines (shallow-clone references) resolve as themselves. */
  private[graft] def resolveLine(table: String, line: String): String =
    if (new File(line).isAbsolute) line else new File(table, line).getAbsolutePath

  /** The SORTED, DISTINCT deleted positions of one data file — the union
    * of its DV sidecars (dedup makes concurrent-delete overlap
    * harmless). Sidecar format: one big-endian int N, then N longs. */
  private[graft] def readDvPositions(dvPaths: Seq[String]): Array[Long] = {
    val set = new java.util.TreeSet[java.lang.Long]()
    dvPaths.foreach { p =>
      val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
        new java.io.FileInputStream(p)))
      try {
        val n = in.readInt()
        var i = 0
        while (i < n) { set.add(in.readLong()); i += 1 }
      } finally in.close()
    }
    val out = new Array[Long](set.size)
    val it = set.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    out
  }

  /** Raw parquet read of `paths` tagged with normalized provenance
    * (`__graft_path`) and, when `version` carries deletion vectors for
    * any of them, the DV anti-join applied — rows surface LIVE-only,
    * with the tag preserved (join-safe, unlike `input_file_name()`
    * which goes blank past a shuffle join). Positions decode on the
    * EXECUTORS (a `flatMap` over the bounded (file, sidecars) list);
    * the anti-join keys on (file, row position) and the DV side is
    * small by maintenance contract (compaction folds vectors in). */
  private def readTagged(spark: SparkSession, table: String, version: Int,
      paths: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, regexp_replace}
    require(paths.nonEmpty, s"table $table has nothing to read at v$version")
    val raw = schemaOf(table, Some(version)) match {
      case Some(st) => spark.read.schema(st).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }
    val tagged = raw.withColumn("__graft_path",
      regexp_replace(col("_metadata.file_path"), "^file:/+", "/"))
    val dvs = deletesOf(table, Some(version))
    if (dvs.isEmpty) return tagged
    val wanted = paths.map(p => manifestLineOf(table,
      new File(p).getAbsolutePath)).toSet
    val relevant = dvs.filter { case (line, _) => wanted(line) }
    if (relevant.isEmpty) return tagged
    import spark.implicits._
    val meta: Seq[(String, Seq[String])] = relevant.toSeq.map { case (line, vs) =>
      (resolveLine(table, line), vs.map { case (rel, _) => resolveLine(table, rel) })
    }
    val dv = spark.createDataset(meta)
      .flatMap { case (f, sidecars) => readDvPositions(sidecars).map(p => (f, p)) }
      .toDF("__dv_f", "__dv_p")
    val pos = tagged.withColumn("__graft_pos", col("_metadata.row_index"))
    pos.join(dv, pos("__graft_path") === dv("__dv_f") &&
        pos("__graft_pos") === dv("__dv_p"), "left_anti")
      .drop("__graft_pos")
  }

  /** Merge-on-read DELETE: record the matching rows' POSITIONS in
    * per-file deletion-vector sidecars and publish the `#deletes:`
    * markers as one metadata commit — NO data file is rewritten at any
    * table size (contrast [[deleteWhere]], the copy-on-write form that
    * rewrites whole affected files). This is the CDC-heavy 100 TB shape:
    * a hot table absorbing frequent small deletes pays O(deleted rows)
    * per batch, and the read debt is bounded because every rewrite
    * (compact / compactSmall / optimize / CoW delete / merge) reads
    * DV-applied and retires the folded markers with the replaced lines.
    *
    * Contracts: candidate discovery pushes `cond` into the scan exactly
    * like deleteWhere; already-deleted positions never re-record (the
    * match runs over the LIVE view); sidecars are written by the
    * EXECUTORS (one per affected file), the driver collects only
    * (file, sidecar, count) — bounded by file count. Concurrency: the
    * commit retries while every target file line still exists (losing
    * to appends or other MoR deletes is harmless — position sets union);
    * losing a target to a concurrent REWRITE throws, because the
    * positions describe a file that no longer serves rows. The streaming
    * source rejects version ranges that add DV markers (append-only
    * contract), and [[changes]] keeps its rows-ADDED contract — MoR
    * deletes are invisible to it, as documented there.
    *
    * Cites the reference's only mutation — delete-by-source
    * (multiple_document_upload.py:178-200) — re-expressed as
    * O(deleted rows) instead of O(files touched). */
  def deleteWhereMor(spark: SparkSession, table: String,
      cond: org.apache.spark.sql.Column, maxRetries: Int = 5): Int =
    morMutate(spark, table, cond, None, "merge-on-read delete", maxRetries)

  /** Merge-on-read UPDATE (X280): the matched rows' positions land in
    * deletion-vector sidecars AND their replacements (with `set`
    * applied) land as new data files — published together in ONE atomic
    * commit, so readers see the update all-or-nothing and NO existing
    * file rewrites. Cost is O(updated rows) against [[deleteWhere]]-
    * style copy-on-write's O(bytes of files touched) — the hot-row CDC
    * shape. Same concurrency/maintenance story as [[deleteWhereMor]]
    * (the shared [[morMutate]] core): losing a target file to a
    * concurrent rewrite fails loudly, rewrites fold the vectors, CHECK
    * constraints validate the replacement rows before publication, and
    * a SET that changes a column's TYPE is rejected (this is an update,
    * not an evolution). */
  def updateWhereMor(spark: SparkSession, table: String,
      cond: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column],
      maxRetries: Int = 5): Int = {
    require(set.nonEmpty, "updateWhereMor needs at least one SET column")
    morMutate(spark, table, cond,
      Some(df => set.foldLeft(df) { case (d, (k, v)) => d.withColumn(k, v) }),
      "merge-on-read update", maxRetries)
  }

  /** Shared merge-on-read core: record matched positions as deletion
    * vectors and (for update) stage replacement rows, then publish
    * markers + data lines in one guarded commit. */
  private def morMutate(spark: SparkSession, table: String,
      cond: org.apache.spark.sql.Column,
      mkReplacement: Option[DataFrame => DataFrame],
      op: String, maxRetries: Int): Int = {
    import org.apache.spark.sql.functions.col
    requireNoRenames(table, op)
    val base = currentVersion(table)
    val fs = files(table, Some(base))
    require(fs.nonEmpty, s"table $table has no committed data at $base")
    val dvBatch = f"mor-${java.util.UUID.randomUUID().toString.take(8)}"
    val tableAbs = new File(table).getAbsolutePath
    new File(tableAbs, dvBatch).mkdirs()
    import spark.implicits._
    // live rows only (readTagged applies existing DVs), keyed by
    // (file, position); co-locate and sort per file so each sidecar
    // writes positions ascending in one pass
    val matches = readTagged(spark, table, base, fs).filter(cond)
    val written = matches
      .select(col("__graft_path").as("f"),
        col("_metadata.row_index").as("p"))
      .as[(String, Long)]
      .repartition(col("f")).sortWithinPartitions("f", "p")
      .mapPartitions { it =>
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var seq = 0
        var curF: String = null
        val buf = scala.collection.mutable.ArrayBuilder.make[Long]
        def flush(): Unit = if (curF != null) {
          val positions = buf.result()
          val rel = s"$dvBatch/part-$pid-$seq.dv"
          seq += 1
          new File(tableAbs, dvBatch).mkdirs() // executor-side on a cluster
          // attempt-unique temp + atomic rename: under task retry or
          // speculation a ZOMBIE attempt can still be writing after
          // collect() returns — a plain FileOutputStream at the final
          // name could publish a momentarily torn sidecar (ADVICE r13).
          // Attempts produce identical bytes (the sort above is
          // deterministic), so whichever rename lands last is the same
          // content; the temp name keeps the write itself private.
          val attempt = Option(org.apache.spark.TaskContext.get())
            .map(_.taskAttemptId()).getOrElse(0L)
          val tmp = new File(tableAbs, s"$rel.a$attempt.tmp")
          val o = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
            new java.io.FileOutputStream(tmp)))
          try {
            o.writeInt(positions.length)
            positions.foreach(o.writeLong)
          } finally o.close()
          java.nio.file.Files.move(tmp.toPath,
            new File(tableAbs, rel).toPath,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          out += ((curF, rel, positions.length.toLong))
        }
        it.foreach { case (f, p) =>
          if (f != curF) { flush(); curF = f; buf.clear() }
          buf += p
        }
        flush()
        out.iterator
      }.collect()
    if (written.isEmpty) { new File(tableAbs, dvBatch).delete(); return base }
    // update: stage the replacement rows as NEW data files in the same
    // batch-staging discipline as append — invisible until the commit
    val addedData: Seq[String] = mkReplacement match {
      case None => Seq.empty
      case Some(fn) =>
        val orig = matches.drop("__graft_path")
        val repl = fn(orig).select(orig.columns.map(col).toSeq: _*)
        // nullability-normalized comparison: a SET expression's
        // containsNull may legitimately differ from the stored shape (the
        // writer rejects actual null elements loudly either way) — only a
        // TYPE change is an error here
        def norm(dt: org.apache.spark.sql.types.DataType)
            : org.apache.spark.sql.types.DataType = dt match {
          case org.apache.spark.sql.types.ArrayType(e, _) =>
            org.apache.spark.sql.types.ArrayType(norm(e), containsNull = true)
          case other => other
        }
        orig.schema.fields.zip(repl.schema.fields).foreach { case (a, b) =>
          require(norm(a.dataType) == norm(b.dataType),
            s"$op: SET changes column ${a.name} from ${a.dataType.sql} to " +
              s"${b.dataType.sql} — updates may not change types")
        }
        requireConstraints(constraintsOf(table, Some(base)), repl)
        val dataBatch = f"morupd-${java.util.UUID.randomUUID().toString.take(8)}"
        stageFiles(repl, table, dataBatch)
    }
    val targets = written.map(w => manifestLineOf(table, w._1)).toSet
    val markers = written.map { case (fAbs, rel, cnt) =>
      s"$DeletesPrefix${manifestLineOf(table, fAbs)}:$rel:$cnt"
    }.toSeq
    // retry while every target line survives (appends / other MoR
    // deletes are benign); a concurrent REWRITE of a target invalidates
    // the recorded positions — surface it, caller re-runs
    var b = base
    var attempt = 0
    while (true) {
      try return commit(table, b, markers ++ addedData)
      catch {
        case e: IllegalStateException =>
          attempt += 1
          if (attempt > maxRetries) throw e
          val cur = currentVersion(table)
          val lines = linesOf(table, cur).toSet
          if (!targets.subsetOf(lines))
            throw new IllegalStateException(
              s"$op on $table derived from v$base lost a target " +
                "file to a concurrent rewrite; re-run against the current version", e)
          b = cur
      }
    }
    -1 // unreachable
  }

  /** [[fsck]]'s findings. */
  case class FsckReport(checkedVersions: Int, checkedFiles: Long,
    missingFiles: Long, missingSidecars: Long, orphanFiles: Long,
    danglingMarkers: Long)

  /** Store integrity audit (X285 — the `fsck` every production table
    * format ships as a procedure): walks the RETAINED manifest horizon
    * and the table directory, reporting
    *  - data lines whose file is GONE from disk (a vacuum bug, manual
    *    deletion, or storage loss — reads of that version will fail),
    *  - deletion-vector sidecars gone (worse: reads would silently
    *    RESURRECT the deleted rows if the reader ignored the error),
    *  - on-disk data/sidecar files referenced by NO retained manifest
    *    (vacuum debt from crashed writers and lost commit races), and
    *  - markers in the CURRENT manifest keyed to retired data lines
    *    (documented-harmless dead weight — the rebase race in
    *    [[analyzeStats]]'s note — surfaced so operators can see it).
    * Pure metadata + directory listing: no data file is opened, so the
    * audit is O(manifest + file count) at any table size. */
  def fsck(table: String): FsckReport = {
    val cur = currentVersion(table)
    require(cur > 0, s"cannot fsck nonexistent table $table")
    val versions = (1 to cur).filter(v => manifestFile(table, v).exists)
    val allData = versions.flatMap(v => files(table, Some(v))).distinct
    val missing = allData.count(f => !new File(f).exists())
    val allDv = versions.flatMap(v => deletesOf(table, Some(v)).values.flatten
      .map { case (rel, _) => resolveLine(table, rel) }).distinct
    val missingDv = allDv.count(f => !new File(f).exists())
    // orphans: data-shaped files on disk under batch dirs that NO
    // retained manifest references (crashed writers, lost races)
    val referenced = allData.toSet ++ allDv.toSet
    val orphans = Option(new File(table).listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName != "_manifests" &&
        !d.getName.startsWith("."))
      .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty))
      .count(f => f.isFile &&
        (f.getName.endsWith(".parquet") || f.getName.endsWith(".dv")) &&
        !referenced(f.getAbsolutePath))
    // dangling markers: stats/bloom/deletes in the CURRENT manifest
    // keyed to data lines the current version no longer carries
    val curLines = linesOf(table, cur)
      .filter(l => l.nonEmpty && !l.startsWith("#")).toSet
    val dangling =
      statsOf(table, Some(cur)).keysIterator.count { case (_, line) => !curLines(line) } +
      bloomOf(table, Some(cur)).keysIterator.count { case (_, line) => !curLines(line) } +
      deletesOf(table, Some(cur)).keysIterator.count(line => !curLines(line))
    FsckReport(versions.size, allData.size.toLong, missing.toLong,
      missingDv.toLong, orphans.toLong, dangling.toLong)
  }

  private val RenamePrefix = "#rename:"

  /** Column renames recorded in `version`'s manifest, oldest first
    * (manifest order — commits append, so chained renames replay in
    * commit order). */
  def renamesOf(table: String, version: Option[Int] = None): Seq[(String, String)] = {
    val v = version.getOrElse(currentVersion(table))
    val mf = manifestFile(table, v)
    if (v == 0 || !mf.exists) Seq.empty
    else linesOf(table, v)
      .filter(_.startsWith(RenamePrefix))
      .map { l =>
        val rest = l.stripPrefix(RenamePrefix)
        val i = rest.indexOf(':')
        (rest.take(i), rest.drop(i + 1))
      }
  }

  /** ZERO-REWRITE column rename (the Iceberg `ALTER TABLE RENAME COLUMN`
    * design point, minus field IDs): one metadata-only commit carrying a
    * `#rename:old:new` marker plus the updated schema marker — no data
    * file is touched at ANY table size. [[read]] resolves it by
    * scanning under the union of canonical and legacy names and folding
    * `coalesce(new, legacy old)` per marker, so pre-rename files serve
    * their values under the new name and post-rename files (written with
    * canonical names) are untouched. File-REWRITING ops (deleteWhere,
    * merge, compact, zorder) are REJECTED while rename markers are
    * outstanding — a rewrite reading under the canonical schema would
    * NULL-fill a legacy file's renamed column and destroy its values;
    * run [[normalize]] (one explicit full rewrite) first. Column names
    * must not contain ':'. */
  def renameColumn(spark: SparkSession, table: String, oldName: String,
      newName: String, maxRetries: Int = 5): Int = {
    require(!oldName.contains(":") && !newName.contains(":") &&
      oldName.nonEmpty && newName.nonEmpty, s"bad names $oldName -> $newName")
    var attempt = 0
    while (true) {
      val cur = currentVersion(table)
      require(cur > 0, s"cannot rename on empty table $table")
      // the rename read path (applyRenames) reads raw files — it cannot
      // compose with outstanding deletion vectors; fold them first
      require(deletesOf(table, Some(cur)).isEmpty,
        s"renameColumn on $table with outstanding deletion vectors: " +
          "fold them first (Versioned.compact / compactSmall)")
      val schema = readSchemaOf(spark, table, cur)
      require(schema.fieldNames.contains(oldName),
        s"rename: no column $oldName in ${schema.fieldNames.mkString(",")}")
      require(!schema.fieldNames.contains(newName),
        s"rename: column $newName already exists")
      val renamed = org.apache.spark.sql.types.StructType(schema.fields.map(f =>
        if (f.name == oldName) f.copy(name = newName) else f))
      val stale = linesOf(table, cur).toSet.filter(_.startsWith(SchemaPrefix))
      try {
        return commit(table, cur,
          Seq(s"$RenamePrefix$oldName:$newName", SchemaPrefix + renamed.json),
          stale)
      } catch {
        case e: IllegalStateException if attempt < maxRetries => attempt += 1
      }
    }
    -1 // unreachable
  }

  /** The CANONICAL read schema of `version`: the recorded marker if one
    * exists, else the first file's footer. */
  private def readSchemaOf(spark: SparkSession, table: String,
      version: Int): org.apache.spark.sql.types.StructType =
    schemaOf(table, Some(version)).getOrElse(
      spark.read.parquet(files(table, Some(version)).head).schema)

  private val DroppedPrefix = "#dropped:"

  /** Column names DROPPED from this table (tombstones, any version up
    * to `version`'s manifest): dropped names may not be re-introduced
    * while the tombstone stands — without field IDs (Iceberg's route), a
    * re-added same-name column would RESURRECT the old files' physical
    * values under the new column. [[purgeDropped]] clears tombstones by
    * physically rewriting. */
  def droppedOf(table: String, version: Option[Int] = None): Seq[String] = {
    val v = version.getOrElse(currentVersion(table))
    if (v == 0 || !manifestFile(table, v).exists) Seq.empty
    else linesOf(table, v).filter(_.startsWith(DroppedPrefix))
      .map(_.stripPrefix(DroppedPrefix))
  }

  /** ZERO-REWRITE `ALTER TABLE DROP COLUMN` (the Delta column-mapping /
    * Iceberg drop design point): one metadata-only commit replaces the
    * schema marker with the column removed and stamps a
    * `#dropped:name` tombstone — no data file is touched at ANY table
    * size. Reads project by the recorded schema, so the dropped
    * column's physical bytes simply stop being read; time travel to a
    * pre-drop version reads it back (per-version schema markers).
    * File-REWRITING ops (merge/compact/deleteWhere) keep working — a
    * rewrite reads under the post-drop schema and physically sheds the
    * column from the files it touches.
    *
    * The tombstone blocks re-ADDING the same name (append evolution,
    * `ALTER TABLE ADD COLUMN`): old files still hold physical values
    * under it, and a same-name re-add would resurrect them into the new
    * column. [[purgeDropped]] (one explicit rewrite, like
    * [[normalize]]) physically erases the bytes and clears tombstones —
    * also the GDPR story for a dropped-column purge. */
  def dropColumn(spark: SparkSession, table: String, name: String,
      maxRetries: Int = 5): Int = {
    require(!name.contains(":") && name.nonEmpty, s"bad column name $name")
    requireNoRenames(table, "dropColumn")
    var attempt = 0
    while (true) {
      val cur = currentVersion(table)
      require(cur > 0, s"cannot drop a column on empty table $table")
      val schema = readSchemaOf(spark, table, cur)
      require(schema.fieldNames.contains(name),
        s"dropColumn: no column $name in ${schema.fieldNames.mkString(",")}")
      require(schema.fields.length > 1,
        s"dropColumn: $name is the only column of $table")
      val remaining = org.apache.spark.sql.types.StructType(
        schema.fields.filterNot(_.name == name))
      val stale = linesOf(table, cur).toSet.filter(_.startsWith(SchemaPrefix))
      try return commit(table, cur,
        Seq(DroppedPrefix + name, SchemaPrefix + remaining.json), stale)
      catch {
        case e: IllegalStateException
            if e.getMessage != null && e.getMessage.contains("commit conflict") =>
          attempt += 1
          if (attempt > maxRetries) throw e
      }
    }
    -1 // unreachable
  }

  /** Numeric type promotions the parquet scan applies losslessly when a
    * file's physical type is NARROWER than the requested read schema
    * (Spark 4's parquet widening conversions — the reader upcasts
    * per-batch, so mixed-width files coexist under one recorded
    * schema). Byte/Short promotions are free (both store as INT32). */
  private val Widenable: Set[(org.apache.spark.sql.types.DataType,
      org.apache.spark.sql.types.DataType)] = {
    import org.apache.spark.sql.types._
    Set[(DataType, DataType)](
      (ByteType, ShortType), (ByteType, IntegerType), (ByteType, LongType),
      (ShortType, IntegerType), (ShortType, LongType),
      (IntegerType, LongType),
      (FloatType, DoubleType),
      (ByteType, DoubleType), (ShortType, DoubleType), (IntegerType, DoubleType))
  }
  private[graft] def widens(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = Widenable((from, to))

  /** ZERO-REWRITE type widening (`ALTER TABLE ALTER COLUMN c TYPE
    * BIGINT` — Delta's type-widening table feature): one metadata-only
    * commit re-stamps the schema marker with the column's type promoted
    * along a lossless numeric chain ([[widens]]). Existing NARROW files
    * stay as written — the parquet scan upcasts them under the recorded
    * wide schema — and rewrites (merge/compact) converge touched files
    * to the wide type over time. Time travel reads each version under
    * its own marker, so a pre-widen version still reads narrow.
    * Appends of the NARROW type keep landing (upcast at read); appends
    * WIDER than the recorded type are rejected (widening is an explicit
    * DDL decision, not a write side effect). */
  def widenColumn(spark: SparkSession, table: String, name: String,
      to: org.apache.spark.sql.types.DataType, maxRetries: Int = 5): Int = {
    requireNoRenames(table, "widenColumn")
    var attempt = 0
    while (true) {
      val cur = currentVersion(table)
      require(cur > 0, s"cannot widen a column on empty table $table")
      val schema = readSchemaOf(spark, table, cur)
      val idx = schema.fieldNames.indexOf(name)
      require(idx >= 0,
        s"widenColumn: no column $name in ${schema.fieldNames.mkString(",")}")
      val from = schema.fields(idx).dataType
      require(widens(from, to),
        s"widenColumn: ${from.sql} -> ${to.sql} is not a supported lossless " +
          s"widening (chains: tinyint<smallint<int<bigint, float<double, " +
          "int-family<double)")
      val widened = org.apache.spark.sql.types.StructType(schema.fields.map(f =>
        if (f.name == name) f.copy(dataType = to) else f))
      val stale = linesOf(table, cur).toSet.filter(_.startsWith(SchemaPrefix))
      try return commit(table, cur, Seq(SchemaPrefix + widened.json), stale)
      catch {
        case e: IllegalStateException
            if e.getMessage != null && e.getMessage.contains("commit conflict") =>
          attempt += 1
          if (attempt > maxRetries) throw e
      }
    }
    -1 // unreachable
  }

  /** One explicit full rewrite that physically erases dropped columns'
    * bytes and clears the `#dropped:` tombstones — after this, the
    * names are reusable. The drop itself stays zero-rewrite; run this
    * when convenient (or for erasure compliance). Pairs with vacuum:
    * pre-purge versions still reference the old files until retired. */
  def purgeDropped(spark: SparkSession, table: String,
      maxRetries: Int = 5): Int = {
    // same hazard as every file-rewriting op: rewriting under the
    // canonical schema would NULL-fill legacy files' renamed columns
    // (their bytes live under the pre-rename name), silently erasing
    // the values the read-time coalesce fold still recovers
    requireNoRenames(table, "purgeDropped")
    val cur = currentVersion(table)
    val dropped = droppedOf(table, Some(cur))
    if (dropped.isEmpty) return cur
    val fs = files(table, Some(cur))
    val batch = f"normalize-${java.util.UUID.randomUUID().toString.take(8)}"
    // readUnder projects the post-drop schema, so the staged files
    // physically lack the dropped columns
    val added = stageFiles(
      readUnder(spark, table, cur, fs).coalesce(
        rewriteWidth(tableBytes(fs))), table, batch)
    val removedLines = fs.map(manifestLineOf(table, _)).toSet ++
      linesOf(table, cur).toSet.filter(_.startsWith(DroppedPrefix))
    retryCommit(table, added, removedLines, maxRetries)
  }

  /** Apply outstanding renames to a raw union-schema scan: each marker
    * folds `new := coalesce(new, old)` (a legacy file NULL-fills the
    * canonical name and serves its value under the old one; a canonical
    * file does the reverse), then legacy names drop and the canonical
    * column order restores. */
  private def applyRenames(spark: SparkSession, table: String, version: Int,
      paths: Seq[String], renames: Seq[(String, String)]): DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType}
    val canonical = readSchemaOf(spark, table, version)
    val byName = canonical.fields.map(f => f.name -> f).toMap
    // resolve each rename chain's FINAL canonical name for typing the
    // legacy columns (a -> b -> c: both a and b read as c's type)
    def finalName(n: String): String =
      renames.foldLeft(n) { case (cur, (o, nw)) => if (cur == o) nw else cur }
    val legacy = renames.map(_._1).distinct
      .filter(o => !byName.contains(o))
      .map(o => StructField(o, byName(finalName(o)).dataType, nullable = true))
    val extended = StructType(canonical.fields ++ legacy)
    val folded = renames.foldLeft(spark.read.schema(extended).parquet(paths: _*)) {
      case (df, (o, n)) => df.withColumn(n,
        org.apache.spark.sql.functions.coalesce(
          org.apache.spark.sql.functions.col(n),
          org.apache.spark.sql.functions.col(o)))
    }
    folded.select(canonical.fieldNames.map(
      org.apache.spark.sql.functions.col).toSeq: _*)
  }

  /** Reject file-rewriting ops while renames are outstanding — rewriting
    * a legacy file under the canonical schema would NULL-fill its
    * renamed columns. */
  private def requireNoRenames(table: String, op: String): Unit = {
    val rs = renamesOf(table)
    require(rs.isEmpty, s"$op on $table with outstanding column renames " +
      s"${rs.map { case (o, n) => s"$o->$n" }.mkString(", ")}: " +
      "run Versioned.normalize first (one explicit rewrite)")
  }

  /** One explicit full rewrite under the canonical schema: rewrites every
    * file with renames applied, commits the new files, and retires the
    * rename markers — after this, file-rewriting ops work again. The
    * one-time cost rename itself avoids; run it when convenient. */
  def normalize(spark: SparkSession, table: String, maxRetries: Int = 5): Int = {
    val cur = currentVersion(table)
    val renames = renamesOf(table, Some(cur))
    if (renames.isEmpty) return cur
    val fs = files(table, Some(cur))
    val batch = f"normalize-${java.util.UUID.randomUUID().toString.take(8)}"
    val added = stageFiles(applyRenames(spark, table, cur, fs, renames),
      table, batch)
    val removedLines = fs.map(manifestLineOf(table, _)).toSet ++
      linesOf(table, cur).toSet.filter(_.startsWith(RenamePrefix))
    retryCommit(table, added, removedLines, maxRetries)
  }

  /** CHECK constraints recorded in `version`'s manifest — like the
    * schema marker, constraints live in the LOG (the Delta design
    * point: `ALTER TABLE ADD CONSTRAINT` writes a transaction-log
    * action, not data), so every writer sees them atomically with the
    * version it bases on, and rewrite commits (compaction/optimize/
    * delete) carry them untouched. Returns (name, sql expression). */
  def constraintsOf(table: String, version: Option[Int] = None): Seq[(String, String)] = {
    val v = version.getOrElse(currentVersion(table))
    val mf = manifestFile(table, v)
    if (v == 0 || !mf.exists) Seq.empty
    else linesOf(table, v)
      .filter(_.startsWith(CheckPrefix))
      .map { l =>
        val rest = l.stripPrefix(CheckPrefix)
        val i = rest.indexOf(':')
        (rest.take(i), rest.drop(i + 1))
      }
  }

  /** Record a CHECK constraint, validating EXISTING rows first (a
    * constraint the current data violates is rejected, like Delta's) —
    * SQL CHECK semantics: a row fails only when the expression is
    * FALSE; NULL passes. The marker commit is atomic against the
    * validated version, so data committed concurrently is re-validated
    * by the retry. */
  def addConstraint(spark: SparkSession, table: String, name: String,
      sqlExpr: String, maxRetries: Int = 5): Int = {
    require(!name.contains(":") && !name.contains("\n") && name.nonEmpty,
      s"constraint name must be non-empty without ':' or newline, got '$name'")
    require(!sqlExpr.contains("\n"), "constraint expression must be single-line")
    var attempt = 0
    while (true) {
      val cur = currentVersion(table)
      if (cur > 0) {
        val bad = read(spark, table, Some(cur))
          .filter(!org.apache.spark.sql.functions.coalesce(
            org.apache.spark.sql.functions.expr(sqlExpr),
            org.apache.spark.sql.functions.lit(true)))
          .count()
        require(bad == 0,
          s"constraint '$name' ($sqlExpr) is violated by $bad existing row(s)")
      }
      // re-adding a name REPLACES its previous expression (one line per name)
      val stale = constraintsOf(table, Some(cur))
        .filter(_._1 == name)
        .map { case (n, e) => s"$CheckPrefix$n:$e" }.toSet
      try return commit(table, cur, Seq(s"$CheckPrefix$name:$sqlExpr"), stale)
      catch {
        case e: IllegalStateException =>
          attempt += 1
          if (attempt > maxRetries) throw e
      }
    }
    -1 // unreachable
  }

  /** Remove a constraint by name (a no-op if absent). */
  def dropConstraint(table: String, name: String, maxRetries: Int = 5): Int = {
    val cur = currentVersion(table)
    val stale = constraintsOf(table, Some(cur))
      .filter(_._1 == name)
      .map { case (n, e) => s"$CheckPrefix$n:$e" }.toSet
    if (stale.isEmpty) cur
    else retryCommit(table, Seq.empty, stale, maxRetries)
  }

  /** Fail (caller error, not a commit conflict) if `df` violates any of
    * `cons`. ONE aggregate action regardless of constraint count: every
    * CHECK contributes a violation-counter column to a single pass over
    * the batch (a row fails only when its expression is FALSE — NULL
    * passes, SQL CHECK semantics), so a table carrying dozens of
    * constraints validates an incoming batch with one scan, not one
    * scan per constraint. */
  /** One violation-count aggregate column per constraint — shared by the
    * standalone probe ([[requireConstraints]]) and the observe-folded
    * append path, so both count violations identically. */
  private def violationCols(cons: Seq[(String, String)]): Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, sum, when}
    cons.zipWithIndex.map { case ((_, e), i) =>
      sum(when(!coalesce(expr(e), lit(true)), 1L).otherwise(0L)).as(s"c$i")
    }
  }

  /** Raise the [[requireConstraints]] error for the first violated
    * constraint given the per-constraint bad-row counts. */
  private def raiseViolations(cons: Seq[(String, String)], bad: Seq[Long]): Unit =
    cons.zip(bad).foreach { case ((name, sqlExpr), b) =>
      require(b == 0,
        s"constraint '$name' ($sqlExpr) is violated by $b incoming row(s)")
    }

  private[store] def requireConstraints(cons: Seq[(String, String)], df: DataFrame): Unit = {
    if (cons.isEmpty) return
    val cols = violationCols(cons)
    val row = df.agg(cols.head, cols.tail: _*).head()
    raiseViolations(cons, cons.indices.map(i =>
      if (row.isNullAt(i)) 0L else row.getLong(i))) // null ⇐ empty batch
  }

  /** The schema recorded in `version`'s manifest (default: latest), if the
    * table has ever evolved — the Delta/Iceberg design point that schema
    * lives in the LOG, not in data-file footers: readers apply the
    * manifest schema without opening any footer (no footer-merge scan, no
    * first-file-wins ambiguity), and time travel reads each version under
    * the schema AS OF that version. Tables that never evolved carry no
    * marker and read exactly as before. */
  def schemaOf(table: String,
      version: Option[Int] = None): Option[org.apache.spark.sql.types.StructType] = {
    val v = version.getOrElse(currentVersion(table))
    val mf = manifestFile(table, v)
    if (v == 0 || !mf.exists) None
    else linesOf(table, v)
      .find(_.startsWith(SchemaPrefix))
      .map(l => org.apache.spark.sql.types.DataType.fromJson(l.stripPrefix(SchemaPrefix))
        .asInstanceOf[org.apache.spark.sql.types.StructType])
  }

  /** Commit a data-free version that records `schema` (when no schema
    * marker exists yet) — the observable-empty-write contract Delta has:
    * saving an empty DataFrame to a fresh table must still create the
    * table (schema readable, version count advanced), not leave it
    * nonexistent. On a table that already carries a schema marker this
    * publishes an empty commit (no new files), which is still observable
    * as a version bump. */
  def commitEmpty(table: String, schema: org.apache.spark.sql.types.StructType,
      maxRetries: Int = 5): Int = {
    var attempt = 0
    while (true) {
      val cur = currentVersion(table)
      val markerAdd =
        if (schemaOf(table, Some(cur)).isEmpty) Seq(SchemaPrefix + schema.json)
        else Seq.empty
      try return commit(table, cur, markerAdd)
      catch {
        // retry ONLY the optimistic-concurrency signal; a genuine
        // invariant failure inside commit must surface immediately
        // (ADVICE r11), not after 5 pointless retries
        case e: IllegalStateException
            if e.getMessage != null && e.getMessage.contains("commit conflict") =>
          attempt += 1
          if (attempt > maxRetries) throw e
      }
    }
    -1 // unreachable
  }

  /** CREATE TABLE: publish version 1 of a brand-new table holding only
    * the schema marker — the catalog entry point
    * ([[graft.sources.GraftCatalog]]). Fails if the table exists. */
  def initTable(table: String,
      schema: org.apache.spark.sql.types.StructType): Int = {
    require(currentVersion(table) == 0, s"table $table already exists")
    commit(table, 0, Seq(SchemaPrefix + schema.json))
  }

  /** Atomic CTAS publication: version 1 of a BRAND-NEW table carrying the
    * schema marker AND the staged data-file lines in ONE commit — the
    * `StagedTableCatalog` contract (Delta/Iceberg atomic `CREATE TABLE AS
    * SELECT`): either the table appears fully populated or (on abort) not
    * at all; no observable empty-table intermediate state. The staged
    * files must already sit under `table` at their relative lines. */
  private[graft] def initTableWithFiles(table: String,
      schema: org.apache.spark.sql.types.StructType,
      relFiles: Seq[String]): Int = {
    require(currentVersion(table) == 0, s"table $table already exists")
    commit(table, 0, (SchemaPrefix + schema.json) +: relFiles)
  }

  /** ALTER TABLE-style schema replacement: publish a metadata-only
    * version whose schema marker is `widen(currentMarker)` (the old
    * marker lines retire in the same atomic commit) — zero data files
    * touched; files lacking a newly added column serve NULL under the
    * recorded-schema read, exactly like append-time evolution. `widen`
    * receives the marker of the version each ATTEMPT rebases on (None
    * when the table never evolved) and must return the full new schema;
    * it is responsible for only WIDENING. */
  def replaceSchemaMarker(table: String,
      widen: Option[org.apache.spark.sql.types.StructType] =>
        org.apache.spark.sql.types.StructType,
      maxRetries: Int = 5): Int = {
    var attempt = 0
    while (true) {
      val cur = currentVersion(table)
      require(cur > 0, s"table $table does not exist")
      // recompute the widened schema from THIS attempt's marker — a
      // column added concurrently between the caller's read and our
      // commit must survive into the new marker (lost-update, ADVICE
      // r11), which a pre-computed schema would silently drop
      val base = schemaOf(table, Some(cur))
      val schema = widen(base)
      // tombstone guard, same rule as append evolution: a dropped name
      // may not come back while old files still hold its bytes
      val resurrected = schema.fieldNames
        .filterNot(base.map(_.fieldNames.toSet).getOrElse(Set.empty))
        .filter(droppedOf(table, Some(cur)).toSet)
      require(resurrected.isEmpty,
        s"schema change would re-introduce dropped column(s) " +
          s"${resurrected.mkString(", ")} on $table — " +
          "Versioned.purgeDropped first, or use a different name")
      val stale = linesOf(table, cur).toSet
        .filter(_.startsWith(SchemaPrefix))
      try return commit(table, cur, Seq(SchemaPrefix + schema.json), stale)
      catch {
        case e: IllegalStateException
            if e.getMessage != null && e.getMessage.contains("commit conflict") =>
          attempt += 1
          if (attempt > maxRetries) throw e
      }
    }
    -1 // unreachable
  }

  /** Files of `version` read under that version's recorded schema (when
    * one exists): parquet fills columns missing from a file with NULL, so
    * pre-evolution files surface the evolved width — the mergeSchema
    * semantics without the per-file footer merge. */
  private def readUnder(spark: SparkSession, table: String, version: Int,
      paths: Seq[String]): DataFrame = {
    val raw = schemaOf(table, Some(version)) match {
      case Some(st) => spark.read.schema(st).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }
    // deletion vectors: subtract recorded positions (merge-on-read).
    // The common no-DV case stays the bare scan — one manifest read
    // decides, no plan change
    val dvs = deletesOf(table, Some(version))
    if (dvs.isEmpty) raw
    else {
      val wanted = paths.map(p => manifestLineOf(table,
        new File(p).getAbsolutePath)).toSet
      if (!dvs.keysIterator.exists(wanted)) raw
      else readTagged(spark, table, version, paths).drop("__graft_path")
    }
  }

  /** Read a version (default latest) as a DataFrame. The empty version
    * needs a caller-supplied schema-bearing frame to stay total, so it is
    * simply rejected here — an empty table has nothing to read. */
  def read(spark: SparkSession, table: String, version: Option[Int] = None): DataFrame = {
    val v = version.getOrElse(currentVersion(table))
    val fs = files(table, Some(v))
    require(fs.nonEmpty, s"table $table has no committed data at $v")
    val renames = renamesOf(table, Some(v))
    if (renames.isEmpty) readUnder(spark, table, v, fs)
    else applyRenames(spark, table, v, fs, renames)
  }

  /** The newest version whose manifest was PUBLISHED at or before
    * `tsMillis` (the Delta `TIMESTAMP AS OF` resolution rule: commit
    * time is the manifest file's publish time — the atomic link stamps
    * it). Vacuumed holes are skipped; asking for a time before the
    * earliest retained commit is an error (same contract as reading a
    * vacuumed version), and a future time resolves to the current
    * version. Caveat shared with every mtime-based log: commit times
    * come from the writer's clock, so cross-writer skew can reorder
    * sub-second neighbors — version numbers remain the precise axis. */
  def versionAsOf(table: String, tsMillis: Long): Int = {
    val cur = currentVersion(table)
    require(cur > 0, s"table $table has no commits")
    val cands = (1 to cur)
      .filter(v => manifestFile(table, v).exists)
      .filter(v => manifestFile(table, v).lastModified <= tsMillis)
    require(cands.nonEmpty,
      s"no retained version of $table existed at $tsMillis " +
        "(before the earliest retained commit, or all earlier versions vacuumed)")
    cands.max
  }

  /** [[read]] pinned to [[versionAsOf]]`(tsMillis)`. */
  def readAsOf(spark: SparkSession, table: String, tsMillis: Long): DataFrame =
    read(spark, table, Some(versionAsOf(table, tsMillis)))

  /** Append-only change feed: the rows ADDED between `fromVersion`
    * (exclusive) and `toVersion` (inclusive, default latest) — exactly
    * the files in `to`'s manifest but not `from`'s. For append-shaped
    * tables this is complete CDC; after a compaction it degrades
    * explicitly (compacted files are "new") rather than silently — an
    * incremental consumer checkpoints (table, version) and reads only
    * new data ever since, e.g. re-embedding only newly ingested
    * documents. Cost scales with the DELTA, never the table.
    *
    * A `fromVersion` outside vacuum's retained horizon fails with a
    * dedicated "full resync required" error (not a generic failure): the
    * delta is genuinely unrecoverable, and the consumer restarts from
    * the current version — size `vacuum(keepVersions = …)` to the
    * slowest consumer's lag. */
  def changes(spark: SparkSession, table: String, fromVersion: Int,
      toVersion: Option[Int] = None): DataFrame = {
    val to = toVersion.getOrElse(currentVersion(table))
    require(fromVersion <= to, s"fromVersion $fromVersion is after $to")
    if (to == 0) {
      // v0 is the empty table; its delta is empty. The schema can only
      // come from committed data — a never-committed table has none to
      // give, and a schemaless frame would break every typed consumer.
      val cur = currentVersion(table)
      if (cur == 0) throw new IllegalStateException(
        s"table $table has no commits yet — poll changes() after the first append")
      return read(spark, table, Some(cur)).limit(0)
    }
    if (fromVersion > 0 && !manifestFile(table, fromVersion).exists)
      throw new IllegalStateException(
        s"delta from v$fromVersion of $table is unavailable (manifest vacuumed): " +
          "full resync required — re-read the current version and checkpoint it")
    val before = files(table, Some(fromVersion)).toSet
    val added = files(table, Some(to)).filterNot(before)
    if (added.isEmpty) read(spark, table, Some(to)).limit(0) // schema-correct empty delta
    else {
      // the delta serves CANONICAL names: a consumer keyed on the
      // post-rename schema must see legacy files' values under it
      val renames = renamesOf(table, Some(to))
      if (renames.isEmpty) readUnder(spark, table, to, added)
      else applyRenames(spark, table, to, added, renames)
    }
  }

  /** Row-level CDC change feed (VERDICT r13 #2 — what Delta CDF /
    * Iceberg changelogs provide, where [[changes]] is file-add-only):
    * every row change in versions (`fromVersion`, `toVersion`], tagged
    * `_change_type` ∈ {insert, delete} and `_commit_version`. Walks the
    * interval VERSION BY VERSION so a delete whose marker a later
    * compaction folded away is still emitted:
    *
    *  - data files ADDED by an append/CTAS/stream/MERGE-insert/MoR-update
    *    commit → their rows as `insert` (read RAW — deletion vectors
    *    that land in LATER versions are later deletes, not retroactive
    *    edits of this insert);
    *  - NEW `#deletes:` sidecars → the deleted rows materialized from
    *    the pinned PRE-IMAGE (the data file is untouched by MoR, so its
    *    content at the recorded positions IS the deleted row) as
    *    `delete`; a merge-on-read UPDATE therefore emits its pre-image
    *    deletes and replacement inserts from ONE commit;
    *  - LAYOUT-ONLY rewrites (compact / compactSmall / optimize /
    *    normalize — recognizable by their staged batch prefix, the house
    *    naming contract) emit NOTHING: they move rows between files
    *    without changing the row multiset;
    *  - a CONTENT rewrite without row-level markers (copy-on-write
    *    deleteWhere / SQL DELETE / MERGE / retention / restore) throws
    *    the same "full resync required" class of error as a vacuumed
    *    delta: the removed rows are not reconstructible from the log
    *    alone. CDC-heavy tables use the MoR mutations — that is their
    *    contract.
    *
    * Cost: O(Δ) — only files added in the interval and the DV-affected
    * pre-image files are read; manifest walking is metadata-only.
    * Downstream: a consumer maintains any monoid aggregate by ADDING
    * insert rows and SUBTRACTING delete rows ([[graft.queries
    * .StoreQueries.ivmJoinView]]'s retraction step drives exactly
    * that). */
  def changeFeed(spark: SparkSession, table: String, fromVersion: Int,
      toVersion: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val to = toVersion.getOrElse(currentVersion(table))
    require(fromVersion <= to, s"fromVersion $fromVersion is after $to")
    // outstanding renames at `to` reject here with the actionable
    // message; renames ANYWHERE in the walked interval (including ones
    // normalize later resolved) reject per-version below — pre-rename
    // files are not servable under the current schema from the log alone
    require(renamesOf(table, Some(to)).isEmpty,
      s"changeFeed over $table: outstanding #rename markers — run " +
        "Versioned.normalize first, then resync (the feed serves " +
        "canonical names)")
    val schema = schemaOf(table, Some(to)).getOrElse {
      val fs = files(table, Some(to))
      require(fs.nonEmpty, s"table $table has no committed data at $to")
      spark.read.option("mergeSchema", "true").parquet(fs: _*).schema
    }
    def lines(v: Int): Seq[String] =
      if (v == 0) Seq.empty
      else {
        val mf = manifestFile(table, v)
        if (!mf.exists) throw new IllegalStateException(
          s"changeFeed from v$fromVersion of $table is unavailable " +
            s"(manifest v$v vacuumed): full resync required")
        val ls = linesOf(table, v).filter(_.nonEmpty)
        // a rename ANYWHERE in the interval breaks the feed's raw reads:
        // files added before it carry legacy column names, and reading
        // them under the `to` schema would serve silent NULLs for the
        // renamed columns (the outstanding-renames check at `to` alone
        // misses histories normalize already resolved) — full resync,
        // same class as a vacuumed delta
        if (ls.exists(_.startsWith(RenamePrefix)))
          throw new IllegalStateException(
            s"changeFeed over $table: version $v carries #rename markers — " +
              "rows before the rename are not servable under the current " +
              "schema from the log alone; full resync required")
        ls
      }
    def dataLines(ls: Seq[String]): Set[String] =
      ls.filter(l => !l.startsWith("#")).toSet
    def dvMarkers(ls: Seq[String]): Set[(String, String)] =
      ls.filter(_.startsWith(DeletesPrefix)).map { l =>
        val (f, dv, _) = parseDeletesMarker(l); (f, dv)
      }.toSet
    val LayoutPrefixes = Seq("compact-", "optimize-", "normalize-")
    def rawRead(absFiles: Seq[String]): DataFrame =
      spark.read.schema(schema).parquet(absFiles: _*)
    def tag(df: DataFrame, change: String, v: Int): DataFrame =
      df.select(schema.fieldNames.map(col).toSeq :+
        lit(change).as("_change_type") :+
        lit(v.toLong).as("_commit_version"): _*)
    var prev = lines(fromVersion)
    val parts = (fromVersion + 1 to to).flatMap { v =>
      val curL = lines(v)
      val added = dataLines(curL) -- dataLines(prev)
      val removed = dataLines(prev) -- dataLines(curL)
      val newDvs = dvMarkers(curL) -- dvMarkers(prev)
      val oldDvs = dvMarkers(prev)
      prev = curL
      if (removed.nonEmpty) {
        // a layout-only rewrite stages under its op's batch prefix (the
        // house naming contract) and records no new deletion vectors;
        // drop-only commits (retention drops, restore) change content
        val layoutOnly = newDvs.isEmpty && added.nonEmpty &&
          added.forall(a => LayoutPrefixes.exists(a.startsWith))
        if (!layoutOnly) throw new IllegalStateException(
          s"changeFeed over $table: version $v is a content rewrite " +
            "without row-level markers (copy-on-write delete/merge/" +
            "retention/restore) — the removed rows are not " +
            "reconstructible from the log; full resync required, or use " +
            "the merge-on-read mutations for CDC-consumed tables")
        Seq.empty
      } else {
        val ins =
          if (added.isEmpty) Seq.empty
          else Seq(tag(rawRead(added.toSeq.sorted.map(resolveLine(table, _))),
            "insert", v))
        val dels =
          if (newDvs.isEmpty) Seq.empty
          else {
            import spark.implicits._
            // per affected file: NEW sidecars' positions minus positions
            // already recorded before this version (concurrent-delete
            // overlap dedup — a position deletes once)
            val meta: Seq[(String, Seq[String], Seq[String])] =
              newDvs.groupBy(_._1).toSeq.map { case (fileLine, nw) =>
                (resolveLine(table, fileLine),
                  nw.toSeq.map(x => resolveLine(table, x._2)).sorted,
                  oldDvs.filter(_._1 == fileLine).toSeq
                    .map(x => resolveLine(table, x._2)).sorted)
              }
            val pos = spark.createDataset(meta).flatMap {
              case (f, nw, old) =>
                val before = readDvPositions(old).toSet
                readDvPositions(nw).iterator
                  .filterNot(before).map(p => (f, p))
            }.toDF("__cf_f", "__cf_p")
            val pre = rawRead(meta.map(_._1))
              .withColumn("__cf_file",
                org.apache.spark.sql.functions.regexp_replace(
                  col("_metadata.file_path"), "^file:/+", "/"))
              .withColumn("__cf_pos", col("_metadata.row_index"))
            Seq(tag(pre.join(pos, pre("__cf_file") === pos("__cf_f") &&
              pre("__cf_pos") === pos("__cf_p")), "delete", v))
          }
        ins ++ dels
      }
    }
    if (parts.isEmpty)
      tag(rawRead(files(table, Some(to))), "none", to).limit(0)
    else parts.reduce(_ unionByName _)
  }

  /** Publish `newFiles` (relative to the table root) as the next version,
    * carrying forward `base`'s files minus `removed`. Returns the new
    * version. Fails if another writer committed the next version first —
    * the caller re-reads the current version and retries. */
  def commit(table: String, base: Int, newFiles: Seq[String],
      removed: Set[String] = Set.empty): Int = {
    val next = base + 1
    // a stats/bloom marker rides with its data line: removing the file
    // retires its markers too (a rewrite otherwise accumulates dangling
    // markers). Both layouts put the file line between the column name
    // and N trailing ':'-separated numeric/base64 fields, so parse from
    // the right (file lines may contain ':').
    def markerFileOf(l: String, prefix: String, trailing: Int): String = {
      val tail = l.stripPrefix(prefix).dropWhile(_ != ':').drop(1)
      var cut = tail.length
      (0 until trailing).foreach { _ => cut = tail.lastIndexOf(':', cut - 1) }
      tail.take(cut)
    }
    def retired(l: String): Boolean =
      (l.startsWith(StatsPrefix) && removed(markerFileOf(l, StatsPrefix, 2))) ||
        (l.startsWith(BloomPrefix) && removed(markerFileOf(l, BloomPrefix, 3)))
    // deletion-vector markers have NO leading column name — the file
    // line starts right after the prefix, with 2 trailing fields
    // (dvRel : count); a rewritten/removed file's vectors fold into the
    // replacement data, so its markers retire here
    def retiredDv(l: String): Boolean =
      l.startsWith(DeletesPrefix) && removed(parseDeletesMarker(l)._1)
    // a base-0 commit means the table is brand-new AT THIS PATH — if a
    // scratch journey deleted and rebuilt the directory, memoized
    // resolutions keyed to the OLD incarnation must not survive into the
    // new one (the (mtime, length) fingerprint is millisecond-granular,
    // so a same-length manifest rebuilt within one tick would otherwise
    // serve stale lines — ADVICE r15)
    if (base == 0) {
      val abs = new File(table).getAbsolutePath
      resolvedMemo.keysIterator.filter(_._1 == abs)
        .foreach(k => resolvedMemo.remove(k))
    }
    // a PENDING cross-table transaction holding the head must be decided
    // before anyone builds on it: force-abort (its driver's commit link
    // wins if it raced us there), so the carry-forward below reads a
    // DECIDED view and stalled transactions can never wedge the table
    decidePendingHead(table, base)
    val baseLines = if (base == 0) Seq.empty else linesOf(table, base)
    val kept = baseLines
      .filter(f => f.nonEmpty && !removed(f) && !retired(f) && !retiredDv(f))
    // format selection (policy in the section comment above): the delta
    // records the retired base lines explicitly so replay is a pure
    // line-set operation — `base.filterNot(removed) ++ added` replays
    // to the byte-identical sequence `kept ++ newFiles` a full write
    // would produce (order preserved: filter keeps base order, adds
    // append — renames and other order-bearing markers are safe)
    val keptSet = kept.toSet
    val removedLines = baseLines.filter(l => l.nonEmpty && !keptSet(l))
    val deltaLen = 1 + removedLines.length + newFiles.length
    val fullLen = kept.length + newFiles.length
    val asDelta = base > 0 && next % ManifestCheckpointEvery != 0 &&
      baseLines.length >= ManifestDeltaMinLines && deltaLen * 2 < fullLen &&
      // a txn-marked base resolves differently raw vs visible (the
      // marker strips on commit; an aborted version serves its
      // predecessor) — delta replay runs over RAW lines, so building a
      // delta against it would corrupt the replay; force a full listing
      !rawLinesOf(table, base).exists(_.startsWith(TxnPrefix))
    val body =
      if (asDelta)
        (DeltaHeader + base) +:
          (removedLines.map("-" + _) ++ newFiles.map("+" + _))
      else kept ++ newFiles
    manifestDir(table).mkdirs()
    val tmp = File.createTempFile(s"v$next-", ".tmp", manifestDir(table))
    Files.write(tmp.toPath,
      body.mkString("\n").getBytes(StandardCharsets.UTF_8))
    val target = manifestFile(table, next)
    // publish via hard link: link(2) fails with EEXIST atomically if the
    // target exists — a true put-if-absent (rename(2) would silently
    // REPLACE, losing a concurrent writer's commit). The EEXIST throw IS
    // the optimistic-concurrency conflict signal: first writer won.
    try {
      Files.createLink(target.toPath, tmp.toPath)
      tmp.delete()
      next
    } catch {
      // ONLY EEXIST means a concurrent writer won; any other I/O failure
      // (permissions, link limits) must surface as itself, not masquerade
      // as a retryable conflict
      case e: java.nio.file.FileAlreadyExistsException =>
        tmp.delete()
        throw new IllegalStateException(
          s"commit conflict on $table v$next: a concurrent writer won; re-read and retry", e)
    }
  }

  /** Exactly-once streaming append: bind a streaming DataFrame to this
    * table through `foreachBatch` + [[appendBatchIdempotent]]. Spark's
    * checkpoint gives at-least-once `foreachBatch` invocations across
    * restarts; the manifest-ledger dedup turns that into exactly-once
    * COMMITTED data — the Delta streaming-sink idempotence contract,
    * built on this table's own atomicity primitive. */
  def appendStream(events: DataFrame, table: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        appendBatchIdempotent(batch, table, id): Unit
      }
      .start()

  private def streamMarker(id: Long) = s"#stream:$id"

  /** The streaming batch-ledger marker line for `id` — exposed so a
    * [[MultiTxn]]-based multi-table streaming sink can carry the same
    * exactly-once ledger [[appendBatchIdempotent]] uses, checked with
    * [[processedBatch]]. */
  private[graft] def batchMarker(id: Long): String = streamMarker(id)

  /** Has streaming batch `id` already been committed? The ledger is the
    * CURRENT manifest's marker lines — atomic with the data publish (a
    * crash between data write and commit leaves no marker, so the replay
    * re-lands the batch under a fresh dir and the orphan is vacuumed),
    * and carried through compaction/optimize/delete rewrites, which
    * remove only data-file lines. */
  def processedBatch(table: String, id: Long): Boolean = {
    val cur = currentVersion(table)
    cur > 0 && linesOf(table, cur).contains(streamMarker(id))
  }

  /** Append a micro-batch exactly once: no-op (returning the current
    * version) if the batch's marker is already in the manifest,
    * otherwise land data + marker in one atomic commit. Single writer
    * per streaming query (Spark's checkpoint serializes epochs); the
    * optimistic-conflict retry handles OTHER writers (batch appends,
    * compactions), never a same-id race.
    *
    * `ledgerHorizon` bounds the retained batch-id markers: markers older
    * than `batchId - ledgerHorizon` are trimmed so the manifest doesn't
    * grow one line per epoch forever. It must comfortably exceed the
    * checkpoint's replay window (foreachBatch only redelivers trailing
    * epochs). CAVEAT a caller must know: REBUILDING the checkpoint
    * against an existing table restarts batch ids near 0 — those ids'
    * markers were trimmed long ago, so exactly-once is forfeited for the
    * replayed window (the batches double-land). Keep the checkpoint, or
    * start a fresh table with it. */
  def appendBatchIdempotent(df: DataFrame, table: String, batchId: Long,
      maxRetries: Int = 5, ledgerHorizon: Long = 1000): Int = {
    require(ledgerHorizon > 0, s"ledgerHorizon must be positive, got $ledgerHorizon")
    if (processedBatch(table, batchId)) return currentVersion(table)
    // same re-validate-on-rebase discipline as [[append]]: the commit
    // loop below re-checks constraints whenever a retry's base carries a
    // constraint set the batch hasn't been validated against
    var validatedCons = constraintsOf(table, Some(currentVersion(table)))
    requireConstraints(validatedCons, df)
    val batch = f"stream-$batchId%06d-${java.util.UUID.randomUUID().toString.take(8)}"
    val added = stageFiles(df, table, batch)
    var attempt = 0
    while (true) {
      val cur = currentVersion(table)
      val consNow = constraintsOf(table, Some(cur))
      if (consNow != validatedCons) {
        requireConstraints(consNow, df)
        validatedCons = consNow
      }
      val stale: Set[String] =
        if (cur == 0) Set.empty
        else linesOf(table, cur).toSet
          .filter(l => l.startsWith("#stream:") &&
            l.stripPrefix("#stream:").toLongOption.exists(_ < batchId - ledgerHorizon))
      try return commit(table, cur, added :+ streamMarker(batchId), stale)
      catch {
        case e: IllegalStateException =>
          attempt += 1
          if (attempt > maxRetries) throw e
      }
    }
    -1 // unreachable
  }

  /** Idempotent variant of [[commitExternalFiles]] for the V2 STREAMING
    * sink ([[graft.sources.VersionedV2]]): publication is keyed by the
    * epoch id through the same `#stream:` ledger as
    * [[appendBatchIdempotent]] (one stream per table, ledger-horizon
    * trimming, checkpoint-rebuild caveat identical). A replayed epoch
    * deletes its re-staged files and returns without committing — the
    * exactly-once half the engine owns; schema is stream-stable by the
    * same contract (no evolution here). An all-empty epoch commits just
    * its ledger marker so replays of it are recognized too. */
  def commitExternalFilesIdempotent(spark: SparkSession, table: String,
      relFiles: Seq[String], batchId: Long, maxRetries: Int = 5,
      ledgerHorizon: Long = 1000): Int = {
    require(ledgerHorizon > 0, s"ledgerHorizon must be positive, got $ledgerHorizon")
    if (processedBatch(table, batchId)) {
      relFiles.foreach(r => new File(table, r).delete(): Unit)
      return currentVersion(table)
    }
    var validatedCons = constraintsOf(table, Some(currentVersion(table)))
    if (relFiles.nonEmpty)
      requireConstraints(validatedCons,
        spark.read.parquet(relFiles.map(r => new File(table, r).getPath): _*))
    var attempt = 0
    while (true) {
      val cur = currentVersion(table)
      val consNow = constraintsOf(table, Some(cur))
      if (consNow != validatedCons) {
        if (relFiles.nonEmpty)
          requireConstraints(consNow,
            spark.read.parquet(relFiles.map(r => new File(table, r).getPath): _*))
        validatedCons = consNow
      }
      val stale: Set[String] =
        if (cur == 0) Set.empty
        else linesOf(table, cur).toSet
          .filter(l => l.startsWith("#stream:") &&
            l.stripPrefix("#stream:").toLongOption.exists(_ < batchId - ledgerHorizon))
      try return commit(table, cur, relFiles :+ streamMarker(batchId), stale)
      catch {
        case e: IllegalStateException =>
          attempt += 1
          if (attempt > maxRetries) throw e
      }
    }
    -1 // unreachable
  }

  /** Fields of `s` as (name → type), nullability erased — the identity
    * under which two batch schemas "match" (parquet nullability is
    * per-file metadata, not a table contract here: any column can be
    * NULL in files that predate it). */
  private def shape(s: org.apache.spark.sql.types.StructType): Map[String, org.apache.spark.sql.types.DataType] =
    s.fields.map(f => f.name -> f.dataType).toMap

  /** Union of the recorded table schema and an incoming batch schema:
    * shared names must agree on type (no silent widening — an
    * incompatible batch is a caller error, surfaced here, not a
    * schema-on-read surprise later); new fields append AFTER the
    * existing ones in batch order; everything is nullable (pre-evolution
    * files have no values for new columns, post-evolution batches may
    * omit old ones). */
  private def evolveSchema(recorded: org.apache.spark.sql.types.StructType,
      incoming: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType = {
    val rec = shape(recorded)
    incoming.fields.foreach { f =>
      rec.get(f.name).foreach { t =>
        // a batch NARROWER than the recorded type on a lossless widening
        // chain lands as written (the scan upcasts it under the recorded
        // schema — the post-widenColumn steady state); anything else is
        // a type change evolution must not do silently
        require(t == f.dataType || widens(f.dataType, t),
          s"schema evolution cannot change column '${f.name}' from $t to ${f.dataType} " +
            "(add a new column instead, or Versioned.widenColumn for a " +
            "lossless numeric widening)")
      }
    }
    val existing = recorded.fieldNames.toSet
    org.apache.spark.sql.types.StructType(
      recorded.fields.map(_.copy(nullable = true)) ++
        incoming.fields.filterNot(f => existing(f.name)).map(_.copy(nullable = true)))
  }

  /** Append a DataFrame as a new version: data lands in an isolated batch
    * dir first (invisible to readers), then one manifest commit publishes
    * it. On commit conflict the data files are already safe on disk; the
    * retry re-commits against the new base without rewriting data.
    *
    * Schema evolution (add-column): a batch whose typed column set is
    * not EXACTLY the table's evolves it — the commit stamps a
    * `#schema:` marker with the UNION schema (existing columns first,
    * new ones appended), and every read of that version onward applies
    * it, surfacing rows from narrower files with NULL in the columns
    * they lack. Wider batches add columns; NARROWER batches stamp the
    * current schema unchanged — either way, the first commit that mixes
    * file widths records which width reads must apply (a subset batch
    * without a marker would leave reads dependent on footer listing
    * order). The FIRST append to a table is marker-free (nothing to
    * unify yet); any later append to a still-marker-free table stamps
    * the footer-merge union once, after which no append or read opens a
    * footer again. Because the union depends on the
    * base version's marker, a conflict re-DERIVES the marker against the
    * new current version before retrying (two racing evolutions must
    * merge, not overwrite each other); the data files never rewrite.
    * Streaming appends ([[appendBatchIdempotent]]) are schema-stable by
    * contract and skip all of this. */
  def append(df: DataFrame, table: String, maxRetries: Int = 5): Int = {
    // validate against the ENTRY version; the retry loop re-validates
    // whenever its base carries a DIFFERENT constraint set — an
    // addConstraint that commits between this validation and a retried
    // commit must gate the append (ADVICE round 9: the blind retry let
    // such appends land rows violating the new constraint; merge always
    // re-validated, append did not).
    //
    // r17 (VERDICT r16 #2, guide §1.2): on the native staging path the
    // probe FOLDS INTO the staged write via `observe` — the violation
    // counts collect while the batch writes, so a constrained append
    // runs ONE pass over the source instead of two. A violating batch's
    // staged dir is deleted before the error surfaces, preserving the
    // no-files-on-reject contract (the commit never referenced them
    // either way). The V2 staging path keeps the standalone probe: its
    // writer drives a raw RDD action, which never completes an SQL
    // execution, so an Observation there would block forever.
    val validatedCons = constraintsOf(table, Some(currentVersion(table)))
    val batch = f"batch-${java.util.UUID.randomUUID().toString.take(8)}"
    val added =
      if (validatedCons.isEmpty || graft.sources.V2Shape.needsV2Staging(df.schema)) {
        requireConstraints(validatedCons, df)
        stageFiles(df, table, batch)
      } else {
        val obs = org.apache.spark.sql.Observation()
        val cols = violationCols(validatedCons)
        val staged = stageFiles(df.observe(obs, cols.head, cols.tail: _*),
          table, batch)
        val row = obs.get
        val bad = validatedCons.indices.map(i =>
          row.getOrElse(s"c$i", null) match {
            case l: java.lang.Long => l.longValue()
            case _ => 0L // null ⇐ empty batch
          })
        if (bad.exists(_ != 0)) {
          val d = new File(table, batch)
          Option(d.listFiles()).foreach(_.foreach(f => f.delete(): Unit))
          d.delete()
          raiseViolations(validatedCons, bad)
        }
        staged
      }
    publishStaged(df.sparkSession, df, table, added, validatedCons, maxRetries)
  }

  /** Commit parquet files STAGED UNDER the table dir by an external
    * writer (the DataSource V2 write path,
    * [[graft.sources.VersionedV2]]): same contract as [[append]] — CHECK
    * constraints validated against the staged rows before publication,
    * schema evolution/marker stamping, conflict retries without data
    * rewrite — with the data producer decoupled from Spark's write
    * pipeline. `relFiles` are manifest-line-relative paths. */
  def commitExternalFiles(spark: SparkSession, table: String,
      relFiles: Seq[String], maxRetries: Int = 5): Int = {
    require(relFiles.nonEmpty, "commitExternalFiles: no staged files")
    val staged = spark.read.parquet(
      relFiles.map(r => new File(table, r).getPath): _*)
    val cons = constraintsOf(table, Some(currentVersion(table)))
    requireConstraints(cons, staged)
    publishStaged(spark, staged, table, relFiles, cons, maxRetries)
  }

  /** Publish a GROUP REWRITE staged by an external writer (the SQL
    * UPDATE/MERGE INTO path, [[graft.sources.VersionedV2]]'s
    * row-level-operation write): `addedRel` replace `removedAbs` in one
    * atomic commit, with CHECK constraints validated against the staged
    * rows first. Unlike append's blind conflict retry, a retry here
    * re-verifies that every removed file still exists in the new base —
    * a concurrent rewrite of an overlapping group is a LOST UPDATE, so
    * it surfaces as a clear conflict error (Delta's write-conflict
    * contract) rather than silently re-removing vanished lines. */
  def commitExternalRewrite(spark: SparkSession, table: String,
      addedRel: Seq[String], removedAbs: Seq[String],
      maxRetries: Int = 5,
      knownDvAbs: Map[String, Seq[String]] = Map.empty,
      extraMarkers: Seq[String] = Seq.empty): Int = {
    if (addedRel.nonEmpty) {
      val staged = spark.read.parquet(
        addedRel.map(r => new File(table, r).getPath): _*)
      requireConstraints(constraintsOf(table, Some(currentVersion(table))), staged)
    }
    val removedRel = removedAbs.map(abs => manifestLineOf(table, abs)).toSet
    // the deletion vectors the planning-time scan ALREADY folded into its
    // rows, in manifest form — a `#deletes:` marker on a scanned file that
    // is NOT in this set landed after planning; committing would retire it
    // while the staged data still carries its rows (resurrection)
    val knownDv: Set[(String, String)] = knownDvAbs.toSeq.flatMap {
      case (fAbs, dvs) => dvs.map(dvAbs =>
        (manifestLineOf(table, fAbs), manifestLineOf(table, dvAbs)))
    }.toSet
    var attempt = 0
    while (true) {
      val cur = currentVersion(table)
      val lines = linesOf(table, cur).toSet
      val gone = removedRel.filterNot(lines)
      if (gone.nonEmpty) throw new IllegalStateException(
        s"row-level rewrite conflict on $table: ${gone.size} scanned file(s) " +
          "were rewritten concurrently — re-run the statement against the " +
          "current version")
      val dvNow = lines.filter(_.startsWith(DeletesPrefix)).map { l =>
        val (fileLine, dvRel, _) = parseDeletesMarker(l)
        (fileLine, dvRel)
      }.filter { case (line, _) => removedRel(line) }
      if ((dvNow -- knownDv).nonEmpty) throw new IllegalStateException(
        s"row-level rewrite conflict on $table: a merge-on-read delete landed " +
          "on a scanned file after planning — re-run the statement against " +
          "the current version (committing would resurrect the deleted rows)")
      // extraMarkers (e.g. stats lines the writer derived for its own
      // staged files) ride the SAME atomic commit as the data lines
      try return commit(table, cur, addedRel ++ extraMarkers, removedRel)
      catch {
        case e: IllegalStateException if e.getMessage.contains("commit conflict") =>
          attempt += 1
          if (attempt > maxRetries) throw e
      }
    }
    -1 // unreachable
  }

  /** The publish loop shared by [[append]] and [[commitExternalFiles]]:
    * staged data files are already on disk (invisible — not yet in any
    * manifest); this resolves constraints/schema against the current
    * base and commits, retrying on conflict without touching data. */
  private def publishStaged(spark: SparkSession, df: DataFrame, table: String,
      added: Seq[String], preValidated: Seq[(String, String)],
      maxRetries: Int): Int = {
    var validatedCons = preValidated
    var attempt = 0
    while (true) {
      val cur = currentVersion(table)
      val consNow = constraintsOf(table, Some(cur))
      if (consNow != validatedCons) {
        requireConstraints(consNow, df)
        validatedCons = consNow
      }
      // the table schema this append sees: the recorded marker, else (for
      // marker-free tables) a ONE-TIME footer-merge union over the
      // current files, stamped below so the pass never repeats. A
      // marker-free nonempty table is either brand-new (one batch — the
      // union pass is a handful of footers) or LEGACY, written before
      // the marker invariant existed, whose files may mix widths (old
      // code committed typed-subset batches marker-free); sampling one
      // footer there left the read ambiguity the marker exists to
      // remove whenever the batch happened to fit the sampled footer
      // (ADVICE round 9). Merging all footers is the only sound
      // recovery of the true union, and stamping it converts the table:
      // from the next version on, appends and reads resolve the schema
      // from the log without opening ANY footer — cheaper at steady
      // state than the old one-footer sample per append.
      def fitsSchema(ts: org.apache.spark.sql.types.StructType): Boolean = {
        val rec = shape(ts)
        // exact type, or losslessly NARROWER than the recorded type (the
        // post-widenColumn steady state: the file lands narrow, the scan
        // upcasts it under the recorded wide schema — no marker churn)
        df.schema.fields.forall(f => rec.get(f.name)
          .exists(t => t == f.dataType || widens(f.dataType, t))) &&
          rec.size == df.schema.fields.length
      }
      val recorded = schemaOf(table, Some(cur))
      val tableSchema: Option[org.apache.spark.sql.types.StructType] =
        recorded.orElse {
          val fs = files(table, Some(cur))
          if (fs.isEmpty) None
          else Some(spark.read.option("mergeSchema", "true").parquet(fs: _*).schema)
        }
      // `fits` requires the EXACT typed column set, not just a subset: a
      // narrower batch would otherwise commit mixed-width files whose
      // recorded schema no longer names every width in play. Narrower
      // batches therefore evolve too (the union is just the current
      // schema, re-stamped unchanged).
      val fits = tableSchema.forall(fitsSchema)
      val (markerAdd, markerRemove): (Seq[String], Set[String]) =
        if (fits && (recorded.nonEmpty || tableSchema.isEmpty)) (Seq.empty, Set.empty)
        else {
          val union = evolveSchema(
            tableSchema.getOrElse(org.apache.spark.sql.types.StructType(Nil)), df.schema)
          // tombstoned names may not come back through evolution: the old
          // files' physical bytes would resurrect under the re-added
          // column (see dropColumn)
          val dropped = droppedOf(table, Some(cur)).toSet
          val resurrected = union.fieldNames
            .filterNot(tableSchema.map(_.fieldNames.toSet).getOrElse(Set.empty))
            .filter(dropped)
          require(resurrected.isEmpty,
            s"append would re-introduce dropped column(s) " +
              s"${resurrected.mkString(", ")} on $table — old files still " +
              "hold their bytes; Versioned.purgeDropped first, or use a " +
              "different name")
          // remove the literal marker line(s) present in the base manifest
          // (regenerating the line could miss a formatting difference)
          val stale: Set[String] =
            if (cur == 0) Set.empty
            else linesOf(table, cur).toSet.filter(_.startsWith(SchemaPrefix))
          (Seq(SchemaPrefix + union.json), stale)
        }
      try return commit(table, cur, added ++ markerAdd, markerRemove)
      catch {
        case e: IllegalStateException =>
          attempt += 1
          if (attempt > maxRetries) throw e
        // loop: re-read the current version and re-derive the marker
      }
    }
    -1 // unreachable
  }

  /** Rewrite the CURRENT version's files into one compacted batch and
    * commit (add compacted, remove inputs). Readers pinned to older
    * versions still resolve the old files — nothing is deleted here. */
  def compact(spark: SparkSession, table: String, maxRetries: Int = 5): Int = {
    val base = currentVersion(table)
    val inputRel = files(table, Some(base)).map(abs => manifestLineOf(table, abs))
    val batch = f"compact-${java.util.UUID.randomUUID().toString.take(8)}"
    val added = stageFiles(read(spark, table, Some(base)).coalesce(1),
      table, batch)
    commitRewrite(table, base, added, inputRel.toSet, maxRetries)
  }

  /** Predicate delete that rewrites ONLY the files containing matching
    * rows — the GDPR-erasure / retention-sweep shape at 100 TB, where
    * rewriting the table for a one-user delete is unthinkable. Finding
    * the affected files is one pruned scan (`cond` pushes into the
    * parquet footers, so files whose stats exclude it are never opened)
    * collecting one row PER AFFECTED FILE, bounded by file count;
    * untouched files carry into the new manifest by reference. Returns
    * the new version (the current one if nothing matched).
    *
    * Erasure caveat, by design of snapshot isolation: older versions
    * still reference the pre-delete files — physical erasure completes
    * when `vacuum` retires them from the horizon. VersionedSpec pins
    * both halves. */
  def deleteWhere(spark: SparkSession, table: String,
      cond: org.apache.spark.sql.Column, maxRetries: Int = 5): Int = {
    requireNoRenames(table, "deleteWhere")
    val base = currentVersion(table)
    // NO small-table fast path here, unlike merge: deleteWhere's contract
    // includes "no match ⇒ same version, nothing rewritten" and "files
    // without matches carry by reference" (VersionedSpec pins both), and
    // only the selection scan can establish no-match without a commit.
    // readTagged: provenance survives the DV anti-join on tables with
    // outstanding deletion vectors (input_file_name goes blank there)
    val affected = readTagged(spark, table, base, files(table, Some(base)))
      .filter(cond)
      .select(org.apache.spark.sql.functions.col("__graft_path").as("f"))
      .distinct().collect().map(r => toLocalPath(r.getString(0)))
    if (affected.isEmpty) return base
    // keep rows where cond IS NOT TRUE: three-valued logic makes a plain
    // !cond evaluate to NULL (→ dropped) for rows where the predicate is
    // NULL — which would silently delete rows that never matched
    val keep = readUnder(spark, table, base, affected.toIndexedSeq)
      .filter(!org.apache.spark.sql.functions.coalesce(
        cond, org.apache.spark.sql.functions.lit(false)))
      .coalesce(rewriteWidth(tableBytes(affected.toIndexedSeq)))
    val batch = f"delete-${java.util.UUID.randomUUID().toString.take(8)}"
    val added = stageFiles(keep, table, batch)
    val removedRel = affected.map(abs => manifestLineOf(table, abs)).toSet
    commitRewrite(table, base, added, removedRel, maxRetries)
  }

  /** Delta-style MERGE INTO (upsert by key): table rows whose key matches
    * an update row are REPLACED by it, update rows with no match are
    * INSERTED — whenMatched-update-all / whenNotMatched-insert-all, the
    * CDC-apply shape. File-pruned like [[deleteWhere]]: the files
    * holding matched keys are found with one semi-join scan collecting
    * one row PER AFFECTED FILE (bounded by file count, never rows);
    * only those files rewrite (matched rows dropped via anti join, the
    * full update set unioned in); untouched files carry into the new
    * manifest by reference — at 100 TB a small CDC batch rewrites a few
    * files, not the table. Returns the new version.
    *
    * Contracts a caller must know: update keys must be UNIQUE (two
    * update rows with one key both land — dedup upstream, e.g. SCD-style
    * latest-wins first); NULL keys never match (SQL join semantics), so
    * null-key update rows insert and null-key table rows are never
    * replaced. Snapshot isolation as everywhere: older versions still
    * resolve the pre-merge files until vacuum.
    *
    * Concurrency: a merge conflict is NOT blind-retried the way append's
    * ledger races are. Any commit that lands after `base` was read —
    * including a plain append, whose new files may carry rows with
    * matched keys — fails the put-if-absent commit, and the WHOLE merge
    * re-derives against the new current version (re-scan for affected
    * files, re-rewrite) before retrying, up to `maxRetries`. A blind
    * retry would be a lost update: concurrently appended matching rows
    * would survive next to the merge's replacement rows, leaving
    * duplicate keys. VersionedSpec races merges against appends and
    * pins key uniqueness + no-lost-rows over the final state.
    *
    * `wholeRewriteBelowBytes` (opt-in, default 0 = always prune): when
    * the caller KNOWS the table is delta-sized (an IVM view, a support
    * table, a serving digest), a positive threshold skips the
    * affected-file selection scan whenever the table's current bytes
    * are under it and rewrites whole — under one task's worth of bytes
    * the selection action cannot save I/O, only add a job roundtrip
    * ([[WholeRewriteBytes]] is the suggested value). */
  def merge(spark: SparkSession, table: String, updates: DataFrame,
      keys: Seq[String], maxRetries: Int = 5,
      wholeRewriteBelowBytes: Long = 0L): Int =
    mergeWithManifestExtras(spark, table, updates, keys, maxRetries,
      extraAdd = Seq.empty, extraRemove = _ => Set.empty,
      wholeRewriteBelowBytes = wholeRewriteBelowBytes)

  /** [[merge]] with Delta's whenMatchedDelete arm: update rows
    * satisfying `deleteWhen` DELETE their matched table rows (and are
    * never inserted); the rest upsert as usual. Folds a maintenance
    * merge and its follow-up purge ("drop groups retracted to zero")
    * into ONE commit — the IVM consumers' shape, where a retraction
    * batch both adjusts surviving groups and kills emptied ones. */
  def mergeWithDeletes(spark: SparkSession, table: String, updates: DataFrame,
      keys: Seq[String], deleteWhen: org.apache.spark.sql.Column,
      maxRetries: Int = 5, wholeRewriteBelowBytes: Long = 0L): Int =
    mergeWithManifestExtras(spark, table, updates, keys, maxRetries,
      extraAdd = Seq.empty, extraRemove = _ => Set.empty,
      deleteWhen = Some(deleteWhen),
      wholeRewriteBelowBytes = wholeRewriteBelowBytes)

  /** Suggested `wholeRewriteBelowBytes` for [[merge]] on tables the
    * caller KNOWS are delta-sized (IVM views, support tables, serving
    * digests): under this many bytes the rewrite is ONE task, so file
    * pruning cannot save any I/O — but the selection pass costs a full
    * extra action (plan + schedule + collect roundtrip), which DOMINATES
    * small-table maintenance (VERDICT r15 #1: the IVM journeys' cost is
    * N_commits × fixed job overhead, and the selection scan was half of
    * every merge's job count). Opt-in, never a silent default: merge's
    * documented contract — untouched files carry by reference — is load-
    * bearing for big tables, and VersionedSpec pins it on small
    * fixtures. */
  val WholeRewriteBytes: Long = 32L << 20

  private def tableBytes(absFiles: Seq[String]): Long =
    absFiles.iterator.map(f => new File(f).length()).sum

  /** Output-file count for a rewrite of `bytes` worth of inputs:
    * ~64 MiB per file, at least one. A rewrite's staged width follows
    * the REWRITTEN BYTES, not the source frame's partitioning — a
    * broadcast-join/union plan otherwise inherits a 32-partition
    * localCheckpoint upstream and stages 32 near-empty files per
    * commit, snowballing the table's file count (and, past the
    * parallel-listing threshold, adding a listing JOB to every
    * subsequent read). */
  private def rewriteWidth(bytes: Long): Int =
    math.max(1L, (bytes + (64L << 20) - 1) / (64L << 20)).min(10000L).toInt

  /** One MERGE attempt's files against `base`: writes the batch dir and
    * returns (added relative paths, removed relative paths). Shared by
    * [[merge]] and [[mergeBatchIdempotent]], whose commits differ only
    * in manifest marker lines. `deleteWhen`: Delta's
    * whenMatchedDelete — update rows satisfying it DELETE their matched
    * table rows (and never insert) instead of replacing them. */
  private def mergeAttemptFiles(spark: SparkSession, table: String,
      updates: DataFrame, keys: Seq[String], base: Int,
      deleteWhen: Option[org.apache.spark.sql.Column],
      wholeRewriteBelowBytes: Long): (Seq[String], Set[String]) = {
    import org.apache.spark.sql.functions.{coalesce => fnCoalesce, lit}
    val batch = f"merge-${java.util.UUID.randomUUID().toString.take(8)}"
    val upserts = deleteWhen match {
      case Some(cond) => updates.filter(!fnCoalesce(cond, lit(false)))
      case None => updates
    }
    if (base == 0) // empty table: a merge is a plain insert
      return (stageFiles(upserts, table, batch), Set.empty)
    val keyCols = keys.map(org.apache.spark.sql.functions.col)
    // the anti-join key set covers DELETE rows too: their matched table
    // rows must drop, they just contribute nothing to the union
    val updKeys = updates.select(keyCols: _*).distinct()
    val allFiles = files(table, Some(base))
    val whole = wholeRewriteBelowBytes > 0 &&
      tableBytes(allFiles) < wholeRewriteBelowBytes
    val affected: Array[String] =
      if (whole) allFiles.toArray
      else // readTagged: provenance survives the DV anti-join (see deleteWhere)
        readTagged(spark, table, base, allFiles)
          .withColumnRenamed("__graft_path", "__f")
          .join(updKeys, keys, "left_semi")
          .select("__f").distinct().collect().map(r => toLocalPath(r.getString(0)))
    val ordered = upserts.select(readSchemaOf(spark, table, base).fieldNames
      .map(org.apache.spark.sql.functions.col).toSeq: _*)
    val newData =
      if (affected.isEmpty) ordered // pure insert: no file rewrites
      else readUnder(spark, table, base, affected.toIndexedSeq)
        .join(updKeys, keys, "left_anti") // drop the rows being replaced
        .unionByName(ordered)
        .coalesce(rewriteWidth(tableBytes(affected.toIndexedSeq)))
    val added = stageFiles(newData, table, batch)
    val removedRel = affected.map(abs => manifestLineOf(table, abs)).toSet
    (added, removedRel)
  }

  private def mergeWithManifestExtras(spark: SparkSession, table: String,
      updates: DataFrame, keys: Seq[String], maxRetries: Int,
      extraAdd: Seq[String], extraRemove: Int => Set[String],
      deleteWhen: Option[org.apache.spark.sql.Column] = None,
      wholeRewriteBelowBytes: Long = 0L): Int = {
    require(keys.nonEmpty, "merge needs at least one key column")
    requireNoRenames(table, "merge")
    // evaluate the SOURCE once: a merge reads `updates` several times
    // (constraint probe, key distinct for file selection, the staged
    // rewrite), so a lazily-recomputed source pays its whole upstream
    // plan per pass — a change-feed-derived delta re-ran its manifest
    // walk and DV decode three times per merge (VERDICT r14 #4) — and a
    // nondeterministic source could select files and stage rows from
    // DIFFERENT evaluations. Delta materializes the MERGE source for
    // the same two reasons. cache() (not an eager localCheckpoint —
    // that added a whole extra job to every micro-batch upsert): the
    // first pass populates it, later passes read it back, and the
    // batch-sized blocks release right after the commit.
    val upd = updates.cache()
    try {
      var attempt = 0
      while (true) {
        val base = currentVersion(table)
        try {
          requireConstraints(constraintsOf(table, Some(base)), upd)
          val (added, removedRel) = mergeAttemptFiles(
            spark, table, upd, keys, base, deleteWhen, wholeRewriteBelowBytes)
          return commit(table, base, added ++ extraAdd, removedRel ++ extraRemove(base))
        } catch {
          case e: IllegalStateException =>
            attempt += 1
            if (attempt > maxRetries) throw e
          // loop: re-read currentVersion and re-derive everything; the
          // failed attempt's batch files sit unreferenced by any manifest
          // and fall to vacuum like any orphan
        }
      }
      -1 // unreachable
    } finally upd.unpersist()
  }

  /** MERGE a streaming micro-batch exactly once — [[merge]] with
    * [[appendBatchIdempotent]]'s ledger: a replayed `batchId` whose
    * marker is already in the current manifest is a no-op, otherwise the
    * upsert's data files, the `#stream:` marker, and the retirement of
    * markers past the ledger horizon land in ONE atomic commit. This is
    * the foreachBatch upsert sink's contract ([[graft.streaming.Streams
    * .upsertStream]]): restart-replayed micro-batches cannot double-
    * apply, because the marker is atomic with the data publish. Same
    * single-writer-per-batchId assumption as the append form. */
  def mergeBatchIdempotent(spark: SparkSession, table: String, updates: DataFrame,
      keys: Seq[String], batchId: Long, maxRetries: Int = 5,
      ledgerHorizon: Long = 1000, wholeRewriteBelowBytes: Long = 0L): Int = {
    require(ledgerHorizon > 0, s"ledgerHorizon must be positive, got $ledgerHorizon")
    if (processedBatch(table, batchId)) return currentVersion(table)
    def stale(base: Int): Set[String] =
      if (base == 0) Set.empty
      else linesOf(table, base).toSet
        .filter(l => l.startsWith("#stream:") &&
          l.stripPrefix("#stream:").toLongOption.exists(_ < batchId - ledgerHorizon))
    mergeWithManifestExtras(spark, table, updates, keys, maxRetries,
      extraAdd = Seq(streamMarker(batchId)), extraRemove = stale,
      wholeRewriteBelowBytes = wholeRewriteBelowBytes)
  }

  /** `input_file_name()` yields a URI on most filesystems and a bare
    * path on some; normalize either to an absolute local path. */
  private def toLocalPath(s: String): String =
    (if (s.startsWith("file:")) new File(java.net.URI.create(s)) else new File(s))
      .getAbsolutePath

  /** The manifest line an absolute data path appears under: relative for
    * files inside the table root, the absolute path itself for external
    * references (shallow-clone sources). Rewrite commits must remove the
    * LINE as written — relativizing an external path would miss it. */
  private def manifestLineOf(table: String, abs: String): String = {
    val root = Paths.get(table).toAbsolutePath
    val p = Paths.get(abs)
    if (p.startsWith(root)) root.relativize(p).toString else abs
  }

  /** Outcome of a [[retentionDelete]]: files dropped from the manifest
    * WITHOUT being read, files rewritten row-level, files untouched. */
  case class RetentionOutcome(version: Int, droppedMeta: Int,
      rewritten: Int, untouched: Int)

  /** Stats-driven retention DELETE (`column < cutoff` — the TTL job):
    * the manifest [min, max] markers (X157) classify every file WITHOUT
    * opening it — max < cutoff → the whole file drops as pure METADATA
    * (no read, no rewrite: the way a retention sweep must work at
    * 100 TB, where most files are entirely expired or entirely live);
    * min ≥ cutoff → untouched; only STRADDLERS (and statless files,
    * conservatively) pay a row-level rewrite. Dropped/rewritten files'
    * stats and bloom markers retire with them (commit()); snapshot
    * isolation as everywhere — older versions still resolve the expired
    * files until vacuum. */
  def retentionDelete(spark: SparkSession, table: String, column: String,
      cutoff: Long, maxRetries: Int = 5): RetentionOutcome = {
    requireNoRenames(table, "retentionDelete")
    val base = currentVersion(table)
    val stats = statsOf(table, Some(base))
    val fs = files(table, Some(base))
    val classified = fs.map { abs =>
      stats.get((column, manifestLineOf(table, abs))) match {
        case Some((_, mx)) if mx < cutoff => (abs, "drop")
        case Some((mn, _)) if mn >= cutoff => (abs, "keep")
        case _ => (abs, "rewrite") // straddler, or no stats: read it
      }
    }
    val drop = classified.collect { case (f, "drop") => f }
    val rewrite = classified.collect { case (f, "rewrite") => f }
    if (drop.isEmpty && rewrite.isEmpty)
      return RetentionOutcome(base, 0, 0, fs.size)
    val (added, reallyRewritten) =
      if (rewrite.isEmpty) (Seq.empty[String], 0)
      else {
        // NULL column values never match `< cutoff` (three-valued
        // logic, same rule as deleteWhere) — keep them
        val keep = readUnder(spark, table, base, rewrite)
          .filter(org.apache.spark.sql.functions.coalesce(
            org.apache.spark.sql.functions.col(column) >= cutoff,
            org.apache.spark.sql.functions.lit(true)))
        val batch = f"retention-${java.util.UUID.randomUUID().toString.take(8)}"
        (stageFiles(keep, table, batch), rewrite.size)
      }
    val removedRel = (drop ++ rewrite).map(abs => manifestLineOf(table, abs)).toSet
    val v = commitRewrite(table, base, added, removedRel, maxRetries)
    RetentionOutcome(v, drop.size, reallyRewritten,
      fs.size - drop.size - rewrite.size)
  }

  /** Delta-style OPTIMIZE … ZORDER BY: rewrite the CURRENT version
    * Z-ordered on two integer dimensions (Morton interleave via
    * [[Clustered.writeZOrdered]]) and publish it as one manifest commit
    * — add the clustered batch, remove the inputs. Readers pinned to
    * older versions still resolve the old files; the new version's
    * parquet footers carry narrow min/max envelopes on BOTH dimensions,
    * so 2-D box predicates skip files instead of scanning them
    * (VersionedSpec counts the skippable-file delta). At scale this is
    * the background job that keeps scan pruning healthy as appends
    * accumulate in arrival order. */
  def optimize(spark: SparkSession, table: String, x: String, y: String,
      numFiles: Int = 16, maxRetries: Int = 5): Int = {
    requireNoRenames(table, "optimize")
    val base = currentVersion(table)
    val inputRel = files(table, Some(base)).map(abs => manifestLineOf(table, abs))
    val batch = f"optimize-${java.util.UUID.randomUUID().toString.take(8)}"
    val added = stageFiles(Clustered.zOrdered(read(spark, table, Some(base)),
      numFiles, org.apache.spark.sql.functions.col(x),
      org.apache.spark.sql.functions.col(y)), table, batch)
    commitRewrite(table, base, added, inputRel.toSet, maxRetries)
  }

  /** Targeted small-file compaction: rewrite ONLY the current version's
    * files smaller than `smallBytes` into bin-packed batches of
    * ~`targetBytes`, leaving every file already at healthy size
    * referenced as-is in the new manifest. This is the steady-state
    * maintenance shape at scale — full [[compact]] rewrites the whole
    * table (O(table) IO per run, unusable at 100 TB), while streaming
    * ingest and frequent small appends produce exactly the small-file
    * tail this sweeps; cost is O(small tail). Returns the new version,
    * or the current one unchanged if fewer than two small files exist
    * (rewriting one file buys nothing). Snapshot isolation is untouched:
    * inputs stay on disk for older manifests until vacuum. */
  def compactSmall(spark: SparkSession, table: String, smallBytes: Long = 32L << 20,
      targetBytes: Long = 128L << 20, maxRetries: Int = 5): Int = {
    requireNoRenames(table, "compactSmall")
    val base = currentVersion(table)
    val all = files(table, Some(base))
    val small = all.filter(f => new File(f).length() < smallBytes)
    if (small.length < 2) return base
    // bin count from total small bytes, so output files land near target
    val totalSmall = small.map(new File(_).length()).sum
    val bins = math.max(1, math.ceil(totalSmall.toDouble / targetBytes).toInt)
    val batch = f"compact-${java.util.UUID.randomUUID().toString.take(8)}"
    val added = stageFiles(readUnder(spark, table, base, small)
      .repartition(bins), table, batch)
    val removedRel = small.map(abs => manifestLineOf(table, abs)).toSet
    commitRewrite(table, base, added, removedRel, maxRetries)
  }

  /** Delete data files referenced by NO manifest in the retained horizon
    * (the newest `keepVersions` manifests; older manifests are dropped
    * too, ending their time-travel). Returns the deleted file count.
    *
    * `minAgeMs` is the in-flight-writer grace period: a concurrent
    * append/compact lands its data files BEFORE its manifest commit, so
    * files younger than the grace window are never reclaimed even though
    * no manifest references them yet — deleting them would let the
    * writer's subsequent commit publish dangling references. Pass 0 only
    * when no writer can be concurrent (tests, single-driver maintenance
    * windows). */
  /** What [[vacuum]] would reclaim, with ZERO mutation — the dry-run a
    * storage owner reads before an irreversible sweep (Delta's
    * `VACUUM ... DRY RUN`): (reclaimable data files, live data files)
    * under the same horizon, checkpoint-anchor, and grace-window rules
    * as the real sweep. Metadata-only: manifests resolve, no data file
    * opens. */
  def vacuumAudit(table: String, keepVersions: Int = 2,
      minAgeMs: Long = 600000L): (Long, Long) = {
    val (_, live) = reclaimHorizon(table, keepVersions)
    val now = System.currentTimeMillis()
    var reclaimable = 0L
    var liveN = 0L
    Option(new File(table).listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName != "_manifests")
      .foreach { d =>
        Option(d.listFiles()).getOrElse(Array.empty).foreach { f =>
          if (f.isFile &&
              (f.getName.endsWith(".parquet") || f.getName.endsWith(".dv"))) {
            if (live(f.getAbsolutePath)) liveN += 1
            else if (now - f.lastModified >= minAgeMs) reclaimable += 1
          }
        }
      }
    (reclaimable, liveN)
  }

  /** The sweep horizon [[vacuum]] and [[vacuumAudit]] share: the anchor
    * (nearest full-listing manifest at or below the keep boundary — a
    * delta manifest resolves through its base chain, so deleting
    * strictly up to the boundary could orphan the horizon's own
    * resolution; at most [[ManifestCheckpointEvery]]−1 extra manifests
    * survive one sweep) and the LIVE file set of every retained
    * version, deletion-vector sidecars included (reclaiming one would
    * silently resurrect its deleted rows). Tolerates manifest holes
    * left by an earlier, stricter vacuum. */
  private def reclaimHorizon(table: String,
      keepVersions: Int): (Int, Set[String]) = {
    require(keepVersions >= 1,
      s"keepVersions must be >= 1 (got $keepVersions) — retaining zero versions " +
        "would delete the current table state")
    val cur = currentVersion(table)
    val keepFrom = math.max(1, cur - keepVersions + 1)
    val anchor = (keepFrom to 1 by -1)
      .find(v => manifestFile(table, v).exists && isCheckpointManifest(table, v))
      .getOrElse(1)
    val retained = (anchor to cur).filter(v => manifestFile(table, v).exists)
    val live = retained.flatMap(v => files(table, Some(v))).toSet ++
      retained.flatMap(v => deletesOf(table, Some(v)).values.flatten
        .map { case (rel, _) => resolveLine(table, rel) })
    // a PENDING cross-table transaction's prepared files are invisible
    // to linesOf (the undecided version reads as its predecessor) but
    // NOT dead: the txn driver may still decide commit, at which point
    // the head version becomes visible and must reference files that
    // exist. Only the head can be undecided (every commit force-decides
    // its base first), so count its raw data + DV lines as live; if the
    // txn later aborts, the next commit decides it and the next vacuum
    // reclaims. Deleting them here would let a later commit publish
    // dangling references — silent data loss.
    val pendingLive =
      if (cur == 0) Set.empty[String]
      else rawLinesOf(table, cur).find(_.startsWith(TxnPrefix)) match {
        case Some(m) =>
          val (dir, id) = parseTxnMarker(m)
          if (txnOutcome(dir, id).isEmpty)
            rawLinesOf(table, cur).filter(l => !l.startsWith("#"))
              .map(resolveLine(table, _)).toSet ++
              rawLinesOf(table, cur).filter(_.startsWith(DeletesPrefix))
                .map(l => resolveLine(table, parseDeletesMarker(l)._2))
          else Set.empty[String]
        case None => Set.empty[String]
      }
    (anchor, live ++ pendingLive)
  }

  def vacuum(table: String, keepVersions: Int = 2, minAgeMs: Long = 600000L): Int = {
    val (anchor, live) = reclaimHorizon(table, keepVersions)
    (1 until anchor).foreach(v => manifestFile(table, v).delete())
    val now = System.currentTimeMillis()
    val batchDirs = Option(new File(table).listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName != "_manifests")
    var deleted = 0
    batchDirs.foreach { d =>
      val children = Option(d.listFiles()).getOrElse(Array.empty)
      val (data, sidecars) =
        children.partition(f => f.isFile &&
          (f.getName.endsWith(".parquet") || f.getName.endsWith(".dv")))
      data.foreach { f =>
        if (!live(f.getAbsolutePath) && now - f.lastModified >= minAgeMs) {
          if (f.delete()) deleted += 1
        }
      }
      // sidecar files (_SUCCESS, .crc) only go once their batch holds no
      // data at all — they are bookkeeping, not table content, so they
      // never count toward `deleted`
      if (!data.exists(_.exists)) {
        sidecars.foreach(_.delete())
        if (Option(d.list()).exists(_.isEmpty)) d.delete(): Unit
      }
    }
    // orphaned commit scratch: a writer that crashed between createTempFile
    // and createLink leaves _manifests/v*.tmp behind forever (success and
    // conflict paths both clean up; a crash cleans nothing). Safe to sweep
    // once past the grace window — an in-flight writer's tmp is younger by
    // the same argument as its data files, and a tmp whose link already
    // succeeded shares an inode with the published manifest, so deleting
    // the tmp dir entry never touches the manifest. Bookkeeping, not table
    // content: doesn't count toward `deleted`.
    Option(manifestDir(table).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".tmp") &&
        now - f.lastModified >= minAgeMs)
      .foreach(_.delete())
    deleted
  }

  /** Commit for REWRITE operations (compact/compactSmall/optimize/
    * deleteWhere): a GUARDED retry. A blind retry with stale
    * added/removed sets would be unsound — if a concurrent writer
    * replaced the rewrite's input files (another compaction, a delete),
    * the stale `removed` lines match nothing while the stale rewrite
    * still lands, duplicating rows (and, for deleteWhere, resurrecting
    * deleted ones). But losing the race to a plain APPEND is harmless:
    * the inputs are untouched, the appended files carry forward, and
    * re-committing against the new base is exactly right — aborting
    * there would let a live streaming sink starve maintenance forever.
    * So: retry while every `removed` line still exists in the current
    * manifest (inputs survived ⇒ the loser was racing appends); throw
    * the moment any input line is gone (a concurrent rewrite took them
    * ⇒ this rewrite's output is stale — caller re-derives). The data
    * batch stays on disk either way; vacuum sweeps orphans past the
    * grace window. */
  private def commitRewrite(table: String, base: Int, added: Seq[String],
      removed: Set[String], maxRetries: Int): Int = {
    // the `#deletes:` markers the rewrite's READ already folded in — a
    // marker on an input file that appears AFTER the read is a lost
    // update in waiting: committing would retire it while the rewritten
    // data still carries the rows it deletes (resurrection)
    def dvOnInputs(v: Int): Set[String] =
      if (v == 0) Set.empty
      else linesOf(table, v).toSet
        .filter(l => l.startsWith(DeletesPrefix) &&
          removed(parseDeletesMarker(l)._1))
    val foldedDv = dvOnInputs(base)
    var b = base
    var attempt = 0
    while (true) {
      try return commit(table, b, added, removed)
      catch {
        case e: IllegalStateException =>
          attempt += 1
          if (attempt > maxRetries) throw e
          val cur = currentVersion(table)
          val lines = linesOf(table, cur).toSet
          if (!removed.subsetOf(lines))
            throw new IllegalStateException(
              s"rewrite of $table derived from v$base lost its input files to a " +
                "concurrent rewrite; re-derive against the current version", e)
          if ((dvOnInputs(cur) -- foldedDv).nonEmpty)
            throw new IllegalStateException(
              s"rewrite of $table derived from v$base raced a merge-on-read " +
                "delete on its input files; re-derive against the current " +
                "version (committing would resurrect the deleted rows)", e)
          b = cur
      }
    }
    -1 // unreachable
  }

  private def retryCommit(table: String, added: Seq[String], removed: Set[String],
      maxRetries: Int): Int = {
    var attempt = 0
    while (true) {
      try return commit(table, currentVersion(table), added, removed)
      catch {
        case e: IllegalStateException =>
          attempt += 1
          if (attempt > maxRetries) throw e
      }
    }
    -1 // unreachable
  }

  private def listParquet(dir: File): Seq[File] =
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).toSeq.sortBy(_.getName)

  /** Stage `df` under `table`/`batch` and return the staged files'
    * table-relative paths — the ONE staging seam every append/rewrite
    * path shares. Scalar frames ride Spark's native vectorized writer;
    * `array<float>`-bearing frames route through the connector's
    * 2-level writer ([[graft.sources.V2Shape]]) so a compact / delete /
    * merge / MoR update of an embedding-bearing catalog table stays
    * readable by the V2 scan paths (the native writer's 3-level LIST
    * shape is rejected there — ADVICE r13). */
  private def stageFiles(df: DataFrame, table: String, batch: String): Seq[String] =
    if (graft.sources.V2Shape.needsV2Staging(df.schema))
      graft.sources.V2Shape.stage(df, new File(table).getAbsolutePath, batch)
    else {
      df.write.parquet(new File(table, batch).getPath)
      listParquet(new File(table, batch)).map(f => s"$batch/${f.getName}")
    }
}
