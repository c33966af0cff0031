package graft.gold

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Base+delta keyed table: the O(batch)-write merge story for
  * high-frequency CDC at 100 TB (SURVEY.md §2 row 25 taken past
  * per-partition rewrite).
  *
  * Even a partition-pruned merge rewrites every touched partition per
  * micro-batch — with a minute-level trigger and scattered keys that
  * converges to rewriting the hot end of the table 1440× a day. Here a
  * micro-batch only APPENDS its (deduped) rows:
  *
  * {{{
  * <path>/_manifests/v<V>           {"generation":N,"deltas":[ids…]}, plus
  *                                  ,"folded_through":B once compacted — a
  *                                  [[CommitCas]] version, the commit point
  *                                  readers resolve through
  * <path>/_manifests/.reserve.base<N> base generation reservations
  * <path>/base_g<N>/…parquet        compacted snapshot, one dir per
  *                                  generation (never mutated in place)
  * <path>/delta/batch=<id>/…parquet immutable per-batch appends
  * }}}
  *
  *  - `append` is O(batch) I/O — nothing existing is read or rewritten.
  *  - `read` is merge-on-read: base ∪ live deltas → `max_by` latest-wins
  *    per key → tombstones dropped. One hash-aggregate shuffle, no sort;
  *    the same plan shape Delta Lake/Iceberg merge-on-read readers use.
  *  - `compact` folds the live deltas into base generation N+1 and commits
  *    it as the next manifest version; `appendAndMaybeCompact` runs it
  *    automatically past `maxDeltas` outstanding batches.
  *
  * Snapshot isolation (the manifest move table formats make): a reader
  * resolves the manifest once and then touches only immutable paths, so a
  * compaction that commits concurrently cannot pull files out from under
  * it — the previous base generation and its delta dirs are RETAINED for
  * one full compaction cycle and retired only by the next `compact`. A
  * reader is therefore safe against any single concurrent compaction; only
  * a read still running after TWO compactions can lose files (the same
  * bounded-retention compromise as Delta's `VACUUM`).
  *
  * Reads never mutate the layout (a reader racing a writer must not rename
  * directories); crash recovery is the write path's job.
  *
  * Idempotence/crash safety: delta dirs are written by overwrite keyed on
  * the caller's batch id, so a replayed micro-batch overwrites its own
  * delta. A crash inside `compact` before the manifest replace leaves at
  * most an orphaned `base_g<N+1>` dir that the next compaction overwrites;
  * the table keeps serving generation N. Stale deltas re-merge as no-ops
  * (latest-wins on the same `orderCols`, and a re-dropped tombstone stays
  * dropped), so the view never regresses.
  *
  * The manifest is the only truth about what is committed: a dir with no
  * committed manifest is an empty table, whatever the listing shows. A
  * first append that crashed after writing its delta dir but before its
  * manifest commit is therefore invisible, and replay checks built on
  * [[deltaBatches]] re-apply that batch instead of skipping it.
  *
  * The ordering contract is the usual one: `orderCols` must totally order
  * versions of a key (include a unique id as the final tie-break).
  * Concurrency contract: single WRITER (the streaming sink serializes
  * batches); any number of concurrent readers. Conflict policy, ENFORCED:
  * a writer commits version `basedOn + 1` of the version its content
  * was derived from, fast-failed against a fresh listing; any other
  * committed version is a typed [[CommitConflictException]], never a
  * rebase.
  */
object BaseDelta {

  /** Table handle: merge semantics + layout root. With `opCol` set, a key
    * whose latest row has op='d' is absent from `read` (Debezium
    * tombstone).
    */
  case class Table(path: String, keys: Seq[String], orderCols: Seq[String],
                   opCol: Option[String] = None) {
    def baseGenPath(gen: Long) = s"$path/base_g$gen"
    def deltaRoot = s"$path/delta"
    def deltaPath(batchId: Long) = s"$deltaRoot/batch=$batchId"
    def manifestRoot = s"$path/_manifests"
    /** Erasure-tombstone ledger for `col` ([[logicalErase]]) — one
      * SnapshotStore of pending erased values per erase column.
      */
    def tombstonePath(col: String) = s"$path/_tombstones/$col"
  }

  /** Committed table state: base generation (0 = no compacted base yet)
    * + live delta batch ids. `foldedThrough` is the
    * highest batch id ever folded into a base by `compact` — the time-
    * travel floor: as-of points below it are not separable from the fold
    * state, and `readAt` refuses them rather than silently serving newer
    * data (None on tables that never compacted, or pre-upgrade manifests).
    */
  case class Manifest(generation: Long, deltas: Seq[Long],
                      foldedThrough: Option[Long] = None)

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestVersions(spark: SparkSession, t: Table): Seq[Long] =
    CommitCas.versions(fs(spark, t.path), new Path(t.manifestRoot))

  /** The committed manifest, or None for an empty (never committed) table. */
  def readManifest(spark: SparkSession, t: Table): Option[Manifest] =
    readManifestVersioned(spark, t).map(_._2)

  /** The committed (version, manifest) pair — writers derive their next
    * commit FROM a specific version and CAS against version+1, so a
    * contender that committed in between forces a typed conflict instead
    * of a silent lost update (writing stale content under a fresh
    * version number).
    */
  private def readManifestVersioned(spark: SparkSession,
                                    t: Table): Option[(Long, Manifest)] =
    manifestVersions(spark, t).lastOption.map { v =>
      val s = CommitCas.readVersion(fs(spark, t.path), new Path(t.manifestRoot), v)
      def corrupt = sys.error(s"corrupt manifest v$v at ${t.path}: $s")
      val gen = "\"generation\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(s)
        .getOrElse(corrupt)
        .group(1).toLong
      val ds = "\"deltas\"\\s*:\\s*\\[([^\\]]*)\\]".r.findFirstMatchIn(s)
        .getOrElse(corrupt)
        .group(1).split(",").map(_.trim).filter(_.nonEmpty).map(_.toLong).toSeq
      val folded = "\"folded_through\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(s)
        .map(_.group(1).toLong)
      v -> Manifest(gen, ds, folded)
    }

  /** Commit a manifest as version `basedOn + 1`, where `basedOn` is the
    * version the new content was DERIVED from (0 when no manifest
    * existed). The version is part of the CAS, not recomputed from a
    * fresh listing: a contender that committed after our read would
    * otherwise let us write stale-derived content under a higher fresh
    * version — a silent lost update the publish alone cannot catch.
    */
  private def writeManifest(spark: SparkSession, t: Table, m: Manifest,
                            basedOn: Long): Unit = {
    val f = fs(spark, t.path)
    // fast-fail against a fresh listing before the CAS (belt to
    // CommitCas's never-delete-inline suspenders against phantom commits)
    val committed = manifestVersions(spark, t).lastOption.getOrElse(0L)
    if (committed != basedOn)
      throw new CommitConflictException(
        s"BaseDelta manifest CAS at ${t.path}: derived from v$basedOn but " +
          s"the committed version is v$committed — " +
          "a concurrent writer committed since this read; re-read and redo")
    val next = basedOn + 1
    val foldedJson = m.foldedThrough.map(b => s""","folded_through":$b""").getOrElse("")
    val body = s"""{"generation":${m.generation},"deltas":[${m.deltas.sorted.mkString(",")}]""" +
      foldedJson + "}"
    if (!CommitCas.commitNext(f, new Path(t.manifestRoot), next, body))
      throw new CommitConflictException(
        s"BaseDelta manifest CAS lost at ${t.path} v$next — a concurrent " +
          "writer committed first; this table is single-writer (re-read " +
          "and redo the append/compact against the new manifest)")
  }

  /** Delta dirs present on disk (live, retained and uncommitted) —
    * cleanup's view, never the reader's.
    */
  private def diskDeltas(spark: SparkSession, t: Table): Seq[Long] =
    CommitCas.numbered(fs(spark, t.path), new Path(t.deltaRoot), "batch=")
      .map(_._1)

  /** Outstanding (live, unfolded) delta batch ids. */
  def deltaBatches(spark: SparkSession, t: Table): Seq[Long] =
    readManifest(spark, t).map(_.deltas).getOrElse(Seq.empty)

  /** Resolve one consistent snapshot: (base dir if any, live delta ids).
    * The manifest is read exactly ONCE — resolving it twice could tear
    * across a concurrent compaction commit (old base + new empty delta
    * list = silently missing data). No manifest: no base, no deltas.
    */
  def resolveSnapshot(spark: SparkSession, t: Table): (Option[String], Seq[Long]) =
    readManifest(spark, t) match {
      case Some(m) =>
        (Option.when(m.generation > 0)(t.baseGenPath(m.generation)), m.deltas)
      case None => (None, Seq.empty)
    }

  /** The active base directory, if a compacted base exists. */
  def currentBasePath(spark: SparkSession, t: Table): Option[String] =
    resolveSnapshot(spark, t)._1

  // ── deferred (logical) erasure ─────────────────────────────────────
  //
  // The eager path ([[compact]] with an anti-join transform) prices an
  // erasure at one full-table rewrite — the right cost ONCE, but a
  // legal acknowledgment shouldn't wait on it. [[logicalErase]] gives
  // the immediate ack: erased values land in a tiny per-column
  // tombstone ledger (atomic SnapshotStore publish), every read path
  // anti-joins the ledger from that moment — the data is UNREACHABLE
  // through this table's API immediately, including time-travel reads
  // (erasure overrides retention, the same stance as eraseCoordinated's
  // vacuum) — and the physical rewrite rides the NEXT full compaction,
  // which applies the ledger and clears it (receipt upgrade point:
  // [[pendingTombstones]] empty = materialized). Fold latency is
  // untouched: appends never consult the ledger.

  /** Marker stamped INSIDE a staged ledger generation dir (before its
    * pointer commit, so a committed-cleared generation is never seen
    * without it) recording "this generation is the CLEARED state": every
    * id the ledger held has been physically materialized by a full fold.
    * Clearing publishes an empty generation through the same
    * observation-CAS as any other ledger write instead of deleting the
    * ledger dir — a raw delete would race a concurrent [[logicalErase]]
    * whose just-committed ids it silently destroys (an acked erasure
    * that never materializes). The underscore prefix keeps parquet
    * readers ignoring it; [[vacuum]] reclaims cleared ledger dirs
    * physically at a writer-quiet moment.
    */
  private val ClearedMarker = "_CLEARED"

  /** The ledger's committed generation, if it holds PENDING ids (a
    * committed-cleared generation reports None — nothing pending).
    */
  private def pendingLedgerGen(spark: SparkSession, t: Table,
                               c: String): Option[Long] = {
    val path = t.tombstonePath(c)
    SnapshotStore.currentGen(spark, path).filter { g =>
      !fs(spark, t.path).exists(
        new Path(SnapshotStore.genPath(path, g), ClearedMarker))
    }
  }

  private def tombstoneCols(spark: SparkSession, t: Table): Seq[String] = {
    val f = fs(spark, t.path)
    val root = new Path(s"${t.path}/_tombstones")
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root).toSeq.filter(_.isDirectory).map(_.getPath.getName)
      .filter(c => pendingLedgerGen(spark, t, c).isDefined)
  }

  /** The pending (not yet physically materialized) erased values, one
    * single-column frame per erase column. Empty map = every logical
    * erasure has been rewritten into the base (receipts upgradable to
    * `materialized`).
    */
  def pendingTombstones(spark: SparkSession,
                        t: Table): Map[String, DataFrame] =
    tombstoneCols(spark, t).map { c =>
      c -> SnapshotStore.read(spark, t.tombstonePath(c))
    }.toMap

  /** Exact pending-id count per ledger WITHOUT a Spark job: ledgers are
    * request-sized single-column parquet generations, and parquet footers
    * carry the exact row count — a driver metadata read, the same class
    * of work as the pointer resolve that located the generation. The
    * governance pane probes every artifact table's ledgers on every
    * refresh; at one count-job per ledger that was the pane's dominant
    * cost while returning byte-identical numbers.
    */
  def pendingTombstoneCounts(spark: SparkSession,
                             t: Table): Map[String, Long] =
    tombstoneCols(spark, t).map { c =>
      val path = t.tombstonePath(c)
      val g = SnapshotStore.currentGen(spark, path).getOrElse(
        sys.error(s"pendingTombstoneCounts: ledger vanished at $path"))
      c -> Footers.rows(spark, Seq(SnapshotStore.genPath(path, g)))
    }.toMap

  /** Rows stored in the committed base and live deltas (footer counts, no
    * Spark job), read only until the sum passes `stopAbove` — a fold's
    * [[graft.Width]] input. Counts pre-merge rows: an upper bound on the
    * merged view.
    */
  private[graft] def storedRows(spark: SparkSession, t: Table,
                                stopAbove: Long = Long.MaxValue): Long = {
    val (base, deltas) = resolveSnapshot(spark, t)
    Footers.rows(spark, base.toSeq ++ deltas.map(t.deltaPath), stopAbove)
  }

  /** The committed manifest version (0 when none) — the PIN for a
    * read-window CAS: a caller whose WRITE content derives from state
    * reads (not just from its own input) captures this before reading
    * and passes it as `pinnedFrom` to [[append]]/[[compact]], so any
    * concurrent commit between the state read and the write surfaces as
    * the typed retryable conflict instead of a silently stale-derived
    * commit (the `ClusterIndex.fold` pairs-vs-erase race).
    */
  private[graft] def manifestVersion(spark: SparkSession, t: Table): Long =
    readManifestVersioned(spark, t).map(_._1).getOrElse(0L)

  /** Everything a read of `t` resolves that concurrent maintenance can
    * retire: the committed manifest version plus every tombstone
    * ledger's committed generation. The observation point for
    * [[conflictIfRetired]] — any change to it between a read's plan and
    * its execution means files the plan referenced may legitimately be
    * gone (compaction retirement, an erasure vacuum, a ledger ack
    * outrunning the one-generation in-flight-reader window).
    */
  def stateFingerprint(spark: SparkSession, t: Table): Map[String, Long] = {
    val manifest = manifestVersions(spark, t).lastOption
      .map("manifest" -> _).toSeq
    val f = fs(spark, t.path)
    val root = new Path(s"${t.path}/_tombstones")
    val ledgers =
      if (!f.exists(root)) Seq.empty
      else f.listStatus(root).toSeq.filter(_.isDirectory)
        .map(_.getPath.getName)
        .flatMap(c => SnapshotStore.currentGen(spark, t.tombstonePath(c))
          .map(g => s"ledger:$c" -> g))
    (manifest ++ ledgers).toMap
  }

  /** The BaseDelta tier of [[MultiSnapshot.conflictIfRetired]]: runs
    * `body` (a read or read-modify-write over `t`, fingerprinted at
    * entry) and translates a mid-execution read failure into the typed
    * retryable [[CommitConflictException]] iff the table's
    * [[stateFingerprint]] changed — a concurrent compaction/erasure
    * retired state the plan had resolved. A read failure with an
    * UNCHANGED fingerprint is a genuine storage fault and propagates.
    * The coordinator-tier guard cannot subsume this one: a deferred
    * erasure ack advances only the per-column ledger generation, never
    * the coordinator commit, so composite readers nest both guards
    * (outer root, inner table).
    */
  def conflictIfRetired[A](spark: SparkSession, t: Table)(body: => A): A =
    MultiSnapshot.retiredGuard(s"BaseDelta(${t.path})",
      () => stateFingerprint(spark, t))(body)

  /** Default pending-erasure budget ([[logicalErase]],
    * [[tombstoneReport]]): every read anti-joins one broadcast per
    * pending (column, ledger), so an unbounded backlog of acked-but-
    * unmaterialized requests degrades EVERY read with no backstop. 10k
    * values keeps each ledger broadcast trivially small while leaving
    * room for a month of subject requests between maintenance slots —
    * past it the recommendation flips to `materialize`.
    */
  val DefaultTombstoneBudget: Long = 10000L

  /** Pending-erasure budget readout — one row per erase column with a
    * pending-value count and the budget adjudication
    * (`recommendation = 'materialize'` once `pending_values > budget`,
    * the signal to schedule [[materializeErasures]]). Ledgers are
    * request-sized, so the counts are tiny jobs; a table with nothing
    * pending reports zero rows.
    */
  def tombstoneReport(spark: SparkSession, t: Table,
                      budget: Long = DefaultTombstoneBudget): DataFrame = {
    import spark.implicits._
    val rows = pendingTombstones(spark, t).toSeq.sortBy(_._1).map {
      case (c, ids) =>
        val n = ids.count()
        (c, n, budget, n > budget, if (n > budget) "materialize" else "ok")
    }
    rows.toDF("erase_col", "pending_values", "budget", "over_budget",
      "recommendation")
  }

  /** Anti-join every pending tombstone ledger — the read-side guard.
    * Ledgers are request-sized (bounded by erasure subjects), so each
    * rides one broadcast.
    *
    * ORDERING CONTRACT (race found live by the vector chaos storm, and
    * latent since the ledgers existed): `tombs` must be observed BEFORE
    * the manifest the view resolved. A concurrent full fold
    * materializes pending ids and THEN retires their ledger — a reader
    * that resolved the manifest first could pair the OLD generation
    * (subject rows still physical) with the CLEARED ledger and serve an
    * acked erasure. Ledger-first closes it: a cleared ledger implies
    * the materializing fold's manifest committed BEFORE the clear, so
    * the later manifest resolve sees the post-fold generation; a
    * still-pending ledger anti-joins regardless of which generation
    * resolves.
    */
  private def applyTombstones(df: DataFrame,
                              tombs: Map[String, DataFrame]): DataFrame =
    tombs.foldLeft(df) { case (d, (c, ids)) =>
      d.join(broadcast(ids.select(col(ids.columns.head).as("__erased"))),
        d(c) === col("__erased"), "left_anti")
    }

  /** Logically erase rows whose `eraseCol` matches `ids`: publish the
    * ids into the tombstone ledger (one atomic pointer flip — readers
    * stop seeing the rows NOW) and return the legal receipt (id,
    * n_rows_erased, status='pending', plus the budget columns
    * pending_after / recommend_materialize), counted against the
    * currently readable view so already-erased or absent subjects
    * report 0. The
    * physical rewrite happens at the next full [[compact]] (or an
    * explicit `compact(t)` right after, making this exactly the eager
    * path); `status` upgrades to `materialized` once
    * [[pendingTombstones]] no longer lists the value.
    *
    * While a value is pending, rows matching it are suppressed from ALL
    * reads — including rows appended AFTER the logical erase (a re-add
    * inside the pending window is treated as replayed subject data;
    * erasure wins until the ledger materializes). Re-admission of a
    * legitimately returning subject is a new fold after materialization.
    */
  def logicalErase(spark: SparkSession, t: Table, eraseCol: String,
                   ids: DataFrame, countRows: Boolean = true,
                   pendingBudget: Long = DefaultTombstoneBudget): DataFrame =
      // table-tier retired-state guard: the receipt's table scan and the
      // ledger read-merge loop pin generation dirs a CONCURRENT eraser's
      // retention can retire mid-execution (two acks on one column while
      // this one's receipt scans — caught live by the storage chaos
      // storm after the ledger-first read widened the window); that must
      // surface as the typed retryable conflict, never a raw read fault
      conflictIfRetired(spark, t) {
    // hinted only where it is a join's build side: the receipt's left
    // join keeps every id (its preserved side cannot be built) and the
    // ledger union joins nothing
    val subj = ids.select(col(ids.columns.head).as("__erased")).distinct()
    // `countRows = false` skips the per-subject row-count scan — the ack
    // is then pure metadata (one ledger publish). Use it when another
    // table's receipt already documents the request (an index erasing
    // the same doc ids across postings/positions/docstats needs ONE
    // doc-level receipt, not three scans).
    val receipt =
      if (!countRows)
        subj.select(col("__erased").as(eraseCol),
          lit(null).cast("long").as("n_rows_erased"),
          lit("pending").as("status"))
      else subj.join(
          read(spark, t).join(broadcast(subj), col(eraseCol) === col("__erased"))
            .groupBy(col("__erased")).agg(count(lit(1)).as("__n")),
          Seq("__erased"), "left")
        .select(col("__erased").as(eraseCol),
          coalesce(col("__n"), lit(0L)).as("n_rows_erased"),
          lit("pending").as("status"))
        // request-sized by contract — one partition, not session width
        .coalesce(1)
        .localCheckpoint(true)
    val path = t.tombstonePath(eraseCol)
    // read-merge-publish behind the observation CAS, with bounded retry:
    // this ledger is the one MULTI-writer snapshot path by design
    // (logicalErase is an any-time immediate-ack call — two concurrent
    // erasers on one column are in-contract). Each attempt re-reads the
    // just-committed state and re-merges, so the loser's union is never
    // lost; the observed generation dir is read DIRECTLY (not through
    // read()'s fresh pointer resolve) so contents and observation point
    // can't tear.
    val pendingAfter = CommitCas.retryConflict(6) {
      val observed = SnapshotStore.currentGen(spark, path)
      val existing = observed.map(g => spark.read
        .parquet(SnapshotStore.genPath(path, g)).select(col("__erased")))
      val merged = existing
        .map(_.unionByName(subj.toDF()).distinct()).getOrElse(subj.toDF())
        // request-sized ledger: publish ONE file, not session-width
        // shards — readers re-list and re-open this dir on every pending
        // anti-join, so file count is the read-side cost too
        .coalesce(1)
        .localCheckpoint(true)
      SnapshotStore.publishFrom(merged, path, observed)
      merged.count() // request-sized, pinned
    }
    // budget adjudication rides the receipt: once this column's backlog
    // of acked-but-unmaterialized values passes `pendingBudget`, every
    // read is paying for it (one broadcast anti-join per ledger) — the
    // caller should schedule [[materializeErasures]]; [[tombstoneReport]]
    // is the standalone readout of the same signal
    receipt.toDF()
      .withColumn("pending_after", lit(pendingAfter))
      .withColumn("recommend_materialize", lit(pendingAfter > pendingBudget))
  }

  /** Force the physical rewrite of all pending logical erasures NOW —
    * one full compaction through the tombstone filter plus a vacuum so
    * the old bytes are gone, exactly the eager-erasure cost, paid at a
    * moment of the operator's choosing (the scheduled-maintenance slot
    * GDPR's 30-day window amortizes against). No-op when nothing is
    * pending. Returns the vacuumed paths.
    */
  /** Replace the CONTENT of a manifest-listed delta id without moving
    * the time-travel floor. Raw `Overwrite` of a reader-visible dir is
    * not an option: mid-write the dir is empty (UNABLE_TO_INFER_SCHEMA
    * for a concurrent planner) and nothing announces the mutation, so
    * the retired-state guards cannot distinguish it from a storage
    * fault. Protocol: STAGE the new content beside the live dir,
    * ANNOUNCE with a same-content manifest touch-commit (the version
    * bump the guards key on — it also CAS-serializes concurrent
    * replacers), then SWAP via two dir renames. A reader can hit a
    * missing dir for one beat, never a torn or half-written one, and
    * the announced version tells its guard this was maintenance. Used
    * by erasure's kept-tail rewrite and by append's
    * retry-over-a-listed-delta.
    */
  private def swapInDelta(spark: SparkSession, t: Table, id: Long,
                          content: DataFrame): Unit = {
    val f = fs(spark, t.path)
    val (v, m) = readManifestVersioned(spark, t).getOrElse(
      throw new CommitConflictException(
        s"BaseDelta.swapInDelta: no manifest at ${t.path} — the delta " +
          "being replaced is no longer committed; re-read and redo"))
    if (!m.deltas.contains(id))
      throw new CommitConflictException(
        s"BaseDelta.swapInDelta: delta $id at ${t.path} left the " +
          "manifest (folded by a concurrent compaction); re-read and redo")
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val live = new Path(t.deltaPath(id))
    val stage = new Path(t.deltaPath(id) + s".stage-$nonce")
    val trash = new Path(t.deltaPath(id) + s".trash-$nonce")
    content.coalesce(4).write.options(MemoryBudget.parquetWriteOptions(spark))
      .mode(SaveMode.Overwrite).parquet(stage.toString)
    try writeManifest(spark, t, m, v) // announce: version bump, same content
    catch { case e: Throwable => f.delete(stage, true); throw e }
    // stale-trash sweep: a swap that crashed between rename(live→trash)
    // and delete(trash) leaves the PRE-rewrite bytes (for an erasure,
    // the subject data) under batch=<id>.trash-<nonce> forever — the
    // all-digit 'batch=' filters in diskDeltas/vacuum never match it.
    // Winning the announce CAS serializes this writer as the id's owner:
    // other-nonce trash dirs are crash leftovers (or a CAS-loser's
    // doomed restore source — its restore rename failing is absorbed as
    // its typed conflict), and their bytes are exactly what this rewrite
    // replaces. Reclaim them NOW so a re-run of a crashed erasure
    // destroys what its predecessor left behind.
    val deltaParent = live.getParent
    if (f.exists(deltaParent)) f.listStatus(deltaParent).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith(s"batch=$id.trash-") && n != trash.getName)
        f.delete(st.getPath, true)
    }
    if (!f.exists(live)) {
      // REPAIR: the listed dir is gone (a writer-hostile vacuum raced
      // the listing, or a crashed swap) — winning the announce CAS above
      // makes this writer the owner; recreate from the staged content
      if (!f.rename(stage, live)) {
        f.delete(stage, true)
        throw new CommitConflictException(
          s"BaseDelta.swapInDelta: lost the repair race on delta $id at " +
            s"${t.path}; re-read and redo")
      }
      return
    }
    if (!f.rename(live, trash)) {
      f.delete(stage, true)
      throw new CommitConflictException(
        s"BaseDelta.swapInDelta: delta $id at ${t.path} was replaced by " +
          "a concurrent writer; re-read and redo")
    }
    if (!f.rename(stage, live)) {
      f.rename(trash, live)
      f.delete(stage, true)
      throw new CommitConflictException(
        s"BaseDelta.swapInDelta: lost the swap race on delta $id at " +
          s"${t.path}; re-read and redo")
    }
    f.delete(trash, true)
  }

  /** Rewrite every LIVE delta with id > `above` through `transform` in
    * place — same ids, same delta list, the time-travel floor does not
    * move. The eager-erasure companion to a pointer-BOUNDED
    * [[compact]]: the folded prefix is rewritten through the fold's
    * transform; this destroys the subject bytes in the kept tail (a
    * coordinator's staged-but-uncommitted batches) without folding it,
    * so committed readers behind the pointer keep their as-of point
    * while no retained file holds the subject. Each replacement rides
    * [[swapInDelta]]'s announce-then-swap protocol; under the
    * deterministic-replay contract an in-flight appender retrying its
    * batch re-supplies the same source rows, so whichever replacement
    * serializes last through the manifest CAS leaves correct content.
    */
  def rewriteKeptDeltas(spark: SparkSession, t: Table, above: Option[Long],
                        transform: DataFrame => DataFrame): Unit = {
    // manifest-less tables fail FAST and non-retryably: swapInDelta's
    // announce-then-swap protocol REQUIRES a manifest to announce
    // against, and a table that never committed one holds no committed
    // delta to rewrite — a retryable conflict here would only loop
    val live = readManifestVersioned(spark, t).map(_._2.deltas)
      .getOrElse(throw new IllegalStateException(
        s"BaseDelta.rewriteKeptDeltas: no manifest at ${t.path} — the " +
          "table has committed nothing, so there is no delta to rewrite"))
    live.filter(id => above.forall(id > _)).foreach { id =>
      val p = t.deltaPath(id)
      // materialize BEFORE the swap retires the source files
      val rewritten = transform(spark.read.parquet(p)).localCheckpoint(true)
      try swapInDelta(spark, t, id, rewritten)
      finally { rewritten.unpersist(); () }
    }
  }

  def materializeErasures(spark: SparkSession, t: Table): Seq[String] = {
    if (pendingTombstones(spark, t).isEmpty) return Seq.empty
    compact(spark, t, transform = Some(identity))
    vacuum(spark, t)
  }

  /** [[materializeErasures]] over several INDEPENDENT tables at once
    * (guide §2.6): each table's fold is its own commit protocol on its
    * own root, so the rewrites overlap instead of serializing on the
    * driver — a three-table index materialization keeps the cores busy
    * through each table's straggler tail. Results in input order.
    */
  def materializeErasuresAll(spark: SparkSession,
                             tables: Seq[Table]): Seq[Seq[String]] =
    graft.Par.run(tables.map(t => () => materializeErasures(spark, t)))

  /** True iff any pending erasure ledger on `t` holds more than `budget`
    * values — the backlog signal [[logicalErase]] emits as
    * `recommend_materialize` and [[tombstoneReport]] reads out. Ledgers
    * are request-sized, so the counts are tiny jobs.
    */
  def tombstoneBacklogOver(spark: SparkSession, t: Table,
                           budget: Long = DefaultTombstoneBudget): Boolean =
    // footer counts: exact, no Spark job (see pendingTombstoneCounts) —
    // this probe runs in every sink batch's maintenance step
    pendingTombstoneCounts(spark, t).exists(_._2 > budget)

  /** The IN-BAND auto-upgrade a long-running sink wires into its batch
    * maintenance: when the acked-but-unmaterialized backlog exceeds
    * `budget`, run the full fold that physically rewrites tombstoned
    * rows and retires the observed ledgers — reads stop paying the
    * per-ledger anti-joins and receipts upgrade to 'materialized'.
    * Compact-only, deliberately NOT [[materializeErasures]]: the full
    * vacuum's writer-quiet contract does not hold inside a live sink
    * batch with any-time [[logicalErase]] acks landing concurrently,
    * so retained-history byte reclamation stays with the scheduled
    * writer-quiet [[vacuum]]. Returns true when the upgrade ran.
    */
  def materializePendingIfOverBudget(spark: SparkSession, t: Table,
      budget: Long = DefaultTombstoneBudget): Boolean =
    if (tombstoneBacklogOver(spark, t, budget)) {
      compact(spark, t, transform = Some(identity))
      true
    } else false

  /** One ledger's state as OBSERVED by a fold: the committed generation
    * at fold-read time plus its id set pinned in Spark storage
    * (localCheckpoint — the gen dir itself could be retired by two
    * further erasure publishes while the fold runs).
    */
  private final case class TombSnap(col: String, gen: Long, ids: DataFrame)

  /** Pin every pending ledger's (generation, ids) for a fold — what the
    * fold will physically apply, and the observation point its
    * retirement CASes against.
    */
  private def observeTombstones(spark: SparkSession,
                                t: Table): Seq[TombSnap] =
    tombstoneCols(spark, t).flatMap { c =>
      pendingLedgerGen(spark, t, c).map { g =>
        TombSnap(c, g, spark.read
          .parquet(SnapshotStore.genPath(t.tombstonePath(c), g))
          .select(col("__erased")).localCheckpoint(true))
      }
    }

  /** Retire ledgers a FULL fold just materialized — but only the ids the
    * fold actually APPLIED (the pinned observation), never a blind dir
    * delete: a [[logicalErase]] committing between the fold's ledger
    * read and this call is an acked erasure the fold did NOT rewrite,
    * and wiping the whole ledger would silently discard it (the receipt
    * would even upgrade to 'materialized'). Per column, under the
    * observation CAS with bounded retry: unchanged generation → publish
    * the empty CLEARED state; advanced generation → publish
    * `current \ applied`, keeping exactly the un-materialized newcomers
    * pending. Retries follow [[CommitCas.retryConflict]] (6 attempts);
    * exhaustion leaves the ledger as-is — safe (reads
    * keep filtering; receipts stay 'pending'; the next full fold
    * retires it). Called only after a full fold's manifest commit;
    * bounded folds keep their ledgers because un-folded later deltas
    * may still hold matching rows.
    */
  private def retireTombstones(spark: SparkSession, t: Table,
                               observed: Seq[TombSnap]): Unit =
    observed.foreach { s =>
      val path = t.tombstonePath(s.col)
      try CommitCas.retryConflict(6) {
        SnapshotStore.currentGen(spark, path) match {
          case None => () // ledger vacuumed away — nothing pending
          case cur @ Some(g) =>
            val remaining =
              if (g == s.gen) s.ids.limit(0)
              else spark.read.parquet(SnapshotStore.genPath(path, g))
                .select(col("__erased"))
                .join(s.ids, Seq("__erased"), "left_anti")
                .localCheckpoint(true)
            val gen = SnapshotStore.stage(remaining, path)
            if (remaining.isEmpty) {
              // committed-cleared state: marker lands in the staged dir
              // BEFORE the pointer commit, so readers never resolve a
              // cleared generation that isn't marked
              val f = fs(spark, t.path)
              f.create(new Path(SnapshotStore.genPath(path, gen),
                ClearedMarker), true).close()
            }
            SnapshotStore.commitFrom(spark, path, gen, cur)
        }
      } catch {
        // exhausted: the ledger stays pending (see above)
        case _: CommitConflictException => ()
      }
    }

  /** Append one micro-batch as an immutable delta — O(batch) I/O. The
    * batch is pre-deduped (latest-wins) so a delta holds one row per key;
    * `batchId` keys the delta dir, making replays overwrite themselves.
    * The post-aggregation shuffle partitioning (often 32+ near-empty
    * splits for a micro-batch) is coalesced to `deltaFiles` so deltas
    * don't explode the file count — at minute-level triggers a delta is
    * batch-sized, so a handful of files is the right granularity.
    *
    * On a manifest table the delta becomes visible only through the
    * manifest update (commit point); a crash in between leaves an
    * invisible delta dir that the replayed batch overwrites.
    *
    * `pinnedFrom` (a [[manifestVersion]] captured BEFORE the caller's
    * state reads) turns the manifest CAS into a read-window CAS: the
    * commit only lands if no other writer committed since the pin —
    * required when `incoming` was DERIVED from reads of this table
    * (or of a sibling table whose writers always touch this one).
    */
  def append(spark: SparkSession, t: Table, incoming: DataFrame, batchId: Long,
             deltaFiles: Int = 4, pinnedFrom: Option[Long] = None): Unit = {
    // CDC mode: a malformed envelope that lost even its before-image has
    // null keys — drop it rather than store a junk null-key row (same
    // contract as UpsertByKey.byMaxCdc)
    val keyed =
      if (t.opCol.isDefined)
        incoming.filter(t.keys.map(col(_).isNotNull).reduce(_ && _))
      else incoming
    val deduped = graft.silver.Staging
      .dedupLatestByMax(keyed, t.keys, t.orderCols).coalesce(deltaFiles)
    // pinned fast-fail BEFORE the delta write: stale-derived content
    // must not even stage (the writeManifest CAS below is the atomic
    // backstop for the remaining window)
    pinnedFrom.foreach { p =>
      val cur = readManifestVersioned(spark, t).map(_._1).getOrElse(0L)
      if (cur != p)
        throw new CommitConflictException(
          s"BaseDelta.append read-window CAS at ${t.path}: derived from " +
            s"v$p but the committed version is v$cur — a concurrent " +
            "writer committed since the caller's state read; re-derive " +
            "and retry")
    }
    readManifestVersioned(spark, t) match {
      case Some((_, m0)) if m0.deltas.contains(batchId) =>
        // REPLAY over a manifest-LISTED (reader-visible) delta: a raw
        // Overwrite would race concurrent readers (empty dir mid-write)
        // and concurrent maintenance (an eager erasure's kept-tail
        // rewrite) with no announcement — ride the announce-then-swap
        // protocol instead
        swapInDelta(spark, t, batchId, deduped)
        return
      case _ => ()
    }
    // fresh delta: the dir is not reader-visible until the manifest
    // lists it, so a plain write has no race window
    deduped.write.options(MemoryBudget.parquetWriteOptions(spark))
      .mode(SaveMode.Overwrite).parquet(t.deltaPath(batchId))
    readManifestVersioned(spark, t) match {
      case Some((v, m)) =>
        if (!m.deltas.contains(batchId))
          // with a pin, CAS against the PINNED version: a commit between
          // the pin and here makes v > pinned and the writeManifest
          // fresh-listing check fails typed instead of landing stale-
          // derived content
          writeManifest(spark, t, m.copy(deltas = m.deltas :+ batchId),
            pinnedFrom.getOrElse(v))
        else
          // a contender listed this id between our two manifest reads
          // (same-batch replay racing itself): the just-written dir is
          // now reader-visible but may differ from the winner's —
          // deterministic replay makes the contents equivalent, so
          // leave the committed listing as is
          ()
      case None =>
        // the table's first commit lists this batch alone: delta dirs an
        // earlier crashed first append left on disk were never committed,
        // and their replays commit them in turn
        writeManifest(spark, t, Manifest(0L, Seq(batchId)), basedOn = 0L)
    }
  }

  /** Merge-on-read view: latest row per key across base and live deltas,
    * tombstoned keys absent. One hash-aggregate shuffle (map-side
    * combine), no sort, no window. Resolves the manifest once; the
    * resulting plan touches only immutable paths (snapshot isolation
    * against one concurrent compaction — see the object scaladoc).
    *
    * `allowSchemaEvolution=true` tolerates a CDC stream that grew columns
    * mid-stream (upstream ALTER TABLE): deltas written before the change
    * surface the new columns as null. Off by default so an accidental
    * schema drift fails loudly instead of null-filling.
    */
  def read(spark: SparkSession, t: Table,
           allowSchemaEvolution: Boolean = false): DataFrame = {
    // ledgers BEFORE the manifest — see applyTombstones' ordering contract
    val tombs = pendingTombstones(spark, t)
    val (baseOpt, deltaIds) = resolveSnapshot(spark, t)
    val dirs = baseOpt.toSeq ++ deltaIds.map(t.deltaPath)
    require(dirs.nonEmpty, s"BaseDelta.read: empty table at ${t.path}")
    applyTombstones(mergedView(spark, t, dirs, allowSchemaEvolution,
      graft.Width.Session), tombs)
  }

  /** The merge-on-read view of `dirs` (a base and/or deltas): one scan
    * with the written schema ([[Footers.readAll]]; a union only when the
    * dirs' schemas differ), pinned to `width`, then latest-wins per key,
    * tombstoned keys and null-key junk (even from a delta predating the
    * CDC contract) dropped.
    */
  private def mergedView(spark: SparkSession, t: Table, dirs: Seq[String],
                         allowSchemaEvolution: Boolean,
                         width: graft.Width): DataFrame = {
    val all = width.pin(Footers.readAll(spark, dirs, allowSchemaEvolution))
    val merged = graft.silver.Staging.dedupLatestByMax(all, t.keys, t.orderCols)
    t.opCol match {
      case Some(op) =>
        merged.filter(col(op) =!= "d" || col(op).isNull)
          .filter(t.keys.map(col(_).isNotNull).reduce(_ && _))
      case None => merged
    }
  }

  /** Time-travel read: the table as of `asOfBatch` — the merge-on-read
    * view over the base plus only the live deltas with id <= asOfBatch
    * (batch ids are the commit timeline; the streaming sink assigns them
    * monotonically). Same plan shape as [[read]].
    *
    * Retention bound (the VACUUM compromise every base+delta format
    * makes): a compaction FOLDS deltas into the base, so history inside
    * the base is not separable. The manifest records the fold boundary
    * (`folded_through` = highest batch id ever folded), and an `asOfBatch`
    * BELOW it throws rather than silently serving the newer fold state —
    * the same contract as Delta/Iceberg failing on a vacuumed version.
    * `asOfBatch == folded_through` is exactly the fold state and is
    * served. Usable as-of window = everything since the last compaction;
    * size it via `maxDeltas` (a larger window costs read amplification,
    * not write cost). Probe the floor first via [[timeTravelFloor]].
    * Pre-upgrade manifests (no recorded boundary) keep the old silent-
    * floor behavior — the floor is simply unknown. `width` is the
    * caller's [[graft.Width]]: the one scan is pinned to it before the
    * merge.
    */
  def readAt(spark: SparkSession, t: Table, asOfBatch: Long,
             allowSchemaEvolution: Boolean = false,
             width: graft.Width = graft.Width.Session): DataFrame = {
    timeTravelFloor(spark, t).foreach { floor =>
      require(asOfBatch >= floor,
        s"BaseDelta.readAt: asOfBatch $asOfBatch predates the compaction " +
          s"fold boundary $floor at ${t.path} — that state was folded into " +
          s"the base and is no longer separable (compact less often or " +
          s"raise maxDeltas to widen the time-travel window)")
    }
    // ledgers BEFORE the manifest — see applyTombstones' ordering contract
    val tombs = pendingTombstones(spark, t)
    val (baseOpt, deltaIds) = resolveSnapshot(spark, t)
    val dirs = baseOpt.toSeq ++ deltaIds.filter(_ <= asOfBatch).map(t.deltaPath)
    require(dirs.nonEmpty,
      s"BaseDelta.readAt: nothing committed at or before batch $asOfBatch at ${t.path}")
    // erasure overrides time travel: logically-erased rows are
    // unreachable at EVERY retained as-of point, not just the head
    applyTombstones(
      mergedView(spark, t, dirs, allowSchemaEvolution, width), tombs)
  }

  /** The oldest batch id `readAt` can still separate, if known: the max
    * batch id ever folded into a base. None = never compacted under the
    * manifest protocol (every batch is separable) or a pre-upgrade
    * manifest (floor unknown — `readAt` then floors silently, as before).
    */
  def timeTravelFloor(spark: SparkSession, t: Table): Option[Long] =
    readManifest(spark, t).flatMap(_.foldedThrough)

  /** Fold live deltas into base generation N+1 and commit via the manifest.
    * Tombstoned keys are physically removed here. Retention: the previous
    * generation's base and delta dirs survive one more cycle for in-flight
    * readers; anything older is retired now. A table with no committed
    * manifest has nothing to fold.
    *
    * `upTo` bounds the fold: only deltas with id <= upTo fold into the
    * new base; later deltas stay LIVE (and separable). This is how a
    * coordinated sink compacts without flooring time travel at its own
    * just-committed batch — fold through the PREVIOUS commit's pointer
    * and the previous commit stays readable via `readAt` for its full
    * retention cycle. `None` folds everything (the original behavior).
    * A bounded fold with a `transform` still rewrites the base through
    * the transform, but only the folded prefix of deltas — erasure over
    * the full table must use `upTo = None`.
    *
    * `pinnedFrom` (a [[manifestVersion]] captured before the CALLER's
    * own state reads) widens the manifest CAS to cover that read window
    * — for a `transform` derived from earlier reads (the
    * `ClusterIndex.erase` relabel set), not just from this compaction's
    * own snapshot. `width` is the caller's [[graft.Width]] for the fold
    * scan, as in [[readAt]].
    */
  def compact(spark: SparkSession, t: Table,
              allowSchemaEvolution: Boolean = false,
              transform: Option[DataFrame => DataFrame] = None,
              upTo: Option[Long] = None,
              pinnedFrom: Option[Long] = None,
              width: graft.Width = graft.Width.Session): Unit =
      // same guard as logicalErase: the fold scan and the tombstone
      // observation pin generation dirs concurrent erasure acks can
      // retire mid-fold — typed conflict, not a raw read fault
      conflictIfRetired(spark, t) {
    val f = fs(spark, t.path)
    val mvOpt = readManifestVersioned(spark, t)
    pinnedFrom.foreach { p =>
      val cur = mvOpt.map(_._1).getOrElse(0L)
      if (cur != p)
        throw new CommitConflictException(
          s"BaseDelta.compact read-window CAS at ${t.path}: transform " +
            s"derived from v$p but the committed version is v$cur — a " +
            "concurrent writer committed since the caller's state read; " +
            "re-derive and retry")
    }
    val mOpt = mvOpt.map(_._2)
    val live = mOpt.map(_.deltas).getOrElse(Seq.empty)
    val foldable = upTo.map(b => live.filter(_ <= b)).getOrElse(live)
    val kept = live.diff(foldable)
    // plain compaction with nothing to fold is a no-op; a TRANSFORM
    // (erasure rewrite) must still run against the base alone
    if (foldable.isEmpty && transform.isEmpty) return
    val gen = mOpt.map(_.generation).getOrElse(0L)
    if (live.isEmpty && gen == 0) return // empty table
    // RESERVE the new base generation number: two concurrent compactors
    // must never co-stage one base dir — each claims a distinct number,
    // the manifest CAS then decides whose lineage commits, and the
    // loser's dir is an invisible orphan for vacuum
    val newGen = CommitCas.reserve(f, new Path(t.manifestRoot),
      ".reserve.base", gen + 1)
    val newBase = new Path(t.baseGenPath(newGen))
    if (f.exists(newBase)) f.delete(newBase, true)  // crashed earlier attempt
    val dirs = Option.when(gen > 0)(t.baseGenPath(gen)).toSeq ++
      foldable.map(t.deltaPath)
    require(dirs.nonEmpty,
      s"BaseDelta.compact: nothing to fold at ${t.path}")
    val folded1 = mergedView(spark, t, dirs, allowSchemaEvolution, width)
    // pending logical erasures MATERIALIZE here: the fold is the
    // deferred rewrite's vehicle, so the new base is physically free of
    // tombstoned rows. The ledgers are OBSERVED once — (generation, ids)
    // pinned — because retirement below must not wipe ids an eraser
    // commits after this read (they are not in this rewrite)
    val tombObs = observeTombstones(spark, t)
    val folded0 = tombObs.foldLeft(folded1) { (d, s) =>
      d.join(broadcast(s.ids), d(s.col) === col("__erased"), "left_anti")
    }
    // (a transform filtering everything is safe: Spark writes a
    // schema-preserving empty file, so the new base stays readable)
    transform.map(_(folded0)).getOrElse(folded0)
      .write.options(MemoryBudget.parquetWriteOptions(spark))
      .mode(SaveMode.Overwrite).parquet(newBase.toString)
    // fold boundary: everything up to the highest FOLDED batch is now
    // inseparable from the base — recorded so readAt can refuse, monotone
    // across compactions (a fold can only raise the floor)
    val folded = (mOpt.flatMap(_.foldedThrough).toSeq ++ foldable)
      .reduceOption(_ max _)
    writeManifest(spark, t,
      Manifest(newGen, kept, folded),
      // commit point: CAS on the pinned (caller-read-window) version
      // when given, else on this compaction's own read version
      pinnedFrom.getOrElse(mvOpt.map(_._1).getOrElse(0L)))
    // a FULL fold has rewritten every live row through the tombstone
    // filter — the OBSERVED ids are materialized and retire (receipt
    // upgrade point); ids committed since the observation stay pending.
    // A bounded fold keeps its ledgers: the un-folded later deltas may
    // still hold matching rows, which reads must keep filtering.
    if (kept.isEmpty) retireTombstones(spark, t, tombObs)
    // retire everything no longer referenced by the PREVIOUS generation:
    // readers may still hold (gen, live); older state is unreachable.
    // Bounds matter for fail-clean concurrency: base gens strictly BELOW
    // the previous generation (a contender's reserved dir is above);
    // delta dirs only AT OR BELOW the fold boundary (a concurrent
    // APPEND's in-flight dir carries a HIGHER batch id — sweeping it
    // would corrupt the appender mid-write; orphans above the floor are
    // vacuum's job, at a writer-quiet moment)
    (1L until gen).foreach(g => f.delete(new Path(t.baseGenPath(g)), true))
    (diskDeltas(spark, t).toSet -- live.toSet)
      .filter(id => folded.exists(_ >= id))
      .foreach(id => f.delete(new Path(t.deltaPath(id)), true))
  }

  /** Streaming-sink step: append, then compact once the outstanding delta
    * count passes `maxDeltas` — read amplification stays bounded while
    * steady-state writes stay O(batch).
    */
  def appendAndMaybeCompact(spark: SparkSession, t: Table, incoming: DataFrame,
                            batchId: Long, maxDeltas: Int = 16,
                            allowSchemaEvolution: Boolean = false,
                            width: graft.Width = graft.Width.Session): Unit = {
    append(spark, t, incoming, batchId)
    if (deltaBatches(spark, t).size > maxDeltas)
      compact(spark, t, allowSchemaEvolution, width = width)
  }

  /** Retire state unreachable from the CURRENT manifest — the VACUUM to
    * `compact`'s OPTIMIZE. `compact` deliberately leaves the just-folded
    * delta dirs and the previous-generation base on disk so readers that
    * resolved the prior snapshot mid-query keep working; once that
    * snapshot window has drained, this deletes them: base generations
    * other than the current one, delta dirs not referenced by the
    * current manifest, and all but the newest `retainManifests` manifest
    * versions.
    *
    * Like Delta's VACUUM, this trades history for space: after it, only
    * the current snapshot (and any still-live deltas) is readable —
    * `readAt` below the fold floor already refuses, and vacuumed batch
    * ids now fail loudly rather than resolve. Storage-metadata work
    * only (listings + deletes on O(files) paths), no data pass. Returns
    * the deleted paths for the operation ledger. No-op (Nil) on a table
    * that never committed a manifest: it is empty, and the manifest its
    * first append commits decides what a later vacuum keeps.
    */
  def vacuum(spark: SparkSession, t: Table,
             retainManifests: Int = 2,
             writerSafeUpTo: Option[Long] = None): Seq[String] = {
    val mOpt = readManifest(spark, t)
    if (mOpt.isEmpty) return Seq.empty
    val m = mOpt.get
    val f = fs(spark, t.path)
    val deleted = scala.collection.mutable.ArrayBuffer[String]()
    def drop(p: Path): Unit =
      if (f.exists(p) && f.delete(p, true)) deleted += p.toString
    // base generations OTHER than current — below-current retained
    // history AND above-current orphans from crashed or CAS-losing
    // compactors (reserved numbers are never reused, so orphans don't
    // self-heal by overwrite); plus reservation markers. The FULL
    // form runs with no writers in flight (the Delta VACUUM
    // zero-retention contract); `writerSafeUpTo = Some(b)` is the
    // concurrent-writer form an EAGER coordinated erasure needs — it
    // reclaims only what that erasure itself retired (below-current base
    // generations and unlisted delta dirs with id <= b, the fold bound),
    // never an in-flight appender's fresh unlisted dir (ids above the
    // committed pointer) or an in-flight compactor's above-current
    // staging.
    val writerSafe = writerSafeUpTo.isDefined
    def retired(g: Long) =
      if (writerSafe) g < m.generation else g != m.generation
    deleted ++= CommitCas.retire(f, new Path(t.path), "base_g")(retired)
    deleted ++= CommitCas.retire(f, new Path(t.manifestRoot), ".reserve.base")(retired)
    // folded (or orphaned) delta dirs: anything not in the live set —
    // bounded at the fold point in writer-safe mode
    (diskDeltas(spark, t).toSet -- m.deltas.toSet).toSeq.sorted
      .filter(id => writerSafeUpTo.forall(id <= _))
      .foreach(id => drop(new Path(t.deltaPath(id))))
    // crash leftovers from swapInDelta's announce-then-swap: stage dirs
    // (pre-announce crash) and trash dirs (crash between the two renames
    // — these hold the PRE-rewrite bytes, e.g. an erasure's subject
    // data), both invisible to the all-digit 'batch=' sweep above. FULL
    // mode only: its writer-quiet contract guarantees no swap is in
    // flight; writer-safe mode must not touch them (an in-flight
    // kept-tail rewrite owns live stage/trash siblings).
    if (!writerSafe) {
      val droot = new Path(t.deltaRoot)
      if (f.exists(droot)) f.listStatus(droot).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith("batch=") &&
            (n.contains(".stage-") || n.contains(".trash-")))
          drop(st.getPath)
      }
    }
    // manifest history beyond the retention window (never the newest)
    manifestVersions(spark, t).dropRight(math.max(1, retainManifests))
      .foreach(v => drop(CommitCas.versionPath(new Path(t.manifestRoot), v)))
    // committed-cleared tombstone ledgers: their pending set is empty,
    // so the dir is pure history — physically reclaimable in FULL mode
    // only (the writer-quiet contract covers the eraser race a live
    // delete would otherwise have; a ledger with PENDING ids is never
    // touched). The WRITER-SAFE form must not touch them at all:
    // logicalErase is an any-time immediate-ack call, and a check-then-
    // delete racing a concurrent ack's publish into the same column dir
    // would silently destroy an acknowledged erasure — the eraser
    // returned success, the ids never apply (reachable live: an eager
    // erase's writer-safe vacuum vs the deferred eraser in the vector
    // chaos storm).
    if (!writerSafe) {
      val troot = new Path(s"${t.path}/_tombstones")
      if (f.exists(troot)) {
        f.listStatus(troot).filter(_.isDirectory).foreach { st =>
          val c = st.getPath.getName
          if (SnapshotStore.exists(spark, t.tombstonePath(c)) &&
              pendingLedgerGen(spark, t, c).isEmpty)
            drop(st.getPath)
        }
        if (f.exists(troot) && f.listStatus(troot).isEmpty) drop(troot)
      }
    }
    deleted.toSeq
  }
}
