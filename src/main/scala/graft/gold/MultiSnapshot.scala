package graft.gold

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** A committer lost its pointer CAS to a concurrent commit that touched
  * overlapping state (or exhausted its rebase retries). The losing
  * attempt published NOTHING — readers see only complete commits — and
  * its staged generation dirs are invisible orphans that [[MultiSnapshot
  * .vacuum]] / [[SnapshotStore.vacuum]] reclaim. Safe recovery is to
  * re-derive from the NEW committed state and publish again (a full
  * read-modify-write redo, not a blind resend of the stale frames).
  */
final class CommitConflictException(msg: String, cause: Throwable = null)
  extends RuntimeException(msg, cause)

/** Multi-table atomic publish — one commit spanning several snapshot
  * tables, so readers always see a MUTUALLY CONSISTENT set of
  * generations. The single-table [[SnapshotStore]] cannot express the
  * banking invariant that matters across tables: a transactions fact
  * published moments after its accounts dim must not be readable with
  * the OLD dim (phantom FK orphans during the gap). Lakehouse formats
  * grew the same organ (Delta commit coordination / Iceberg's
  * multi-table transactions in the REST catalog); here it is one
  * [[CommitCas]] log over per-table generations:
  *
  * {{{
  * <root>/_commit/v<N>            one "table=gen" line per member, sorted;
  *                                external pointers as "@name=value"
  * <root>/<table>/gen=<g>/…       immutable staged generations
  * <root>/<table>/.reserve.g<g>   generation reservations
  * }}}
  *
  * Readers resolve the coordinator ONCE and then touch only immutable
  * generation dirs, so a concurrent publish of ANY subset of tables
  * cannot tear a multi-table read. Partial publishes are legal: tables
  * absent from a `publish` call keep their current generation. The
  * previous commit's generations survive one cycle for in-flight
  * readers; older ones are retired on commit.
  *
  * Conflict policy: a writer that loses the coordinator CAS REBASES
  * (bounded retries) when the winning commit advanced only DISJOINT
  * members — its staged dirs are already safe under reserved numbers,
  * so the rebase is a pointer-level merge, no restaging — and throws
  * [[CommitConflictException]] when the winner advanced a member it
  * also publishes (a read-modify-write lost its read: the caller must
  * re-derive and redo). Streaming replay stays exact because the
  * exactly-once ledger is the committed `@sys.batch` marker, not
  * generation/version arithmetic.
  */
object MultiSnapshot {

  final case class Commit(version: Long, gens: Map[String, Long])

  private def commitDir(root: String) = new Path(s"$root/_commit")
  private def tableDir(root: String, table: String) = new Path(s"$root/$table")
  def genPath(root: String, table: String, gen: Long): String =
    s"$root/$table/gen=$gen"

  private def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def commitVersions(spark: SparkSession, root: String): Seq[Long] =
    CommitCas.versions(fs(spark, root), commitDir(root))

  private def readCommitFile(spark: SparkSession, root: String,
                             v: Long): Commit = {
    val body = CommitCas.readVersion(fs(spark, root), commitDir(root), v)
    // table names are path segments (no '=', '\n'), so a line splits at
    // its last '='
    val gens = body.linesIterator.filter(_.nonEmpty).map { line =>
      val i = line.lastIndexOf('=')
      require(i > 0, s"MultiSnapshot: malformed commit line '$line' in v$v")
      line.substring(0, i) -> line.substring(i + 1).toLong
    }.toMap
    Commit(v, gens)
  }

  /** The committed state, or None for an unpublished root. */
  def currentCommit(spark: SparkSession, root: String): Option[Commit] =
    commitVersions(spark, root).lastOption
      .map(readCommitFile(spark, root, _))

  private[gold] def snapshotReadFailure(e: Throwable): Boolean = {
    var cur = e
    var depth = 0
    while (cur != null && depth < 12) {
      cur match {
        case _: java.io.FileNotFoundException => return true
        case _: java.io.EOFException => return true
        case _ =>
          val m = cur.getMessage
          // The error shape varies with WHEN the destruction hit:
          //  - plan time (dir listing): AnalysisException PATH_NOT_FOUND
          //  - task read, file unlinked: FAILED_READ_FILE.FILE_NOT_EXIST
          //  - task read, mid-destruction on stores whose deletes/copies
          //    are per-file: FAILED_READ_FILE.NO_HINT (footer/length
          //    mismatch) or a bare EOF
          // — all the same cause, so the whole family counts as a
          // possibly-retired read
          // ("No such file or directory": a WRITE task's POSIX fs op —
          // mkdir/chmod/rename — on a dir destroyed under it)
          // (UNABLE_TO_INFER_SCHEMA: a dir caught between destruction
          // and replacement lists no parquet footers at plan time)
          if (m != null && (m.contains("FAILED_READ_FILE") ||
              m.contains("PATH_NOT_FOUND") ||
              m.contains("Path does not exist") ||
              m.contains("No such file or directory") ||
              m.contains("Mkdirs failed to create") ||
              m.contains("UNABLE_TO_INFER_SCHEMA") ||
              m.contains("File does not exist"))) return true
      }
      cur = cur.getCause
      depth += 1
    }
    false
  }

  /** Generic retired-state guard: runs `body`, translating a
    * mid-execution read failure into the typed retryable conflict iff
    * `fingerprint` (captured at entry) has CHANGED — concurrent
    * maintenance retired state the body had resolved. A failure with an
    * unchanged fingerprint is a genuine storage fault and propagates,
    * after a short grace re-check (announce-then-destroy protocols
    * commit their bump just before the destruction; a reader can
    * observe the failure a beat earlier).
    *
    * SELF-MUTATION AMBIGUITY, adjudicated (round 11): a WRITE body's own
    * commits also change the fingerprint, so a genuine storage fault
    * occurring after a self-commit translates to the typed conflict on
    * its first occurrence. The obvious fix — re-capturing the
    * observation point after each self-commit — is UNSOUND, proven live
    * by the storage chaos storm: any refresh silently absorbs a
    * concurrent destroyer's change that landed before it (at key
    * granularity too: changes between two refreshes are
    * indistinguishable from the body's own), and the resulting RAW
    * error breaks the retry protocol exactly when a real race happened.
    * Translating on any entry-to-failure change is the sound side of
    * the ambiguity: a real conflict always retries; a genuine fault
    * surfaces once its retry re-enters with a fresh baseline (bodies
    * whose replays are ledger-skipped stop self-mutating, so attempt 2
    * propagates raw) or, for always-recommitting bodies, when the
    * retry budget ends — with the REAL fault attached as this
    * exception's cause either way.
    */
  private[graft] def retiredGuard[A](what: String,
      fingerprint: () => Map[String, Long],
      baseline: Option[Map[String, Long]] = None)(body: => A): A = {
    val observed = baseline.getOrElse(fingerprint())
    try body
    catch {
      case e: CommitConflictException => throw e
      case e: Throwable if snapshotReadFailure(e) =>
        var cur = fingerprint()
        var grace = 0
        while (cur == observed && grace < 3) {
          Thread.sleep(250)
          cur = fingerprint()
          grace += 1
        }
        if (cur != observed)
          throw new CommitConflictException(
            s"$what: state retired mid-read — observed $observed, " +
              s"now $cur (concurrent maintenance destroyed resolved " +
              "files, or this body's own commits moved the state — the " +
              "cause below is the real fault if this persists across " +
              "retries); re-resolve and retry", e)
        else throw e
    }
  }

  /** Runs `body` — the read-fold-stage phase of a read-modify-write
    * transaction based on the `observed` commit — translating a
    * RETIRED-SNAPSHOT read failure into the typed retryable conflict. A
    * coordinated erasure destroys pre-erasure generation dirs the moment
    * its commit lands (the erasure contract: erased bytes must not
    * outlive the ack), so a transaction that resolved the PREVIOUS
    * commit can have its pinned reads die mid-execution with
    * FILE_NOT_EXIST — the same lost-my-read race `publishFrom` would
    * report at the commit point, just surfacing earlier. The baseline is
    * the caller's `observed` commit, not a version read at entry: a
    * commit landing between the caller's resolve and this call is
    * already a retirement. A file error while the root's commit has NOT
    * advanced past `observed` is a genuine storage fault and propagates.
    */
  def conflictIfRetired[A](spark: SparkSession, root: String,
                           observed: Option[Commit])(body: => A): A = {
    val obsV = observed.map(_.version).getOrElse(0L)
    // clamped: a version BELOW the observed one (the root deleted under
    // the reader) is a storage fault, not a retirement
    retiredGuard(s"MultiSnapshot($root)",
      () => Map("commit" -> (commitVersions(spark, root).lastOption
        .getOrElse(0L) max obsV)),
      Some(Map("commit" -> obsV)))(body)
  }

  /** Cross-table TIME TRAVEL: the commit at `version`, refused loudly
    * when it has been retired (retention keeps the current and previous
    * commit pointers — the in-flight-reader window; an erasure vacuum
    * shrinks it to the current commit only, deliberately: erased state
    * must not be resolvable). The returned commit's generation dirs are
    * immutable, so reads through it are as consistent as the current
    * ones.
    */
  def commitAt(spark: SparkSession, root: String, version: Long): Commit = {
    // the retained WINDOW is the last two commit versions (one after an
    // erasure vacuum) — older version FILES may still exist on disk
    // (immutable CAS history, reclaimed only by vacuum; see CommitCas),
    // but their generation dirs are retired on publish, so resolving
    // them must refuse typed here rather than fail on missing data dirs
    val retained = commitVersions(spark, root).takeRight(2)
    require(retained.contains(version),
      s"MultiSnapshot.commitAt: version $version is not retained at $root " +
        s"(retained window: ${retained.mkString(", ")}) — retention keeps " +
        "the current and previous commits; older generation dirs are " +
        "retired on publish and erasure vacuums everything but current")
    readCommitFile(spark, root, version)
  }

  /** Every table of the retained commit `version` — the consistent
    * multi-table view AS OF that commit (pointer entries excluded, as in
    * [[readAll]]).
    */
  def readAllAt(spark: SparkSession, root: String,
                version: Long): Map[String, DataFrame] = {
    val c = commitAt(spark, root, version)
    c.gens.filterNot(_._1.startsWith(PointerPrefix)).map { case (t, g) =>
      t -> Footers.read(spark, genPath(root, t, g))
    }
  }

  /** Namespace for EXTERNAL-POINTER commit entries ([[publish]]'s
    * `pointers`): committed as `@name=value` lines, so the generic
    * gen-dir machinery (readAll, retirement) never mistakes them for
    * staged tables. [[pointer]] resolves them.
    */
  val PointerPrefix = "@"

  /** The committed pointer value for an external table (e.g. a
    * BaseDelta fact's as-of batch id), if present in the commit.
    */
  def pointer(c: Commit, table: String): Option[Long] =
    c.gens.get(PointerPrefix + table)

  /** Atomically publish new contents for `tables` (a subset of the
    * root's tables; others carry forward). Returns the new commit.
    *
    * `pointers` commits EXTERNAL state references in the SAME atomic
    * flip: each (name, value) lands in the commit file verbatim (under
    * the `@` namespace) with no staging and no retirement here — the
    * O(batch) path for a fact held as a [[BaseDelta]] table, whose
    * durable-but-invisible staging is its own delta dir and whose
    * committed view is `readAt(value)`. Readers resolving the
    * coordinator get the gen tables AND the pointer values of one
    * consistent commit.
    *
    * Contention follows the object scaladoc's conflict policy, with at
    * most `conflictRetries` rebases over disjoint winners (commuting
    * writes, e.g. two streams maintaining different members of one
    * root). `conflictRetries = 0` refuses ANY interleaved commit — full
    * fail-stop for callers wanting strict serialization.
    */
  def publish(spark: SparkSession, root: String,
              tables: Map[String, DataFrame],
              pointers: Map[String, Long] = Map.empty,
              conflictRetries: Int = 3): Commit =
    publishFrom(spark, root, currentCommit(spark, root), tables, pointers,
      conflictRetries)

  /** [[publish]] with the caller's OWN observation point: `observed` is
    * the commit the staged contents were derived from (None = derived
    * from an unpublished root). The conflict check then spans the
    * caller's whole read-modify-write window, not just publish's — a
    * contender that committed between the caller's reads and this call
    * advancing an overlapping member is a conflict, even though a fresh
    * entry read would not have seen it. Transactional callers
    * (MultiTableStream.foldBatch, Erasure.eraseCoordinated) MUST use
    * this form (or its two halves, [[stage]] then [[commit]]); bare
    * [[publish]] is for blind replaces whose content does not depend on
    * prior committed state.
    */
  def publishFrom(spark: SparkSession, root: String,
                  observed: Option[Commit],
                  tables: Map[String, DataFrame],
                  pointers: Map[String, Long] = Map.empty,
                  conflictRetries: Int = 3): Commit =
    commit(spark, stage(spark, root, observed, tables, pointers,
      conflictRetries))

  /** A publish between its two halves: every member generation is
    * reserved and written (durable, invisible — no commit references
    * it), the pointer CAS has not run. `schemas` are the written frames'
    * schemas, so [[readStaged]] needs no footer inference. Abandoning a
    * `Staged` (an audit refusal, a crash) leaves invisible orphans that
    * [[vacuum]] or a later publish's retirement reclaims — the same state
    * a lost CAS leaves.
    */
  final case class Staged(root: String, observed: Option[Commit],
                          gens: Map[String, Long],
                          schemas: Map[String, StructType],
                          pointers: Map[String, Long],
                          conflictRetries: Int)

  /** Throws [[CommitConflictException]] iff a commit after `observed`
    * (now `cur`) advanced a member this publish advances: a staged
    * `table` or a `pointer`.
    */
  private def conflictIfOverlap(root: String, observed: Option[Commit],
                                tables: Set[String], pointers: Set[String],
                                cur: Option[Commit]): Unit = {
    val prevGens = observed.map(_.gens).getOrElse(Map.empty)
    val curGens = cur.map(_.gens).getOrElse(Map.empty)
    val touched = tables ++ pointers.map(PointerPrefix + _)
    val overlap = touched.filter(t => curGens.get(t) != prevGens.get(t))
    if (overlap.nonEmpty)
      throw new CommitConflictException(
        s"MultiSnapshot.publish at $root: concurrent commit advanced " +
          s"${overlap.mkString(", ")} (observed v${observed.map(_.version).getOrElse(0L)}, " +
          s"now v${cur.map(_.version).getOrElse(0L)}) — re-derive from " +
          "the current commit and publish again; this attempt's staged " +
          "generations are invisible orphans (vacuum reclaims them)")
  }

  /** First half of [[publishFrom]]: the overlap fast-path check, then
    * RESERVE + STAGE every member of `tables`. Nothing becomes visible;
    * [[commit]] flips the pointer.
    */
  def stage(spark: SparkSession, root: String,
            observed: Option[Commit],
            tables: Map[String, DataFrame],
            pointers: Map[String, Long] = Map.empty,
            conflictRetries: Int = 3): Staged = {
    require(tables.nonEmpty || pointers.nonEmpty,
      "MultiSnapshot.publish: no tables given")
    (tables.keys ++ pointers.keys).foreach(t =>
      require(!t.contains("=") && !t.contains("/") && !t.startsWith("_") &&
        !t.startsWith(PointerPrefix),
        s"MultiSnapshot: illegal table name '$t'"))
    require(tables.keySet.intersect(pointers.keySet).isEmpty,
      "MultiSnapshot.publish: a table cannot be both staged and a pointer")
    val f = fs(spark, root)
    val prevGens = observed.map(_.gens).getOrElse(Map.empty)
    // fast-path abort BEFORE staging: if the caller's observation is
    // already overtaken on an overlapping member, don't write data at all
    conflictIfOverlap(root, observed, tables.keySet, pointers.keySet,
      currentCommit(spark, root))
    // RESERVE + STAGE: each contender claims a distinct generation number
    // before writing a byte of data — durable, invisible, collision-free.
    // Member stagings write DISJOINT generation dirs, so they run
    // concurrently (guide §2.6): a dim+fact commit pays the slower
    // member's write, not the sum of both.
    val staged = graft.Par.run(tables.toSeq.map { case (t, df) => () =>
      val gen = CommitCas.reserve(f, tableDir(root, t), ".reserve.g",
        prevGens.getOrElse(t, 0L) + 1)
      df.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(genPath(root, t, gen))
      t -> gen
    }).toMap
    Staged(root, observed, staged, tables.map { case (t, df) => t -> df.schema },
      pointers, conflictRetries)
  }

  /** The staged generations of `s`, read with the schemas they were
    * written with — the exact bytes [[commit]] would publish, e.g. for a
    * write–audit–publish gate — each leaf pinned to `width`.
    */
  def readStaged(spark: SparkSession, s: Staged,
                 width: graft.Width = graft.Width.Session): Map[String, DataFrame] =
    s.gens.map { case (t, g) =>
      t -> width.pin(spark.read.schema(s.schemas(t)).parquet(genPath(s.root, t, g)))
    }

  /** Second half of [[publishFrom]]: the pointer CAS (rebasing over
    * disjoint contenders up to `s.conflictRetries` times), then
    * retirement below the retained window. Returns the new commit.
    */
  def commit(spark: SparkSession, s: Staged): Commit = {
    val Staged(root, observed, _, _, pointers, conflictRetries) = s
    val f = fs(spark, root)
    val prevGens = observed.map(_.gens).getOrElse(Map.empty)
    var attempt = 0
    var committed: Commit = null
    while (committed == null) {
      val cur = currentCommit(spark, root)
      val curGens = cur.map(_.gens).getOrElse(Map.empty)
      // REBASE CHECK: did any commit since the caller's observation
      // advance a member we are publishing? If so our staged content may
      // be derived from state the winner replaced — fail clean, never
      // merge blindly.
      conflictIfOverlap(root, observed, s.gens.keySet, pointers.keySet, cur)
      val newGens = curGens ++ s.gens ++
        pointers.map { case (t, v) => (PointerPrefix + t) -> v }
      val v = cur.map(_.version).getOrElse(0L) + 1
      val body = newGens.toSeq.sortBy(_._1)
        .map { case (t, g) => s"$t=$g" }.mkString("\n")
      if (CommitCas.commitNext(f, commitDir(root), v, body))
        committed = Commit(v, newGens)
      else {
        // lost the CAS: the loop re-reads and either rebases (disjoint)
        // or throws (overlap), up to the retry budget
        attempt += 1
        if (attempt > conflictRetries)
          throw new CommitConflictException(
            s"MultiSnapshot.publish at $root: lost the commit CAS " +
              s"$attempt times (last at v$v) — contention exceeds " +
              "conflictRetries; staged generations remain invisible " +
              "orphans for vacuum")
      }
    }
    // RETIRE below the retained window only: generations LOWER than
    // every keeper (current + previous commit). Generations ABOVE the
    // committed one are never touched here — they may be a live
    // contender's reserved staging — and are reclaimed by vacuum.
    val keep: Map[String, Set[Long]] =
      (committed.gens.keySet ++ prevGens.keySet)
        .filterNot(_.startsWith(PointerPrefix))
        .map(t => t -> Set(committed.gens.get(t), prevGens.get(t)).flatten)
        .toMap
    // (reservation markers below the committed generation can never be
    // contended again: reservations start at committed+1)
    keep.foreach { case (t, keepGens) =>
      val floor = if (keepGens.nonEmpty) keepGens.min else Long.MaxValue
      CommitCas.retire(f, tableDir(root, t), "gen=")(_ < floor)
      CommitCas.retire(f, tableDir(root, t), ".reserve.g")(_ < floor)
    }
    committed
  }

  /** Resolve ONE commit and read every STAGED table from it — the
    * mutually consistent multi-table view. Pointer entries (`@name`)
    * are external state references the caller resolves via [[pointer]]
    * + its own reader (e.g. `BaseDelta.readAt`); they are excluded
    * here because the coordinator holds only their as-of value.
    */
  def readAll(spark: SparkSession, root: String): Map[String, DataFrame] = {
    val c = currentCommit(spark, root).getOrElse(
      sys.error(s"MultiSnapshot.readAll: nothing committed at $root"))
    c.gens.filterNot(_._1.startsWith(PointerPrefix)).map { case (t, g) =>
      t -> Footers.read(spark, genPath(root, t, g))
    }
  }

  /** Retire every generation NOT referenced by the CURRENT commit, every
    * older commit pointer, and every reservation marker — the erasure
    * override of the one-cycle retention [[publish]] keeps for in-flight
    * readers (after a subject-erasing publish the pre-erasure
    * generations' bytes must go NOW, not next cycle), and the reclaimer
    * for generations orphaned by crashed or CAS-losing writers, which
    * [[publish]]'s own retirement deliberately never touches. Run with
    * NO writers in flight (the Delta VACUUM zero-retention contract): a
    * concurrent writer's reserved-but-uncommitted staging would be
    * swept. Storage-metadata work only; returns deleted paths for the
    * operation ledger.
    *
    * `belowCurrentOnly = true` is the WRITER-SAFE form: it deletes only
    * state strictly BELOW the committed generations (retired history —
    * what an erasure is legally required to destroy now) and leaves
    * anything above untouched, because a generation above the committed
    * one may be a live contender's reserved staging. A concurrent
    * committer doomed to lose its CAS can still hold subject bytes in
    * such an orphan until the next full vacuum at a writer-quiet
    * moment — the committed, reachable state is subject-free either way.
    */
  def vacuum(spark: SparkSession, root: String,
             belowCurrentOnly: Boolean = false): Seq[String] = {
    val f = fs(spark, root)
    val c = currentCommit(spark, root).getOrElse(return Seq.empty)
    val tables = c.gens.toSeq.filterNot(_._1.startsWith(PointerPrefix))
    tables.flatMap { case (t, cur) =>
      CommitCas.retire(f, tableDir(root, t), "gen=")(g =>
        if (belowCurrentOnly) g < cur else g != cur) ++
        CommitCas.retire(f, tableDir(root, t), ".reserve.g")(g =>
          !belowCurrentOnly || g < cur)
    } ++
      // only versions BELOW the resolved commit: a contender may have
      // committed a newer version since our read — deleting it would
      // destroy a completed commit, not an orphan
      CommitCas.retire(f, commitDir(root), "v")(_ < c.version)
  }

  /** Commit history over the RETAINED window — the DESCRIBE HISTORY
    * analog for the coordinator: one row per (version, table) with the
    * committed generation (or pointer value for `@` members) and
    * per-version flags for which tables ADVANCED in that commit
    * (derivable only inside the retained window — the previous commit is
    * the baseline, so the oldest retained version reports every member
    * as advanced=false/unknown=null). Driver-side metadata only
    * (commit files are small and ≤ retained count).
    */
  def history(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val vs = commitVersions(spark, root)
    val commits = vs.map(readCommitFile(spark, root, _))
    val byVersion = commits.map(c => c.version -> c.gens).toMap
    val rows = commits.flatMap { c =>
      val prev = byVersion.get(c.version - 1)
      c.gens.toSeq.map { case (t, g) =>
        val isPointer = t.startsWith(PointerPrefix)
        val advanced: Option[Boolean] = prev.map(p => !p.get(t).contains(g))
        (c.version, if (isPointer) t.stripPrefix(PointerPrefix) else t,
          if (isPointer) "pointer" else "staged", g, advanced)
      }
    }
    rows.toDF("version", "table_name", "member_kind", "generation",
      "advanced_in_version")
  }

  /** One table from the current commit (still coordinator-resolved, so
    * repeated calls within one commit cycle are consistent with
    * [[readAll]] of that commit).
    */
  def read(spark: SparkSession, root: String, table: String): DataFrame =
    readPinned(spark, root, currentCommit(spark, root).getOrElse(
      sys.error(s"MultiSnapshot.read: nothing committed at $root")), table)

  /** One table resolved through a SPECIFIC commit — the read form a
    * read-modify-write transaction must use so every input comes from
    * its single observation point (pairing with [[publishFrom]], whose
    * conflict check then covers exactly these reads). Read with the
    * schema recorded in the generation's footers (no inference job) and
    * pinned to `width`.
    */
  def readPinned(spark: SparkSession, root: String, c: Commit,
                 table: String,
                 width: graft.Width = graft.Width.Session): DataFrame = {
    val g = c.gens.getOrElse(table,
      sys.error(s"MultiSnapshot.read: table '$table' not in commit v${c.version}"))
    width.pin(Footers.read(spark, genPath(root, table, g)))
  }

  /** Rows stored in `tables`' generations of commit `c` (footer counts,
    * no Spark job; tables absent from `c` count 0), read only until the
    * sum passes `stopAbove` — a fold's [[graft.Width]] input.
    */
  private[graft] def storedRows(spark: SparkSession, root: String, c: Commit,
                                tables: Seq[String],
                                stopAbove: Long = Long.MaxValue): Long =
    Footers.rows(spark,
      tables.flatMap(t => c.gens.get(t).map(genPath(root, t, _))), stopAbove)
}
