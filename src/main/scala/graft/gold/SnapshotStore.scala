package graft.gold

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Object-store-safe atomic snapshot publish — the whole-table publish
  * protocol, safe where renames are copy+delete (S3/MinIO — the
  * reference's own storage substrate, kafka_to_minio.py:45-51): nothing is
  * ever renamed over anything, the commit point is a [[CommitCas]] version
  * file.
  *
  * {{{
  * <path>/_ptr/v<V>     body {"gen":N} — the committed generation
  * <path>/gen=<N>/…     immutable parquet snapshot generations
  * <path>/.reserve.g<N> generation reservations
  * }}}
  *
  *  - `publish` = `stage` (reserve and write generation N+1; the table
  *    still serves N) + `commit` (the next pointer version naming N+1).
  *    A crash between the two leaves an orphaned generation readers
  *    never resolve; [[vacuum]] reclaims it.
  *  - A reader resolves the pointer ONCE and then touches only an
  *    immutable generation dir; the previous generation is retained for
  *    one publish cycle (same bounded-retention compromise as
  *    [[BaseDelta]] / Delta VACUUM).
  *
  * Conflict policy: this is a single-table read-modify-write surface, so
  * a commit checks the committed generation against what the caller
  * derived from and NEVER rebases — a lost pointer CAS or a stale
  * observation is a typed [[CommitConflictException]]; nothing partial
  * commits and the loser's staged generation is an invisible orphan.
  * Recovery is to redo the whole publish against the new generation
  * ([[publishFrom]] makes the conflict window span the caller's reads).
  * Multi-TABLE atomicity belongs on [[MultiSnapshot]].
  */
object SnapshotStore {

  private def ptrDir(path: String) = new Path(s"$path/_ptr")
  def genPath(path: String, gen: Long) = s"$path/gen=$gen"

  private[gold] def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The committed generation, or None for an unpublished table. */
  def currentGen(spark: SparkSession, path: String): Option[Long] = {
    val f = fs(spark, path)
    CommitCas.versions(f, ptrDir(path)).lastOption.map(readPtrGen(f, path, _))
  }

  private def readPtrGen(f: FileSystem, path: String, v: Long): Long = {
    val s = CommitCas.readVersion(f, ptrDir(path), v)
    "\"gen\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(s)
      .getOrElse(sys.error(
        s"corrupt pointer ${CommitCas.versionPath(ptrDir(path), v)}: $s"))
      .group(1).toLong
  }

  /** Write a fresh generation's data WITHOUT committing it — the table
    * keeps serving the current generation until [[commit]]. The
    * generation number is RESERVED first, so two concurrent stagers
    * never share a staging directory — without the reservation, a
    * loser's `SaveMode.Overwrite` into the shared `currentGen+1` dir
    * could rewrite it AFTER the winner's pointer CAS committed it. Exposed
    * (rather than folded into [[publish]]) so crash-recovery tests can
    * stop between the two steps.
    */
  def stage(df: DataFrame, path: String,
            partitionCols: Seq[String] = Nil): Long = {
    val spark = df.sparkSession
    val next = CommitCas.reserve(fs(spark, path), new Path(path), ".reserve.g",
      currentGen(spark, path).getOrElse(0L) + 1)
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(genPath(path, next))
    next
  }

  /** Commit a staged generation as the next pointer version, then retire
    * generations older than the PREVIOUS one (in-flight readers may
    * still hold it).
    */
  def commit(spark: SparkSession, path: String, gen: Long): Unit =
    commitChecked(spark, path, gen, observed = None)

  /** [[commit]] with the caller's OWN observation point: `observed` is
    * the committed generation the staged contents were DERIVED from
    * (None = derived from an unpublished table). The conflict check then
    * spans the caller's whole read-modify-write window: any commit that
    * landed between the caller's reads and this call — even one whose
    * generation number is lower than ours — is a typed conflict, where
    * the bare [[commit]]'s `staged > committed` check would silently
    * admit stale-derived content (two read-merge-publish writers racing
    * one path both stage above the generation they read; the later
    * committer's content is missing the earlier one's merge — the
    * lost-update two concurrent `logicalErase` calls on one tombstone
    * ledger would hit). Read-merge-publish callers MUST use this form;
    * bare [[commit]]/[[publish]] are for blind replaces or externally
    * serialized writers (a streaming sink's per-batch state fold).
    */
  def commitFrom(spark: SparkSession, path: String, gen: Long,
                 observed: Option[Long]): Unit =
    commitChecked(spark, path, gen, Some(observed))

  private def commitChecked(spark: SparkSession, path: String, gen: Long,
                            observed: Option[Option[Long]]): Unit = {
    val f = fs(spark, path)
    require(f.exists(new Path(genPath(path, gen))),
      s"SnapshotStore.commit: generation $gen was never staged at $path")
    // ONE pointer listing feeds both the conflict check and the CAS
    // version: a contender committing after this listing takes version
    // `next`, so our pointer CAS fails and the conflict surfaces typed —
    // deriving `prev` and `next` from separate listings would leave a
    // window where a commit lands between them and stale-derived content
    // commits under a higher fresh version
    val versions = CommitCas.versions(f, ptrDir(path))
    val prev = versions.lastOption.map(readPtrGen(f, path, _))
    observed.foreach { obs =>
      if (prev != obs)
        throw new CommitConflictException(
          s"SnapshotStore.commitFrom at $path: committed generation is " +
            s"$prev but this publish derived from $obs — a concurrent " +
            "publish won the window; re-derive from the current " +
            "generation and redo (this staged dir is an invisible " +
            "orphan for vacuum)")
    }
    if (!prev.forall(_ < gen))
      throw new CommitConflictException(
        s"SnapshotStore.commit at $path: staged generation $gen is not " +
          s"newer than committed $prev — a concurrent publish won; " +
          "re-derive from the current generation and redo the whole " +
          "publish (this staged dir is an invisible orphan for vacuum)")
    val next = versions.lastOption.getOrElse(0L) + 1
    if (!CommitCas.commitNext(f, ptrDir(path), next, s"""{"gen":$gen}"""))
      throw new CommitConflictException(
        s"SnapshotStore.commit at $path: lost the pointer CAS at " +
          s"v$next; generation $gen is NOT committed and remains an " +
          "invisible orphan for vacuum — re-derive and redo the publish")
    // retention: keep the just-replaced generation for readers that
    // resolved it before this commit; reservations start at committed + 1,
    // so markers below it can never be contended again
    prev.foreach { p =>
      CommitCas.retire(f, new Path(path), "gen=")(_ < p)
      CommitCas.retire(f, new Path(path), ".reserve.g")(_ < p)
    }
  }

  /** Atomic publish: stage + commit. Returns the committed generation. */
  def publish(df: DataFrame, path: String,
              partitionCols: Seq[String] = Nil): Long = {
    val gen = stage(df, path, partitionCols)
    commit(df.sparkSession, path, gen)
    gen
  }

  /** Atomic read-modify-write publish: stage + [[commitFrom]] against
    * the caller's observation point. Throws the typed conflict when ANY
    * commit landed on `path` since the caller read `observed` — the form
    * every merge-with-current-state publish must use ([[commitFrom]]'s
    * scaladoc has the lost-update shape the bare [[publish]] admits).
    */
  def publishFrom(df: DataFrame, path: String, observed: Option[Long],
                  partitionCols: Seq[String] = Nil): Long = {
    val gen = stage(df, path, partitionCols)
    commitFrom(df.sparkSession, path, gen, observed)
    gen
  }

  /** The committed snapshot. Resolves the pointer once; the plan then
    * touches only the immutable generation dir.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    readGen(spark, path, currentGen(spark, path).getOrElse(
      sys.error(s"SnapshotStore.read: nothing published at $path")))

  /** Generation `gen`, read with the schema recorded in its footers (no
    * inference job; a partitioned generation falls back to inference).
    */
  def readGen(spark: SparkSession, path: String, gen: Long): DataFrame =
    Footers.read(spark, genPath(path, gen))

  /** Rows in the committed generation (footer counts, no Spark job; 0 when
    * nothing is published), read only until the sum passes `stopAbove`.
    */
  private[graft] def storedRows(spark: SparkSession, path: String,
                                stopAbove: Long = Long.MaxValue): Long =
    currentGen(spark, path).fold(0L)(g =>
      Footers.rows(spark, Seq(genPath(path, g)), stopAbove))

  def exists(spark: SparkSession, path: String): Boolean =
    currentGen(spark, path).isDefined

  /** Retire everything unreachable from the committed pointer — the
    * previous generation `commit` retains for in-flight readers, any
    * orphaned staged generations from crashed publishes, and all but the
    * newest pointer version. Returns deleted paths for the operation
    * ledger. WRITER-QUIET moments only: an orphan above the committed
    * generation is indistinguishable from a concurrent stager's
    * in-flight dir + reservation, and sweeping the reservation would let
    * a later stager re-reserve the number — the shared-staging tear the
    * marker exists to prevent. (Readers are always safe.)
    */
  def vacuum(spark: SparkSession, path: String): Seq[String] = {
    val f = fs(spark, path)
    val versions = CommitCas.versions(f, ptrDir(path))
    if (versions.isEmpty) return Seq.empty
    val cur = readPtrGen(f, path, versions.last)
    CommitCas.retire(f, new Path(path), "gen=")(_ != cur) ++
      CommitCas.retire(f, new Path(path), ".reserve.g")(_ != cur) ++
      CommitCas.retire(f, ptrDir(path), "v")(_ < versions.last)
  }

  /** Bounded pointer-history reclamation for a SINGLE-WRITER table (a
    * streaming sink's state store): delete pointer versions below
    * `keepVersions` from the top. Safe ONLY where the caller is the one
    * writer of `path` (no stalled contender can exist whose link a freed
    * number would admit — the phantom-commit hazard [[CommitCas]]
    * documents); multi-writer paths (tombstone ledgers) must use the
    * writer-quiet [[vacuum]] instead. Readers stay safe: the newest
    * version always survives, and a reader racing the window onto an
    * older version fails LOUDLY (missing file), never silently stale.
    */
  def reclaimHistory(spark: SparkSession, path: String,
                     keepVersions: Int = 8): Seq[String] = {
    require(keepVersions >= 1, s"keepVersions must be >= 1, got $keepVersions")
    val f = fs(spark, path)
    CommitCas.versions(f, ptrDir(path)).dropRight(keepVersions).map { v =>
      val p = CommitCas.versionPath(ptrDir(path), v)
      f.delete(p, false)
      p.toString
    }
  }

  /** Read-merge-publish convenience: upsert `incoming` into the snapshot
    * table at `path` (creating it if absent). The merge plan reads the
    * CURRENT generation while the new one is staged elsewhere, so no step
    * ever reads a path being written.
    */
  def upsertInto(spark: SparkSession, incoming: DataFrame, path: String,
                 keys: Seq[String],
                 ordering: Seq[org.apache.spark.sql.Column]): Long = {
    val merged =
      if (exists(spark, path))
        UpsertByKey(read(spark, path), incoming, keys, ordering)
      else graft.silver.Staging.dedupLatest(incoming, keys, ordering)
    publish(merged, path)
  }
}
