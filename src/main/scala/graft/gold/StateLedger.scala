package graft.gold

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Column-embedded exactly-once ledger for SnapshotStore-backed
  * incremental sinks (AnalystMarts, DistinctMart, GapStream,
  * MomentsStream, DriftStream).
  *
  * Round 8 ledgered these sinks on GENERATION PARITY (batch b commits
  * generation b+1) — which desyncs the moment anything else publishes a
  * generation on the same path: an `Optimize.maybeCompact` rewrite, an
  * erasure correction, a manual repair. That is the same silent-skip
  * data-loss class the coordinator stream fixed with its `@sys.batch`
  * marker; here the marker is a constant `__last_batch` column stamped
  * on the state rows themselves, so ledger and state commit in ONE
  * atomic publish (a sidecar file could tear from the state between
  * crashes). Writers fold through [[fold]] (one state read serves the
  * ledger check and the merge; the publish is checked against the
  * generation read); every reader goes through [[readState]], which
  * strips the column — readouts and merges never see it.
  *
  * A compaction that republishes identical contents carries the column
  * (it is contents), so maintenance generations no longer break replay
  * skipping — the Optimize cadence now composes with EVERY sink, not
  * only the merge-idempotent ones.
  *
  * Upgrade boundary (states written by pre-ledger code, no column):
  * the ledger check in [[fold]] falls back to the round-8
  * GENERATION-PARITY check (batch b committed generation b+1) instead
  * of treating the state as never-folded. The -1 alternative looked
  * benign ("refold once") but these merges are ADDITIVE, not
  * idempotent — upgrades force a restart, restarts commonly replay the
  * last batch, and refolding it would silently double-count every
  * sum/moment/count in the state.
  * The parity fallback carries round 8's own residual (a maintenance
  * generation published out of band before the upgrade inflates parity
  * and skips one fresh batch) for at most one fold: the first
  * post-upgrade publish stamps the column and the ledger takes over.
  */
object StateLedger {

  val Col = "__last_batch"

  /** Highest batch id folded into the state at `path`; -1 when the
    * state predates the ledger (unknown) or is EMPTY at batch -stamp
    * (zero rows cannot carry a column value — refolding onto an empty
    * state is additive-safe, so -1 is correct there); None when nothing
    * is published.
    */
  def lastBatch(spark: SparkSession, path: String): Option[Long] =
    if (!SnapshotStore.exists(spark, path)) None
    else {
      val df = SnapshotStore.read(spark, path)
      if (!df.columns.contains(Col)) Some(-1L)
      else {
        val r = df.select(max(col(Col))).head()
        Some(if (r.isNullAt(0)) -1L else r.getLong(0))
      }
    }

  /** Replay check: batch `batchId`'s contribution is already in the
    * published state. Pre-ledger states (no column) answer via the
    * round-8 generation-parity fallback — see the object scaladoc for
    * why -1 ("just refold") would double-count additive state at the
    * upgrade boundary. Test-facing: writers get this check from [[fold]],
    * which runs it on the frame it merges.
    */
  private[graft] def applied(spark: SparkSession, path: String,
                             batchId: Long): Boolean =
    SnapshotStore.currentGen(spark, path).exists(g =>
      appliedOn(SnapshotStore.readGen(spark, path, g), g, batchId))

  /** [[applied]] over an already-read generation `gen` of the state. */
  private def appliedOn(state: DataFrame, gen: Long, batchId: Long): Boolean =
    if (state.columns.contains(Col)) {
      val r = state.select(max(col(Col))).head()
      !r.isNullAt(0) && r.getLong(0) >= batchId
    } else gen >= batchId + 1

  /** One ledgered fold of batch `batchId` into the state at `path`: the
    * committed generation is read ONCE (pinned to `width`), the ledger is
    * checked on that frame, `merge` gets it stripped (None when nothing
    * is published yet), and the stamped result publishes through
    * [[SnapshotStore.publishFrom]] against the generation read — a
    * publish landing in between is a typed conflict, never a silent
    * overwrite of state this fold did not merge. Returns false (nothing
    * published) when the batch was already folded.
    */
  def fold(spark: SparkSession, path: String, batchId: Long,
           width: graft.Width = graft.Width.Session)(
      merge: Option[DataFrame] => DataFrame): Boolean = {
    val observed = SnapshotStore.currentGen(spark, path)
    val state = observed.map(g => g -> width.pin(SnapshotStore.readGen(spark, path, g)))
    if (state.exists { case (g, df) => appliedOn(df, g, batchId) }) false
    else {
      SnapshotStore.publishFrom(
        stamp(merge(state.map { case (_, df) => strip(df) }), batchId),
        path, observed)
      true
    }
  }

  /** Stamp the ledger column onto a state frame about to publish —
    * [[fold]]'s own step, open to tests that build a ledgered state by
    * hand. Folds run strictly increasing batch ids (the [[fold]] gate),
    * so the constant stamp is the running maximum.
    */
  private[graft] def stamp(df: DataFrame, batchId: Long): DataFrame =
    df.withColumn(Col, lit(batchId))

  /** The state without its ledger column — what merges and readouts
    * consume.
    */
  def strip(df: DataFrame): DataFrame =
    if (df.columns.contains(Col)) df.drop(Col) else df

  /** Read + strip in one step. */
  def readState(spark: SparkSession, path: String): DataFrame =
    strip(SnapshotStore.read(spark, path))
}
