package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.gold.SnapshotStore
import graft.silver.Quality

/** Streaming drift monitor: PSI of a live stream against a PERSISTED
  * reference histogram, folded one micro-batch at a time.
  *
  * The batch drift family (KS/PSI/MAD, silver.Quality) re-scans both
  * windows per evaluation; a monitor cannot. Here the reference
  * histogram ([[Quality.psiReferenceHist]] — frozen bin edges + per-bin
  * counts) is published ONCE, and each micro-batch folds its own
  * histogram delta (additive under fixed edges) into a persisted
  * current-window histogram: O(batch) work per trigger, and the PSI
  * readout joins two (groups × bins)-sized frames —
  * [[Quality.psiFromHists]] — with no corpus access at all. The same
  * exactly-once recipe as [[graft.gold.AnalystMarts]]: the state
  * snapshot's generation number is the batch ledger, so a replayed
  * micro-batch skips its fold.
  */
object DriftStream {

  /** Publish the reference histogram (frozen edges) for `ref`. Done once
    * per reference window; returns the generation.
    */
  def publishReference(ref: DataFrame, refHistPath: String, valueCol: String,
                       groupCol: String, bins: Int = 10): Long =
    SnapshotStore.publish(
      Quality.psiReferenceHist(ref, valueCol, groupCol, bins), refHistPath)

  /** Fold an additive count delta into the persisted state table: union
    * + re-sum on the key, replay-guarded by [[graft.gold.StateLedger]]'s
    * in-row marker — the shared exactly-once ledger for every monitor
    * here (generation numbers are NOT the ledger; maintenance
    * compactions may add generations).
    */
  private def foldState(spark: SparkSession, delta: DataFrame,
                        statePath: String, keyCols: Seq[String],
                        cntCol: String, batchId: Long): Unit = {
    import org.apache.spark.sql.functions.{col, sum}
    graft.gold.StateLedger.fold(spark, statePath, batchId) { state =>
      state.fold(delta)(_.unionByName(delta)
        .groupBy(keyCols.map(col): _*)
        .agg(sum(col(cntCol)).as(cntCol)))
    }
    ()
  }

  /** Fold one micro-batch's histogram delta into the persisted
    * current-window histogram. O(batch) + O(groups × bins); idempotent
    * under replay of the same `batchId`.
    */
  def foldBatch(spark: SparkSession, batch: DataFrame, refHistPath: String,
                statePath: String, valueCol: String, groupCol: String,
                bins: Int = 10, batchId: Long = 0L): Unit =
    foldState(spark,
      Quality.psiCurrentHist(batch, SnapshotStore.read(spark, refHistPath),
        valueCol, groupCol, bins),
      statePath, Seq(groupCol, "__bin"), "cur_n", batchId)

  /** The drift monitor as a `foreachBatch` stream. */
  def psiStream(events: DataFrame, refHistPath: String, statePath: String,
                checkpoint: String, valueCol: String, groupCol: String,
                bins: Int = 10,
                trigger: Trigger = Trigger.ProcessingTime("1 minute")): StreamingQuery =
    events.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        foldBatch(batch.sparkSession, batch.toDF(), refHistPath, statePath,
          valueCol, groupCol, bins, batchId)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** Current PSI per group — two histogram-sized frames joined, no
    * corpus scan.
    */
  def readout(spark: SparkSession, refHistPath: String, statePath: String,
              groupCol: String, bins: Int = 10): DataFrame =
    Quality.psiFromHists(
      SnapshotStore.read(spark, refHistPath),
      graft.gold.StateLedger.readState(spark, statePath), groupCol, bins)

  /** Binned two-sample KS per group from the SAME persisted state — a
    * second alarm for free: one monitor's histograms serve both the
    * mass-location readout (PSI) and the ECDF-gap readout (KS).
    */
  def ksReadout(spark: SparkSession, refHistPath: String, statePath: String,
                groupCol: String): DataFrame =
    Quality.ksFromHists(
      SnapshotStore.read(spark, refHistPath),
      graft.gold.StateLedger.readState(spark, statePath), groupCol)

  /** Publish reference CATEGORY counts ([[Quality.catReferenceHist]]) —
    * the discrete monitor's reference (categories are their own bins, so
    * there are no edges to freeze).
    */
  def publishCatReference(ref: DataFrame, refHistPath: String,
                          catCol: String, groupCol: String): Long =
    SnapshotStore.publish(
      Quality.catReferenceHist(ref, catCol, groupCol), refHistPath)

  /** Fold one micro-batch's category counts — same ledger, additive
    * as-is.
    */
  def foldCatBatch(spark: SparkSession, batch: DataFrame, statePath: String,
                   catCol: String, groupCol: String,
                   batchId: Long = 0L): Unit =
    foldState(spark, Quality.catCurrentHist(batch, catCol, groupCol),
      statePath, Seq(groupCol, catCol), "cur_n", batchId)

  /** Total-variation distance per group vs the published reference mix. */
  def tvdReadout(spark: SparkSession, refHistPath: String, statePath: String,
                 catCol: String, groupCol: String): DataFrame =
    Quality.tvdFromHists(
      SnapshotStore.read(spark, refHistPath),
      SnapshotStore.read(spark, statePath), catCol, groupCol)
}
