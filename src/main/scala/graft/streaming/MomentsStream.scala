package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.silver.Quality

/** Streaming feature-correlation monitor: the O(batch) form of
  * [[Quality.corrMatrix]] (q215).
  *
  * Every entry of the moment frame (n, Σx, Σx², Σxy — DECIMAL, exact)
  * is ADDITIVE, so the persisted state is ONE row and each micro-batch
  * folds its own 1-row moment delta by elementwise sum: O(batch) work
  * per trigger, and the correlation readout is EXACTLY the batch matrix
  * over the accumulated rows — not an approximation, which is what lets
  * q231 share q215's DuckDB oracle. The label-leakage / feature-drift
  * readout ("these two features suddenly correlate") without ever
  * re-scanning history.
  *
  * Exactly-once: generation ledger, same recipe as [[DriftStream]].
  */
object MomentsStream {

  /** Fold one micro-batch's moment delta into the persisted state.
    * Idempotent under replay via [[graft.gold.StateLedger]]'s in-row
    * marker.
    */
  def foldBatch(spark: SparkSession, batch: DataFrame, statePath: String,
                cols: Seq[String], batchId: Long = 0L): Unit = {
    graft.gold.StateLedger.fold(spark, statePath, batchId) { state =>
      val delta = Quality.corrMoments(batch, cols)
      state.fold(delta) { prev =>
        val sums = prev.columns.toSeq.map(c => sum(col(c)).as(c))
        prev.unionByName(delta).groupBy().agg(sums.head, sums.tail: _*)
      }
    }
    ()
  }

  /** Correlation matrix from the persisted 1-row state — no history
    * access.
    */
  def readout(spark: SparkSession, statePath: String,
              cols: Seq[String]): DataFrame =
    Quality.corrFromMoments(
      graft.gold.StateLedger.readState(spark, statePath), cols)
}
