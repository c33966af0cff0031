package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.RangeJoin

/** Streaming ledger-continuity monitor: the O(batch) form of
  * [[graft.silver.Quality.sequenceGaps]] (q218).
  *
  * The batch audit re-scans the whole ledger per evaluation; a monitor
  * cannot. Here the persisted state is the set of MERGED maximal runs
  * `[lo, hi]` of sequence numbers seen so far, per key — compacted with
  * [[RangeJoin.mergeIntervals]] (adjacency-aware: runs touching at
  * integer distance 1 coalesce), so state size is `gaps + 1` ranges per
  * key, NOT the ledger size, and it SHRINKS as late arrivals plug
  * holes. Each micro-batch folds its sequence numbers as width-1 ranges
  * into the state: O(batch + state) per trigger, exact under ANY
  * arrival order (out-of-order and duplicate deliveries change nothing
  * — interval union is idempotent and commutative). The readout walks
  * consecutive runs per key and names the missing ranges — identical to
  * the batch audit over the accumulated ledger, which is the spec-pinned
  * equivalence.
  *
  * Exactly-once: the state snapshot's generation is the batch ledger
  * (same recipe as [[DriftStream]] / [[graft.gold.AnalystMarts]]); a
  * replayed micro-batch skips its fold.
  */
object GapStream {

  /** Fold one micro-batch of (key..., seq) into the persisted run set.
    * Idempotent under replay via [[graft.gold.StateLedger]]'s in-row
    * marker (generation numbers are NOT the ledger — maintenance
    * compactions may add generations).
    */
  def foldBatch(spark: SparkSession, batch: DataFrame, statePath: String,
                keyCols: Seq[String], seqCol: String,
                batchId: Long = 0L): Unit = {
    graft.gold.StateLedger.fold(spark, statePath, batchId) { state =>
      val delta = batch.filter(col(seqCol).isNotNull)
        .select(keyCols.map(col)
          :+ col(seqCol).cast("long").as("lo")
          :+ col(seqCol).cast("long").as("hi"): _*)
      val unioned = state.fold(delta)(_.unionByName(delta))
      // adjacency-aware compaction: widen hi by 1 so integer-adjacent
      // runs ([1,3] and [4,5]) touch and merge, then narrow back
      RangeJoin.mergeIntervals(
          unioned.withColumn("hi", col("hi") + 1L), keyCols, "lo", "hi")
        .select(keyCols.map(col)
          :+ col("merged_lo").as("lo")
          :+ (col("merged_hi") - 1L).as("hi"): _*)
    }
    ()
  }

  /** The monitor as a `foreachBatch` stream. */
  def gapStream(events: DataFrame, statePath: String, checkpoint: String,
                keyCols: Seq[String], seqCol: String,
                trigger: Trigger = Trigger.ProcessingTime("1 minute")): StreamingQuery =
    events.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        foldBatch(batch.sparkSession, batch.toDF(), statePath, keyCols,
          seqCol, batchId)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** Current gaps per key — a lag walk over the RUN-sized state, no
    * ledger access. Same output contract as the batch audit.
    */
  def readout(spark: SparkSession, statePath: String,
              keyCols: Seq[String]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*).orderBy(col("lo").asc)
    graft.gold.StateLedger.readState(spark, statePath)
      .withColumn("__prev_hi", lag(col("hi"), 1).over(w))
      .filter(col("lo") - col("__prev_hi") > 1)
      .select(keyCols.map(col)
        :+ (col("__prev_hi") + 1).as("gap_start")
        :+ (col("lo") - 1).as("gap_end")
        :+ (col("lo") - col("__prev_hi") - 1).as("n_missing"): _*)
  }
}
