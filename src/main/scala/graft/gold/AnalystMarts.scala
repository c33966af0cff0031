package graft.gold

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Incrementally-maintained analyst marts — the reference's
  * `is_incremental()` promise (readme.md:142-151) applied to its analyst
  * queries: retention cohorts, rolling WAU, and the daily value rollup
  * stay current by folding each micro-batch in O(batch) work, with
  * readouts that scan STATE (distinct user-activity pairs, key-sized
  * aggregate rows), never raw event history.
  *
  * Two state tables under one mart root:
  *
  *  - `activity` — the distinct (user_id, day) pairs, kept in a
  *    [[BaseDelta]] table keyed on the pair: each batch APPENDS its own
  *    delta (O(batch) I/O), merge-on-read collapses duplicates, and a
  *    replayed micro-batch overwrites its own batch-id-keyed delta —
  *    idempotent by construction. Retention and WAU both derive from
  *    this one state: cohort week = week(min day) per user, activity
  *    week = week(day) — day granularity upgrades to week for free
  *    (`date_trunc` is monotone), so one state serves both marts.
  *  - `agg_state` — [[IncrementalAgg]]'s mergeable per-(day, event_type)
  *    sums/min/max/count, published through [[SnapshotStore]]. The
  *    exactly-once ledger is [[StateLedger]]'s in-row `__last_batch`
  *    marker, committed atomically WITH the state: a replayed batch sees
  *    its id already folded and skips, and out-of-band generations (an
  *    Optimize compaction, a repair republish) no longer desync the
  *    skip check — generation numbers are storage detail, not a ledger.
  *
  * Readout cost model (the dbt-incremental contract, made explicit):
  * fold = O(batch) + O(agg keys); retention/WAU = O(distinct user-days),
  * daily mart = O(days × event types). Raw events are read exactly once,
  * the trigger that delivered them.
  */
object AnalystMarts {

  /** Mart root: the two state tables live under it. */
  final case class Mart(root: String) {
    def activityTable: BaseDelta.Table =
      BaseDelta.Table(s"$root/activity", Seq("user_id", "day"),
        Seq("day"), None)
    def aggStatePath: String = s"$root/agg_state"
  }

  val AggKeys: Seq[String] = Seq("day", "event_type")
  val AggMeasures: IncrementalAgg.Measures = IncrementalAgg.Measures(Seq("value"))

  /** Fold ONE events micro-batch (schema: user_id, event_type, ts, value)
    * into both states. O(batch) + O(agg-state keys); idempotent under
    * replay of the same `batchId`.
    */
  def foldBatch(spark: SparkSession, batch: DataFrame, mart: Mart,
                batchId: Long, maxDeltas: Int = 16): Unit = {
    // both states derive from one read of the micro-batch
    val pinned = batch.persist()
    try {
      val act = pinned
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .filter(col("user_id").isNotNull && col("day").isNotNull)
        .distinct()
      BaseDelta.appendAndMaybeCompact(spark, mart.activityTable, act,
        batchId, maxDeltas)
      if (!StateLedger.applied(spark, mart.aggStatePath, batchId)) {
        val partial = IncrementalAgg.partial(
          pinned.withColumn("day", to_date(col("ts"))), AggKeys, AggMeasures)
        val merged =
          if (SnapshotStore.exists(spark, mart.aggStatePath))
            IncrementalAgg.merge(
              StateLedger.readState(spark, mart.aggStatePath), partial,
              AggKeys, AggMeasures)
          else partial
        SnapshotStore.publish(StateLedger.stamp(merged, batchId),
          mart.aggStatePath)
        ()
      }
    } finally pinned.unpersist()
  }

  /** The marts as a `foreachBatch` stream over a CDC/events source —
    * the streaming composition of [[IncrementalAgg]] + the retention/WAU
    * shapes. Checkpoint + idempotent folds give exactly-once readouts.
    */
  def refreshStream(events: DataFrame, mart: Mart, checkpoint: String,
                    maxDeltas: Int = 16,
                    trigger: Trigger = Trigger.ProcessingTime("1 minute")): StreamingQuery =
    events.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        foldBatch(batch.sparkSession, batch.toDF(), mart, batchId, maxDeltas)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** The distinct (user_id, day) activity state (merge-on-read). */
  def activity(spark: SparkSession, mart: Mart): DataFrame =
    BaseDelta.read(spark, mart.activityTable).select("user_id", "day")

  /** q110's retention grid, from state: cohort week = week of first
    * active day, offsets counted over distinct active weeks.
    */
  def retentionCohorts(spark: SparkSession, mart: Mart): DataFrame = {
    val act = activity(spark, mart)
    val cohort = act.groupBy(col("user_id"))
      .agg(to_date(date_trunc("week", min(col("day")))).as("cohort_week"))
    val weeks = act.select(col("user_id"),
      to_date(date_trunc("week", col("day"))).as("week")).distinct()
    weeks.join(cohort, Seq("user_id"))
      .withColumn("week_offset",
        (datediff(col("week"), col("cohort_week")) / 7).cast("int"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
  }

  /** q113's trailing-7-day WAU, from state: each active day covers the 7
    * window-ends it contributes to.
    */
  def rollingWau(spark: SparkSession, mart: Mart): DataFrame =
    activity(spark, mart)
      .select(col("user_id"),
        explode(sequence(col("day"), date_add(col("day"), 6))).as("window_end"))
      .distinct()
      .groupBy(col("window_end"))
      .agg(countDistinct(col("user_id")).as("wau"))

  /** The daily per-type value mart: [[IncrementalAgg.readout]] over the
    * folded state.
    */
  def dailyValueMart(spark: SparkSession, mart: Mart): DataFrame =
    IncrementalAgg.readout(StateLedger.readState(spark, mart.aggStatePath),
      AggKeys, AggMeasures)
}
