package graft.gold

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained distinct-count mart on HLL sketches — the
  * third leg of the AnalystMarts family: `activity` state answers
  * distinct questions EXACTLY but stores one row per (user, day);
  * this stores one ~KB sketch per (day) bucket and answers "distinct
  * users on day d / over ANY day range" with bounded error and O(days)
  * readout — the shape that survives when the per-user-day state itself
  * outgrows its budget (billions of users × years).
  *
  * Mechanics: Spark's native Datasketches HLL expressions.
  * `hll_sketch_agg` is mergeable (map-side combinable), so a
  * micro-batch folds as: sketch the batch per day, OUTER-union with the
  * persisted per-day sketches via `hll_union` — never touching raw
  * history. Union is associative/commutative and the sketch build is
  * deterministic, so folding batches IN ANY CUT equals the one-shot
  * sketch of the whole corpus BIT-FOR-BIT (spec-pinned) — stronger than
  * "approximately equal": the approximation is only vs the EXACT
  * distinct count (±~2% at lgK=12), never vs the batch recompute.
  * Exactly-once: generation-number ledger, the AnalystMarts recipe.
  *
  * Readouts: [[dailyDistinct]] estimates each day from its sketch;
  * [[rangeDistinct]] unions the sketches in [from, to] into ONE
  * estimate — the cross-day distinct no additive counter can give.
  */
object DistinctMart {

  private val LgK = 12

  /** Per-day sketch of one batch (schema: `keyCol`, `tsCol`). */
  private def sketchBatch(batch: DataFrame, keyCol: String,
                          tsCol: String): DataFrame =
    batch.filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(to_date(col(tsCol)).as("day"))
      .agg(hll_sketch_agg(col(keyCol), lit(LgK)).as("sketch"))

  /** Fold one micro-batch into the persisted per-day sketch table.
    * Idempotent under replay of the same `batchId` ([[StateLedger]]'s
    * in-row marker — out-of-band generations, e.g. an Optimize
    * compaction, no longer desync the skip check).
    */
  def foldBatch(spark: SparkSession, batch: DataFrame, statePath: String,
                keyCol: String, tsCol: String, batchId: Long): Unit = {
    StateLedger.fold(spark, statePath, batchId) { state =>
      val delta = sketchBatch(batch, keyCol, tsCol)
      state.fold(delta)(
        _.select(col("day"), col("sketch").as("__a"))
          .join(delta.select(col("day"), col("sketch").as("__b")),
            Seq("day"), "full_outer")
          .select(col("day"),
            when(col("__a").isNull, col("__b"))
              .when(col("__b").isNull, col("__a"))
              .otherwise(hll_union(col("__a"), col("__b"))).as("sketch")))
    }
    ()
  }

  /** Estimated distinct keys per day — one row per state bucket. */
  def dailyDistinct(spark: SparkSession, statePath: String): DataFrame =
    StateLedger.readState(spark, statePath)
      .select(col("day"),
        hll_sketch_estimate(col("sketch")).cast("long").as("n_distinct"))

  /** Estimated distinct keys over the day range [from, to] — the
    * sketches union into one estimate; cost is O(days in range), zero
    * raw-data access.
    */
  def rangeDistinct(spark: SparkSession, statePath: String,
                    from: String, to: String): Long =
    StateLedger.readState(spark, statePath)
      .filter(col("day") >= lit(from).cast("date") &&
        col("day") <= lit(to).cast("date"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch"))).cast("long"))
      .head().getLong(0)
}
