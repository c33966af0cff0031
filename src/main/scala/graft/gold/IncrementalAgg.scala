package graft.gold

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental aggregate maintenance — the materialized-rollup pattern:
  * keep a per-key aggregate table current by FOLDING each new batch's
  * partial aggregate into it, never re-scanning history (the reference's
  * Snowflake dynamic-table / dbt-incremental analog, re-expressed as an
  * explicit mergeable-state table).
  *
  * The maintained state per key is the MERGEABLE form (sum / count /
  * min / max): every supported readout derives from it (avg = sum/count),
  * and merging two states is itself one hash aggregation — associative
  * and commutative, so batch boundaries, replays of already-folded
  * batches (idempotent when batch ids are tracked by the caller's sink,
  * e.g. [[BaseDelta]]), and arrival order cannot change the result.
  *
  * Scale shape: `partial` reduces a batch to key cardinality before
  * anything else touches it (map-side combine); `merge` unions two
  * key-sized frames and re-aggregates — O(keys), independent of history
  * volume. Sums accumulate in DECIMAL(38,6) so the fold is order-exact
  * (double addition is not associative; decimal is) — cast at readout.
  */
object IncrementalAgg {

  /** Spec of the maintained measures: each input column gets sum/min/max
    * state plus the shared row count.
    */
  final case class Measures(cols: Seq[String])

  private def stateCols(m: Measures): Seq[String] =
    m.cols.flatMap(c => Seq(s"${c}_sum", s"${c}_min", s"${c}_max")) :+ "n_rows"

  /** Reduce one batch to its per-key mergeable state. */
  def partial(batch: DataFrame, keys: Seq[String], m: Measures): DataFrame = {
    require(m.cols.nonEmpty, "need at least one measure column")
    val aggs = m.cols.flatMap { c =>
      Seq(sum(col(c).cast("decimal(38,6)")).as(s"${c}_sum"),
        min(col(c)).as(s"${c}_min"),
        max(col(c)).as(s"${c}_max"))
    } :+ count(lit(1)).as("n_rows")
    batch.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Fold a batch's partial state into the maintained table. Either side
    * may hold keys the other has not seen (union semantics). In single
    * [[graft.Width]] the union is pinned, so the re-aggregation plans no
    * exchange.
    */
  def merge(state: DataFrame, delta: DataFrame, keys: Seq[String],
            m: Measures, width: graft.Width = graft.Width.Session): DataFrame = {
    val aggs = m.cols.flatMap { c =>
      Seq(sum(col(s"${c}_sum")).as(s"${c}_sum"),
        min(col(s"${c}_min")).as(s"${c}_min"),
        max(col(s"${c}_max")).as(s"${c}_max"))
    } :+ sum(col("n_rows")).as("n_rows")
    width.pin(state.select((keys ++ stateCols(m)).map(col): _*)
        .unionByName(delta.select((keys ++ stateCols(m)).map(col): _*)))
      .groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Derived readout over the state: sums/avg in double for consumers,
    * exact decimal underneath.
    */
  def readout(state: DataFrame, keys: Seq[String], m: Measures): DataFrame =
    m.cols.foldLeft(state) { (df, c) =>
      // double division AFTER the exact-decimal cast on both engines —
      // decimal/integer division scale rules differ across engines,
      // double division is IEEE-identical
      df.withColumn(s"${c}_avg",
          col(s"${c}_sum").cast("double") / col("n_rows"))
        .withColumn(s"${c}_sum", col(s"${c}_sum").cast("double"))
    }
}
