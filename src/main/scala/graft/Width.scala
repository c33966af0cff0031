package graft

import org.apache.spark.sql.DataFrame

/** The one width policy: how many partitions a bounded piece of work
  * runs at. The iterative loops ([[operators.Loop]]) and the per-batch
  * folds ([[streaming.MultiTableStream.foldBatch]],
  * [[gold.AnalystMarts.foldBatch]]) decide it once from the rows they
  * will read and pass it down explicitly — no session conf, no
  * thread-local.
  *
  * '''Why single-partition for small work.''' Under its threshold
  * (see below) one task comfortably owns a join, window or
  * aggregation (tens of MB, tens of ms), while a session-width plan pays
  * more in scheduling than in compute: every exchange is a shuffle map
  * stage, and AQE runs each such stage as its own job (the r13 q134 loop
  * measured ~0.25 s per round of pure overhead at width 32; a ~2k-row CDC
  * micro-batch fanned ~7 actions out into ~24 jobs). [[Width.Single]]
  * therefore restates every LEAF read with `coalesce(1)`
  * ([[Width.pin]]): a leaf — a scan, a cached batch, a checkpoint —
  * reports Unknown partitioning even when it holds one partition, and
  * `CoalesceExec(1)` reports `SinglePartition`, which satisfies every
  * required distribution, so `EnsureRequirements` plans ZERO exchanges
  * above it and each action is one job regardless of AQE. A `union`
  * loses that fact (its partitions add up), so a union feeding a
  * keyed operator is pinned again. Joins against a small side use a
  * shuffled-hash build ([[Width.hashSide]]) instead of a broadcast: both
  * sides are already one partition, so the hash build plans no exchange
  * and no broadcast job.
  *
  * '''Why session width for large work.''' Above the threshold the
  * plans keep the session's shuffle width and AQE — the deployment's
  * scale knobs — where a stage's real shuffle work amortizes the
  * per-stage overhead; [[Width.Session]] leaves every plan as it was.
  *
  * '''Two thresholds, each measured.''' A loop ([[Width.of]],
  * [[Width.SmallRows]] = 4M edge rows) pays the exchange overhead once
  * per ROUND, so single width keeps winning into the millions of rows
  * (the r13 q134 loop). A fold ([[Width.ofFold]], [[Width.FoldRows]] =
  * 250k rows read) runs each plan once, and at single width one task
  * sorts, dedups and writes all the committed state it rewrites, so
  * single width stops paying far sooner. `graft.Perf fold-width` runs
  * the coordinator fold (an SCD2 dim, a DeltaFact, the FK audit) and the
  * marts fold at both widths over 50k–1M-row batches, three batches per
  * size (the third compacting), two runs: on a 4-vCPU host at session
  * width 4, single width took 0.78–1.01× session time up to 250k rows
  * read, 0.93–1.19× between 290k and 500k, and 1.17–2.02× from 700k
  * on (a fold reading 3M rows: 11.9 s against 6.7 s).
  */
sealed abstract class Width(val single: Boolean) {

  /** `df` restated as one partition in single mode; unchanged at
    * session width.
    */
  def pin(df: DataFrame): DataFrame

  /** The small side of a join as a shuffled-hash build in single mode
    * (both sides one partition: no exchange, no broadcast job);
    * unchanged at session width, where the planner's choice stands.
    */
  def hashSide(df: DataFrame): DataFrame
}

object Width {

  /** Edge rows at or under which an iterative loop runs single-partition. */
  val SmallRows = 4000000L

  case object Single extends Width(true) {
    def pin(df: DataFrame): DataFrame = df.coalesce(1)
    def hashSide(df: DataFrame): DataFrame = df.hint("shuffle_hash")
  }

  case object Session extends Width(false) {
    def pin(df: DataFrame): DataFrame = df
    def hashSide(df: DataFrame): DataFrame = df
  }

  /** The width for a loop over `rows` edge rows. */
  def of(rows: Long): Width = if (rows <= SmallRows) Single else Session

  /** Rows a per-batch fold reads (batch plus committed inputs) at or
    * under which it runs single-partition.
    */
  val FoldRows = 250000L

  /** The width for a per-batch fold reading `rows` rows. */
  def ofFold(rows: Long): Width = if (rows <= FoldRows) Single else Session
}
