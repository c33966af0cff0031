package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.internal.SQLConf

/** The one width policy: how many partitions a bounded piece of work
  * runs at. The iterative loops ([[operators.Loop]]) and the per-batch
  * folds ([[streaming.MultiTableStream.foldBatch]],
  * [[gold.AnalystMarts.foldBatch]]) decide it once from the rows they
  * will read and pass it down explicitly — no thread-local, and no
  * session conf but one scoped exception: a fold runs its work inside
  * [[Width.run]], which at [[Width.Single]] turns whole-stage codegen
  * and generated expression classes off for the fold's duration (see
  * "Why interpreted" below). Spark has no per-plan codegen switch, so
  * the session conf is the only handle.
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
  * width 4, single width with codegen on (the mode it then ran in) took
  * 0.78–1.01× session time up to 250k rows read, 0.93–1.19× between
  * 290k and 500k, and 1.17–2.02× from 700k on (a fold reading 3M rows:
  * 11.9 s against 6.7 s).
  *
  * '''Why interpreted for a small fold.''' A fold of a few thousand rows
  * runs each of its plans once, and compiling them costs more than
  * running them: one CDC micro-batch through the bronze, gold and marts
  * sinks needs ~125 distinct generated classes, more than Spark's codegen
  * cache keeps (`spark.sql.codegen.cache.maxEntries`, 100, a static
  * conf), so ~170 Janino compiles per batch (~1 s of CPU) recur on every
  * batch. [[Width.Single]]'s [[Width.run]] therefore runs the fold with
  * `spark.sql.codegen.wholeStage=false` and
  * `spark.sql.codegen.factoryMode=NO_CODEGEN`: the planner fuses no
  * stage and every projection, predicate and ordering is interpreted, so
  * a warm fold compiles nothing. Every expression the folds evaluate is a
  * built-in one with an interpreted `eval`. The two confs are set through
  * [[ScopedConf.within]], which counts scopes per session and key, so
  * overlapping folds on one session leave it as they found it. A
  * streaming sink's session is the query's own clone, so one stream's
  * scope never reaches another.
  *
  * '''What interpreted costs.''' `graft.Perf fold-width` also runs single
  * width with codegen on ([[Width.SingleCompiled]]). Its one JVM runs one
  * fold shape at a time, so the codegen cache stays warm and the codegen
  * column pays almost no compiles: the comparison isolates the slower
  * interpreted execution. On the same 4-vCPU host (session width 4, mean
  * of two runs), interpreted single took 0.91× codegen-single time for the
  * coordinator fold at 50k rows read, 1.03–1.15× at 100k, 1.23–1.36× at
  * 150–200k and 1.49× at 250k (1.41 s against 0.95 s, and 1.29× session
  * width's 1.09 s); the marts fold took 0.77× at 50k, 0.95–1.03× at
  * 100k, 0.96–1.13× at 150–200k and 1.21× at 250k. So [[FoldRows]], which
  * was measured with codegen on, sends folds of ~100k–250k rows read to a
  * mode slower than compiled single width on that host; a CDC trickle
  * batch (a few thousand rows read) is far below that.
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

  /** `body` in this width's execution mode: interpreted at
    * [[Width.Single]] (no whole-stage codegen, no generated expression
    * classes, the session's two codegen confs restored afterwards);
    * unchanged at session width.
    */
  def run[A](spark: SparkSession)(body: => A): A
}

object Width {

  /** Edge rows at or under which an iterative loop runs single-partition. */
  val SmallRows = 4000000L

  case object Single extends Width(true) {
    def pin(df: DataFrame): DataFrame = df.coalesce(1)
    def hashSide(df: DataFrame): DataFrame = df.hint("shuffle_hash")
    def run[A](spark: SparkSession)(body: => A): A =
      ScopedConf.within(spark, Interpreted)(body)
  }

  case object Session extends Width(false) {
    def pin(df: DataFrame): DataFrame = df
    def hashSide(df: DataFrame): DataFrame = df
    def run[A](spark: SparkSession)(body: => A): A = body
  }

  /** [[Single]]'s layout with codegen left on — the mode single-width
    * folds ran in before [[Single]] ran interpreted, kept only so that
    * `graft.Perf fold-width` can measure the two side by side.
    */
  private[graft] case object SingleCompiled extends Width(true) {
    def pin(df: DataFrame): DataFrame = Single.pin(df)
    def hashSide(df: DataFrame): DataFrame = Single.hashSide(df)
    def run[A](spark: SparkSession)(body: => A): A = body
  }

  /** The session confs an interpreted scope sets. */
  private val Interpreted = Seq(
    SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key -> "false",
    SQLConf.CODEGEN_FACTORY_MODE.key -> "NO_CODEGEN")

  /** The width for a loop over `rows` edge rows. */
  def of(rows: Long): Width = if (rows <= SmallRows) Single else Session

  /** Rows a per-batch fold reads (batch plus committed inputs) at or
    * under which it runs single-partition.
    */
  val FoldRows = 250000L

  /** The width for a per-batch fold reading `rows` rows. */
  def ofFold(rows: Long): Width = if (rows <= FoldRows) Single else Session
}
