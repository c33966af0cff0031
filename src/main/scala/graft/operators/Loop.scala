package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD

/** The one round policy of the iterative operators —
  * [[Dedup.resolveClusters]], [[GraphOps.pageRankInt]],
  * [[GraphOps.ancestors]], [[Bpe.train]] and
  * [[Similarity.centroidsKMeansParallel]] run their rounds through it.
  *
  * '''Materialization.''' Each round's result is an EAGER checkpoint: an
  * iterative plan otherwise embeds the previous round's lineage 2–3× per
  * round — an exponentially growing logical plan that blows up analysis
  * and the per-action plan-string rendering long before data does (the
  * standard Pregel-loop shape). The checkpoint is reliable (files under
  * `sc.setCheckpointDir`, surviving a lost executor) when the session
  * has a checkpoint dir, and local (executor blocks: fast, but a lost
  * executor kills the lineage mid-run) otherwise — the deployment's
  * checkpoint dir is the switch, not a per-call option.
  *
  * '''Layout.''' A loop over at most [[Loop.SmallGraphEdges]] edge rows
  * (or over a frame bounded by construction, like BPE's vocabulary) runs
  * SINGLE-PARTITION: `coalesce(1)` restates the partitioning fact after
  * every checkpoint — a checkpoint's LogicalRDD reports Unknown
  * partitioning even for a one-partition RDD, so the next round would
  * re-exchange it — and SinglePartition satisfies every required
  * distribution, so each round's joins and aggregations plan with ZERO
  * exchanges and each round is ONE job regardless of AQE. Nothing
  * session-global is touched, so any number of loops compose (this
  * replaced the r13 session-conf width pin, whose `Par.tryConfPin`
  * losers silently ran un-pinned). A larger loop keeps the session width
  * and AQE — the deployment's scale knobs — where a round's real shuffle
  * work amortizes per-stage overhead.
  *
  * '''Release.''' Once round n is materialized, round n−1's checkpoint
  * is released without blocking. `Dataset.unpersist` on a checkpointed
  * frame frees nothing (its blocks belong to the LogicalRDD leaf's RDD,
  * not to a cache entry), so the leaf's RDD is unpersisted. Frames the
  * rounds read throughout ([[Loop.hold]]) are released when the loop
  * ends; a frame the loop's returned plan still references never is.
  * Reliable checkpoint files are left to the deployment's
  * `spark.cleaner.referenceTracking.cleanCheckpoints`.
  */
final class Loop private (val single: Boolean) {
  private var held = Vector.empty[DataFrame]
  private var last: Option[DataFrame] = None

  /** `df` as one partition in single mode; unchanged at session width. */
  def pin(df: DataFrame): DataFrame = if (single) df.coalesce(1) else df

  /** Materializes a frame every round reads; released when the loop ends. */
  def hold(df: DataFrame): DataFrame = {
    val m = pin(Loop.checkpoint(df))
    held :+= m
    m
  }

  /** Materializes one round and releases the round before it. */
  def round(df: DataFrame): DataFrame = {
    val m = pin(Loop.checkpoint(df))
    last.foreach(Loop.release(_, Set.empty))
    last = Some(m)
    m
  }
}

object Loop {

  /** Edge count at or under which a graph loop runs single-partition: one
    * task comfortably owns the per-round join/agg over ≤4M edge rows
    * (tens of MB, tens of ms), where session-width rounds pay more in
    * task/AQE-stage scheduling than the whole round's compute — the r13
    * q134 measurement (~0.25 s/round of pure overhead at width 32).
    */
  val SmallGraphEdges = 4000000L

  /** A loop over `edges` edge rows, laid out by [[SmallGraphEdges]]. */
  def apply[A](edges: Long)(body: Loop => A): A =
    run(new Loop(edges <= SmallGraphEdges), body)

  /** A loop over a frame bounded by construction: always single-partition. */
  def single[A](body: Loop => A): A = run(new Loop(true), body)

  /** A loop that keeps the session width. */
  def wide[A](body: Loop => A): A = run(new Loop(false), body)

  private def run[A](loop: Loop, body: Loop => A): A = {
    var keep = Set.empty[RDD[_]]
    try {
      val out = body(loop)
      keep = out match {
        case df: Dataset[_] => leaves(df)
        case _ => Set.empty
      }
      out
    } finally (loop.held ++ loop.last).foreach(release(_, keep))
  }

  /** One eager checkpoint: reliable when the session has a checkpoint
    * dir, local otherwise.
    */
  def checkpoint(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(true)
    else df.localCheckpoint(true)

  private def leaves(df: Dataset[_]): Set[RDD[_]] =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd: RDD[_] }.toSet

  private def release(df: DataFrame, keep: Set[RDD[_]]): Unit =
    leaves(df).diff(keep).foreach(_.unpersist(blocking = false))
}
