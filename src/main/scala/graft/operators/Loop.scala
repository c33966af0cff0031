package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD

/** The one round policy of the iterative operators —
  * [[Dedup.resolveClusters]], [[GraphOps.pageRankInt]],
  * [[GraphOps.ancestors]] and [[Similarity.centroidsKMeansParallel]] run
  * their rounds through it.
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
  * '''Layout.''' The loop's [[graft.Width]] (the one width policy; its
  * scaladoc states the rationale): a loop over at most
  * [[graft.Width.SmallRows]] edge rows runs SINGLE-PARTITION — `pin`
  * restates the partitioning fact after every checkpoint, since a
  * checkpoint's LogicalRDD reports Unknown partitioning even for a
  * one-partition RDD, so each round's joins and aggregations plan with
  * zero exchanges. Nothing session-global is touched, so any number of
  * loops compose. A larger loop keeps the session width and AQE.
  *
  * '''Release.''' Once round n is materialized, round n−1's checkpoint
  * is released without blocking. `Dataset.unpersist` on a checkpointed
  * frame frees nothing (its blocks belong to the LogicalRDD leaf's RDD,
  * not to a cache entry), so the leaf's RDD is unpersisted. Frames the
  * rounds read throughout ([[Loop.hold]]) are released when the loop
  * ends; a frame the loop's returned plan still references never is.
  * A reliable checkpoint's files (its `rdd-N` dir under the session's
  * checkpoint dir) are deleted with the release: the session's context
  * cleaner leaves them by default, so without the delete every round of
  * every loop stayed on disk. The returned frame's own files stay.
  */
final class Loop private (val width: graft.Width) {
  private var held = Vector.empty[DataFrame]
  private var last: Option[DataFrame] = None

  /** `df` as one partition in single mode; unchanged at session width. */
  def pin(df: DataFrame): DataFrame = width.pin(df)

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

  /** A loop over `edges` edge rows, laid out by [[graft.Width.of]]. */
  def apply[A](edges: Long)(body: Loop => A): A =
    run(new Loop(graft.Width.of(edges)), body)

  /** A loop that keeps the session width. */
  def wide[A](body: Loop => A): A = run(new Loop(graft.Width.Session), body)

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
    leaves(df).diff(keep).foreach { rdd =>
      rdd.unpersist(blocking = false)
      rdd.getCheckpointFile.foreach { dir =>
        val p = new org.apache.hadoop.fs.Path(dir)
        p.getFileSystem(rdd.sparkContext.hadoopConfiguration).delete(p, true)
      }
    }
}
