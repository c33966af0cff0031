package graft.plans

import org.apache.spark.sql.DataFrame

/** Diagnostic main for the `broadcast_of_generate` sweep: for every
  * registered query whose plan broadcasts a Generate-bearing subtree,
  * print the flagged build side's shape (its Generate expressions and
  * leaf relations), so each hit can be adjudicated as parameter-bounded
  * (→ RegistryBudget entry) or corpus-sized (→ pinned shuffle strategy
  * at the operator site). Inspection only — no job runs.
  */
object PlanAudit {

  def flaggedBuildSides(df: DataFrame): Seq[String] = {
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
    def walk(p: SparkPlan): Iterator[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.inputPlan)
      case r: ReusedExchangeExec => Iterator(r) ++ walk(r.child)
      case other => Iterator(other) ++ other.children.iterator.flatMap(walk)
    }
    def unAgg(p: SparkPlan): Boolean = p match {
      case a: AdaptiveSparkPlanExec => unAgg(a.inputPlan)
      case r: ReusedExchangeExec => unAgg(r.child)
      case _: GenerateExec => true
      case _: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => false
      case l if l.nodeName.contains("Limit") => false
      case other => other.children.exists(unAgg)
    }
    def describe(side: SparkPlan): Option[String] = {
      val nodes = walk(side).toSeq
      val gens = nodes.collect { case g: GenerateExec =>
        g.boundGenerator.toString.take(90) }
      if (gens.isEmpty || !unAgg(side)) None
      else {
        val leaves = nodes.filter(_.children.isEmpty)
          .map(_.nodeName).distinct
        val scans = nodes.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.tableIdentifier.map(_.toString).getOrElse(
              f.relation.location.rootPaths.headOption.map(_.getName).getOrElse("?"))
        }.distinct
        val aggs = nodes.count(_.nodeName.contains("Aggregate"))
        Some(s"gens=[${gens.mkString(" | ")}] leaves=$leaves scans=$scans aggsBelow=$aggs")
      }
    }
    walk(df.queryExecution.executedPlan).flatMap {
      case b: BroadcastHashJoinExec =>
        describe(if (b.buildSide == BuildLeft) b.left else b.right)
      case b: BroadcastNestedLoopJoinExec =>
        describe(if (b.buildSide == BuildLeft) b.left else b.right)
      case _ => None
    }.toSeq
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val only: Option[Set[String]] = args.drop(1).headOption.map(_.split(",").toSet)
    val spark = graft.Session.local(4)
    graft.Queries.all.filter(q => only.forall(_.contains(q.name))).foreach { q =>
      try {
        val sides = flaggedBuildSides(q.fn(spark, sfDir))
        if (sides.nonEmpty) {
          println(s"== ${q.name} (${sides.size} hits)")
          sides.foreach(s => println(s"   $s"))
        }
      } catch { case e: Exception =>
        println(s"== ${q.name} BUILD_FAILED ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
