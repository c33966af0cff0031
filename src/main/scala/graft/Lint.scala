package graft

/** Whole-registry plan lint: run [[graft.plans.PlanLint]] over every
  * registered query's physical plan and print the queries with nonzero
  * hits — the engine auditing its own 237 plans for scale antipatterns.
  * Expected offenders are the documented, intentional shapes (1-row
  * aggregate crosses, output-sized grids, value-domain global windows);
  * anything NEW appearing here is a regression.
  *
  * Usage: runMain graft.Lint [sfDir]
  */
object Lint {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Session.local(8)
    var clean = 0
    Queries.all.sortBy(_.name).foreach { q =>
      try {
        val hits = graft.plans.PlanLint.counts(q.fn(spark, d))
          .filter(_._2 > 0)
        if (hits.isEmpty) clean += 1
        else println(s"LINT ${q.name}: " +
          hits.map { case (r, n) => s"$r=$n" }.mkString(", "))
      } catch {
        case e: Exception =>
          println(s"LINT ${q.name}: BUILD_FAILED ${e.getClass.getSimpleName}")
      }
    }
    println(s"LINT summary: $clean/${Queries.all.size} plans clean")
    spark.stop()
  }
}
