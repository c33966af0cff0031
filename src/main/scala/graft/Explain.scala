package graft

/** Prints formatted physical plans for selected queries — the plan-audit
  * tool used to check pushdown/broadcast/shuffle shape per operator.
  * Usage: runMain graft.Explain <sfDir> <queryName>...
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq else Queries.all.map(_.name)
    val spark = Session.local(4)
    val qmap = Queries.queries
    names.foreach { n =>
      println(s"\n=== $n ===")
      qmap(n)(spark, d).explain("formatted")
    }
    spark.stop()
  }
}
