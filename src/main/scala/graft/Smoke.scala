package graft

/** Local smoke: runs the flagship `SparkEntry.entry` exactly as the driver
  * does (rows > 0 on sf0.001) and prints the result.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(4)
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    df.show(20, truncate = false)
    println(s"entry rows: ${df.count()}")
    spark.stop()
  }
}
