package graft

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** The one session harness every main builds on: a local session of a
  * given width, and the untimed warm-up the timing mains run before they
  * measure anything.
  */
object Session {

  /** `local[cpus]` with `cpus` shuffle partitions, no UI and log level
    * ERROR. The session time zone is UTC because `Tables.events`'
    * instant-preserving NTZ normalization assumes it (a non-UTC JVM would
    * otherwise shift the q14 watermark split).
    */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Untimed warm-up: session, codegen and file-index init otherwise land
    * on whichever query happens to run first and skew its number. Counts
    * every `Tables.names` table of `sfDir`, then warms the window, join
    * and aggregation codegen paths on a trivial input. A step that fails
    * is named on stderr and skipped; a fatal error is not caught.
    */
  def warmup(spark: SparkSession, sfDir: String): Unit = {
    Tables.names.foreach { n =>
      try {
        val df = if (n == "events") Tables.events(spark, sfDir)
                 else Tables.load(spark, sfDir, n)
        df.count()
      } catch { case NonFatal(e) =>
        System.err.println(s"[warmup] $n failed to load: ${e.getMessage}")
      }
    }
    try {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val w = spark.range(1000).withColumn("k", col("id") % 10)
      w.withColumn("rn", row_number().over(
          Window.partitionBy(col("k")).orderBy(col("id"))))
        .join(broadcast(w.select(col("k")).distinct()), Seq("k"))
        .groupBy(col("k")).agg(sum(col("id"))).count()
    } catch { case NonFatal(e) =>
      System.err.println(s"[warmup] codegen warm-up failed: ${e.getMessage}")
    }
  }
}
