package org.apache.spark

import org.apache.spark.sql.SparkSession

/** Test-side reset of the (package-private) session checkpoint dir, so a
  * suite that sets one leaves later suites of the shared session on
  * local checkpoints.
  */
object CheckpointDirReset {
  def apply(spark: SparkSession): Unit =
    spark.sparkContext.checkpointDir = None
}
