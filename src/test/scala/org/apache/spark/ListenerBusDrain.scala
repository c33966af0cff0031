package org.apache.spark

import org.apache.spark.sql.SparkSession

/** Test-side drain of the (package-private) listener bus: returns once
  * every event posted so far has been delivered, so asynchronous
  * callbacks such as `QueryExecutionListener.onSuccess` have run.
  */
object ListenerBusDrain {
  def apply(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
