package org.apache.spark.perfbench

import org.apache.spark.sql.SparkSession

/** The listener bus is package-private to Spark; this bridge lets the
  * benchmark wait until every posted event has been delivered. */
object BusDrain {
  def drain(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}
