package org.apache.spark.perfbench

import org.apache.spark.sql.SparkSession

/** Waits until Spark's listener bus has delivered every queued event,
  * so that a traced run reads complete stage metrics. The bus is
  * package-private to Spark, hence this object's package.
  */
object BusDrain {
  def apply(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(30000L)
}
