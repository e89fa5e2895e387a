package org.apache.spark.perfbench

import org.apache.spark.sql.SparkSession

/** Wait until Spark's listener bus has delivered every queued event, so
  * a unit's trace holds all of its jobs, stages and tasks.
  * `waitUntilEmpty` is `private[spark]`, hence this package.
  */
object BusFlush {
  def apply(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
