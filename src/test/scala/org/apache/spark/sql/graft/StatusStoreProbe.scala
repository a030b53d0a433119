package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Reads what Spark's SQL status store keeps on the driver for every
  * execution of a session (the listener bus is private to Spark).
  */
object StatusStoreProbe {

  /** The executions `body` adds to the status store and the mean length
    * of their physical-plan descriptions, read after the listener bus
    * drains.
    */
  def retainedPlanChars(spark: SparkSession)(body: => Unit): (Int, Long) = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    def planChars(): Map[Long, Int] = {
      classic.sparkContext.listenerBus.waitUntilEmpty(30000L)
      classic.sharedState.statusStore.executionsList()
        .map(e => e.executionId -> e.physicalPlanDescription.length).toMap
    }
    val last = planChars().keys.maxOption.getOrElse(-1L)
    body
    val added = planChars().filter(_._1 > last).values
    (added.size, if (added.isEmpty) 0L else added.map(_.toLong).sum / added.size)
  }
}
