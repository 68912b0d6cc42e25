package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block starts on the calling thread: the block
  * runs under a fresh job group, the listener bus is drained so the
  * status store has seen every job start, and the group's jobs are
  * counted. Jobs other threads or suites start carry other groups, so
  * they never count.
  */
object JobGroups {
  def jobsDuring[T](spark: SparkSession)(f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"graft-jobs-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, "jobs counted by a spec", interruptOnCancel = false)
    val out = try f finally sc.clearJobGroup()
    sc.listenerBus.waitUntilEmpty()
    (out, sc.statusTracker.getJobIdsForGroup(group).length)
  }
}
