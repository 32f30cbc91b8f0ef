package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** Package-private Spark state the bench's listeners read: the live
  * listener bus, drained before the bench reads what its listeners
  * collected, and whether a stage is a shuffle map stage. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  def isShuffleMap(i: StageInfo): Boolean = i.shuffleDepId.isDefined
}
