package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.StageInfo

/** Two `private[spark]` reads the harness needs, hence this shim in Spark's
  * package: listener events are delivered asynchronously, so counters are
  * read only after the bus has handled every event posted so far; and a
  * stage's shuffle dependency marks it as the map side of an exchange. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  def isShuffleMap(i: StageInfo): Boolean = i.shuffleDepId.isDefined
}
