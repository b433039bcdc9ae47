package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** The two Spark-internal facts the benchmark reads, from Spark's own
  * package. */
object PerfbenchBus {
  /** Waits until listeners have seen every event posted so far. Spark
    * delivers them asynchronously, so a job's end can still be queued when
    * the action that ran it returns. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Whether a stage writes shuffle output rather than producing a result. */
  def isShuffleMap(info: StageInfo): Boolean = info.shuffleDepId.isDefined
}
