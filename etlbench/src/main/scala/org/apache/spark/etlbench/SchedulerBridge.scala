package org.apache.spark.etlbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.StageInfo

/** The two scheduler facts the traced run needs that Spark keeps
  * package-private, hence this file's package. */
object SchedulerBridge {

  /** Waits until every event posted so far has reached every listener, so
    * a traced round reads complete counts. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Whether a stage writes shuffle output (a map stage). */
  def isMapStage(info: StageInfo): Boolean = info.shuffleDepId.isDefined
}
