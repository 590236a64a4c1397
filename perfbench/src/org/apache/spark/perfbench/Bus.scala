package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.StageInfo

/** The package-private hooks the benchmark needs. */
object Bus {
  /** The listener bus delivers task-end events asynchronously, so a
    * span's counters are complete only once the bus has drained. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** A stage that computes a job's result, not shuffle output (adaptive
    * execution runs each shuffle stage as a job of its own). */
  def isResultStage(info: StageInfo): Boolean = info.shuffleDepId.isEmpty
}
