package org.apache.spark

import org.apache.spark.status.api.v1.StageData

/** The two `private[spark]` reads the benchmark needs: draining the
  * listener bus, so counters are complete when an operation returns, and
  * the status store's per-stage totals, which Spark keeps whether or not
  * the benchmark registers a listener of its own. */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Every attempt of every stage run by the jobs of `group`. */
  def stagesOfGroup(sc: SparkContext, group: String): Seq[StageData] = {
    drainListeners(sc)
    val store = sc.statusStore
    store.jobsList(null).filter(_.jobGroup.contains(group))
      .flatMap(_.stageIds).distinct
      .flatMap(id => store.stageData(id))
  }
}
