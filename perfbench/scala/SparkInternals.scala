package org.apache.spark

/** The two `private[spark]` hooks the traced run needs, hence Spark's
  * package.
  */
object SparkInternals {

  /** Waits until every event posted so far has reached every listener.
    * The listener bus is asynchronous; the traced run drains it after
    * each op (outside the timed window) so that each counter is
    * attributed to the op that produced it.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** Tasks of these stages' latest attempts that read at least one input
    * or shuffle record, as Spark's own status store recorded them.
    */
  def usefulTasks(sc: SparkContext, stageIds: Seq[Int]): Int =
    stageIds.map { id =>
      val attempt = sc.statusStore.lastStageAttempt(id).attemptId
      sc.statusStore.taskList(id, attempt, Int.MaxValue).count(_.taskMetrics.exists { m =>
        m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead > 0
      })
    }.sum
}
