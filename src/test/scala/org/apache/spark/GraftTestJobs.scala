package org.apache.spark

/** Job counting for specs: runs a body under a fresh job group and
  * counts that group's jobs through the status tracker, after draining
  * the listener bus (`private[spark]`) so every job of the body has
  * been recorded.
  */
object GraftTestJobs {
  private val seq = new java.util.concurrent.atomic.AtomicLong

  def count(sc: SparkContext, label: String)(body: => Unit): Int = {
    val group = s"$label-${seq.incrementAndGet()}"
    sc.setJobGroup(group, label)
    try body finally sc.clearJobGroup()
    sc.listenerBus.waitUntilEmpty()
    sc.statusTracker.getJobIdsForGroup(group).length
  }
}
