package org.apache.spark

/** The listener bus drain is `private[spark]`; the traced run needs it so
  * that every job, task and stream-progress event of a pass has reached
  * the listeners before they are read or detached.
  */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
