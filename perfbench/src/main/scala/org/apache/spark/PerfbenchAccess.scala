package org.apache.spark

/** The listener bus delivers events asynchronously; a traced run drains it
  * after each call so that every job, stage and task of the call has been
  * seen before the call's numbers are read.
  */
object PerfbenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
