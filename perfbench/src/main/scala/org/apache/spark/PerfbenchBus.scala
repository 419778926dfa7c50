package org.apache.spark

/** The listener bus delivers job, stage and task events on its own thread;
  * a traced run drains it before reading what its listeners recorded. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
