package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the driver's listener bus, which Spark keeps package-private:
  * a traced op reads its counters only after every event it caused has been
  * delivered. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
