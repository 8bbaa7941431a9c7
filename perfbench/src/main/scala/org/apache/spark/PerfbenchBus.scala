package org.apache.spark

/** The listener bus drain Spark keeps package-private. The harness reads
  * its job ledger only after every event posted so far has been delivered.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
