package org.apache.spark

/** Spark internals the benchmark waits on between timed regions (both are
  * package-private to Spark).
  */
object PerfbenchInternals {
  /** Wait until the listener bus has delivered every queued event. */
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Cached RDD blocks this JVM's block manager still holds (a dropped
    * cache is removed asynchronously).
    */
  def rddBlocks(): Int = SparkEnv.get.blockManager.getMatchingBlockIds(_.isRDD).size
}
