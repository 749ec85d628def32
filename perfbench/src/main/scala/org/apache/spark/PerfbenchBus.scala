package org.apache.spark

/** The one private Spark hook the benchmark needs: block until every
  * listener event posted so far has been delivered, so span and storage
  * numbers read after an op include all of that op's jobs and blocks. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
