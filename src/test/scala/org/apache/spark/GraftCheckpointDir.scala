package org.apache.spark

/** Unsets the SparkContext's checkpoint dir, which is package-private:
  * `setCheckpointDir` can only move it, and the suites share one
  * context whose other suites must keep the local-checkpoint default. */
object GraftCheckpointDir {
  def clear(sc: SparkContext): Unit = sc.checkpointDir = None
}
