package org.apache.spark

/** Test access to what SparkContext sets but never unsets: suites share
  * one session, so a suite that sets a checkpoint dir must clear it, or
  * every later suite cuts with reliable checkpoints instead of
  * `localCheckpoint`.
  */
object CheckpointDirs {
  def clear(sc: SparkContext): Unit = sc.checkpointDir = None
}
