package org.apache.spark

/** Test-only bridge to the `private[spark]` checkpoint dir: `SparkContext`
  * can set a checkpoint dir but not unset one, so a test that switches the
  * shared context to reliable checkpoints puts the old value back here. */
object CheckpointDirReset {
  def apply(sc: SparkContext, dir: Option[String]): Unit = sc.checkpointDir = dir
}
