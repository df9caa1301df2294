package org.apache.spark

/** Scoped checkpoint directory for tests on the shared session:
  * `SparkContext` can set its checkpoint directory but has no public way
  * to unset it, and a directory left behind would switch every later
  * suite's checkpoints to the reliable form. */
object CheckpointDirs {
  def withDir[T](sc: SparkContext, dir: String)(body: => T): T = {
    val prev = sc.checkpointDir
    sc.setCheckpointDir(dir)
    try body finally sc.checkpointDir = prev
  }
}
