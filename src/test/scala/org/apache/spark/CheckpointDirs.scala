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

  /** Remove every block of RDD `rddId` from every block manager — what
    * losing the executors that held them does to a pinned RDD. */
  def dropBlocks(rddId: Int): Unit =
    SparkEnv.get.blockManager.master.removeRdd(rddId, blocking = true)
}
