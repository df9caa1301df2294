package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The library's one materialization policy: every eager persist,
  * lineage cut and release goes through these verbs, so whether a pinned
  * intermediate survives executor loss is decided here alone.
  *  - [[cache]] keeps the lineage, so a lost block recomputes. Eager, it
  *    runs one count pass: a lazy persist lets the first action's
  *    concurrent stages race to build the same blocks, and runtime goes
  *    bimodal (1.5 s vs 8-14 s on doc_dedup_minhash at sf0.1).
  *  - [[cut]] truncates the lineage, so iterative drivers never replay
  *    their history. It is local unless a checkpoint dir is set:
  *    `localCheckpoint` keeps executor-local blocks, so losing an
  *    executor fails the job ("Checkpoint block ... not found"), which is
  *    cheaper than a write per cut at single-digit iterations. With
  *    `sparkContext.getCheckpointDir` set it is a reliable `checkpoint()`
  *    that survives executor loss, over rows persisted first (a frame's
  *    `Dataset.checkpoint` leaves them unpersisted): the write re-reads
  *    blocks, not the lineage, and every consumer of a lazy cut reads one
  *    execution even when the write comes later or never (a job writes
  *    only the first marked RDD on each path). A deployment that must
  *    survive executor loss calls `setCheckpointDir`.
  *  - [[release]] frees either: cut blocks live on the cut's `LogicalRDD`
  *    leaf, outside the CacheManager, where neither `unpersist` on the
  *    frame nor `clearCache()` reaches them.
  * A lazy (`eager = false`) verb materializes with the first action. */
object Pin {

  def cache(df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
      eager: Boolean = true): DataFrame = {
    val p = df.persist(level)
    if (eager) p.count()
    p
  }

  def cut(df: DataFrame, eager: Boolean): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isEmpty) df.localCheckpoint(eager)
    else {
      val d = df.asInstanceOf[classic.Dataset[Row]]
      val rows = cut(d.queryExecution.toRdd.map(_.copy()), eager)
      classic.Dataset.ofRows(d.sparkSession, LogicalRDD.fromDataset(rows, d, d.isStreaming))
    }

  /** Cuts `rdd` in place and returns it. */
  def cut[T](rdd: RDD[T], eager: Boolean): RDD[T] = {
    if (rdd.sparkContext.getCheckpointDir.isDefined)
      rdd.persist(StorageLevel.MEMORY_AND_DISK).checkpoint()
    else rdd.localCheckpoint()
    if (eager) rdd.count()
    rdd
  }

  def release(df: DataFrame): Unit = {
    df.unpersist(blocking = false)
    df.queryExecution.logical match { case lr: LogicalRDD => release(lr.rdd); case _ => }
  }

  def release(rdd: RDD[_]): Unit = rdd.unpersist(blocking = false)
}
