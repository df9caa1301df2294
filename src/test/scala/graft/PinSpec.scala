package graft

import graft.ops.Graph
import org.apache.spark.{CheckpointDirs, SparkException}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Pin}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** The materialization policy under block loss: a [[Pin.cut]] survives
  * the loss of its blocks when a checkpoint dir is set, and without one
  * the job fails loudly instead of returning a partial result. */
class PinSpec extends SparkSuite {
  import spark.implicits._

  private def sc = spark.sparkContext

  /** `body` with a fresh checkpoint dir set, the dir deleted after. */
  private def withCheckpointDir[T](body: => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft-pin-ckpt")
    try CheckpointDirs.withDir(sc, dir.toString)(body)
    finally {
      val walk = java.nio.file.Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.delete(p))
      finally walk.close()
    }
  }

  private def assertBlockNotFound(e: Throwable): Unit = {
    val msg = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(x => String.valueOf(x.getMessage)).mkString("\n")
    assert(msg.contains("Checkpoint block") && msg.contains("not found"), msg)
  }

  private def frame: DataFrame = spark.range(0, 2000, 1, 4)
    .select(col("id"), (col("id") * 7 % 13).as("v"))

  /** Cut `frame` eagerly, drop the cut's blocks, read it back. */
  private def cutDropRead(): Set[(Long, Long)] = {
    val cut = Pin.cut(frame, eager = true)
    val leaf = cut.queryExecution.logical match {
      case lr: LogicalRDD => lr.rdd
      case p => fail(s"a cut frame is one LogicalRDD leaf:\n$p")
    }
    CheckpointDirs.dropBlocks(leaf.id)
    try cut.as[(Long, Long)].collect().toSet finally Pin.release(cut)
  }

  test("a cut frame's lost blocks: equal with a checkpoint dir, loud without") {
    val want = frame.as[(Long, Long)].collect().toSet
    assert(withCheckpointDir(cutDropRead()) == want)
    assertBlockNotFound(intercept[SparkException](cutDropRead()))
  }

  /** How many times cutting a frame and counting it twice calls the UDF
    * that computes one of its columns. */
  private def udfCallsOfTwoCounts(eager: Boolean): Long = {
    val calls = sc.longAccumulator("pin-spec-udf-calls")
    val f = udf { (x: Long) => calls.add(1); x * 3 }
    val cut = Pin.cut(spark.range(0, 1000, 1, 4).select(col("id"), f(col("id")).as("v")), eager)
    try {
      assert(cut.count() == 1000 && cut.count() == 1000)
      calls.value
    } finally Pin.release(cut)
  }

  test("a cut frame is computed once, lazy or eager, with a checkpoint dir or without") {
    for (eager <- Seq(false, true)) {
      assert(withCheckpointDir(udfCallsOfTwoCounts(eager)) == 1000, s"with a dir, eager = $eager")
      assert(udfCallsOfTwoCounts(eager) == 1000, s"without a dir, eager = $eager")
    }
  }

  test("Augurs' lazy cuts read the same under a checkpoint dir") {
    def ser(base: Double): Seq[Double] = Seq(base, base + 1, base + 2, base + 3)
    val rows = Seq(("2", ser(1.0)), ("9", ser(1.05)), ("10", ser(0.95)),
      ("7", Seq(1.0, 2.0, 3.0, 4.9)), ("5", ser(100.0)))
      .flatMap { case (k, vs) => vs.zipWithIndex.map { case (v, i) => (k, i * 10L, i.toLong, v) } }
    val t = graft.core.Timeline(rows.toDF("k", "ts", "seq", "value"), keys = Seq("k"))
    def run(): (Seq[(String, String, Double)], Map[String, String]) = (
      graft.ops.Augurs.dtwMatrixOrdered(t, 4, band = 4, buckets = 4)
        .as[(String, String, Double)].collect().toSeq,
      graft.ops.Augurs.clusterDtwDistributed(t, 4, 1.0, 3, 4).as[(String, String)].collect().toMap)
    val want = run()
    assert(want._1.nonEmpty && want._2.values.toSet == Set("10", "-1"))
    assert(withCheckpointDir(run()) == want)
  }

  /** Connected components over a 1 000-vertex chain while a listener
    * drops, at the start of the third job of the run and of every job
    * after it, the blocks of every RDD pinned since the run began: the
    * edges and the labels of the cycles so far. Returns the labels and
    * how many jobs the run started. */
  private def componentsLosingBlocks(): (Map[Long, Long], Int) = {
    val edges = (1L to 1000L).sliding(2).map(s => (s(0), s(1))).toSeq.toDF("src", "dst")
    val group = "pin-spec-block-loss"
    val before = sc.getPersistentRDDs.keySet
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val dropper = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group) &&
            jobs.incrementAndGet() >= 3)
          (sc.getPersistentRDDs.keySet -- before).foreach(CheckpointDirs.dropBlocks)
    }
    sc.setJobGroup(group, group)
    sc.addSparkListener(dropper)
    try {
      val out = Graph.connectedComponents(edges)
      try (out.as[(Long, Long)].collect().toMap, jobs.get) finally Pin.release(out)
    } finally {
      sc.removeSparkListener(dropper)
      sc.clearJobGroup()
      (sc.getPersistentRDDs.keySet -- before).foreach(id => sc.getPersistentRDDs(id).unpersist())
    }
  }

  test("connectedComponents loses pinned blocks mid-iteration: equal with a dir, loud without") {
    val (got, jobs) = withCheckpointDir(componentsLosingBlocks())
    assert(got == (1L to 1000L).map(_ -> 1L).toMap)
    // the drop starts at the third job, so later cycles ran without the blocks
    assert(jobs >= 6, s"the chain must run cycles past the drop, saw $jobs jobs")
    assertBlockNotFound(intercept[SparkException](componentsLosingBlocks()))
  }
}
