package graft

import graft.core.Timeline
import org.apache.spark.sql.functions._

/** The error-abort contract of the try_* twins (reference
  * `tests/fallibility.rs`): an Err anywhere aborts the whole run; the Ok
  * path is indistinguishable from the infallible twin. */
class FallibilitySpec extends SparkSuite {
  import spark.implicits._

  private val a = Seq(10L -> 1.0, 20L -> 2.0, 30L -> 3.0)
  private val b = Seq(15L -> 10.0, 25L -> 20.0)

  private def tl(rows: Seq[(Long, Double)]) = Timeline.fromRows(spark, rows)

  test("tryMapValue: Ok path equals map") {
    val got = tl(a).tryMapValue(_ * 2, _ > 0).df.select("ts", "value")
      .as[(Long, Double)].collect().toSeq.sorted
    val exp = tl(a).mapValue(_ * 2).df.select("ts", "value")
      .as[(Long, Double)].collect().toSeq.sorted
    assert(got == exp)
  }

  test("tryMapValue: a failing row aborts the run with the op's message") {
    val ex = intercept[Exception] {
      tl(a).tryMapValue(_ * 2, _ < 2.5, "value too big").df.collect()
    }
    assert(ex.getMessage.contains("value too big"),
      s"abort must surface the op error, got: ${ex.getMessage}")
  }

  test("tryJoinLatest: Ok path equals joinLatest + combine") {
    val got = tl(a).tryJoinLatest(tl(b), "x", "y", _ + _, (_, _) => lit(true)).df
      .select("ts", "value").as[(Long, Double)].collect().toSeq.sorted
    val j = tl(a).joinLatest(tl(b), "x", "y")
    val exp = j.df.withColumn("value", col("x") + col("y"))
      .select("ts", "value").as[(Long, Double)].collect().toSeq.sorted
    assert(got == exp && got.nonEmpty)
  }

  test("tryJoin3: a failing combine aborts") {
    val c = Seq(12L -> 100.0)
    val ex = intercept[Exception] {
      tl(a).tryJoin3(tl(b), tl(c), "x", "y", "z",
        (x, y, z) => x + y + z, (x, _, _) => x < 0, msg = "join3 refused").df.collect()
    }
    assert(ex.getMessage.contains("join3 refused"))
  }

  test("dtwMatrix: pair budget guard aborts loudly, maxPairs is the escape hatch") {
    // the DTW matrix is O(k²) by contract; the guard stops an accidental
    // million-key call from materializing 5·10¹¹ pairs (r15 verdict
    // item 5 — the Sketch cap-guard discipline)
    val rows = Seq("s1", "s2", "s3", "s4")
      .flatMap(k => (0 until 4).map(i => (k, i * 10L, i.toLong, i.toDouble)))
    val t = graft.core.Timeline(rows.toDF("k", "ts", "seq", "value"), keys = Seq("k"))
    val ex = intercept[IllegalArgumentException] {
      graft.ops.Augurs.dtwMatrix(t, window = 4, maxPairs = 5L)
    }
    assert(ex.getMessage.contains("4 series make 6 DTW pairs") &&
      ex.getMessage.contains("maxPairs=6"),
      s"guard must name the pair count and the escape hatch: ${ex.getMessage}")
    // the stated escape hatch works, and the default budget never binds
    // at registry scale
    assert(graft.ops.Augurs.dtwMatrix(t, window = 4, maxPairs = 6L).count() == 6L)
    assert(graft.ops.Augurs.dtwMatrix(t, window = 4).count() == 6L)
  }

  test("dtwMatrixOrdered: an over-budget input is rejected before the series build") {
    val rows = Seq("s1", "s2", "s3", "s4")
      .flatMap(k => (0 until 4).map(i => (k, i * 10L, i.toLong, i.toDouble)))
    val t = graft.core.Timeline(rows.toDF("k", "ts", "seq", "value"), keys = Seq("k"))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val ex = intercept[IllegalArgumentException] {
      graft.ops.Augurs.dtwMatrixOrdered(t, window = 4, maxPairs = 5L)
    }
    assert(ex.getMessage.contains("dtwMatrixOrdered: 4 series make 6 DTW pairs"),
      s"guard must name the op and the pair count: ${ex.getMessage}")
    // the series frame is checkpointed as soon as it is built: nothing
    // new pinned means the raw key count threw before seriesOf ran
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "the fast-fail must throw before the series frame is built")
    assert(graft.ops.Augurs.dtwMatrixOrdered(t, window = 4, maxPairs = 6L).count() == 6L)
  }

  test("join3 quiet until all three sides have ticked; one emission per instant") {
    val c = Seq(12L -> 100.0, 30L -> 200.0)
    val got = tl(a).join3(tl(b), tl(c), "x", "y", "z").df
      .select("ts", "x", "y", "z").as[(Long, Double, Double, Double)]
      .collect().toSeq.sorted
    // first instant where all three present: ts=15 (x=1@10, z=100@12, y=10@15)
    assert(got == Seq(
      (15L, 1.0, 10.0, 100.0), (20L, 2.0, 10.0, 100.0), (25L, 2.0, 20.0, 100.0),
      (30L, 3.0, 20.0, 200.0)),
      "ts=30: x and z tick the same instant -> ONE emission carrying both")
  }

  test("IVF ops: a wrong-dim or NULL vector aborts with the op's dim message") {
    // the fixed-dim check every IVF op applies at its boundary: a 64-dim
    // corpus carrying one 3-element row (or one NULL row) must abort the
    // query naming the op, the expected dim and what it got — through a
    // flat model (semDedup) and a hier descent (ivfTopK) alike
    import graft.functions.Similarity
    import graft.functions.Similarity.Quantizer
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001").select("vec_id", "embedding")
    val short = e.unionByName(Seq((100000L, Option(Seq(1f, 2f, 3f))))
      .toDF("vec_id", "embedding"))
    val nul = e.unionByName(Seq((100001L, Option.empty[Seq[Float]]))
      .toDF("vec_id", "embedding"))
    val model = Quantizer.Flat(Similarity.kmeansModel(e, nCent = 4, iters = 1, dimHint = 64))
    val hier = Quantizer.Hier(Similarity.hierQuantizer(e, nTop = 2, occupancy = 32,
      iters = 1, dimHint = 64))
    def abort(df: => org.apache.spark.sql.DataFrame): String =
      intercept[Exception](df.collect()).getMessage
    for ((bad, got) <- Seq(short -> "got 3", nul -> "got NULL")) {
      val sd = abort(Similarity.semDedup(bad, 0.4, model, dimHint = 64))
      assert(sd.contains(s"semDedup: expected dim 64, $got"), sd)
      val ann = abort(Similarity.ivfTopK(bad.where(col("vec_id") < 10), bad, 3, hier,
        nProbe = 2, dimHint = 64))
      assert(ann.contains(s"ivfTopK: expected dim 64, $got"), ann)
    }
  }

  test("probeDim: a NULL first embedding aborts with its readable message") {
    val df = Seq((1L, Option.empty[Seq[Float]]), (2L, Option(Seq(1f, 2f))))
      .toDF("vec_id", "embedding")
    val ex = intercept[IllegalArgumentException](graft.functions.Similarity.probeDim(df))
    assert(ex.getMessage.contains("probeDim: first row's embedding is NULL or empty"),
      ex.getMessage)
  }
}
