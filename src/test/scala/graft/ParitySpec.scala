package graft

import graft.core.Timeline
import graft.ops.{Augurs, ScanOps}
import graft.streaming.{BurstProc, Ev, Out, RunMode, StateProcs => P}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import scala.reflect.ClassTag

/** The RunMode duality gate (SURVEY §5a): every stateful processor runs
  * batch (flatMapSortedGroups) and streaming (flatMapGroupsWithState over a
  * MemoryStream fed in 3 micro-batches) and must produce IDENTICAL rows —
  * the transplant of the reference's interpreted-vs-compiled parity
  * (`tests/compiled_parity.rs:1-50`). Where a window-function Timeline
  * implementation of the same op exists, its output is the third leg of the
  * parity triangle (one op asserted across all execution strategies in one
  * test, `docs/wingfoil-architecture.md:174-176`). */
class ParitySpec extends SparkSuite {
  import spark.implicits._

  // single-input fixture: two keys, a same-instant burst, irregular gaps,
  // a consecutive duplicate (for distinct), values re-used across keys
  private val single: Seq[Ev] = Seq(
    Ev("a", 10L, 1L, 0, 5.0), Ev("a", 20L, 2L, 0, 5.0), Ev("a", 20L, 3L, 0, 7.0),
    Ev("a", 40L, 4L, 0, 2.0), Ev("a", 41L, 5L, 0, 2.0), Ev("a", 100L, 6L, 0, 9.0),
    Ev("b", 10L, 7L, 0, 1.0), Ev("b", 15L, 8L, 0, 4.0), Ev("b", 15L, 9L, 0, 4.0),
    Ev("b", 70L, 10L, 0, 8.0))

  // dual-input fixture: src 0 = value side, src 1 = trigger/other side;
  // seq encodes side priority within an instant (value before trigger),
  // matching asOfUnion's (ts, __src, seq) ordering
  private val dual: Seq[Ev] = Seq(
    Ev("a", 10L, 10L, 0, 1.0), Ev("a", 20L, 21L, 1, 50.0),
    Ev("a", 30L, 30L, 0, 3.0), Ev("a", 30L, 31L, 1, 60.0), // same-instant both
    Ev("a", 50L, 51L, 1, 70.0), Ev("a", 60L, 60L, 0, 6.0),
    Ev("b", 5L, 1L, 1, 80.0),   // trigger before any value: quiet
    Ev("b", 10L, 2L, 0, 2.0), Ev("b", 40L, 3L, 1, 90.0))

  private type Row4 = (String, Long, Double, Double)
  private def norm(o: Seq[Out]): Seq[Row4] = o.map(x => (x.key, x.ts, x.v1, x.v2)).sorted

  private def streamRun[S: ClassTag](evs: Seq[Ev], proc: BurstProc[S], name: String): Seq[Out] = {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = RunMode.streaming(mem.toDS(), proc)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    // three micro-batches split on instant boundaries (bursts never split —
    // the source contract, reference channel.rs:15-22)
    Seq(evs.filter(_.ts <= 20), evs.filter(e => e.ts > 20 && e.ts <= 50), evs.filter(_.ts > 50))
      .foreach { b => mem.addData(b); q.processAllAvailable() }
    q.stop()
    spark.table(name).as[Out].collect().toSeq
  }

  /** batch == streaming; returns the (normalized) agreed rows. */
  private def parity[S: ClassTag](name: String, evs: Seq[Ev], proc: BurstProc[S]): Seq[Row4] = {
    val b = norm(RunMode.batch(spark.createDataset(evs), proc).collect().toSeq)
    val s = norm(streamRun(evs, proc, s"par_$name"))
    assert(b == s, s"$name: batch and streaming runs must agree exactly")
    b
  }

  private def tl(evs: Seq[Ev], src: Int = -1): Timeline = {
    val rows = evs.filter(e => src < 0 || e.src == src)
    Timeline(spark.createDataset(rows).toDF().drop("src"), Seq("key"))
  }

  private def tlOut(df: DataFrame, vcol: String): Seq[Row4] =
    df.select(col("key"), col("ts"), col(vcol).cast("double"))
      .as[(String, Long, Double)].collect().map(t => (t._1, t._2, t._3, 0.0)).toSeq.sorted

  test("ewma per-tick: batch == streaming == ScanOps") {
    val agreed = parity("ewma", single, P.ewma(ScanOps.PerTick(0.3)))
    assert(agreed == tlOut(ScanOps.ewma(tl(single), ScanOps.PerTick(0.3)).df, "ewma"))
  }

  test("ewma half-life: batch == streaming == ScanOps") {
    val agreed = parity("ewmahl", single, P.ewma(ScanOps.HalfLife(20.0)))
    assert(agreed == tlOut(ScanOps.ewma(tl(single), ScanOps.HalfLife(20.0)).df, "ewma"))
  }

  test("throttle exact: batch == streaming == ScanOps") {
    val agreed = parity("throttle", single, P.throttle(25L))
    assert(agreed == tlOut(ScanOps.throttleExact(tl(single), 25L).df, "value"))
  }

  test("chained stateful stages: throttle -> sessionize via checkpointStage == batch chain") {
    // SURVEY §7.4: two arbitrary-state operators cannot share one
    // streaming query plan, so the chain splits at a checkpointed file
    // sink — stage 1 (throttle) writes exactly-once parquet, stage 2
    // (sessionize) streams from it as its own query. The batch chain
    // composes directly; both must agree row-for-row.
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_stage").toString
    val mem = MemoryStream[Ev]
    val (q1, staged) = RunMode.checkpointStage(mem.toDS(), P.throttle(25L), dir)
    val q2 = RunMode.streaming(staged, P.sessionize(30L))
      .writeStream.format("memory").queryName("par_chain").outputMode("append").start()
    Seq(single.filter(_.ts <= 20), single.filter(e => e.ts > 20 && e.ts <= 50),
      single.filter(_.ts > 50)).foreach { b =>
      mem.addData(b); q1.processAllAvailable(); q2.processAllAvailable()
    }
    q1.stop(); q2.stop()
    val s = norm(spark.table("par_chain").as[Out].collect().toSeq)
    val b = norm(RunMode.batch(
      RunMode.batch(spark.createDataset(single), P.throttle(25L))
        .map(o => Ev(o.key, o.ts, 0L, 0, o.v1)),
      P.sessionize(30L)).collect().toSeq)
    assert(b == s, "staged streaming chain must reproduce the batch chain exactly")
    assert(b.nonEmpty && b.map(_._3).distinct.size > 1,
      "fixture must exercise >1 session to make the parity non-vacuous")
  }

  test("dropSmallChange: batch == streaming == ScanOps") {
    val agreed = parity("dsc", single, P.dropSmallChange(1.5))
    assert(agreed == tlOut(ScanOps.dropSmallChange(tl(single), 1.5).df, "value"))
  }

  test("cumulative sum: batch == streaming == Timeline window fn") {
    val agreed = parity("cumsum", single, P.cumSum)
    assert(agreed == tlOut(tl(single).runningAgg("c" -> (sum(_))).df, "c"))
  }

  test("running count: batch == streaming == Timeline window fn") {
    val agreed = parity("count", single, P.count)
    assert(agreed == tlOut(tl(single).runningCount("n").df, "n"))
  }

  test("difference: batch == streaming == Timeline window fn") {
    val agreed = parity("diff", single, P.difference)
    assert(agreed == tlOut(tl(single).difference("d").df, "d"))
  }

  test("distinct consecutive: batch == streaming == Timeline window fn") {
    val agreed = parity("distinct", single, P.distinctConsecutive)
    assert(agreed == tlOut(tl(single).distinctConsecutive().df, "value"))
  }

  test("limit: batch == streaming == Timeline window fn") {
    val agreed = parity("limit", single, P.limit(3))
    assert(agreed == tlOut(tl(single).limitTicks(3).df, "value"))
  }

  test("delay: batch == streaming == Timeline ts shift") {
    val agreed = parity("delay", single, P.delay(7L))
    assert(agreed == tlOut(tl(single).delay(7L).ticks, "value"))
  }

  test("sample: batch == streaming == Timeline as-of union") {
    val agreed = parity("sample", dual, P.sample)
    assert(agreed == tlOut(tl(dual, 0).sample(tl(dual, 1)).df, "value"))
  }

  test("join zip-latest: batch == streaming == Timeline as-of union") {
    val agreed = parity("join", dual, P.joinLatest)
    val t = tl(dual, 0).joinLatest(tl(dual, 1), "pv", "cv").df
      .select(col("key"), col("ts"), col("pv"), col("cv"))
      .as[(String, Long, Double, Double)].collect().toSeq.sorted
    assert(agreed == t)
  }

  test("filter gate latch: batch == streaming == Timeline as-of union") {
    val agreed = parity("gate", dual, P.filterGate(_ >= 65.0))
    val t = tl(dual, 0).filterGate(tl(dual, 1).mapValue(_ >= 65.0))
    assert(agreed == tlOut(t.df, "value"))
  }

  test("merge tie-break: batch == streaming == Timeline merge") {
    val agreed = parity("merge", dual, P.merge)
    assert(agreed == tlOut(tl(dual, 0).merge(tl(dual, 1)).df, "value"))
  }

  test("tumbling window: streaming (watermark 0) == batch == Timeline.tumbling (ops.rs:583)") {
    import graft.streaming.StreamWindows
    // 1-second windows (Spark watermarks are millisecond-precision: windows
    // finer than 1 ms never finalize); events across 3 windows per key
    val S = 1000000000L
    val evs = Seq(
      Ev("a", S / 10, 1L, 0, 1.0), Ev("a", 9 * S / 10, 2L, 0, 2.0), // window (0,1s]
      Ev("a", 11 * S / 10, 3L, 0, 3.0),                             // window (1s,2s]
      Ev("b", S / 2, 4L, 0, 10.0), Ev("b", 5 * S / 2, 5L, 0, 20.0))


    // batch path: same code runs on a static frame
    val batch = StreamWindows.tumblingCountSum(spark.createDataset(evs).toDF(), S)
      .as[(String, Long, Long, Double)].collect().toSeq.sorted

    // Timeline.tumbling agrees on window identity (ts = exclusive end)
    val tl = Timeline(spark.createDataset(evs).toDF().drop("src"), Seq("key"))
    val viaTimeline = tl.tumbling(S, Seq(count(lit(1)).as("n"), sum(col("value")).as("sum_v")))
      .select(col("key"), col("ts"), col("n"), col("sum_v"))
      .as[(String, Long, Long, Double)].collect().toSeq.sorted
    assert(batch == viaTimeline)

    // streaming path: windows emit when the watermark passes their end;
    // a final empty-advance batch flushes the trailing windows
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamWindows.tumblingCountSum(mem.toDS().toDF(), S)
      .writeStream.format("memory").queryName("win_par").outputMode("append").start()
    mem.addData(evs.filter(_.ts <= S)); q.processAllAvailable()
    mem.addData(evs.filter(_.ts > S)); q.processAllAvailable()
    // advance the watermark past the last window end (the "last cycle"),
    // then one more batch so the now-final windows evict (watermark used in
    // batch N is the one computed at the end of batch N-1)
    mem.addData(Seq(Ev("z", 10 * S, 99L, 0, 0.0))); q.processAllAvailable()
    mem.addData(Seq(Ev("z", 20 * S, 100L, 0, 0.0))); q.processAllAvailable()
    q.stop()
    val stream = spark.table("win_par").as[(String, Long, Long, Double)].collect().toSeq
      .filterNot(_._1 == "z").sorted
    assert(stream == batch, "exact window rows incl. per-key boundaries")
  }

  test("timer delay: transformWithState event-time timers == batch ts shift (ops.rs:3090)") {
    import graft.streaming.TimerDelay
    val M = 1000000L // ms-aligned ns clock (Spark timers are ms-precision)
    val evs = Seq(
      Ev("a", 100 * M, 1L, 0, 1.0), Ev("a", 250 * M, 2L, 0, 2.0),
      Ev("a", 250 * M, 3L, 0, 3.0), // same-instant burst delays as a unit
      Ev("b", 120 * M, 4L, 0, 10.0))
    val delayNs = 50 * M

    // streaming leg: RocksDB provider (transformWithState requirement),
    // watermark advanced past every landing by sentinel rows
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[Ev]
      val q = TimerDelay.delayed(mem.toDS(), delayNs)
        .writeStream.format("memory").queryName("tws_delay").outputMode("append").start()
      mem.addData(evs.filter(_.ts <= 150 * M)); q.processAllAvailable()
      mem.addData(evs.filter(_.ts > 150 * M)); q.processAllAvailable()
      mem.addData(Seq(Ev("z", 1000 * M, 98L, 0, 0.0))); q.processAllAvailable()
      mem.addData(Seq(Ev("z", 2000 * M, 99L, 0, 0.0))); q.processAllAvailable()
      q.stop()
      val streamed = spark.table("tws_delay").as[Out].collect()
        .filterNot(_.key == "z").map(o => (o.key, o.ts, o.v1)).toSeq.sorted

      val batch = tl(evs).delay(delayNs).ticks
        .select(col("key"), col("ts"), col("value"))
        .as[(String, Long, Double)].collect().toSeq.sorted
      assert(streamed == batch,
        "event-time timers deliver exactly the batch ts-shift rows")
      assert(streamed.map(_._2).toSet == Set(150 * M, 300 * M, 170 * M))
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("delay_with_reset: transformWithState timers+cancel == batch derivation (ops.rs:3486)") {
    import graft.streaming.TimerDelay
    val M = 1000000L // ms-aligned ns clock (Spark timers are ms-precision)
    val D = 50 * M
    val evs = Seq(
      Ev("a", 100 * M, 1L, 0, 1.0), // would land 150 — killed by the reset at 120
      Ev("a", 120 * M, 2L, 1, 0.0), // reset: emits held 1.0 @120
      Ev("a", 200 * M, 3L, 0, 2.0), // lands 250 (no reset in [200,250])
      Ev("a", 300 * M, 4L, 0, 3.0), // would land 350 — reset AT the landing kills it
      Ev("a", 350 * M, 5L, 1, 0.0), // closed-interval boundary: kill + emit 3.0 @350
      Ev("a", 400 * M, 6L, 0, 4.0), // same-instant value+reset: value first (seq),
      Ev("a", 400 * M, 7L, 1, 0.0), //   killed at birth, reset samples the new value
      Ev("b", 50 * M, 8L, 1, 0.0),  // reset before any value: quiet
      Ev("b", 60 * M, 9L, 0, 9.0))  // lands 110

    val batch = ScanOps.delayWithReset(tl(evs, 0), D, tl(evs, 1)).df
      .select(col("key"), col("ts"), col("value"))
      .as[(String, Long, Double)].collect().toSeq.sorted

    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[Ev]
      val q = TimerDelay.delayedWithReset(mem.toDS(), D)
        .writeStream.format("memory").queryName("tws_delay_reset")
        .outputMode("append").start()
      // three micro-batches on instant boundaries; sentinel rows advance
      // the watermark past every landing
      mem.addData(evs.filter(_.ts <= 120 * M)); q.processAllAvailable()
      mem.addData(evs.filter(e => e.ts > 120 * M && e.ts <= 300 * M)); q.processAllAvailable()
      mem.addData(evs.filter(_.ts > 300 * M)); q.processAllAvailable()
      mem.addData(Seq(Ev("z", 1000 * M, 98L, 0, 0.0))); q.processAllAvailable()
      mem.addData(Seq(Ev("z", 2000 * M, 99L, 0, 0.0))); q.processAllAvailable()
      q.stop()
      val streamed = spark.table("tws_delay_reset").as[Out].collect()
        .filterNot(_.key == "z").map(o => (o.key, o.ts, o.v1)).toSeq.sorted
      assert(streamed == batch,
        "reset cancellation + held-value emission must equal the batch derivation")
      // shape spot-check: a's survivors are the two reset samples + 250
      // landing + the 400 sample; b gets its 110 landing
      assert(batch == Seq(("a", 120 * M, 1.0), ("a", 250 * M, 2.0), ("a", 350 * M, 3.0),
        ("a", 400 * M, 4.0), ("b", 110 * M, 9.0)))
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("feedback whole-graph: bounded-epoch iteration with global aggregation (§7.4)") {
    import graft.streaming.Feedback
    import spark.implicits._
    // global-mean smoothing: v' = (v + mean(all v)) / 2 — converges toward
    // the mean; needs CROSS-KEY aggregation, outside the per-key subset
    val start = Seq(("a", 0.0), ("b", 8.0)).toDF("k", "v")
    val out = Feedback.iterateEpochs(start, 3) { df =>
      val m = df.agg(avg("v")).head.getDouble(0)
      df.withColumn("v", (col("v") + lit(m)) / 2)
    }
    val got = out.orderBy("k").as[(String, Double)].collect().toSeq
    // mean stays 4: a: 0→2→3→3.5, b: 8→6→5→4.5
    assert(got == Seq(("a", 3.5), ("b", 4.5)))
  }

  test("changepoint mean-shift: batch == streaming == Augurs window form (augurs.rs:760)") {
    // §2.8's streaming leg: the analytics family joins the dual-run
    // contract. Long-enough fixture for w=3 (emission needs 2w=6 trailing
    // values), with a real level shift mid-series (z > 3 must occur, so
    // the leg is non-vacuous) and a same-instant burst (ts=60 twice on
    // key a — per-event semantics inside one cycle).
    val cp: Seq[Ev] =
      (1 to 12).map(i => Ev("a", 10L * i, i.toLong, 0,
        if (i <= 6) 1.0 + 0.1 * i else 9.0 + 0.1 * i)) ++
      Seq(Ev("a", 60L, 90L, 0, 4.2)) ++
      (1 to 8).map(i => Ev("b", 7L * i, 100L + i, 0, if (i % 2 == 0) 5.0 else 2.0))
    val agreed = parity("changepoint", cp, P.changepoint(3))
    assert(agreed == tlOut(Augurs.changepointMeanShift(tl(cp), 3).df, "z"),
      "streaming state machine must replay the batch window form double-exactly")
    assert(agreed.map(_._3).max > 3.0, "fixture must contain a detectable shift")
    assert(agreed.size >= 10, "both keys must emit")
  }

  test("outlier MAD: batch == streaming == Augurs window form (augurs.rs:636)") {
    // second §2.8 live leg: trailing-5 median/MAD per key, v1 = score,
    // v2 = mad. Fixture has a spike (must flag at 3·1.4826·mad), a
    // same-instant burst on key a, and a second key.
    val om: Seq[Ev] =
      (1 to 14).map(i => Ev("a", 10L * i, i.toLong, 0,
        if (i == 9) 50.0 else 5.0 + (i % 3) * 0.5)) ++
      Seq(Ev("a", 60L, 99L, 0, 5.2)) ++
      (1 to 7).map(i => Ev("b", 8L * i, 200L + i, 0, i.toDouble))
    val agreed = parity("outliermad", om, P.outlierMad(5))
    val tlForm = Augurs.outlierMad(tl(om), 5).df
      .select(col("key"), col("ts"), col("score"), col("mad"))
      .as[(String, Long, Double, Double)].collect().toSeq.sorted
    assert(agreed == tlForm,
      "streaming ring state must replay the sort_array window form double-exactly")
    assert(agreed.exists(r => r._3 > r._4 * (3.0 * 1.4826)), "the spike must flag")
    assert(agreed.count(r => r._3 > r._4 * (3.0 * 1.4826)) <= 3,
      "the quiet samples must not flag")
  }

  // restart fixture: three keys over 60 instants, a two-event burst every
  // 7th instant, fed as 7 micro-batches of 10 instants each
  private val restartBatches: Seq[Seq[Ev]] = {
    val r = new scala.util.Random(11)
    val evs = for {
      t <- 1 to 60; k <- Seq("a", "b", "c"); _ <- 0 until (if (t % 7 == 0) 2 else 1)
    } yield (k, t.toLong, if (r.nextInt(20) == 0) 40.0 else r.nextInt(9).toDouble)
    evs.zipWithIndex.map { case ((k, t, v), i) => Ev(k, t, i + 1L, 0, v) }
      .groupBy(_.ts / 10).toSeq.sortBy(_._1).map(_._2)
  }

  /** `outlierMad(16)` live over [[restartBatches]] on one checkpoint, one
    * query per leg: a leg `(upTo, fs)` feeds batches up to `upTo` and
    * stops; `fs` pins the leg's `file:` AbstractFileSystem (set after
    * `RunMode.streaming`, which would otherwise install its own). Returns
    * each batch's rows, sorted, by batch id. */
  private def liveLegs(ckpt: String, legs: Seq[(Int, Option[String])]): Seq[(Long, Seq[Row4])] = {
    import graft.streaming.ForkFreeLocalFs.ConfKey
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[Row4])]()
    val sink: (org.apache.spark.sql.Dataset[Out], Long) => Unit =
      (ds, id) => out.add((id, norm(ds.collect().toSeq)))
    val before = spark.conf.getOption(ConfKey)
    var next = 0
    try legs.foreach { case (upTo, fs) =>
      val live = RunMode.streaming(mem.toDS(), P.outlierMad(16))
      fs.foreach(spark.conf.set(ConfKey, _))
      val q = live.writeStream.option("checkpointLocation", ckpt).foreachBatch(sink).start()
      while (next < upTo) { mem.addData(restartBatches(next)); q.processAllAvailable(); next += 1 }
      q.stop()
    } finally before.fold(spark.conf.unset(ConfKey))(spark.conf.set(ConfKey, _))
    import scala.jdk.CollectionConverters._
    out.asScala.toSeq.sortBy(_._1)
  }

  test("outlier MAD live leg: stop after batch k, restart from the checkpoint == uninterrupted == batch") {
    val n = restartBatches.length
    def ckpt() = java.nio.file.Files.createTempDirectory("graft_restart").toString
    val whole = liveLegs(ckpt(), Seq(n -> None))
    val restarted = liveLegs(ckpt(), Seq(3 -> None, n -> None))
    val b = norm(RunMode.batch(spark.createDataset(restartBatches.flatten), P.outlierMad(16))
      .collect().toSeq)
    assert(whole.map(_._1) == (0L until n.toLong), "one micro-batch per fed batch")
    assert(restarted == whole, "the restarted query resumes at batch 3 with the same state")
    assert(restarted.flatMap(_._2).sorted == b, "the live leg equals the batch replay")
    assert(b.count(r => r._3 > r._4 * (3.0 * 1.4826)) > 0, "fixture must flag an outlier")
  }

  test("outlier MAD live leg: a checkpoint moves between Hadoop's LocalFs and ForkFreeLocalFs") {
    // LocalFs writes batches 0-1, ForkFreeLocalFs resumes and writes 2-4,
    // LocalFs resumes again: each reads the other's .crc-checked offset
    // log, commit log and state deltas
    val n = restartBatches.length
    val local = Some(graft.streaming.ForkFreeLocalFs.HadoopDefault)
    val dir = java.nio.file.Files.createTempDirectory("graft_restart_fs")
    val mixed = liveLegs(dir.toString, Seq(2 -> local, 5 -> None, n -> local))
    val whole = liveLegs(java.nio.file.Files.createTempDirectory("graft_restart").toString,
      Seq(n -> None))
    assert(mixed == whole, "the same rows, batch by batch, whichever filesystem wrote the checkpoint")
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(dir).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_)).toSeq
    val data = files.filterNot(_.getFileName.toString.endsWith(".crc"))
    val deltas = data.filter(_.getFileName.toString.endsWith(".delta"))
    assert(deltas.size == 4 * n, s"one state delta per shuffle partition and batch: ${deltas.size}")
    val noCrc = data.filterNot(f => java.nio.file.Files.exists(f.resolveSibling(s".${f.getFileName}.crc")))
    assert(noCrc.isEmpty, s"every checkpoint file has its .crc sidecar; missing for $noCrc")
  }

  test("ETS forecast: batch == streaming == Augurs window form (augurs.rs:248)") {
    // third §2.8 live leg (r15 verdict item 6): per-tick sliding-refit
    // 1-step ETS, v1 = forecast, v2 = residual sigma. window=8, season=2
    // → emission needs 4 trailing values. Fixture: seasonal + trend on
    // key a with a same-instant burst (ts=60 twice — per-event semantics
    // inside one cycle), a second key with a different pattern.
    val fe: Seq[Ev] =
      (1 to 14).map(i => Ev("a", 10L * i, i.toLong, 0,
        5.0 + (i % 2) * 2.0 + 0.1 * i)) ++
      Seq(Ev("a", 60L, 90L, 0, 6.3)) ++
      (1 to 9).map(i => Ev("b", 7L * i, 100L + i, 0, 1.0 * i + (i % 2)))
    val agreed = parity("ets1", fe, P.forecastEts1(8, 2))
    val tlForm = Augurs.forecastEtsRolling(tl(fe), 8, 2)
      .select(col("key"), col("ts"), col("forecast"), col("sigma"))
      .as[(String, Long, Double, Double)].collect().toSeq.sorted
    assert(agreed == tlForm,
      "streaming ring state must replay the per-tick window form double-exactly")
    // round 18: the KeyedScan vehicle joins the triangle (the registry
    // form) — same etsCore over the same oldest-first window per tick,
    // so equality is exact, not 4dp
    val scanForm = Augurs.forecastEtsRollingScan(tl(fe), 8, 2)
      .select(col("key"), col("ts"), col("forecast"), col("sigma"))
      .as[(String, Long, Double, Double)].collect().toSeq.sorted
    assert(scanForm == tlForm,
      "scan vehicle must replay the window form double-exactly (shared etsCore)")
    assert(agreed.size >= 15 && agreed.count(_._1 == "b") >= 5,
      "both keys must emit (non-vacuous)")
    assert(agreed.exists(_._4 > 0.0), "residual sigma must be non-trivial")
    // the triangle ties to the REGISTRY op: the last per-key emission is
    // exactly forecastEts' step-1 forecast over the same trailing window
    val finalFc = Augurs.forecastEts(tl(fe), 8, 2, horizon = 1)
      .where(col("step") === 1)
      .select(col("key"), col("forecast"))
      .as[(String, Double)].collect().toMap
    val lastPerKey = agreed.groupBy(_._1).map { case (k, rows) => k -> rows.maxBy(r => (r._2, r._3))._3 }
    assert(lastPerKey("a") == finalFc("a") && lastPerKey("b") == finalFc("b"),
      "rolling form's last emission must equal the batch registry op's 1-step forecast")
  }

  test("seasons: batch == streaming == Augurs rolling form (augurs.rs:893)") {
    // fourth §2.8 live leg (r16 verdict item 5): per-tick best-lag ACF
    // over the trailing window, v1 = best_lag, v2 = best_corr (4dp).
    // Fixture: key a = period-3 sawtooth + slope (16 values, a same-
    // instant burst mid-series), key b = period-4 square wave + slope
    // (12 values) — real seasonal signals, distinct best lags.
    // key a: plain period-3 series; key b carries the same-instant burst
    // mid-series (ts=42 twice, seq orders within the instant) — the last
    // emission per key stays at a unique instant for the registry tie
    val fe: Seq[Ev] =
      (1 to 16).map(i => Ev("a", 10L * i, i.toLong, 0,
        (i % 3) * 2.0 + 0.05 * i)) ++
      (1 to 6).map(i => Ev("b", 7L * i, 100L + i, 0,
        (if (i % 4 < 2) 1.0 else 6.0) + 0.03 * i)) ++
      Seq(Ev("b", 42L, 190L, 0, (if (7 % 4 < 2) 1.0 else 6.0) + 0.03 * 7)) ++
      (8 to 12).map(i => Ev("b", 7L * i, 100L + i, 0,
        (if (i % 4 < 2) 1.0 else 6.0) + 0.03 * i))
    val agreed = parity("seasons", fe, P.seasons(16, 5, 4))
    val tlForm = Augurs.seasonsRolling(tl(fe), 16, 5, 4)
      .select(col("key"), col("ts"), col("best_lag").cast("double"), col("best_corr"))
      .as[(String, Long, Double, Double)].collect().toSeq.sorted
    assert(agreed == tlForm,
      "streaming ring state must replay the per-tick window form double-exactly")
    // round 18: the KeyedScan vehicle (registry form) joins the triangle
    // — shared acfBestLagCore over the same window per tick, exact
    val scanForm = Augurs.seasonsRollingScan(tl(fe), 16, 5, 4)
      .select(col("key"), col("ts"), col("best_lag").cast("double"), col("best_corr"))
      .as[(String, Long, Double, Double)].collect().toSeq.sorted
    assert(scanForm == tlForm,
      "scan vehicle must replay the window form double-exactly (shared core)")
    assert(agreed.count(_._1 == "a") >= 8 && agreed.count(_._1 == "b") >= 5,
      "both keys must emit (non-vacuous)")
    // the signals must actually be detected: final best lag = the period
    val lastPerKey = agreed.groupBy(_._1).map { case (k, rows) => k -> rows.maxBy(_._2) }
    assert(lastPerKey("a")._3 == 3.0 && lastPerKey("b")._3 == 4.0,
      s"planted periods must win: $lastPerKey")
    assert(lastPerKey.values.forall(_._4 > 0.5), "best corr must be a real signal")
    // the triangle ties to the REGISTRY op: window covers the whole
    // series, so the last per-key emission equals seasonsAutocorr's row
    // at the shared 4dp rounding contract (Spark corr aggregate vs the
    // core's sum form agree after the +1e-9 nudge + HALF_UP round)
    val batch = Augurs.seasonsAutocorr(tl(fe), 5, 4)
      .select(col("key"), col("best_lag").cast("double"), col("best_corr"))
      .as[(String, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(batch("a") == ((lastPerKey("a")._3, lastPerKey("a")._4)) &&
      batch("b") == ((lastPerKey("b")._3, lastPerKey("b")._4)),
      s"rolling form's last emission must equal the batch registry op: $batch vs $lastPerKey")
  }

  test("sessionize: batch == streaming == Timeline window chain") {
    // gap 25 over the shared fixture: key a splits at the 41 -> 100 jump,
    // key b at 15 -> 70; same-instant bursts never split a session
    val agreed = parity("sess", single, P.sessionize(25L))
    assert(agreed == tlOut(tl(single).sessionize(25L).df, "session_id"))
    assert(agreed.filter(_._1 == "a").map(_._3) == Seq(1.0, 1.0, 1.0, 1.0, 1.0, 2.0))
    assert(agreed.filter(_._1 == "b").map(_._3) == Seq(1.0, 1.0, 1.0, 2.0))
  }

  test("funnel: batch == streaming == window-chain Funnel.stages") {
    // src encodes the 0-based stage (0=view, 1=click, 2=purchase), step=100
    val evs = Seq(
      Ev("a", 10L, 1L, 0, 0.0), Ev("a", 30L, 2L, 1, 0.0), Ev("a", 50L, 3L, 2, 0.0), // full conversion
      Ev("b", 10L, 4L, 1, 0.0),  // click before any view: ignored
      Ev("b", 20L, 5L, 0, 0.0), Ev("b", 25L, 6L, 1, 0.0), // view then qualifying click
      Ev("b", 2000L, 7L, 2, 0.0), // purchase outside the 100-step window: stage 3 not reached
      Ev("c", 5L, 8L, 2, 0.0),    // purchase only: nothing
      Ev("d", 10L, 9L, 0, 0.0), Ev("d", 10L, 10L, 1, 0.0)) // same-instant click: strict > fails
    val agreed = parity("funnel", evs, P.funnel(100L))
    // third leg: the window-chain form over the same fixture — each
    // non-null t_i is the stage-(i+1) advancement emission
    val df = spark.createDataset(evs).toDF()
      .withColumn("etype", col("src").cast("string"))
    val st = graft.ops.Funnel.stages(df, Seq("key"), "etype", Seq("0", "1", "2"), 100L)
    val derived = st.collect().flatMap { r =>
      (0 until 3).flatMap { i =>
        Option(r.getAs[java.lang.Long](s"t$i"))
          .map(ts => (r.getString(0), ts.toLong, (i + 1).toDouble, 0.0))
      }
    }.toSeq.sorted
    assert(agreed == derived, "window-chain stages must equal the scan emissions")
    // spot-check the fixture's semantics directly
    assert(derived.filter(_._1 == "a").map(_._3) == Seq(1.0, 2.0, 3.0))
    assert(derived.filter(_._1 == "b").map(_._3) == Seq(1.0, 2.0))
    assert(derived.filter(_._1 == "c").isEmpty)
    assert(derived.filter(_._1 == "d").map(_._3) == Seq(1.0))
  }

  test("feedback: previous cycle's output feeds the next cycle (fluent.rs:363, §7.4 subset)") {
    import graft.streaming.Feedback
    // EMA of own output: out = fed*0.5 + input*0.5; first cycle passes input
    val proc = Feedback.proc { (fed, evs) =>
      val x = evs.last.value
      fed.map(f => f * 0.5 + x * 0.5).getOrElse(x)
    }
    val evs = Seq(Ev("a", 10L, 1L, 0, 4.0), Ev("a", 20L, 2L, 0, 8.0), Ev("a", 30L, 3L, 0, 2.0))
    val agreed = parity("feedback", evs, proc)
    assert(agreed == Seq(("a", 10L, 4.0, 0.0), ("a", 20L, 6.0, 0.0), ("a", 30L, 4.0, 0.0)),
      "cycle n sees cycle n-1's OUTPUT, not its input")
  }

  test("incremental doc dedup: native stream-static anti-join + dropDuplicates == batch op") {
    // the doc-level streaming dedup leg, built from CANONICAL Structured
    // Streaming operators only (no custom state): reference-corpus
    // fingerprints anti-join as a stream-static join, first-arrival-wins
    // is the built-in streaming dropDuplicates state. Arrivals are fed in
    // doc_id order with same-fingerprint dups never sharing a micro-batch
    // (within one micro-batch dropDuplicates keeps an arbitrary row after
    // the hash exchange; ACROSS batches state makes first-arrival exact),
    // so first-arrival == the batch op's min-doc_id rule and the rows
    // must match the ORACLE-GATED doc_dedup_incremental exactly.
    import graft.functions.{TextFunctions => TFX}
    val d = "/root/testdata/sf0.001"
    val batchOut = Queries.registry.toMap.apply("doc_dedup_incremental").fn(spark, d)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val fp = Tables.documents(spark, d).select(col("doc_id"), col("source"),
      TFX.fingerprint(col("text")).as("fp"))
    val ref = fp.where(!col("source").isin("src18", "src19")).select("fp").distinct()
    val arrivals = fp.where(col("source").isin("src18", "src19"))
      .select(col("doc_id"), col("fp")).as[(Long, String)]
      .collect().sortBy(_._1).toSeq
    // two micro-batches (the sf0.001 batch docs have pairwise-distinct
    // fingerprints, so same-batch dedup nondeterminism cannot arise) plus
    // a PLANTED cross-batch dup: batch 2 replays a batch-1 kept
    // fingerprint under a fresh id — dropDuplicates state must drop it,
    // and since the batch op never saw the synthetic row, equality with
    // batchOut proves exactly that
    val (g1, g2) = arrivals.splitAt(arrivals.length / 2)
    val keptInG1 = g1.map(_._2).toSet
      .diff(ref.as[String].collect().toSet)
    assert(keptInG1.nonEmpty, "batch 1 must keep at least one fingerprint")
    val planted = (arrivals.map(_._1).max + 1000L, keptInG1.head)
    val groups = Seq(g1, g2 :+ planted)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDS().toDF("doc_id", "fp")
      .join(ref, Seq("fp"), "left_anti")
      .dropDuplicates("fp")
      .select("doc_id", "fp") // the join moved its key first
      .writeStream.format("memory").queryName("docdedup_par")
      .outputMode("append").start()
    groups.foreach { buf => mem.addData(buf); q.processAllAvailable() }
    q.stop()
    val streamOut = spark.table("docdedup_par")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(batchOut.nonEmpty, "the parity corpus must keep real rows")
    assert(streamOut == batchOut,
      s"streaming != batch: only-stream=${streamOut -- batchOut}, only-batch=${batchOut -- streamOut}")
  }

  test("embedding outlier screen: frozen-model micro-batch scoring == oracle-gated batch op") {
    // ninth live decision family: quantizer + per-cell (mu, sd) freeze
    // over the stored corpus; arrivals score statelessly. Feeding the
    // SAME corpus back as arrivals must reproduce the oracle-gated
    // emb_outlier rows exactly — the stream re-assigns every vector
    // against kmeansModel's returned centroids, so this ties the frozen
    // model to the batch op's final pass; the DuckDB oracle, which
    // replays every Lloyd pass in SQL, is the reference for both.
    import graft.streaming.OutlierStream
    implicit val sqlCtx = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val e = Tables.embeddings(spark, d)
    val m = OutlierStream.fit(e, nCent = 8, iters = 2, dim = 64, nSigma = 1.5)
    val batch = Queries.registry.toMap.apply("emb_outlier").fn(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getBoolean(5))).toSet
    val mem = MemoryStream[(Long, Seq[Double])]
    val arr = mem.toDS().toDF("vec_id", "embedding")
    val q = OutlierStream.flags(arr, m).writeStream.format("memory")
      .queryName("par_emb_outlier").outputMode("append").start()
    val rows = e.select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toSeq))
    rows.grouped(math.max(1, rows.length / 3 + 1)).foreach { b =>
      mem.addData(b.toSeq); q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("par_emb_outlier")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getBoolean(5))).toSet
    assert(streamed == batch,
      "frozen-model stream scoring must equal the batch op row-for-row")
    assert(batch.exists(_._6) && batch.exists(!_._6),
      "fixture must flag some vectors and pass others")
  }

  test("incremental SemDeDup: streaming (corpus as initial state) == oracle-gated batch op") {
    // the embedding family's first streaming leg: the SAME registry
    // config as emb_semdedup_inc (frozen trained quantizer, kept corpus,
    // %5-batch), all arrivals in one micro-batch with the stored corpus
    // as flatMapGroupsWithState INITIAL state — decisions must equal the
    // DuckDB-oracle-gated batch op row-for-row
    import graft.functions.Similarity
    import graft.streaming.{CellKept, SemDeDupStream, VecArrival}
    val d = "/root/testdata/sf0.001"
    val e = Tables.embeddings(spark, d)
    val old = e.where(col("vec_id") % 5 =!= 0)
    val batch = e.where(col("vec_id") % 5 === 0)
    val k = math.max(1, math.ceil(old.count() / 64.0).toInt)
    val model = Similarity.kmeansModel(old, k, iters = 2, dimHint = 64)
    val kept = Similarity.semDedup(old, 0.4, Similarity.Quantizer.Flat(model), dimHint = 64)
      .where(col("keep")).select(col("vec_id"), col("cell"))
      .join(old.select(col("vec_id"), col("embedding")), "vec_id")
    val batchDec = Similarity.semDedupIncremental(kept, batch, 0.4,
      Similarity.Quantizer.Flat(model), dimHint = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3))).toSet
    val init: Seq[(Long, CellKept)] = Similarity
      .incrementalCorpus(kept, Similarity.toDouble)
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
      .groupBy(_._1).map { case (c, vs) => (c, CellKept(vs.map(_._2).toSeq)) }.toSeq
    val arrivals = Similarity.incrementalAssignFrame(batch, model, 64)
      .as[VecArrival].collect().toSeq
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[VecArrival]
    val q = SemDeDupStream.decisions(mem.toDS(), 0.4, spark.createDataset(init))
      .writeStream.format("memory").queryName("sdinc_par").outputMode("append").start()
    mem.addData(arrivals); q.processAllAvailable(); q.stop()
    val streamDec = spark.table("sdinc_par")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3))).toSet
    assert(batchDec.exists(!_._4), "the parity corpus must exercise real drops")
    assert(streamDec == batchDec,
      s"streaming != batch: only-stream=${streamDec -- batchDec}, only-batch=${batchDec -- streamDec}")
  }

  test("incremental decontamination: stateless stream-static join == oracle-gated batch op") {
    // the decontamination family's streaming leg (round-12 verdict item
    // 3), mirroring the registry's emb_decontam_inc config exactly:
    // frozen model trained on the old corpus, frozen eval probes
    // computed once, arrivals screened per micro-batch. Unlike the dedup
    // twin the leg is STATELESS (the frozen eval suite alone decides),
    // so arrivals are deliberately fed in TWO micro-batches — equality
    // with the one-shot batch op proves batch boundaries cannot matter.
    import graft.functions.Similarity
    import graft.streaming.{DecontamStream, VecArrival}
    val d = "/root/testdata/sf0.001"
    val e = Tables.embeddings(spark, d)
    val old = e.where(col("label") =!= 9 && col("vec_id") % 5 =!= 0)
    val batch = e.where(col("label") =!= 9 && col("vec_id") % 5 === 0)
    val ev = e.where(col("label") === 9)
    val k = math.max(1, math.ceil(old.count() / 64.0).toInt)
    val model = Similarity.kmeansModel(old, k, iters = 2, dimHint = 64)
    val probes = Similarity.evalProbeFrame(ev, Similarity.Quantizer.Flat(model),
      nProbe = 4, dimHint = 64)
    val batchDec = Similarity
      .semanticDecontaminateIncremental(batch, probes, 0.4, Similarity.Quantizer.Flat(model),
        dimHint = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3))).toSet
    val arrivals = Similarity.incrementalAssignFrame(batch, model, 64)
      .as[VecArrival].collect().sortBy(_.id).toSeq
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[VecArrival]
    val q = DecontamStream.decisions(mem.toDS(), probes, 0.4)
      .writeStream.format("memory").queryName("dec_par").outputMode("append").start()
    val (g1, g2) = arrivals.splitAt(arrivals.length / 2)
    Seq(g1, g2).foreach { g => mem.addData(g); q.processAllAvailable() }
    q.stop()
    val streamDec = spark.table("dec_par")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3))).toSet
    assert(batchDec.exists(!_._4), "the parity corpus must exercise real contamination drops")
    assert(streamDec == batchDec,
      s"streaming != batch: only-stream=${streamDec -- batchDec}, only-batch=${batchDec -- streamDec}")
  }

  test("incremental SemDeDup streaming: kept arrivals become corpus for the next micro-batch") {
    // the evolution leg the one-batch parity can't see: a batch-2 dup of a
    // KEPT batch-1 arrival is dropped by the corpus rule (commitment is
    // irrevocable), a fresh orthogonal arrival is kept
    import graft.functions.Similarity
    import graft.streaming.{CellKept, SemDeDupStream, VecArrival}
    def unit(i: Int): Seq[Double] = Seq.tabulate(4)(j => if (j == i) 1.0 else 0.0)
    val model = Seq(1L -> unit(0).toArray, 2L -> unit(1).toArray)
    def arrivalsOf(rows: Seq[(Long, Seq[Double])]): Seq[VecArrival] = {
      val df = rows.toDF("vec_id", "embedding")
      Similarity.incrementalAssignFrame(df, model, 4).as[VecArrival].collect().toSeq
    }
    val b1 = arrivalsOf(Seq(10L -> unit(2), 11L -> unit(3)))          // both kept (orthogonal)
    val b2 = arrivalsOf(Seq(20L -> unit(2), 21L -> unit(1)))          // 20 dups kept 10; 21 dups nothing? unit(1) IS a centroid, corpus empty -> kept
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[VecArrival]
    val init = spark.createDataset(Seq.empty[(Long, CellKept)])
    val q = SemDeDupStream.decisions(mem.toDS(), 0.4, init)
      .writeStream.format("memory").queryName("sdinc_evo").outputMode("append").start()
    mem.addData(b1); q.processAllAvailable()
    mem.addData(b2); q.processAllAvailable(); q.stop()
    val dec = spark.table("sdinc_evo").collect()
      .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(dec(10L) && dec(11L), "batch-1 orthogonal arrivals kept")
    assert(!dec(20L), "batch-2 dup of a KEPT batch-1 arrival dropped by the corpus rule")
    assert(dec(21L), "batch-2 fresh direction kept")
  }

  test("kNN classify: streaming micro-batch scoring == oracle-gated batch op") {
    // the second decision family with a streaming leg (r12 verdict item
    // 6): frozen corpus index (the registry emb_knn_classify's exact
    // salted-sample quantizer), queries arrive across TWO micro-batches,
    // per-batch rank+vote in flatMapGroupsWithState — predictions must
    // equal the DuckDB-oracle-gated batch op's (qid, pred) pairs.
    import graft.functions.{Similarity, TextFunctions => TFX}
    import graft.streaming.{KnnClassifyStream, KnnQuery}
    val d = "/root/testdata/sf0.001"
    val e = Tables.embeddings(spark, d)
    val batchOut = Queries.registry.toMap.apply("emb_knn_classify").fn(spark, d)
      .collect().map(r => (r.getLong(0), r.getAs[Number](1).longValue)).toSet
    // the registry op's sample quantizer, rebuilt identically: the
    // nCent lowest hash60(vec_id)s over the corpus
    val k = math.max(1, math.ceil(e.count() / 64.0).toInt)
    val cv = e.select(col("vec_id").as("id"), Similarity.toDouble(col("embedding")).as("v"))
    val model = cv.orderBy(TFX.hash60(col("id").cast("string")), col("id")).limit(k)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
    val corpusCells = Similarity.probeFrameForTest(e, model, 1, 64)
      .select(element_at(col("pcs"), 1).as("cell"), col("id").as("nid"), col("vp").as("np"))
      .join(e.select(col("vec_id").as("nid"), col("label").cast("long").as("nlabel")), "nid")
      .select("cell", "nid", "nlabel", "np")
    val arrivals = Similarity.probeFrameForTest(
        e.where(col("vec_id") % 10 === 0), model, 6, 64)
      .select(col("id").as("qid"), col("pcs").as("probes"), col("vp").as("qp"))
      .as[KnnQuery].collect().sortBy(_.qid).toSeq
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[KnnQuery]
    val q = KnnClassifyStream.predictions(mem.toDS(), corpusCells, 5)
      .writeStream.format("memory").queryName("knn_par").outputMode("append").start()
    val (g1, g2) = arrivals.splitAt(arrivals.length / 2)
    Seq(g1, g2).foreach { g => mem.addData(g); q.processAllAvailable() }
    q.stop()
    val streamOut = spark.table("knn_par")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batchOut.nonEmpty && batchOut.size > 10, "parity must exercise real queries")
    assert(streamOut == batchOut.map { case (qid, pred) => (qid, pred) },
      s"streaming != batch: only-stream=${streamOut -- batchOut}, only-batch=${batchOut -- streamOut}")
  }

  test("SemDeDupStream: maxKeptPerCell guard trips loudly when state outgrows the cap") {
    // the operational tripwire on the documented frozen-quantizer state
    // growth (ADVICE r12): kept state per cell grows for the stream's
    // lifetime, so the micro-batch that pushes a cell past the cap must
    // fail with the fold-and-retrain remedy, not creep toward an OOM
    import graft.functions.Similarity
    import graft.streaming.{CellKept, SemDeDupStream, VecArrival}
    def unit(i: Int): Seq[Double] = Seq.tabulate(4)(j => if (j == i) 1.0 else 0.0)
    val model = Seq(1L -> unit(0).toArray) // one cell: everything homes there
    def arrivalsOf(rows: Seq[(Long, Seq[Double])]): Seq[VecArrival] = {
      val df = rows.toDF("vec_id", "embedding")
      Similarity.incrementalAssignFrame(df, model, 4).as[VecArrival].collect().toSeq
    }
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[VecArrival]
    val init = spark.createDataset(Seq.empty[(Long, CellKept)])
    val q = SemDeDupStream.decisions(mem.toDS(), 0.4, init, maxKeptPerCell = 2)
      .writeStream.format("memory").queryName("sdinc_cap").outputMode("append").start()
    // batch 1: two orthogonal arrivals, both kept — exactly at the cap
    mem.addData(arrivalsOf(Seq(10L -> unit(1), 11L -> unit(2))))
    q.processAllAvailable()
    assert(spark.table("sdinc_cap").count() == 2, "cap-sized state is still fine")
    // batch 2: a third orthogonal direction would push the cell past the cap
    mem.addData(arrivalsOf(Seq(20L -> unit(3))))
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      q.processAllAvailable())
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: messages(e.getCause))
    assert(messages(ex).exists(m => m != null && m.contains("maxKeptPerCell") &&
      m.contains("re-train")), s"guard must name the cap and the remedy: ${messages(ex)}")
    q.stop()
  }

  test("DsirStream: frozen-λ scoring of arriving docs == the oracle-gated batch op") {
    // third decision family with a live leg (after SemDeDup and
    // kNN-classify): λ model frozen from the batch fit, docs arrive
    // across TWO micro-batches, map-only scoring — every row of the
    // oracle-gated batch top-50 must appear bit-identically in the
    // stream's output (the stream is the batch op without the top-k cut)
    import graft.streaming.{DocArrival, DsirStream}
    val d = "/root/testdata/sf0.001"
    val targets = Seq("src0", "src1", "src2", "src3")
    val doc = Tables.documents(spark, d)
    val batchOut = Queries.registry.toMap.apply("doc_dsir").fn(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val (lam, lam0) = QueriesPipeline.dsirFit(doc, targets).get
    assert(lam.nonEmpty && lam.size <= 1024, "λ model is bucket-capped")
    val arrivals = doc.select("doc_id", "text").as[(Long, String)]
      .collect().map { case (id, t) => DocArrival(id, t) }.sortBy(_.doc_id).toSeq
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[DocArrival]
    val q = DsirStream.scores(mem.toDS(), lam, lam0)
      .writeStream.format("memory").queryName("dsir_par").outputMode("append").start()
    val (g1, g2) = arrivals.splitAt(arrivals.length / 2)
    Seq(g1, g2).foreach { g => mem.addData(g); q.processAllAvailable() }
    q.stop()
    val streamOut = spark.table("dsir_par")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(batchOut.size == 50, "top-50 must be full at sf0.001")
    assert(batchOut.subsetOf(streamOut),
      s"batch top-50 rows missing from the stream: ${batchOut -- streamOut}")
    assert(streamOut.size >= 450, "every non-empty doc scores in the stream")
  }

  test("RetrievalStream: per-micro-batch hybrid RRF == the oracle-gated batch frame") {
    // fourth decision family with a live leg: postings + dense index
    // frozen, TWO queries (different terms AND different dense vectors)
    // arrive across two micro-batches, and each must reproduce the
    // batch hybridRrf frame — the oracle-gated doc_hybrid_rrf body —
    // row-for-row: ids, both leg ranks (incl. full-outer NULLs), and
    // the 6dp fused score
    import graft.functions.Similarity
    import graft.streaming.{RetrievalQuery, RetrievalStream}
    val d = "/root/testdata/sf0.001"
    val doc = Tables.documents(spark, d)
    val e = Tables.embeddings(spark, d)
    def qvec(id: Long): Seq[Double] = e.where(col("vec_id") === id)
      .select(Similarity.toDouble(col("embedding"))).head.getSeq[Double](0)
    val queries = Seq(
      RetrievalQuery(0L, Seq("spark", "stream", "join"), qvec(0L)),
      // the duplicated term is deliberate: the batch leg's isin filter
      // has SET semantics, so the stream must not double-count "hash"
      RetrievalQuery(7L, Seq("hash", "table", "scan", "hash"), qvec(7L)))
    def asRow(qid: Long)(r: org.apache.spark.sql.Row) =
      (qid, r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        r.getDouble(3))
    val batchOut = queries.flatMap(q =>
      QueriesPipeline.hybridRrf(doc, e, q.terms, q.qv, q.qid)
        .collect().map(asRow(q.qid))).toSet
    val idx = RetrievalStream.sparseIndex(doc)
    val dense = e.select(col("vec_id").as("nid"),
      Similarity.toDouble(col("embedding")).as("nv"))
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[RetrievalQuery]
    val q = RetrievalStream.hits(mem.toDS(), idx, dense)
      .writeStream.format("memory").queryName("rrf_par").outputMode("append").start()
    queries.foreach { g => mem.addData(Seq(g)); q.processAllAvailable() }
    q.stop()
    val streamOut = spark.table("rrf_par").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        Option(r.getAs[java.lang.Long](2)).map(_.longValue),
        Option(r.getAs[java.lang.Long](3)).map(_.longValue),
        r.getDouble(4))).toSet
    assert(batchOut.size == 40, "both queries must fill their top-20")
    assert(streamOut == batchOut,
      s"streaming != batch: only-stream=${streamOut -- batchOut}, " +
        s"only-batch=${batchOut -- streamOut}")
  }

  test("SourceCapStream: h-ordered micro-batches == doc_source_cap, and commitment is irrevocable") {
    // fifth decision family with a live leg (after SemDeDup,
    // kNN-classify, DSIR, RRF): the domain cap as a stream. Feeding
    // arrivals in global (h, doc_id) order across TWO micro-batches
    // must reproduce the oracle-gated batch op's kept set AND ranks;
    // the step-level golden pins the production semantics the batch op
    // cannot express — a late smaller-hash arrival never evicts a
    // committed doc.
    import graft.functions.{TextFunctions => TF}
    import graft.streaming.{DocCapArrival, SourceCapStream}
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val batchRows = Queries.registry.toMap.apply("doc_source_cap").fn(spark, d)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val arrivals = Tables.documents(spark, d)
      .select(col("source"), col("doc_id"),
        TF.hash60(concat(lit("cap:"), col("doc_id").cast("string"))).as("h"))
      .as[(String, Long, Long)].collect()
      .map { case (s, id, h) => DocCapArrival(s, id, h) }
      .sortBy(a => (a.h, a.doc_id)).toSeq
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[DocCapArrival]
    val q = SourceCapStream.decisions(mem.toDS(), 5)
      .writeStream.format("memory").queryName("cap_par").outputMode("append").start()
    val (g1, g2) = arrivals.splitAt(arrivals.length / 2)
    Seq(g1, g2).foreach { g => mem.addData(g); q.processAllAvailable() }
    q.stop()
    val kept = spark.table("cap_par").where(col("keep"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3))).toSet
    assert(kept == batchRows,
      s"h-ordered streaming cap must equal the batch op incl. ranks: " +
        s"only-stream=${kept -- batchRows}, only-batch=${batchRows -- kept}")
    // the drops are real rows too: every arrival gets a decision
    assert(spark.table("cap_par").count() == arrivals.size.toLong)
    // no retraction: once a source's cap is full, a smaller-hash late
    // arrival is dropped (rn=0), and within a micro-batch the (h, id)
    // sort decides commitment order deterministically
    val b1 = SourceCapStream.step(0L, (1L to 6L).map(i => DocCapArrival("s", i, 100 + i)), 5)
    assert(b1._1 == 5L && b1._2.count(_.keep) == 5 && !b1._2.last.keep)
    val b2 = SourceCapStream.step(b1._1, Seq(DocCapArrival("s", 99L, 1L)), 5)
    assert(!b2._2.head.keep && b2._2.head.rn == 0L, "commitment is irrevocable")
  }

  test("BudgetStream: score-ordered micro-batches == doc_token_budget, and spend is irrevocable") {
    // sixth decision family with a live leg: budgeted selection as a
    // stream. Feeding arrivals in the batch order (score DESC, doc_id)
    // across TWO micro-batches must reproduce the oracle-gated batch
    // op's kept set; the step-level goldens pin the prefix rule (an
    // overflowing arrival still charges the budget) and the
    // no-retraction contract (a late high-scorer cannot reclaim spend).
    import graft.functions.{TextFunctions => TF}
    import graft.streaming.{BudgetStream, DocBudgetArrival}
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val batchKept = Queries.registry.toMap.apply("doc_token_budget").fn(spark, d)
      .collect().map(_.getLong(0)).toSet
    val arrivals = Tables.documents(spark, d)
      .select(col("doc_id"),
        round(TF.qualityScore(col("text")) + lit(1e-9), 2).as("score"),
        TF.tokenCount(col("text")).cast("long").as("ntok"))
      .as[(Long, Double, Long)].collect()
      .map { case (id, sc, nt) => DocBudgetArrival(id, sc, nt) }
      .sortBy(a => (-a.score, a.doc_id)).toSeq
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[DocBudgetArrival]
    val q = BudgetStream.decisions(mem.toDS(), 13000L)
      .writeStream.format("memory").queryName("budget_par").outputMode("append").start()
    val (g1, g2) = arrivals.splitAt(arrivals.length / 2)
    Seq(g1, g2).foreach { g => mem.addData(g); q.processAllAvailable() }
    q.stop()
    val kept = spark.table("budget_par").where(col("keep"))
      .collect().map(_.getLong(0)).toSet
    assert(kept == batchKept,
      s"score-ordered streaming budget must equal the batch keep set: " +
        s"only-stream=${kept -- batchKept}, only-batch=${batchKept -- kept}")
    // every arrival gets a decision, and cum is the oracle's running sum
    assert(spark.table("budget_par").count() == arrivals.size.toLong)
    val cums = spark.table("budget_par").orderBy("cum")
      .select("cum").as[Long].collect()
    assert(cums.toSeq == arrivals.scanLeft(0L)(_ + _.ntok).tail.sorted.toSeq,
      "cum must replay the ordered prefix sums")
    // prefix rule: the overflowing doc is dropped but still charges the
    // budget, so a smaller later doc that would fit alone is dropped too
    val p1 = BudgetStream.step(0L,
      Seq(DocBudgetArrival(1, 0.9, 6), DocBudgetArrival(2, 0.8, 6),
        DocBudgetArrival(3, 0.7, 5), DocBudgetArrival(4, 0.6, 1)), 10L)
    assert(p1._2.map(_.keep) == Seq(true, false, false, false) && p1._1 == 18L,
      "overflow charges the prefix sum (oracle's cum<=budget), later fits do not revive")
    // no retraction: a late 0.99-scorer arrives after the budget is
    // spent and is dropped — batch would have ranked it first
    val p2 = BudgetStream.step(p1._1, Seq(DocBudgetArrival(9, 0.99, 1)), 10L)
    assert(!p2._2.head.keep, "spend is irrevocable")
  }

  test("BPE encode streaming: frozen-model per-arrival projection == batch word-table join") {
    // the tokenizer family's streaming leg: the batch op encodes the
    // DISTINCT-word table once and broadcast-joins back; the live form
    // encodes each arrival directly under the frozen model. Row-for-row
    // equality across TWO micro-batches proves (a) the two encode paths
    // agree (join-side trained table vs closure-side greedy min-rank)
    // and (b) batch boundaries cannot matter (the leg is stateless).
    import graft.functions.Bpe
    import graft.streaming.BpeStream
    val d = "/root/testdata/sf0.001"
    val g = Tables.documents(spark, d).select("doc_id", "text")
    val model = Bpe.trainFromCorpus(g, col("text"), nMerges = 6) // the registry config
    val batch = Queries.registry.toMap.apply("doc_bpe_encode").fn(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val rows = g.as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(rows.forall(_._2.trim.nonEmpty), "parity precondition: no empty docs at this SF")
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = BpeStream.encodeCounts(mem.toDF().toDF("doc_id", "text"), model)
      .writeStream.format("memory").queryName("bpe_par").outputMode("append").start()
    val (b1, b2) = rows.splitAt(rows.length / 2)
    Seq(b1, b2).foreach { b => mem.addData(b); q.processAllAvailable() }
    q.stop()
    val stream = spark.table("bpe_par")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batch.nonEmpty && stream == batch,
      s"streaming != batch: only-stream=${stream -- batch}, only-batch=${batch -- stream}")
    // byte-level leg: the tokenizer rides the model's mode — a frozen
    // BYTE model pretokenizes losslessly and must reproduce
    // doc_bpe_encode_bytes row-for-row across the same two batches
    val bmodel = Bpe.trainFromCorpusBytes(g, col("text"), nMerges = 6)
    val bbatch = Queries.registry.toMap.apply("doc_bpe_encode_bytes").fn(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val memB = MemoryStream[(Long, String)]
    val qb = BpeStream.encodeCounts(memB.toDF().toDF("doc_id", "text"), bmodel)
      .writeStream.format("memory").queryName("bpeb_par").outputMode("append").start()
    Seq(b1, b2).foreach { b => memB.addData(b); qb.processAllAvailable() }
    qb.stop()
    val bstream = spark.table("bpeb_par")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(bbatch.nonEmpty && bstream == bbatch,
      s"byte streaming != batch: only-stream=${bstream -- bbatch}, only-batch=${bbatch -- bstream}")
  }

  test("CurateStream: the staged two-query chain == doc_curate_e2e's kept corpus") {
    // the COMPOSED pipeline's live leg: gate + decontam + first-wins fp
    // dedup (stage 1, own query, checkpointed parquet boundary — the
    // RunMode.checkpointStage pattern) feeding the budget leg (stage 2,
    // own query). Fed in CRAWL order (doc_id ASC) across TWO
    // micro-batches, stage 1's first-wins dedup equals keep-min-doc_id;
    // the budget stage drains the staged survivors at window close
    // (its within-batch sort restores score order), so the chain's
    // kept doc_ids must equal the composed batch op's output exactly.
    import graft.streaming.{CurateArrival, CurateStream}
    val d = "/root/testdata/sf0.001"
    val batchKept = Queries.registry.toMap.apply("doc_curate_e2e").fn(spark, d)
      .collect().map(_.getLong(0)).toSet
    val arrivals = QueriesPipeline.curateArrivals(spark, d)
      .as[CurateArrival].collect().sortBy(_.doc_id).toSeq
    assert(arrivals.exists(a => !a.gate) || arrivals.exists(_.contam),
      "fixture must exercise the filters")
    implicit val sqlCtx = spark.sqlContext
    val stageDir = java.nio.file.Files.createTempDirectory("curate_stage").toString
    val mem = MemoryStream[CurateArrival]
    val q1 = CurateStream.survivors(mem.toDS())
      .writeStream.format("parquet")
      .option("path", s"$stageDir/data")
      .option("checkpointLocation", s"$stageDir/ckpt")
      .outputMode("append").start()
    val (g1, g2) = arrivals.splitAt(arrivals.length / 2)
    // stage 1 streams live per micro-batch...
    Seq(g1, g2).foreach { g => mem.addData(g); q1.processAllAvailable() }
    // ...stage 2 starts at WINDOW CLOSE: its first trigger sees every
    // staged file as ONE budget batch, whose internal (score DESC,
    // doc_id) sort is exactly the batch consumption order
    val staged = spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[CurateArrival].schema)
      .parquet(s"$stageDir/data").as[CurateArrival]
    val q2 = CurateStream.decisions(staged, budget = 8000L)
      .writeStream.format("memory").queryName("curate_par").outputMode("append").start()
    q2.processAllAvailable()
    q1.stop(); q2.stop()
    val kept = spark.table("curate_par").where(col("keep"))
      .collect().map(_.getLong(0)).toSet
    assert(batchKept.nonEmpty && kept == batchKept,
      s"staged streaming chain must equal the composed batch op: " +
        s"only-stream=${kept -- batchKept}, only-batch=${batchKept -- kept}")
    // stage-1 state semantics: first-wins dedup — the survivor of every
    // dup group is the min doc_id under the (score, id)-ordered feed
    val survivors = spark.read.parquet(s"$stageDir/data").as[CurateArrival].collect()
    val byFp = survivors.groupBy(_.fp)
    assert(byFp.values.forall(_.length == 1), "exactly one survivor per fingerprint")
    spark.catalog.clearCache()
  }

  test("CurateStream bounded leg: watermark-TTL eviction, re-emission, inside-horizon parity") {
    // round 18 (r15→r17 advisor thread): the bounded dedup is now the
    // production-default stage 1 — this golden proves the three contract
    // points the scaladoc claims: (1) duplicates inside the horizon drop
    // exactly like the exact form (TTL refreshed per sighting), (2) the
    // watermark EVICTS an idle fingerprint and a later re-crawl
    // RE-EMITS (the named weaker guarantee), (3) on data whose dup
    // pairs all sit inside the horizon the output equals keep-min-doc_id
    // — the exact form's semantics — over the real sf0.001 arrivals.
    import graft.streaming.{CurateArrival, CurateArrivalT, CurateStream}
    implicit val sqlCtx = spark.sqlContext
    def at(sec: Long, id: Long, fp: String) = CurateArrivalT(
      id, new java.sql.Timestamp(sec * 1000L), fp, 1.0, 10L, gate = true, contam = false)
    val mem = MemoryStream[CurateArrivalT]
    val q = CurateStream.survivorsWithinHorizon(mem.toDS(), "30 seconds")
      .writeStream.format("memory").queryName("curate_ttl").outputMode("append").start()
    def emitted(): Seq[Long] =
      spark.table("curate_ttl").collect().map(_.getLong(0)).sorted.toSeq
    // b1: A twice in one batch — min doc_id wins structurally; B kept
    mem.addData(Seq(at(10, 2, "A"), at(10, 1, "A"), at(12, 3, "B")))
    q.processAllAvailable()
    // b2: dup of A inside the horizon → dropped (exact-form parity);
    // sighting refreshes A's TTL to ts=20+30
    mem.addData(Seq(at(20, 4, "A")))
    q.processAllAvailable()
    assert(emitted() == Seq(1L, 3L), s"inside-horizon dups must drop: ${emitted()}")
    // b3: C at ts=100 → emits; AFTER this batch the watermark advances
    // to 100-30=70, past A's 50 s timeout
    mem.addData(Seq(at(100, 5, "C")))
    q.processAllAvailable()
    // b4: D arrives; A's expired timer fires in this batch → A evicted
    mem.addData(Seq(at(105, 6, "D")))
    q.processAllAvailable()
    // b5: A re-crawled after eviction → RE-EMITS: the weaker guarantee
    mem.addData(Seq(at(110, 7, "A")))
    q.processAllAvailable()
    q.stop()
    assert(emitted() == Seq(1L, 3L, 5L, 6L, 7L),
      s"evicted fingerprint must re-emit on re-crawl: ${emitted()}")
    // (3) inside-horizon parity on the REAL arrivals: constant ts (all
    // inside a 1-day horizon → no eviction possible) must reproduce the
    // exact form's keep-min-doc_id semantics on every fp
    val arrivals = QueriesPipeline.curateArrivals(spark, "/root/testdata/sf0.001")
      .as[CurateArrival].collect().toSeq
    val expect = arrivals.filter(a => a.gate && !a.contam)
      .groupBy(_.fp).values.map(_.map(_.doc_id).min).toSet
    val mem2 = MemoryStream[CurateArrivalT]
    val q2 = CurateStream.survivorsWithinHorizon(mem2.toDS(), "1 day")
      .writeStream.format("memory").queryName("curate_ttl2").outputMode("append").start()
    val ts0 = new java.sql.Timestamp(86400000L)
    val all = arrivals.sortBy(_.doc_id).map(a =>
      CurateArrivalT(a.doc_id, ts0, a.fp, a.score, a.ntok, a.gate, a.contam))
    val (h1, h2) = all.splitAt(all.length / 2)
    Seq(h1, h2).foreach { g => mem2.addData(g); q2.processAllAvailable() }
    q2.stop()
    val got = spark.table("curate_ttl2").collect().map(_.getLong(0)).toSet
    assert(expect.nonEmpty && got == expect,
      s"inside-horizon output must equal exact keep-min-doc_id: " +
        s"only-bounded=${got -- expect}, only-exact=${expect -- got}")
  }

  test("HeavyHittersStream: certified top-k across micro-batches == doc_heavy_tokens") {
    // seventh decision family with a live leg — and the most natural:
    // Misra-Gries IS a streaming sketch. Per-bucket summaries fold in
    // THREE micro-batches of token arrivals; with caps sized to the
    // vocabulary (decs == 0 everywhere, machine-checked), the merged
    // summaries ARE the exact wordcount and the certified top-20 equals
    // the oracle-gated batch op's rows INCLUDING counts and tie-breaks.
    import graft.functions.{TextFunctions => TF}
    import graft.streaming.{BucketSummary, HeavyHittersStream, TokArrival}
    val d = "/root/testdata/sf0.001"
    val batch = Queries.registry.toMap.apply("doc_heavy_tokens").fn(spark, d)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val arrivals = Tables.documents(spark, d)
      .select(explode(TF.tokens(col("text"))).as("tok"))
      .withColumn("b", pmod(TF.hash60(col("tok")), lit(4L)).cast("int"))
      .as[(String, Int)].collect().map { case (t, b) => TokArrival(t, b) }.toSeq
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[TokArrival]
    val q = HeavyHittersStream.summaries(mem.toDS(), cap = 64)
      .writeStream.format("memory").queryName("hh_par").outputMode("append").start()
    arrivals.grouped(math.max(1, arrivals.size / 3 + 1)).foreach { g =>
      mem.addData(g); q.processAllAvailable()
    }
    q.stop()
    // latest summary per bucket = the emission with max n (n grows
    // strictly with every arrival the bucket sees)
    val latest = spark.table("hh_par")
      .as[BucketSummary].collect().groupBy(_.b)
      .map { case (_, ss) => ss.maxBy(_.n) }.toSeq
    assert(latest.forall(_.decs == 0L),
      "parity precondition: caps sized to the vocabulary (exact mode)")
    val (top, certified) = HeavyHittersStream.certifiedTopK(latest, 20)
    assert(certified, "exact-mode top-k must certify")
    assert(top.map { case (t, lo, hi) => assert(lo == hi); (t, lo) } == batch,
      s"certified streaming top-20 must equal the batch op row-for-row")
    // state bound + bound mode: a cap-2 replay of a skewed stream keeps
    // <= cap entries ALWAYS, tracks decs, and its bounds contain the
    // true counts; the certificate either proves the set or says no
    val toks = Seq.fill(30)("hot") ++ (1 to 25).map(i => s"t$i") ++ Seq.fill(9)("warm")
    var st = HeavyHittersStream.MgState(0L, 0L, Nil, Nil)
    toks.grouped(7).foreach { g =>
      st = HeavyHittersStream.step(st, g, cap = 2)
      assert(st.toks.size <= 2, s"summary must stay cap-bounded: $st")
    }
    assert(st.decs > 0L, "the eviction branch must have run")
    val truth = toks.groupBy(identity).map { case (t, g) => t -> g.size.toLong }
    st.toks.zip(st.cnts).foreach { case (t, chat) =>
      assert(chat <= truth(t) && truth(t) <= chat + st.decs,
        s"MG invariant violated for $t: chat=$chat decs=${st.decs} true=${truth(t)}")
    }
    val (top1, cert1) = HeavyHittersStream.certifiedTopK(
      Seq(BucketSummary(0, toks.size.toLong, st.decs, st.toks, st.cnts)), 1)
    if (cert1) assert(top1.head._1 == "hot", "a certified set must be the true set")
    // duplicate-bucket misuse fails loudly
    intercept[IllegalArgumentException](HeavyHittersStream.certifiedTopK(
      Seq(BucketSummary(0, 1, 0, Seq("a"), Seq(1L)),
        BucketSummary(0, 2, 0, Seq("b"), Seq(2L))), 1))
  }
}
