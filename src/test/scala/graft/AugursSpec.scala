package graft

import graft.core.Timeline
import graft.ops.Augurs
import org.apache.spark.sql.functions._

/** Behavioral goldens for the augurs-family detectors (reference
  * `adapters/augurs.rs:636,768,893`): known signals must trip, quiet
  * signals must not. */
class AugursSpec extends SparkSuite {
  import spark.implicits._

  private def series(vs: Seq[Double]): Timeline =
    Timeline.fromRows(spark, vs.zipWithIndex.map { case (v, i) => (i * 10L, v) })

  test("outlierMad flags a spike in a flat series, nothing else") {
    val vs = Seq.fill(10)(5.0) ++ Seq(100.0) ++ Seq.fill(9)(5.0)
    val out = Augurs.outlierMad(series(vs), 20).df
      .select(col("ts"), (col("score") > col("mad") * (3.0 * 1.4826)).as("flag"))
      .as[(Long, Boolean)].collect().toMap
    assert(out(100L), "the 100.0 spike at ts=100 must flag (mad 0, score 95)")
    assert(out.count(_._2) == 1, "the flat samples must not flag")
  }

  test("changepointMeanShift peaks at a level shift, quiet on stationary data") {
    val vs = Seq.fill(20)(1.0) ++ Seq.fill(15)(10.0)
    val z = Augurs.changepointMeanShift(series(vs), 10).df
      .select("ts", "z").as[(Long, Double)].collect().toMap
    // full post-window of the new level vs full pre-window of the old:
    // ts=290 is the 30th sample (post = 10 tens, pre = 10 ones)
    assert(z(290L) > 100.0, s"shift must score huge, got ${z(290L)}")
    assert(z(240L) > 1.0, "mid-transition already elevated")
    val cps = Augurs.changepointMeanShift(series(Seq.fill(35)(4.2)), 10).df
      .where(col("z") > 3.0).count()
    assert(cps == 0, "constant series never trips")
  }

  test("dtw: identity is zero, unit shift costs the corner path (augurs.rs:1038)") {
    assert(Augurs.dtw(IndexedSeq(1.0, 2.0, 3.0), IndexedSeq(1.0, 2.0, 3.0)) == 0.0)
    // hand-computed DP: |a|=|b|=3, shifted by one level → distance 2
    assert(Augurs.dtw(IndexedSeq(1.0, 2.0, 3.0), IndexedSeq(2.0, 3.0, 4.0)) == 2.0)
    // warping absorbs a time shift that Euclidean cannot: same shape,
    // one-step lag → small distance
    val a = IndexedSeq(0.0, 0.0, 5.0, 0.0, 0.0)
    val b = IndexedSeq(0.0, 0.0, 0.0, 5.0, 0.0)
    assert(Augurs.dtw(a, b) == 0.0, "the warp path aligns the spikes exactly")
    // Sakoe-Chiba band 0 = lockstep (no warping) → full Euclidean-ish cost
    assert(Augurs.dtw(a, b, band = 0) == 10.0)
  }

  test("dtwMatrix + clusterDtw: near series cluster, far series is noise (augurs.rs:1159)") {
    import org.apache.spark.sql.functions._
    val rows = Seq(
      ("s1", Seq(1.0, 2.0, 3.0, 2.0, 1.0)), ("s2", Seq(1.0, 2.0, 3.1, 2.0, 1.0)),
      ("s3", Seq(1.1, 2.0, 3.0, 2.1, 1.0)), ("far", Seq(50.0, 60.0, 70.0, 60.0, 50.0)))
      .flatMap { case (k, vs) => vs.zipWithIndex.map { case (v, i) => (k, i * 10L, i.toLong, v) } }
    val t = graft.core.Timeline(rows.toDF("k", "ts", "seq", "value"), keys = Seq("k"))

    val m = Augurs.dtwMatrix(t, window = 5).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getDouble(2))).toMap
    assert(m.size == 6, "upper triangle of 4 series")
    assert(m(("s1", "s2")) <= 0.2 && m(("s1", "s3")) <= 0.3)
    assert(m(("far", "s1")) > 100.0)

    val c = Augurs.clusterDtw(t, window = 5, eps = 1.0, minPts = 2)
      .as[(String, String)].collect().toMap
    assert(c("s1") == "s1" && c("s2") == "s1" && c("s3") == "s1",
      "cluster id = smallest core sid")
    assert(c("far") == "-1", "no neighbors within eps → noise")
  }

  test("rolling scan vehicles == window forms exactly on real events (registry params)") {
    // the registry's aug_seasons_roll/aug_ets_roll swapped to the
    // KeyedScan vehicle in round 18 (~3× throughput) on the strength of
    // bit-identical-by-shared-core; this gate proves it on the full
    // sf0.001 events table at the exact registry parameters, every
    // emission, not just the ParitySpec fixture.
    val t = Tables.events(spark, "/root/testdata/sf0.001")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("user_id").cast("string"), col("ts"), col("seq"),
        col(df.columns(3)).cast("double"), col(df.columns(4)))
      .as[(String, Long, Long, Double, Double)].collect().toSeq.sorted
    val seasonsWin = rows(Augurs.seasonsRolling(t, 24, 6, 8))
    assert(seasonsWin.nonEmpty, "non-vacuous")
    assert(rows(Augurs.seasonsRollingScan(t, 24, 6, 8)) == seasonsWin,
      "seasons scan vehicle must match the window form on every emission")
    val etsWin = rows(Augurs.forecastEtsRolling(t, 28, 7))
    assert(etsWin.nonEmpty, "non-vacuous")
    assert(rows(Augurs.forecastEtsRollingScan(t, 28, 7)) == etsWin,
      "ETS scan vehicle must match the window form on every emission")
  }

  test("dtwMatrixOrdered: weighted buckets balance the upper-triangle pair mass") {
    // equal sid-ranges would give the lowest bucket ~2× the mean pair
    // load (rank-r sids own k-r pairs); the cumulative-mass cut must
    // land every partition within ~1.3× of the mean (sid-granularity
    // quantization aside), while preserving the global order the other
    // golden checks. 60 sids / 4 buckets → 1770 pairs, mean 442.5.
    val sids = (1 to 60).map(i => f"s$i%03d")
    val rows = sids.zipWithIndex.flatMap { case (kk, j) =>
      (0 until 4).map(i => (kk, i * 10L, i.toLong, j * 1.0 + i)) }
    val t = graft.core.Timeline(rows.toDF("k", "ts", "seq", "value"), keys = Seq("k"))
    val perPart = Augurs.dtwMatrixOrdered(t, window = 4, band = 2, buckets = 4)
      .withColumn("p", spark_partition_id())
      .groupBy("p").count().as[(Int, Long)].collect().toMap
    val n = perPart.values.sum
    assert(n == 60L * 59 / 2, s"full triangle expected: $perPart")
    val mean = n.toDouble / 4
    assert(perPart.size == 4 && perPart.values.forall(_ <= mean * 1.35),
      s"weighted buckets must balance pair mass (mean $mean): $perPart")
  }

  test("dtwLe: early-abandoning threshold test is EXACT at and around the boundary") {
    // the cluster path's eps-graph now runs the boolean abandon kernel;
    // its decision must equal dtw(a,b,band) <= eps on EVERY input — in
    // particular at eps == the exact distance (abandon fires only when a
    // whole DP row strictly exceeds eps, so the completing path of a
    // <=eps pair is never cut). Sweep: deterministic series pairs ×
    // bands × eps ∈ {0, d/2, pred(d), d, succ(d), 2d, ∞}.
    import graft.functions.VecOps
    val rng = new scala.util.Random(42)
    val series = (0 until 8).map(_ => Array.fill(16)(rng.nextDouble() * 10))
    val bands = Seq(0, 2, 4, Int.MaxValue)
    for (a <- series; b <- series; band <- bands) {
      val d = VecOps.dtw(a, b, band)
      val probes = Seq(0.0, d / 2, math.nextDown(d), d, math.nextUp(d), 2 * d,
        Double.PositiveInfinity).filter(e => !e.isNaN)
      probes.foreach { eps =>
        assert(VecOps.dtwLe(a, b, band, eps) == (d <= eps),
          s"dtwLe mismatch at band=$band eps=$eps d=$d")
      }
    }
    // empty side: dtw = +inf, so the threshold decision is `Inf <= eps` —
    // false at any finite eps, TRUE at eps = +Inf (round-19 advisor: the
    // old `false` diverged from dtw() exactly there)
    assert(!VecOps.dtwLe(Array.empty[Double], Array(1.0), 4, 1e18))
    assert(VecOps.dtwLe(Array.empty[Double], Array(1.0), 4, Double.PositiveInfinity))
    assert(!VecOps.dtwLe(Array.empty[Double], Array(1.0), 4, Double.NaN))
  }

  test("dtwBandLe expression: non-finite eps survives codegen (bits-emitted literal)") {
    // round-19 advisor: doGenCode used to interpolate eps via toString, so
    // eps = Infinity/NaN emitted the bare identifier `Infinity` — invalid
    // Java, codegen compile failure, silent interpreted fallback for the
    // whole stage. eps is now emitted by raw bits; the generated source
    // must carry the longBitsToDouble round-trip and the evaluated
    // decision must match dtw(a,b,band) <= eps for non-finite eps too.
    import graft.functions.{DtwBandLe, VecOps}
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val at = ArrayType(DoubleType, containsNull = false)
    for (eps <- Seq(Double.PositiveInfinity, Double.NaN, 1.5)) {
      val e = DtwBandLe(BoundReference(0, at, nullable = false),
        BoundReference(1, at, nullable = false), 4, eps)
      val code = e.genCode(new CodegenContext).code.toString
      assert(code.contains("longBitsToDouble"),
        s"eps=$eps must be emitted by bits, got:\n$code")
      assert(!code.contains("Infinity") && !code.contains("NaN"),
        s"no bare non-finite literal may appear in generated Java:\n$code")
    }
    // end-to-end through the column API: +Inf accepts everything
    // (including an empty side), NaN accepts nothing
    import spark.implicits._
    val df = Seq((Seq(1.0, 2.0), Seq(9.0, 9.0)), (Seq.empty[Double], Seq(1.0)))
      .toDF("a", "b")
    def decisions(eps: Double): Seq[Boolean] =
      df.select(org.apache.spark.sql.GraftColumns.dtwBandLe(
        col("a"), col("b"), 4, eps).as("d")).as[Boolean].collect().toSeq
    assert(decisions(Double.PositiveInfinity) == Seq(true, true))
    assert(decisions(Double.NaN) == Seq(false, false))
    assert(VecOps.dtwLe(Array(1.0, 2.0), Array(9.0, 9.0), 4, 14.0) ==
      (VecOps.dtw(Array(1.0, 2.0), Array(9.0, 9.0), 4) <= 14.0))
  }

  test("dtwBandLeAuto: kernel dispatched at the measured crossover, identical decisions both sides") {
    // round 20 (r19 verdict #5): the public eps-decision API selects the
    // kernel by window size (>= VecOps.DtwLeKernelMinWindow -> the
    // early-abandoning DtwBandLe; below -> plain DtwBand <= eps) so the
    // measured win regime is the library's knowledge, not the caller's.
    // Gate (a): the dispatch actually switches expression class at the
    // crossover; (b): decisions are identical to the scalar dtw <= eps
    // ground truth on BOTH sides, across an eps sweep that includes the
    // exact boundary value of some pair.
    import graft.functions.VecOps
    import org.apache.spark.sql.GraftColumns
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val lo = VecOps.DtwLeKernelMinWindow / 2   // below the crossover
    val hi = VecOps.DtwLeKernelMinWindow       // at/above the crossover
    assert(GraftColumns.isAbandonKernel(
      GraftColumns.dtwBandLeAuto(col("a"), col("b"), 4, 1.0, hi)),
      "window >= crossover dispatches to the early-abandon kernel")
    assert(!GraftColumns.isAbandonKernel(
      GraftColumns.dtwBandLeAuto(col("a"), col("b"), 4, 1.0, lo)),
      "window < crossover dispatches to the plain DP + comparison")
    val rng = new scala.util.Random(11)
    for (w <- Seq(lo, hi)) {
      val series = Array.fill(10) {
        var v = 0.0; Array.fill(w) { v += rng.nextGaussian(); v }
      }
      val pairs = for (i <- series.indices; j <- series.indices if i < j)
        yield (i, j)
      val dists = pairs.map { case (i, j) => VecOps.dtw(series(i), series(j), 4) }
      // eps sweep: a far value, a near value, and an EXACT pair distance
      // (the <= boundary both kernels must agree on)
      for (eps <- Seq(dists.min / 2, dists.max * 2, dists(dists.length / 2))) {
        val df = spark.createDataset(pairs.map { case (i, j) =>
          (i, j, series(i).toSeq, series(j).toSeq) })
          .toDF("i", "j", "a", "b")
        val got = df.select(col("i"), col("j"),
            GraftColumns.dtwBandLeAuto(col("a"), col("b"), 4, eps, w).as("d"))
          .as[(Int, Int, Boolean)].collect().map { case (i, j, d) => (i, j) -> d }.toMap
        pairs.zip(dists).foreach { case ((i, j), dist) =>
          assert(got((i, j)) == (dist <= eps),
            s"window=$w eps=$eps pair($i,$j) dist=$dist: dispatch diverged from dtw<=eps")
        }
      }
    }
  }

  test("bucketTokens: placement map matches Spark's own hash partitioning exactly") {
    // the ordered matrix's deterministic exchange stands on this map:
    // repartition(n, tok) must put bucket b's rows in PARTITION b. Cross-
    // check the driver-side Murmur3_x86_32 search against the engine's
    // hash() SQL function (HashPartitioning = pmod(murmur3(expr, 42), n))
    // for every bucket at both the default and a non-default width.
    for (n <- Seq(4, 32)) {
      val tok = Augurs.bucketTokens(n)
      assert(tok.keySet == (0 until n).toSet, s"all $n partitions covered")
      val got = spark.createDataset(tok.toSeq).toDF("p", "t")
        .select(col("p"), pmod(hash(col("t")), lit(n)).as("sparkP"))
        .as[(Int, Int)].collect()
      got.foreach { case (p, sparkP) =>
        assert(p == sparkP, s"token for bucket $p lands in Spark partition $sparkP") }
    }
  }

  test("dtwMatrixOrdered == sorted dtwMatrix bit-for-bit, globally ordered across buckets") {
    // 12 sids whose LEX order differs from numeric order ("10" < "2"),
    // spread over 4 buckets of 3 — the global-order property must hold
    // ACROSS bucket boundaries (partition p+1's first row > partition p's
    // last), which a hash-placement bug or a wrong token map breaks even
    // though every partition is locally sorted.
    val sids = Seq("10", "11", "12", "2", "20", "21", "3", "30", "4", "5", "6", "9")
    val rows = sids.zipWithIndex.flatMap { case (k, j) =>
      (0 until 4).map(i => (k, i * 10L, i.toLong, j * 2.0 + i)) }
    val t = graft.core.Timeline(rows.toDF("k", "ts", "seq", "value"), keys = Seq("k"))
    val expected = Augurs.dtwMatrix(t, window = 4, band = 2).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      .sortBy(x => (x._1, x._2)).toSeq
    val got = Augurs.dtwMatrixOrdered(t, window = 4, band = 2, buckets = 4)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got.size == sids.size * (sids.size - 1) / 2, "full upper triangle")
    assert(got == expected,
      "ordered form must equal the unordered matrix sorted by (sid_a, sid_b), " +
        "bit-identical doubles, in collect order (= partition-index order)")
  }

  test("clusterDtwDistributed: zero eps-edges — every branch of the set-op plan degrades clean") {
    // all-noise input: the eps-edge frame is EMPTY, so degree = 1
    // everywhere (no core), CC runs on an empty graph (one cheap round),
    // border pick is empty, and every sid must land in the noise branch
    // as -1 — the degenerate case none of the mixed fixtures exercise
    val rows = Seq(("a", 0.0), ("b", 500.0), ("c", 1000.0), ("d", 1500.0))
      .flatMap { case (k, base) =>
        (0 until 4).map(i => (k, i * 10L, i.toLong, base + i)) }
    val t = graft.core.Timeline(rows.toDF("k", "ts", "seq", "value"), keys = Seq("k"))
    val got = Augurs.clusterDtwDistributed(t, window = 4, eps = 1.0, minPts = 2)
      .as[(String, String)].collect().toMap
    assert(got == Map("a" -> "-1", "b" -> "-1", "c" -> "-1", "d" -> "-1"),
      s"all-noise input must label every series -1: $got")
  }

  test("clusterDtwDistributed == clusterDtw bit-for-bit, incl. the lex-root trap") {
    // the distributed twin (Graph CC over lex ranks — no driver
    // union-find, no k×k collect) must reproduce the driver loop's
    // STRING-ordered semantics exactly. Fixture traps the ordering:
    // sids {"2","9","10"} form one core triangle whose lex-min root is
    // "10" (numeric-min would be "2" — a rank-mapping bug surfaces
    // here); "7" is a border row near "2" only; "5" is noise.
    def ser(base: Double): Seq[Double] = Seq(base, base + 1, base + 2, base + 3)
    val rows = Seq(
      ("2", ser(1.0)), ("9", ser(1.05)), ("10", ser(0.95)),
      ("7", Seq(1.0, 2.0, 3.0, 4.9)), // dtw<=eps to "2" only
      ("5", ser(100.0)))
      .flatMap { case (k, vs) => vs.zipWithIndex.map { case (v, i) => (k, i * 10L, i.toLong, v) } }
    val t = graft.core.Timeline(rows.toDF("k", "ts", "seq", "value"), keys = Seq("k"))
    val args = (4, 1.0, 3, 4) // window, eps, minPts, band
    val drv = Augurs.clusterDtw(t, args._1, args._2, args._3, args._4)
      .as[(String, String)].collect().toMap
    val dst = Augurs.clusterDtwDistributed(t, args._1, args._2, args._3, args._4)
      .as[(String, String)].collect().toMap
    assert(drv == dst, s"distributed and driver forms must agree: $drv vs $dst")
    assert(drv("10") == "10" && drv("2") == "10" && drv("9") == "10",
      "cluster root is the LEX-min core sid ('10' < '2' < '9' as strings)")
    assert(drv("7") == "10", "border row joins its lex-min core neighbor's cluster")
    assert(drv("5") == "-1", "isolated row is noise")
    // second leg: the real sf0.001 events table (15 series, the
    // registry parameters — 5 core / 2 border / 8 noise, 2 clusters)
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val d2 = Augurs.clusterDtw(ev, 16, 330.0, 3, 4)
      .as[(String, String)].collect().toSeq.sorted
    val s2 = Augurs.clusterDtwDistributed(ev, 16, 330.0, 3, 4)
      .as[(String, String)].collect().toSeq.sorted
    assert(d2 == s2, "real-data equality at the registry parameters")
    assert(d2.map(_._2).distinct.count(_ != "-1") == 2, "fixture stays 2 clusters")
  }

  test("forecastSeasonalNaive: pure seasonal signal repeats; drift extrapolates") {
    // first sample == last sample → the (last-first)/(n-1) drift estimate is 0
    val cycle = Seq(1.0, 5.0, 9.0, 2.0, 7.0, 4.0, 1.0) // season 7
    val t = series(Seq.fill(4)(cycle).flatten)          // 28 samples
    val f = Augurs.forecastSeasonalNaive(t, window = 28, season = 7, horizon = 4)
      .orderBy("step").select("forecast").as[Double].collect().toSeq
    assert(f == Seq(1.0, 5.0, 9.0, 2.0), "zero drift → next season verbatim")
    val drifty = series((1 to 28).map(_.toDouble))      // pure trend, drift 1/step
    val fd = Augurs.forecastSeasonalNaive(drifty, window = 28, season = 7, horizon = 2)
      .orderBy("step").select("forecast").as[Double].collect().toSeq
    assert(fd == Seq(23.0, 25.0), "last-season value + drift*j: 22+1, 23+2")
  }

  test("forecastEts: a seasonal fixed-point signal forecasts exactly, sigma 0") {
    // y = 10 + S_p with S mean-zero over the period is an exact fixed
    // point of the additive HW recurrence under the Hyndman init:
    // l stays 10, b stays 0, s stays S, every one-step residual is 0 —
    // so the forecast replays the season verbatim with lo == hi
    val s7 = Seq(-3.0, 1.0, 5.0, -2.0, 3.0, 0.0, -4.0) // sums to 0
    val t = series(Seq.fill(4)(s7.map(_ + 10.0)).flatten) // 28 samples
    val f = Augurs.forecastEts(t, window = 28, season = 7, horizon = 4)
      .orderBy("step").select("forecast", "lo", "hi")
      .as[(Double, Double, Double)].collect().toSeq
    assert(f.map(_._1) == Seq(7.0, 11.0, 15.0, 8.0), s"season must replay, got $f")
    assert(f.forall(r => r._2 == r._1 && r._3 == r._1), "zero residuals → lo == hi")
    // constant series: degenerate fixed point (l=c, b=0, s=0)
    val fc = Augurs.forecastEts(series(Seq.fill(28)(42.0)), 28, 7, 2)
      .orderBy("step").select("forecast").as[Double].collect().toSeq
    assert(fc == Seq(42.0, 42.0))
  }

  test("forecastMstl: trend + season extrapolates exactly; dual season approximates") {
    // y = 2 + 0.5·i + S7: the centered MA reproduces a linear trend and a
    // mean-zero cycle averages out over one full period, so decomposition
    // is exact — forecast = level + drift·j + S7 at the future phase,
    // with zero remainder residuals (lo == hi)
    val s7 = Seq(-3.0, 1.0, 5.0, -2.0, 3.0, 0.0, -4.0) // sums to 0
    val y = (0 until 28).map(i => 2.0 + 0.5 * i + s7(i % 7))
    val f = Augurs.forecastMstl(series(y), window = 28, seasons = Seq(7), horizon = 3)
      .orderBy("step").select("forecast", "lo", "hi")
      .as[(Double, Double, Double)].collect().toSeq
    val expected = (1 to 3).map(j => 2.0 + 0.5 * 27 + 0.5 * j + s7((27 + j) % 7))
    f.map(_._1).zip(expected).foreach { case (got, want) =>
      assert(math.abs(got - want) < 1e-9, s"exact extrapolation: got $got want $want") }
    assert(f.forall(r => math.abs(r._2 - r._1) < 1e-9), "zero residuals → lo == hi")
    // two interleaved cycles (7 and 4 over 56 samples): classical
    // decomposition is approximate — forecasts track the signal within
    // a fraction of its amplitude and σ stays small
    val s4 = Seq(2.0, -1.0, 1.0, -2.0)
    val y2 = (0 until 56).map(i => 10.0 + s7(i % 7) + s4(i % 4))
    val f2 = Augurs.forecastMstl(series(y2), window = 56, seasons = Seq(4, 7), horizon = 4)
      .orderBy("step").select("forecast").as[Double].collect().toSeq
    val want2 = (1 to 4).map(j => 10.0 + s7((55 + j) % 7) + s4((55 + j) % 4))
    f2.zip(want2).foreach { case (got, want) =>
      assert(math.abs(got - want) < 1.5, s"dual-season tracks within amplitude: $got vs $want") }
  }

  test("MSTL LOESS pass: cubic-trend seasonal recovery beats the MA-only form (r12 verdict #5)") {
    // the fixture the centered-MA-only decomposition FAILS: a cubic
    // trend's MA bias is linear in t, so per-phase means pick up
    // phase-correlated residue; the tricube local-linear pass has a
    // smaller second-moment bias and the symmetric-interior means drop
    // the extrapolating edges. Thresholds frozen from measurement
    // (p=7, n=42, a=8e-4: MA-only 0.0240, LOESS stage 0.0185): the old
    // form sits ABOVE the gate the new one clears with margin.
    val s7v = Seq(-3.0, 1.0, 5.0, -2.0, 3.0, 0.0, -4.0)
    val y = Array.tabulate(42)(i => 8e-4 * i * i * i + s7v(i % 7))
    val maErr = graft.ops.Augurs.maOnlySeasonal(y.clone(), 7)
      .toSeq.zip(s7v).map { case (a, b) => math.abs(a - b) }.max
    val (seas, _) = graft.ops.Augurs.mstlDecompose(y.clone(), Seq(7))
    val loErr = seas.head.toSeq.zip(s7v).map { case (a, b) => math.abs(a - b) }.max
    info(f"cubic-trend seasonal max-error: MA-only $maErr%.4f vs LOESS $loErr%.4f")
    assert(loErr < 0.021, f"LOESS seasonal error $loErr%.4f must clear the 0.021 gate")
    assert(maErr > 0.022, f"fixture must DEFEAT the MA-only form (err $maErr%.4f <= 0.022 " +
      "means the fixture no longer discriminates — rebuild it)")
    assert(loErr < maErr * 0.85, f"LOESS ($loErr%.4f) must beat MA-only ($maErr%.4f) with margin")
    // same check at the registry's short period
    val s4v = Seq(2.0, -1.0, 1.0, -2.0)
    val y4 = Array.tabulate(28)(i => 2e-3 * i * i * i + s4v(i % 4))
    val ma4 = graft.ops.Augurs.maOnlySeasonal(y4.clone(), 4)
      .toSeq.zip(s4v).map { case (a, b) => math.abs(a - b) }.max
    val lo4 = graft.ops.Augurs.mstlDecompose(y4.clone(), Seq(4))._1.head
      .toSeq.zip(s4v).map { case (a, b) => math.abs(a - b) }.max
    info(f"p=4 cubic: MA-only $ma4%.4f vs LOESS $lo4%.4f")
    assert(lo4 < ma4, f"p=4: LOESS ($lo4%.4f) must not regress vs MA-only ($ma4%.4f)")
  }

  test("seasonsAutocorr finds the dominant period") {
    val cycle = Seq(1.0, 5.0, 9.0, 2.0, 7.0)
    val vs = Seq.fill(10)(cycle).flatten // period 5, 50 samples
    val best = Augurs.seasonsAutocorr(series(vs), 12)
      .select("best_lag", "best_corr").as[(Long, Double)].head()
    assert(best._1 == 5L, s"expected period 5, got ${best._1}")
    assert(best._2 > 0.99, "perfect periodicity → corr ~1")
  }
}
