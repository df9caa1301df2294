package graft.ops

import graft.core.Timeline
import graft.functions.HalfUp
import graft.functions.HalfUp.r4
import org.apache.spark.sql.{Column, DataFrame, Pin}
import org.apache.spark.sql.functions._

/** Time-series analytics ops — the Spark re-derivation of the reference's
  * augurs adapter family (`adapters/augurs.rs`). Each maintains a sliding
  * window and re-evaluates per tick, like the reference; the detectors are
  * the deterministic statistical cores (MAD outlier, mean-shift
  * changepoint, autocorrelation seasonality), expressed as window
  * functions + array expressions so both engines of the oracle gate agree
  * bit-for-bit after 4dp rounding.
  *
  * Scale: every op is keyed (state and sorts distribute per key); per-row
  * work is O(window) — bounded, shuffle-free beyond the one per-key sort.
  */
object Augurs {

  /** Median of a pre-sorted double array (even count averages the two
    * middle values — the reference convention, `stats.rs:53-55`). */
  private def sortedMedian(arr: Column): Column = {
    val n = size(arr)
    val mid = floor((n + lit(1)) / 2).cast("int")
    val lo = floor(n / 2).cast("int")
    when(n % 2 === 1, element_at(arr, mid))
      .otherwise((element_at(arr, lo) + element_at(arr, lo + 1)) / 2.0)
  }

  /** MAD outlier detector (reference `augurs_outlier`, `augurs.rs:636`,
    * MAD flavor): over the last `n` samples per key, med = median, mad =
    * median of absolute deviations from med; a sample is outlying when
    * |x - med| > k * 1.4826 * mad (1.4826 = consistency constant for
    * normal data). Appends `med`, `mad`, `score` (=|x-med|). */
  def outlierMad(t: Timeline, n: Int): Timeline = {
    val frame = t.wRows(-(n - 1).toLong, 0)
    val d = t.ticks
      .withColumn("__arr", sort_array(collect_list(col(t.valueCol)).over(frame)))
      .withColumn("med", sortedMedian(col("__arr")))
      .withColumn("__devs", sort_array(transform(col("__arr"), x => abs(x - col("med")))))
      .withColumn("mad", sortedMedian(col("__devs")))
      .withColumn("score", abs(col(t.valueCol) - col("med")))
      .drop("__arr", "__devs")
    t.copy(df = d)
  }

  /** DBSCAN outlier detector (reference `augurs_outlier`, `augurs.rs:636`,
    * DBSCAN flavor — the cluster-based alternative to [[outlierMad]]; a
    * multi-modal series has in-distribution points MAD would flag): 1-D
    * DBSCAN over each key's value distribution. A point is CORE when it
    * has ≥ minPts neighbors within eps (self included); a point is an
    * OUTLIER (noise) when no point of its eps-neighborhood — itself
    * included — is core.
    *
    * Scale shape: the metric is 1-D, so the eps-neighborhood IS a value-
    * range window — ONE exchange on the key, ONE sort on (key, value),
    * then `count over RANGE [v-eps, v+eps]` for the core test and
    * `max(is_core) over` the same frame for the noise test, both window
    * passes sharing the sort. O(n log n) per key with O(window) state;
    * the neighbor-PAIR volume (quadratic in dense regions — it was the
    * whole cost of the earlier bucketed-join formulation) never
    * materializes anywhere. */
  def outlierDbscan(t: Timeline, eps: Double, minPts: Int): DataFrame = {
    require(eps > 0 && minPts >= 1, s"outlierDbscan: eps > 0, minPts >= 1 (got $eps, $minPts)")
    val keys = t.keys.mkString(", ")
    val over = s"OVER (PARTITION BY $keys ORDER BY __v " +
      s"RANGE BETWEEN $eps PRECEDING AND $eps FOLLOWING)"
    t.ticks
      .select((t.keys.map(col) :+ col("ts") :+ col("seq") :+ col(t.valueCol).as("__v")): _*)
      .withColumn("n_nbrs", expr(s"count(1) $over"))
      .withColumn("is_core", col("n_nbrs") >= minPts)
      .withColumn("__near_core", expr(s"max(is_core) $over"))
      .select((t.keys.map(col) :+ col("ts") :+ col("seq") :+ col("n_nbrs") :+
        col("is_core") :+ (!col("__near_core")).as("is_outlier")): _*)
  }

  /** Mean-shift changepoint score (reference `augurs_changepoint`,
    * `augurs.rs:768`; the deterministic two-window test replacing BOCPD):
    * z = |mean(post) - mean(pre)| / sqrt(var(pre)/w + var(post)/w + eps)
    * where pre = rows [-2w+1, -w], post = rows [-w+1, 0]. Rows without a
    * full pre-window are dropped (no decision without history). */
  def changepointMeanShift(t: Timeline, w: Int): Timeline = {
    val pre = t.wRows(-(2 * w - 1).toLong, -w.toLong)
    val post = t.wRows(-(w - 1).toLong, 0)
    val v = col(t.valueCol)
    val d = t.ticks
      .withColumn("__npre", count(v).over(pre))
      .withColumn("__mp", avg(v).over(pre))
      .withColumn("__mq", avg(v).over(post))
      .withColumn("__vp", coalesce(var_samp(v).over(pre), lit(0.0)))
      .withColumn("__vq", coalesce(var_samp(v).over(post), lit(0.0)))
      .where(col("__npre") === w)
      .withColumn("z", abs(col("__mq") - col("__mp")) /
        sqrt(col("__vp") / w + col("__vq") / w + lit(1e-9)))
      .drop("__npre", "__mp", "__mq", "__vp", "__vq")
    t.copy(df = d)
  }

  /** Forecast (reference `augurs_forecast`, `augurs.rs:441`; the
    * deterministic seasonal-naive + drift model standing in for MSTL/ETS —
    * same output shape: point + confidence bounds, `augurs.rs:139`): over
    * the last `window` samples per key, forecast `horizon` steps as
    * last-season value + drift·j, with bounds ±1.96·σ of the one-season
    * naive residuals. One row per (key, step). */
  def forecastSeasonalNaive(t: Timeline, window: Int, season: Int, horizon: Int): DataFrame = {
    // the model refits on the trailing `window` samples only (reference's
    // sliding re-fit, augurs.rs:441), so trim to those rows BEFORE the
    // collect: the aggregate then holds O(window) per key, never the full
    // history (unbounded keys at 100 TB). With window >= season+1 the trim
    // is lossless: arr = last min(n, window) rows either way, and the
    // >= season+1 emission condition is identical on the trimmed size.
    require(window >= season + 1,
      s"forecastSeasonalNaive: window ($window) must cover season+1 (${season + 1})")
    val g = t.ticks
      .withColumn("__rn", row_number().over(trimW(t)))
      .where(col("__rn") <= window)
      .groupBy(t.keys.map(col): _*)
      .agg(expr(s"transform(array_sort(collect_list(struct(ts, seq, ${t.valueCol} AS v))), x -> x.v)")
        .as("arr"))
      .where(size(col("arr")) >= season + 1)
      .withColumn("n", size(col("arr")))
      .withColumn("drift",
        expr("(element_at(arr, n) - element_at(arr, 1)) / greatest(n - 1, 1)"))
      .withColumn("resid", expr(
        s"transform(sequence($season + 1, n), i -> element_at(arr, i) - element_at(arr, i - $season))"))
      .withColumn("mu", expr("aggregate(resid, 0D, (a, x) -> a + x) / size(resid)"))
      .withColumn("sigma", expr(
        "IF(size(resid) >= 2, sqrt(aggregate(resid, 0D, (a, x) -> a + (x - mu) * (x - mu)) / (size(resid) - 1)), 0D)"))
      .withColumn("fc", expr(
        s"transform(sequence(1, $horizon), j -> struct(CAST(j AS BIGINT) AS step, " +
          s"element_at(arr, n - $season + ((j - 1) % $season) + 1) + drift * j AS f))"))
    g.select((t.keys.map(col) :+ explode(col("fc")).as("e") :+ col("sigma")): _*)
      .select((t.keys.map(col) :+ col("e.step").as("step") :+ col("e.f").as("forecast") :+
        (col("e.f") - lit(1.96) * col("sigma")).as("lo") :+
        (col("e.f") + lit(1.96) * col("sigma")).as("hi")): _*)
  }

  /** ETS forecast — additive Holt-Winters level+trend+season smoothing
    * (reference `augurs_forecast`'s ETS configs, `augurs.rs:248-349`; this
    * is the exponential-smoothing flavor next to
    * [[forecastSeasonalNaive]]'s naive+drift). Deterministic throughout so
    * a recursive-CTE oracle replays the recurrence exactly:
    *
    *  - init (Hyndman & Athanasopoulos, fpp3 §8.3): over the trailing
    *    `window` samples, l₀ = mean(season 1), b₀ = (mean(season 2) −
    *    mean(season 1))/m, sᵢ = yᵢ − l₀; keys need ≥ 2 seasons.
    *  - recurrence for t = m+1..n (classic additive HW):
    *    lₜ = α(yₜ − sₜ₋ₘ) + (1−α)(lₜ₋₁ + bₜ₋₁);
    *    bₜ = β(lₜ − lₜ₋₁) + (1−β)bₜ₋₁;
    *    sₜ = γ(yₜ − lₜ₋₁ − bₜ₋₁) + (1−γ)sₜ₋ₘ.
    *  - forecast j = 1..horizon: lₙ + j·bₙ + s at the phase of n+j, with
    *    ±1.96σ bounds from the one-step in-sample residuals.
    *
    * Default α/β/γ are EXACT binary fractions (0.5, 0.25, 0.125) so both
    * engines' double arithmetic is bit-identical given the same op order
    * (the expressions here and in the oracle SQL are written in the same
    * order; the shared r4 rounding absorbs any residual ulps).
    *
    * Scale shape: same discipline as [[forecastSeasonalNaive]] — trim to
    * the trailing `window` BEFORE the collect_list so the per-key state is
    * O(window) regardless of history length, then one JIT'd loop per key
    * (the recurrence is inherently sequential; keys parallelize). */
  def forecastEts(t: Timeline, window: Int, season: Int, horizon: Int,
      alpha: Double = 0.5, beta: Double = 0.25, gamma: Double = 0.125): DataFrame = {
    require(window >= 2 * season,
      s"forecastEts: window ($window) must cover two seasons (${2 * season}) for HW init")
    require(alpha > 0 && alpha < 1 && beta >= 0 && beta < 1 && gamma >= 0 && gamma < 1,
      s"forecastEts: smoothing params out of range: alpha=$alpha beta=$beta gamma=$gamma")
    val m = season
    // the recurrence as ONE JIT'd loop per key (cosLoop discipline: the
    // equivalent HOF-lambda fold is interpreted per element with a
    // named_struct + two array builds per step — measured 3.3 s at sf0.1
    // vs sub-second here). Arithmetic is written in EXACTLY the oracle
    // SQL's op order so the doubles agree bit-for-bit.
    val etsU = udf { (arr: Seq[Double]) => etsCore(arr, m, horizon, alpha, beta, gamma) }
    val g = t.ticks
      .withColumn("__rn", row_number().over(trimW(t)))
      .where(col("__rn") <= window)
      .groupBy(t.keys.map(col): _*)
      .agg(expr(s"transform(array_sort(collect_list(struct(ts, seq, ${t.valueCol} AS v))), x -> x.v)")
        .as("arr"))
      .where(size(col("arr")) >= 2 * m)
      .withColumn("st", etsU(col("arr")))
    g.select((t.keys.map(col) :+ posexplode(col("st._1")) :+ col("st._2").as("sigma")): _*)
      .withColumnRenamed("pos", "step0").withColumnRenamed("col", "f")
      .select((t.keys.map(col) :+ (col("step0") + 1).cast("long").as("step") :+
        col("f").as("forecast") :+
        (col("f") - lit(1.96) * col("sigma")).as("lo") :+
        (col("f") + lit(1.96) * col("sigma")).as("hi")): _*)
  }

  /** The additive-HW recurrence over one time-ordered value array — the
    * SINGLE definition of the ETS semantics (the StateProcs discipline):
    * [[forecastEts]]'s per-key UDF, [[forecastEtsRolling]]'s per-tick
    * window form, and the live ring state
    * ([[graft.streaming.StateProcs.forecastEts1]]) all call this, so the
    * parity triangle is double-exact by construction. Requires
    * arr.length >= 2m (callers gate). Returns (forecasts 1..horizon,
    * in-sample one-step residual sigma). */
  private[graft] def etsCore(arr: Seq[Double], m: Int, horizon: Int,
      alpha: Double, beta: Double, gamma: Double): (Seq[Double], Double) = {
    val n = arr.length
    var s1 = 0.0; var s2 = 0.0
    var i = 0
    while (i < m) { s1 += arr(i); i += 1 }
    while (i < 2 * m) { s2 += arr(i); i += 1 }
    val l0 = s1 / m
    val b0 = (s2 / m - l0) / m
    val s = Array.tabulate(m)(j => arr(j) - l0)
    var l = l0; var b = b0; var se = 0.0; var nr = 0
    var t0 = m // 0-based index of the row being consumed
    while (t0 < n) {
      val y = arr(t0)
      val p = t0 % m // 0-based seasonal slot (oracle's 1-based (t%m)+1)
      val resid = y - (l + b + s(p))
      val newL = alpha * (y - s(p)) + (1 - alpha) * (l + b)
      val newB = beta * (newL - l) + (1 - beta) * b
      val newS = gamma * (y - l - b) + (1 - gamma) * s(p)
      se += resid * resid; nr += 1
      l = newL; b = newB; s(p) = newS
      t0 += 1
    }
    val sigma = if (nr >= 2) math.sqrt(se / (nr - 1)) else 0.0
    val fc = (1 to horizon).map(j => l + j * b + s((n + j - 1) % m))
    (fc, sigma)
  }

  /** Per-tick sliding re-fit ETS — the reference's window ops re-evaluate
    * on every tick (`augurs.rs:441` refits the model per sample), and this
    * is that form: at each tick, the recurrence runs over the trailing
    * `window` values and emits the 1-step-ahead forecast + residual sigma
    * (quiet until 2·season values have arrived — the HW init needs two
    * full seasons). The LAST emission per key equals [[forecastEts]]'s
    * step-1 row on the same inputs. Third leg of the §2.8 forecast parity
    * triangle (batch == streaming == this window form).
    *
    * Scale shape: one per-key window (the shared (keys, ts, seq) sort),
    * O(window) array per row, the recurrence JIT'd in [[etsCore]] — the
    * same bounded-frame discipline as the rolling-stats family. */
  def forecastEtsRolling(t: Timeline, window: Int, season: Int,
      alpha: Double = 0.5, beta: Double = 0.25, gamma: Double = 0.125): DataFrame = {
    require(window >= 2 * season,
      s"forecastEtsRolling: window ($window) must cover two seasons (${2 * season})")
    val ets1U = udf { (arr: Seq[Double]) =>
      val (fc, sigma) = etsCore(arr, season, 1, alpha, beta, gamma)
      (fc.head, sigma)
    }
    val frame = t.wRows(-(window - 1).toLong, 0)
    t.ticks
      .withColumn("__raw",
        collect_list(struct(col("ts"), col("seq"), col(t.valueCol).as("v"))).over(frame))
      .withColumn("__arr", expr("transform(array_sort(__raw), x -> x.v)"))
      .where(size(col("__arr")) >= 2 * season)
      .withColumn("__st", ets1U(col("__arr")))
      .select((t.keys.map(col) :+ col("ts") :+ col("seq") :+
        col("__st._1").as("forecast") :+ col("__st._2").as("sigma")): _*)
  }

  /** One MSTL decomposition pass over a trimmed value array — the shared
    * core of [[forecastMstl]] and the goldens (package-visible so specs
    * can gate the components directly). For each period p (ascending),
    * three stages:
    *
    *  1. PROVISIONAL seasonal: centered-moving-average trend (2×p form
    *     for even p, interior points only), per-phase means of the
    *     detrended series, centered to sum 0 — the classical estimate.
    *  2. LOESS trend (the reference's smoother family, `augurs.rs:441`):
    *     deseasonalize with the provisional seasonal, then fit a
    *     TRICUBE-WEIGHTED LOCAL-LINEAR regression at every point
    *     (half-width max(2, p/3) — see the span note in the body). A
    *     local-linear fit reproduces any linear trend EXACTLY with any
    *     weights, and the tight tricube kernel's second-moment bias on
    *     curved trends is BELOW the fixed-width MA's, where the MA leaks
    *     phase-correlated residue into the seasonal (golden-gated on a
    *     cubic-trend fixture the MA-only form fails).
    *  3. FINAL seasonal: per-phase means of (work − loessTrend) over the
    *     symmetric-window interior, centered to sum 0, subtracted into
    *     the next period's working array.
    *
    * Returns (seasonal array per period, deseasonalized remainder). The
    * input array is NOT mutated (defensive copy at entry). */
  private[graft] def mstlDecompose(input: Array[Double],
      ps: Seq[Int]): (Seq[Array[Double]], Array[Double]) = {
    val work = input.clone()
    val n = work.length
    val seasonals = ps.map { p =>
      // stage 1: centered-MA trend -> provisional per-phase means (the
      // shared MA-only estimator — one copy of the 2×p arithmetic)
      val sea0 = maOnlySeasonal(work, p)
      var i = 0
      var j = 0
      // stage 2: deseasonalize provisionally, LOESS local-linear trend.
      // Span hh = max(2, p/3): tight enough that the tricube kernel's
      // curvature bias (∝ its second moment) stays BELOW the fixed-width
      // MA's on curved trends — measured on cubic/exponential/slow-sine
      // fixtures at p=4 and p=7, where wider spans (p/2+1) came out
      // WORSE than the MA — while still ≥5 points of smoothing.
      val z = Array.tabulate(n)(i2 => work(i2) - sea0(i2 % p))
      val hh = math.max(2, p / 3)
      val tr2 = new Array[Double](n)
      i = 0
      while (i < n) {
        val lo = math.max(0, i - hh); val hi = math.min(n - 1, i + hh)
        val dmax = math.max(i - lo, hi - i)
        var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var sy = 0.0; var sxy = 0.0
        var k = lo
        while (k <= hi) {
          val u = math.abs(k - i) / (dmax + 1.0)
          val c = 1 - u * u * u
          val wt = c * c * c
          val x = (k - i).toDouble
          s0 += wt; s1 += wt * x; s2 += wt * x * x
          sy += wt * z(k); sxy += wt * x * z(k)
        k += 1
        }
        val den = s0 * s2 - s1 * s1
        tr2(i) = if (den == 0.0) z(i) else (s2 * sy - s1 * sxy) / den
        i += 1
      }
      // stage 3: final per-phase means of (work - loessTrend) over the
      // SYMMETRIC-WINDOW interior (asymmetric edge fits extrapolate
      // curvature and measured WORSE than dropping the edges, exactly as
      // the MA form drops its undefined edges)
      val sums2 = new Array[Double](p); val cnts2 = new Array[Int](p)
      i = 0
      while (i < n) {
        if (i >= hh && i <= n - 1 - hh) { sums2(i % p) += work(i) - tr2(i); cnts2(i % p) += 1 }
        i += 1
      }
      val sea = Array.tabulate(p)(j2 => if (cnts2(j2) > 0) sums2(j2) / cnts2(j2) else 0.0)
      val mean = sea.sum / p
      j = 0
      while (j < p) { sea(j) -= mean; j += 1 }
      i = 0
      while (i < n) { work(i) -= sea(i % p); i += 1 }
      sea
    }
    (seasonals, work)
  }

  /** The provisional (stage-1-only) seasonal of [[mstlDecompose]] — the
    * pre-round-13 MA-only estimate, kept package-visible so the
    * curved-trend golden can show exactly what the LOESS pass buys. */
  private[graft] def maOnlySeasonal(arr: Array[Double], p: Int): Array[Double] = {
    val n = arr.length
    val trend = new Array[Double](n)
    val defined = new Array[Boolean](n)
    val h = p / 2
    var i = h
    while (i < n - h) {
      var s = 0.0
      if (p % 2 == 1) {
        var j = i - h
        while (j <= i + h) { s += arr(j); j += 1 }
      } else {
        s = arr(i - h) / 2 + arr(i + h) / 2
        var j = i - h + 1
        while (j <= i + h - 1) { s += arr(j); j += 1 }
      }
      trend(i) = s / p; defined(i) = true; i += 1
    }
    val sums = new Array[Double](p); val cnts = new Array[Int](p)
    i = 0
    while (i < n) {
      if (defined(i)) { sums(i % p) += arr(i) - trend(i); cnts(i % p) += 1 }
      i += 1
    }
    val sea = Array.tabulate(p)(j => if (cnts(j) > 0) sums(j) / cnts(j) else 0.0)
    val mean = sea.sum / p
    var j = 0
    while (j < p) { sea(j) -= mean; j += 1 }
    sea
  }

  /** MSTL-style multi-seasonal forecast (reference `augurs_forecast`'s
    * MSTL config, `augurs.rs:248-349`): per period, the
    * [[mstlDecompose]] pipeline — classical provisional seasonal, then a
    * tricube LOESS local-linear trend pass (the reference's smoother
    * family) feeding the final seasonal re-estimate; after all periods,
    * the remainder forecasts as level + drift (last value +
    * (last−first)/(n−1) per step), and each seasonal cycle extrapolates
    * by phase. ±1.96σ bounds from the remainder's residuals against the
    * anchored drift line.
    *
    * Deterministic loops, one JIT'd pass per key over the O(window)
    * trimmed array — same scale shape as [[forecastEts]]. The oracle
    * replays the whole pipeline (including every LOESS window fit) in
    * unrolled SQL for the registry's fixed seasons; the goldens
    * additionally pin that a pure trend+season signal forecasts EXACTLY
    * (local-linear reproduces a linear trend bit-for-bit, a mean-zero
    * cycle averages out) and that a cubic-trend fixture defeats the
    * MA-only seasonal but not this one. */
  def forecastMstl(t: Timeline, window: Int, seasons: Seq[Int],
      horizon: Int): DataFrame = {
    require(seasons.nonEmpty && seasons.forall(_ >= 2),
      s"forecastMstl: seasons must all be >= 2, got $seasons")
    require(window >= 2 * seasons.max,
      s"forecastMstl: window ($window) must cover two of the longest season (${2 * seasons.max})")
    val ps = seasons.sorted
    val mstlU = udf { (arr: Seq[Double]) =>
      val n = arr.length
      val (seasonals, work) = mstlDecompose(arr.toArray, ps)
      val drift = if (n > 1) (work(n - 1) - work(0)) / (n - 1) else 0.0
      var se = 0.0; var i = 0
      while (i < n) { val r = work(i) - (work(0) + drift * i); se += r * r; i += 1 }
      val sigma = if (n >= 3) math.sqrt(se / (n - 2)) else 0.0
      val level = work(n - 1)
      val fc = (1 to horizon).map { j =>
        level + drift * j +
          ps.indices.map(k => seasonals(k)((n - 1 + j) % ps(k))).sum
      }
      (fc, sigma)
    }
    val g = t.ticks
      .withColumn("__rn", row_number().over(trimW(t)))
      .where(col("__rn") <= window)
      .groupBy(t.keys.map(col): _*)
      .agg(expr(s"transform(array_sort(collect_list(struct(ts, seq, ${t.valueCol} AS v))), x -> x.v)")
        .as("arr"))
      .where(size(col("arr")) >= 2 * ps.max)
      .withColumn("st", mstlU(col("arr")))
    g.select((t.keys.map(col) :+ posexplode(col("st._1")) :+ col("st._2").as("sigma")): _*)
      .withColumnRenamed("pos", "step0").withColumnRenamed("col", "f")
      .select((t.keys.map(col) :+ (col("step0") + 1).cast("long").as("step") :+
        col("f").as("forecast") :+
        (col("f") - lit(1.96) * col("sigma")).as("lo") :+
        (col("f") + lit(1.96) * col("sigma")).as("hi")): _*)
  }

  /** Dynamic-time-warping distance (reference `augurs_dtw`,
    * `augurs.rs:1038`): classic O(|a|·|b|) DP with |x-y| local cost and an
    * optional Sakoe-Chiba band (the scale lever: band r makes each pair
    * O(n·r)). Pure function — used per pair inside executors. */
  def dtw(a: IndexedSeq[Double], b: IndexedSeq[Double], band: Int): Double =
    graft.functions.VecOps.dtw(a.toArray, b.toArray, band)
  def dtw(a: IndexedSeq[Double], b: IndexedSeq[Double]): Double =
    graft.functions.VecOps.dtw(a.toArray, b.toArray, Int.MaxValue)

  /** Newest-first row_number window: `row_number <= window` keeps exactly
    * the trailing `window` rows per key (same (ts, seq) total order the
    * downstream array_sort re-establishes ascending). */
  private def trimW(t: Timeline) = org.apache.spark.sql.expressions.Window
    .partitionBy(t.keys.map(col): _*).orderBy(col("ts").desc, col("seq").desc)

  /** Pair-budget ceiling for the DTW matrix family. The matrix is O(k²)
    * pairs BY CONTRACT (reference `AugursDistanceMatrix`) — that is the
    * op's declared output, not an accident — but nothing else stops a
    * user pointing it at a million-key Timeline and materializing
    * 5·10¹¹ pairs. The default budget (10⁸ pairs ≈ a few GB of matrix
    * rows) is far above every registry/bench config; callers that truly
    * want more pass an explicit `maxPairs` (the same loud-guard +
    * escape-hatch discipline as [[graft.ops.Sketch]]'s cap guards). */
  val DtwDefaultMaxPairs: Long = 100000000L

  /** Fail loudly when k series would exceed the pair budget. */
  private def requirePairBudget(k: Long, maxPairs: Long, op: String): Unit = {
    val pairs = k * (k - 1) / 2
    require(pairs <= maxPairs,
      s"$op: $k series make ${pairs} DTW pairs, over the maxPairs budget " +
        s"($maxPairs). The distance matrix is O(k²) by contract - filter " +
        s"the series first, or pass maxPairs=$pairs explicitly to accept the cost.")
  }

  /** [[requirePairBudget]] off the Timeline's key column: one
    * column-pruned distinct count — key-cardinality-sized, never row- or
    * pair-sized. */
  private def requirePairBudget(t: Timeline, maxPairs: Long, op: String): Unit =
    requirePairBudget(t.df.select(col(t.keys.head)).distinct().count(), maxPairs, op)

  /** The upper-triangle pair frame with the banded DP projected per pair
    * — shared by [[dtwMatrix]] and [[clusterDtwDistributed]]. */
  private def pairDtw(s: DataFrame, band: Int): DataFrame =
    s.as("a").join(s.as("b"), col("a.sid") < col("b.sid"))
      .select(col("a.sid").as("sid_a"), col("b.sid").as("sid_b"),
        org.apache.spark.sql.GraftColumns.dtwBand(
          col("a.series"), col("b.series"), band).as("dtw"))

  /** Per-key trailing-window series (single-key Timelines — a distance
    * matrix is indexed by series id, as in the reference). Trimmed to the
    * last `window` rows BEFORE the collect — bounded aggregate state. */
  private def seriesOf(t: Timeline, window: Int): DataFrame = {
    require(t.keys.size == 1, "dtwMatrix/clusterDtw need exactly one key column (the series id)")
    // EXPLICIT key repartition in place of the window's implicit exchange
    // (round 20, guide §2.5/§2.6): the window needs
    // ClusteredDistribution(key) either way, so this adds NO exchange and
    // moves the SAME bytes — but the implicit exchange is AQE-coalesced
    // to one partition at bench scale (kilobytes against a 64 MB
    // advisory), which serialized the k-row series frame and with it the
    // O(k²) DtwBand/DtwBandLe pair stage downstream (the checkpoint pins
    // the partitioning; the BroadcastNestedLoopJoin's task count IS the
    // stream side's partition count). REPARTITION_BY_NUM is exempt from
    // coalescing, so the DP fans out to the session's cores. At cluster
    // scale the tick volume fills the partitions; the pinned count is
    // max(defaultParallelism, shuffle.partitions) (round-20 advisor) so
    // the explicit exchange never undershoots the parallelism the
    // implicit one would have started from on a real cluster.
    t.ticks
      .repartition(graft.Tables.spreadTarget(t.df.sparkSession),
        col(t.keys.head))
      .withColumn("__rn", row_number().over(trimW(t)))
      .where(col("__rn") <= window)
      .groupBy(col(t.keys.head))
      .agg(expr(s"transform(array_sort(collect_list(struct(ts, seq, ${t.valueCol} AS v))), x -> x.v)")
        .as("series"))
      .select(col(t.keys.head).cast("string").as("sid"), col("series"))
  }

  /** Pairwise DTW distance matrix (upper triangle, sid_a < sid_b). The
    * matrix is O(k²) pairs by definition (k = #series, not #rows) — the
    * reference materializes the same `AugursDistanceMatrix`. */
  def dtwMatrix(t: Timeline, window: Int, band: Int = Int.MaxValue,
      maxPairs: Long = DtwDefaultMaxPairs): DataFrame = {
    requirePairBudget(t, maxPairs, "dtwMatrix")
    // the DP runs as the native DtwBand expression (§2.13 ladder tier b):
    // codegen'd static call, one primitive unbox per side — the Seq-typed
    // ScalaUDF form paid the generic converter on every one of the O(k²)
    // pairs and measured ~2.3 s of aug_dtw's 6 s at sf0.1
    pairDtw(seriesOf(t, window), band)
  }

  /** Per-bucket shuffle token: the smallest non-negative int whose
    * HashPartitioning placement over `buckets` partitions is exactly
    * `b`. HashPartitioning computes partition = pmod(murmur3(expr,
    * seed=42), n) — the same `Murmur3_x86_32.hashInt` this searches
    * with (AugursSpec cross-checks the map against Spark's own `hash()`
    * SQL function) — so `repartition(buckets, tokenCol)` places bucket
    * b in partition b DETERMINISTICALLY: a range exchange's placement
    * without the RangePartitioner's sampling pass over the frame. */
  private[graft] def bucketTokens(buckets: Int): Map[Int, Int] = {
    val m = scala.collection.mutable.Map.empty[Int, Int]
    var t = 0
    while (m.size < buckets) {
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(t, 42)
      val p = ((h % buckets) + buckets) % buckets
      if (!m.contains(p)) m(p) = t
      t += 1
    }
    m.toMap
  }

  /** [[dtwMatrix]] with globally (sid_a, sid_b)-ordered output, via the
    * two-phase bucketed sort ([[lexRankPhase1]]'s discipline applied to
    * the matrix sort — round 18). The round-16 form sorted the PAIR
    * frame carrying both full series arrays so the DP could project
    * above the range exchange; that kept the DP single-execution but
    * amplified shuffle bytes ~2·window·8 B per pair (~256 B vs ~30 B
    * for (sid_a, sid_b, dtw) at window=16, growing linearly with
    * window) — at events×8 the sort moved ~20 GB and a device throttle
    * inflated this op 10× while aug_cluster, same DP with edge-sized
    * shuffles, held at ~1×. This form gets BOTH properties:
    *
    *  - bucket boundaries derive from the K-ROW sid frame (one
    *    `repartitionByRange` over ids — its sampling pass re-executes
    *    only the series build, never the O(k²·n·band) DP);
    *  - each pair is tagged with its sid_a bucket's shuffle token via a
    *    broadcast join, so the ONE exchange moves only (sid_a, sid_b,
    *    dtw, tok) with the DP computed BELOW it (shuffle-write
    *    materializes it — exactly once, nothing persisted);
    *  - placement is [[bucketTokens]] hash-partitioning (bucket b →
    *    partition b, no sampling over the pair frame), and
    *    `sortWithinPartitions(sid_a, sid_b)` completes the total order:
    *    buckets are ascending sid_a ranges with equal keys co-located
    *    (RangePartitioner contract), so partition-local sort ⇒ global
    *    (sid_a, sid_b) order across partition indexes.
    *
    * EXECUTION CONTRACT: this method runs Spark jobs EAGERLY at call time
    * (the budget-guard count and the two [[Pin.cut]]
    * materializations execute before it returns) — it is not a lazy plan
    * builder, same contract as [[clusterDtwDistributed]]. The series
    * frame is checkpointed ONCE and BOTH consumers (the bucket rank that
    * pins the sid→token map, and the pair DP) read that snapshot: with
    * two live executions a non-deterministic source Timeline (e.g. a
    * sampled frame) could surface sids in the pair frame that are absent
    * from the pinned token map, and the inner tag join would silently
    * drop those pairs (round-19 advisor). k-row × window blocks; see
    * [[Pin]] for when they survive executor loss. */
  def dtwMatrixOrdered(t: Timeline, window: Int, band: Int = Int.MaxValue,
      maxPairs: Long = DtwDefaultMaxPairs, buckets: Int = 32): DataFrame = {
    // LAZY cuts (round 21): the rank count below, a full count, computes
    // every partition of BOTH frames in one job. The pair budget is
    // guarded on that same k (= the series
    // actually entering the DP — the operand the k² bound is ABOUT),
    // and throws at call time, before any DP task can run. The raw key
    // count is checked first as a fast-fail: one column-pruned distinct
    // count, so an over-budget input throws before the window build and
    // its two shuffles run at all.
    requirePairBudget(t, maxPairs, "dtwMatrixOrdered")
    val s = Pin.cut(seriesOf(t, window), eager = false)
    val tok = bucketTokens(buckets)
    // WEIGHTED bucketing (round 18): equal sid-RANGES would load the
    // upper-triangle wedge unevenly — the rank-r sid owns (k-r) pairs,
    // so the lowest-sid bucket carries ~2× the mean (and ~2B× the last
    // bucket's) pair mass. Buckets instead cut the CUMULATIVE pair mass
    // W(r) = Σ_{r'≤r}(k-r') = rk − r(r+1)/2 into B equal slices:
    // bucket = floor(W(r−1)/W(k) · B) — monotone in rank (so the
    // global-order property is untouched) and balanced within one sid's
    // mass (AugursSpec gates max/mean ≤ 1.3 where the range form reads
    // ~1.75×). Rank comes from the two-phase form; the checkpoint pins
    // ONE sampled bucket assignment for the offsets and the tag join
    // (the lexRankPhase1 consistency contract), k-row blocks.
    val rankedB = Pin.cut(lexRankPhase1(s.select("sid"), buckets), eager = false)
    val k = rankedB.count() // materializes s and rankedB (full count)
    requirePairBudget(k, maxPairs, "dtwMatrixOrdered")
    val wTot = math.max(1L, k * (k - 1) / 2)
    val sidTok = rankedB.join(broadcast(lexRankOffsets(rankedB)), "b")
      .select(col("sid").as("__sid"), (col("off") + col("rk") - 1L).as("__r0"))
      // W(r-1) with r0 = rank-1: r0*k - r0*(r0+1)/2
      .select(col("__sid"), least(
        floor((col("__r0") * k - col("__r0") * (col("__r0") + 1) / 2)
          * buckets / wTot), lit(buckets - 1)).cast("int").as("__b"))
      .select(col("__sid"), element_at(typedLit(tok), col("__b")).as("__tok"))
    pairDtw(s, band)
      .join(broadcast(sidTok), col("sid_a") === col("__sid"))
      .select(col("sid_a"), col("sid_b"), col("dtw"), col("__tok"))
      .repartition(buckets, col("__tok"))
      .sortWithinPartitions("sid_a", "sid_b")
      .select("sid_a", "sid_b", "dtw")
  }

  /** DBSCAN over the DTW matrix (reference `augurs_cluster`,
    * `augurs.rs:1159`): core series have ≥ minPts neighbors (incl. self)
    * within eps; clusters are components over core-core edges; border
    * series join a neighboring core's cluster; the rest are noise (-1).
    * The k×k matrix collects to the driver — inherent to the op's shape
    * (k = #series), not a row-count bound. Cluster ids are deterministic:
    * the lexicographically smallest core sid of the cluster. */
  def clusterDtw(t: Timeline, window: Int, eps: Double, minPts: Int,
      band: Int = Int.MaxValue, maxPairs: Long = DtwDefaultMaxPairs): DataFrame = {
    val spark = t.df.sparkSession
    val pairs = dtwMatrix(t, window, band, maxPairs)
      .where(col("dtw") <= eps)
      .select("sid_a", "sid_b").collect().map(r => (r.getString(0), r.getString(1)))
    val sids = seriesOf(t, window).select("sid").collect().map(_.getString(0)).sorted
    val nbrs = sids.map(s => s -> scala.collection.mutable.Set(s)).toMap
    pairs.foreach { case (a, b) => nbrs(a) += b; nbrs(b) += a }
    val core = sids.filter(s => nbrs(s).size >= minPts).toSet
    // union-find over core-core edges
    val parent = scala.collection.mutable.Map(sids.map(s => s -> s): _*)
    def find(x: String): String = { var r = x; while (parent(r) != r) r = parent(r); r }
    pairs.foreach { case (a, b) =>
      if (core(a) && core(b)) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
    }
    val clusterOf = scala.collection.mutable.Map.empty[String, String]
    sids.foreach { s =>
      if (core(s)) clusterOf(s) = find(s)
      else nbrs(s).toSeq.sorted.find(core) match { // border → smallest core neighbor
        case Some(c) => clusterOf(s) = find(c)
        case None    => clusterOf(s) = "-1"        // noise
      }
    }
    import spark.implicits._
    sids.map(s => (s, clusterOf(s))).toSeq.toDF("sid", "cluster")
  }

  /** Lexicographic rank of the `sid` column, computed scale-safely in two
    * phases (the doc_shard discipline, applied to a lex sort key): range-
    * partition by sid into `buckets` (order-preserving across buckets by
    * the RangePartitioner contract), rank WITHIN each bucket with a
    * partitioned window, then add per-bucket offsets via a broadcast
    * bucket-count join — equal to one global row_number over `sid`
    * exactly, with no single-partition sort or window anywhere in the
    * plan. Returns the LAZY (b, sid, rk) frame; [[clusterDtwDistributed]]
    * checkpoints it before deriving offsets, because the bucket id is
    * `spark_partition_id()` over a sampled range partitioning and two
    * independent executions could sample different boundaries — the
    * checkpoint pins ONE assignment for both consumers. */
  private[graft] def lexRankPhase1(sids: DataFrame, buckets: Int): DataFrame =
    sids.repartitionByRange(buckets, col("sid"))
      .withColumn("b", spark_partition_id())
      .withColumn("rk", row_number().over(org.apache.spark.sql.expressions
        .Window.partitionBy("b").orderBy("sid")).cast("long"))

  /** Per-bucket rank offsets off a materialized [[lexRankPhase1]] frame:
    * off(b) = Σ counts of lower buckets — a buckets²-row broadcast
    * self-join, never a window. */
  private[graft] def lexRankOffsets(ranked: DataFrame): DataFrame = {
    val cnt = ranked.groupBy("b").agg(count(lit(1)).as("n"))
    cnt.as("x").join(broadcast(cnt.as("y")), col("y.b") < col("x.b"), "left_outer")
      .groupBy(col("x.b").as("b")).agg(coalesce(sum(col("y.n")), lit(0L)).as("off"))
  }

  /** Distributed twin of [[clusterDtw]] — bit-identical output (the
    * AugursSpec equality gate proves it on the same inputs), nothing
    * collected to the driver: the scale path when k (#series) is large
    * enough that the k×k edge collect and driver union-find stop being
    * "inherent" and start being the bottleneck (IoT fleets, per-entity
    * telemetry). Shape:
    *
    *  - eps-edges stay a DataFrame off [[dtwMatrix]] (one pass, no sort);
    *  - degree/core = one aggregate over the symmetrized edges;
    *  - components ride [[graft.ops.Graph.connectedComponents]] — but CC
    *    labels are long vertex ids while this family's cluster
    *    ids are LEXICOGRAPHIC min sids (the union-find's String ordering,
    *    mirrored by the oracle's VARCHAR min), so sids map through their
    *    lex RANK first (order-isomorphic longs: min-rank == min-lex-sid)
    *    and roots map back after. The rank is the two-phase salted form
    *    ([[lexRankPhase1]]/[[lexRankOffsets]]) — bucket-partitioned
    *    windows plus broadcast offsets, NO single-partition sort, so an
    *    explicit `maxPairs` escape-hatch caller with huge k inherits a
    *    fully parallel rank stage too;
    *  - border rows take the lex-min core neighbor's root (one aggregate
    *    + two joins), noise rows a literal — both set operations, exactly
    *    the driver loop's rules.
    *
    * EXECUTION CONTRACT: this method runs Spark jobs EAGERLY at call time
    * (the budget-guard count, the [[Pin.cut]] materializations, and
    * the CC rounds all execute before it returns) — it is not a lazy plan
    * builder. See [[Pin]] for when the cut blocks survive executor loss;
    * ContextCleaner frees them when the frame is GC'd, and `Bench.isolate`
    * sweeps them between queries. */
  def clusterDtwDistributed(t: Timeline, window: Int, eps: Double, minPts: Int,
      band: Int = Int.MaxValue, maxPairs: Long = DtwDefaultMaxPairs): DataFrame = {
    // materialize the shared inputs ONCE (round-16, measured at the
    // registry rewire): the k-row series frame feeds the pair DP, the
    // rank, and three set-op branches, and the eps-edge list has
    // three consumers (degree, CC, border pick) — without the
    // cuts the events window+agg re-executes ~4× and the
    // O(k²) DP ~3× per run. The cut frames are k-row and
    // OUTPUT-sized (near-pairs only, the k²-row matrix dies inside the
    // join stage). The budget guard's count is free off the
    // materialized frame.
    // LAZY cuts throughout (round 21): ser's blocks ride the budget
    // count below, half's and rankedB's the jobs of CC's edge read; each
    // frame is ONE fixed RDD from creation (range-partitioner sampling
    // runs once, at RDD build), so every consumer reads one snapshot.
    val ser = Pin.cut(seriesOf(t, window), eager = false)
    requirePairBudget(ser.count(), maxPairs, "clusterDtwDistributed")
    val sids = ser.select("sid")
    // the eps-graph needs only the DECISION dtw<=eps, so the DP is
    // kernel-DISPATCHED on the window size (round 20, r19 verdict #5):
    // at window >= VecOps.DtwLeKernelMinWindow the early-abandoning
    // boolean kernel runs (exact — see VecOps.dtwLe's monotonicity
    // argument; AugursSpec sweeps the boundary, and the crossover
    // golden proves identical decisions on both sides): far pairs (the
    // overwhelming majority at any real eps) abort within a few DP rows
    // instead of paying the full O(n·band). Below the crossover the
    // plain DP + comparison wins — the running row-min bookkeeping
    // costs more than the tiny DP it might abandon (measured 0.75× at
    // window=8; the full table is on the constant's scaladoc). The
    // registry's window=16 sits exactly at the measured win boundary
    // (1.21× kernel-level) and dispatches to the abandon kernel.
    val half = Pin.cut(ser.as("a").join(ser.as("b"), col("a.sid") < col("b.sid"))
      .where(org.apache.spark.sql.GraftColumns.dtwBandLeAuto(
        col("a.series"), col("b.series"), band, eps, window))
      .select(col("a.sid").as("sid_a"), col("b.sid").as("sid_b")), eager = false)
    val edges = half.union(half.select(col("sid_b"), col("sid_a"))).toDF("u", "v")
    val deg = sids.as("s").join(edges, col("s.sid") === col("u"), "left_outer")
      .groupBy(col("s.sid").as("sid")).agg((count(col("v")) + lit(1)).as("nn"))
    val core = deg.where(col("nn") >= minPts).select(col("sid"))
    // two-phase lex rank: checkpoint phase 1 so offsets and the final
    // join see ONE sampled bucket assignment (k-row blocks)
    val rankedB = Pin.cut(lexRankPhase1(sids, buckets = 32), eager = false)
    val ranked = rankedB.join(broadcast(lexRankOffsets(rankedB)), "b")
      .select(col("sid"), (col("off") + col("rk")).as("rid"))
    val coreR = core.join(ranked, "sid")
    val ce = edges
      .join(coreR.select(col("sid").as("u"), col("rid").as("ru")), "u")
      .join(coreR.select(col("sid").as("v"), col("rid").as("rv")), "v")
      .select("ru", "rv")
    // `edges` carries both directions by construction, so ce is already
    // symmetric — CC skips adding the reversed copy
    val comps = graft.ops.Graph.connectedComponents(ce, symmetric = true)
    val coreRoots = coreR.join(comps, coreR("rid") === comps("id"), "left_outer")
      .select(col("sid"), coalesce(col("component"), col("rid")).as("rootRid"))
    val coreOut = coreRoots
      .join(ranked.select(col("rid").as("rootRid"), col("sid").as("cluster")), "rootRid")
      .select(col("sid"), col("cluster"))
    val nonCore = sids.join(core, Seq("sid"), "left_anti")
    val borderPick = edges.join(core.select(col("sid").as("v")), "v")
      .groupBy(col("u").as("sid")).agg(min(col("v")).as("cnb"))
    val borderOut = nonCore.join(borderPick, "sid")
      .join(coreOut.select(col("sid").as("cnb"), col("cluster")), "cnb")
      .select(col("sid"), col("cluster"))
    val noiseOut = nonCore.join(borderPick, Seq("sid"), "left_anti")
      .select(col("sid"), lit("-1").as("cluster"))
    coreOut.unionByName(borderOut).unionByName(noiseOut)
  }

  /** Season (dominant period) detection by autocorrelation (reference
    * `augurs_seasons`, `augurs.rs:893`; periodogram replaced by the ACF —
    * same deterministic argmax shape): for row-lags 2..maxLag, Pearson
    * correlation of the series with itself shifted by the lag; one row per
    * key with the best lag (ties → smallest lag, on 4dp-rounded corr so
    * both oracle engines rank identically). Requires ≥ minPairs pairs. */
  def seasonsAutocorr(t: Timeline, maxLag: Int, minPairs: Int = 10): DataFrame = {
    val spark = t.df.sparkSession
    val e = t.ticks
      .withColumn("rn", row_number().over(t.w))
      .select((t.keys.map(col) :+ col("rn") :+ col(t.valueCol).as("v")): _*)
    // constant ×(maxLag-1) fan-out as a generator, not a join node: same
    // rows as crossJoin(lags) with no BroadcastNestedLoopJoin in the plan
    val a = e.withColumn("lag", explode(sequence(lit(2), lit(maxLag))))
    val joinCond = (t.keys.map(k => col(s"a.$k") === col(s"b.$k")) :+
      (col("b.rn") === col("a.rn") - col("a.lag"))).reduce(_ && _)
    val pairs = a.as("a").join(e.as("b"), joinCond)
      .select((t.keys.map(k => col(s"a.$k")) :+ col("a.lag") :+
        col("a.v").as("x") :+ col("b.v").as("y")): _*)
    val c = pairs.groupBy((t.keys.map(col) :+ col("lag")): _*)
      .agg(corr(col("x"), col("y")).as("c"), count(lit(1)).as("n"))
      .where(col("n") >= minPairs && col("c").isNotNull)
      .withColumn("cr", r4(col("c")))
    val wBest = org.apache.spark.sql.expressions.Window
      .partitionBy(t.keys.map(col): _*).orderBy(col("cr").desc, col("lag"))
    c.withColumn("__rk", row_number().over(wBest)).where(col("__rk") === 1)
      .select((t.keys.map(col) :+ col("lag").cast("long").as("best_lag") :+
        col("cr").as("best_corr")): _*)
  }

  /** Best-lag ACF over ONE time-ordered value array — the SINGLE
    * definition of the rolling-seasons semantics (the etsCore
    * discipline): [[seasonsRolling]]'s per-tick window form and the live
    * ring state ([[graft.streaming.StateProcs.seasons]]) both call this,
    * so that parity leg is double-exact by construction. For each lag in
    * 2..maxLag with ≥ minPairs pairs, Pearson corr of (arr(i), arr(i-lag))
    * rounded HALF_UP to 4dp after the +1e-9 nudge (the same tie-safe
    * rounding [[seasonsAutocorr]] and its oracle use, so the rolling
    * form's full-window emission matches the batch registry op at the
    * 4dp contract); zero-variance lags are skipped (the batch form's
    * c-IS-NOT-NULL discipline). Returns Some((bestLag, bestCorr)) — max
    * corr, ties to the smallest lag — or None when no lag qualifies. */
  private[graft] def acfBestLagCore(arr: Seq[Double], maxLag: Int,
      minPairs: Int): Option[(Int, Double)] = {
    var bestLag = -1
    var bestCr = Double.NegativeInfinity
    var lag = 2
    while (lag <= maxLag) {
      val n = arr.length - lag
      if (n >= minPairs) {
        var sx = 0.0; var sy = 0.0; var sxx = 0.0; var syy = 0.0; var sxy = 0.0
        var i = lag
        while (i < arr.length) {
          val x = arr(i); val y = arr(i - lag)
          sx += x; sy += y; sxx += x * x; syy += y * y; sxy += x * y
          i += 1
        }
        val vx = sxx - sx * sx / n
        val vy = syy - sy * sy / n
        if (vx > 0.0 && vy > 0.0) {
          val c = (sxy - sx * sy / n) / math.sqrt(vx * vy)
          if (java.lang.Double.isFinite(c)) {
            val cr = HalfUp.rd(c)
            if (cr > bestCr) { bestCr = cr; bestLag = lag }
          }
        }
      }
      lag += 1
    }
    if (bestLag < 0) None else Some((bestLag, bestCr))
  }

  /** Per-tick sliding-window season detection — [[seasonsAutocorr]]'s
    * rolling form (the forecastEtsRolling discipline, reference
    * `augurs.rs:893`'s window re-evaluation): at each tick, best-lag ACF
    * over the trailing `window` values; quiet until some lag has ≥
    * minPairs pairs. The LAST emission per key with window ≥ the series
    * length equals the batch op's row at the shared 4dp rounding
    * contract. Scale shape: one per-key window (the shared
    * (keys, ts, seq) sort), O(window · maxLag) work per row in a JIT'd
    * core — bounded, shuffle-free beyond the one per-key sort. */
  def seasonsRolling(t: Timeline, window: Int, maxLag: Int,
      minPairs: Int = 10): DataFrame = {
    require(window > maxLag, s"seasonsRolling: window ($window) must exceed maxLag ($maxLag)")
    val bestU = udf { (arr: Seq[Double]) =>
      acfBestLagCore(arr, maxLag, minPairs)
    }
    val frame = t.wRows(-(window - 1).toLong, 0)
    t.ticks
      .withColumn("__raw",
        collect_list(struct(col("ts"), col("seq"), col(t.valueCol).as("v"))).over(frame))
      .withColumn("__arr", expr("transform(array_sort(__raw), x -> x.v)"))
      .withColumn("__st", bestU(col("__arr")))
      .where(col("__st").isNotNull)
      .select((t.keys.map(col) :+ col("ts") :+ col("seq") :+
        col("__st._1").cast("long").as("best_lag") :+
        col("__st._2").as("best_corr")): _*)
  }

  /** O(window) primitive ring shared by the scan-vehicle rolling forms:
    * append values, materialize the trailing window oldest-first into a
    * reused buffer (no per-row allocation). */
  private final class Ring(window: Int) {
    private val ring = new Array[Double](window)
    private val buf = new Array[Double](window)
    private var n = 0L // total values appended
    def append(v: Double): Unit = { ring((n % window).toInt) = v; n += 1 }
    def len: Int = math.min(n, window.toLong).toInt
    /** The current trailing window, oldest-first. The returned array is
      * REUSED across calls — consume before the next append. */
    def snapshot(): Array[Double] = {
      val l = len
      val start = n - l
      var i = 0
      while (i < l) { buf(i) = ring(((start + i) % window).toInt); i += 1 }
      if (l == window) buf else java.util.Arrays.copyOf(buf, l)
    }
  }

  /** [[seasonsRolling]] on the [[graft.core.KeyedScan]] vehicle — the
    * THIRD executor of [[acfBestLagCore]]'s contract (r17 verdict item
    * 5) and the registry form since round 18. Semantics are BIT-IDENTICAL
    * to the window form by construction: the same core runs over the same
    * oldest-first trailing window at every tick (AugursSpec gates
    * exact-row equality); only the execution vehicle changes. The window
    * form paid ~40 µs/row at window=24 — not in the ACF flops (~10² JIT'd
    * flops) but in the vehicle: a collect_list sliding frame materializes
    * `window` (ts, seq, v) structs PER ROW, array_sorts them, and crosses
    * a ScalaUDF boundary; the scan folds each key's sorted iterator
    * through a primitive ring with zero per-row allocation beyond the
    * output row. Same scale shape (one keyed exchange, per-key
    * event-time order, O(window) state — `transformWithState`'s batch
    * shape); measured ≥2× on aug_seasons_roll (COVERAGE round 18). */
  def seasonsRollingScan(t: Timeline, window: Int, maxLag: Int,
      minPairs: Int = 10): DataFrame = {
    require(window > maxLag, s"seasonsRollingScan: window ($window) must exceed maxLag ($maxLag)")
    val scanned = graft.core.KeyedScan.scanDouble(
      t.ticks, t.keys, t.valueCol, Seq("__lag", "__cr")) { () =>
      val ring = new Ring(window)
      (_: Long, v: Double) => {
        ring.append(v)
        acfBestLagCore(
          scala.collection.immutable.ArraySeq.unsafeWrapArray(ring.snapshot()),
          maxLag, minPairs).map { case (lag, cr) => Seq(lag.toDouble, cr) }
      }
    }
    scanned.select((t.keys.map(col) :+ col("ts") :+ col("seq") :+
      col("__lag").cast("long").as("best_lag") :+
      col("__cr").as("best_corr")): _*)
  }

  /** [[forecastEtsRolling]] on the KeyedScan vehicle — same
    * bit-identical-by-shared-core argument as [[seasonsRollingScan]]
    * (the one [[etsCore]] runs over the same oldest-first window at
    * every tick; AugursSpec gates exact-row equality). The sliding
    * re-fit is inherently O(window)/row (the HW recurrence is a
    * sequential filter from the window start — dropping the oldest
    * value reseeds l0/b0/s, so no exact incremental form exists), which
    * makes the VEHICLE the whole cost at window≈28: the collect_list +
    * array_sort + UDF path measured ~40 µs/row against the scan's
    * primitive ring. */
  def forecastEtsRollingScan(t: Timeline, window: Int, season: Int,
      alpha: Double = 0.5, beta: Double = 0.25, gamma: Double = 0.125): DataFrame = {
    require(window >= 2 * season,
      s"forecastEtsRollingScan: window ($window) must cover two seasons (${2 * season})")
    val scanned = graft.core.KeyedScan.scanDouble(
      t.ticks, t.keys, t.valueCol, Seq("__f", "__sg")) { () =>
      val ring = new Ring(window)
      (_: Long, v: Double) => {
        ring.append(v)
        if (ring.len < 2 * season) None
        else {
          val (fc, sigma) = etsCore(
            scala.collection.immutable.ArraySeq.unsafeWrapArray(ring.snapshot()),
            season, 1, alpha, beta, gamma)
          Some(Seq(fc.head, sigma))
        }
      }
    }
    scanned.select((t.keys.map(col) :+ col("ts") :+ col("seq") :+
      col("__f").as("forecast") :+ col("__sg").as("sigma")): _*)
  }
}
