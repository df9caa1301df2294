package graft

import graft.Queries.Q
import graft.functions.HalfUp.r4
import graft.ops.Augurs
import org.apache.spark.sql.functions._

/** Augurs-family analytics queries (reference `adapters/augurs.rs`) over
  * the events stream, each with a DuckDB oracle. Outlier/changepoint flags
  * are derived from the 4dp-ROUNDED statistics on BOTH engines so boundary
  * comparisons cannot flip on summation-order noise. */
object QueriesAugurs {

  /** Registry escape hatch for the DTW pair budget (BASELINE.md's
    * maxPairs × decade-row rule): decade measurements past events×8 (72M
    * pairs) set SPARK_GRAFT_DTW_MAXPAIRS explicitly and flag the value in
    * the COVERAGE row; unset (bench/verify/driver protocol) the default
    * 10⁸ contract binds. */
  private def dtwMaxPairs: Long =
    sys.env.get("SPARK_GRAFT_DTW_MAXPAIRS").map(_.toLong)
      .getOrElse(Augurs.DtwDefaultMaxPairs)

  /** Same events prelude as Queries.E. */
  private val E = "SELECT user_id, epoch_ns(ts) AS ts, event_id AS seq, value FROM events"

  val entries: Seq[(String, Q)] = Seq(

    "aug_outlier_mad" -> Q(
      (s, d) => {
        val o = Augurs.outlierMad(Tables.events(s, d), 20)
        o.df.select(col("user_id"), col("ts"),
          r4(col("med")).as("med"), r4(col("mad")).as("mad"),
          r4(col("score")).as("score"))
          .withColumn("is_outlier", col("score") > col("mad") * (3.0 * 1.4826))
          .orderBy("user_id", "ts")
      },
      Some(s"""WITH x AS (SELECT user_id, ts, value,
             |    list_sort(list(value) OVER w) AS arr
             |  FROM ($E)
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, seq
             |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
             |m AS (SELECT *, CASE WHEN len(arr) % 2 = 1 THEN arr[(len(arr)+1)//2]
             |    ELSE (arr[len(arr)//2] + arr[len(arr)//2+1])/2.0 END AS med FROM x),
             |d AS (SELECT *, list_sort(list_transform(arr, v -> abs(v - med))) AS devs FROM m),
             |m2 AS (SELECT *, CASE WHEN len(devs) % 2 = 1 THEN devs[(len(devs)+1)//2]
             |    ELSE (devs[len(devs)//2] + devs[len(devs)//2+1])/2.0 END AS mad FROM d),
             |r AS (SELECT user_id, ts, round(1e-9 + med,4) AS med,
             |    round(1e-9 + mad,4) AS mad, round(1e-9 + abs(value - med),4) AS score
             |  FROM m2)
             |SELECT user_id, ts, med, mad, score,
             |  score > mad * (3.0 * 1.4826) AS is_outlier
             |FROM r ORDER BY 1,2""".stripMargin)),

    // DBSCAN flavor of augurs_outlier (augurs.rs:636): the Spark side finds
    // eps-neighbors through the value-bucketed equi-join; the oracle
    // brute-forces |Δv| <= eps over all same-key pairs — an
    // algorithm-independent completeness check of the bucketing (same gate
    // pattern as doc_dedup_simhash). eps/minPts chosen so the testdata
    // splits three ways (core / border / noise).
    "aug_outlier_dbscan" -> Q(
      (s, d) => Augurs.outlierDbscan(Tables.events(s, d), eps = 5.0, minPts = 5)
        .orderBy("user_id", "ts", "seq"),
      Some(s"""WITH e AS ($E),
             |p AS (SELECT a.user_id, a.ts, a.seq, count(*) AS n_nbrs
             |  FROM e a JOIN e b ON b.user_id = a.user_id
             |    AND b.value >= a.value - 5.0 AND b.value <= a.value + 5.0
             |  GROUP BY 1,2,3),
             |c AS (SELECT user_id, ts, seq, n_nbrs, n_nbrs >= 5 AS is_core FROM p),
             |nc AS (SELECT a.user_id, a.ts, a.seq,
             |    max(CASE WHEN cb.is_core THEN 1 ELSE 0 END) AS near
             |  FROM e a JOIN e b ON b.user_id = a.user_id
             |    AND b.value >= a.value - 5.0 AND b.value <= a.value + 5.0
             |  JOIN c cb ON cb.user_id = b.user_id AND cb.ts = b.ts AND cb.seq = b.seq
             |  GROUP BY 1,2,3)
             |SELECT user_id, ts, seq, n_nbrs, is_core, near = 0 AS is_outlier
             |FROM c JOIN nc USING (user_id, ts, seq) ORDER BY 1,2,3""".stripMargin)),

    "aug_changepoint" -> Q(
      (s, d) => {
        val c = Augurs.changepointMeanShift(Tables.events(s, d), 10)
        c.df.select(col("user_id"), col("ts"), r4(col("z")).as("z"))
          .withColumn("is_cp", col("z") > 3.0)
          .orderBy("user_id", "ts")
      },
      Some(s"""WITH x AS (SELECT user_id, ts,
             |    count(value) OVER pre AS npre,
             |    avg(value) OVER pre AS mp, avg(value) OVER post AS mq,
             |    coalesce(var_samp(value) OVER pre, 0) AS vp,
             |    coalesce(var_samp(value) OVER post, 0) AS vq
             |  FROM ($E)
             |  WINDOW pre AS (PARTITION BY user_id ORDER BY ts, seq
             |      ROWS BETWEEN 19 PRECEDING AND 10 PRECEDING),
             |    post AS (PARTITION BY user_id ORDER BY ts, seq
             |      ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)),
             |r AS (SELECT user_id, ts,
             |    round(1e-9 + abs(mq - mp) / sqrt(vp/10 + vq/10 + 1e-9),4) AS z
             |  FROM x WHERE npre = 10)
             |SELECT user_id, ts, z, z > 3.0 AS is_cp FROM r ORDER BY 1,2""".stripMargin)),

    "aug_forecast" -> Q(
      (s, d) => Augurs.forecastSeasonalNaive(Tables.events(s, d),
        window = 28, season = 7, horizon = 4)
        .select(col("user_id"), col("step"), r4(col("forecast")).as("forecast"),
          r4(col("lo")).as("lo"), r4(col("hi")).as("hi"))
        .orderBy("user_id", "step"),
      Some(s"""WITH a AS (SELECT user_id, list(value ORDER BY ts, seq) AS fl
             |  FROM ($E) GROUP BY 1),
             |w AS (SELECT user_id,
             |    list_slice(fl, greatest(len(fl)-27, 1), len(fl)) AS arr
             |  FROM a WHERE len(fl) >= 8),
             |p AS (SELECT user_id, arr, len(arr) AS n,
             |    (arr[len(arr)] - arr[1]) / greatest(len(arr)-1, 1) AS drift,
             |    list_transform(range(8, len(arr)+1), i -> arr[i] - arr[i-7]) AS resid
             |  FROM w),
             |s AS (SELECT *, CASE WHEN len(resid) >= 2
             |    THEN coalesce(list_aggregate(resid, 'stddev_samp'), 0) ELSE 0 END AS sigma
             |  FROM p),
             |f AS (SELECT user_id, j AS step,
             |    arr[n - 7 + ((j-1) % 7) + 1] + drift * j AS fc, sigma
             |  FROM s, (SELECT unnest(range(1, 5)) AS j))
             |SELECT user_id, CAST(step AS BIGINT) AS step,
             |  round(1e-9 + fc,4) AS forecast,
             |  round(1e-9 + fc - 1.96*sigma,4) AS lo,
             |  round(1e-9 + fc + 1.96*sigma,4) AS hi
             |FROM f ORDER BY 1,2""".stripMargin)),

    // ETS flavor: additive Holt-Winters over the same trailing-28 window,
    // season 7, horizon 4. The oracle replays the level/trend/season
    // recurrence with a recursive CTE — same init, same op order, exact
    // binary-fraction smoothing constants (0.5/0.25/0.125), so the two
    // engines' doubles agree before the shared r4 rounding.
    "aug_ets" -> Q(
      (s, d) => Augurs.forecastEts(Tables.events(s, d),
        window = 28, season = 7, horizon = 4)
        .select(col("user_id"), col("step"), r4(col("forecast")).as("forecast"),
          r4(col("lo")).as("lo"), r4(col("hi")).as("hi"))
        .orderBy("user_id", "step"),
      Some(s"""WITH RECURSIVE a AS (SELECT user_id, list(value ORDER BY ts, seq) AS fl
             |  FROM ($E) GROUP BY 1),
             |w AS (SELECT user_id,
             |    list_slice(fl, greatest(len(fl)-27, 1), len(fl)) AS arr
             |  FROM a WHERE len(fl) >= 14),
             |init AS (SELECT user_id, arr, len(arr) AS n,
             |    list_sum(list_slice(arr, 1, 7)) / 7 AS l0,
             |    (list_sum(list_slice(arr, 8, 14)) / 7 - l0) / 7 AS b0
             |  FROM w),
             |rec AS (
             |  SELECT user_id, arr, n, 7 AS t, l0 AS l, b0 AS b,
             |    list_transform(range(1, 8), i -> arr[i] - l0) AS s,
             |    CAST(0 AS DOUBLE) AS se, 0 AS nr
             |  FROM init
             |  UNION ALL
             |  SELECT user_id, arr, n, t + 1,
             |    0.5 * (arr[t+1] - s[(t % 7) + 1]) + 0.5 * (l + b),
             |    0.25 * ((0.5 * (arr[t+1] - s[(t % 7) + 1]) + 0.5 * (l + b)) - l)
             |      + 0.75 * b,
             |    list_transform(range(1, 8), i -> CASE WHEN i = (t % 7) + 1
             |      THEN 0.125 * (arr[t+1] - l - b) + 0.875 * s[i] ELSE s[i] END),
             |    se + (arr[t+1] - (l + b + s[(t % 7) + 1]))
             |       * (arr[t+1] - (l + b + s[(t % 7) + 1])),
             |    nr + 1
             |  FROM rec WHERE t < n),
             |fin AS (SELECT user_id, n, l, b, s,
             |    CASE WHEN nr >= 2 THEN sqrt(se / (nr - 1)) ELSE 0 END AS sigma
             |  FROM rec WHERE t = n),
             |f AS (SELECT user_id, j AS step,
             |    l + j * b + s[((n + j - 1) % 7) + 1] AS fc, sigma
             |  FROM fin, (SELECT unnest(range(1, 5)) AS j))
             |SELECT user_id, CAST(step AS BIGINT) AS step,
             |  round(1e-9 + fc,4) AS forecast,
             |  round(1e-9 + fc - 1.96*sigma,4) AS lo,
             |  round(1e-9 + fc + 1.96*sigma,4) AS hi
             |FROM f ORDER BY 1,2""".stripMargin)),

    // Per-tick sliding-refit ETS (round 16): the form closest to the
    // reference's semantics — its window ops re-evaluate per sample
    // (`augurs.rs:441`), where aug_ets above emits only the final fit.
    // At each tick with >= 14 trailing values, the HW recurrence runs
    // over the trailing-28 window and emits the 1-step forecast +
    // residual sigma. The oracle replays the SAME per-(user, tick)
    // recursion (the aug_ets CTE with the window sliced at every
    // position); shared etsCore keeps batch == streaming == this form
    // double-exact (ParitySpec triangle).
    // Registry runs the KeyedScan vehicle (round 18, ~3× the window
    // form's throughput — COVERAGE): bit-identical by the shared etsCore,
    // AugursSpec gates exact-row equality of the two executors.
    "aug_ets_roll" -> Q(
      (s, d) => Augurs.forecastEtsRollingScan(Tables.events(s, d),
        window = 28, season = 7)
        .select(col("user_id"), col("ts"), col("seq"),
          r4(col("forecast")).as("forecast"), r4(col("sigma")).as("sigma"))
        .orderBy("user_id", "ts", "seq"),
      Some(s"""WITH RECURSIVE a AS (SELECT user_id, list(value ORDER BY ts, seq) AS fl,
             |    list(ts ORDER BY ts, seq) AS tl, list(seq ORDER BY ts, seq) AS ql
             |  FROM ($E) GROUP BY 1),
             |tk AS (SELECT user_id, unnest(range(14, len(fl)+1)) AS p, fl, tl, ql FROM a),
             |tw AS (SELECT user_id, tl[p] AS ts, ql[p] AS sq,
             |    list_slice(fl, greatest(p-27, 1), p) AS arr FROM tk),
             |init AS (SELECT user_id, ts, sq, arr, len(arr) AS n,
             |    list_sum(list_slice(arr, 1, 7)) / 7 AS l0,
             |    (list_sum(list_slice(arr, 8, 14)) / 7 - l0) / 7 AS b0
             |  FROM tw),
             |rec AS (
             |  SELECT user_id, ts, sq, arr, n, 7 AS t, l0 AS l, b0 AS b,
             |    list_transform(range(1, 8), i -> arr[i] - l0) AS s,
             |    CAST(0 AS DOUBLE) AS se, 0 AS nr
             |  FROM init
             |  UNION ALL
             |  SELECT user_id, ts, sq, arr, n, t + 1,
             |    0.5 * (arr[t+1] - s[(t % 7) + 1]) + 0.5 * (l + b),
             |    0.25 * ((0.5 * (arr[t+1] - s[(t % 7) + 1]) + 0.5 * (l + b)) - l)
             |      + 0.75 * b,
             |    list_transform(range(1, 8), i -> CASE WHEN i = (t % 7) + 1
             |      THEN 0.125 * (arr[t+1] - l - b) + 0.875 * s[i] ELSE s[i] END),
             |    se + (arr[t+1] - (l + b + s[(t % 7) + 1]))
             |       * (arr[t+1] - (l + b + s[(t % 7) + 1])),
             |    nr + 1
             |  FROM rec WHERE t < n),
             |fin AS (SELECT user_id, ts, sq, n, l, b, s,
             |    CASE WHEN nr >= 2 THEN sqrt(se / (nr - 1)) ELSE 0 END AS sigma
             |  FROM rec WHERE t = n)
             |SELECT user_id, ts, sq AS seq,
             |  round(1e-9 + l + 1 * b + s[((n) % 7) + 1], 4) AS forecast,
             |  round(1e-9 + sigma, 4) AS sigma
             |FROM fin ORDER BY 1, 2, 3""".stripMargin)),

    // MSTL flavor: per period (4 then 7) over the trailing-28 window, the
    // three-stage mstlDecompose pipeline — provisional centered-MA
    // seasonal, tricube LOESS local-linear trend (round 13; the
    // reference's smoother family), final per-phase seasonal over ALL
    // points — then level+drift remainder forecast, horizon 4. Each
    // stage unrolls to a chained CTE in the Scala loops' exact
    // left-to-right arithmetic order: the LOESS fit materializes each
    // point's window as (w,x,z) structs and replays the WLS sums
    // verbatim, so even the per-point den==0 guard matches. Excluded
    // from the bench line only (SparkEntry.nonBenchQueries);
    // Verify/CORRECTNESS run it like any other oracle row.
    "aug_mstl" -> Q(
      (s, d) => Augurs.forecastMstl(Tables.events(s, d),
        window = 28, seasons = Seq(4, 7), horizon = 4)
        .select(col("user_id"), col("step"), r4(col("forecast")).as("forecast"),
          r4(col("lo")).as("lo"), r4(col("hi")).as("hi"))
        .orderBy("user_id", "step"),
      Some(s"""WITH a AS (SELECT user_id, list(value ORDER BY ts, seq) AS fl
             |  FROM ($E) GROUP BY 1),
             |w AS (SELECT user_id,
             |    list_slice(fl, greatest(len(fl)-27, 1), len(fl)) AS w0
             |  FROM a WHERE len(fl) >= 14),
             |t4 AS (SELECT user_id, w0, len(w0) AS n,
             |    list_transform(range(1, len(w0)+1), i ->
             |      CASE WHEN i > 2 AND i <= len(w0) - 2 THEN
             |        (w0[i-2]/2 + w0[i+2]/2 + w0[i-1] + w0[i] + w0[i+1]) / 4
             |      ELSE NULL END) AS tr4
             |  FROM w),
             |s4 AS (SELECT *, list_transform(range(1, 5), j ->
             |      [w0[i] - tr4[i] FOR i IN range(1, n+1)
             |        IF tr4[i] IS NOT NULL AND (i-1) % 4 = j-1]) AS dl4
             |  FROM t4),
             |s4b AS (SELECT *, list_transform(dl4, l ->
             |      CASE WHEN len(l) = 0 THEN 0 ELSE list_sum(l) / len(l) END) AS raw4
             |  FROM s4),
             |s4c AS (SELECT user_id, w0, n,
             |    list_transform(raw4, v -> v - list_sum(raw4) / 4) AS sea4a
             |  FROM s4b),
             |z4s AS (SELECT user_id, w0, n,
             |    list_transform(range(1, n+1), i -> w0[i] - sea4a[((i-1) % 4) + 1]) AS z4
             |  FROM s4c),
             |q4a AS (SELECT user_id, w0, n, z4,
             |    list_transform(range(1, n+1), i ->
             |      [{'u': abs(k-i) / (greatest(i - greatest(1, i-2), least(n, i+2) - i) + 1.0),
             |        'x': CAST(k-i AS DOUBLE), 'z': z4[k]}
             |       FOR k IN range(greatest(1, i-2), least(n, i+2) + 1)]) AS p4
             |  FROM z4s),
             |q4b AS (SELECT user_id, w0, n, z4,
             |    list_transform(p4, pl -> list_transform(pl, s ->
             |      {'w': (1 - s.u*s.u*s.u) * (1 - s.u*s.u*s.u) * (1 - s.u*s.u*s.u),
             |       'x': s.x, 'z': s.z})) AS g4
             |  FROM q4a),
             |t4b AS (SELECT user_id, w0, n,
             |    list_transform(range(1, n+1), i -> CASE
             |      WHEN list_sum(list_transform(g4[i], s -> s.w)) * list_sum(list_transform(g4[i], s -> s.w*s.x*s.x))
             |         - list_sum(list_transform(g4[i], s -> s.w*s.x)) * list_sum(list_transform(g4[i], s -> s.w*s.x)) = 0
             |      THEN z4[i]
             |      ELSE (list_sum(list_transform(g4[i], s -> s.w*s.x*s.x)) * list_sum(list_transform(g4[i], s -> s.w*s.z))
             |          - list_sum(list_transform(g4[i], s -> s.w*s.x)) * list_sum(list_transform(g4[i], s -> s.w*s.x*s.z)))
             |         / (list_sum(list_transform(g4[i], s -> s.w)) * list_sum(list_transform(g4[i], s -> s.w*s.x*s.x))
             |          - list_sum(list_transform(g4[i], s -> s.w*s.x)) * list_sum(list_transform(g4[i], s -> s.w*s.x)))
             |      END) AS lt4
             |  FROM q4b),
             |f4 AS (SELECT user_id, w0, n,
             |    list_transform(range(1, 5), j -> CASE
             |      WHEN len([i FOR i IN range(3, n-1) IF (i-1) % 4 = j-1]) = 0 THEN 0
             |      ELSE list_sum([w0[i] - lt4[i] FOR i IN range(3, n-1) IF (i-1) % 4 = j-1])
             |        / len([i FOR i IN range(3, n-1) IF (i-1) % 4 = j-1]) END) AS raw4f
             |  FROM t4b),
             |f4c AS (SELECT user_id, w0, n,
             |    list_transform(raw4f, v -> v - list_sum(raw4f) / 4) AS sea4
             |  FROM f4),
             |w1s AS (SELECT user_id, n, sea4,
             |    list_transform(range(1, n+1), i -> w0[i] - sea4[((i-1) % 4) + 1]) AS w1
             |  FROM f4c),
             |t7 AS (SELECT *, list_transform(range(1, n+1), i ->
             |      CASE WHEN i > 3 AND i <= n - 3 THEN
             |        (w1[i-3] + w1[i-2] + w1[i-1] + w1[i] + w1[i+1] + w1[i+2] + w1[i+3]) / 7
             |      ELSE NULL END) AS tr7
             |  FROM w1s),
             |s7 AS (SELECT *, list_transform(range(1, 8), j ->
             |      [w1[i] - tr7[i] FOR i IN range(1, n+1)
             |        IF tr7[i] IS NOT NULL AND (i-1) % 7 = j-1]) AS dl7
             |  FROM t7),
             |s7b AS (SELECT *, list_transform(dl7, l ->
             |      CASE WHEN len(l) = 0 THEN 0 ELSE list_sum(l) / len(l) END) AS raw7
             |  FROM s7),
             |s7c AS (SELECT user_id, n, sea4, w1,
             |    list_transform(raw7, v -> v - list_sum(raw7) / 7) AS sea7a
             |  FROM s7b),
             |z7s AS (SELECT user_id, n, sea4, w1,
             |    list_transform(range(1, n+1), i -> w1[i] - sea7a[((i-1) % 7) + 1]) AS z7
             |  FROM s7c),
             |q7a AS (SELECT user_id, n, sea4, w1, z7,
             |    list_transform(range(1, n+1), i ->
             |      [{'u': abs(k-i) / (greatest(i - greatest(1, i-2), least(n, i+2) - i) + 1.0),
             |        'x': CAST(k-i AS DOUBLE), 'z': z7[k]}
             |       FOR k IN range(greatest(1, i-2), least(n, i+2) + 1)]) AS p7
             |  FROM z7s),
             |q7b AS (SELECT user_id, n, sea4, w1, z7,
             |    list_transform(p7, pl -> list_transform(pl, s ->
             |      {'w': (1 - s.u*s.u*s.u) * (1 - s.u*s.u*s.u) * (1 - s.u*s.u*s.u),
             |       'x': s.x, 'z': s.z})) AS g7
             |  FROM q7a),
             |t7b AS (SELECT user_id, n, sea4, w1,
             |    list_transform(range(1, n+1), i -> CASE
             |      WHEN list_sum(list_transform(g7[i], s -> s.w)) * list_sum(list_transform(g7[i], s -> s.w*s.x*s.x))
             |         - list_sum(list_transform(g7[i], s -> s.w*s.x)) * list_sum(list_transform(g7[i], s -> s.w*s.x)) = 0
             |      THEN z7[i]
             |      ELSE (list_sum(list_transform(g7[i], s -> s.w*s.x*s.x)) * list_sum(list_transform(g7[i], s -> s.w*s.z))
             |          - list_sum(list_transform(g7[i], s -> s.w*s.x)) * list_sum(list_transform(g7[i], s -> s.w*s.x*s.z)))
             |         / (list_sum(list_transform(g7[i], s -> s.w)) * list_sum(list_transform(g7[i], s -> s.w*s.x*s.x))
             |          - list_sum(list_transform(g7[i], s -> s.w*s.x)) * list_sum(list_transform(g7[i], s -> s.w*s.x)))
             |      END) AS lt7
             |  FROM q7b),
             |f7 AS (SELECT user_id, n, sea4, w1,
             |    list_transform(range(1, 8), j -> CASE
             |      WHEN len([i FOR i IN range(3, n-1) IF (i-1) % 7 = j-1]) = 0 THEN 0
             |      ELSE list_sum([w1[i] - lt7[i] FOR i IN range(3, n-1) IF (i-1) % 7 = j-1])
             |        / len([i FOR i IN range(3, n-1) IF (i-1) % 7 = j-1]) END) AS raw7f
             |  FROM t7b),
             |f7c AS (SELECT user_id, n, sea4, w1,
             |    list_transform(raw7f, v -> v - list_sum(raw7f) / 7) AS sea7
             |  FROM f7),
             |w2s AS (SELECT user_id, n, sea4, sea7,
             |    list_transform(range(1, n+1), i -> w1[i] - sea7[((i-1) % 7) + 1]) AS w2
             |  FROM f7c),
             |fin AS (SELECT user_id, n, sea4, sea7, w2[n] AS level,
             |    (w2[n] - w2[1]) / (n - 1) AS drift, w2
             |  FROM w2s),
             |sg AS (SELECT *, CASE WHEN n >= 3 THEN sqrt(list_sum(
             |      list_transform(range(1, n+1), i ->
             |        (w2[i] - (w2[1] + drift * (i-1))) * (w2[i] - (w2[1] + drift * (i-1)))))
             |      / (n - 2)) ELSE 0 END AS sigma
             |  FROM fin),
             |f AS (SELECT user_id, j AS step,
             |    level + drift * j + (sea4[((n-1+j) % 4) + 1] + sea7[((n-1+j) % 7) + 1]) AS fc,
             |    sigma
             |  FROM sg, (SELECT unnest(range(1, 5)) AS j))
             |SELECT user_id, CAST(step AS BIGINT) AS step,
             |  round(1e-9 + fc,4) AS forecast,
             |  round(1e-9 + fc - 1.96*sigma,4) AS lo,
             |  round(1e-9 + fc + 1.96*sigma,4) AS hi
             |FROM f ORDER BY 1,2""".stripMargin)),

    // DTW distance matrix (reference `augurs.rs:1038`): trailing-16
    // window per user series, Sakoe-Chiba band 4. The oracle replays the
    // banded DP cell-by-cell in a recursive CTE — one recursion step per
    // (i,j) cell, all pairs advancing in lockstep — with the exact
    // cost + min(prev_j, cur_{j-1}, prev_{j-1}) op order of Augurs.dtw,
    // so the two engines' doubles agree before the shared r4 rounding
    // (validated exactly at sf0.001 and sf0.01). Both sides pre-filter
    // to series with >= 16 rows (band 4 assumes n == m == 16).
    "aug_dtw" -> Q(
      (s, d) => {
        val t = Tables.events(s, d)
        val ok = t.df.groupBy("user_id").agg(count(lit(1)).as("__n"))
          .where(col("__n") >= 16).select("user_id")
        val t16 = t.copy(df = t.df.join(broadcast(ok), Seq("user_id")))
        // sort-below-DP form (see dtwMatrixOrdered's scaladoc): the DP
        // evaluates exactly once, above the sort, with nothing persisted
        Augurs.dtwMatrixOrdered(t16, window = 16, band = 4,
          maxPairs = dtwMaxPairs)
          .select(col("sid_a"), col("sid_b"), r4(col("dtw")).as("dtw"))
      },
      Some(s"""WITH RECURSIVE a AS (SELECT user_id, list(value ORDER BY ts, seq) AS fl
             |  FROM ($E) GROUP BY 1),
             |s AS (SELECT CAST(user_id AS VARCHAR) AS sid,
             |    list_slice(fl, len(fl)-15, len(fl)) AS ser
             |  FROM a WHERE len(fl) >= 16),
             |pr AS (SELECT x.sid AS sid_a, y.sid AS sid_b, x.ser AS va, y.ser AS vb
             |  FROM s x JOIN s y ON x.sid < y.sid),
             |dp AS (
             |  SELECT sid_a, sid_b, va, vb, 1 AS i, 1 AS j,
             |    list_prepend(CAST(0 AS DOUBLE),
             |      list_transform(range(1, 17), x -> CAST('infinity' AS DOUBLE))) AS p,
             |    CAST([] AS DOUBLE[]) AS cur
             |  FROM pr
             |  UNION ALL
             |  SELECT sid_a, sid_b, va, vb,
             |    CASE WHEN j < hi THEN i ELSE i+1 END,
             |    CASE WHEN j < hi THEN j+1 ELSE greatest(1, (i+1)-4) END,
             |    CASE WHEN j < hi THEN p ELSE
             |      list_transform(range(1, 18), x ->
             |        CASE WHEN x > 1 AND x-1 >= greatest(1, i-4) AND x-1 <= hi
             |          THEN nc[x-1-greatest(1, i-4)+1]
             |          ELSE CAST('infinity' AS DOUBLE) END) END,
             |    CASE WHEN j < hi THEN nc ELSE CAST([] AS DOUBLE[]) END
             |  FROM (
             |    SELECT *, least(16, i+4) AS hi,
             |      list_append(cur, abs(va[i]-vb[j]) + least(least(p[j+1],
             |        CASE WHEN j = greatest(1, i-4) THEN CAST('infinity' AS DOUBLE)
             |          ELSE cur[len(cur)] END), p[j])) AS nc
             |    FROM dp WHERE i <= 16) q)
             |SELECT sid_a, sid_b, round(1e-9 + p[17], 4) AS dtw
             |FROM dp WHERE i = 17 ORDER BY 1, 2""".stripMargin)),

    // DBSCAN over the DTW matrix (reference `augurs.rs:1159`): eps=330,
    // minPts=3 (incl. self) split the testdata three ways — core /
    // border / noise — at both sf0.001 (5/2/8, 2 clusters) and sf0.01
    // (100/12/38). The oracle rides the same DTW recursion, then:
    // neighbor degree -> core set; component labels = min sid over
    // core-core reachability (a dedup-UNION walk — exactly the
    // min-root the Scala union-find converges to); border -> smallest
    // core neighbor's root; noise -> '-1'.
    "aug_cluster" -> Q(
      (s, d) => {
        val t = Tables.events(s, d)
        val ok = t.df.groupBy("user_id").agg(count(lit(1)).as("__n"))
          .where(col("__n") >= 16).select("user_id")
        val t16 = t.copy(df = t.df.join(broadcast(ok), Seq("user_id")))
        // the DISTRIBUTED form (round-16 rewire, the r15 verdict's top
        // item): eps-edges stay a frame, components ride pointer-jumping
        // CC, border/noise are set operations — nothing k²-sized ever
        // collects to the driver. Bit-identical to the driver union-find
        // twin (AugursSpec equality gate); PlanAuditSpec pins the shape.
        Augurs.clusterDtwDistributed(t16, window = 16, eps = 330.0, minPts = 3,
          band = 4, maxPairs = dtwMaxPairs)
          .orderBy("sid")
      },
      Some(s"""WITH RECURSIVE a AS (SELECT user_id, list(value ORDER BY ts, seq) AS fl
             |  FROM ($E) GROUP BY 1),
             |s AS (SELECT CAST(user_id AS VARCHAR) AS sid,
             |    list_slice(fl, len(fl)-15, len(fl)) AS ser
             |  FROM a WHERE len(fl) >= 16),
             |pr AS (SELECT x.sid AS sid_a, y.sid AS sid_b, x.ser AS va, y.ser AS vb
             |  FROM s x JOIN s y ON x.sid < y.sid),
             |dp AS (
             |  SELECT sid_a, sid_b, va, vb, 1 AS i, 1 AS j,
             |    list_prepend(CAST(0 AS DOUBLE),
             |      list_transform(range(1, 17), x -> CAST('infinity' AS DOUBLE))) AS p,
             |    CAST([] AS DOUBLE[]) AS cur
             |  FROM pr
             |  UNION ALL
             |  SELECT sid_a, sid_b, va, vb,
             |    CASE WHEN j < hi THEN i ELSE i+1 END,
             |    CASE WHEN j < hi THEN j+1 ELSE greatest(1, (i+1)-4) END,
             |    CASE WHEN j < hi THEN p ELSE
             |      list_transform(range(1, 18), x ->
             |        CASE WHEN x > 1 AND x-1 >= greatest(1, i-4) AND x-1 <= hi
             |          THEN nc[x-1-greatest(1, i-4)+1]
             |          ELSE CAST('infinity' AS DOUBLE) END) END,
             |    CASE WHEN j < hi THEN nc ELSE CAST([] AS DOUBLE[]) END
             |  FROM (
             |    SELECT *, least(16, i+4) AS hi,
             |      list_append(cur, abs(va[i]-vb[j]) + least(least(p[j+1],
             |        CASE WHEN j = greatest(1, i-4) THEN CAST('infinity' AS DOUBLE)
             |          ELSE cur[len(cur)] END), p[j])) AS nc
             |    FROM dp WHERE i <= 16) q),
             |mat AS (SELECT sid_a, sid_b, p[17] AS dtw FROM dp WHERE i = 17),
             |eg AS (SELECT sid_a AS u, sid_b AS v FROM mat WHERE dtw <= 330
             |  UNION ALL SELECT sid_b, sid_a FROM mat WHERE dtw <= 330),
             |deg AS (SELECT s.sid, 1 + count(eg.v) AS n_nbrs
             |  FROM s LEFT JOIN eg ON eg.u = s.sid GROUP BY 1),
             |core AS (SELECT sid FROM deg WHERE n_nbrs >= 3),
             |ce AS (SELECT u, v FROM eg
             |  WHERE u IN (SELECT sid FROM core) AND v IN (SELECT sid FROM core)),
             |cc AS (SELECT sid AS st, sid AS t FROM core
             |  UNION SELECT cc.st, ce.v FROM cc JOIN ce ON ce.u = cc.t),
             |lbl AS (SELECT st AS sid, min(t) AS root FROM cc GROUP BY 1)
             |SELECT s.sid,
             |  CASE WHEN lbl.root IS NOT NULL THEN lbl.root
             |    ELSE coalesce(
             |      (SELECT l2.root FROM eg JOIN lbl l2 ON l2.sid = eg.v
             |        WHERE eg.u = s.sid AND eg.v IN (SELECT sid FROM core)
             |        ORDER BY eg.v LIMIT 1), '-1') END AS cluster
             |FROM s LEFT JOIN lbl ON lbl.sid = s.sid ORDER BY 1""".stripMargin)),

    // Per-tick rolling season detection (reference `augurs.rs:893`'s
    // window re-evaluation; r16 verdict item 5's registry tie): best-lag
    // ACF over the trailing 24 values, lags 2..6, >= 8 pairs. The oracle
    // materializes each (tick, lag) window's pair set explicitly — pair
    // (i, i-lag) serves tick t iff i <= t AND i-lag >= t-23 — then rides
    // the same corr + shared 4dp rounding + (cr DESC, lag) tie-break as
    // aug_seasons. Spark side runs the acfBestLagCore JIT'd loop per
    // tick; the streaming twin (StateProcs.seasons) replays it
    // double-exactly (ParitySpec triangle).
    "aug_seasons_roll" -> Q(
      (s, d) => {
        val t = Tables.events(s, d)
        // KeyedScan vehicle (round 18): bit-identical third executor of
        // acfBestLagCore (AugursSpec exact-row gate vs the window form)
        Augurs.seasonsRollingScan(t, window = 24, maxLag = 6, minPairs = 8)
          .orderBy("user_id", "ts", "seq")
      },
      Some(s"""WITH e AS (SELECT user_id, ts, seq, value,
             |    row_number() OVER (PARTITION BY user_id ORDER BY ts, seq) AS rn
             |  FROM ($E)),
             |p AS (SELECT a.user_id, a.rn AS i, l.lag, a.value AS x, b.value AS y
             |  FROM e a, (SELECT unnest(range(2, 7)) AS lag) l
             |  JOIN e b ON b.user_id = a.user_id AND b.rn = a.rn - l.lag),
             |w AS (SELECT t.user_id, t.rn AS tr, t.ts, t.seq, p.lag, p.x, p.y
             |  FROM e t JOIN p ON p.user_id = t.user_id
             |    AND p.i <= t.rn AND p.i - p.lag >= t.rn - 23),
             |c AS (SELECT user_id, tr, ts, seq, lag,
             |    round(1e-9 + corr(x, y), 4) AS cr, count(*) AS n
             |  FROM w GROUP BY 1, 2, 3, 4, 5),
             |r AS (SELECT user_id, tr, ts, seq, lag, cr, row_number() OVER (
             |    PARTITION BY user_id, tr ORDER BY cr DESC, lag) AS rk
             |  FROM c WHERE n >= 8 AND cr IS NOT NULL AND isfinite(cr))
             |SELECT user_id, ts, seq, CAST(lag AS BIGINT) AS best_lag,
             |  cr AS best_corr
             |FROM r WHERE rk = 1 ORDER BY 1, 2, 3""".stripMargin)),

    "aug_seasons" -> Q(
      (s, d) => Augurs.seasonsAutocorr(Tables.events(s, d), 12)
        .orderBy("user_id"),
      Some(s"""WITH e AS (SELECT user_id, value,
             |    row_number() OVER (PARTITION BY user_id ORDER BY ts, seq) AS rn
             |  FROM ($E)),
             |l AS (SELECT unnest(range(2, 13)) AS lag),
             |p AS (SELECT a.user_id, l.lag, corr(a.value, b.value) AS c, count(*) AS n
             |  FROM e a JOIN l ON true
             |  JOIN e b ON b.user_id = a.user_id AND b.rn = a.rn - l.lag
             |  GROUP BY 1,2),
             |r AS (SELECT user_id, lag, round(1e-9 + c,4) AS cr,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY round(1e-9 + c,4) DESC, lag) AS rk
             |  FROM p WHERE n >= 10 AND c IS NOT NULL)
             |SELECT user_id, CAST(lag AS BIGINT) AS best_lag, cr AS best_corr
             |FROM r WHERE rk = 1 ORDER BY 1""".stripMargin))
  )
}
