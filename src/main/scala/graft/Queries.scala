package graft

import graft.core.Timeline
import graft.functions.HalfUp.r4
import graft.ops.ScanOps
import graft.streaming.{DynamicGroup, RunMode}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Query registry: every SURVEY §2 operator exposed as a named query over
  * the driver's testdata tables, each with a DuckDB oracle where the
  * semantics are SQL-expressible (CORRECTNESS gate), ScalaTest goldens
  * otherwise.
  *
  * Cross-engine float discipline: every COMPUTED double is wrapped in
  * round(1e-9 + x,4) on BOTH sides (different engines sum in different orders;
  * 4 dp is far above the ~1e-10 noise floor at these magnitudes).
  * Timestamps cross as BIGINT ns (`epoch_ns` in DuckDB — events.parquet is
  * TIMESTAMP(NANOS)) or DATE. All outputs carry a deterministic ORDER BY.
  */
object Queries {

  final case class Q(fn: (SparkSession, String) => DataFrame, oracle: Option[String])

  private val HOUR = 3600L * 1000000000L
  private val DAY = 24L * HOUR

  /** Common DuckDB prelude: events with the ns clock + total order. */
  private val E = "SELECT user_id, epoch_ns(ts) AS ts, event_id AS seq, event_type, value FROM events"

  val registry: Seq[(String, Q)] =
    relational ++ stream ++ QueriesPipeline.entries ++ QueriesMarket.entries ++
      QueriesAugurs.entries ++ QueriesMultimodal.entries

  // ───────────────────────────── relational ───────────────────────────────

  private def relational: Seq[(String, Q)] = Seq(

    "q01_pricing_summary" -> Q(
      (s, d) => Tables.lineitem(s, d)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          r4(sum("l_quantity")).as("sum_qty"),
          r4(sum("l_extendedprice")).as("sum_base"),
          r4(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("sum_disc"),
          r4(avg("l_quantity")).as("avg_qty"),
          r4(avg("l_extendedprice")).as("avg_price"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus,
             |  round(1e-9 + sum(l_quantity),4) AS sum_qty,
             |  round(1e-9 + sum(l_extendedprice),4) AS sum_base,
             |  round(1e-9 + sum(l_extendedprice*(1-l_discount)),4) AS sum_disc,
             |  round(1e-9 + avg(l_quantity),4) AS avg_qty,
             |  round(1e-9 + avg(l_extendedprice),4) AS avg_price,
             |  count(*) AS n
             |FROM lineitem GROUP BY 1,2 ORDER BY 1,2""".stripMargin)),

    "q03_shipping_priority" -> Q(
      (s, d) => {
        val c = Tables.customer(s, d).where(col("c_mktsegment") === "BUILDING")
        val o = Tables.orders(s, d).where(col("o_orderdate") < to_timestamp(lit("1995-03-15")))
        val l = Tables.lineitem(s, d).where(col("l_shipdate") > to_timestamp(lit("1995-03-15")))
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate").cast("date").as("o_orderdate"))
          .agg(r4(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue"))
          .orderBy(desc("revenue"), col("l_orderkey"))
          .limit(10)
      },
      Some("""SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
             |  round(1e-9 + sum(l_extendedprice*(1-l_discount)),4) AS revenue
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |WHERE c_mktsegment = 'BUILDING'
             |  AND o_orderdate < TIMESTAMP '1995-03-15'
             |  AND l_shipdate > TIMESTAMP '1995-03-15'
             |GROUP BY 1,2 ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)),

    // TPC-H Q10 profile (returned-item reporting): customers ranked by
    // revenue lost to returns in a quarter. Plan: lineitem/orders shuffle
    // on orderkey; customer joins on custkey; the tiny nation dim
    // broadcasts; top-20 via TakeOrderedAndProject, never a global sort.
    // NOTE: the synthetic orders span 1995-01..2001-08, so the classic
    // 1993-Q4 window would be empty (a vacuous oracle). Pinned to 1996-Q4,
    // a quarter the testdata populates at every SF.
    "q10_returns" -> Q(
      (s, d) => {
        val o = Tables.orders(s, d)
          .where(col("o_orderdate") >= to_timestamp(lit("1996-10-01")) &&
            col("o_orderdate") < to_timestamp(lit("1997-01-01")))
        val l = Tables.lineitem(s, d).where(col("l_returnflag") === "R")
        val c = Tables.customer(s, d)
        val n = Tables.nation(s, d)
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
          .agg(r4(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue"))
          .orderBy(desc("revenue"), col("c_custkey"))
          .limit(20)
      },
      Some("""SELECT c_custkey, c_name, n_name,
             |  round(1e-9 + sum(l_extendedprice*(1-l_discount)),4) AS revenue
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |WHERE l_returnflag = 'R'
             |  AND o_orderdate >= TIMESTAMP '1996-10-01'
             |  AND o_orderdate < TIMESTAMP '1997-01-01'
             |GROUP BY 1,2,3 ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)),

    "q05_regional_revenue" -> Q(
      (s, d) => {
        val r = Tables.region(s, d).where(col("r_name") === "ASIA")
        val n = Tables.nation(s, d)
        val c = Tables.customer(s, d)
        // 1996 calendar year: the synthetic orders start 1995-01, so the
        // classic 1994 window would make this oracle vacuous.
        val o = Tables.orders(s, d)
          .where(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
            col("o_orderdate") < to_timestamp(lit("1997-01-01")))
        val l = Tables.lineitem(s, d)
        val su = Tables.supplier(s, d)
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(su, col("l_suppkey") === col("s_suppkey") && col("s_nationkey") === col("c_nationkey"))
          .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .groupBy("n_name")
          .agg(r4(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue"))
          .orderBy("n_name")
      },
      Some("""SELECT n_name, round(1e-9 + sum(l_extendedprice*(1-l_discount)),4) AS revenue
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
             |JOIN nation ON s_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |WHERE r_name = 'ASIA'
             |  AND o_orderdate >= TIMESTAMP '1996-01-01'
             |  AND o_orderdate < TIMESTAMP '1997-01-01'
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // TPC-H Q6 shape: tight range+quantity predicates all pushed to the
    // scan, single global aggregate — the pushdown-dominated profile.
    "q06_forecast_revenue" -> Q(
      (s, d) => Tables.lineitem(s, d)
        .where(col("l_shipdate") >= to_timestamp(lit("1994-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1995-01-01")) &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(r4(sum(col("l_extendedprice") * col("l_discount"))).as("revenue")),
      Some("""SELECT round(1e-9 + sum(l_extendedprice * l_discount),4) AS revenue
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1994-01-01'
             |  AND l_shipdate < TIMESTAMP '1995-01-01'
             |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin)),

    "q_top3_parts_per_brand" -> Q(
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("p_brand").orderBy(desc("p_retailprice"), col("p_partkey"))
        Tables.part(s, d)
          .withColumn("__rn", row_number().over(w))
          .where(col("__rn") <= 3).drop("__rn")
          .select("p_brand", "p_partkey", "p_retailprice")
          .orderBy(col("p_brand"), desc("p_retailprice"), col("p_partkey"))
      },
      Some("""SELECT p_brand, p_partkey, p_retailprice FROM (
             |  SELECT p_brand, p_partkey, p_retailprice,
             |    row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rn
             |  FROM part) WHERE rn <= 3
             |ORDER BY p_brand, p_retailprice DESC, p_partkey""".stripMargin)),

    "q_semi_join" -> Q(
      (s, d) => Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy("c_nationkey").agg(count(lit(1)).as("n")).orderBy("c_nationkey"),
      Some("""SELECT c_nationkey, count(*) AS n FROM customer
             |WHERE c_custkey IN (SELECT o_custkey FROM orders)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Anti-join against the orders placed in the first synthetic half-year:
    // every customer eventually orders, so an unfiltered anti-join is empty
    // (vacuous oracle); restricting the right side to 1995-H1 leaves a real
    // non-matching customer set at every SF.
    "q_anti_join" -> Q(
      (s, d) => Tables.customer(s, d)
        .join(Tables.orders(s, d)
            .where(col("o_orderdate") < to_timestamp(lit("1995-07-01"))),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_nationkey").agg(count(lit(1)).as("n")).orderBy("c_nationkey"),
      Some("""SELECT c_nationkey, count(*) AS n FROM customer
             |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
             |                        WHERE o_orderdate < TIMESTAMP '1995-07-01')
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    "q_distinct_parts" -> Q(
      (s, d) => Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("nparts"))
        .orderBy("l_returnflag"),
      Some("SELECT l_returnflag, count(DISTINCT l_partkey) AS nparts FROM lineitem GROUP BY 1 ORDER BY 1")),

    "q_filter_pushdown" -> Q(
      (s, d) => Tables.lineitem(s, d)
        .where(col("l_shipdate") >= to_timestamp(lit("1995-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1995-03-01")) &&
          col("l_quantity") > 45)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
             |  AND l_shipdate < TIMESTAMP '1995-03-01' AND l_quantity > 45
             |ORDER BY 1,2""".stripMargin)),

    "q_case_agg" -> Q(
      (s, d) => Tables.orders(s, d)
        .groupBy("o_orderstatus")
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L)).as("high"),
          count(lit(1)).as("n"))
        .orderBy("o_orderstatus"),
      Some("""SELECT o_orderstatus,
             |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high,
             |  count(*) AS n
             |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    "q_events_daily" -> Q(
      (s, d) => Tables.events(s, d).df
        .groupBy(col("event_type"), to_date(timestamp_micros(expr("ts DIV 1000"))).as("day"))
        .agg(count(lit(1)).as("n"), r4(sum("value")).as("sum_v"))
        .orderBy("event_type", "day"),
      Some("""SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             |  count(*) AS n, round(1e-9 + sum(value),4) AS sum_v
             |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin))
  )

  // ─────────────────────── stream operators (events) ──────────────────────

  private def ev(s: SparkSession, d: String): Timeline = Tables.events(s, d)

  private def stream: Seq[(String, Q)] = Seq(

    "evt_running_count" -> Q(
      (s, d) => ev(s, d).runningCount("n").df
        .select("user_id", "ts", "n").orderBy("user_id", "ts"),
      Some(s"""SELECT user_id, ts, CAST(row_number() OVER
             |  (PARTITION BY user_id ORDER BY ts, seq) AS BIGINT) AS n
             |FROM ($E) ORDER BY 1,2""".stripMargin)),

    "evt_difference" -> Q(
      (s, d) => ev(s, d).difference("diff").df
        .select(col("user_id"), col("ts"), r4(col("diff")).as("diff"))
        .orderBy("user_id", "ts"),
      Some(s"""SELECT user_id, ts, round(1e-9 + diff,4) AS diff FROM (
             |  SELECT user_id, ts, value - lag(value) OVER
             |    (PARTITION BY user_id ORDER BY ts, seq) AS diff FROM ($E))
             |WHERE diff IS NOT NULL ORDER BY 1,2""".stripMargin)),

    "evt_mapfilter" -> Q(
      (s, d) => ev(s, d).mapFilter(_ * 2, _ > 100).df
        .select(col("user_id"), col("ts"), r4(col("value")).as("value"))
        .orderBy("user_id", "ts"),
      Some(s"""SELECT user_id, ts, round(1e-9 + value * 2,4) AS value FROM ($E)
             |WHERE value > 100 ORDER BY 1,2""".stripMargin)),

    "evt_distinct_consec" -> Q(
      (s, d) => ev(s, d).copy(valueCol = "event_type").distinctConsecutive().df
        .select("user_id", "ts", "event_type").orderBy("user_id", "ts"),
      Some(s"""SELECT user_id, ts, event_type FROM (
             |  SELECT user_id, ts, event_type, lag(event_type) OVER
             |    (PARTITION BY user_id ORDER BY ts, seq) AS p FROM ($E))
             |WHERE p IS NULL OR event_type <> p ORDER BY 1,2""".stripMargin)),

    "evt_limit3" -> Q(
      (s, d) => ev(s, d).limitTicks(3).df
        .select("user_id", "ts", "value").orderBy("user_id", "ts"),
      Some(s"""SELECT user_id, ts, value FROM (
             |  SELECT user_id, ts, value, row_number() OVER
             |    (PARTITION BY user_id ORDER BY ts, seq) AS rn FROM ($E))
             |WHERE rn <= 3 ORDER BY 1,2""".stripMargin)),

    "evt_cumsum" -> Q(
      (s, d) => ev(s, d).runningAgg("cumsum" -> (sum(_))).df
        .select(col("user_id"), col("ts"), r4(col("cumsum")).as("cumsum"))
        .orderBy("user_id", "ts"),
      Some(s"""SELECT user_id, ts, round(1e-9 + sum(value) OVER
             |  (PARTITION BY user_id ORDER BY ts, seq
             |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),4) AS cumsum
             |FROM ($E) ORDER BY 1,2""".stripMargin)),

    "evt_accumulate" -> Q(
      (s, d) => ev(s, d).copy(valueCol = "event_type").accumulate("acc").df
        .select(col("user_id"), col("ts"), array_join(col("acc"), ",").as("acc"))
        .orderBy("user_id", "ts"),
      Some(s"""SELECT user_id, ts, string_agg(event_type, ',') OVER
             |  (PARTITION BY user_id ORDER BY ts, seq
             |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS acc
             |FROM ($E) ORDER BY 1,2""".stripMargin)),

    "evt_rolling5" -> Q(
      (s, d) => ev(s, d)
        .rolling(5, "sum" -> "r_sum", "mean" -> "r_mean", "min" -> "r_min",
          "max" -> "r_max", "std" -> "r_std", "median" -> "r_median").df
        .select(col("user_id"), col("ts"), r4(col("r_sum")).as("r_sum"),
          r4(col("r_mean")).as("r_mean"), r4(col("r_min")).as("r_min"),
          r4(col("r_max")).as("r_max"), r4(col("r_std")).as("r_std"),
          r4(col("r_median")).as("r_median"))
        .orderBy("user_id", "ts"),
      Some(s"""SELECT user_id, ts,
             |  round(1e-9 + sum(value) OVER w,4) AS r_sum,
             |  round(1e-9 + avg(value) OVER w,4) AS r_mean,
             |  round(1e-9 + min(value) OVER w,4) AS r_min,
             |  round(1e-9 + max(value) OVER w,4) AS r_max,
             |  round(1e-9 + coalesce(stddev_samp(value) OVER w, 0),4) AS r_std,
             |  round(1e-9 + median(value) OVER w,4) AS r_median
             |FROM ($E)
             |WINDOW w AS (PARTITION BY user_id ORDER BY ts, seq
             |  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
             |ORDER BY 1,2""".stripMargin)),

    "evt_cumulative_stats" -> Q(
      // median rides the two-heap scan (O(log n)/tick), NOT the expanding
      // window frame (O(n²) per key — fatal on an unbounded prefix at scale)
      (s, d) => ScanOps.cumulativeMedian(
        ev(s, d).cumulative("sum" -> "c_sum", "mean" -> "c_mean", "min" -> "c_min",
          "max" -> "c_max", "var" -> "c_var", "std" -> "c_std"), "c_median").df
        .select(col("user_id"), col("ts"), r4(col("c_sum")).as("c_sum"),
          r4(col("c_mean")).as("c_mean"), r4(col("c_min")).as("c_min"),
          r4(col("c_max")).as("c_max"), r4(col("c_var")).as("c_var"),
          r4(col("c_std")).as("c_std"), r4(col("c_median")).as("c_median"))
        .orderBy("user_id", "ts"),
      Some(s"""SELECT user_id, ts,
             |  round(1e-9 + sum(value) OVER w,4) AS c_sum,
             |  round(1e-9 + avg(value) OVER w,4) AS c_mean,
             |  round(1e-9 + min(value) OVER w,4) AS c_min,
             |  round(1e-9 + max(value) OVER w,4) AS c_max,
             |  round(1e-9 + coalesce(var_samp(value) OVER w, 0),4) AS c_var,
             |  round(1e-9 + coalesce(stddev_samp(value) OVER w, 0),4) AS c_std,
             |  round(1e-9 + median(value) OVER w,4) AS c_median
             |FROM ($E)
             |WINDOW w AS (PARTITION BY user_id ORDER BY ts, seq
             |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |ORDER BY 1,2""".stripMargin)),

    "evt_timewin_1h" -> Q(
      (s, d) => ev(s, d)
        .timeWindowed(HOUR, "sum" -> "t_sum", "mean" -> "t_mean", "min" -> "t_min",
          "max" -> "t_max", "var" -> "t_var", "std" -> "t_std", "median" -> "t_median").df
        .select(col("user_id"), col("ts"), r4(col("t_sum")).as("t_sum"),
          r4(col("t_mean")).as("t_mean"), r4(col("t_min")).as("t_min"),
          r4(col("t_max")).as("t_max"), r4(col("t_var")).as("t_var"),
          r4(col("t_std")).as("t_std"), r4(col("t_median")).as("t_median"))
        .orderBy("user_id", "ts"),
      Some(s"""SELECT user_id, ts,
             |  round(1e-9 + sum(value) OVER w,4) AS t_sum,
             |  round(1e-9 + avg(value) OVER w,4) AS t_mean,
             |  round(1e-9 + min(value) OVER w,4) AS t_min,
             |  round(1e-9 + max(value) OVER w,4) AS t_max,
             |  round(1e-9 + coalesce(var_samp(value) OVER w, 0),4) AS t_var,
             |  round(1e-9 + coalesce(stddev_samp(value) OVER w, 0),4) AS t_std,
             |  round(1e-9 + median(value) OVER w,4) AS t_median
             |FROM ($E)
             |WINDOW w AS (PARTITION BY user_id ORDER BY ts
             |  RANGE BETWEEN ${HOUR} PRECEDING AND CURRENT ROW)
             |ORDER BY 1,2""".stripMargin)),

    "evt_ewma" -> Q(
      (s, d) => ScanOps.ewma(ev(s, d), ScanOps.PerTick(0.2), "ewma").df
        .select(col("user_id"), col("ts"), r4(col("ewma")).as("ewma"))
        .orderBy("user_id", "ts"),
      Some(s"""SELECT user_id, ts,
             |  round(1e-9 + list_reduce(list(value) OVER
             |    (PARTITION BY user_id ORDER BY ts, seq
             |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             |    (acc, x) -> acc + 0.2*(x - acc)),4) AS ewma
             |FROM ($E) ORDER BY 1,2""".stripMargin)),

    // EWMA with half-life decay (ops.rs:875-889): alpha depends on the gap
    // to the previous tick — alpha = 1 - 2^(-Δt/halfLife). Oracle replays
    // the recursion with a struct-accumulator list_reduce over the running
    // (ts, value) prefix. Half-life = 1h of the ns clock.
    "evt_ewma_hl" -> Q(
      (s, d) => ScanOps.ewma(ev(s, d), ScanOps.HalfLife(HOUR.toDouble), "ewma").df
        .select(col("user_id"), col("ts"), r4(col("ewma")).as("ewma"))
        .orderBy("user_id", "ts"),
      Some(s"""SELECT user_id, ts,
             |  round(1e-9 + list_reduce(
             |    list(struct_pack(t := ts, v := value)) OVER
             |      (PARTITION BY user_id ORDER BY ts, seq
             |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             |    (acc, x) -> struct_pack(t := x.t,
             |      v := acc.v + (1 - exp(-((x.t - acc.t) / ${HOUR}.0) * ln(2)))
             |             * (x.v - acc.v))).v,4) AS ewma
             |FROM ($E) ORDER BY 1,2""".stripMargin)),

    "evt_sample_asof" -> Q(
      (s, d) => Tables.eventsOf(s, d, "purchase")
        .sample(Tables.eventsOf(s, d, "click")).df
        .select(col("user_id"), col("ts"), col("value"))
        .orderBy("user_id", "ts"),
      Some("""SELECT c.user_id, epoch_ns(c.ts) AS ts, p.value AS value
             |FROM (SELECT * FROM events WHERE event_type='click') c
             |ASOF JOIN (SELECT * FROM events WHERE event_type='purchase') p
             |  ON c.user_id = p.user_id AND c.ts >= p.ts
             |ORDER BY 1,2""".stripMargin)),

    "evt_join_latest" -> Q(
      (s, d) => Tables.eventsOf(s, d, "purchase")
        .joinLatest(Tables.eventsOf(s, d, "click"), "pv", "cv").df
        .select(col("user_id"), col("ts"), col("pv"), col("cv"))
        .orderBy("user_id", "ts"),
      Some("""WITH u AS (
             |  SELECT user_id, epoch_ns(ts) AS ts, event_id AS seq, 0 AS src,
             |         value AS pv, NULL::DOUBLE AS cv FROM events WHERE event_type='purchase'
             |  UNION ALL
             |  SELECT user_id, epoch_ns(ts), event_id, 1, NULL, value FROM events WHERE event_type='click')
             |SELECT user_id, ts, pv, cv FROM (
             |  SELECT user_id, ts,
             |    last_value(pv IGNORE NULLS) OVER w AS pv,
             |    last_value(cv IGNORE NULLS) OVER w AS cv
             |  FROM u WINDOW w AS (PARTITION BY user_id ORDER BY ts, src, seq
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             |WHERE pv IS NOT NULL AND cv IS NOT NULL ORDER BY 1,2""".stripMargin)),

    "evt_join_passive" -> Q(
      (s, d) => Tables.eventsOf(s, d, "purchase")
        .joinPassive(Tables.eventsOf(s, d, "click"), "pv", "cv").df
        .select(col("user_id"), col("ts"), col("pv"), col("cv"))
        .orderBy("user_id", "ts"),
      Some("""SELECT p.user_id, epoch_ns(p.ts) AS ts, p.value AS pv, c.value AS cv
             |FROM (SELECT * FROM events WHERE event_type='purchase') p
             |ASOF JOIN (SELECT * FROM events WHERE event_type='click') c
             |  ON p.user_id = c.user_id AND p.ts >= c.ts
             |ORDER BY 1,2""".stripMargin)),

    "evt_join3" -> Q(
      (s, d) => Tables.eventsOf(s, d, "purchase")
        .join3(Tables.eventsOf(s, d, "click"), Tables.eventsOf(s, d, "error"),
          "pv", "cv", "ev")
        .df.select(col("user_id"), col("ts"), col("pv"), col("cv"), col("ev"))
        .orderBy("user_id", "ts"),
      Some("""WITH u AS (
             |  SELECT user_id, epoch_ns(ts) AS ts, event_id AS seq, 0 AS src,
             |         value AS pv, NULL::DOUBLE AS cv, NULL::DOUBLE AS ev
             |  FROM events WHERE event_type='purchase'
             |  UNION ALL
             |  SELECT user_id, epoch_ns(ts), event_id, 1, NULL, value, NULL
             |  FROM events WHERE event_type='click'
             |  UNION ALL
             |  SELECT user_id, epoch_ns(ts), event_id, 2, NULL, NULL, value
             |  FROM events WHERE event_type='error')
             |SELECT user_id, ts, pv, cv, ev FROM (
             |  SELECT user_id, ts,
             |    last_value(pv IGNORE NULLS) OVER w AS pv,
             |    last_value(cv IGNORE NULLS) OVER w AS cv,
             |    last_value(ev IGNORE NULLS) OVER w AS ev,
             |    row_number() OVER (PARTITION BY user_id, ts
             |      ORDER BY src DESC, seq DESC) AS rl
             |  FROM u WINDOW w AS (PARTITION BY user_id ORDER BY ts, src, seq
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             |WHERE rl = 1 AND pv IS NOT NULL AND cv IS NOT NULL AND ev IS NOT NULL
             |ORDER BY 1,2""".stripMargin)),

    "evt_filter_gate" -> Q(
      (s, d) => {
        val src = Tables.eventsOf(s, d, "purchase")
        val cond = Tables.eventsOf(s, d, "click").mapValue(_ > 100)
        src.filterGate(cond).df
          .select(col("user_id"), col("ts"), col("value"))
          .orderBy("user_id", "ts")
      },
      Some("""WITH u AS (
             |  SELECT user_id, epoch_ns(ts) AS ts, event_id AS seq, 0 AS src,
             |         value AS v, NULL::BOOLEAN AS c FROM events WHERE event_type='purchase'
             |  UNION ALL
             |  SELECT user_id, epoch_ns(ts), event_id, 1, NULL, value > 100
             |  FROM events WHERE event_type='click')
             |SELECT user_id, ts, v AS value FROM (
             |  SELECT user_id, ts,
             |    last_value(v IGNORE NULLS) OVER w AS v,
             |    last_value(c IGNORE NULLS) OVER w AS c
             |  FROM u WINDOW w AS (PARTITION BY user_id ORDER BY ts, src, seq
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             |WHERE c AND v IS NOT NULL ORDER BY 1,2""".stripMargin)),

    "evt_merge" -> Q(
      (s, d) => Tables.eventsOf(s, d, "purchase")
        .merge(Tables.eventsOf(s, d, "error")).df
        .select(col("user_id"), col("ts"), col("value"))
        .orderBy("user_id", "ts"),
      // tie-break encoded: at a tied (user_id, ts) instant the earliest-
      // supplied source (purchase, pri 0) wins and the other source's rows
      // at that instant are dropped — the reference MergeN winner rule
      // (`ops.rs:3215`), not a plain UNION.
      Some("""WITH u AS (SELECT user_id, epoch_ns(ts) AS ts, value,
             |    CASE event_type WHEN 'purchase' THEN 0 ELSE 1 END AS pri
             |  FROM events WHERE event_type IN ('purchase','error')),
             |w AS (SELECT *, min(pri) OVER (PARTITION BY user_id, ts) AS win FROM u)
             |SELECT user_id, ts, value FROM w WHERE pri = win ORDER BY 1,2""".stripMargin)),

    "evt_throttle_1h" -> Q(
      (s, d) => ev(s, d).throttleBucket(HOUR).df
        .select("user_id", "ts", "value").orderBy("user_id", "ts"),
      Some(s"""SELECT user_id, ts, value FROM (
             |  SELECT user_id, ts, value, row_number() OVER
             |    (PARTITION BY user_id, ts // ${HOUR} ORDER BY ts, seq) AS rn
             |  FROM ($E)) WHERE rn = 1 ORDER BY 1,2""".stripMargin)),

    "evt_sessionize_1h" -> Q(
      (s, d) => ev(s, d).sessionize(HOUR, "session_id").df
        .select("user_id", "ts", "session_id").orderBy("user_id", "ts"),
      Some(s"""SELECT user_id, ts, CAST(sum(new_session) OVER
             |  (PARTITION BY user_id ORDER BY ts, seq
             |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
             |FROM (
             |  SELECT user_id, ts, seq,
             |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, seq)
             |         > ${HOUR} THEN 1
             |         WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, seq) IS NULL THEN 1
             |         ELSE 0 END AS new_session
             |  FROM ($E)) ORDER BY 1,2""".stripMargin)),

    // Cohort retention: users grouped by first-activity day; for each
    // (cohort, day-offset) the number of cohort members active that day.
    // Shape: ONE exchange carries event-grain rows (explicit user_id
    // repartition that the dedup, the cohort window, and the per-user
    // uniqueness all reuse via the subset rule); the final (cohort,
    // offset) rollup shuffles only per-user-day rows. Day arithmetic is
    // integral (ts DIV day) — float division of ns clocks loses precision
    // past 2^53.
    "evt_cohort" -> Q(
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
        ev(s, d).df.selectExpr("user_id", s"ts DIV $DAY AS day")
          .repartition(col("user_id"))
          .dropDuplicates("user_id", "day")
          .withColumn("cohort_day", min("day").over(w))
          .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
          // (user_id, day) is unique here, so count(*) == distinct users
          .agg(count(lit(1)).as("n_users"))
          .orderBy("cohort_day", "day_offset")
      },
      Some(s"""WITH e AS ($E),
             |days AS (SELECT DISTINCT user_id, ts // ${DAY} AS day FROM e),
             |c AS (SELECT user_id, day,
             |  min(day) OVER (PARTITION BY user_id) AS cohort_day FROM days)
             |SELECT cohort_day, day - cohort_day AS day_offset,
             |  count(*)::BIGINT AS n_users
             |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Fixed-width value histogram per event type (width-5 buckets): the
    // distribution profile that feeds dashboards and drift monitors.
    // Fixed bounds keep the bucketing a pure projection — count+share per
    // (type, bucket) is one partial-aggregated shuffle of #types×#buckets
    // groups at any scale.
    "evt_hist" -> Q(
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window.partitionBy("event_type")
        ev(s, d).df
          .select(col("event_type"), floor(col("value") / lit(5.0)).cast("long").as("bucket"))
          .groupBy("event_type", "bucket").agg(count(lit(1)).as("n"))
          .withColumn("share", r4(col("n") / sum("n").over(w)))
          .orderBy("event_type", "bucket")
      },
      Some(s"""SELECT event_type, bucket, n,
             |  round(1e-9 + n / sum(n) OVER (PARTITION BY event_type), 4) AS share
             |FROM (SELECT event_type, CAST(floor(value / 5.0) AS BIGINT) AS bucket,
             |    count(*) AS n
             |  FROM events GROUP BY 1, 2)
             |ORDER BY 1, 2""".stripMargin)),

    // Exact per-key percentiles (p50/p90/p99 of event values) — the
    // latency-percentile rollup every telemetry pipeline runs. Both
    // engines use R-7 linear interpolation at rank p*(n-1); floating-point
    // summation order can still differ in the last ulps, which the shared
    // r4 rounding absorbs (the gate is round-then-hash, not bit-for-bit
    // doubles). Scale note:
    // exact percentile sorts each group (Spark buffers the group's
    // values); for sketch-sized state at 100 TB swap in
    // approx_percentile — kept exact here because the oracle must
    // hash-match.
    "evt_pctiles" -> Q(
      (s, d) => ev(s, d).df.groupBy("user_id")
        .agg(r4(expr("percentile(value, 0.5)")).as("p50"),
          r4(expr("percentile(value, 0.9)")).as("p90"),
          r4(expr("percentile(value, 0.99)")).as("p99"))
        .orderBy("user_id"),
      Some(s"""SELECT user_id,
             |  round(1e-9 + quantile_cont(value, 0.5), 4) AS p50,
             |  round(1e-9 + quantile_cont(value, 0.9), 4) AS p90,
             |  round(1e-9 + quantile_cont(value, 0.99), 4) AS p99
             |FROM ($E) GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Exact GLOBAL percentiles via certified histogram descent
    // (ops/Sketch.exactQuantiles — the doc_heavy_tokens discipline
    // applied to order statistics). The canonical exact global
    // percentile is a full sort — the one plan shape banned everywhere
    // else in this library; the descent replaces it with ≤ 4 histogram
    // aggregates whose exchanges carry ≤ |ps|·8192 partial rows, plus
    // one ≤ cap-value collect per quantile. The answers are order
    // STATISTICS (k = floor((n-1)p)+1), i.e. actual input values —
    // bit-identical across engines, so the oracle needs no rounding
    // contract. The spec additionally pins descent == canonical sort,
    // the all-ties shortcut, the forced maxRounds=0 fallback, and
    // repartition invariance.
    "evt_pctile_cert" -> Q(
      (s, d) => graft.ops.Sketch.exactQuantiles(
        ev(s, d).df.select(col("value")), "value",
        Seq(0.5, 0.9, 0.99), buckets = 1024, cap = 4096).result,
      Some(s"""WITH t AS (SELECT value FROM ($E) WHERE value IS NOT NULL),
             |n AS (SELECT count(*) AS c FROM t),
             |r AS (SELECT value, row_number() OVER (ORDER BY value) AS rn FROM t),
             |ps AS (SELECT * FROM (VALUES (0.5),(0.9),(0.99)) AS v(p))
             |SELECT p, value FROM ps, n, r
             |WHERE r.rn = CAST(floor((n.c - 1) * ps.p) AS BIGINT) + 1
             |ORDER BY p""".stripMargin)),

    // view -> click -> purchase conversion funnel, 1 h per step: per user,
    // the first view, the first click within 1 h AFTER that view, the
    // first purchase within 1 h after THAT click, and the stage reached.
    // Shape: chained prefix-window minima instead of three self-joins —
    // the prefix min of qualifying-step timestamps equals the global first
    // qualifying step whenever one precedes the row (the earliest
    // qualifier has the smallest ts, so it is always in the prefix), so
    // ONE scan + ONE user_id exchange serves both window passes and the
    // final rollup. The three-self-join form reads the event table four
    // times at 100 TB; this reads it once.
    "evt_funnel" -> Q(
      (s, d) => graft.ops.Funnel.stages(
          ev(s, d).df.select("user_id", "ts", "seq", "event_type"),
          Seq("user_id"), "event_type", Seq("view", "click", "purchase"), HOUR)
        .select(col("user_id"), col("t0").as("v_ts"),
          col("t1").as("c_ts"), col("t2").as("p_ts"),
          when(col("t2").isNotNull, lit(3L))
            .when(col("t1").isNotNull, lit(2L))
            .when(col("t0").isNotNull, lit(1L))
            .otherwise(lit(0L)).as("stage"))
        .orderBy("user_id"),
      Some(s"""WITH e AS ($E),
             |w1 AS (SELECT user_id, ts, seq, event_type,
             |  min(CASE WHEN event_type = 'view' THEN ts END) OVER
             |    (PARTITION BY user_id ORDER BY ts, seq
             |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vmin FROM e),
             |w2 AS (SELECT *, CASE WHEN event_type = 'click' AND ts > vmin
             |    AND ts <= vmin + ${HOUR} THEN ts END AS cq FROM w1),
             |w3 AS (SELECT *, min(cq) OVER (PARTITION BY user_id ORDER BY ts, seq
             |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cmin FROM w2),
             |w4 AS (SELECT *, CASE WHEN event_type = 'purchase' AND ts > cmin
             |    AND ts <= cmin + ${HOUR} THEN ts END AS pq FROM w3)
             |SELECT user_id,
             |  min(CASE WHEN event_type = 'view' THEN ts END) AS v_ts,
             |  min(cq) AS c_ts, min(pq) AS p_ts,
             |  (CASE WHEN min(pq) IS NOT NULL THEN 3
             |        WHEN min(cq) IS NOT NULL THEN 2
             |        WHEN min(CASE WHEN event_type = 'view' THEN ts END) IS NOT NULL THEN 1
             |        ELSE 0 END)::BIGINT AS stage
             |FROM w4 GROUP BY 1 ORDER BY 1""".stripMargin)),

    "evt_delay_1h" -> Q(
      (s, d) => ev(s, d).delay(HOUR).ticks
        .select("user_id", "ts", "value").orderBy("user_id", "ts"),
      Some(s"""SELECT user_id, ts + ${HOUR} AS ts, value FROM ($E) ORDER BY 1,2""")),

    "evt_tumbling_1d" -> Q(
      (s, d) => ev(s, d).tumbling(DAY,
        Seq(count(lit(1)).as("n"), r4(sum(col("value"))).as("sum_v")))
        .orderBy("user_id", "ts"),
      Some(s"""SELECT user_id, (ts // ${DAY}) * ${DAY} + ${DAY} AS ts,
             |  count(*) AS n, round(1e-9 + sum(value),4) AS sum_v
             |FROM ($E) GROUP BY 1,2 ORDER BY 1,2""".stripMargin)),

    "evt_buffer10" -> Q(
      (s, d) => ev(s, d).countBuffer(10,
        Seq(count(lit(1)).as("n"), r4(sum(col("value"))).as("sum_v")))
        .select("user_id", "bucket", "ts", "n", "sum_v")
        .orderBy("user_id", "bucket"),
      Some(s"""SELECT user_id, (rn - 1) // 10 AS bucket, max(ts) AS ts,
             |  count(*) AS n, round(1e-9 + sum(value),4) AS sum_v
             |FROM (SELECT user_id, ts, value, row_number() OVER
             |        (PARTITION BY user_id ORDER BY ts, seq) AS rn FROM ($E))
             |GROUP BY 1,2 ORDER BY 1,2""".stripMargin)),

    // Whole-graph feedback (fluent.rs:363, §7.4): 3 epochs of global-mean
    // smoothing v' = (v + mean(all v))/2 via Feedback.iterateEpochs. The
    // oracle verifies with the CLOSED FORM (mean is invariant, deviations
    // halve per epoch: v3 = m + (v-m)/8) — an algorithm-independent check
    // of the iterative plan.
    "evt_feedback_epochs" -> Q(
      (s, d) => {
        val start = ev(s, d).ticks.select(col("user_id"), col("ts"), col("value"))
        graft.streaming.Feedback.iterateEpochs(start, 3) { df =>
          val m = df.agg(avg("value")).head.getDouble(0)
          df.withColumn("value", (col("value") + lit(m)) / 2)
        }.select(col("user_id"), col("ts"), r4(col("value")).as("value"))
          .orderBy("user_id", "ts")
      },
      Some(s"""WITH m AS (SELECT avg(value) AS m FROM events)
             |SELECT user_id, epoch_ns(ts) AS ts,
             |  round(1e-9 + m + (value - m)/8,4) AS value
             |FROM events, m ORDER BY 1,2""".stripMargin)),

    // dynamic_group (interp.rs:3901, §2.11): keyed sub-computation
    // lifecycle on the shared stream — click = Add (create, idempotent),
    // purchase = Data (fold running sum, emit), error = Del (emit final
    // sum flagged closed=1, drop state; Data/Del without a live group is
    // ignored). Runs through the BurstProc machinery (both RunModes).
    "dyn_group" -> Q(
      (s, d) => {
        import s.implicits._
        val evds = Tables.events(s, d).df
          .where(col("event_type").isin("click", "purchase", "error"))
          .select(col("user_id").as("key"), col("ts"), col("seq"),
            when(col("event_type") === "click", lit(DynamicGroup.Add))
              .when(col("event_type") === "error", lit(DynamicGroup.Del))
              .otherwise(lit(DynamicGroup.Data)).as("src"),
            col("value")).as[graft.streaming.Ev]
        RunMode.batch(evds, DynamicGroup.proc[Double](
          () => 0.0, (sum, v) => (sum + v, sum + v), sum => Some(sum)))
          // Ev.key is String (the BurstProc transport type); restore the
          // source's long user_id for the cross-engine schema match
          .select(col("key").cast("long").as("user_id"), col("ts"),
            r4(col("v1")).as("v"), col("v2").cast("long").as("closed"))
          .orderBy("user_id", "ts", "v")
      },
      Some("""WITH b AS (SELECT user_id, epoch_ns(ts) AS ts, event_id AS seq,
             |    event_type, value
             |  FROM events WHERE event_type IN ('click','purchase','error')),
             |e AS (SELECT *, row_number() OVER
             |      (PARTITION BY user_id ORDER BY ts, seq) AS rn,
             |    coalesce(sum(CASE WHEN event_type='error' THEN 1 ELSE 0 END) OVER
             |      (PARTITION BY user_id ORDER BY ts, seq
             |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS seg
             |  FROM b),
             |o AS (SELECT *, min(CASE WHEN event_type='click' THEN rn END) OVER
             |      (PARTITION BY user_id, seg ORDER BY rn
             |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fc
             |  FROM e),
             |c AS (SELECT *, sum(CASE WHEN event_type='purchase' AND fc IS NOT NULL
             |      THEN value END) OVER
             |      (PARTITION BY user_id, seg ORDER BY rn
             |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             |  FROM o)
             |SELECT user_id, ts, round(1e-9 + cum,4) AS v, CAST(0 AS BIGINT) AS closed
             |  FROM c WHERE event_type='purchase' AND fc IS NOT NULL
             |UNION ALL
             |SELECT user_id, ts, round(1e-9 + coalesce(cum, 0),4) AS v,
             |    CAST(1 AS BIGINT) AS closed
             |  FROM c WHERE event_type='error' AND fc IS NOT NULL
             |ORDER BY 1,2,3""".stripMargin)),

    // §2.14 build_dataframe: outer-join streams on engine time — a row per
    // instant where either stream ticked, nulls where a stream was quiet.
    "evt_dataframe" -> Q(
      (s, d) => Timeline.dataframe(Seq(
        "pv" -> Tables.eventsOf(s, d, "purchase"),
        "cv" -> Tables.eventsOf(s, d, "click")))
        .orderBy("user_id", "ts"),
      Some("""SELECT user_id, epoch_ns(ts) AS ts,
             |  arg_max(value, event_id) FILTER (WHERE event_type='purchase') AS pv,
             |  arg_max(value, event_id) FILTER (WHERE event_type='click') AS cv
             |FROM events WHERE event_type IN ('purchase','click')
             |GROUP BY 1,2 ORDER BY 1,2""".stripMargin)),

    // combine (ops.rs:3333): all same-instant ticks of n streams as one
    // burst, ordered (source priority, seq). Projected to scalars (n,
    // first, last) so the cross-engine compare avoids nested-list hashing.
    "evt_combine" -> Q(
      (s, d) => Tables.eventsOf(s, d, "purchase")
        .combine(Tables.eventsOf(s, d, "error"))
        .select(col("user_id"), col("ts"),
          size(col("burst")).cast("long").as("n"),
          element_at(col("burst"), 1).getField("value").as("v_first"),
          element_at(col("burst"), -1).getField("value").as("v_last"))
        .orderBy("user_id", "ts"),
      Some("""WITH u AS (SELECT user_id, epoch_ns(ts) AS ts, event_id AS seq, value,
             |    CASE event_type WHEN 'purchase' THEN 0 ELSE 1 END AS pri
             |  FROM events WHERE event_type IN ('purchase','error'))
             |SELECT user_id, ts, count(*) AS n,
             |  arg_min(value, pri*1000000000000 + seq) AS v_first,
             |  arg_max(value, pri*1000000000000 + seq) AS v_last
             |FROM u GROUP BY 1,2 ORDER BY 1,2""".stripMargin)),

    // collapse_accumulate (fluent.rs:1378): each tick's value becomes a
    // 2-element burst [v, -v] (integerized), flattened into the running
    // list; seq carries the folded element position (total order gate).
    "evt_collapse_acc" -> Q(
      (s, d) => ev(s, d)
        .mapValue(v => array(round(v * 100).cast("long"), -round(v * 100).cast("long")))
        .collapseAccumulate("acc").df
        .select(col("user_id"), col("ts"), col("seq"),
          array_join(col("acc").cast("array<string>"), ",").as("acc"))
        .orderBy("user_id", "ts", "seq"),
      Some(s"""WITH b AS (SELECT user_id, ts, seq,
             |    CAST(round(value*100) AS BIGINT) AS e0,
             |    -CAST(round(value*100) AS BIGINT) AS e1 FROM ($E)),
             |x AS (SELECT user_id, ts, seq*1000000 AS s2, e0 AS e FROM b
             |  UNION ALL SELECT user_id, ts, seq*1000000+1, e1 FROM b)
             |SELECT user_id, ts, s2 AS seq, string_agg(CAST(e AS VARCHAR), ',') OVER
             |  (PARTITION BY user_id ORDER BY ts, s2
             |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS acc
             |FROM x ORDER BY 1,2,3""".stripMargin)),

    // delay_with_reset (ops.rs:3486): purchases re-emit 1h later unless an
    // error tick lands in the closed interval [ts, ts+1h]; each error also
    // emits the purchase stream's held value at the reset instant.
    "evt_delay_reset" -> Q(
      (s, d) => ScanOps.delayWithReset(
        Tables.eventsOf(s, d, "purchase"), HOUR, Tables.eventsOf(s, d, "error")).df
        .select(col("user_id"), col("ts"), col("value"))
        .orderBy("user_id", "ts", "value"),
      Some(s"""WITH p AS (SELECT user_id, epoch_ns(ts) AS ts, value
             |    FROM events WHERE event_type='purchase'),
             |r AS (SELECT user_id, epoch_ns(ts) AS ts
             |    FROM events WHERE event_type='error'),
             |kept AS (SELECT p.user_id, p.ts + ${HOUR} AS ts, p.value FROM p
             |  WHERE NOT EXISTS (SELECT 1 FROM r WHERE r.user_id = p.user_id
             |    AND r.ts >= p.ts AND r.ts <= p.ts + ${HOUR})),
             |samp AS (SELECT r.user_id, r.ts, p.value
             |  FROM (SELECT user_id, ts FROM r) r
             |  ASOF JOIN p ON r.user_id = p.user_id AND r.ts >= p.ts)
             |SELECT user_id, ts, value FROM kept
             |UNION ALL SELECT user_id, ts, value FROM samp
             |ORDER BY 1,2,3""".stripMargin)),

    // rolling time-weighted moments over the last 5 SAMPLES (ops.rs:2223):
    // sample i contributes weight Δt_i = ts_{i+1} - ts_i once its successor
    // arrives; the newest sample is weightless — so the state at row k is
    // exactly rows [k-4, k-1] weighted by their committed Δt.
    "evt_tw_rolling" -> Q(
      (s, d) => ScanOps.rollingTimeWeighted(ev(s, d), 5).df
        .select(col("user_id"), col("ts"), r4(col("tw_mean")).as("tw_mean"),
          r4(col("tw_var")).as("tw_var"), r4(col("tw_std")).as("tw_std"))
        .orderBy("user_id", "ts"),
      Some(s"""WITH x AS (SELECT user_id, ts, seq, value,
             |    CAST(lead(ts) OVER w - ts AS DOUBLE) AS dt
             |  FROM ($E) WINDOW w AS (PARTITION BY user_id ORDER BY ts, seq)),
             |y AS (SELECT user_id, ts, value,
             |    sum(value*dt) OVER w2 AS wv,
             |    sum(value*value*dt) OVER w2 AS wv2,
             |    sum(dt) OVER w2 AS w
             |  FROM x WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, seq
             |    ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING))
             |SELECT user_id, ts,
             |  round(1e-9 + CASE WHEN coalesce(w,0) > 0 THEN wv/w ELSE value END,4) AS tw_mean,
             |  round(1e-9 + CASE WHEN coalesce(w,0) > 0
             |    THEN greatest(wv2/w - (wv/w)*(wv/w), 0) ELSE 0 END,4) AS tw_var,
             |  round(1e-9 + CASE WHEN coalesce(w,0) > 0
             |    THEN sqrt(greatest(wv2/w - (wv/w)*(wv/w), 0)) ELSE 0 END,4) AS tw_std
             |FROM y ORDER BY 1,2""".stripMargin)),

    // time-windowed time-weighted moments over the last 1h (ops.rs:2382):
    // same committed-Δt weighting, retention ts_i >= ts_k - 1h (an entry
    // exactly window old is retained, stats.rs:87-89). Oracle folds the
    // running prefix into a list and filters it per row (DuckDB lambdas).
    "evt_tw_timewin" -> Q(
      (s, d) => ScanOps.timeWindowedTimeWeighted(ev(s, d), HOUR).df
        .select(col("user_id"), col("ts"), r4(col("tw_mean")).as("tw_mean"),
          r4(col("tw_var")).as("tw_var"), r4(col("tw_std")).as("tw_std"))
        .orderBy("user_id", "ts"),
      Some(s"""WITH x AS (SELECT user_id, ts, seq, value,
             |    CAST(lead(ts) OVER w - ts AS DOUBLE) AS dt
             |  FROM ($E) WINDOW w AS (PARTITION BY user_id ORDER BY ts, seq)),
             |y AS (SELECT user_id, ts, value,
             |    list(struct_pack(t := ts, vdt := value*dt,
             |      v2dt := value*value*dt, dt := dt)) OVER
             |      (PARTITION BY user_id ORDER BY ts, seq
             |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS items
             |  FROM x),
             |z AS (SELECT user_id, ts, value,
             |    list_sum(list_transform(list_filter(coalesce(items, []),
             |      s -> s.t >= ts - ${HOUR}), s -> s.vdt)) AS wv,
             |    list_sum(list_transform(list_filter(coalesce(items, []),
             |      s -> s.t >= ts - ${HOUR}), s -> s.v2dt)) AS wv2,
             |    list_sum(list_transform(list_filter(coalesce(items, []),
             |      s -> s.t >= ts - ${HOUR}), s -> s.dt)) AS w
             |  FROM y)
             |SELECT user_id, ts,
             |  round(1e-9 + CASE WHEN coalesce(w,0) > 0 THEN wv/w ELSE value END,4) AS tw_mean,
             |  round(1e-9 + CASE WHEN coalesce(w,0) > 0
             |    THEN greatest(wv2/w - (wv/w)*(wv/w), 0) ELSE 0 END,4) AS tw_var,
             |  round(1e-9 + CASE WHEN coalesce(w,0) > 0
             |    THEN sqrt(greatest(wv2/w - (wv/w)*(wv/w), 0)) ELSE 0 END,4) AS tw_std
             |FROM z ORDER BY 1,2""".stripMargin)),

    // rolling(5) time-weighted median (ops.rs:2502, stats.rs:164-172): the
    // last-5-samples buffer weighted by committed Δt; median = value where
    // cumulative weight (ordered by value) crosses half, exact-half
    // averaging the two straddling values; no positive weights → current
    // sample. Oracle unnests the per-row item window and replays the
    // crossing with window sums.
    "evt_tw_median" -> Q(
      (s, d) => ScanOps.medianTimeWeighted(ev(s, d), "rolling", windowCount = 5).df
        .select(col("user_id"), col("ts"), r4(col("tw_median")).as("tw_median"))
        .orderBy("user_id", "ts"),
      Some(s"""WITH x AS (SELECT user_id, ts, seq, value,
             |    CAST(lead(ts) OVER w - ts AS DOUBLE) AS dt
             |  FROM ($E) WINDOW w AS (PARTITION BY user_id ORDER BY ts, seq)),
             |y AS (SELECT user_id, ts, seq, value,
             |    list(struct_pack(v := value, w := dt)) OVER
             |      (PARTITION BY user_id ORDER BY ts, seq
             |       ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING) AS items
             |  FROM x),
             |f AS (SELECT user_id, ts, seq, it.v AS v, it.w AS w
             |  FROM (SELECT user_id, ts, seq, unnest(coalesce(items, [])) AS it FROM y)
             |  WHERE it.w > 0),
             |c AS (SELECT user_id, ts, seq, v, w,
             |    sum(w) OVER (PARTITION BY user_id, ts, seq ORDER BY v
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             |    sum(w) OVER (PARTITION BY user_id, ts, seq) AS tot,
             |    lead(v) OVER (PARTITION BY user_id, ts, seq ORDER BY v) AS nxt
             |  FROM f),
             |m AS (SELECT user_id, ts, seq,
             |    min(CASE WHEN cum > tot/2 THEN v END) AS over_v,
             |    min(CASE WHEN cum = tot/2 THEN (v + nxt)/2 END) AS eq_v
             |  FROM c GROUP BY 1,2,3)
             |SELECT y.user_id, y.ts,
             |  round(1e-9 + coalesce(m.eq_v, m.over_v, y.value),4) AS tw_median
             |FROM y LEFT JOIN m ON y.user_id = m.user_id AND y.ts = m.ts AND y.seq = m.seq
             |ORDER BY 1,2""".stripMargin)),

    "evt_tw_cumulative" -> Q(
      (s, d) => ScanOps.cumulativeTimeWeighted(ev(s, d)).df
        .select(col("user_id"), col("ts"), r4(col("tw_mean")).as("tw_mean"),
          r4(col("tw_var")).as("tw_var"), r4(col("tw_std")).as("tw_std"))
        .orderBy("user_id", "ts"),
      Some(s"""WITH x AS (
             |  SELECT user_id, ts, seq, value,
             |    lag(value) OVER w AS pv,
             |    ts - lag(ts) OVER w AS dt,
             |    first_value(ts) OVER w AS t0
             |  FROM ($E) WINDOW w AS (PARTITION BY user_id ORDER BY ts, seq)),
             |y AS (
             |  SELECT user_id, ts, value,
             |    sum(pv * dt) OVER w2 AS wv,
             |    sum(pv * pv * dt) OVER w2 AS wv2,
             |    CAST(ts - t0 AS DOUBLE) AS w
             |  FROM x WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, seq
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             |SELECT user_id, ts,
             |  round(1e-9 + CASE WHEN w > 0 THEN wv/w ELSE value END,4) AS tw_mean,
             |  round(1e-9 + CASE WHEN w > 0 THEN greatest(wv2/w - (wv/w)*(wv/w), 0) ELSE 0 END,4) AS tw_var,
             |  round(1e-9 + CASE WHEN w > 0 THEN sqrt(greatest(wv2/w - (wv/w)*(wv/w), 0)) ELSE 0 END,4) AS tw_std
             |FROM y ORDER BY 1,2""".stripMargin))
  )
}
