package graft

import graft.Queries.Q
import graft.functions.HalfUp.r4
import graft.market.{BookUpdateIn, MarketEventRow, MarketEvents, OrderBookOp}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Market-data queries: the order-book state machine under the driver's
  * CORRECTNESS gate. The update stream is derived deterministically from
  * the `events` table (instrument = user_id): each user's first event is an
  * empty snapshot (book goes Live, unsequenced), every later event an
  * unsequenced level delta — side from event-id parity, small integer
  * price/qty grids so levels collide and zero qtys exercise removals. The
  * DuckDB oracle recomputes top-of-book relationally as last-qty-per-level
  * (`arg_max` over updates at-or-before each row).
  *
  * Gap / stale-snapshot / buffering semantics are NOT SQL-expressible —
  * those paths are gated by the OrderBookSpec goldens + the
  * batch↔streaming parity test (reference `market.rs:50-83,810-1120`).
  */
object QueriesMarket {

  /** Deterministic book-update stream from events (see object doc). */
  def updatesFromEvents(s: SparkSession, d: String): Dataset[BookUpdateIn] = {
    import s.implicits._
    val w = Window.partitionBy("user_id").orderBy("ts", "seq")
    Tables.events(s, d).df
      .select(col("user_id"), col("ts"), col("seq"), col("value"))
      .withColumn("rn", row_number().over(w))
      .as[(Long, Long, Long, Double, Int)]
      .map { case (uid, ts, seq, value, rn) =>
        if (rn == 1) // empty snapshot: book Live, unsequenced venue
          BookUpdateIn(ts, seq, uid.toString, "snapshot", Nil, Nil, Nil, None, None)
        else {
          val side = if (seq % 2 == 0) "bid" else "ask"
          val price = BigDecimal(math.floor(value).toLong % 20)
          val qty = BigDecimal(math.floor(value * 10).toLong % 7)
          BookUpdateIn(ts, seq, uid.toString, "delta", Nil, Nil,
            Seq((side, price, qty)), None, None)
        }
      }
  }

  /** Deterministic mixed MarketEvent stream from events: purchases are
    * trade prints (price/qty on the book_top grids, aggressor side from
    * id parity), everything else a book delta — the demux input shape. */
  def marketEventsFromEvents(s: SparkSession, d: String): Dataset[MarketEventRow] = {
    import s.implicits._
    Tables.events(s, d).df
      .select(col("user_id"), col("ts"), col("seq"), col("value"), col("event_type"))
      .as[(Long, Long, Long, Double, String)]
      .map { case (uid, ts, seq, value, et) =>
        if (et == "purchase")
          MarketEventRow(ts, seq, uid.toString, "trade", Some(ts - 1000L),
            Some(if (seq % 2 == 0) "buy" else "sell"),
            Some(BigDecimal(math.floor(value).toLong % 20)),
            Some(BigDecimal(math.floor(value * 10).toLong % 7 + 1)),
            Some(s"t$seq"), Nil, Nil, Nil, None, None)
        else
          MarketEventRow(ts, seq, uid.toString, "delta", None, None, None, None,
            None, Nil, Nil, Seq(("bid", BigDecimal(1), BigDecimal(1))), None, None)
      }
  }

  val entries: Seq[(String, Q)] = Seq(

    // trades() demux (market.rs:1262-1351): the typed trade stream out of
    // the mixed variant stream — pure filter+projection, no shuffle.
    "mkt_trades" -> Q(
      (s, d) => MarketEvents.trades(marketEventsFromEvents(s, d)).toDF()
        .select(col("instrument").cast("long").as("user_id"), col("ts"), col("seq"),
          col("side"), col("price").cast("double").as("price"),
          col("qty").cast("double").as("qty"))
        .orderBy("user_id", "seq"),
      Some("""SELECT user_id, epoch_ns(ts) AS ts, event_id AS seq,
             |  CASE WHEN event_id % 2 = 0 THEN 'buy' ELSE 'sell' END AS side,
             |  CAST(CAST(floor(value) AS BIGINT) % 20 AS DOUBLE) AS price,
             |  CAST(CAST(floor(value*10) AS BIGINT) % 7 + 1 AS DOUBLE) AS qty
             |FROM events WHERE event_type='purchase' ORDER BY 1,3""".stripMargin)),

    // Running VWAP per instrument over the trade stream — the benchmark
    // execution-quality signal every trading pipeline maintains. Shape:
    // two prefix-window sums over ONE (instrument) exchange; both engines
    // accumulate in the same (ts, seq) order, and the grid prices/qtys
    // are small integers, so the sums are fp-exact and only the final
    // ratio needs the shared rounding.
    "mkt_vwap" -> Q(
      (s, d) => {
        val t = MarketEvents.trades(marketEventsFromEvents(s, d)).toDF()
          .select(col("instrument").cast("long").as("user_id"), col("ts"), col("seq"),
            col("price").cast("double").as("price"), col("qty").cast("double").as("qty"))
        val w = Window.partitionBy("user_id").orderBy("ts", "seq")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t.withColumn("vwap",
            r4(sum(col("price") * col("qty")).over(w) / sum(col("qty")).over(w)))
          .select("user_id", "ts", "seq", "vwap").orderBy("user_id", "seq")
      },
      Some("""WITH t AS (SELECT user_id, epoch_ns(ts) AS ts, event_id AS seq,
             |    CAST(CAST(floor(value) AS BIGINT) % 20 AS DOUBLE) AS price,
             |    CAST(CAST(floor(value*10) AS BIGINT) % 7 + 1 AS DOUBLE) AS qty
             |  FROM events WHERE event_type = 'purchase')
             |SELECT user_id, ts, seq,
             |  round(1e-9 + sum(price*qty) OVER wnd / sum(qty) OVER wnd, 4) AS vwap
             |FROM t WINDOW wnd AS (PARTITION BY user_id ORDER BY ts, seq
             |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |ORDER BY 1, 3""".stripMargin)),

    // Daily OHLCV bars per instrument — the canonical market aggregation.
    // Open/close are conditional aggregates on ascending/descending row
    // numbers; both windows and the rollup share one (instrument, day)
    // partitioning (integral ns-clock day arithmetic, as evt_cohort).
    "mkt_ohlc" -> Q(
      (s, d) => {
        val dayNs = 24L * 3600L * 1000000000L
        val t = MarketEvents.trades(marketEventsFromEvents(s, d)).toDF()
          .select(col("instrument").cast("long").as("user_id"), col("ts"), col("seq"),
            col("price").cast("double").as("price"), col("qty").cast("double").as("qty"))
          .withColumn("day", expr(s"ts DIV $dayNs"))
        val wa = Window.partitionBy("user_id", "day").orderBy("ts", "seq")
        val wd = Window.partitionBy("user_id", "day")
          .orderBy(col("ts").desc, col("seq").desc)
        t.withColumn("ra", row_number().over(wa))
          .withColumn("rd", row_number().over(wd))
          .groupBy("user_id", "day")
          .agg(max(when(col("ra") === 1, col("price"))).as("open"),
            max("price").as("high"), min("price").as("low"),
            max(when(col("rd") === 1, col("price"))).as("close"),
            sum("qty").as("volume"), count(lit(1)).as("n_trades"))
          .orderBy("user_id", "day")
      },
      Some(s"""WITH t AS (SELECT user_id, epoch_ns(ts) AS ts, event_id AS seq,
             |    CAST(CAST(floor(value) AS BIGINT) % 20 AS DOUBLE) AS price,
             |    CAST(CAST(floor(value*10) AS BIGINT) % 7 + 1 AS DOUBLE) AS qty
             |  FROM events WHERE event_type = 'purchase'),
             |d AS (SELECT *, ts // ${24L * 3600L * 1000000000L} AS day,
             |    row_number() OVER (PARTITION BY user_id, ts // ${24L * 3600L * 1000000000L}
             |      ORDER BY ts, seq) AS ra,
             |    row_number() OVER (PARTITION BY user_id, ts // ${24L * 3600L * 1000000000L}
             |      ORDER BY ts DESC, seq DESC) AS rd
             |  FROM t)
             |SELECT user_id, day, max(CASE WHEN ra = 1 THEN price END) AS open,
             |  max(price) AS high, min(price) AS low,
             |  max(CASE WHEN rd = 1 THEN price END) AS close,
             |  sum(qty) AS volume, count(*)::BIGINT AS n_trades
             |FROM d GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    "book_top" -> Q(
      (s, d) => OrderBookOp.batch(updatesFromEvents(s, d)).toDF()
        .select(col("instrument").cast("long").as("user_id"), col("ts"), col("seq"),
          col("best_bid").cast("double").as("best_bid"),
          col("best_bid_qty").cast("double").as("best_bid_qty"),
          col("best_ask").cast("double").as("best_ask"),
          col("best_ask_qty").cast("double").as("best_ask_qty"),
          col("bid_depth").cast("long").as("bid_depth"),
          col("ask_depth").cast("long").as("ask_depth"))
        .orderBy("user_id", "seq"),
      Some("""WITH e AS (SELECT user_id, epoch_ns(ts) AS ts, event_id AS seq, value,
             |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
             |  FROM events),
             |d AS (SELECT user_id, rn,
             |    CASE WHEN seq % 2 = 0 THEN 'bid' ELSE 'ask' END AS side,
             |    CAST(floor(value) AS BIGINT) % 20 AS price,
             |    CAST(floor(value * 10) AS BIGINT) % 7 AS qty
             |  FROM e WHERE rn > 1),
             |lv AS (SELECT r.user_id, r.rn, q.side, q.price, arg_max(q.qty, q.rn) AS qty
             |  FROM e r JOIN d q ON q.user_id = r.user_id AND q.rn <= r.rn
             |  GROUP BY 1,2,3,4),
             |top AS (SELECT r.user_id, r.ts, r.seq,
             |    CAST((max(l.price) FILTER (WHERE l.side='bid' AND l.qty<>0)) AS DOUBLE) AS best_bid,
             |    CAST((arg_max(l.qty, l.price) FILTER (WHERE l.side='bid' AND l.qty<>0)) AS DOUBLE) AS best_bid_qty,
             |    CAST((min(l.price) FILTER (WHERE l.side='ask' AND l.qty<>0)) AS DOUBLE) AS best_ask,
             |    CAST((arg_min(l.qty, l.price) FILTER (WHERE l.side='ask' AND l.qty<>0)) AS DOUBLE) AS best_ask_qty,
             |    count(*) FILTER (WHERE l.side='bid' AND l.qty<>0) AS bid_depth,
             |    count(*) FILTER (WHERE l.side='ask' AND l.qty<>0) AS ask_depth
             |  FROM e r LEFT JOIN lv l ON l.user_id = r.user_id AND l.rn = r.rn
             |  GROUP BY 1,2,3)
             |SELECT user_id, ts, seq, best_bid, best_bid_qty, best_ask, best_ask_qty,
             |  bid_depth, ask_depth
             |FROM top ORDER BY 1,3""".stripMargin)),

    // order_book(depth): the top-3 level image per side, flattened to
    // (px, qty) column pairs so the DuckDB compare is exact. The oracle
    // ranks the relational level image per observation row (bids by price
    // desc, asks asc) and pivots ranks 1..3; rows with fewer levels carry
    // NULLs, matching the machine's shorter-than-K arrays.
    "book_depth3" -> Q(
      (s, d) => {
        val levelCols = (1 to 3).flatMap { i =>
          Seq(("bid_levels", s"bid_px_$i", "_1"), ("bid_levels", s"bid_qty_$i", "_2"),
            ("ask_levels", s"ask_px_$i", "_1"), ("ask_levels", s"ask_qty_$i", "_2"))
            .map { case (src, out, f) =>
              get(col(src), lit(i - 1)).getField(f).cast("double").as(out) }
        }
        OrderBookOp.batch(updatesFromEvents(s, d), depth = 3).toDF()
          .select(Seq(col("instrument").cast("long").as("user_id"), col("ts"),
            col("seq")) ++ levelCols: _*)
          .orderBy("user_id", "seq")
      },
      Some {
        val pivots = (1 to 3).flatMap { i =>
          Seq(
            s"CAST(max(CASE WHEN k.side='bid' AND k.k=$i THEN k.price END) AS DOUBLE) AS bid_px_$i",
            s"CAST(max(CASE WHEN k.side='bid' AND k.k=$i THEN k.qty END) AS DOUBLE) AS bid_qty_$i",
            s"CAST(max(CASE WHEN k.side='ask' AND k.k=$i THEN k.price END) AS DOUBLE) AS ask_px_$i",
            s"CAST(max(CASE WHEN k.side='ask' AND k.k=$i THEN k.qty END) AS DOUBLE) AS ask_qty_$i")
        }.mkString(",\n    ")
        s"""WITH e AS (SELECT user_id, epoch_ns(ts) AS ts, event_id AS seq, value,
           |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           |  FROM events),
           |d AS (SELECT user_id, rn,
           |    CASE WHEN seq % 2 = 0 THEN 'bid' ELSE 'ask' END AS side,
           |    CAST(floor(value) AS BIGINT) % 20 AS price,
           |    CAST(floor(value * 10) AS BIGINT) % 7 AS qty
           |  FROM e WHERE rn > 1),
           |lv AS (SELECT r.user_id, r.rn, q.side, q.price, arg_max(q.qty, q.rn) AS qty
           |  FROM e r JOIN d q ON q.user_id = r.user_id AND q.rn <= r.rn
           |  GROUP BY 1,2,3,4),
           |rk AS (SELECT user_id, rn, side, price, qty,
           |    row_number() OVER (PARTITION BY user_id, rn, side
           |      ORDER BY CASE WHEN side='bid' THEN -price ELSE price END) AS k
           |  FROM lv WHERE qty <> 0),
           |top AS (SELECT r.user_id, r.ts, r.seq,
           |    $pivots
           |  FROM e r LEFT JOIN rk k ON k.user_id = r.user_id AND k.rn = r.rn
           |  GROUP BY 1,2,3)
           |SELECT * FROM top ORDER BY user_id, seq""".stripMargin
      })
  )
}
