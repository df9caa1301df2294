package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** A tick-stream over event time — the Spark-native analog of the reference
  * `Stream<T>` (reference: `crates/wingfoil/src/fluent.rs:618`).
  *
  * Contract: `df` carries
  *   - `ts:  Long` — event time in nanoseconds (reference `NanoTime`,
  *     `runtime/time.rs:54`); authoritative clock, never truncated to µs.
  *   - `seq: Long` — total intra-instant order (burst order × source
  *     priority, reference `runtime/burst.rs:17`): rows sharing a `ts` form
  *     one "burst", never coalesced.
  *   - `keys` — optional partition columns. The reference engine is
  *     single-process; at Spark scale every per-stream op is keyed so state
  *     and sorts distribute. An empty `keys` means one global stream
  *     (fixtures/tests only — documented non-scalable, like the reference).
  *   - `valueCol` — the primary value column (reference `Stream<f64>` ops
  *     bind to it); arbitrary extra columns ride along.
  *
  * All operators are lazy plan construction — Catalyst sees one DAG and
  * merges identical window specs, so chained scan ops cost ONE shuffle+sort
  * per (keys) set, not one per op.
  *
  * `spreadN` (round 21, guide §2.5/§2.6 — the [[graft.Tables]] spread /
  * Augurs.seriesOf discipline applied to the keyed-window family): a
  * small-input parallelism hint set by the SOURCE loader when the scan
  * landed in fewer partitions than the session's parallelism (one
  * unsplittable row group at bench scale). When set, the FIRST op that
  * needs ClusteredDistribution(keys) — every `.over(w)` window, the
  * asOfUnion carry-forward, the merge/combine/dataframe instant groupings
  * — replaces its implicit exchange with an explicit
  * `repartition(spreadN, keys)`: REPARTITION_BY_NUM is exempt from AQE
  * coalescing (which re-coalesces kilobyte inputs to ONE partition —
  * 64 MB advisory — serializing every window/sort/scan stage downstream),
  * while the implicit exchange it replaces is not. Same exchange count,
  * same bytes, same values; only the partition count changes. Ops whose
  * output keeps the key partitioning clear the hint, so a chain spreads
  * exactly once; ops that break partitioning (delay's union) keep it for
  * the next keyed consumer. At scale the loader never sets the hint (scan
  * partitions >= parallelism), so no plan changes off local mode.
  * Re-keying consumers (KeyedScan's encoded string key, the market
  * instrument key) read `ticks`/`df` directly and are untouched — the
  * round-20 revert showed a source-side spread taxes exactly them.
  */
final case class Timeline(
    df: DataFrame,
    keys: Seq[String] = Nil,
    valueCol: String = "value",
    spreadN: Option[Int] = None) {

  import Timeline._

  private def keyCols: Seq[Column] = keys.map(col)

  /** Canonical ordered window: one spec shared by every scan op so Catalyst
    * plans a single sort (SURVEY §7.1). */
  def w: WindowSpec = Window.partitionBy(keyCols: _*).orderBy(col("ts"), col("seq"))

  /** The [[spreadN]] replacement exchange: explicit key repartition ahead
    * of a keyed-window/grouping op. `hashpartitioning(keys)` satisfies
    * every ClusteredDistribution whose clustering CONTAINS keys (window
    * over (keys, bucket), groupBy (keys, ts), ...), so the op plans no
    * further exchange — a one-for-one replacement of the implicit one.
    * No-op when the hint is absent (scale, tests) or the stream is
    * keyless (the documented non-scalable single-stream case). */
  private def spreadDf(d: DataFrame): DataFrame = spreadN match {
    case Some(n) if keys.nonEmpty => d.repartition(n, keyCols: _*)
    case _ => d
  }

  /** [[spreadDf]] for multi-stream ops (asOfUnion, merge, combine): the
    * hint is honored when ANY participating stream carries it — the union
    * of n tiny scans is still tiny. */
  private def spreadWith(d: DataFrame, others: Seq[Timeline]): DataFrame =
    (spreadN ++ others.flatMap(_.spreadN)).reduceOption(_ max _) match {
      case Some(n) if keys.nonEmpty => d.repartition(n, keyCols: _*)
      case _ => d
    }

  /** Result wrapper for ops whose OUTPUT keeps the key hash partitioning
    * established by [[spreadDf]]: the hint is consumed — downstream keyed
    * ops see the partitioning satisfied and plan zero exchanges, so a
    * second explicit repartition would be a strictly ADDED shuffle. */
  private def withKeyedDf(d: DataFrame): Timeline = copy(df = d, spreadN = None)

  def wRows(start: Long, end: Long): WindowSpec = w.rowsBetween(start, end)

  /** Time-range window on the ns clock. Inclusive lower bound matches the
    * reference retention rule "an entry exactly `window` old is retained"
    * (reference `stats.rs:87-89`). Ordered by `ts` alone: all rows of a
    * burst share the frame, matching burst-atomic window membership. */
  def wRange(windowNs: Long): WindowSpec =
    Window.partitionBy(keyCols: _*).orderBy(col("ts")).rangeBetween(-windowNs, 0)

  private def v: Column = col(valueCol)

  /** Op input base: every op that ACTIVATES on ticks consumes the emission
    * view (silent slot updates don't fire downstream nodes, reference
    * `op.rs:72-90`); only the as-of carry-forward family reads `df`. */
  private def tdf: DataFrame = ticks

  def select(cols: Column*): DataFrame = df.select(cols: _*)

  private def withDf(d: DataFrame): Timeline = copy(df = d)

  // ───────────────────────── stateless transforms (§2.2) ──────────────────

  /** `map` (reference `ops.rs:113`): value projection. */
  def mapValue(f: Column => Column): Timeline =
    withDf(tdf.withColumn(valueCol, f(v)))

  /** `filter_value` (reference `ops.rs:2716`): pure predicate on own value. */
  def filterValue(pred: Column => Column): Timeline = withDf(tdf.where(pred(v)))

  /** `not` (reference `ops.rs:304`). */
  def notValue(): Timeline = mapValue(c => !c)

  /** `filter_none` (reference `fluent.rs:1403`). */
  def filterNone(): Timeline = withDf(tdf.where(v.isNotNull))

  /** `with_time` (reference `ops.rs:749`): time is already a column. */
  def withTime(): DataFrame = tdf.select((keyCols :+ col("ts") :+ v): _*)

  /** `ticked_at` (reference `ops.rs:778`). */
  def tickedAt(): DataFrame = tdf.select((keyCols :+ col("ts")): _*)

  /** `ticked_at_elapsed` (reference `ops.rs:799-817`): tick times relative
    * to the run start (`ctx.start_time()`), i.e. HistoricalFrom(startNs). */
  def tickedAtElapsed(startNs: Long): DataFrame =
    tdf.select((keyCols :+ (col("ts") - startNs).as("elapsed")): _*)

  /** `collapse` (reference `ops.rs:328`): last item of an array value,
    * quiet if empty. */
  def collapse(): Timeline =
    withDf(tdf.withColumn(valueCol, try_element_at(v, lit(-1))).where(col(valueCol).isNotNull))

  /** `split` (reference `fluent.rs:1393`): a struct-valued stream into one
    * stream per field. */
  def split(f1: String = "_1", f2: String = "_2"): (Timeline, Timeline) =
    (withDf(tdf.withColumn(valueCol, v.getField(f1))),
      withDf(tdf.withColumn(valueCol, v.getField(f2))))

  /** `map_filter` (reference `ops.rs:159`): map + keep flag in one op. */
  def mapFilter(f: Column => Column, keep: Column => Column): Timeline =
    withDf(tdf.where(keep(v)).withColumn(valueCol, f(v)))

  /** `collapse_accumulate` (reference `fluent.rs:1378`): flatten array
    * values (bursts) into the running list of all elements so far.
    * posexplode folds the element position into `seq` (same 1e6 scheme as
    * [[merge]]) so exploded rows have a TOTAL (ts, seq) order — plain
    * explode leaves ties, and a tied window sort is nondeterministic across
    * partitions, scrambling burst element order. Array order is preserved
    * exactly as the reference's flatten.
    *
    * Folding bound, enforced loudly: a burst of ≥ 1e6 elements would
    * collide with the next seq slot, and a composed op that already
    * applied the 1e6 scaling (e.g. [[merge]] then this) could overflow
    * Long — both scramble order silently, so both raise instead. */
  def collapseAccumulate(out: String = "acc"): Timeline = {
    val guarded = when(col("pos") >= 1000000L || abs(col("seq")) > 9000000000000L,
        raise_error(concat(lit("collapseAccumulate: seq*1e6+pos folding out of range "),
          lit("(burst >= 1e6 elements, or seq already 1e6-scaled twice): seq="),
          col("seq").cast("string"), lit(" pos="), col("pos").cast("string"))))
      .otherwise(col("seq") * 1000000L + col("pos"))
    val ex = tdf.select(col("*"), posexplode(v)).drop(valueCol)
      .withColumnRenamed("col", valueCol)
      .withColumn("seq", guarded).drop("pos")
    withDf(ex).accumulate(out)
  }

  // ───────────────────────── rate control / filters (§2.3) ────────────────

  /** `distinct` (reference `ops.rs:187`): suppress CONSECUTIVE duplicates —
    * emit on change, NOT SQL DISTINCT. */
  def distinctConsecutive(): Timeline = {
    val prev = lag(v, 1).over(w)
    withKeyedDf(spreadDf(tdf).withColumn("__prev", prev)
      .where(col("__prev").isNull || v =!= col("__prev"))
      .drop("__prev"))
  }

  /** `difference` (reference `ops.rs:263`): successive delta, quiet first tick. */
  def difference(out: String = "diff"): Timeline = {
    val prev = lag(v, 1).over(w)
    withKeyedDf(spreadDf(tdf).withColumn(out, v - prev).where(col(out).isNotNull))
  }

  /** `limit` (reference `ops.rs:357`): first n ticks per key then quiet. */
  def limitTicks(n: Int): Timeline =
    withKeyedDf(spreadDf(tdf).withColumn("__rn", row_number().over(w)).where(col("__rn") <= n).drop("__rn"))

  /** `count` (reference `ops.rs:2819`): running tick count. */
  def runningCount(out: String = "n"): Timeline =
    withKeyedDf(spreadDf(tdf).withColumn(out, row_number().over(w).cast("long")))

  /** Bucketed throttle: at most one emission per `intervalNs` bucket —
    * the scalable approximation of `throttle` (reference `ops.rs:381`).
    *
    * Which form matches the reference: the reference's `throttle` keeps a
    * RUNNING gate — it emits a tick iff `ts - last_emitted_ts >=
    * interval` (`ops.rs:381-414`) — which is exactly
    * [[graft.ops.ScanOps.throttleExact]], the sequential per-key scan.
    * This bucketed form instead quantizes time into fixed `ts DIV
    * interval` buckets and keeps each bucket's first tick: a pure window
    * expression (no sequential state), so it plans as one per-key window
    * over the shared (keys, ts, seq) sort and scales embarrassingly.
    *
    * When bucket == exact: whenever consecutive emissions land ≥ one full
    * bucket apart — in particular for ticks spaced ≥ `intervalNs` (the
    * throttle is then a no-op) or exactly bucket-aligned feeds. They
    * DIVERGE when a burst straddles a bucket boundary: ticks at
    * 0.9·interval and 1.1·interval sit in different buckets (bucket form
    * emits both, gap 0.2·interval) but the running gate suppresses the
    * second (gap < interval since the last EMISSION). The bucket form
    * guarantees ≤ 1 emission per fixed window; the exact form guarantees
    * ≥ `intervalNs` between consecutive emissions — rate-limit contracts
    * that only coincide on sparse or aligned streams (ScanOpsSpec
    * pins the divergence case). Prefer this form when downstream needs
    * "at most k per wall-window" semantics at scale; use `throttleExact`
    * when reference-exact gap semantics matter. */
  def throttleBucket(intervalNs: Long): Timeline = {
    // integer division: ts ~ 1.7e18 ns exceeds double's exact range
    val bucket = expr(s"ts DIV ${intervalNs}L")
    val wb = Window.partitionBy((keyCols :+ bucket): _*).orderBy(col("ts"), col("seq"))
    withKeyedDf(spreadDf(tdf).withColumn("__rn", row_number().over(wb)).where(col("__rn") === 1).drop("__rn"))
  }

  // ───────────────────────── scans / buffers / shifts (§2.4) ──────────────

  /** `fold`/`scan` for Column-expressible monoids: running aggregate. */
  def runningAgg(aggs: (String, Column => Column)*): Timeline = {
    val frame = wRows(Window.unboundedPreceding, Window.currentRow)
    withKeyedDf(aggs.foldLeft(spreadDf(tdf)) { case (d, (out, f)) => d.withColumn(out, f(v).over(frame)) })
  }

  /** `accumulate` (reference `ops.rs:2843`): all values so far. */
  def accumulate(out: String = "acc"): Timeline =
    withKeyedDf(spreadDf(tdf).withColumn(out, collect_list(v).over(wRows(Window.unboundedPreceding, Window.currentRow))))

  /** `delay` (reference `ops.rs:3090-3155`): re-emit each value `delayNs`
    * later on the engine clock. Output re-sorts on the shifted ts lazily
    * (downstream window specs order on the new ts).
    *
    * Tick-vs-Silent (reference `op.rs:72-90`, delay's "legacy parity"
    * seed): the FIRST value per key is additionally stored into the value
    * slot at its ORIGINAL tick time WITHOUT ticking — passive readers
    * (sample, a join's passive leg) see it before the delay elapses, never
    * a default. Encoded as an extra row flagged `__silent = true`: present
    * in `df` (the slot view, what as-of carry-forward reads), excluded
    * from [[ticks]] (the emission view) and from firing instant-based
    * joins. */
  def delay(delayNs: Long): Timeline = {
    if (delayNs == 0L) return this // zero delay emits inline (ops.rs:3126)
    val base = tdf
    val landed = base.withColumn("ts", col("ts") + delayNs)
      .withColumn("__silent", lit(false))
    // only the SEED leg window gets the spread (replacing its implicit
    // exchange); spreading `base` would add an exchange the landed leg
    // never had. The union's partitioning is unknown either way, so the
    // hint is KEPT for the next keyed consumer (withDf preserves it).
    val seed = spreadDf(base).withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
      .drop("__rn").withColumn("__silent", lit(true))
    withDf(landed.unionByName(seed))
  }

  /** The emission view: rows that actually tick downstream. Identity for
    * streams with no silent slot updates. Terminal consumers (collect,
    * sinks, stateful folds) read this; as-of carry-forward reads `df`. */
  def ticks: DataFrame =
    if (df.columns.contains("__silent")) df.where(!col("__silent")).drop("__silent") else df

  /** `window` (reference `ops.rs:583`): tumbling time window. Emits one row
    * per (key, window) with the collected values ordered by (ts, seq), ts =
    * window end boundary (the flush instant). */
  def tumbling(intervalNs: Long, aggs: Seq[Column] = Nil): DataFrame = {
    val bucket = (expr(s"ts DIV ${intervalNs}L") * intervalNs + intervalNs).as("ts")
    val sorted = spreadDf(tdf).withColumn("__b", bucket)
    val as = if (aggs.isEmpty)
      Seq(sort_array(collect_list(struct(col("ts"), col("seq"), v))).as("rows"))
    else aggs
    sorted.groupBy((keyCols :+ col("__b").as("ts")): _*).agg(as.head, as.tail: _*)
  }

  /** `buffer` (reference `ops.rs:659`): count window flushing every
    * `capacity` values per key (+ final partial flush, as the reference). */
  def countBuffer(capacity: Int, aggs: Seq[Column] = Nil): DataFrame = {
    val bucketed = spreadDf(tdf)
      .withColumn("__rn", row_number().over(w))
      .withColumn("__b", expr(s"(__rn - 1) DIV $capacity"))
    val as = if (aggs.isEmpty)
      Seq(max(col("ts")).as("ts"), sort_array(collect_list(struct(col("ts"), col("seq"), v))).as("rows"))
    else max(col("ts")).as("ts") +: aggs
    bucketed.groupBy((keyCols :+ col("__b").as("bucket")): _*).agg(as.head, as.tail: _*)
  }

  // ───────────────────────── as-of family (§2.4/2.5) ──────────────────────
  //
  // The general translation of every "passive input" in the reference
  // (`sample` ops.rs:2867, `join_passive` ops.rs:3033, `filter` ops.rs:2671,
  // `join` ops.rs:2983): union both tick sources tagged with a priority,
  // carry the passive side's latest value forward with
  // last(_, ignoreNulls).over(ordered window), keep the triggering rows.
  // ONE shuffle+sort regardless of how many carried columns.

  /** Union-and-carry primitive. `sides` = (timeline, columns to carry).
    * Returns df with columns: keys, ts, seq, __src, and every carried column
    * filled with the latest value at-or-before each row. `seq` is re-derived
    * so that same-ts rows order by (source priority, original seq) —
    * matching the reference's wiring-order tie-break (`fluent.rs:940-942`). */
  def asOfUnion(sides: Seq[(Timeline, Seq[String])]): DataFrame = {
    require(sides.nonEmpty)
    val allCarried = sides.flatMap(_._2)
    val tagged = sides.zipWithIndex.map { case ((t, carried), pri) =>
      // silent slot updates (delay's seed) join the carry-forward window but
      // must never act as a trigger row — the Tick::Silent contract
      val silent = if (t.df.columns.contains("__silent")) col("__silent")
        else lit(false).as("__silent")
      val base = t.df.select(
        (t.keys.map(col) :+ col("ts") :+ col("seq") :+ lit(pri).as("__src") :+ silent) ++
          allCarried.map(c => if (carried.contains(c)) col(c) else lit(null).cast(
            sides.find(_._2.contains(c)).get._1.df.schema(c).dataType).as(c)): _*)
      base
    }
    val unioned = spreadWith(tagged.reduce(_ unionByName _), sides.map(_._1))
    val wAll = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("ts"), col("__src"), col("seq"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    allCarried.foldLeft(unioned) { (d, c) =>
      d.withColumn(c, last(col(c), ignoreNulls = true).over(wAll))
    }
  }

  /** `sample` (reference `ops.rs:2867`): emit this stream's held value at
    * each tick of `trigger`. Quiet until the first value tick. */
  def sample(trigger: Timeline): Timeline = {
    val u = asOfUnion(Seq((this, Seq(valueCol)), (trigger, Nil)))
    withKeyedDf(u.where(col("__src") === 1 && !col("__silent") && col(valueCol).isNotNull)
      .drop("__src", "__silent"))
  }

  /** Keep only the LAST union row per (keys, ts): one emission per engine
    * cycle, carrying every value updated at that instant — the row model of
    * "a node fires once per cycle after its upstreams" (SURVEY §3.1). */
  private def lastPerInstant(u: DataFrame): DataFrame = {
    val wTs = Window.partitionBy((keyCols :+ col("ts")): _*)
      .orderBy(col("__src").desc, col("seq").desc)
    val wInst = Window.partitionBy((keyCols :+ col("ts")): _*)
    u.withColumn("__last", row_number().over(wTs))
      // an instant where ONLY silent slot updates occurred fires nothing
      .withColumn("__real", max(when(col("__silent"), 0).otherwise(1)).over(wInst))
      .where(col("__last") === 1 && col("__real") === 1)
      .drop("__last", "__real", "__silent")
  }

  /** `join` (reference `ops.rs:2983`): zip-latest — ticks when EITHER side
    * ticks, combining latest values. One emission per instant (a cycle where
    * both tick fires the node once). Deviation from the reference noted:
    * wingfoil reads `T::default()` from a never-ticked input slot
    * (`interp.rs:1305`); we stay quiet until both sides have ticked, which
    * is the well-defined analog for replayed history. */
  def joinLatest(other: Timeline, thisOut: String, otherOut: String): Timeline = {
    val l = withDf(df.withColumnRenamed(valueCol, thisOut)).copy(valueCol = thisOut)
    val r = other.withDf(other.df.withColumnRenamed(other.valueCol, otherOut)).copy(valueCol = otherOut)
    val u = asOfUnion(Seq((l, Seq(thisOut)), (r, Seq(otherOut))))
    withKeyedDf(lastPerInstant(u)
      .where(col(thisOut).isNotNull && col(otherOut).isNotNull).drop("__src"))
  }

  /** `join_passive` (reference `ops.rs:3033`): only `this` triggers; `other`
    * is sampled. The passive side orders FIRST within an instant — in the
    * reference, a same-cycle passive tick is visible to the join (upstream
    * fires earlier in the cycle). */
  def joinPassive(other: Timeline, thisOut: String, otherOut: String): Timeline = {
    val l = withDf(df.withColumnRenamed(valueCol, thisOut)).copy(valueCol = thisOut)
    val r = other.withDf(other.df.withColumnRenamed(other.valueCol, otherOut)).copy(valueCol = otherOut)
    val u = asOfUnion(Seq((r, Seq(otherOut)), (l, Seq(thisOut))))
    withKeyedDf(u.where(col("__src") === 1 && !col("__silent") && col(otherOut).isNotNull)
      .drop("__src", "__silent"))
  }

  /** `join3` (reference `ops.rs:687`): 3-ary zip-latest — ticks when ANY of
    * the three sides ticks, one emission per instant carrying all three
    * latest values; quiet until every side has ticked. Same carry-forward
    * primitive as [[joinLatest]] (asOfUnion takes n sides — ONE shuffle+sort
    * regardless of arity, the reference's single-MergeN-node lesson,
    * `fluent.rs:944-949`). */
  def join3(b: Timeline, c: Timeline, out1: String, out2: String, out3: String): Timeline = {
    val s1 = copy(df = df.withColumnRenamed(valueCol, out1), valueCol = out1)
    val s2 = b.copy(df = b.df.withColumnRenamed(b.valueCol, out2), valueCol = out2)
    val s3 = c.copy(df = c.df.withColumnRenamed(c.valueCol, out3), valueCol = out3)
    val u = asOfUnion(Seq((s1, Seq(out1)), (s2, Seq(out2)), (s3, Seq(out3))))
    copy(df = lastPerInstant(u)
      .where(col(out1).isNotNull && col(out2).isNotNull && col(out3).isNotNull)
      .drop("__src"), spreadN = None)
  }

  // ───────────────────── fallible twins (§2.2/2.5) ─────────────────────────
  //
  // The reference's try_* ops abort the whole run on Err
  // (`tests/fallibility.rs`); the Spark abort contract is an exception from
  // a raise_error expression → task failure → job failure. The `ok`
  // predicate is the Result boundary: rows failing it raise.

  /** `try_map` (reference `ops.rs:136`): map whose failure aborts the run. */
  def tryMapValue(f: Column => Column, ok: Column => Column,
      msg: String = "try_map failed"): Timeline =
    copy(df = df.withColumn(valueCol,
      when(ok(v), f(v)).otherwise(raise_error(concat(lit(msg + ": value="), v.cast("string"))))))

  /** `try_join` (reference `ops.rs:3009`): zip-latest + fallible combine. */
  def tryJoinLatest(other: Timeline, thisOut: String, otherOut: String,
      combine: (Column, Column) => Column, ok: (Column, Column) => Column,
      out: String = "value", msg: String = "try_join failed"): Timeline = {
    val j = joinLatest(other, thisOut, otherOut)
    j.copy(df = j.df.withColumn(out,
      when(ok(col(thisOut), col(otherOut)), combine(col(thisOut), col(otherOut)))
        .otherwise(raise_error(lit(msg)))), valueCol = out)
  }

  /** `try_join_passive` (reference `ops.rs:3064`). */
  def tryJoinPassive(other: Timeline, thisOut: String, otherOut: String,
      combine: (Column, Column) => Column, ok: (Column, Column) => Column,
      out: String = "value", msg: String = "try_join failed"): Timeline = {
    val j = joinPassive(other, thisOut, otherOut)
    j.copy(df = j.df.withColumn(out,
      when(ok(col(thisOut), col(otherOut)), combine(col(thisOut), col(otherOut)))
        .otherwise(raise_error(lit(msg)))), valueCol = out)
  }

  /** `try_join3` (reference `ops.rs:718`). */
  def tryJoin3(b: Timeline, c: Timeline, out1: String, out2: String, out3: String,
      combine: (Column, Column, Column) => Column,
      ok: (Column, Column, Column) => Column,
      out: String = "value", msg: String = "try_join3 failed"): Timeline = {
    val j = join3(b, c, out1, out2, out3)
    j.copy(df = j.df.withColumn(out,
      when(ok(col(out1), col(out2), col(out3)), combine(col(out1), col(out2), col(out3)))
        .otherwise(raise_error(lit(msg)))), valueCol = out)
  }

  /** `filter` on a condition STREAM (reference `ops.rs:2671`): a latch — the
    * held condition gates this stream's ticks, and condition ticks resample
    * the held source (after its first tick). One emission per instant. */
  def filterGate(cond: Timeline): Timeline = {
    val c = cond.withDf(cond.df.withColumnRenamed(cond.valueCol, "__cond")).copy(valueCol = "__cond")
    val u = asOfUnion(Seq((this, Seq(valueCol)), (c, Seq("__cond"))))
    withKeyedDf(lastPerInstant(u)
      .where(col("__cond") && col(valueCol).isNotNull).drop("__src", "__cond"))
  }

  /** `merge` (reference `ops.rs:3156`) / `merge_all` (`ops.rs:3200`): union;
    * same-instant tie → earliest-supplied input wins, dropping later sources'
    * rows for that instant entirely (the reference emits one winner per
    * cycle; a winning burst survives whole). */
  def merge(others: Timeline*): Timeline = {
    val tagged = (this +: others).zipWithIndex.map { case (t, pri) =>
      t.ticks.select((t.keys.map(col) :+ col("ts") :+ col("seq") :+
        col(t.valueCol).as(valueCol) :+ lit(pri).as("__pri")): _*)
    }
    val u = spreadWith(tagged.reduce(_ unionByName _), others)
    val wTs = Window.partitionBy((keyCols :+ col("ts")): _*)
    withKeyedDf(u.withColumn("__win", min(col("__pri")).over(wTs))
      .where(col("__pri") === col("__win"))
      .drop("__win").withColumn("seq", col("__pri") * 1000000L + col("seq")).drop("__pri"))
  }

  /** `combine` (reference `ops.rs:3333`): group ALL same-instant ticks of n
    * streams into one burst row, ordered by (source priority, seq). */
  def combine(others: Timeline*): DataFrame = {
    val tagged = (this +: others).zipWithIndex.map { case (t, pri) =>
      t.ticks.select((t.keys.map(col) :+ col("ts") :+ col("seq") :+
        col(t.valueCol).as(valueCol) :+ lit(pri).as("__pri")): _*)
    }
    spreadWith(tagged.reduce(_ unionByName _), others)
      .groupBy((keyCols :+ col("ts")): _*)
      .agg(array_sort(collect_list(struct(col("__pri"), col("seq"), v))).as("burst"))
  }

  // ───────────────────────── statistics (§2.7, count-weighted) ────────────
  //
  // Conventions matched to the reference (`stats.rs:18-186`):
  //   var/std: SAMPLE (ddof=1), 0.0 until two samples  → coalesce(var_samp, 0)
  //   median: even count averages the two middle values → percentile 0.5
  //   time windows: inclusive lower bound (rangeBetween is inclusive).

  /** Exact median of a sorted array column: even count averages the two
    * middle values (reference `stats.rs:53-55`). */
  private def medianOf(arr: Column): Column = {
    val n = size(arr)
    val mid = floor((n + lit(1)) / 2).cast("int") // Column./ is double division
    val lo = floor(n / 2).cast("int")
    when(n % 2 === 1, element_at(arr, mid))
      .otherwise((element_at(arr, lo) + element_at(arr, lo + 1)) / 2.0)
  }

  private def statOver(stat: String, c: Column, frame: WindowSpec): Column = stat match {
    case "sum"    => sum(c).over(frame)
    case "mean"   => avg(c).over(frame)
    case "min"    => min(c).over(frame)
    case "max"    => max(c).over(frame)
    // 0.0 until two samples (stats.rs:43-46)
    case "var"    => coalesce(var_samp(c).over(frame), lit(0.0))
    case "std"    => coalesce(stddev_samp(c).over(frame), lit(0.0))
  }

  /** Each (stat, out) over the value column in `frame`. The median has no
    * window aggregate (Spark's `median` rejects frames), so it is the
    * collect-sort-pick over the frame — memory ∝ frame size, the same
    * bound as the reference's recompute-per-tick median
    * (`stats.rs:82-85`). The sorted frame list is ONE temporary column
    * the median reads: inlined into each of [[medianOf]]'s uses, the
    * Window node evaluated one `collect_list` and one sort per use. */
  private def withStats(frame: WindowSpec, stats: Seq[(String, String)]): Timeline =
    withKeyedDf(stats.foldLeft(spreadDf(df)) {
      case (d, ("median", out)) =>
        val tmp = s"__sorted_$out"
        d.withColumn(tmp, sort_array(collect_list(v).over(frame)))
          .withColumn(out, medianOf(col(tmp))).drop(tmp)
      case (d, (stat, out)) => d.withColumn(out, statOver(stat, v, frame))
    })

  /** `rolling_*` (reference `ops.rs:984-1309`): last-N-values window. */
  def rolling(n: Int, stats: (String, String)*): Timeline =
    withStats(wRows(-(n - 1).toLong, 0), stats)

  /** `cumulative_*` (reference `ops.rs:1339-1596`): expanding window. */
  def cumulative(stats: (String, String)*): Timeline =
    withStats(wRows(Window.unboundedPreceding, Window.currentRow), stats)

  /** `time_windowed_*` (reference `ops.rs:1597-2114`): last-Δt window on the
    * ns clock; an entry exactly `windowNs` old is retained (stats.rs:87-89). */
  def timeWindowed(windowNs: Long, stats: (String, String)*): Timeline =
    withStats(wRange(windowNs), stats)

  // ───────────────────────── topology (§2.5/2.11) ─────────────────────────

  /** `fan` (reference `fluent.rs:963`): n parallel branches of this stream,
    * merged back (merge tie-break applies). Pure plan topology — Catalyst
    * sees one scan feeding n branches. */
  def fan(n: Int)(branch: (Timeline, Int) => Timeline): Timeline = {
    require(n >= 1)
    val bs = (0 until n).map(i => branch(this, i))
    bs.head.merge(bs.tail: _*)
  }

  /** `map_n` (reference `fluent.rs:954`): chain a transform n times —
    * bounded repetition sugar at plan-construction time. */
  def mapN(n: Int)(f: (Timeline, Int) => Timeline): Timeline =
    (0 until n).foldLeft(this)((t, i) => f(t, i))

  /** `spawn_map` (reference `fluent.rs:1107-1138`): run a sub-graph over
    * this stream "on its own worker". In the reference that moves work to a
    * producer thread with timestamped forwarding; Spark is already
    * distributed — a worker sub-graph IS a sub-plan, so this is plan
    * composition with the same determinism contract (the forwarded rows
    * keep their (ts, seq)). Kept as an explicit op so wiring that uses the
    * reference's topology reads 1:1. */
  def spawnMap(build: Timeline => Timeline): Timeline = build(this)

  /** `demux` (reference `interp.rs:4064`): route each row to one of n
    * branches by `route(value)` ∈ [0, n); out-of-range or null routes land
    * on the overflow branch (the reference's overflow child). n+1 filtered
    * branches of one scan — no shuffle. */
  def demux(n: Int, route: Column => Column): (IndexedSeq[Timeline], Timeline) = {
    val r = route(v)
    ((0 until n).map(i => withDf(df.where(r === i))),
      withDf(df.where(r.isNull || r < 0 || r >= n)))
  }

  // ───────────────────────── sessionization (extension) ───────────────────

  /** Gap-based sessionization: a new session starts when the gap from the
    * previous tick exceeds `gapNs`. (Training-pipeline extension op; the
    * reference's dynamic_group keyed-lifecycle analog for event data.) */
  def sessionize(gapNs: Long, out: String = "session_id"): Timeline = {
    val gap = (col("ts") - lag(col("ts"), 1).over(w) > gapNs).cast("long")
    withKeyedDf(spreadDf(df).withColumn("__new", coalesce(gap, lit(1L)))
      .withColumn(out, sum(col("__new")).over(wRows(Window.unboundedPreceding, Window.currentRow)))
      .drop("__new"))
  }
}

object Timeline {

  /** §2.14 `build_dataframe` (reference
    * `wingfoil-python/examples/dataframe.py:1-58`): outer-join n streams on
    * engine time into ONE wide frame — a row per (keys, ts) instant where
    * ANY stream ticked; each named column carries that stream's value at
    * that instant (the last of its burst, the node's end-of-cycle slot),
    * null where it didn't tick. Spark is the native home of this feature:
    * one union + one hash aggregate, no carry-forward window needed. All
    * streams must share the same key columns. */
  def dataframe(streams: Seq[(String, Timeline)]): DataFrame = {
    require(streams.nonEmpty)
    val ks = streams.head._2.keys
    require(streams.forall(_._2.keys == ks), "streams must share key columns")
    val tagged = streams.zipWithIndex.map { case ((_, t), i) =>
      t.ticks.select((ks.map(col) :+ col("ts") :+ col("seq") :+
        lit(i).as("__src") :+ col(t.valueCol).cast("double").as("__v")): _*)
    }
    val u0 = tagged.reduce(_ unionByName _)
    // the spreadN hint, multi-stream form (see the class scaladoc): the
    // instant-grouping's implicit exchange is replaced, never added
    val u = streams.flatMap(_._2.spreadN).reduceOption(_ max _) match {
      case Some(n) if ks.nonEmpty => u0.repartition(n, ks.map(col): _*)
      case _ => u0
    }
    val aggs = streams.zipWithIndex.map { case ((name, _), i) =>
      // max_by ignores rows whose ordering key is null (other sources)
      max_by(when(col("__src") === i, col("__v")), when(col("__src") === i, col("seq")))
        .as(name)
    }
    u.groupBy((ks.map(col) :+ col("ts")): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** `replay_results` (reference `fluent.rs:252`): literal timestamped rows —
    * the test workhorse. seq = supply order within equal ts. */
  def fromRows(spark: org.apache.spark.sql.SparkSession, rows: Seq[(Long, Double)], keys: Seq[(String, String)] = Nil): Timeline = {
    import spark.implicits._
    val withSeq = rows.zipWithIndex.map { case ((ts, v), i) => (ts, i.toLong, v) }
    var df = withSeq.toDF("ts", "seq", "value")
    keys.foreach { case (k, value) => df = df.withColumn(k, lit(value)) }
    Timeline(df, keys.map(_._1))
  }

  /** `ticker` (reference `ops.rs:40`): fires every `periodNs` of engine
    * time; first tick AT the run start (reference goldens:
    * `tests/catalog_flow.rs` delay-zero shows ticks at 0,10,20). Batch
    * form; scales via range split. */
  def ticker(spark: org.apache.spark.sql.SparkSession, periodNs: Long, n: Long, startNs: Long = 0L): Timeline = {
    val df = spark.range(0, n)
      .select((col("id") * periodNs + startNs).as("ts"), lit(0L).as("seq"), lit(null).cast("double").as("value"))
    Timeline(df)
  }

  /** `constant` (reference `ops.rs:84`): ticks once at start. */
  def constant(spark: org.apache.spark.sql.SparkSession, value: Double, atNs: Long = 0L): Timeline = {
    import spark.implicits._
    Timeline(Seq((atNs, 0L, value)).toDF("ts", "seq", "value"))
  }

  /** `never` (reference `ops.rs:3465`): a stream that never ticks. */
  def never(spark: org.apache.spark.sql.SparkSession): Timeline = {
    import spark.implicits._
    Timeline(Seq.empty[(Long, Long, Double)].toDF("ts", "seq", "value"))
  }

  /** `source_at_start` (reference `fluent.rs:349-361`, `interp.rs:1017`):
    * the deferred-connection primitive — wiring stays pure, I/O is
    * established at run start. Spark's data source API already opens
    * connections at query start, so the genuine content here is deferring
    * the BUILD (schema inference, connection config) out of wiring time:
    * `open` runs `setup` on first access, exactly once. */
  final class DeferredSource(setup: () => Timeline) {
    lazy val open: Timeline = setup()
  }
  def sourceAtStart(setup: () => Timeline): DeferredSource = new DeferredSource(setup)

  /** `poll` (reference `ops.rs:2899`, realtime busy-spin): evaluated once
    * per engine cycle, ticking on Some. Historical/batch form: the poll
    * function replayed over the ticker's cycles (cycle index → Option) —
    * deterministic, like every replayed source. The realtime form is a
    * rate/continuous source in deployment (SURVEY §2.1 mapping). */
  def poll(spark: org.apache.spark.sql.SparkSession, periodNs: Long, cycles: Long)(
      f: Long => Option[Double]): Timeline = {
    val fu = udf((i: Long) => f(i))
    val df = spark.range(0, cycles)
      .select((col("id") * periodNs).as("ts"), lit(0L).as("seq"), fu(col("id")).as("value"))
      .where(col("value").isNotNull)
    Timeline(df)
  }

  /** The REALTIME `poll` leg (reference `ops.rs:2899` busy-spin): the
    * poll function evaluated once per engine cycle off a live clock —
    * Spark's rate source drives the cycles (cycle index = the rate
    * source's monotonic `value`), `f` ticks on Some exactly like the
    * replay form above. Returns a streaming frame with the Timeline
    * column contract (ts ns, seq = cycle, value). */
  def pollRealtime(spark: org.apache.spark.sql.SparkSession, rowsPerSecond: Int)(
      f: Long => Option[Double]): org.apache.spark.sql.DataFrame = {
    val fu = udf((i: Long) => f(i))
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond.toString).load()
      .select((unix_micros(col("timestamp")) * 1000L).as("ts"),
        col("value").as("seq"), fu(col("value")).as("value"))
      .where(col("value").isNotNull)
  }
}
