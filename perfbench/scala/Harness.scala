package perfbench

import java.io.{File, FileInputStream, PrintWriter}
import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.{SparkEntry, Tables}
import graft.streaming.{Channel, Ev, Out, RunMode, StateProcs}
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The benchmark's JVM side. It drives only the library's public entry
  * points (the query registry through `SparkEntry.queries`, `Tables`,
  * `RunMode`, `StateProcs`, `streaming.Channel`) and times them from
  * here. Inputs are made by the Python generators; outputs are checked by
  * the Python side against DuckDB, except the live leg, whose output is
  * checked here row for row against `RunMode.batch`.
  *
  * Usage: Harness <config.properties>. Writes `records.jsonl` (and, when
  * traced, `spans.jsonl`) into the configured output directory. */
object Harness {

  final class Conf(path: String) {
    private val p = new java.util.Properties()
    locally { val in = new FileInputStream(path); try p.load(in) finally in.close() }
    def str(k: String): String = Option(p.getProperty(k))
      .getOrElse(throw new IllegalArgumentException(s"config: missing key $k"))
    def opt(k: String): Option[String] = Option(p.getProperty(k)).filter(_.nonEmpty)
    def int(k: String): Int = str(k).toInt
    def dbl(k: String): Double = str(k).toDouble
  }

  final class Records(path: String) {
    private val w = new PrintWriter(path, "UTF-8")
    private val t0 = System.nanoTime()
    def apply(kv: (String, Any)*): Unit = synchronized {
      w.println(Json.obj(kv :+ ("t" -> (System.nanoTime() - t0) / 1e9): _*)); w.flush()
    }
    def close(): Unit = w.close()
  }

  def main(args: Array[String]): Unit = {
    val c = new Conf(args(0))
    val out = c.str("out")
    new File(out).mkdirs()
    val rec = new Records(s"$out/records.jsonl")
    try new Run(c, rec).run() finally rec.close()
    // Spark's non-daemon threads must not keep the JVM alive
    sys.exit(0)
  }

  def session(c: Conf): SparkSession = {
    val cores = c.int("cores")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.local.dir", c.str("local_dir"))
      .config("spark.sql.warehouse.dir", s"${c.str("local_dir")}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The warm-up job every set-up ends with: one small aggregation over
    * the workload's events table, read through `Tables`, that pays
    * first-job scheduling, the parquet scan path and codegen. */
  def warmUp(spark: SparkSession, data: String): Unit =
    Tables.events(spark, data).df.selectExpr("count(*) AS n", "sum(value) AS s").collect()

  def isolate(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** CPU time of this process, all threads (JIT and GC included). Time
    * the hypervisor steals from the box is not charged to it. */
  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private val threads = ManagementFactory.getThreadMXBean

  /** CPU time per live Java thread: the driver, Spark's task and service
    * threads. JIT compiler and GC threads are not Java threads, so their
    * background work, which lands on whichever query happens to be
    * running, is left out. */
  def threadCpuNs(): Map[Long, Long] =
    threads.getAllThreadIds.iterator.map(id => id -> threads.getThreadCpuTime(id))
      .filter(_._2 >= 0).toMap

  /** CPU the Java threads spent between two [[threadCpuNs]] readings;
    * a thread started in between counts in full. */
  def threadCpuDelta(a: Map[Long, Long], b: Map[Long, Long]): Long =
    b.iterator.map { case (id, t) => t - a.getOrElse(id, 0L) }.sum

  /** (steal, total) jiffies of the whole box, from /proc/stat. */
  def stealJiffies(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } finally src.close()
  }

  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }

  /** Paces `dueNs.length` sends at their due times (nanoseconds after
    * `t0`), batched on a `tickNs` cadence: at each tick every send whose
    * time has come goes out, then one flush. Each flush is one source
    * batch (one input partition), so an unbatched sender would flood the
    * micro-batches with tiny tasks. A send that is late is never skipped;
    * its lateness (tick wait included) is returned. */
  def pace(t0: Long, dueNs: Array[Long], tickNs: Long, send: Int => Unit, flush: () => Unit,
      sent: AtomicLong, weight: Int => Int): Array[Long] = {
    val late = new Array[Long](dueNs.length)
    var j = 0
    var nextTick = t0
    while (j < dueNs.length) {
      val now = System.nanoTime()
      val due = math.max(t0 + dueNs(j), nextTick)
      if (now < due) LockSupport.parkNanos(due - now)
      else {
        nextTick = now + tickNs
        var k = j
        var n = 0L
        while (k < dueNs.length && t0 + dueNs(k) <= now) { send(k); n += weight(k); k += 1 }
        flush()
        val t = System.nanoTime()
        var i = j
        while (i < k) { late(i) = t - (t0 + dueNs(i)); i += 1 }
        sent.addAndGet(n)
        j = k
      }
    }
    late
  }

  /** The registry family of a query: its name prefix. */
  def family(name: String): String = name.takeWhile(_ != '_')

  /** The BurstProc every live leg runs: rolling median/MAD outlier score,
    * real per-key state (a window of the last `n` values). */
  def liveProc(c: Conf) = StateProcs.outlierMad(c.int("live.mad_window"))
}

/** One benchmark run: the cold set-up, the replay leg, the live leg,
  * verification, then the repeated set-ups. */
final class Run(c: Harness.Conf, rec: Harness.Records) {
  import Harness._

  private val data = c.str("data")
  private val out = c.str("out")
  private val traced = c.str("trace") == "1"
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  private def epochMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6

  private var spark: SparkSession = _
  private val tracer = new Tracer
  private val querySpans = ArrayBuffer.empty[(Span, String)]

  private def attach(): Unit = if (traced) {
    spark.sparkContext.addSparkListener(tracer)
    spark.listenerManager.register(tracer)
  }
  private def detach(): Unit = if (traced) {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(tracer)
    spark.listenerManager.unregister(tracer)
  }

  def run(): Unit = {
    coldSetUp()
    val queries = c.str("queries").split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val fns = queryFns(queries)
    val j0 = JvmCounters.now()
    replay(queries, fns)
    // the live leg after the replay leg, whose fixed number of passes
    // leaves the JIT in the same, quieter state every run
    new Live().run()
    if (traced) JvmCounters.delta(j0, JvmCounters.now(), tracer.tally("run"))
    verify(queries)
    // the repeated set-ups come last, when the JIT has quietened down
    setUps()
    if (traced) {
      PerfbenchBus.drain(spark.sparkContext)
      tracer.foldPlans(querySpans.toSeq)
      tracer.tags.foreach { case (tag, t) => rec(Seq("k" -> "tally", "tag" -> tag) ++ t.v.toSeq: _*) }
      tracer.dump(s"$out/spans.jsonl")
    }
    rec("k" -> "rss", "vmhwm_mb" -> vmHwmMb())
    spark.stop()
  }

  /** The first set-up, a session and the warm-up job, counted from JVM
    * start: wall, and the CPU of the whole process (JIT and class loading
    * included). */
  private def coldSetUp(): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    spark = session(c)
    warmUp(spark, data)
    rec("k" -> "setup", "i" -> 0, "cold" -> true,
      "s" -> (System.currentTimeMillis() - jvmStart) / 1e3, "cpu_s" -> cpuNs() / 1e9)
  }

  /** The session is stopped and rebuilt `setups` times, each ending with
    * the warm-up job. */
  private def setUps(): Unit = {
    for (i <- 1 to c.int("setups")) {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val t0 = System.nanoTime()
      spark = session(c)
      warmUp(spark, data)
      rec("k" -> "setup", "i" -> i, "cold" -> false, "s" -> (System.nanoTime() - t0) / 1e9)
    }
  }

  private def queryFns(queries: Seq[String]): Map[String, (SparkSession, String) => DataFrame] = {
    val registry = SparkEntry.queries
    val broken = c.opt("broken")
    queries.map { q =>
      val fn: (SparkSession, String) => DataFrame =
        if (q == "runmode_batch_mad") (s, d) => RunMode.batch(evDataset(s, d), liveProc(c)).toDF()
        else registry.getOrElse(q, throw new IllegalArgumentException(s"unknown query $q"))
      // a deliberately wrong twin: fast, plausible-looking, and incorrect
      q -> (if (broken.contains(q)) (s: SparkSession, d: String) => fn(s, d).limit(1) else fn)
    }.toMap
  }

  /** The events table as the canonical stream shape, in the order the
    * live leg sends it. */
  private def evDataset(s: SparkSession, d: String): Dataset[Ev] = {
    import s.implicits._
    Tables.events(s, d).df.select(col("user_id").cast("string").as("key"), col("ts"),
      col("seq"), org.apache.spark.sql.functions.lit(0).as("src"), col("value")).as[Ev]
  }

  /** Closed loop: one cold pass, then warm passes until the leg's budget
    * is spent (at least `replay.min_warm`). A traced run alternates
    * untraced and traced warm passes so the tracing overhead is measured
    * in the same process. */
  private def replay(queries: Seq[String], fns: Map[String, (SparkSession, String) => DataFrame]): Unit = {
    val budgetNs = (c.dbl("replay.seconds") * 1e9).toLong
    val minWarm = c.int("replay.min_warm")
    val maxWarm = c.int("replay.max_warm")
    val t0 = System.nanoTime()
    var pass = 0
    while (pass == 0 || (pass <= maxWarm &&
        (pass <= minWarm || System.nanoTime() - t0 < budgetNs))) {
      val tracedPass = traced && (pass == 0 || pass % 2 == 0)
      if (tracedPass) attach()
      val tag = if (pass == 0) "cold" else s"warm:$pass"
      val j0 = JvmCounters.now()
      val (st0, tot0) = stealJiffies()
      val c0 = cpuNs()
      val p0 = System.nanoTime()
      queries.foreach(q => runQuery(pass, tag, q, fns(q), tracedPass))
      val p1 = System.nanoTime()
      val c1 = cpuNs()
      val (st1, tot1) = stealJiffies()
      if (tracedPass) {
        detach()
        JvmCounters.delta(j0, JvmCounters.now(), tracer.tally(tag))
      }
      rec("k" -> "pass", "pass" -> pass, "traced" -> tracedPass, "s" -> (p1 - p0) / 1e9,
        "cpu_s" -> (c1 - c0) / 1e9, "steal_frac" -> (st1 - st0).toDouble / math.max(1L, tot1 - tot0))
      pass += 1
    }
  }

  private def runQuery(pass: Int, tag: String, name: String,
      fn: (SparkSession, String) => DataFrame, tracedPass: Boolean): Unit = {
    val sc = spark.sparkContext
    val qid = s"$tag/$name"
    sc.setLocalProperty(Tracer.TagKey, tag)
    sc.setLocalProperty(Tracer.QidKey, qid)
    val c0 = threadCpuNs()
    val n0 = System.nanoTime()
    isolate(spark)
    val n1 = System.nanoTime()
    var n2 = n1
    var err = ""
    try {
      sc.setLocalProperty(Tracer.PhaseKey, "build")
      val df = fn(spark, data)
      n2 = System.nanoTime()
      sc.setLocalProperty(Tracer.PhaseKey, "exec")
      // the cold pass is also the checked pass: its output goes to parquet
      // for the oracle comparison; warm passes execute into a no-op sink
      if (pass == 0) df.write.mode("overwrite").parquet(s"$out/q/$name")
      else df.write.format("noop").mode("overwrite").save()
    } catch {
      case NonFatal(e) => err = firstLine(e)
    } finally sc.setLocalProperty(Tracer.PhaseKey, null)
    val n3 = System.nanoTime()
    val c3 = threadCpuNs()
    if (n2 == n1) n2 = n3
    rec("k" -> "query", "pass" -> pass, "name" -> name, "family" -> family(name),
      "traced" -> tracedPass, "isolate_s" -> (n1 - n0) / 1e9, "build_s" -> (n2 - n1) / 1e9,
      "exec_s" -> (n3 - n2) / 1e9, "wall_s" -> (n3 - n0) / 1e9, "cpu_s" -> threadCpuDelta(c0, c3) / 1e9,
      "ok" -> err.isEmpty, "err" -> err)
    if (tracedPass) {
      val q = Span("query", epochMs(n0), epochMs(n3), "", qid, s"q:$qid")
      querySpans += ((q, tag))
      tracer.spans.add(q)
      tracer.spans.add(Span("isolate", epochMs(n0), epochMs(n1), q.id, qid, s"isolate:$qid"))
      tracer.spans.add(Span("build", epochMs(n1), epochMs(n2), q.id, qid, s"build:$qid"))
      tracer.spans.add(Span("execute", epochMs(n2), epochMs(n3), q.id, qid, s"execute:$qid"))
      tracer.tally(tag).add("queries.build_s", (n2 - n1) / 1e9)
    }
  }

  private def firstLine(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.toSeq.headOption.getOrElse("")}"

  /** Hands each query's oracle (if the registry has one) to the DuckDB
    * check of its cold-pass output. */
  private def verify(queries: Seq[String]): Unit = {
    val oracle = SparkEntry.oracleSql
    queries.distinct.foreach(q => rec("k" -> "verify", "name" -> q, "oracle" -> oracle.getOrElse(q, "")))
  }

  private def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  /** The live leg: the workload's events, in event-time order, fed through
    * a `Channel` into `RunMode.streaming` with the outlier-MAD BurstProc.
    * Three phases: a warm-in backlog (the cold first trigger), an
    * open-loop phase at the fixed offered rate (latency from each event's
    * due time to the commit of the micro-batch carrying its output), and
    * fixed pre-queued backlogs (drain rate). Whole instants are always
    * sent together, so a burst is never split across micro-batches. */
  final class Live {
    private val rate = c.dbl("live.rate")
    private val outs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Array[Out])]()
    private val commitNs = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Long]()
    private val progress = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, org.apache.spark.sql.streaming.StreamingQueryProgress)]()
    private val sentCount = new AtomicLong
    @volatile private var phase = "warmin"
    private var sent: Array[Ev] = Array.empty

    def outputs: Seq[Out] = outs.asScala.toSeq.flatMap(_._2.toSeq)

    private object Listener extends StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val now = System.nanoTime()
        if (e.progress.numInputRows > 0) {
          commitNs.putIfAbsent(e.progress.batchId, now)
          if (traced) {
            val trig = Option(e.progress.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)
            tracer.spans.add(Span("trigger", epochMs(now) - trig, epochMs(now), "live", "live",
              s"trigger:${e.progress.batchId}"))
          }
          if (phase == "open") progress.add((now, sentCount.get, e.progress))
        }
      }
    }

    /** Instants: runs of events sharing one timestamp, in (ts, seq) order. */
    private def instants(evs: Array[Ev]): Array[Array[Ev]] = {
      val b = ArrayBuffer.empty[Array[Ev]]
      var i = 0
      while (i < evs.length) {
        var j = i + 1
        while (j < evs.length && evs(j).ts == evs(i).ts) j += 1
        b += evs.slice(i, j)
        i = j
      }
      b.toArray
    }

    /** Take whole instants until at least `n` events are taken. */
    private def take(it: BufferedIterator[Array[Ev]], n: Int): Array[Array[Ev]] = {
      val b = ArrayBuffer.empty[Array[Ev]]
      var got = 0
      while (got < n && it.hasNext) { val x = it.next(); b += x; got += x.length }
      require(got >= n, s"live leg: the events table ran out ($got < $n events)")
      b.toArray
    }

    def run(): Unit = {
      val ss = spark
      import ss.implicits._
      val sc = spark.sparkContext
      val warmN = c.int("live.warmin")
      val openN = c.int("live.open")
      val drainN = c.int("live.drain")
      val drains = c.int("live.drains")
      val all = evDataset(spark, data).orderBy("ts", "seq").collect()
      val it = instants(all).iterator.buffered
      val warm = (0 to c.int("live.warmin_triggers")).map(_ => take(it, warmN).flatten)
      val open = take(it, openN)
      val drainSets = (0 until drains).map(_ => take(it, drainN))

      val ch = Channel.external(spark)
      val sentBuf = ArrayBuffer.empty[Ev]
      // the Channel numbers sends 1, 2, ... in send order; the batch twin
      // needs the same numbers to order a burst the same way
      def send(inst: Array[Ev]): Unit = inst.foreach { e =>
        ch.sendAt(e.key, e.ts, e.value)
        sentBuf += e.copy(seq = sentBuf.size + 1L)
      }

      if (traced) attach()
      sc.setLocalProperty(Tracer.TagKey, "live")
      sc.setLocalProperty(Tracer.QidKey, "live")
      spark.streams.addListener(Listener)
      // a fresh checkpoint: a left-over one would resume old offsets
      val ckpt = s"${c.str("local_dir")}/live-ckpt-${System.nanoTime()}"
      val sink: (Dataset[Out], Long) => Unit = (ds, id) => outs.add((id, ds.collect()))
      send(warm.head)
      ch.flush()
      val j0 = JvmCounters.now()
      val s0 = System.nanoTime()
      val query = RunMode.streaming(ch.toDS, liveProc(c)).writeStream
        .queryName("perfbench_live")
        .option("checkpointLocation", ckpt)
        .foreachBatch(sink)
        .start()
      query.processAllAvailable()
      val coldS = (System.nanoTime() - s0) / 1e9
      // the rest of the warm-in: `live.warmin_triggers` more micro-batches,
      // so the open loop does not start on the cold trigger path
      warm.tail.foreach { batch =>
        send(batch)
        ch.flush()
        query.processAllAvailable()
      }
      sentCount.set(sentBuf.size.toLong)

      // open loop: the generator is one extra thread in this process
      val openFlat = open.flatten
      val dueOfInstant = new Array[Long](open.length)
      locally {
        var before = 0L
        var k = 0
        while (k < open.length) {
          dueOfInstant(k) = (before * 1e9 / rate).toLong
          before += open(k).length
          k += 1
        }
      }
      phase = "open"
      val t0 = System.nanoTime() + 20000000L
      @volatile var late: Array[Long] = null
      val gen = new Thread(() => {
        late = pace(t0, dueOfInstant, (c.dbl("live.tick_ms") * 1e6).toLong, k => send(open(k)), () => ch.flush(), sentCount,
          k => open(k).length)
      }, "perfbench-live-generator")
      gen.start()
      gen.join()
      query.processAllAvailable()
      phase = "drain"
      val openEnd = System.nanoTime()

      // each backlog's wall, and the CPU its drain cost the Java threads
      // (micro-batch, task and listener threads; not JIT or GC)
      val drained = drainSets.map { set =>
        val c0 = threadCpuNs()
        val d0 = System.nanoTime()
        set.foreach(send)
        ch.flush()
        query.processAllAvailable()
        val d1 = System.nanoTime()
        ((d1 - d0) / 1e9, threadCpuDelta(c0, threadCpuNs()) / 1e9)
      }
      query.stop()
      val lastId = outs.asScala.map(_._1).maxOption.getOrElse(-1L)
      val waitUntil = System.nanoTime() + 10000000000L
      while (!commitNs.containsKey(lastId) && System.nanoTime() < waitUntil) Thread.sleep(5)
      spark.streams.removeListener(Listener)
      if (traced) {
        detach()
        JvmCounters.delta(j0, JvmCounters.now(), tracer.tally("live"))
      }
      sent = sentBuf.toArray

      // latency: due time of the output's instant -> commit of its batch
      val dueByTs = mutable.HashMap.empty[Long, Long]
      open.indices.foreach(k => dueByTs(open(k).head.ts) = t0 + dueOfInstant(k))
      val lat = ArrayBuffer.empty[Double]
      outs.asScala.foreach { case (id, rows) =>
        val cn = Option(commitNs.get(id)).map(_.longValue)
        rows.foreach { o =>
          dueByTs.get(o.ts).foreach(d => cn.foreach(t => lat += (t - d) / 1e6))
        }
      }
      // every sent event owes exactly one output row at its (key, ts)
      val want = sent.groupBy(e => (e.key, e.ts)).view.mapValues(_.length).toMap
      val got = outputs.groupBy(o => (o.key, o.ts)).view.mapValues(_.size).toMap
      val missing = want.map { case (k, n) => math.max(0, n - got.getOrElse(k, 0)) }.sum
      val batchTwin = RunMode.batch(spark.createDataset(sent.toSeq), liveProc(c)).collect().toSeq
      val mismatches = Live.diff(batchTwin, outputs)

      val prog = progress.asScala.toSeq
      def dur(k: String) = prog.map(p => Option(p._3.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0))
      def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
      val states = prog.flatMap(_._3.stateOperators.headOption)
      // backlog (sent - processed) over the open-loop phase; its slope is
      // ~0 when the query keeps up with the offered rate
      val slope = {
        var processed = 0.0
        val pts = prog.map { case (t, s, p) => processed += p.numInputRows; ((t - t0) / 1e9, s - warm.map(_.length).sum - processed) }
        if (pts.size < 2) 0.0 else {
          val mx = mean(pts.map(_._1)); val my = mean(pts.map(_._2))
          val sxx = pts.map(p => (p._1 - mx) * (p._1 - mx)).sum
          if (sxx == 0) 0.0 else pts.map(p => (p._1 - mx) * (p._2 - my)).sum / sxx
        }
      }
      val lateMs = Option(late).map(_.toSeq.map(_ / 1e6)).getOrElse(Seq.empty)
      rec("k" -> "live", "cold_s" -> coldS, "open_events" -> openFlat.length,
        "open_s" -> (openEnd - t0) / 1e9, "rate" -> rate,
        "lat_ms" -> lat.toSeq, "drain_events" -> drainSets.map(_.map(_.length).sum),
        "drain_s" -> drained.map(_._1), "drain_cpu_s" -> drained.map(_._2), "sent" -> sent.length, "outputs" -> outputs.size,
        "missing" -> missing, "mismatches" -> mismatches,
        "gen_late_p50_ms" -> pct(lateMs, 0.5), "gen_late_p99_ms" -> pct(lateMs, 0.99),
        "gen_late_max_ms" -> (if (lateMs.isEmpty) 0.0 else lateMs.max),
        "triggers" -> prog.size, "trigger_ms" -> dur("triggerExecution"),
        "add_batch_ms" -> mean(dur("addBatch")), "query_planning_ms" -> mean(dur("queryPlanning")),
        "latest_offset_ms" -> mean(dur("latestOffset")), "wal_commit_ms" -> mean(dur("walCommit")),
        "commit_ms" -> mean(dur("commitOffsets")),
        "rows_per_trigger" -> mean(prog.map(_._3.numInputRows.toDouble)),
        "backlog_slope_eps" -> slope,
        "state_rows_total" -> states.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
        "state_mem_bytes" -> states.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
        "state_rows_updated" -> states.map(_.numRowsUpdated.toDouble).sum,
        "state_commit_ms" -> mean(states.map(_.commitTimeMs.toDouble)))
    }
  }

  object Live {
    /** Rows in one multiset and not the other, both ways. */
    def diff(a: Seq[Out], b: Seq[Out]): Long = {
      val ca = a.groupBy(identity).view.mapValues(_.size).toMap
      val cb = b.groupBy(identity).view.mapValues(_.size).toMap
      (ca.keySet ++ cb.keySet).toSeq.map(k => math.abs(ca.getOrElse(k, 0) - cb.getOrElse(k, 0)).toLong).sum
    }
  }
}
