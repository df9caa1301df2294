package graft

import graft.functions.{WPoint, WeightedMomentsAgg}
import graft.ops.ScanOps
import graft.streaming.{Channel, Ev, RunMode, StateProcs}
import org.apache.spark.sql.functions._

/** Channel ingress replay determinism (channel.rs:15-22) + the typed
  * Aggregator custom-op surface (§2.13). */
class ChannelSpec extends SparkSuite {
  import spark.implicits._

  test("channel-fed streaming run equals the batch replay of the same sends") {
    val ch = new Channel(spark)
    val q = RunMode.streaming(ch.toDS, StateProcs.ewma(ScanOps.PerTick(0.5)))
      .writeStream.format("memory").queryName("chan_ewma").outputMode("append").start()
    // producer thread sends across two flushes; a same-instant burst stays whole
    ch.sendAt("a", 10L, 1.0); ch.sendAt("a", 20L, 3.0); ch.sendAt("b", 10L, 10.0)
    ch.flush(); q.processAllAvailable()
    ch.sendAt("a", 30L, 5.0); ch.sendAt("b", 30L, 20.0)
    ch.flush(); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("chan_ewma").as[graft.streaming.Out]
      .collect().map(o => (o.key, o.ts, o.v1)).toSeq.sorted

    val replayed = RunMode.batch(spark.createDataset(Seq(
      Ev("a", 10L, 1L, 0, 1.0), Ev("a", 20L, 2L, 0, 3.0), Ev("b", 10L, 3L, 0, 10.0),
      Ev("a", 30L, 4L, 0, 5.0), Ev("b", 30L, 5L, 0, 20.0))),
      StateProcs.ewma(ScanOps.PerTick(0.5)))
      .collect().map(o => (o.key, o.ts, o.v1)).toSeq.sorted

    assert(streamed == replayed, "timestamped sends replay deterministically")
    assert(streamed == Seq(("a", 10L, 1.0), ("a", 20L, 2.0), ("a", 30L, 3.5),
      ("b", 10L, 10.0), ("b", 30L, 15.0)))
  }

  test("a trigger covering many flushes plans one input partition, rows in send order") {
    val ch = new Channel(spark)
    val parts = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[Ev]()
    val sink: (org.apache.spark.sql.Dataset[Ev], Long) => Unit = { (ds, _) =>
      parts.add(ds.rdd.getNumPartitions)
      ds.collect().foreach(rows.add)
    }
    // 30 flushes (30 MemoryStream blocks) queued before the first trigger
    (1 to 30).foreach { t =>
      ch.sendAt("b", t.toLong, -t.toDouble); ch.sendAt("a", t.toLong, t.toDouble); ch.flush()
    }
    val q = ch.toDS.writeStream.foreachBatch(sink).start()
    q.processAllAvailable(); q.stop()
    import scala.jdk.CollectionConverters._
    assert(parts.asScala.toSeq == Seq(1), "one trigger, one scan task")
    assert(rows.asScala.toSeq.map(_.seq) == (1L to 60L), "send order kept across flushes")
  }

  test("produceAsync: bounded look-ahead chunks replay deterministically (async_source.rs)") {
    val ch = Channel.external(spark) // external ≡ thread-fed channel ingress
    val q = RunMode.streaming(ch.toDS, StateProcs.ewma(ScanOps.PerTick(0.5)))
      .writeStream.format("memory").queryName("pa_ewma").outputMode("append").start()
    // producer iterator that counts how far it has been pulled: the chunked
    // pull IS the backpressure — it can never run a full buffer ahead
    var produced = 0
    val rows = Iterator.tabulate(10) { i =>
      produced += 1; ("a", (i + 1) * 10L, (i + 1).toDouble)
    }
    val n = Channel.produceAsync(ch, rows.map { r => q.processAllAvailable(); r }, buffer = 3)
    q.processAllAvailable(); q.stop()
    assert(n == 10L && produced == 10)
    val streamed = spark.table("pa_ewma").count()
    assert(streamed == 10L, "every produced row delivered exactly once")
  }

  test("sourceAtStart: setup runs at open, once, not at wiring (fluent.rs:349)") {
    var opened = 0
    val src = graft.core.Timeline.sourceAtStart { () =>
      opened += 1
      graft.core.Timeline.fromRows(spark, Seq(10L -> 1.0, 20L -> 2.0))
    }
    assert(opened == 0, "wiring stays pure — no I/O before run start")
    assert(src.open.df.count() == 2 && opened == 1)
    src.open.df.count()
    assert(opened == 1, "connection established exactly once")
  }

  test("external realtime: a socket-fed producer wakes the engine (interp.rs:430,614)") {
    val server = new java.net.ServerSocket(0)
    val port = server.getLocalPort
    val producer = new Thread(() => {
      try {
        val s = server.accept()
        val w = new java.io.PrintWriter(s.getOutputStream, true)
        Seq("a 10 1 1.5", "a 20 2 2.5", "b 10 3 9.0").foreach(w.println)
        w.flush()
        Thread.sleep(60000) // keep the connection open while the test reads
      } catch { case _: Throwable => () }
    })
    producer.setDaemon(true); producer.start()
    val q = Channel.externalSocket(spark, "localhost", port)
      .writeStream.format("memory").queryName("ext_sock").outputMode("append").start()
    val deadline = System.currentTimeMillis() + 60000
    while (spark.table("ext_sock").count() < 3 && System.currentTimeMillis() < deadline) {
      q.processAllAvailable(); Thread.sleep(100)
    }
    q.stop(); server.close()
    val got = spark.table("ext_sock").as[Ev].collect().sortBy(_.seq).toSeq
    assert(got == Seq(Ev("a", 10L, 1L, 0, 1.5), Ev("a", 20L, 2L, 0, 2.5),
      Ev("b", 10L, 3L, 0, 9.0)),
      "producer-stamped rows arrive through the live socket transport")
  }

  test("poll realtime: rate-source cycles drive the poll fn live (ops.rs:2899 busy-spin leg)") {
    val q = graft.core.Timeline.pollRealtime(spark, 100)(
        i => if (i % 2 == 0) Some(i * 2.0) else None)
      .writeStream.format("memory").queryName("poll_rt").outputMode("append").start()
    val deadline = System.currentTimeMillis() + 60000
    while (spark.table("poll_rt").count() < 5 && System.currentTimeMillis() < deadline) {
      q.processAllAvailable(); Thread.sleep(100)
    }
    q.stop()
    val rows = spark.table("poll_rt").as[(Long, Long, Double)].collect().sortBy(_._2).toSeq
    assert(rows.length >= 5, s"live cycles produced rows (got ${rows.length})")
    assert(rows.forall { case (_, seq, v) => seq % 2 == 0 && v == seq * 2.0 },
      "ticks on Some only; f applied per cycle")
    assert(rows.map(_._1) == rows.map(_._1).sorted, "live clock monotone over cycles")
  }

  test("tail_lines: files appearing mid-query arrive live, ordered-ts enforced (lines.rs:196)") {
    import graft.sources.Adapters
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("tail_lines").toString
    def writeChunk(name: String, lines: Seq[String]): Unit = {
      val tmp = Paths.get(dir, s".$name.tmp") // write-then-rename: files appear atomically
      Files.writeString(tmp, lines.mkString("\n"))
      Files.move(tmp, Paths.get(dir, name))
    }
    writeChunk("c0.txt", Seq("100 a", "200 b"))
    val q = Adapters.Lines.tail(spark, dir, v => split(v, " ").getItem(0))
      .writeStream.format("memory").queryName("tail_mem").outputMode("append").start()
    q.processAllAvailable()
    // rows appended (a new chunk file) MID-QUERY arrive on the next batch
    writeChunk("c1.txt", Seq("300 c", "350 d"))
    q.processAllAvailable()
    val got = spark.table("tail_mem").as[(String, Long, Long)].collect().toSeq.sortBy(_._3)
    assert(got == Seq(("100 a", 100L, 0L), ("200 b", 200L, 1L),
      ("300 c", 300L, 2L), ("350 d", 350L, 3L)),
      "live-tailed lines carry ts from the line and arrival-order seq")

    // ordered-ts contract: a chunk whose ts regresses aborts the query
    writeChunk("c2.txt", Seq("250 e"))
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    assert(ex.getMessage.contains("out-of-order ts") ||
      Option(ex.getCause).exists(_.getMessage.contains("out-of-order ts")))
    q.stop()
  }

  test("external line protocol: malformed lines abort loudly, not silently") {
    import graft.streaming.Channel
    assert(Channel.parseExternalLine("k1 100 0 2.5") ==
      graft.streaming.Ev("k1", 100L, 0L, 0, 2.5))
    val short = intercept[IllegalStateException](Channel.parseExternalLine("k1 100 0"))
    assert(short.getMessage.contains("4 fields"))
    val bad = intercept[IllegalStateException](Channel.parseExternalLine("k1 ts 0 2.5"))
    assert(bad.getMessage.contains("non-numeric"))
  }

  test("WeightedMomentsAgg: typed agg + SQL registration (§2.13 udaf surface)") {
    val agg = udaf(new WeightedMomentsAgg)
    // weighted mean of (1 w2, 4 w1): (2+4)/3 = 2; popvar: (2*(1-2)^2 + (4-2)^2)/3 = 2
    val r = Seq((1.0, 2.0), (4.0, 1.0)).toDF("x", "w")
      .agg(agg(col("x"), col("w")).as("m")).head.getSeq[Double](0)
    assert(math.abs(r(0) - 2.0) < 1e-12 && math.abs(r(1) - 2.0) < 1e-12)

    spark.udf.register("w_moments", agg)
    Seq((1.0, 2.0), (4.0, 1.0)).toDF("x", "w").createOrReplaceTempView("wpts")
    val viaSql = spark.sql("SELECT w_moments(x, w) FROM wpts").head.getSeq[Double](0)
    assert(viaSql == r, "registered UDAF matches the typed path")

    // merge associativity: many partitions agree with one partition
    val big = (1 to 1000).map(i => (i.toDouble, (i % 7 + 1).toDouble))
    val one = big.toDF("x", "w").coalesce(1).agg(agg(col("x"), col("w"))).head.getSeq[Double](0)
    val many = big.toDF("x", "w").repartition(13).agg(agg(col("x"), col("w"))).head.getSeq[Double](0)
    assert(math.abs(one(0) - many(0)) < 1e-9 && math.abs(one(1) - many(1)) < 1e-6,
      "parallel-variance merge is order-insensitive")
  }
}
