package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import scala.collection.mutable.ArrayBuffer

/** `channel` / `external` ingress (reference `fluent.rs:291-311`,
  * `channel.rs`): a thread-fed source whose timestamped sends replay
  * deterministically — the reference groups `send_at` values by instant
  * and replays them on the graph clock (`channel.rs:15-22`).
  *
  * Spark-native: [[MemoryStream]] is the in-process transport (the
  * reference channel's test-workhorse role); production ingress is any
  * streaming source honoring the same contract. The `Message` envelope
  * (`channel.rs:31-50`) maps onto streaming concepts: `ValueAt` = a row
  * with event time, `Checkpoint` = watermark advance, `EndOfStream` =
  * query stop, `Error` = task failure.
  *
  * `sendAt` buffers; [[flush]] delivers everything buffered as ONE
  * micro-batch, sorted by (ts, seq) with bursts intact — the determinism
  * contract [[RunMode.streaming]] requires. Backpressure
  * (`channel_bounded`) is the trigger's `maxOffsetsPerTrigger` in
  * deployment. */
final class Channel(spark: SparkSession) {
  import spark.implicits._

  // one input partition per trigger, however many flushes it covers (the
  // default plans one scan task per `addData` block); row order is kept
  private val mem = MemoryStream[Ev](spark, 1)(
    org.apache.spark.sql.catalyst.encoders.encoderFor[Ev])
  private val pending = ArrayBuffer.empty[Ev]
  private var autoSeq = 0L

  /** Timestamped send (reference `ChannelSender::send_at`). Assigns the
    * intra-instant burst order in send order when `seq` is not given. */
  def sendAt(key: String, ts: Long, value: Double, src: Int = 0): Unit = synchronized {
    autoSeq += 1
    pending += Ev(key, ts, autoSeq, src, value)
  }

  /** Deliver everything buffered as one micro-batch (bursts never split). */
  def flush(): Unit = synchronized {
    if (pending.nonEmpty) {
      mem.addData(pending.sortBy(e => (e.ts, e.seq)).toSeq)
      pending.clear()
    }
  }

  /** The stream end — wire into [[RunMode.streaming]]. */
  def toDS: Dataset[Ev] = mem.toDS()
}

object Channel {

  /** `external` (reference `fluent.rs:291`, `interp.rs:430,614`): the
    * thread-fed wake-the-kernel source. Same transport as `channel` minus
    * the timestamped-replay envelope — the sender stamps event time at
    * send. Realtime-only in the reference; here the historical leg is the
    * recorded rows re-read as a batch frame (RunMode duality). */
  def external(spark: SparkSession): Channel = new Channel(spark)

  /** The REALTIME `external` transport: a socket-fed stream — the
    * wake-the-kernel path where an out-of-process producer pushes rows
    * and each arrival wakes the engine (reference `interp.rs:430,614`;
    * Spark's socket source thread is the kernel-waker). Line protocol
    * `key ts seq value`, one Ev per line; the producer stamps event time,
    * exactly the external contract. The MemoryStream [[Channel]] remains
    * the deterministic-replay leg of the same op (RunMode duality). */
  def externalSocket(spark: SparkSession, host: String, port: Int): Dataset[Ev] = {
    import spark.implicits._
    spark.readStream.format("socket")
      .option("host", host).option("port", port).load()
      .as[String]
      .map(parseExternalLine _)
  }

  /** Fail-fast `external` line protocol (`key ts seq value`), tail_lines-
    * style loud abort: a malformed producer line is a wiring error, not
    * data to skip silently. */
  private[graft] def parseExternalLine(line: String): Ev = {
    val p = line.trim.split("\\s+")
    if (p.length != 4)
      throw new IllegalStateException(
        s"externalSocket: expected 'key ts seq value' (4 fields), got ${p.length} in line: '$line'")
    try Ev(p(0), p(1).toLong, p(2).toLong, 0, p(3).toDouble)
    catch { case e: NumberFormatException =>
      throw new IllegalStateException(
        s"externalSocket: non-numeric ts/seq/value in line: '$line' (${e.getMessage})")
    }
  }

  /** `produce_async` (reference `async_source.rs:1-70`): an async producer
    * of timestamped values with BOUNDED look-ahead — the producer may run
    * at most `buffer` rows ahead of delivery (`async_source.rs:23-45`).
    * Here the producer iterator is pulled `buffer` rows at a time and each
    * chunk delivered as one micro-batch: the pull is the backpressure (an
    * iterator cannot run ahead of its consumer), and the timestamped rows
    * replay deterministically whatever the producer's own timing was.
    * Returns the number of rows delivered. */
  def produceAsync(ch: Channel, rows: Iterator[(String, Long, Double)],
      buffer: Int = 1024): Long = {
    require(buffer >= 1)
    var n = 0L
    rows.grouped(buffer).foreach { chunk =>
      chunk.foreach { case (k, ts, v) => ch.sendAt(k, ts, v) }
      ch.flush()
      n += chunk.length
    }
    n
  }
}
