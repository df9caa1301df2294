package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

import scala.collection.mutable.ArrayBuffer
import scala.reflect.ClassTag

/** One keyed event row — the canonical stream shape (SURVEY §7.1). `src`
  * tags the input side for multi-input ops (0 = primary; ordering within a
  * burst is by `seq`, which callers assign to encode side priority, the
  * analog of wiring order, reference `fluent.rs:940-942`). */
final case class Ev(key: String, ts: Long, seq: Long, src: Int, value: Double)

/** One output row; single-valued ops leave `v2` = 0. */
final case class Out(key: String, ts: Long, v1: Double, v2: Double)

/** A per-key stateful operator defined ONCE and run in BOTH execution
  * modes — the Spark transplant of the reference's `RunMode` duality
  * (`runtime/run.rs:16-20`): the same wiring runs deterministically over
  * history (batch) or live (Structured Streaming).
  *
  * `onBurst` is one engine cycle: ALL events sharing (key, ts), in `seq`
  * order, delivered atomically — never coalesced, never split (reference
  * `Burst`, `runtime/burst.rs:1-16`). State is the node's slot between
  * cycles.
  */
trait BurstProc[S] extends Serializable {
  def init(): S
  def onBurst(s: S, key: String, ts: Long, evs: Seq[Ev]): (S, Seq[Out])
}

/** The two runners. Determinism contract: batch sorts per key by (ts, seq)
  * — the oracle path; streaming requires the source to deliver rows in
  * event-time order and to never split one instant's burst across
  * micro-batches (the reference's channel replay groups sends by instant
  * for exactly this reason, `channel.rs:15-22`). Under that contract the
  * two modes produce identical rows — gated by ParitySpec. */
object RunMode {

  /** Historical/batch mode: shuffle once on key, fold each key's rows in
    * (ts, seq) order, burst-at-a-time. */
  def batch[S](ds: Dataset[Ev], proc: BurstProc[S]): Dataset[Out] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.key).flatMapSortedGroups(col("ts"), col("seq")) { (k, rows) =>
      var s = proc.init()
      val out = ArrayBuffer.empty[Out]
      val buf = ArrayBuffer.empty[Ev]
      var curTs = Long.MinValue
      def flush(): Unit = if (buf.nonEmpty) {
        val (s2, o) = proc.onBurst(s, k, curTs, buf.toSeq)
        s = s2; out ++= o; buf.clear()
      }
      rows.foreach { ev =>
        if (ev.ts != curTs) { flush(); curTs = ev.ts }
        buf += ev
      }
      flush()
      out.iterator
    }
  }

  /** Live mode: the same processor via flatMapGroupsWithState; per-key
    * state persists across micro-batches (rows within a batch are sorted;
    * cross-batch order is the source's append order).
    *
    * Every trigger writes several atomic checkpoint files: the offset log
    * (WAL), the commit log and one state delta per shuffle partition.
    * Without libhadoop's native code, Hadoop's default local filesystem
    * starts 10 `chmod`/`readlink` processes per file (about 45 ms), so
    * this installs [[ForkFreeLocalFs]] (the same `.crc`-checked files, no
    * processes) as the session's `fs.AbstractFileSystem.file.impl`, only
    * while that key still holds Hadoop's default: a deployment's own
    * choice stays. Queries started afterwards in the session use it. */
  def streaming[S](ds: Dataset[Ev], proc: BurstProc[S])(implicit ct: ClassTag[S]): Dataset[Out] = {
    val spark = ds.sparkSession
    import spark.implicits._
    import ForkFreeLocalFs.{ConfKey, HadoopDefault}
    val fileFs = spark.conf.getOption(ConfKey).getOrElse(spark.sparkContext.hadoopConfiguration.get(ConfKey))
    if (fileFs == HadoopDefault) spark.conf.set(ConfKey, classOf[ForkFreeLocalFs].getName)
    implicit val sEnc: Encoder[S] = Encoders.kryo[S](ct)
    ds.groupByKey(_.key)
      .flatMapGroupsWithState[S, Out](OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (k: String, rows: Iterator[Ev], gs: GroupState[S]) =>
          var s = if (gs.exists) gs.get else proc.init()
          val out = ArrayBuffer.empty[Out]
          rows.toSeq.sortBy(e => (e.ts, e.seq)).foldLeft((Long.MinValue, ArrayBuffer.empty[Ev])) {
            case ((curTs, buf), ev) =>
              if (ev.ts != curTs && buf.nonEmpty) {
                val (s2, o) = proc.onBurst(s, k, curTs, buf.toSeq)
                s = s2; out ++= o; buf.clear()
              }
              buf += ev
              (ev.ts, buf)
          } match {
            case (curTs, buf) if buf.nonEmpty =>
              val (s2, o) = proc.onBurst(s, k, curTs, buf.toSeq)
              s = s2; out ++= o
            case _ => ()
          }
          gs.update(s)
          out.iterator
      }
  }

  /** Chain two (or more) stateful processors in STREAMING mode by
    * materializing the stage boundary through a checkpointed file sink —
    * the chained-stateful-op pattern (SURVEY §7.4). Structured Streaming
    * rejects a second arbitrary-state operator
    * (flatMapGroupsWithState/transformWithState) in the same query plan —
    * its multi-stateful support covers time-window aggregations, dedup
    * and stream-stream joins, not user state — so a long chain splits at
    * stage boundaries: each stage is its OWN query with its own
    * checkpoint, the intermediate is an exactly-once file sink (the
    * parquet sink's transaction log dedupes replayed batches), and a
    * restart resumes every stage from its own offsets independently.
    * Batch mode needs none of this: [[batch]] composes directly, and
    * ParitySpec's chained leg gates that the staged streaming chain
    * reproduces the batch chain row-for-row.
    *
    * Returns the running stage-1 query and a streaming `Dataset[Ev]`
    * reading the staged sink for the next stage (seq = 0: a stateful
    * stage emits at most one row per (key, ts), so within-burst order is
    * spent). The downstream stage keeps the ordering contract as long as
    * it processes each upstream micro-batch before the next arrives
    * (drive stage queries in order; the file source reads files in
    * discovery order). */
  def checkpointStage[S](ds: Dataset[Ev], proc: BurstProc[S], stageDir: String)(
      implicit ct: ClassTag[S]): (StreamingQuery, Dataset[Ev]) = {
    val spark = ds.sparkSession
    import spark.implicits._
    val q = streaming(ds, proc).writeStream.format("parquet")
      .option("path", s"$stageDir/data")
      .option("checkpointLocation", s"$stageDir/ckpt")
      .outputMode("append").start()
    val next = spark.readStream.schema(Encoders.product[Out].schema)
      .parquet(s"$stageDir/data")
      .as[Out].map(o => Ev(o.key, o.ts, 0L, 0, o.v1))
    (q, next)
  }
}
