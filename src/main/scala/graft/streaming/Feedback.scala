package graft.streaming

import org.apache.spark.sql.{DataFrame, Pin}

/** `feedback` (reference `fluent.rs:363-368,1101-1105`, `interp.rs:2173,
  * 2208`): a cycle-delayed feedback edge — the value fed into the sink
  * arrives back at the source on the NEXT engine cycle, keeping the DAG
  * acyclic.
  *
  * Spark cannot iterate a distributed plan mid-query, so we support the
  * documented subset (SURVEY §7.4): cycles that are PER-KEY and
  * cycle-synchronous — the fed-back value lives in the key's state and is
  * visible to the next burst. That covers the EMA-of-own-output class (the
  * reference's own example, `examples/core/feedback`); whole-graph
  * cross-key cycles remain unsupported and are documented as such.
  *
  * `step(fedBack, burst)` sees the previous cycle's emitted value (None on
  * the first cycle — the feedback source hasn't ticked yet, exactly the
  * reference's first-cycle quiet) and this cycle's input burst; its result
  * is emitted now AND fed back next cycle. Runs in both RunModes.
  */
object Feedback {

  final case class FbS(has: Boolean, v: Double)

  def proc(step: (Option[Double], Seq[Ev]) => Double): BurstProc[FbS] = new BurstProc[FbS] {
    def init(): FbS = FbS(has = false, 0.0)
    def onBurst(s: FbS, key: String, ts: Long, evs: Seq[Ev]): (FbS, Seq[Out]) = {
      val fed = if (s.has) Some(s.v) else None
      val out = step(fed, evs)
      (FbS(has = true, out), Seq(Out(key, ts, out, 0.0)))
    }
  }

  /** WHOLE-GRAPH feedback, bounded-epoch batch form: the reference's
    * `run_for(cycles)` with a feedback edge re-runs the graph with last
    * cycle's output as next cycle's feedback input — in Spark that is an
    * iterative batch loop, one epoch per cycle. An eager
    * [[org.apache.spark.sql.Pin.cut]] after each epoch truncates the
    * lineage (n epochs would otherwise build an n-deep plan and overwhelm
    * the optimizer) and materializes the epoch exactly once, then frees
    * the epoch before it. Cross-key/global aggregation inside `step` is
    * allowed — this is the part per-key state ([[proc]]) cannot express. */
  def iterateEpochs(start: DataFrame, epochs: Int)(step: DataFrame => DataFrame): DataFrame = {
    require(epochs >= 0)
    (0 until epochs).foldLeft(start) { (cur, i) =>
      val next = Pin.cut(step(cur), eager = true)
      if (i > 0) Pin.release(cur)
      next
    }
  }
}
