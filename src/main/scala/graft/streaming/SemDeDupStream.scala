package graft.streaming

import graft.functions.VecOps.dot
import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** One assigned arrival: a new vector already put through the FROZEN
  * quantizer's JIT assignment loop ([[graft.functions.Similarity
  * .incrementalAssignFrame]]) — home cell, 4dp-rounded centroid affinity,
  * unit-normalized little-endian packed vector. Assignment is stateless,
  * so it runs in the streaming query's map stage; only the keep/drop
  * decision needs state. */
final case class VecArrival(id: Long, cell: Long, aff: Double, vp: Array[Byte])

/** One keep/drop decision row — the same schema the batch
  * `semDedupIncremental` emits. */
final case class VecDecision(vec_id: Long, cell: Long, aff: Double, keep: Boolean)

/** Per-cell state: the packed unit vectors of every KEPT vector homed in
  * this cell (corpus + previously-kept arrivals). SIZED at the initial
  * corpus snapshot by the quantizer's constant occupancy, but under a
  * frozen model it GROWS with the kept arrivals in the cell (cell count
  * is frozen while the corpus isn't) — per-cell state and the per-arrival
  * scan grow linearly over the stream's lifetime. That is inherent to
  * frozen-quantizer incremental dedup, not this implementation: the
  * production cadence is the one the batch op models — run the stream
  * for a day, fold the day's kept arrivals into the stored corpus, and
  * periodically RE-TRAIN the quantizer so occupancy returns to constant
  * (the daily-batch loop emb_semdedup_inc oracle-gates).
  * [[SemDeDupStream.decisions]]' `maxKeptPerCell` guard turns that
  * cadence operational: a cell outgrowing its cap fails the stream
  * loudly with the fold-and-retrain remedy instead of creeping toward
  * an executor OOM. */
final case class CellKept(vps: Seq[Array[Byte]])

/** Streaming twin of [[graft.functions.Similarity.semDedupIncremental]] —
  * the live form of the daily-batch SemDeDup: arrivals stream in, state
  * holds each cell's kept corpus, and every micro-batch applies EXACTLY
  * the batch op's two-leg rule (same +1e-9 HALF_UP 4dp rounding, same
  * outranking):
  *
  *  - leg (a): any kept vector already in the cell at cos ≥ tau drops the
  *    arrival — committed rows always outrank arrivals;
  *  - leg (b): within the micro-batch, the flat (aff ASC, id ASC)
  *    outranking rule, independent of leg-(a) drops (the flat-semDedup
  *    discipline).
  *
  * Kept arrivals join the cell state, so the NEXT micro-batch's arrivals
  * are judged against them as corpus — the incremental evolution the
  * daily batch op produces when re-run with yesterday's output. With all
  * arrivals in ONE micro-batch and initial state = the stored corpus, the
  * decisions equal the oracle-gated batch op row-for-row (ParitySpec).
  *
  * Order-dependence note (inherent to INCREMENTAL semantics, both modes):
  * a later arrival that would have outranked an earlier-committed near-dup
  * under the full-batch rule is dropped instead — commitment is
  * irrevocable. The parity leg therefore feeds micro-batches in the same
  * grouping the batch op was given.
  *
  * Scale shape: groupByKey on cell is the same hash exchange the batch
  * op's equi-join rides; per-cell work is O(|arrivals|·(occ + |arrivals|))
  * at constant occupancy; state is occ packed vectors per cell. */
object SemDeDupStream {

  private def round4(x: Double): Double =
    BigDecimal(x + 1e-9).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** One cell's micro-batch step — the single definition both the
    * streaming runner and the spec's replay use. Cosine is the packed
    * dot (vectors are unit-normalized at pack), the same kernel the
    * batch op's `dot_packed` runs. */
  private[graft] def step(kept: Seq[Array[Byte]], arrivals: Seq[VecArrival],
      tau: Double): (Seq[Array[Byte]], Seq[VecDecision]) = {
    val arr = arrivals.sortBy(a => a.id)
    val decisions = arr.map { x =>
      val corpusDrop = kept.exists(k => round4(dot(k, x.vp)) >= tau)
      val batchDrop = arr.exists(o => o.id != x.id &&
        round4(dot(o.vp, x.vp)) >= tau &&
        (o.aff < x.aff || (o.aff == x.aff && o.id < x.id)))
      VecDecision(x.id, x.cell, x.aff, !(corpusDrop || batchDrop))
    }
    val newKept = kept ++ arr.zip(decisions).collect { case (a, d) if d.keep => a.vp }
    (newKept, decisions)
  }

  /** The streaming query leg: arrivals grouped on cell,
    * flatMapGroupsWithState with the stored corpus as INITIAL state.
    *
    * `maxKeptPerCell` (0 = unbounded) is the OPERATIONAL guard on the
    * scaladoc's growth note: under a frozen quantizer each cell's kept
    * state — and with it the per-arrival scan — grows with every kept
    * arrival for the stream's lifetime, and without a tripwire the first
    * symptom is an executor OOM. With a cap, the micro-batch that would
    * push a cell past it fails LOUDLY with the remedy (fold the kept
    * arrivals into the stored corpus and re-train the quantizer — the
    * daily cadence the batch op models), surfacing the overdue fold
    * while the state is still a bounded multiple of the design
    * occupancy. Production sets it to a small multiple of the
    * quantizer's occupancy (e.g. 4×); the parity legs leave it 0. */
  def decisions(arrivals: Dataset[VecArrival], tau: Double,
      initial: Dataset[(Long, CellKept)],
      maxKeptPerCell: Int = 0): Dataset[VecDecision] = {
    val spark = arrivals.sparkSession
    import spark.implicits._
    implicit val stateEnc: Encoder[CellKept] = Encoders.kryo[CellKept]
    val init = initial.groupByKey(_._1).mapValues(_._2)
    val cap = maxKeptPerCell
    arrivals.groupByKey(_.cell)
      .flatMapGroupsWithState[CellKept, VecDecision](
        OutputMode.Append, GroupStateTimeout.NoTimeout, init) {
        (cell: Long, rows: Iterator[VecArrival], gs) =>
          val kept = if (gs.exists) gs.get.vps else Seq.empty
          val (newKept, out) = step(kept, rows.toSeq, tau)
          if (cap > 0 && newKept.size > cap)
            throw new IllegalStateException(
              s"SemDeDupStream: cell $cell would hold ${newKept.size} kept vectors " +
                s"> maxKeptPerCell $cap — state (and the per-arrival scan) has outgrown " +
                "the frozen quantizer's design occupancy. Fold the stream's kept " +
                "arrivals into the stored corpus and re-train the quantizer (the " +
                "daily cadence the batch op models), then restart from the new corpus.")
          gs.update(CellKept(newKept))
          out.iterator
      }
  }
}
