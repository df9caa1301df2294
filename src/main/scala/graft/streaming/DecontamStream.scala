package graft.streaming

import graft.functions.HalfUp.r4
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Streaming twin of [[graft.functions.Similarity
  * .semanticDecontaminateIncremental]] through a frozen
  * [[graft.functions.Similarity.Quantizer.Flat]] — the live form of the
  * daily decontamination batch: arrivals stream in, each already put
  * through the flat model's assignment loop (the [[VecArrival]] contract
  * shared with [[SemDeDupStream]]), and every micro-batch screens them
  * against the FROZEN eval-probe frame ([[graft.functions.Similarity
  * .evalProbeFrame]] through the same quantizer, computed once and
  * stored — any quantizer's probe frame has the same (cell, evp) shape).
  *
  * Unlike the dedup twin this leg needs NO custom state: the eval suite
  * alone decides, so arrivals never affect each other and the whole
  * decision is canonical Structured Streaming operators — a
  * stream-static LEFT OUTER equi-join on the home cell whose extra
  * condition is the codegen'd packed-dot tau cut (an arrival with no
  * qualifying probe surfaces as the single null-probe row ⇒ keep), then
  * the built-in dropDuplicates collapses an arrival's multiple hit rows
  * to one decision. The only state is dropDuplicates' id bookkeeping
  * (bounded by arrivals seen; production caps it with
  * dropDuplicatesWithinWatermark once arrivals carry event time).
  *
  * Scale shape: identical to the batch op — the static probe frame
  * hash-joins on cell (broadcast when the eval suite is small, the
  * common case), per-micro-batch cost O(|arrivals|·probes-per-cell).
  * Decisions match the oracle-gated batch op row-for-row (ParitySpec). */
object DecontamStream {

  /** arrivals ⋈ evalProbes → (vec_id, cell, aff, keep), one row per
    * arrival; keep = false means contaminated. */
  def decisions(arrivals: Dataset[VecArrival], evalProbes: DataFrame,
      tau: Double): DataFrame = {
    val a = arrivals.toDF()
    val p = evalProbes.select(col("cell").as("pcell"), col("evp"))
    a.join(p, a("cell") === p("pcell") &&
        r4(org.apache.spark.sql.GraftColumns.dotPacked(a("vp"), p("evp"))) >= tau,
        "left_outer")
      .select(col("id").as("vec_id"), col("cell"), col("aff"),
        col("evp").isNull.as("keep"))
      .dropDuplicates("vec_id")
  }
}
