package graft.streaming

import graft.functions.HalfUp.r4
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** One arriving classification query: probe cells already ranked by the
  * FROZEN coarse quantizer (the batch op's exact probe list) plus the
  * packed unit vector — assignment is stateless, so it runs before the
  * stream like [[VecArrival]]'s. */
final case class KnnQuery(qid: Long, probes: Seq[Long], qp: Array[Byte])

/** One emitted prediction — the (qid, pred) head of the batch op's
  * decision frame. */
final case class KnnPrediction(qid: Long, pred: Long)

/** Streaming twin of the registry's `emb_knn_classify` decision op —
  * the second decision family with a live leg (round-12 verdict item 6;
  * SemDeDup was the first): the corpus index is FROZEN (cells, labels,
  * packed vectors — the stored static frame), queries arrive on a
  * stream, and every micro-batch scores its arrivals exactly as the
  * batch op does: probe-cell equi-join against the corpus frame, the
  * codegen'd packed-dot similarity rounded to the shared 4dp grid, then
  * a per-query flatMapGroupsWithState that ranks (sim DESC, nid),
  * takes the top k, and replays the batch vote — (votes DESC, best sim
  * DESC, lowest label). No cross-batch state is needed (an arrival's
  * candidates complete within its micro-batch; the group state slot
  * stays empty) — the stateful operator exists to express the per-query
  * rank+vote, which streaming forbids as a window function.
  *
  * Scale shape: identical to the batch op — the static corpus frame
  * hash-joins on cell, per-micro-batch cost O(|arrivals| · nProbe ·
  * occupancy); the rank+vote rides the groupByKey exchange at
  * #arrivals grain. Decisions match the oracle-gated batch op
  * row-for-row (ParitySpec). */
object KnnClassifyStream {

  /** arrivals ⋈ corpusCells → one [[KnnPrediction]] per arrival with at
    * least one candidate. `corpusCells` is the frozen index projection
    * (cell, nid, nlabel, np=packed unit vector). */
  def predictions(arrivals: Dataset[KnnQuery], corpusCells: DataFrame,
      k: Int): Dataset[KnnPrediction] = {
    val spark = arrivals.sparkSession
    import spark.implicits._
    val a = arrivals.select(col("qid"), explode(col("probes")).as("cell"), col("qp"))
    val cand = a.join(corpusCells, "cell").where(col("qid") =!= col("nid"))
      .withColumn("sim",
        r4(org.apache.spark.sql.GraftColumns.dotPacked(col("qp"), col("np"))))
      .select(col("qid"), col("nid"), col("nlabel"), col("sim"))
      .as[(Long, Long, Long, Double)]
    val kk = k
    cand.groupByKey(_._1)
      .flatMapGroupsWithState[Long, KnnPrediction](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (qid: Long, rows: Iterator[(Long, Long, Long, Double)], _) =>
          val top = rows.toSeq.sortBy { case (_, nid, _, sim) => (-sim, nid) }.take(kk)
          if (top.isEmpty) Iterator.empty
          else {
            // the batch vote verbatim: per label (count, best sim), rank
            // (votes DESC, best DESC, label ASC), winner predicts
            val pred = top.groupBy(_._3).toSeq
              .map { case (lab, rs) => (lab, rs.size, rs.map(_._4).max) }
              .sortBy { case (lab, v, best) => (-v, -best, lab) }
              .head._1
            Iterator.single(KnnPrediction(qid, pred))
          }
      }
  }
}
