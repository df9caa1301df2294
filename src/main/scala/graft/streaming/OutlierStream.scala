package graft.streaming

import graft.functions.Similarity
import graft.functions.HalfUp.r4
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Frozen scoring model for the live embedding-outlier screen: the
  * trained quantizer centroids + each cell's 4dp-rounded (mu, sd) over
  * the stored corpus's affinities. Tiny by construction (nCent
  * centroids + 2 doubles per cell) — rides the closure like every
  * frozen-model twin. */
final case class OutlierModel(model: Seq[(Long, Array[Double])], dim: Int,
    stats: Map[Long, (Double, Double)], nSigma: Double)

/** Streaming twin of the registry's `emb_outlier` decision op — the
  * ninth live decision family: the quantizer and the per-cell affinity
  * statistics FREEZE over the stored corpus ([[fit]] — the steady-state
  * discipline of DsirStream's frozen λ and KnnClassifyStream's frozen
  * index), then arriving vectors score STATELESSLY per micro-batch:
  * the shared JIT assignment loop (the batch op's kmeans kernel —
  * [[Similarity.incrementalAssignFrame]] runs the same rounded-argmax,
  * lowest-cid-tie loop), a broadcast join against the ≤nCent-row stats
  * table, and the same rounded-boundary comparison. No state, no
  * watermark; an arrival's flag is final the moment it lands — the
  * irrevocability contract every live twin keeps.
  *
  * Scale shape: per micro-batch cost is |arrivals| × nCent × dim flops
  * map-side plus one broadcast hash join — nothing keyed on the corpus,
  * which appears only at [[fit]] time. */
object OutlierStream {

  /** Train on the stored corpus: the SAME (nCent, iters) kmeans the
    * batch op assigns with, then per-cell mu = r4(avg aff), sd =
    * r4(stddev_samp aff) over the corpus's own assignment. */
  def fit(corpus: DataFrame, nCent: Int, iters: Int, dim: Int,
      nSigma: Double): OutlierModel = {
    val model = Similarity.kmeansModel(corpus, nCent, iters, dimHint = dim)
    val asg = Similarity.incrementalAssignFrame(corpus, model, dim)
    val stats = asg.groupBy("cell")
      .agg(r4(avg(col("aff"))).as("mu"),
        r4(coalesce(stddev_samp(col("aff")), lit(0.0))).as("sd"))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    OutlierModel(model, dim, stats, nSigma)
  }

  /** Score arrivals (vec_id, embedding) under the frozen model —
    * applies unchanged to a batch OR streaming frame (stateless). */
  def flags(arrivals: DataFrame, m: OutlierModel): DataFrame = {
    val spark = arrivals.sparkSession
    import spark.implicits._
    val st = broadcast(
      m.stats.toSeq.map { case (c, (mu, sd)) => (c, mu, sd) }.toDF("cell", "mu", "sd"))
    Similarity.incrementalAssignFrame(arrivals, m.model, m.dim)
      .join(st, "cell")
      .select(col("id").as("vec_id"), col("cell"), col("aff"), col("mu"), col("sd"),
        (col("aff") < col("mu") - lit(m.nSigma) * col("sd")).as("is_far"))
  }
}
