package graft.streaming

import graft.QueriesPipeline
import graft.functions.TextFunctions
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.{col, typedLit}

/** One arriving document to score. */
final case class DocArrival(doc_id: Long, text: String)

/** One emitted importance score — the batch `doc_dsir` row shape. */
final case class DsirScore(doc_id: Long, n_feats: Long, logw: Double)

/** Streaming twin of the registry's `doc_dsir` importance scorer (the
  * third decision family with a live leg, after SemDeDup and
  * kNN-classify): the hashed-n-gram λ model is FROZEN from the batch fit
  * (QueriesPipeline.dsirFit — ≤1024 bucket→λ entries + the add-0.5
  * all-smoothing default λ₀ for buckets no training gram hit), documents
  * arrive on a stream, and every micro-batch scores its arrivals with the
  * batch op's own kernel ([[QueriesPipeline.dsirScore]] over
  * [[TextFunctions.dsirBuckets]]): the frozen model is densified into the
  * same B-entry λ array the batch plan broadcasts, so the arithmetic and
  * the rounding exist once.
  *
  * Scale shape: map-ONLY — the λ array rides the plan as a literal
  * (≤8 KB), the per-arrival cost is O(#grams), and no exchange exists at
  * all. That is the natural production form: score today's crawl as it
  * lands, at scan parallelism, no state. */
object DsirStream {

  /** arrivals → one [[DsirScore]] per doc with ≥1 feature (the batch op
    * drops zero-token docs the same way). */
  def scores(arrivals: Dataset[DocArrival],
      lam: Map[Long, Double], lamDefault: Double): Dataset[DsirScore] = {
    import arrivals.sparkSession.implicits._
    val b = QueriesPipeline.DsirBuckets
    val dense = Array.tabulate(b.toInt)(i => lam.getOrElse(i.toLong, lamDefault))
    QueriesPipeline.dsirScore(
      arrivals.select(col("doc_id"), TextFunctions.dsirBuckets(col("text"), b).as("bk")),
      typedLit(dense))
      .where(col("n_feats") > 0).as[DsirScore]
  }
}
