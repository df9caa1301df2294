package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, Pin}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

import graft.functions.{HalfUp, Similarity}
import graft.functions.HalfUp.r4

/** One arriving hybrid-retrieval query: its sparse term set and its
  * dense embedding (already double-typed). */
final case class RetrievalQuery(qid: Long, terms: Seq[String], qv: Seq[Double])

/** One emitted fused hit — the batch `doc_hybrid_rrf` row shape, plus
  * the qid that owns it. `rs`/`rd` are None when the doc appears in
  * only one leg's top-100 (the batch frame's full-outer NULLs). */
final case class RetrievalHit(qid: Long, id: Long,
    rs: Option[Long], rd: Option[Long], rrf: Double)

/** Streaming twin of the registry's `doc_hybrid_rrf` hybrid retrieval
  * (the fourth decision family with a live leg, after SemDeDup,
  * kNN-classify and DSIR): the corpus index is FROZEN — an inverted
  * BM25 postings frame (tok → doc, tf, dl, df) with pinned corpus
  * scalars (N, avgdl), and the dense embedding frame — queries arrive
  * on a stream, and every micro-batch retrieves for its arrivals with
  * the batch op's exact arithmetic: per-term posting-list contributions
  * summed per doc and rounded to the 4dp grid, brute cosine rounded to
  * the same grid, each leg's top-100 ranked (value DESC, id ASC), and
  * Σ 1/(60+rank) fused on the 6dp grid. The per-query rank+fuse lives
  * in a flatMapGroupsWithState (streaming forbids it as a window
  * function); no cross-batch state is needed — an arrival's candidates
  * complete within its micro-batch and the group slot stays empty.
  *
  * Scale shape: the sparse leg is a hash equi-join of exploded query
  * terms against the postings frame — cost per arrival is the length
  * of its terms' posting lists (the classical inverted-index traversal;
  * a production system would add WAND/impact-ordered pruning to skip
  * low-impact postings, which only SHRINKS this leg). The dense leg is
  * deliberately the brute baseline — the twin of the batch op's brute
  * leg, O(corpus) per arrival; swap the frozen frame for the IVF
  * probe-cell projection ([[KnnClassifyStream]]'s shape) when the
  * corpus outgrows brute. Before the per-query shuffle, each partition
  * keeps only its local dense top-100 per arrival (the manual
  * TakeOrderedAndProject), so the exchange carries ≤ 100·partitions
  * dense rows per query, never the corpus. Fused hits match the
  * oracle-gated batch frame row-for-row for ANY query (ParitySpec). */
object RetrievalStream {

  /** One candidate row headed for the per-query rank+fuse. leg 0 =
    * sparse (v = one unrounded per-term BM25 contribution, summed in
    * the group), leg 1 = dense (v = the 4dp-rounded cosine). */
  final case class Cand(qid: Long, id: Long, leg: Int, v: Double)

  /** Frozen sparse index: `postings` (tok, id, tf, dl, df) + the
    * pinned corpus scalars. df is per-token document frequency over
    * the WHOLE corpus — identical to the batch op's per-query df
    * because restricting postings to the query's terms never changes
    * how many docs contain each term. */
  final case class SparseIndex(postings: DataFrame, n: Double, avgdl: Double) {
    /** Release the cached postings frame (the frozen model). */
    def unpersist(): Unit = Pin.release(postings)
  }

  /** Build the frozen inverted index from a (doc_id, text) frame with
    * the batch tokenizer. One groupBy((id, tok)) + one per-tok df
    * aggregate — both at posting grain, both once, before the stream:
    * the postings frame is cached (it is the model — the quantizer
    * level-frame discipline), otherwise every micro-batch's
    * stream-static join would re-tokenize and re-aggregate the whole
    * corpus. Call [[SparseIndex.unpersist]] when retiring the index. */
  def sparseIndex(doc: DataFrame): SparseIndex = {
    import graft.functions.{TextFunctions => TF}
    val dls = doc.select(col("doc_id").as("id"),
      coalesce(size(TF.tokens(col("text"))), lit(0)).cast("double").as("dl"))
    val st = dls.agg(count(lit(1)).cast("double"), sum("dl")).head
    val n = st.getDouble(0)
    val avgdl = if (n == 0) 0.0 else st.getDouble(1) / n
    val tf = doc.select(col("doc_id").as("id"),
        explode(TF.tokens(col("text"))).as("tok"))
      .groupBy("id", "tok").agg(count(lit(1)).cast("double").as("tf"))
    val df = tf.groupBy("tok").agg(count(lit(1)).cast("double").as("df"))
    SparseIndex(Pin.cache(tf.join(df, "tok").join(dls, "id"), eager = false), n, avgdl)
  }

  /** arrivals ⋈ frozen index → ≤ `kOut` [[RetrievalHit]]s per arrival.
    * `dense` is the frozen (nid, nv: Array[Double]) embedding frame. */
  def hits(arrivals: Dataset[RetrievalQuery], idx: SparseIndex, dense: DataFrame,
      kLeg: Int = 100, kOut: Int = 20): Dataset[RetrievalHit] = {
    val spark = arrivals.sparkSession
    import spark.implicits._
    val n = idx.n
    val avgdl = idx.avgdl
    // array_distinct: the batch leg's isin filter has SET semantics, so
    // a duplicated query term must not double-count its contribution
    val sparseCand = arrivals
      .select(col("qid"), explode(array_distinct(col("terms"))).as("tok"))
      .join(idx.postings, "tok")
      .select(col("qid"), col("id"), lit(0).as("leg"),
        graft.QueriesPipeline.bm25Contrib(n, avgdl).as("v"))
      .as[Cand]
    val denseCand = arrivals.select(col("qid"), col("qv"))
      .join(dense, col("qid") =!= col("nid"))
      .select(col("qid"), col("nid").as("id"), lit(1).as("leg"),
        r4(Similarity.cosLoop(col("qv"), col("nv"))).as("v"))
      .as[Cand]
    // local top-kLeg per arrival before the shuffle: a superset of the
    // global top-kLeg survives any partitioning, so the group sees every
    // row the batch limit(100) would keep
    val kL = kLeg
    val worstFirst: Ordering[Cand] = Ordering.by(c => (-c.v, c.id))
    val denseTrim = denseCand.mapPartitions { it =>
      val best = mutable.Map.empty[Long, mutable.PriorityQueue[Cand]]
      it.foreach { c =>
        val pq = best.getOrElseUpdate(c.qid, mutable.PriorityQueue.empty(worstFirst))
        if (pq.size < kL) pq.enqueue(c)
        else if (worstFirst.compare(c, pq.head) < 0) { pq.dequeue(); pq.enqueue(c) }
      }
      best.valuesIterator.flatMap(_.iterator)
    }
    val kO = kOut
    sparseCand.unionByName(denseTrim)
      .groupByKey(_.qid)
      .flatMapGroupsWithState[Long, RetrievalHit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (qid: Long, rows: Iterator[Cand], _) =>
          val (sp, dn) = rows.toSeq.partition(_.leg == 0)
          // sparse: sum the per-term contributions per doc (the batch
          // groupBy), round to the grid, rank (score DESC, id ASC)
          val sums = mutable.Map.empty[Long, Double]
          sp.foreach(c => sums.update(c.id, sums.getOrElse(c.id, 0.0) + c.v))
          val rs = sums.toSeq.map { case (id, s) => (id, HalfUp.rd(s)) }
            .sortBy { case (id, s) => (-s, id) }.take(kL)
            .zipWithIndex.map { case ((id, _), i) => id -> (i + 1L) }.toMap
          val rd = dn.sortBy(c => (-c.v, c.id)).take(kL)
            .zipWithIndex.map { case (c, i) => c.id -> (i + 1L) }.toMap
          val fused = (rs.keySet ++ rd.keySet).toSeq.map { id =>
            val f = rs.get(id).map(r => 1.0 / (60.0 + r)).getOrElse(0.0) +
              rd.get(id).map(r => 1.0 / (60.0 + r)).getOrElse(0.0)
            RetrievalHit(qid, id, rs.get(id), rd.get(id), HalfUp.rd(f, 6))
          }
          fused.sortBy(h => (-h.rrf, h.id)).take(kO).iterator
      }
  }
}
