package graft.ops

import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftFrames, Pin}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import scala.collection.mutable.LongMap

/** Distributed graph primitives for the dedup pipeline. Near-dup detection
  * (MinHash/SimHash/cosine LSH) emits PAIRS; a training-data pipeline needs
  * CLUSTERS — a~b and b~c must collapse to one survivor even though (a, c)
  * was never emitted as a pair. Connected components is that collapse. */
object Graph {

  /** Connected components by iterative min-label propagation: every vertex
    * starts labeled with its own id; each round every vertex takes the min
    * of its own label and its neighbors' labels; at fixpoint the label is
    * the component's minimum vertex id (which doubles as the dedup
    * survivor under the keep-lowest-id convention used across the dedup
    * family).
    *
    * Returns (id, component), both long (integral ids are cast), for every
    * vertex that appears in `edges` (isolated vertices are their own
    * trivial component — union them in at the call site if needed). Edges
    * with a null end are dropped.
    *
    * Scale shape — GraphX (OSDI 2014): the edges are partitioned once and
    * only vertex values move. The edge list is symmetrized, hash-
    * partitioned by source ONCE and persisted; the labels live on the same
    * partitioner. A round is a plain RDD step — no Catalyst planning,
    * codegen or AQE stage job per round:
    *  - each vertex v sends a request to its label's partition (the only
    *    per-round data movement besides the messages: vertex-sized);
    *  - each partition joins its labels NARROWLY with its own edges and
    *    with the requests it received, answering label(s) to every edge
    *    target (propagation) and label(label(v)) to every requester v (the
    *    pointer jump, which halves the remaining chain depth per round:
    *    rounds = O(log diameter), Kiveris et al., "Connected Components in
    *    MapReduce");
    *  - one `reduceByKey(min)` on the same partitioner.
    * Init is seeded at min(id, neighbors) off the edge partitions, folding
    * the first propagation round in.
    *
    * Two rounds form a cycle, and a cycle is ONE job: the count that
    * materializes the cycle's pinned labels also counts, through an
    * accumulator, the labels its second round lowered. None lowered means
    * the first round's labels are a fixpoint of the round — so of plain
    * propagation too (labels only ever decrease) — and the iteration ends.
    * A re-executed task can only over-count: one more cycle, never a
    * wrong label.
    *
    * Every cycle's labels are an eager [[org.apache.spark.sql.Pin.cut]],
    * so the driver never replays the iteration (see `Pin`). The edges are
    * a lazy cut that is never performed (a job cuts only the first marked
    * RDD on its path, the cycle's labels), so lost edge blocks recompute
    * from the input. Label blocks are released once the next cycle
    * materializes, edge blocks at the end. Only the RETURNED frame stays
    * pinned: a cut `Scan ExistingRDD` leaf declaring `hashpartitioning(id)`
    * — the partitioner places ids exactly where that exchange would — so
    * downstream joins on `id` plan no exchange. Free it with
    * [[org.apache.spark.sql.Pin.release]].
    *
    * `symmetric = true` promises `edges` already contains both directions
    * of every edge (the aug_cluster path builds them that way): the
    * reversed copy is skipped, halving the edge shuffle. Duplicate edges
    * are harmless to min-propagation either way. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 50,
      symmetric: Boolean = false): DataFrame = {
    val spark = edges.sparkSession
    val sc = spark.sparkContext
    val part = new IdPartitioner(GraftFrames.shufflePartitions(spark))
    val Seq(s, t) = edges.columns.take(2).toSeq
    val und = Pin.cut(edges.select(col(s).cast("long"), col(t).cast("long")).queryExecution.toRdd
      .flatMap { r =>
        if (r.isNullAt(0) || r.isNullAt(1)) Nil
        else if (symmetric) List((r.getLong(0), r.getLong(1)))
        else List((r.getLong(0), r.getLong(1)), (r.getLong(1), r.getLong(0)))
      }.partitionBy(part), eager = false)
    // seeded init: label = min(id, neighbors), one narrow pass
    var labels: RDD[(Long, Long)] = und.mapPartitions({ es =>
      val m = new LongMap[Long]
      es.foreach { case (v, n) => m(v) = math.min(m.getOrElse(v, v), n) }
      m.iterator
    }, preservesPartitioning = true)
    // edges (s, t) and requests (label(v), v) both mean "send the label
    // of the first to the second"; own labels ride as (label, old) so the
    // reduced value tells whether this round lowered the label
    def round(ls: RDD[(Long, Long)]): RDD[(Long, (Long, Long))] = {
      val asks = ls.map { case (v, c) => (c, v) }.partitionBy(part)
      ls.zipPartitions(und, asks) { (own, out, ask) =>
        val m = LongMap.from(own)
        m.iterator.map { case (v, c) => (v, (c, c)) } ++
          (out ++ ask).map { case (u, v) => (v, (m.getOrElse(u, u), Long.MaxValue)) }
      }.reduceByKey(part, (a, b) => (math.min(a._1, b._1), math.min(a._2, b._2)))
    }
    val lowered = sc.longAccumulator("connectedComponents.lowered")
    var pinned: RDD[InternalRow] = null
    var it = 0
    var done = false
    while (!done && it < maxIter) {
      lowered.reset()
      // the cycle's one job: materializes its blocks, counts lowered labels
      val next = Pin.cut(round(round(labels).mapValues(_._1)).mapPartitions(_.map {
        case (v, (c, old)) => if (c < old) lowered.add(1); InternalRow(v, c)
      }, preservesPartitioning = true), eager = true)
      if (pinned != null) Pin.release(pinned) // last cycle's blocks are dead
      pinned = next
      labels = next.mapPartitions(_.map(r => (r.getLong(0), r.getLong(1))),
        preservesPartitioning = true)
      done = lowered.value == 0
      it += 2
    }
    Pin.release(und)
    require(done, s"connectedComponents: no fixpoint after $maxIter rounds (diameter > $maxIter?)")
    GraftFrames.hashPartitioned(spark, pinned, StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("component", LongType, nullable = false))), part.numPartitions)
  }

  /** Places a long key where Spark SQL's `hashpartitioning(key, n)` puts
    * it, pmod(murmur3(key, seed 42), n), so the planner can rely on it. */
  private final class IdPartitioner(val numPartitions: Int) extends Partitioner {
    def getPartition(key: Any): Int = {
      val h = Murmur3_x86_32.hashLong(key.asInstanceOf[Long], 42) % numPartitions
      if (h < 0) h + numPartitions else h
    }
    override def equals(o: Any): Boolean = o match {
      case p: IdPartitioner => p.numPartitions == numPartitions
      case _ => false
    }
    override def hashCode: Int = numPartitions
  }
}
