package graft

import graft.ops.Graph
import org.apache.spark.sql.Pin
import org.apache.spark.sql.functions._

/** Connected components: exact component labels on known graphs. */
class GraphSpec extends SparkSuite {
  import spark.implicits._

  private def components(edges: (Long, Long)*): Map[Long, Long] =
    Graph.connectedComponents(edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap

  test("two separate components get their min-id labels") {
    val c = components((1L, 2L), (2L, 3L), (10L, 11L))
    assert(c == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("a long chain converges to one component (diameter > 1 round)") {
    val chain = (1L to 9L).sliding(2).map(s => (s(0), s(1))).toSeq
    val c = components(chain: _*)
    assert(c.keySet == (1L to 9L).toSet && c.values.forall(_ == 1L))
  }

  test("edge direction is irrelevant and min can arrive from either side") {
    // min id sits at the TAIL of the directed edges: propagation must flow
    // against the arrows too
    val c = components((5L, 4L), (4L, 3L), (3L, 1L), (8L, 7L))
    assert(c == Map(5L -> 1L, 4L -> 1L, 3L -> 1L, 1L -> 1L, 8L -> 7L, 7L -> 7L))
  }

  test("empty edge list yields an empty frame") {
    val out = Graph.connectedComponents(
      Seq.empty[(Long, Long)].toDF("src", "dst"))
    assert(out.count() == 0)
  }

  test("self-loops and duplicate edges are harmless") {
    val c = components((1L, 1L), (1L, 2L), (2L, 1L), (1L, 2L))
    assert(c == Map(1L -> 1L, 2L -> 1L))
  }

  test("a 100-node chain converges in O(log n) rounds (pointer jump gate)") {
    // plain propagation needs diameter-many rounds (99 > maxIter=50 and
    // would abort); the label-edge pointer jump halves chain depth per
    // round, so this converges well inside the default budget
    val chain = (1L to 100L).sliding(2).map(s => (s(0), s(1))).toSeq
    val out = Graph.connectedComponents(chain.toDF("src", "dst"))
    val c = out.select("component").distinct().as[Long].collect().toSeq
    assert(c == Seq(1L), s"one component labeled 1, got $c")
    Pin.release(out)
  }

  test("round blocks are freed: only the returned frame stays cached") {
    // localCheckpoint caches outside the CacheManager — without the
    // per-round unpersist a long-lived session leaks executor storage.
    // Track by id-set difference: other suites' cached RDDs come and go
    // underneath us (ContextCleaner unpersists on GC), so absolute counts
    // are racy — only the ids THIS call creates are ours to assert on.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val chain = (1L to 9L).sliding(2).map(s => (s(0), s(1))).toSeq
    val out = Graph.connectedComponents(chain.toDF("src", "dst"))
    assert(out.count() == 9)
    val mine = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(mine.size == 1,
      s"expected only the returned label frame cached, got ${mine.size} new RDDs")
    Pin.release(out)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("5k-edge pseudo-random graph matches a driver-side union-find") {
    // deterministic LCG edge stream over 2k vertices: many components of
    // varied shape (cliques, chains, isolated pairs), not hand-pickable
    var st = 12345L
    def nxt(): Long = { st = st * 6364136223846793005L + 1442695040888963407L; (st >>> 33) % 2000L }
    val edges = Seq.fill(5000)((nxt(), nxt()))
    // reference: classic union-find with path compression
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // union-by-min keeps every root at its component's minimum id, so the
    // find-root IS the canonical min-id label
    val want = parent.keys.map(v => v -> find(v)).toMap
    val got = Graph.connectedComponents(edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(got == want)
  }

  /** The golden's LCG edge stream, for the tests below. */
  private def lcgEdges(n: Int): Seq[(Long, Long)] = {
    var st = 12345L
    def nxt(): Long = { st = st * 6364136223846793005L + 1442695040888963407L; (st >>> 33) % 2000L }
    Seq.fill(n)((nxt(), nxt()))
  }

  /** The golden's union-find reference, for the tests below. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  test("symmetric = true on a both-directions edge list matches the default path") {
    val edges = lcgEdges(2000)
    val both = (edges ++ edges.map(_.swap)).distinct
    val sym = Graph.connectedComponents(both.toDF("src", "dst"), symmetric = true)
    val got = sym.as[(Long, Long)].collect().toMap
    assert(got == components(edges: _*), "symmetric path differs from the default path")
    assert(got == unionFind(edges), "symmetric path differs from the union-find reference")
    Pin.release(sym)
  }

  test("the label frame sits where its declared hashpartitioning(id) says") {
    // downstream joins on id plan no exchange on the label side, so each
    // row must be in the partition Spark's own hash exchange would pick
    val out = Graph.connectedComponents(lcgEdges(500).toDF("src", "dst"))
    val n = out.rdd.getNumPartitions
    val misplaced = out.where(spark_partition_id() =!= pmod(hash(col("id")), lit(n))).count()
    assert(misplaced == 0, s"$misplaced rows outside their hash partition")
    val p = out.join(out.select(col("id"), col("component").as("c2")), "id")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"a self-join on id must plan no exchange:\n$p")
    Pin.release(out)
  }

  test("with a checkpoint directory set, the labels end in a reliable checkpoint") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt")
    try {
      val edges = lcgEdges(1000)
      org.apache.spark.CheckpointDirs.withDir(spark.sparkContext, dir.toString) {
        val out = Graph.connectedComponents(edges.toDF("src", "dst"))
        val rdd = out.queryExecution.logical
          .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd
        assert(rdd.isCheckpointed && rdd.getCheckpointFile.isDefined,
          s"label lineage must end in a reliable checkpoint:\n${rdd.toDebugString}")
        assert(out.as[(Long, Long)].collect().toMap == unionFind(edges))
        Pin.release(out)
      }
    } finally {
      val walk = java.nio.file.Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.delete(p))
      finally walk.close()
    }
  }
}
