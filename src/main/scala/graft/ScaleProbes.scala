package graft

/** Deterministic scale-probe runner: `runMain graft.ScaleProbes <sfDir>`
  * prints the mechanism numbers the COVERAGE scale tables rest on —
  * quantities that are pure functions of the input (candidate counts,
  * payload sizes), so decade-over-decade ratios measure DESIGN growth,
  * not host noise. The same hooks are pinned at the gate SF by
  * ScaleProbeSpec so their meaning cannot drift. */
object ScaleProbes {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession(32, "ERROR")
    val (cand, meanSet) = QueriesPipeline.minhashProbe(spark, sfDir)
    println(f"[probe] $sfDir minhash_banded_candidates=$cand mean_shingle_set=$meanSet%.1f")
    val (multiH, pairRows) = QueriesPipeline.overlapProbe(spark, sfDir)
    println(s"[probe] $sfDir overlap_multisource_hashes=$multiH overlap_pair_rows=$pairRows")
    // hier-descent cost at the registry dedup config (occupancy 64,
    // nTop ~ sqrt(k)): scored centroids per vector = nTop (in-closure)
    // + probed branches' leaves — deterministic frame counts, no
    // wall-clock noise; the flat baseline scores k = n/occ per vector
    val e = Tables.embeddings(spark, sfDir)
    val n = e.count()
    val occ = 64
    val k = math.max(1, math.ceil(n.toDouble / occ).toInt)
    val nTop = math.max(8, math.round(math.sqrt(k.toDouble)).toInt)
    val hq = graft.functions.Similarity.hierQuantizer(e, nTop, occ,
      iters = 2, dimHint = 64)
    val leafScored = graft.functions.Similarity
      .hierScoredLeaves(e, hq, nProbeTop = 2, dimHint = 64)
      .agg(org.apache.spark.sql.functions.avg("scored")).head.getDouble(0)
    println(f"[probe] $sfDir n=$n flat_scored_per_vec=$k hier_scored_per_vec=${nTop + leafScored}%.1f (nTop=$nTop)")
    // 3-level deep-descent cost at the same occupancy-64 cell scale:
    // top = cbrt(k) trained centroids, mids at 64·c, leaves at 64 —
    // scored/vector on the width-1 home chain should track k^(1/3)
    // per decade where the 2-level number tracks √k
    val c3 = math.max(4, math.round(math.cbrt(k.toDouble)).toInt)
    val dq = graft.functions.Similarity.deepQuantizer(e, c3,
      Seq(64 * c3, 64), iters = 2, dimHint = 64)
    val deepScored = graft.functions.Similarity.deepScoredHome(e, dq, 64)
      .agg(org.apache.spark.sql.functions.avg("scored")).head.getDouble(0)
    println(f"[probe] $sfDir deep3_scored_per_vec=$deepScored%.1f (nTop=$c3)")
    // DTW-family mechanism probe (any arg == "dtw"): series count, pair
    // count, eps-edge count at the registry parameters — pure functions
    // of the input, so decade ratios attribute the aug_dtw/aug_cluster
    // wall to pair volume (the op's declared O(k²) output) vs edge
    // density (the CC input, output-sized)
    if (args.contains("dtw")) {
      import org.apache.spark.sql.functions._
      val t = Tables.events(spark, sfDir)
      val ok = t.df.groupBy("user_id").agg(count(lit(1)).as("__n"))
        .where(col("__n") >= 16).select("user_id")
      val t16 = t.copy(df = t.df.join(broadcast(ok), Seq("user_id")))
      val kk = ok.count()
      // same escape hatch as the registry (BASELINE.md maxPairs rule):
      // probing the events×16 decade needs an explicit budget
      val mp = sys.env.get("SPARK_GRAFT_DTW_MAXPAIRS").map(_.toLong)
        .getOrElse(graft.ops.Augurs.DtwDefaultMaxPairs)
      val edges = graft.ops.Augurs.dtwMatrix(t16, 16, 4, maxPairs = mp)
        .where(col("dtw") <= 330.0).count()
      println(s"[probe] $sfDir dtw_k=$kk dtw_pairs=${kk * (kk - 1) / 2} dtw_eps_edges=$edges")
    }
    // histogram-descent mechanism at growing n (optional 2nd arg = row
    // count): rounds and wall for exact p50/p90/p99 over a deterministic
    // hash-valued range — the quantile twin of the minhash candidate
    // probe. rounds is the design number (≤ maxRounds by construction);
    // the wall should be rounds × one-scan, i.e. linear per decade.
    args.drop(1).headOption.flatMap(_.toLongOption).filter(_ > 0).foreach { nq =>
      import org.apache.spark.sql.functions._
      val vals = spark.range(nq).select(
        (abs(hash(col("id"))).cast("double") / 1000.0).as("v"))
      val t0 = System.nanoTime()
      val q = graft.ops.Sketch.exactQuantiles(vals, "v", Seq(0.5, 0.9, 0.99),
        buckets = 1024, cap = 4096)
      val wall = (System.nanoTime() - t0) / 1e9
      val got = q.result.collect().map(r => f"${r.getDouble(0)}:${r.getDouble(1)}%.1f")
      println(f"[probe] quantiles n=$nq rounds=${q.rounds} certified=${q.certified} " +
        f"wall=$wall%.1f s ${got.mkString(" ")}")
    }
    spark.stop()
  }
}
