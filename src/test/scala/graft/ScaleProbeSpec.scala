package graft

import org.apache.spark.sql.functions._

/** The scale-probe hooks behind the COVERAGE 100× attributions — pinned
  * at the gate SF so the numbers those attributions rest on (banded
  * candidate volume, verify-payload size, probe-frame shape) cannot
  * silently change meaning. */
class ScaleProbeSpec extends SparkSuite {

  private val d = "/root/testdata/sf0.001"

  test("GraftSession's input-scaled shuffle partitions: cores at bench SFs, grow ~bytes/32MiB") {
    // the policy behind the 1000× minhash A/B (608→569 s wall, GC
    // 37.5→31.1 s at 256 partitions): partitions scale with input so
    // each sort fits the executor pool. At the bench SFs the rule must
    // floor at the core count — local records stay comparable.
    assert(GraftSession.partitionsFor("/root/testdata/sf0.1", 32) == 32,
      "17 MB input floors at 32")
    assert(GraftSession.partitionsFor("/does/not/exist", 32) == 32,
      "missing dir floors, never throws")
    // synthesize the arithmetic via a temp file of known size: 3 GiB of
    // input → 96 partitions; the 1024 cap holds at petabyte arguments
    val f = java.nio.file.Files.createTempDirectory("psp").toFile
    val raf = new java.io.RandomAccessFile(new java.io.File(f, "x.parquet"), "rw")
    raf.setLength(3L << 30); raf.close() // sparse — no real 3 GiB written
    assert(GraftSession.partitionsFor(f.getAbsolutePath, 32) == 96,
      "3 GiB input -> 96 partitions (bytes/32MiB)")
    f.listFiles().foreach(_.delete()); f.delete()
  }

  test("deepScoredHome: one row per vector, bounded by the level sizes") {
    // pins the 3-level probe hook the COVERAGE descent-cost table reads:
    // scored = nTop + |mids(home branch)| + |leaves(home mid)| per vector
    val e = Tables.embeddings(spark, d)
    val n = e.count()
    val dq = graft.functions.Similarity.deepQuantizer(e, nTop = 4,
      occupancies = Seq(256, 64), iters = 2, dimHint = 64)
    val mids = dq.levels(0).count(); val leaves = dq.levels(1).count()
    val sc = graft.functions.Similarity.deepScoredHome(e, dq, 64)
    assert(sc.count() == n, "one scored-count row per vector")
    val mm = sc.agg(min(col("scored")), max(col("scored"))).head
    assert(mm.getLong(0) >= 4 + 2,
      s"every vector scores the top + >=1 mid + >=1 leaf: min=${mm.getLong(0)}")
    assert(mm.getLong(1) <= 4 + mids + leaves,
      s"no vector scores more than every existing centroid: max=${mm.getLong(1)} " +
        s"vs 4+$mids+$leaves")
  }

  test("dtw probe: k/pairs/eps-edges at the registry params stay pinned at the gate SF") {
    // pins the mechanism numbers the round-16 DTW k-scale table reads
    // (COVERAGE: 1,500/1.12M/57,824 at sf0.1; 16.2×/64.7× edge growth at
    // the replicated decades): at sf0.001 the registry parameters
    // (window 16, band 4, eps 330) give 15 series, 105 pairs, and the
    // 7 eps-edges behind the 5-core/2-border/8-noise DBSCAN split the
    // aug_cluster oracle fixes. A drift here means the probe (or the
    // banded DP) changed meaning and every decade attribution with it.
    val t = Tables.events(spark, d)
    val ok = t.df.groupBy("user_id").agg(count(lit(1)).as("__n"))
      .where(col("__n") >= 16).select("user_id")
    val t16 = t.copy(df = t.df.join(broadcast(ok), Seq("user_id")))
    assert(ok.count() == 15, "15 qualifying series at sf0.001")
    val edges = graft.ops.Augurs.dtwMatrix(t16, 16, 4)
      .where(col("dtw") <= 330.0).count()
    assert(edges == 7, s"eps-edge count drifted: $edges (expected 7)")
  }

  test("minhashProbe: banded candidates and set length size the verify join") {
    val (cand, meanSet) = QueriesPipeline.minhashProbe(spark, d)
    // candidates exist (the corpus has planted near-dups) and the mean
    // shingle-set length is small-constant — the verify join's per-pair
    // payload is 2 × meanSet × 8 bytes, which is why candidate volume,
    // not corpus size, sizes that shuffle (measured linear at 10×/100×)
    assert(cand > 0, "banded candidate pairs must exist at the gate SF")
    assert(meanSet > 0 && meanSet < 1000,
      s"mean shingle-set length $meanSet outside the small-constant band")
  }

  test("overlapProbe: multi-source hashes and their pair-row volume agree with the matrix") {
    val (multiH, pairRows) = QueriesPipeline.overlapProbe(spark, d)
    assert(multiH > 0, "shared shingles must exist at the gate SF")
    assert(pairRows >= multiH, "every multi-source hash yields >= 1 pair row")
    // consistency with the registry op: the matrix's total shared count
    // equals the probe's pair-row volume (each pair row is one (h, pair))
    val total = Queries.registry.toMap.apply("doc_overlap_matrix").fn(spark, d)
      .agg(sum("shared")).head.getLong(0)
    assert(total == pairRows,
      s"matrix total $total must equal the probe's pair rows $pairRows")
  }

  test("probeFrameForTest: one row per vector, nProbe cells, packed payload") {
    val e = Tables.embeddings(spark, d)
    val n = e.count()
    val k = math.max(1, math.ceil(
      n.toDouble / graft.functions.Similarity.DedupCellOccupancy).toInt)
    val model = graft.functions.Similarity.kmeansModel(e, nCent = k, iters = 2,
      dimHint = 64)
    val pf = graft.functions.Similarity.probeFrameForTest(e, model, nProbe = 6,
      dimHint = 64).cache()
    try {
      assert(pf.count() == n, "probe frame carries exactly one row per vector")
      val probeCounts = pf.select(size(col("pcs")).as("s"))
        .groupBy("s").count().collect().map(r => r.getInt(0)).toSet
      assert(probeCounts == Set(math.min(6, k)),
        s"every row probes min(nProbe, k) cells, got sizes $probeCounts")
      assert(pf.select(min(length(col("vp")))).head.getInt(0) == 64 * 8,
        "packed payload is dim x 8 bytes")
    } finally pf.unpersist()
  }

  test("cosineDedupIvf with a supplied model plans with ZERO pre-jobs (no sizing count)") {
    // round-9 verdict item: the old unconditional vecs.count() was a full
    // corpus pass spent sizing a cell count the model branch never read —
    // at 100 TB that is an extra scan before any useful work. With model=
    // and dimHint= supplied, building the DataFrame must launch no Spark
    // job at all (the count would show up here as one).
    val e = Tables.embeddings(spark, d)
    val model = graft.functions.Similarity.kmeansModel(e, nCent = 8, iters = 1,
      dimHint = 64)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val df = graft.functions.Similarity.cosineDedupIvf(e, 0.4,
        graft.functions.Similarity.Quantizer.Flat(model), nProbe = 2, dimHint = 64)
      // a sizing count() inside cosineDedupIvf is a BLOCKING action, so
      // its job-start event is posted before the call returns; listener
      // delivery is async, so give the bus a beat to drain (the public
      // API hides waitUntilEmpty)
      val deadline = System.nanoTime() + 1000L * 1000 * 1000
      while (jobs.get() == 0 && System.nanoTime() < deadline) Thread.sleep(50)
      assert(jobs.get() == 0,
        s"plan construction launched ${jobs.get()} job(s); the sizing count is back")
      assert(df.count() > 0, "the planned dedup still executes and finds pairs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("hierarchical descent: scored centroids per vector grow ~sqrt per decade " +
      "(the flat model grows linearly and walls at the driver cap)") {
    // the quantitative claim Quantizer.Hier rests on, measured from
    // the frames (deterministic — no wall-clock noise): a vector scores
    // nTop top centroids + the probed branches' leaves. With nTop ~ sqrt(k)
    // that is ~2*sqrt(k) per vector vs the flat path's k; per decade the
    // hier count grows ~sqrt(10)=3.16x while flat grows 10x, and the
    // DRIVER model is nTop x dim doubles vs k x dim (the 8M-vector
    // QuantizerModelMaxDoubles wall the flat require trips).
    val e = Tables.embeddings(spark, d)
    def measure(vecs: org.apache.spark.sql.DataFrame): (Long, Double, Double, Int) = {
      val occ = 16
      val n = vecs.count()
      val k = math.max(1, math.ceil(n.toDouble / occ).toInt)
      val nTop = math.max(1, math.round(math.sqrt(k.toDouble)).toInt)
      val hq = graft.functions.Similarity.hierQuantizer(vecs, nTop, occ,
        iters = 1, dimHint = 64)
      val leafScored = graft.functions.Similarity
        .hierScoredLeaves(vecs, hq, nProbeTop = 2, dimHint = 64)
        .agg(avg("scored")).head.getDouble(0)
      (n, k.toDouble, nTop + leafScored, nTop)
    }
    val (n1, flat1, hier1, t1) = measure(e)
    val (n10, flat10, hier10, t10) = measure(GenScale.scaleEmbeddings(e, 10))
    info(f"1x:  n=$n1%d flat=$flat1%.0f hier=$hier1%.1f (nTop=$t1%d) scored/vector")
    info(f"10x: n=$n10%d flat=$flat10%.0f hier=$hier10%.1f (nTop=$t10%d) scored/vector")
    assert(flat10 / flat1 >= 9.0,
      "flat scored-centroids per vector must grow ~linearly per decade (the baseline)")
    val ratio = hier10 / hier1
    assert(ratio <= 4.5,
      f"hier scored-centroids per vector grew $ratio%.2fx per decade; expected ~sqrt(10)=3.16")
    assert(hier10 < flat10 / 2.0,
      f"at 10x the descent must score far fewer centroids than flat ($hier10%.1f vs $flat10%.0f)")
  }
}
