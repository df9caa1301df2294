package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Pin}
import org.apache.spark.sql.functions._
import HalfUp.r4

/** Embedding similarity primitives. Vectors are `array<float>` columns
  * (cast to double at the boundary). The LSH path is the 100 TB strategy:
  * bucket on deterministic random-hyperplane signs, join within buckets
  * only. Vector math note: Spark has no codegen'd array dot product —
  * `zip_with`/`aggregate` lambdas run in the interpreted evaluator — so
  * the hot pair-scoring path uses a primitive-loop UDF (measured faster
  * than the HOF tree-walk by ~an order of magnitude) and the bucket-sign
  * path uses an exploded broadcast-join aggregate that IS codegen'd. */
object Similarity {

  /** Max rows in [[pqTopK]]'s broadcast ADC query-distance table
    * (#queries × m × ksub, ~40 B/row → ~400 MB at the cap — inside
    * Spark's 8 GB broadcast limit with headroom for the driver to hold
    * build + serialized copies). Exceeding it means the query batch is
    * corpus-sized and the broadcast ADC formulation is the wrong plan. */
  val PqAdcBroadcastRowCap: Long = 10L * 1000 * 1000

  /** [[cosineDedupIvf]]'s target vectors-per-cell: the default cell count
    * is ⌈n / occupancy⌉, so candidate pairs per vector (occupancy ×
    * nProbe) are CONSTANT and total dedup work is O(n). 64 balances the
    * two linear terms: smaller cells mean more centroids to score per
    * vector (assignment, n × nCent × dim) and a bigger plan-time model;
    * bigger cells mean more pairs through the verify filter (n × occ ×
    * nProbe). */
  val DedupCellOccupancy: Int = 64

  /** Cap on the coarse-quantizer model held on the driver (centroids ×
    * dim doubles — 64 MB as doubles at the cap). [[cosineDedupIvf]]'s
    * n/occupancy flat model stays far under it at tested scales, but it
    * grows linearly: at dim 64 the cap trips near 8M vectors, which
    * should fail loudly and route the caller to a coarser or hierarchical
    * trained model (same frame contract, higher occupancy + more probes),
    * not silently balloon the driver and every task closure. */
  val QuantizerModelMaxDoubles: Long = 8L * 1024 * 1024

  /** Widen a vector to `array<double>` with a plain Cast — codegen'd, and
    * exact (float → double widening), unlike a per-element
    * `transform(v, x -> cast(x as double))` lambda, which runs in the
    * interpreted evaluator and keeps its Project out of whole-stage
    * codegen. */
  def toDouble(vec: Column): Column = vec.cast("array<double>")

  /** The fixed-dim vector check every op applies at its boundary:
    * `vec` as `array<double>` when it has exactly `dim` elements, else the
    * row aborts the query with "`op`: expected dim `dim`, got n" (or
    * "got NULL") — mixed-dimension input would otherwise score silently
    * against a wrong-length model or plane. */
  private[graft] def dimChecked(op: String, dim: Int)(vec: Column): Column =
    when(size(vec) === dim, toDouble(vec))
      .otherwise(raise_error(concat(lit(s"$op: expected dim $dim, got "),
        // coalesce: a NULL embedding would otherwise null out the whole
        // concat and raise_error would throw with a null message
        coalesce(size(vec).cast("string"), lit("NULL")))))

  /** `(id, v)`: each row's vec_id and its [[dimChecked]] vector. */
  private def idVecs(df: DataFrame, op: String, dim: Int): DataFrame =
    df.select(col("vec_id").as("id"), dimChecked(op, dim)(col("embedding")).as("v"))

  /** `(id, v)` unchecked — the sample source of the PQ codebooks. */
  private def rawVecs(df: DataFrame): DataFrame =
    df.select(col("vec_id").as("id"), toDouble(col("embedding")).as("v"))

  /** The caller's dim when known, else [[probeDim]]. */
  private def dimOf(df: DataFrame, dimHint: Int): Int =
    if (dimHint > 0) dimHint else probeDim(df)

  /** The empty result of an op on empty input: `cols` typed, no rows. */
  private def emptyFrame(df: DataFrame, cols: Column*): DataFrame =
    df.sparkSession.emptyDataFrame.select(cols: _*).where(lit(false))
  private def noPairs(df: DataFrame): DataFrame =
    emptyFrame(df, lit(0L).as("a"), lit(0L).as("b"), lit(0.0).as("cos"))
  private def noRanks(df: DataFrame): DataFrame =
    emptyFrame(df, lit(0L).as("qid"), lit(0L).as("nid"), lit(0.0).as("sim"), lit(0L).as("rank"))
  private def noAdc(df: DataFrame): DataFrame =
    emptyFrame(df, lit(0L).as("qid"), lit(0L).as("nid"), lit(0.0).as("adist"), lit(0L).as("rank"))
  private def noDecisions(df: DataFrame): DataFrame =
    emptyFrame(df, lit(0L).as("vec_id"), lit(0L).as("cell"),
      lit(0.0).as("aff"), lit(true).as("keep"))

  /** Probe the vector dimension from the frame's first row, NULL-safely.
    * An empty frame probes 0 (callers short-circuit to an empty result);
    * a NULL or empty first `embedding` aborts with a readable message —
    * `size(NULL)` is null, and reading it unguarded throws a bare
    * NullPointerException while every downstream [[dimChecked]] already
    * renders NULL sizes readably. */
  private[graft] def probeDim(df: DataFrame): Int =
    df.select(coalesce(size(col("embedding")), lit(-1))).take(1).headOption
      .map(_.getInt(0)) match {
      case None => 0
      case Some(d) if d > 0 => d
      case Some(_) => throw new IllegalArgumentException(
        "probeDim: first row's embedding is NULL or empty — clean the input or pass dimHint")
    }

  /** Top-`nTop` centroids of `v` by (4dp-rounded cosine DESC, cid ASC) —
    * the exact ranking every IVF assignment/probe in this file uses (the
    * rounding makes the DuckDB oracle's replay bit-stable) — computed
    * WITHOUT paying the exact decimal rounding per centroid. The naive
    * form (round all k, sort tuples) allocates a BigDecimal + boxed
    * tuples per (row × centroid): at the 100× scale check that was 625M
    * BigDecimals per assignment pass and measured 50–145 s/pass where
    * the raw dot products are ~40 Gflops (~seconds). Here the scoring
    * loop is allocation-free primitive math, and the exact rounding +
    * ranking runs only over the centroids that can still reach the
    * rounded top-nTop: rounded values live on the 1e-4 grid, so any
    * centroid in the final top-nTop — or tied with one — has a rounded
    * value ≥ round(t), t the nTop-th RAW score, hence a raw score
    * ≥ round(t) − 5e-5 ≥ t − 1e-4. The 1.1e-4 margin adds ulp slack.
    * Output is bit-identical to the naive form — proven by the oracle
    * hash gate, which replays these probe sets exactly. */
  private def topByRounded(cents: Array[(Long, Array[Double], Double)],
      v: Array[Double], nv: Double, nTop: Int): Seq[(Long, Double)] = {
    val kk = cents.length
    val raw = new Array[Double](kk)
    var i = 0
    while (i < kk) {
      val c = cents(i)
      val w = c._2; val nw = c._3
      var d = 0.0; var j = 0
      while (j < w.length) { d += v(j) * w(j); j += 1 }
      raw(i) = if (nv == 0 || nw == 0) 0.0 else d / (nv * nw)
      i += 1
    }
    // nTop-th largest raw score via a small insertion buffer
    val top = Array.fill(math.min(nTop, kk))(Double.NegativeInfinity)
    i = 0
    while (i < kk) {
      val x = raw(i)
      if (x > top(top.length - 1)) {
        var j = top.length - 1
        while (j > 0 && top(j - 1) < x) { top(j) = top(j - 1); j -= 1 }
        top(j) = x
      }
      i += 1
    }
    val thresh = top(top.length - 1) - 1.1e-4
    val cand = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    i = 0
    while (i < kk) {
      if (raw(i) >= thresh)
        cand += ((cents(i)._1, HalfUp.rd(raw(i))))
      i += 1
    }
    cand.sortBy { case (cid, cs) => (-cs, cid) }.take(nTop).toSeq
  }

  /** The three shared plan-time-model assignment UDFs — ONE definition of
    * the norm + [[topByRounded]] loop (one boxed→primitive copy per row,
    * allocation-free scoring) shared by every flat/hier/deep/kmeans/
    * incremental assignment and probe path, so the rounding/tie-break
    * discipline can never desynchronize between them (round-12 review:
    * five hand-maintained copies had accreted). */
  private def bestCellAffUdf(cents: Array[(Long, Array[Double], Double)]) =
    udf { (v: Seq[Double]) =>
      val va = v.toArray
      var n2 = 0.0; var i = 0
      while (i < va.length) { n2 += va(i) * va(i); i += 1 }
      val best = topByRounded(cents, va, math.sqrt(n2), 1).head
      (best._1, best._2)
    }

  private def bestCellUdf(cents: Array[(Long, Array[Double], Double)]) =
    udf { (v: Seq[Double]) =>
      val va = v.toArray
      var n2 = 0.0; var i = 0
      while (i < va.length) { n2 += va(i) * va(i); i += 1 }
      topByRounded(cents, va, math.sqrt(n2), 1).head._1
    }

  private def topCellsUdf(cents: Array[(Long, Array[Double], Double)], nTop: Int) =
    udf { (v: Seq[Double]) =>
      val va = v.toArray
      var n2 = 0.0; var i = 0
      while (i < va.length) { n2 += va(i) * va(i); i += 1 }
      topByRounded(cents, va, math.sqrt(n2), nTop).map(_._1).toSeq
    }

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x * x))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Cosine as a primitive-loop UDF. Spark's higher-order-function lambdas
    * are interpreted (an expression-tree walk per ELEMENT); for a 64-dim
    * pair that is ~200 tree walks vs one JIT'd loop here. Used on the hot
    * pair-scoring paths; [[cosine]] stays for Column-API composition. */
  private[graft] val cosLoop = udf { (a: Seq[Double], b: Seq[Double]) =>
    var i = 0; var d = 0.0; var na = 0.0; var nb = 0.0
    val n = math.min(a.length, b.length)
    while (i < n) { val x = a(i); val y = b(i); d += x * y; na += x * x; nb += y * y; i += 1 }
    if (na == 0.0 || nb == 0.0) 0.0 else d / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Driver-side md5-prefix hash, identical to [[TextFunctions.hash60]]. */
  private def hash60Local(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** Deterministic pseudo-random hyperplane for (plane, dim): components
    * hash60("plane:i") mapped to [-1e6, 1e6], materialized as PLAN-TIME
    * literals — zero hashing at runtime (round 1 recomputed one md5 per
    * component × plane × row). No stored model; any executor rebuilds the
    * same planes. */
  def planeVec(plane: Int, dim: Int): Seq[Double] =
    (0 until dim).map(i => ((hash60Local(s"$plane:$i") % 2000001L) - 1000000L).toDouble)

  /** Sign bit of vec · hyperplane(plane). */
  def hyperplaneSign(vec: Column, plane: Int, dim: Int): Column = {
    val p = array(planeVec(plane, dim).map(lit(_)): _*)
    val d = aggregate(zip_with(vec, p, (x, w) => x * w), lit(0.0), (acc, x) => acc + x)
    when(d >= 0, lit(1)).otherwise(lit(0))
  }

  /** Random-hyperplane LSH bucket key over `nPlanes` planes: concatenated
    * sign bits. Cosine-similar vectors collide with high probability. */
  def lshBucket(vec: Column, nPlanes: Int, dim: Int): Column =
    concat((0 until nPlanes).map(p => hyperplaneSign(vec, p, dim).cast("string")): _*)

  /** Brute-force cosine top-k: every query row against every candidate row.
    * Correctness baseline; O(|Q|·|C|) — at scale use [[annTopK]]. */
  def bruteTopK(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("qid"), toDouble(col("embedding")).as("qv"))
    val c = candidates.select(col("vec_id").as("nid"), toDouble(col("embedding")).as("nv"))
    rankTopK(q.join(c, col("qid") =!= col("nid"))
      .withColumn("sim", cosLoop(col("qv"), col("nv"))), k)
  }

  /** (id, table, bucket) rows for `nTables` independent LSH tables (table t
    * uses planes [t*nPlanes, (t+1)*nPlanes)). Bucket = integer of the sign
    * bits — bijective to the concatenated sign string, so the grouping is
    * identical to the reference formulation.
    *
    * Shape: posexplode the vector once, broadcast-join the (plane, dim,
    * weight) literals, hash-aggregate the per-plane dots, fold the sign
    * bits — every stage whole-stage-codegen'd with map-side combine. The
    * per-row HOF fold ([[hyperplaneSign]]) runs in Spark's interpreted
    * lambda evaluator: planes×dim evals per row measured ~4x slower at
    * bench scale. */
  private def tableBucketRows(df: DataFrame, idCol: String, vecCol: String,
      nPlanes: Int, nTables: Int, dim: Int): DataFrame = {
    val spark = df.sparkSession
    val planeRows = for {
      p <- 0 until nPlanes * nTables
      (w, i) <- planeVec(p, dim).zipWithIndex
    } yield (p, i, w)
    import spark.implicits._
    val planes = planeRows.toDF("p", "i", "w")
    // vecCol is already array<double> (checked/toDouble at the caller)
    df.select(col(idCol), posexplode(col(vecCol))).toDF(idCol, "i", "x")
      .join(broadcast(planes), "i")
      .groupBy(col(idCol), col("p"))
      .agg(sum(col("x") * col("w")).as("d"))
      .groupBy(col(idCol), (col("p") / nPlanes).cast("int").as("table"))
      .agg(sum(expr(s"shiftleft(CAST(CASE WHEN d >= 0 THEN 1 ELSE 0 END AS BIGINT), " +
        s"CAST(p % $nPlanes AS INT))")).as("bucket"))
  }

  /** Embedding-cosine near-dup pairs (the fifth dedup flavor next to
    * exact / MinHash / SimHash / n-gram Jaccard): all pairs with rounded
    * cosine ≥ tau among candidates that share an LSH bucket in ANY of the
    * `nTables` tables. Unlike the SimHash banding there is no pigeonhole
    * completeness — hyperplane LSH is probabilistic (recall
    * 1-(1-p^nPlanes)^nTables, gated by the frozen recall spec); the
    * oracle replicates the plan-time-literal planes, so the reported
    * pairs are still EXACTLY checkable.
    *
    * Scale shape — verify BEFORE dedup (the simhash-dedup lesson): a
    * near-dup tau deep in the random-cosine tail keeps buckets selective,
    * but a LOOSE tau (like the testdata's 0.4, ~3σ of random 64-dim
    * cosines) makes the candidate set DENSE — at sf0.1 the bucket join
    * emits ~6M pairs for 920 survivors. So the bucket rows carry their
    * vectors PRE-NORMALIZED AND BYTE-PACKED (#vecs × nTables rows — tiny
    * next to the pair volume), the cosine cut runs INSIDE the join stage
    * as a primitive dot loop over two byte arrays, and only survivors
    * reach the dedup exchange. Candidates that fail tau never shuffle
    * anywhere. Why byte-packed: a Seq[Double] UDF boxes every element
    * per candidate (~5 s of the measured 6.6 s at sf0.1) and a dim-term
    * element_at Column expression lands in the join-condition
    * interpreter (measured 24 s); BinaryType crosses the UDF boundary as
    * a raw byte array — the loop reads unboxed doubles straight out of
    * it (measured ~2 s). The tau cut applies to the 4dp-ROUNDED cosine
    * so both engines agree at the boundary. */
  def cosineDedupLsh(vecs: DataFrame, tau: Double, nPlanes: Int,
      nTables: Int = 8, dimHint: Int = -1): DataFrame = {
    val dim = dimOf(vecs, dimHint)
    if (dim == 0) return noPairs(vecs)
    val cv = idVecs(vecs, "cosineDedupLsh", dim)
    // unit-normalize + pack once per bucket row: cosine then = plain dot
    val cvn = cv.withColumn("vp", packUnit(col("v"))).select("id", "vp")
    val bk = tableBucketRows(cv, "id", "v", nPlanes, nTables, dim).join(cvn, "id")
    val ba = bk.select(col("table"), col("bucket"), col("id").as("a"), col("vp").as("pa"))
    val bb = bk.select(col("table"), col("bucket"), col("id").as("b"), col("vp").as("pb"))
    ba.join(bb, Seq("table", "bucket")).where(col("a") < col("b"))
      .withColumn("cos",
        r4(org.apache.spark.sql.GraftColumns.dotPacked(col("pa"), col("pb"))))
      .where(col("cos") >= tau)
      .select("a", "b", "cos")
      .dropDuplicates("a", "b")
  }

  /** The salted sample behind every sample model in this file (IVF/dedup
    * cells, the k-means init, the PQ codebook): the `n` rows of an
    * `(id, v)` frame with the lowest hash60(id), id tie-break — NOT the
    * `n` lowest ids: an id order that correlates with cluster structure
    * (append-time ordering, label-sorted exports) would otherwise put
    * every centroid in one region. A pure function of the input, so the
    * DuckDB oracle replays it exactly. */
  private def saltedSample(cv: DataFrame, n: Int): Seq[(Long, Array[Double])] =
    cv.orderBy(TextFunctions.hash60(col("id").cast("string")), col("id")).limit(n)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq

  /** The coarse quantizer every IVF op runs through: it picks each
    * vector's HOME cell and the cells it PROBES. Every op ([[cosineDedupIvf]],
    * [[semDedup]], [[semDedupIncremental]], [[semanticDecontaminate]],
    * [[semanticDecontaminateIncremental]], [[evalProbeFrame]], [[ivfTopK]])
    * is written once against these frames; the quantizer decides only how
    * they are computed. All ranking is on 4dp-rounded cosines with
    * lowest-cid ties, so the DuckDB oracle replays every cell choice.
    *
    * Frames (over an `(id, v)` input of checked double vectors):
    *  - [[homes]]: `(id, cell, aff)` — one row per id, aff the rounded
    *    cosine to the home centroid — and the same rows with the packed
    *    unit vector `vp`;
    *  - [[probes]]: `(id, cell, vp)` — the `nProbe` probed cells per id;
    *  - [[cellsAndProbes]]: the home `(id, cell, vp)` and probe frames of
    *    the same rows, from one pass where the quantizer has one.
    *
    * Sizing rules, one definition each: the flat ⌈n/64⌉ cell count is
    * [[Quantizer.flatCells]] (the salted-sample default, [[sampleCells]],
    * and the registry's trained flat recipe); the hier top level
    * max(8, round(√(n / occupancy))) is [[Quantizer.hierTop]] (the
    * registry's hier recipe); the deep top level is QueriesPipeline's
    * `Recipe.Deep` (emb_ann_deep, its one use). ScaleProbes sizes its
    * probe quantizers by its own √⌈n/occupancy⌉ rule. */
  sealed trait Quantizer {
    /** No cells (an empty training corpus): the ops return their empty frame. */
    private[functions] def isEmpty: Boolean
    private[functions] def homes(cv: DataFrame): (DataFrame, DataFrame)
    private[functions] def probes(cv: DataFrame, nProbe: Int): DataFrame
    private[functions] def cells(cv: DataFrame): DataFrame =
      homes(cv)._2.select("id", "cell", "vp")
    private[functions] def cellsAndProbes(cv: DataFrame,
        nProbe: Int): (DataFrame, DataFrame) = (cells(cv), probes(cv, nProbe))
    /** This quantizer, or — for an empty [[Quantizer.Flat]] — the flat
      * salted sample of `k` rows of `cv` ([[cosineDedupIvf]]/[[ivfTopK]]'s
      * no-model path; `k` is evaluated only then). */
    private[functions] def orSample(cv: DataFrame, k: => Int): Quantizer = this
  }

  object Quantizer {
    /** The flat cell count for `n` vectors: ⌈n / [[DedupCellOccupancy]]⌉,
      * at least 1 — constant occupancy keeps IVF candidates O(n). */
    private[graft] def flatCells(n: Long): Int = math.max(1, math.ceil(n.toDouble / DedupCellOccupancy).toInt)

    /** The [[hierQuantizer]] top-level size for `n` vectors at leaf
      * `occupancy`: max(8, round(√(n / occupancy))). nTop ~ √k keeps the
      * descent at ~2√k scored centroids per vector at any corpus size; the
      * floor of 8 gives small corpora a real multi-branch tree. */
    private[graft] def hierTop(n: Long, occupancy: Int): Int =
      math.max(8, math.round(math.sqrt(n / occupancy.toDouble)).toInt)

    /** A flat model held on the driver: `model` is `(cid, weights)` — a
      * trained [[kmeansModel]] or the salted sample. Home cell and
      * probes come from ONE JIT'd [[topByRounded]] loop per row over the
      * model in the UDF closure (no exploded (row, centroid, dim) join:
      * n/occ centroids put n×nCent×dim ROWS through one — 182M at the
      * 10× check, measured 127 s vs ~13 s for the loop doing the same
      * flops); the packed unit vector rides the same projection, so the
      * cell joins need no payload join. Cost: nCent×dim doubles on the
      * driver and in every closure, and n×nCent×dim assignment flops —
      * at constant occupancy O(n²·dim/occ). Both wall near 8M vectors at
      * dim 64, so the model is capped at [[QuantizerModelMaxDoubles]]
      * here, loudly; past it use [[Hier]]. */
    final case class Flat(model: Seq[(Long, Array[Double])]) extends Quantizer {
      private val doubles = model.iterator.map(_._2.length.toLong).sum
      require(doubles <= QuantizerModelMaxDoubles,
        s"Quantizer.Flat: model ${model.size} centroids ($doubles doubles) exceeds " +
          s"the $QuantizerModelMaxDoubles-double driver/closure cap — train a smaller " +
          "kmeansModel, or switch to Quantizer.Hier (the driver then holds only " +
          "the top level; leaves stay distributed)")
      private[functions] val cents = centsOf(model)
      private[functions] def isEmpty: Boolean = model.isEmpty
      private[functions] def homes(cv: DataFrame): (DataFrame, DataFrame) = {
        val assignU = bestCellAffUdf(cents)
        val asg = cv.withColumn("bc", assignU(col("v")))
          .select(col("id"), col("bc._1").as("cell"), col("bc._2").as("aff"),
            packUnit(col("v")).as("vp"))
        (asg.select("id", "cell", "aff"), asg)
      }
      private[functions] def probes(cv: DataFrame, nProbe: Int): DataFrame =
        ivfProbeFrame(cv, cents, nProbe)
          .select(explode(col("pcs")).as("cell"), col("id"), col("vp"))
      override private[functions] def cells(cv: DataFrame): DataFrame =
        cellsAndProbes(cv, 1)._1
      // home = the first probe: one probe list per row feeds both frames
      override private[functions] def cellsAndProbes(cv: DataFrame,
          nProbe: Int): (DataFrame, DataFrame) = {
        val packed = ivfProbeFrame(cv, cents, nProbe)
        (packed.select(element_at(col("pcs"), 1).as("cell"), col("id"), col("vp")),
          packed.select(explode(col("pcs")).as("cell"), col("id"), col("vp")))
      }
      override private[functions] def orSample(cv: DataFrame, k: => Int): Quantizer =
        if (model.nonEmpty) this else Flat(saltedSample(cv, k))
    }

    /** A [[HierQuantizer]] — the >8M-vector path: one JIT'd loop over the
      * driver-held top model picks a row's `nProbeTop` best branches, and
      * the row scores ONLY those branches' leaves, fetched by a linear
      * equi-join on `branch` ([[hierDescent]]; ~2√k scored centroids per
      * vector instead of k, leaves never in a closure). Home cell = best
      * leaf of the home branch (the width-1 descent: exactly one row per
      * id); probes = global top `nProbe` leaves across the `nProbeTop`
      * branches; `vp` attaches by one id join. With nTop=1 every op agrees
      * bit-for-bit with [[Flat]] over the leaf model (spec-pinned). */
    final case class Hier(hq: HierQuantizer, nProbeTop: Int = 2) extends Quantizer {
      private[functions] def isEmpty: Boolean = hq.top.isEmpty
      private[functions] def homes(cv: DataFrame): (DataFrame, DataFrame) =
        descentHomes(hierDescent(cv, hq, 1, 1), cv)
      private[functions] def probes(cv: DataFrame, nProbe: Int): DataFrame =
        withVp(topCells(hierDescent(cv, hq, nProbeTop, nProbe), nProbe), cv)
      // ONE shared id-partitioned window pass ranks the probe cells AND
      // flags the home row (the first slot-0 row in the same (cs desc,
      // cell) order — identical to ranking the slot-0 subset alone): both
      // consumers then read the SAME exchange, so the descent (branch join
      // + leaf scoring, the dominant phase) computes ONCE (ReusedExchange),
      // not once per consumer — filtering slot=0 below a second window
      // would have re-run it. The running count keeps the window free of
      // a group-limit, so a home cell outside the global top-nProbe is
      // still found.
      override private[functions] def cellsAndProbes(cv: DataFrame,
          nProbe: Int): (DataFrame, DataFrame) = {
        val wAll = org.apache.spark.sql.expressions.Window
          .partitionBy("id").orderBy(col("cs").desc, col("cell"))
        val wRun = wAll.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
        val ranked = hierDescent(cv, hq, nProbeTop, nProbe)
          .withColumn("rn", row_number().over(wAll))
          .withColumn("h0", sum(when(col("slot") === 0, 1).otherwise(0)).over(wRun))
        // each consumer's filter references BOTH window columns (one side
        // via an always-true guard): column pruning would otherwise drop
        // the unused column from that branch's Window node,
        // de-canonicalizing the two subtrees so NO planner could ever
        // share them. With the guards the static planner's
        // ReuseExchangeAndSubquery computes the descent ONCE (AQE's
        // runtime stage cache currently misses across cached-relation-
        // rooted stages — reuse-eligibility is still the right shape to
        // pin, and PlanAuditSpec gates both properties)
        val probes = ranked.where(col("rn") <= nProbe && col("h0") >= 0)
          .select(col("id"), col("cell"))
        val homes = ranked.where(col("slot") === 0 && col("h0") === 1 && col("rn") >= 1)
          .select(col("id"), col("cell"))
        (withVp(homes, cv), withVp(probes, cv))
      }
    }

    /** A [[DeepQuantizer]] — [[Hier]] generalized to L levels: the home
      * cell is the width-1 chain's leaf, and the probes descend with
      * `widths` (`widths(0)` top branches, then `widths(i+1)` cells per
      * level — one width per level of the model plus the top); the probe
      * count is `widths.last`, so an op's `nProbe` does not apply. */
    final case class Deep(dq: DeepQuantizer, widths: Seq[Int]) extends Quantizer {
      private[functions] def isEmpty: Boolean = dq.top.isEmpty
      private[functions] def homes(cv: DataFrame): (DataFrame, DataFrame) =
        descentHomes(deepDescent(cv, dq, Seq.fill(dq.levels.length + 1)(1)), cv)
      private[functions] def probes(cv: DataFrame, nProbe: Int): DataFrame =
        withVp(topCells(deepDescent(cv, dq, widths), widths.last), cv)
    }

    /** A width-1 descent's `(id, cell, cs)` rows — already one per id, so
      * no window — as the home frame, plus its `vp` id join. */
    private def descentHomes(descent: DataFrame,
        cv: DataFrame): (DataFrame, DataFrame) = {
      val homes = descent.select(col("id"), col("cell"), col("cs").as("aff"))
      (homes, withVp(homes, cv))
    }

    /** Attach each row's packed unit vector by id. */
    private def withVp(rows: DataFrame, cv: DataFrame): DataFrame =
      rows.join(cv.select(col("id"), packUnit(col("v")).as("vp")), "id")
  }

  /** Per id, the top `n` scored `(id, cell, cs)` rows by (cs DESC, cell). */
  private def topCells(scored: DataFrame, n: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("cs").desc, col("cell"))
    scored.withColumn("rn", row_number().over(w)).where(col("rn") <= n)
      .select(col("id"), col("cell"))
  }

  /** The sample model's cell count: `nCent`, else ⌈n / occupancy⌉ with
    * n = `nHint`, else a count of `vecs`. */
  private def sampleCells(vecs: DataFrame, nCent: Int, nHint: Long): Int =
    if (nCent > 0) nCent else Quantizer.flatCells(if (nHint > 0) nHint else vecs.count())

  /** IVF cell-bucketed cosine near-dup pairs — the SCALE flavor of
    * [[cosineDedupLsh]] (which is asymptotically n²/2^nPlanes: fixed
    * planes mean fixed buckets, so occupancy — and with it candidate
    * pairs per bucket — grows quadratically with the corpus; raising
    * planes to compensate collapses recall at low tau because a plane's
    * collision probability for cos 0.4 is only ~0.63. Measured at the
    * 10× scale check: 17× wall on 10× rows).
    *
    * Here the bucket count GROWS with the corpus so OCCUPANCY stays
    * CONSTANT. With an empty [[Quantizer.Flat]] model the cells are
    * ⌈n / [[DedupCellOccupancy]]⌉ salted sample centroids (`nCent`
    * overrides the count; `nHint` skips the sizing count), a trained
    * [[kmeansModel]] or a [[Quantizer.Hier]] drops in unchanged. Every
    * vector lives in its home cell and probes its `nProbe` nearest; a
    * pair is a candidate when either side's HOME cell is probed by the
    * other. Verified pairs = rounded packed-dot cosine ≥ tau, exactly
    * like the LSH flavor.
    *
    * Scale shape — both halves LINEAR in n (the round-7 √n-centroid
    * formulation was O(n^1.5) and the round-8 100× check measured it
    * 54× per decade with an OOM'd verify stage; both lessons are encoded
    * here):
    *  - candidates ~ n × occupancy × nProbe with occupancy a CONSTANT —
    *    the SemDeDup-style bound with k ∝ n rather than k = √n;
    *  - the verify never ships a vector per PAIR and never materializes
    *    the candidate-id set: home rows and probe rows each carry their
    *    packed vector ONCE through the cell-keyed shuffle (n and
    *    n×nProbe rows — linear), the per-cell pair expansion happens
    *    INSIDE the join's streamed output straight into the codegen'd
    *    dot + tau filter, and the dedup (same pair via both directions or
    *    several shared cells) runs only over pairs that already passed
    *    tau (the true near-dups). dotPacked is symmetric bit-for-bit, so
    *    duplicates agree on cos. The round-7 shape instead distinct'd
    *    ~n×occ×nProbe candidate ids (535M rows at the 100× check) and
    *    re-attached a 8·dim-byte payload per pair (~280 GB through the
    *    verify join — the measured OOM).
    * The sizing count runs ONLY on the sample path: with a supplied
    * model the op runs zero corpus scans before useful work. A skewed
    * cell (one giant near-dup cluster) concentrates one task; AQE
    * skew-join splitting handles it on a real cluster, and the trained
    * quantizer keeps cells balanced by construction. Recall is a
    * cluster-coherence bet rather than a random-hyperplane bet — gated
    * against brute force like every ANN entry. */
  def cosineDedupIvf(vecs: DataFrame, tau: Double,
      q: Quantizer = Quantizer.Flat(Nil), nProbe: Int = 2, nCent: Int = -1,
      dimHint: Int = -1, nHint: Long = -1L): DataFrame = {
    val dim = dimOf(vecs, dimHint)
    if (dim == 0) return noPairs(vecs)
    val cv = idVecs(vecs, "cosineDedupIvf", dim)
    val qq = q.orSample(cv, sampleCells(vecs, nCent, nHint))
    if (qq.isEmpty) return noPairs(vecs)
    val (homes, probes) = qq.cellsAndProbes(cv, nProbe)
    homes.select(col("cell"), col("id").as("m"), col("vp").as("pm"))
      .join(probes.select(col("cell"), col("id").as("p"), col("vp").as("pp")), "cell")
      .where(col("m") =!= col("p"))
      .withColumn("cos",
        r4(org.apache.spark.sql.GraftColumns.dotPacked(col("pm"), col("pp"))))
      .where(col("cos") >= tau)
      .select(least(col("m"), col("p")).as("a"),
        greatest(col("m"), col("p")).as("b"), col("cos"))
      .dropDuplicates("a", "b")
  }

  /** The (id, pcs, vp) probe frame behind [[Quantizer.Flat]]: per row,
    * the [[topByRounded]] nProbe-cell probe list plus the packed unit
    * vector. Package-visible so scale probes can time this pass in
    * isolation. */
  private[graft] def ivfProbeFrame(cv: DataFrame,
      cents: Array[(Long, Array[Double], Double)], nProbe: Int): DataFrame = {
    val probeU = topCellsUdf(cents, nProbe)
    cv.withColumn("pcs", probeU(col("v")))
      .withColumn("vp", packUnit(col("v")))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic deduplication",
    * arXiv:2303.09540): cluster the embeddings with a trained coarse
    * quantizer, compare pairs ONLY within a cluster, and among semantic
    * duplicates (rounded cosine ≥ tau) KEEP the example with the LOWEST
    * cosine to its cluster centroid — the paper's diversity-preserving
    * keep rule (the member farthest from the cluster core survives; its
    * redundant near-copies drop). The rule here is the pairwise form — a
    * row drops iff SOME same-cell duplicate outranks it on
    * (aff ASC, id ASC) — which needs no transitive closure, so the whole
    * decision is one self-join plus an aggregation.
    *
    * Distinct from [[cosineDedupIvf]]: that op ENUMERATES near-dup pairs
    * across probed neighbor cells (recall-oriented); this one makes
    * per-row KEEP/DROP decisions within home cells only (the paper's
    * formulation — cross-cluster duplicates are the quantizer's job to
    * co-locate), returning a decision row per input vector.
    *
    * Scale shape: home assignment is the quantizer's ([[Quantizer.Flat]]:
    * one JIT'd loop per row, a flat model must be passed — an empty one
    * fails loudly; [[Quantizer.Hier]]: the width-1 descent past ~8M
    * vectors); the pairwise stage is the constant-occupancy cell-keyed
    * self-join (O(n·occupancy) pairs, vectors packed into the join rows —
    * no per-pair payload re-attach), and the drop set rides the same
    * cell exchange. Everything ranks on 4dp-rounded values with id
    * tie-breaks, so the DuckDB oracle replays training, assignment, and
    * every keep/drop decision exactly.
    *
    * Returns (vec_id, cell, aff, keep) — one row per input vector.
    * Reference semantics: the reference engine has no embedding ops; this
    * extends the dedup family per the builder brief (SemDeDup is the
    * published cluster-then-prune recipe used on LAION/C4-scale corpora). */
  def semDedup(vecs: DataFrame, tau: Double, q: Quantizer,
      dimHint: Int = -1): DataFrame = {
    q match {
      case Quantizer.Flat(model) =>
        require(model.nonEmpty, "semDedup: pass a trained quantizer model (kmeansModel)")
      case _ =>
    }
    val dim = dimOf(vecs, dimHint)
    if (dim == 0 || q.isEmpty) return noDecisions(vecs)
    val (homes, asg) = q.homes(idVecs(vecs, "semDedup", dim))
    attachKeep(homes, semDedupDrops(asg, tau))
  }

  /** The drop set of the SemDeDup within-cell pairwise prune, shared by
    * [[semDedup]] and [[semDedupIncremental]] so the decision semantics
    * cannot drift between them: distinct ids with an outranking
    * same-cell duplicate. `asg` is (id, cell, aff, vp): both sides
    * hash-partition on cell (constant occupancy ⇒ O(n·occ) streamed
    * pairs), cosine scored by the codegen'd DotPacked inside the join
    * output, the outranking filter ((aff ASC, id ASC) — any outranking
    * dup ⇒ drop) fused before anything materializes. */
  private def semDedupDrops(asg: DataFrame, tau: Double): DataFrame = {
    val mine = asg.select(col("cell"), col("id"), col("aff"), col("vp"))
    val others = asg.select(col("cell"), col("id").as("oid"),
      col("aff").as("oaff"), col("vp").as("ovp"))
    mine.join(others, "cell").where(col("id") =!= col("oid"))
      .withColumn("cos",
        r4(org.apache.spark.sql.GraftColumns.dotPacked(col("vp"), col("ovp"))))
      .where(col("cos") >= tau)
      .where(col("oaff") < col("aff") ||
        (col("oaff") === col("aff") && col("oid") < col("id")))
      .select(col("id")).distinct()
  }

  /** keep = id ∉ drops, attached to the (id, cell, aff) decision frame —
    * the quantizer's home frame, so the final leg carries no payload. */
  private def attachKeep(decisions: DataFrame, drops: DataFrame): DataFrame =
    decisions.join(drops.withColumn("dropped", lit(true)), Seq("id"), "left")
      .select(col("id").as("vec_id"), col("cell"), col("aff"),
        coalesce(!col("dropped"), lit(true)).as("keep"))

  /** Incremental (daily-batch) [[semDedup]] — the form a production
    * pipeline actually runs: the corpus was deduplicated once, its
    * decisions and cell assignments are STORED, and each day only the new
    * batch is judged against the frozen quantizer and the kept corpus.
    * Nothing about the existing corpus is recomputed: `existing` is the
    * stored kept frame `(vec_id, cell, embedding)` (cells from the prior
    * run through the SAME frozen quantizer), touched exactly once as a
    * cell-keyed projection feeding the batch-cell equi-join — no
    * re-assignment pass, no corpus-wide window, no old×old pairs.
    *
    * Keep rule (documented extension of Abbas et al. 2023 to the
    * incremental setting): a batch vector is dropped iff (a) ANY kept
    * corpus vector in its home cell has cosine ≥ tau — committed corpus
    * rows always outrank arrivals, or (b) an outranking batch vector in
    * its home cell has cosine ≥ tau, under exactly [[semDedup]]'s
    * (aff ASC, id ASC) rule — so with an EMPTY corpus the op reduces
    * bit-for-bit to [[semDedup]] on the batch (spec-pinned). Everything
    * rides 4dp-rounded cosines, so the DuckDB oracle replays the frozen
    * model, both drop legs, and every decision.
    *
    * Scale shape: batch assignment touches only NEW rows (zero corpus
    * flops); both drop legs hash-partition on cell — the corpus side
    * ships only (cell, packed-unit) at constant occupancy, so the day's
    * cost is O(|batch|·occ), independent of corpus size except for the
    * one stored-frame scan. An empty model (the prior corpus was empty)
    * degrades to the empty decision frame.
    *
    * Returns (vec_id, cell, aff, keep) — one row per BATCH vector. */
  def semDedupIncremental(existing: DataFrame, batch: DataFrame, tau: Double,
      q: Quantizer, dimHint: Int = -1): DataFrame = {
    val dim = dimOf(batch, dimHint)
    if (dim == 0 || q.isEmpty) return noDecisions(batch)
    val (homes, asg) = q.homes(idVecs(batch, "semDedupIncremental", dim))
    // leg (a): the ONE touch of the corpus — (cell, packed-unit)
    // projection equi-joined to the batch's cells
    val ex = incrementalCorpus(existing, dimChecked("semDedupIncremental.existing", dim))
    val corpusDrops = asg.select(col("cell"), col("id"), col("vp"))
      .join(ex, "cell")
      .withColumn("cos",
        r4(org.apache.spark.sql.GraftColumns.dotPacked(col("vp"), col("ovp"))))
      .where(col("cos") >= tau)
      .select(col("id")).distinct()
    // leg (b): the standard within-cell prune over the batch alone
    val drops = semDedupDrops(asg, tau).union(corpusDrops).distinct()
    attachKeep(homes, drops)
  }

  /** The frozen eval-probe projection — (cell, evp): each eval vector's
    * `nProbe` probed cells with its packed unit vector (the eval side is
    * small by construction, so the probe fan costs eval×nProbe rows). In
    * the incremental/streaming setting this frame is computed ONCE from
    * the frozen quantizer + frozen eval suite and STORED; every daily
    * batch equi-joins against it without touching the eval set again
    * (the eval-side twin of [[incrementalCorpus]]'s one-touch
    * projection). */
  def evalProbeFrame(evalSet: DataFrame, q: Quantizer,
      nProbe: Int = 4, dimHint: Int = -1): DataFrame = {
    val dim = dimOf(evalSet, dimHint)
    if (dim == 0 || q.isEmpty)
      return emptyFrame(evalSet, lit(0L).as("cell"), lit(Array.empty[Byte]).as("evp"))
    q.probes(idVecs(evalSet, "evalProbeFrame", dim), nProbe)
      .select(col("cell"), col("vp").as("evp"))
  }

  /** The decontamination hit set: corpus/batch rows reached by an eval
    * probe in their home cell at rounded cosine ≥ tau — ONE definition
    * shared by the bootstrap and incremental ops so the decision
    * semantics cannot drift. `asg` is (id, cell, vp); `evalProbes` is
    * [[evalProbeFrame]]'s (cell, evp). */
  private def decontamHits(asg: DataFrame, evalProbes: DataFrame,
      tau: Double): DataFrame =
    asg.select(col("cell"), col("id"), col("vp")).join(evalProbes, "cell")
      .withColumn("cos",
        r4(org.apache.spark.sql.GraftColumns.dotPacked(col("vp"), col("evp"))))
      .where(col("cos") >= tau)
      .select(col("id")).distinct()

  /** Incremental (daily-batch) [[semanticDecontaminate]] — the form a
    * production pipeline actually runs: the quantizer and the eval suite
    * are FROZEN, the eval probes were computed once ([[evalProbeFrame]],
    * same quantizer) and stored, and each day only the NEW batch is
    * screened. Batch rows home through the frozen quantizer (zero
    * eval-side work); the only join is the batch-cell equi-join against
    * the stored probe frame — the day's cost is O(|batch|·occ + |hits|),
    * independent of both the historical corpus and the eval set's size
    * beyond the one stored-frame scan. Arrivals never affect each other
    * (the eval set alone decides), so the op is embarrassingly
    * incremental — the streaming twin ([[graft.streaming.DecontamStream]])
    * is STATELESS, unlike the dedup family's. With batch = the full
    * corpus this reduces bit-for-bit to [[semanticDecontaminate]]
    * (spec-pinned).
    *
    * Returns (vec_id, cell, aff, keep) per BATCH row — keep = false
    * means contaminated. */
  def semanticDecontaminateIncremental(batch: DataFrame, evalProbes: DataFrame,
      tau: Double, q: Quantizer, dimHint: Int = -1): DataFrame = {
    val dim = dimOf(batch, dimHint)
    if (dim == 0 || q.isEmpty) return noDecisions(batch)
    val (homes, asg) = q.homes(idVecs(batch, "semanticDecontaminateIncremental", dim))
    attachKeep(homes, decontamHits(asg, evalProbes, tau))
  }

  /** Embedding-space decontamination — the SEMANTIC twin of the n-gram
    * `doc_decontaminate`: an eval-suite member's paraphrase shares no
    * 4-gram but sits next to it in embedding space, so a corpus vector is
    * dropped when a PROBING eval vector reaches it at rounded cosine ≥
    * tau. Same machinery as the dedup family: corpus vectors home into
    * their quantizer cell, eval vectors probe their `nProbe` cells
    * ([[evalProbeFrame]]), and the cross check is one cell equi-join
    * scoring packed units with the codegen'd DotPacked. Everything rides
    * 4dp-rounded cosines, so the DuckDB oracle replays the model, both
    * assignments, and every decision. An empty model (kmeansModel of an
    * empty corpus) degrades to the empty decision frame.
    *
    * Returns (vec_id, cell, aff, keep) over the CORPUS — keep = false
    * means contaminated. */
  def semanticDecontaminate(corpus: DataFrame, evalSet: DataFrame, tau: Double,
      q: Quantizer, nProbe: Int = 4, dimHint: Int = -1): DataFrame = {
    val dim = dimOf(corpus, dimHint)
    if (dim == 0 || q.isEmpty) return noDecisions(corpus)
    val (homes, asg) = q.homes(idVecs(corpus, "semanticDecontaminate", dim))
    attachKeep(homes, decontamHits(asg, evalProbeFrame(evalSet, q, nProbe, dim), tau))
  }

  /** The stored corpus as its (cell, packed-unit) projection — the one
    * touch [[semDedupIncremental]] makes, also the streaming twin's
    * initial per-cell state. */
  private[graft] def incrementalCorpus(existing: DataFrame,
      check: Column => Column): DataFrame =
    existing.select(col("cell"), check(col("embedding")).as("ov"))
      .select(col("cell"), packUnit(col("ov")).as("ovp"))

  /** [[semDedupIncremental]]'s flat batch-assignment frame — (id, cell,
    * aff, vp) from raw (vec_id, embedding) rows through the frozen model.
    * Shared with the streaming twins ([[graft.streaming.SemDeDupStream]],
    * [[graft.streaming.OutlierStream]]) so both execution modes assign
    * identically. */
  private[graft] def incrementalAssignFrame(batch: DataFrame,
      model: Seq[(Long, Array[Double])], dim: Int): DataFrame = {
    require(model.nonEmpty,
      "incrementalAssignFrame: pass the frozen quantizer model (kmeansModel)")
    Quantizer.Flat(model).homes(idVecs(batch, "incrementalAssignFrame", dim))._2
  }

  /** [[ivfProbeFrame]] from a raw embeddings frame + trained model (the
    * scale-probe entry point). */
  private[graft] def probeFrameForTest(vecs: DataFrame,
      model: Seq[(Long, Array[Double])], nProbe: Int, dimHint: Int): DataFrame = {
    ivfProbeFrame(rawVecs(vecs), centsOf(model), nProbe)
  }

  /** Two-level coarse quantizer: the scale path past the flat model's
    * [[QuantizerModelMaxDoubles]] driver cap. `top` is the TRAINED
    * top-level model — nTop×dim doubles on the driver/in closures, the
    * only part that ever leaves the cluster — and `leaves` is a
    * DISTRIBUTED frame `(branch, cid, cw)` of per-branch leaf centroids
    * that is only ever equi-joined on `branch`, never collected. The flat
    * model walls twice near 8M vectors at dim 64 (driver model n/64×dim
    * doubles trips the cap; assignment is O(n·k·dim) = O(n²·dim/occ)
    * flops); here the driver holds √k-ish centroids and a vector scores
    * nTop + Σ|leaves(probed branches)| centroids — √-growth per decade
    * instead of linear (recursing the same construction over `leaves`
    * gives log-depth constant work: [[DeepQuantizer]]). The IVF ops take
    * it as [[Quantizer.Hier]]. */
  case class HierQuantizer(top: Seq[(Long, Array[Double])], leaves: DataFrame) {
    @transient @volatile private var released0 = false
    /** True once [[unpersist]] ran — the quantizer must no longer be used. */
    def released: Boolean = released0
    /** Mark the quantizer dead, so any later descent fails loudly instead
      * of silently recomputing (or serving) a released model. There is
      * nothing to free: `leaves` is a lazy plan [[hierQuantizer]] never
      * caches. */
    def unpersist(): Unit = released0 = true
    private[functions] def requireLive(op: String): Unit =
      require(!released0,
        s"$op: HierQuantizer used after unpersist() — retrain the model")
  }

  private def withNorm3(cid: Long, w: Array[Double]): (Long, Array[Double], Double) = {
    var nw = 0.0; var i = 0
    while (i < w.length) { nw += w(i) * w(i); i += 1 }
    (cid, w, math.sqrt(nw))
  }

  /** A driver-held model with its centroid norms precomputed — the input
    * of every [[topByRounded]] closure. */
  private def centsOf(model: Seq[(Long, Array[Double])]): Array[(Long, Array[Double], Double)] =
    model.map { case (cid, w) => withNorm3(cid, w) }.toArray

  /** Train a [[HierQuantizer]]: top level = the seeded Lloyd trainer
    * ([[kmeansModel]], JIT'd loop assignment — init is the nTop lowest
    * hash60(vec_id)s, so the DuckDB oracle replays every pass); leaf level = a
    * per-branch SALTED sample, `⌈branchSize / occupancy⌉` leaves per
    * branch picked by the lowest hash60(vec_id) (id tie-break) WITHIN the
    * branch — the same id-order-bias defense as the flat sample, and a
    * pure function of the input.
    *
    * Scale shape: the only collect is the top model (nTop×dim doubles).
    * Branch assignment is one JIT'd loop per row against that model; the
    * leaf sample is a per-branch window row_number + count — one hash
    * exchange on `branch`, reused by [[hierDescent]]'s leaf join.
    * Nothing downstream depends on n through the driver. */
  def hierQuantizer(vecs: DataFrame, nTop: Int, occupancy: Int, iters: Int,
      dimHint: Int = -1): HierQuantizer = {
    require(nTop > 0 && occupancy > 0 && iters > 0,
      s"hierQuantizer: nTop=$nTop occupancy=$occupancy iters=$iters must be positive")
    val top = kmeansModel(vecs, nTop, iters, dimHint)
    val dim = dimOf(vecs, dimHint)
    if (dim == 0)
      return HierQuantizer(Nil, emptyFrame(vecs, lit(0L).as("branch"), lit(0L).as("cid"),
        array().cast("array<double>").as("cw")))
    val cv = idVecs(vecs, "hierQuantizer", dim)
    val branchU = bestCellUdf(centsOf(top))
    val asg = cv.withColumn("branch", branchU(col("v")))
    val wIn = org.apache.spark.sql.expressions.Window.partitionBy("branch")
    val wSalt = wIn.orderBy(TextFunctions.hash60(col("id").cast("string")), col("id"))
    val leaves = asg
      .withColumn("rn", row_number().over(wSalt))
      .withColumn("n", count(lit(1)).over(wIn))
      .where(col("rn") <= ceil(col("n") / lit(occupancy.toDouble)))
      .select(col("branch"), col("id").as("cid"), col("v").as("cw"))
    // EMPTY branches are dropped from the top model (a Lloyd centroid can
    // end with zero assigned members — e.g. duplicate-heavy data where
    // ties send everything to the lowest cid): a branch with no members
    // has no leaves, and [[hierDescent]]'s leaf join would silently DROP
    // any out-of-training row (an incremental arrival, an external query)
    // whose argmax lands there — row loss, not just recall loss. Dropping
    // the branch instead makes every descent target leaf-bearing. For
    // IN-training rows nothing changes: a training vector's argmax branch
    // contains at least itself, so its winner is never an empty branch
    // (which is why the in-training oracles replay identically).
    val nonEmpty = leaves.select("branch").distinct()
      .collect().map(_.getLong(0)).toSet
    HierQuantizer(top.filter { case (cid, _) => nonEmpty(cid) }, leaves)
  }

  /** The greedy two-level descent behind [[Quantizer.Hier]]: for each
    * `(id, v)` row, ONE JIT'd loop over the driver-held top model picks
    * the `nProbeTop` best branches (slot 0 = the home branch); the row
    * then scores ONLY those branches' leaves — fetched by a linear
    * equi-join on `branch` against the distributed leaf frame, grouped
    * once per branch with precomputed norms — and keeps the per-branch
    * top `nPerBranch`. Output: (id, slot, cell, cs) leaf-score rows,
    * every cs 4dp-rounded, ready for the home/probe window ranks. The
    * leaf model never enters a closure. */
  private def hierDescent(cv: DataFrame, hq: HierQuantizer, nProbeTop: Int,
      nPerBranch: Int): DataFrame = {
    hq.requireLive("hierDescent")
    val branchesU = topCellsUdf(centsOf(hq.top), nProbeTop)
    val ex = cv.withColumn("pbs", branchesU(col("v")))
      .select(col("id"), col("v"), posexplode(col("pbs")))
      .toDF("id", "v", "slot", "branch")
    // leaves grouped in packed form ([[packedGroups]]); per-branch
    // top-nPerBranch truncation is lossless for the global (cs desc, cid)
    // rank
    val leafArr = packedGroups(hq.leaves, "branch")
    val scoreU = packedScoreUdf(nPerBranch)
    ex.join(leafArr, "branch")
      .select(col("id"), col("slot"), explode(scoreU(col("v"), col("lc"))).as("cc"))
      .select(col("id"), col("slot"), col("cc._1").as("cell"), col("cc._2").as("cs"))
  }

  /** Per-row leaf-centroid scoring count of [[hierDescent]] (the
    * scale-probe entry point): a row additionally scores `hq.top.size`
    * top-level centroids in-closure; this frame counts the leaf side —
    * (id, scored) with scored = Σ |leaves(probed branches)|.
    * ScaleProbeSpec measures this across a GenScale decade to pin the
    * √-growth claim the hierarchical path rests on. */
  private[graft] def hierScoredLeaves(vecs: DataFrame, hq: HierQuantizer,
      nProbeTop: Int, dimHint: Int): DataFrame = {
    hq.requireLive("hierScoredLeaves")
    val branchesU = topCellsUdf(centsOf(hq.top), nProbeTop)
    val ex = rawVecs(vecs).withColumn("pbs", branchesU(col("v")))
      .select(col("id"), explode(col("pbs")).as("branch"))
    val bc = hq.leaves.groupBy("branch").agg(count(lit(1)).as("nl"))
    ex.join(bc, "branch").groupBy("id").agg(sum("nl").as("scored"))
  }

  /** Recursive (L-level) coarse quantizer — [[HierQuantizer]] generalized
    * past two levels (the log-depth construction its scaladoc describes):
    * `top` is the TRAINED Lloyd model (the only driver/closure-held
    * part), and `levels(i)` is a DISTRIBUTED frame `(parent, cid, cw)` of
    * per-parent salted-sample centroids — level 0's parents are top cids,
    * level i's parents are level i-1's cids, and the LAST level's cids
    * are the cells. Each level is only ever equi-joined on `parent`,
    * never collected.
    *
    * Why recurse: the two-level descent scores ~2√k centroids/vector —
    * measured √n per decade across three decades (ScaleProbeSpec) — so
    * total descent work still grows n^1.5 per decade; at L balanced
    * levels a vector scores ~L·k^(1/L), turning the per-vector term into
    * k^(1/3) at three levels (and log k as L grows — constant work per
    * decade at log-depth). Below ~10^10 vectors two levels suffice
    * (HierQuantizer stays the shipped default); this is the documented
    * scale path past that. */
  case class DeepQuantizer(top: Seq[(Long, Array[Double])], levels: Seq[DataFrame]) {
    @transient @volatile private var released0 = false
    /** True once [[unpersist]] ran — the quantizer must no longer be used. */
    def released: Boolean = released0
    /** Free every level frame's blocks ([[deepQuantizer]] caches them
      * eagerly — they ARE the model) and mark the quantizer dead, so any
      * later descent fails loudly instead of silently re-running the whole
      * Lloyd + sample + re-home lineage per consumer. */
    def unpersist(): Unit = { released0 = true; levels.foreach(Pin.release) }
    private[functions] def requireLive(op: String): Unit =
      require(!released0,
        s"$op: DeepQuantizer used after unpersist() — retrain the model")
  }

  /** Train a [[DeepQuantizer]]: top = the seeded Lloyd trainer (salted
    * init, JIT'd loop assignment — the oracle replays every pass); then
    * per entry `occupancies(i)`, a per-parent SALTED sample of
    * `⌈parentSize / occupancies(i)⌉` children (lowest hash60(vec_id), id
    * tie-break, WITHIN the parent — the same id-order-bias defense as
    * every sample model), after which every vector re-homes to its best
    * sampled child (one per-parent scoring join; rounded-cosine argmax,
    * lowest-cid ties) to parent the NEXT level's sample. With
    * `occupancies = Seq(occ)` this is BIT-FOR-BIT [[hierQuantizer]]
    * (spec-pinned): same top, same window sample, no re-home needed.
    *
    * Scale shape: the only collect is the top model; each level adds one
    * `parent` hash exchange (window sample) and, between levels, one
    * scoring join that reuses it. Nothing downstream depends on n
    * through the driver. */
  def deepQuantizer(vecs: DataFrame, nTop: Int, occupancies: Seq[Int],
      iters: Int, dimHint: Int = -1): DeepQuantizer = {
    require(nTop > 0 && iters > 0 && occupancies.nonEmpty && occupancies.forall(_ > 0),
      s"deepQuantizer: nTop=$nTop iters=$iters occupancies=$occupancies must be positive")
    val top = kmeansModel(vecs, nTop, iters, dimHint)
    val dim = dimOf(vecs, dimHint)
    if (dim == 0)
      return DeepQuantizer(Nil, occupancies.map(_ => emptyFrame(vecs, lit(0L).as("parent"),
        lit(0L).as("cid"), array().cast("array<double>").as("cw"))))
    val cv = idVecs(vecs, "deepQuantizer", dim)
    val branchU = bestCellUdf(centsOf(top))
    var asg = cv.withColumn("parent", branchU(col("v")))
    val wIn = org.apache.spark.sql.expressions.Window.partitionBy("parent")
    val wSalt = wIn.orderBy(TextFunctions.hash60(col("id").cast("string")), col("id"))
    val built = occupancies.zipWithIndex.map { case (occ, li) =>
      // each level frame is CACHED and eagerly materialized: it is the
      // distributed half of the MODEL (1/occ-th of its parent population
      // — k^(i/L)-ish rows, not the corpus), and its consumers — the next
      // level's re-home plus both of [[Quantizer.Deep]]'s descents — would
      // otherwise each recompute the whole Lloyd + sample + re-home
      // lineage (the uncached form measured ~5 recomputes and 50
      // window nodes in one emb_ann_deep plan).
      val lvl = Pin.cache(asg
        .withColumn("rn", row_number().over(wSalt))
        .withColumn("n", count(lit(1)).over(wIn))
        .where(col("rn") <= ceil(col("n") / lit(occ.toDouble)))
        .select(col("parent"), col("id").as("cid"), col("v").as("cw")))
      if (li < occupancies.length - 1)
        // re-home: each vector has exactly ONE parent here, so the
        // per-parent top-1 IS the per-id argmax — no window needed
        asg = scoreChildren(asg, lvl, 1)
          .select(col("id"), col("v"), col("cell").as("parent"))
      lvl
    }
    // same empty-branch discipline as [[hierQuantizer]]: a memberless top
    // centroid has no level-0 children, and [[deepDescent]]'s child join
    // would silently drop out-of-training rows landing there. (Only the
    // TOP can be empty: every sampled child at level i has at least its
    // own sample vector as a member, so levels below are always
    // child-bearing.)
    val nonEmpty = built.head.select("parent").distinct()
      .collect().map(_.getLong(0)).toSet
    DeepQuantizer(top.filter { case (cid, _) => nonEmpty(cid) }, built)
  }

  /** Score each `(id, v, parent)` row against its parent's children
    * (grouped once per parent with precomputed norms — the
    * [[hierDescent]] leaf-join discipline; children never enter a
    * closure), keeping the per-parent top `keep` by (4dp-rounded cosine
    * DESC, cid). Output `(id, v, cell, cs)`. */
  private def scoreChildren(rows: DataFrame, children: DataFrame,
      keep: Int): DataFrame = {
    val grouped = packedGroups(children, "parent")
    val scoreU = packedScoreUdf(keep)
    rows.join(grouped, "parent")
      .select(col("id"), col("v"), explode(scoreU(col("v"), col("lc"))).as("cc"))
      .select(col("id"), col("v"), col("cc._1").as("cell"), col("cc._2").as("cs"))
  }

  /** Generic greedy descent over a [[DeepQuantizer]]: `widths(0)` best
    * branches from one JIT'd loop over the top model, then per level the
    * global top `widths(i+1)` children per id (per-parent truncation to
    * `widths(i+1)` first — lossless for that rank, same argument as
    * [[hierDescent]]'s nPerBranch). Middle-level ranks drop the vector
    * before their id-window (narrow (id, cell, cs) rows cross the
    * exchange) and re-attach it by id join for the next level's scoring.
    * Output: the FINAL level's scored `(id, cell, cs)` rows; callers
    * rank. With one distributed level this is [[hierDescent]] minus the
    * slot column. */
  private def deepDescent(cv: DataFrame, dq: DeepQuantizer,
      widths: Seq[Int]): DataFrame = {
    dq.requireLive("deepDescent")
    require(widths.length == dq.levels.length + 1 && widths.forall(_ > 0),
      s"deepDescent: need ${dq.levels.length + 1} positive widths, got $widths")
    val branchesU = topCellsUdf(centsOf(dq.top), widths.head)
    val init = cv.withColumn("pbs", branchesU(col("v")))
      .select(col("id"), col("v"), explode(col("pbs")).as("parent"))
    val last = dq.levels.length - 1
    dq.levels.zip(widths.tail).zipWithIndex.foldLeft(init) {
      case (cur, ((lvl, wNext), li)) =>
        val scored = scoreChildren(cur, lvl, wNext).select("id", "cell", "cs")
        if (li == last) scored
        else topCells(scored, wNext)
          .select(col("id"), col("cell").as("parent"))
          .join(cv, "id")
          .select(col("id"), col("v"), col("parent"))
    }
  }

  /** Per-vector scored-centroid count of the [[DeepQuantizer]] width-1
    * home chain (the scale-probe entry point, [[hierScoredLeaves]]'
    * L-level analogue): (id, scored) with scored = nTop + Σ per level
    * |children(home parent)| — a pure frame count, zero wall-clock
    * noise. ScaleProbes prints it next to the flat k and the 2-level
    * number so COVERAGE can pin the √n → k^(1/3) descent-cost claim. */
  private[graft] def deepScoredHome(vecs: DataFrame, dq: DeepQuantizer,
      dimHint: Int): DataFrame = {
    dq.requireLive("deepScoredHome")
    val cv = idVecs(vecs, "deepScoredHome", dimHint)
    val branchU = bestCellUdf(centsOf(dq.top))
    var cur = cv.withColumn("parent", branchU(col("v")))
    var acc = cur.select(col("id"), lit(dq.top.size.toLong).as("scored"))
    dq.levels.zipWithIndex.foreach { case (lvl, li) =>
      val cnt = lvl.groupBy("parent").agg(count(lit(1)).as("nc"))
      acc = acc.join(cur.select("id", "parent"), "id").join(cnt, "parent")
        .select(col("id"), (col("scored") + col("nc")).as("scored"))
      if (li < dq.levels.length - 1)
        cur = scoreChildren(cur, lvl, 1)
          .select(col("id"), col("v"), col("cell").as("parent"))
    }
    acc
  }

  /** Unit-normalize a double vector and pack it little-endian into bytes
    * (zero vector → zero vector, matching [[cosLoop]]'s 0-cosine
    * convention). Runs once per bucket row — off the hot path; the hot
    * per-candidate loop is the native [[DotPacked]] expression. */
  private val packUnit = udf { (s: Seq[Double]) =>
    val v = s.toArray // Spark passes a List: indexing it is O(i)
    var i = 0; var n2 = 0.0
    while (i < v.length) { n2 += v(i) * v(i); i += 1 }
    val inv = if (n2 > 0) 1.0 / math.sqrt(n2) else 0.0
    val bb = java.nio.ByteBuffer.allocate(v.length * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    i = 0
    while (i < v.length) { bb.putDouble(v(i) * inv); i += 1 }
    bb.array()
  }

  /** Pack a double vector little-endian into bytes AS-IS — the raw-bits
    * twin of [[packUnit]] (no normalization, `putDouble` round-trips the
    * exact IEEE bits), for payloads whose consumer needs the original
    * values: the packed-leaf centroid frames ([[packedScoreUdf]]), whose
    * scoring arithmetic must stay bit-identical to the unpacked form. */
  private[graft] val packRaw = udf { (s: Seq[Double]) =>
    val v = s.toArray // Spark passes a List: indexing it is O(i)
    val bb = java.nio.ByteBuffer.allocate(v.length * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var i = 0
    while (i < v.length) { bb.putDouble(v(i)); i += 1 }
    bb.array()
  }

  /** A `(key, cid, cw)` centroid frame — [[hierDescent]]'s leaves,
    * [[scoreChildren]]'s children — grouped per `key` into the packed
    * `(cid, pw, nw)` list [[packedScoreUdf]] reads (round 21, guide §4):
    * the per-centroid binary blob makes the per-(row, key) UDF input
    * conversion one array copy instead of dim boxed Doubles, and
    * [[packedScoreUdf]] documents why scoring stays bit-identical. The
    * norm nw = √(pw·pw) runs through the codegen'd DotPacked, which sums
    * 0.0 + w₀·w₀ + w₁·w₁ + … left to right in doubles — [[norm]]'s sum
    * bit for bit, without its interpreted lambda. collect_list's arrival
    * order is nondeterministic but irrelevant: topByRounded ranks on
    * (rounded cos desc, cid) — a total order (cids unique) — so scores
    * are a pure function of the SET, which the oracle replay proves. */
  private[graft] def packedGroups(cents: DataFrame, key: String): DataFrame =
    cents.withColumn("pw", packRaw(col("cw")))
      .withColumn("nw", sqrt(org.apache.spark.sql.GraftColumns.dotPacked(col("pw"), col("pw"))))
      .groupBy(key)
      .agg(collect_list(struct(col("cid"), col("pw"), col("nw"))).as("lc"))

  /** Unpack a [[packRaw]] blob: one bulk primitive copy, no per-element
    * boxing. */
  private[graft] def unpackRaw(bytes: Array[Byte]): Array[Double] = {
    val out = new Array[Double](bytes.length >> 3)
    java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).asDoubleBuffer.get(out)
    out
  }

  /** The packed-leaf scorer shared by [[hierDescent]] and
    * [[scoreChildren]] (round 21, guide §4 — the DotPacked discipline
    * applied to the leaf frame): the branch-grouped centroid list arrives
    * as `(cid, pw: binary, nw)` structs, so ScalaUDF's input conversion
    * copies ONE byte array per centroid instead of boxing every component
    * into java.lang.Double — the old `(cid, cw: array<double>, nw)` form
    * paid |leaves(branch)| × dim boxed conversions per (row, branch)
    * BEFORE the scoring loop even ran, the dominant per-task cost of the
    * emb _hier/_deep family. [[unpackRaw]] restores the exact IEEE bits,
    * so [[topByRounded]] sees byte-identical inputs and the output is
    * bit-identical to the unpacked form (oracle-replay-proven). */
  private def packedScoreUdf(keep: Int) =
    udf { (v: Seq[Double], lc: Seq[org.apache.spark.sql.Row]) =>
      val va = v.toArray
      var n2 = 0.0; var i = 0
      while (i < va.length) { n2 += va(i) * va(i); i += 1 }
      val cents = new Array[(Long, Array[Double], Double)](lc.length)
      i = 0
      while (i < lc.length) {
        val r = lc(i)
        cents(i) = (r.getLong(0), unpackRaw(r.getAs[Array[Byte]](1)), r.getDouble(2))
        i += 1
      }
      topByRounded(cents, va, math.sqrt(n2), keep)
    }

  /** IVF-Flat approximate top-k — the coarse-quantizer counterpart to the
    * hyperplane-LSH [[annTopK]]: the quantizer partitions the corpus into
    * cells (every candidate lives in exactly ONE cell — its home cell); a
    * query probes its `nProbe` cells and ranks exactly within them (rounded
    * cosine, ties to the lowest nid).
    *
    * The quantizer is a trained [[kmeansModel]] in a [[Quantizer.Flat]],
    * or — with an empty flat model — a deterministic SALTED data sample
    * of `nCent` candidates ([[saltedSample]]); past the flat model's
    * [[QuantizerModelMaxDoubles]] cap, a [[Quantizer.Hier]] or
    * [[Quantizer.Deep]] descent whose driver/closure cost is nTop×dim
    * doubles. Either way the index is a pure function of the input, so
    * the DuckDB oracle replays assignment, probing, and ranking EXACTLY.
    *
    * Scale shape: no per-(row × centroid × dim) join rows, so the cell
    * count may grow with the corpus (constant occupancy). Rows cross the
    * cell-keyed shuffle once each WITH their packed unit vector, and pairs
    * are scored by the codegen'd DotPacked inside the join's streamed
    * output: because each candidate has exactly one cell there are no
    * duplicate pairs and no dedup exchange (vs. the LSH path's
    * nTables-way dedup), and no per-PAIR vector re-attach join (the
    * round-7 dedup lesson: with a query set that grows with the corpus,
    * bare-id pairs joined back to the vector tables are candidates ×
    * dim×8 bytes of join I/O). Per query the exact work is ~nProbe/nCent
    * of the corpus — the IVF-Flat contract. */
  def ivfTopK(queries: DataFrame, candidates: DataFrame, k: Int,
      q: Quantizer = Quantizer.Flat(Nil), nProbe: Int = 4, nCent: Int = -1,
      dimHint: Int = -1): DataFrame = {
    val dim = dimOf(candidates, dimHint)
    if (dim == 0) return noRanks(candidates)
    val qv = idVecs(queries, "ivfTopK", dim)
    val cv = idVecs(candidates, "ivfTopK", dim)
    val qq = q.orSample(cv, sampleCells(candidates, nCent, -1L))
    if (qq.isEmpty) return noRanks(candidates)
    val cells = qq.cells(cv)
      .select(col("cell"), col("id").as("nid"), col("vp").as("pn"))
    val probes = qq.probes(qv, nProbe)
      .select(col("cell"), col("id").as("qid"), col("vp").as("pq"))
    val sims = probes.join(cells, "cell").where(col("qid") =!= col("nid"))
      .withColumn("sim",
        org.apache.spark.sql.GraftColumns.dotPacked(col("pq"), col("pn")))
    rankTopK(sims, k)
  }

  /** The (qid, nid, sim) → rounded top-k tail shared by [[bruteTopK]],
    * [[annTopK]] and [[ivfTopK]]: rank on (4dp-rounded sim DESC, nid). */
  private def rankTopK(sims: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(r4(col("sim")).desc, col("nid"))
    sims.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("qid"), col("nid"), r4(col("sim")).as("sim"),
        col("rank").cast("long").as("rank"))
  }

  /** Multi-table LSH approximate top-k (the classic recall lever: L
    * independent tables, union of in-bucket candidates, exact cosine +
    * top-k on the union). The scale shape: candidate generation is an
    * equi-join co-partitioned on (table, bucket) — per query ~
    * L·|C|/2^nPlanes candidates, never |C|; recall 1-(1-p)^L vs p for one
    * table. Gated by the recall@k spec against [[bruteTopK]]. */
  def annTopK(queries: DataFrame, candidates: DataFrame, k: Int, nPlanes: Int,
      nTables: Int = 8, dimHint: Int = -1): DataFrame = {
    // dim from the caller when known; otherwise inferred from the first
    // candidate (empty input → empty result, not NoSuchElementException)
    val dim = dimOf(candidates, dimHint)
    if (dim == 0) return noRanks(candidates)
    val checked = dimChecked("annTopK", dim) _
    val qv = queries.select(col("vec_id").as("qid"), checked(col("embedding")).as("qv"))
    val cv = candidates.select(col("vec_id").as("nid"), checked(col("embedding")).as("nv"))
    // candidate generation runs on BARE ids: the (table, bucket) equi-join
    // and the dedup shuffle carry two longs per pair, never the vectors;
    // vectors re-attach only to the post-dedup survivors (at 100 TB the
    // in-bucket pair volume is the dominant shuffle — keeping it id-width
    // cuts it by ~dim× vs joining vectors first)
    val q = tableBucketRows(qv, "qid", "qv", nPlanes, nTables, dim)
    val c = tableBucketRows(cv, "nid", "nv", nPlanes, nTables, dim)
    val cand = q.join(c, Seq("table", "bucket")).where(col("qid") =!= col("nid"))
      .select("qid", "nid").dropDuplicates("qid", "nid")
      .join(qv, "qid").join(cv, "nid")
    rankTopK(cand.withColumn("sim", cosLoop(col("qv"), col("nv"))), k)
  }

  /** Lloyd k-means over the embedding column: `iters` assignment passes
    * with a centroid update between each — the TRAINED coarse quantizer
    * (vs [[ivfTopK]]'s data-sample one; [[kmeansModel]] feeds a
    * [[Quantizer.Flat]]). Returns the final assignment (vec_id, cell, aff) with
    * `aff` the 4dp-rounded cosine to the winning centroid.
    *
    * Fully deterministic, so the DuckDB oracle replays every pass
    * exactly: init = the embeddings of the `nCent` lowest hash60(vec_id)s
    * (id tie-break); assignment = argmax of ROUNDED cosine, ties to the
    * lowest centroid id; update = per-dimension mean over members (cells
    * that lose all members keep their previous centroid, k never
    * shrinks).
    *
    * Scale shape (the MLlib KMeans discipline): the MODEL lives on the
    * driver — nCent×dim doubles, collected once per pass — and ships in
    * the assignment UDF's closure; the DATA never moves. Assignment is
    * ONE JIT'd [[topByRounded]] loop per row, so a pass adds no exchange;
    * the update's posexplode+avg hash-aggregates with map-side partials,
    * so its shuffle carries #partitions × nCent × dim partial sums, not
    * N×dim member rows. Driver loop = `iters` rounds, same
    * bounded-iteration contract as Graph.connectedComponents. */
  def kmeansAssign(vecs: DataFrame, nCent: Int, iters: Int,
      dimHint: Int = -1): DataFrame = {
    require(nCent > 0 && iters > 0, s"kmeansAssign: nCent=$nCent iters=$iters must be positive")
    val dim = dimOf(vecs, dimHint)
    if (dim == 0)
      return emptyFrame(vecs, lit(0L).as("vec_id"), lit(0L).as("cell"), lit(0.0).as("aff"))
    kmeansLoop(vecs, nCent, iters, dim)._1
      .select(col("id").as("vec_id"), col("cell"), col("aff"))
  }

  /** The trained centroid model alone — (cid, weights) on the driver,
    * ready to drop into a [[Quantizer.Flat]] as the coarse quantizer. Runs `iters` Lloyd passes like
    * [[kmeansAssign]] (the final assignment is discarded; only the update
    * after pass `iters - 1` matters, so training cost is identical). The
    * per-pass cost is one JIT'd loop per row whatever nCent is, so
    * √n- and n/occupancy-scale centroid counts train in the same shape. */
  def kmeansModel(vecs: DataFrame, nCent: Int, iters: Int,
      dimHint: Int = -1): Seq[(Long, Array[Double])] = {
    require(nCent > 0 && iters > 0, s"kmeansModel: nCent=$nCent iters=$iters must be positive")
    val dim = dimOf(vecs, dimHint)
    if (dim == 0) Nil else kmeansLoop(vecs, nCent, iters, dim)._2
  }

  private def kmeansLoop(vecs: DataFrame, nCent: Int, iters: Int,
      dim: Int): (DataFrame, Seq[(Long, Array[Double])]) = {
    val cv = idVecs(vecs, "kmeans", dim)
    // Lloyd INIT is the salted sample, like every sample model in the
    // family: two Lloyd passes attenuate but don't erase an id-order skew
    var model = saltedSample(cv, nCent)
    var asg: DataFrame = null
    for (pass <- 1 to iters) {
      // argmax over the current model via [[topByRounded]]'s primitive
      // scoring loop + exact rounded ranking over the provably-sufficient
      // candidate set: (cell, aff) as if every centroid were rounded,
      // minus the per-(row × centroid) BigDecimal
      val bestU = bestCellAffUdf(centsOf(model))
      val scored = cv.withColumn("bc", bestU(col("v")))
      asg = scored.select(col("id"), col("bc._1").as("cell"), col("bc._2").as("aff"))
      if (pass < iters) {
        // the update reads each member's vector off the row it was
        // assigned on — no join back to the corpus
        val means = scored.select(col("bc._1").as("cell"), posexplode(col("v")))
          .groupBy("cell", "pos").agg(avg("col").as("m"))
          .collect()
          .groupBy(_.getLong(0))
          .map { case (cell, rows) =>
            val ws = new Array[Double](dim)
            rows.foreach(r => ws(r.getInt(1)) = r.getDouble(2))
            cell -> ws
          }
        model = model.map { case (cid, old) => cid -> means.getOrElse(cid, old) }
      }
    }
    (asg, model)
  }

  /** Product-quantization approximate top-k (PQ-Flat, asymmetric distance):
    * the MEMORY-bounded ANN path — each candidate vector compresses to `m`
    * small codes (one per subspace), so at 100 TB the index the scoring
    * join shuffles is m bytes/vector, not dim×8 (Jégou et al., "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011).
    *
    * Per-subspace codebooks are a deterministic SALTED data sample (the
    * `ksub` lowest hash60(vec_id)' subvectors — the same
    * pure-function-of-input trick as [[ivfTopK]], so the DuckDB oracle
    * replays encode + scoring exactly; a trained per-subspace k-means
    * would drop in unchanged). Encoding:
    * argmin of the ROUNDED squared L2 per (vector, subspace), ties to the
    * lowest code. Scoring: ADC — the query precomputes its distance to
    * every (subspace, codeword) once (m×ksub table, broadcast), and a
    * candidate's approximate distance is the sum of m lookups on its
    * codes; rank ascending, ties to the lowest nid.
    *
    * Scale shape: the codebook is collected ONCE at plan time (ksub×dim
    * doubles — the broadcast model, same discipline as [[kmeansModel]])
    * and encoding runs as one JIT'd loop per row (O(dim·ksub) flops, the
    * inherent encode cost, with zero join/aggregate row machinery — the
    * exploded-join formulation of the same math measured 8.6 s vs ~1 s
    * at sf0.1). Scoring joins the m-row-per-candidate CODE frame against
    * the broadcast query distance table on (subspace, code) — the
    * shuffle carries (nid, j, c) longs, never vectors. Compose with
    * [[ivfTopK]] cells to cut the scan to nProbe/nCent of the corpus
    * (IVF-PQ).
    *
    * Oracle exactness: per-subspace distances are rounded to 4dp
    * (HALF_UP after the shared +1e-9 shift) BEFORE the argmin and before
    * the ADC sum, so both engines compare identical values; at dsub ≤ 2
    * fp addition is commutative, so summation order cannot diverge
    * either.
    *
    * BOUNDED-QUERY CONTRACT: the broadcast ADC table is
    * #queries × m × ksub rows (~40 B each) — linear in the QUERY batch,
    * never the corpus. That is broadcast-sane only for bounded query
    * batches (the ANN serving shape: thousands of queries, not millions);
    * [[PqAdcBroadcastRowCap]] enforces it with a plan-time `require`. For
    * query sets at corpus scale, feed bounded slices (or drop the
    * `broadcast` hint and let the (j, c) join shuffle both sides). */
  def pqTopK(queries: DataFrame, candidates: DataFrame, k: Int, m: Int,
      ksub: Int, dimHint: Int = -1): DataFrame = {
    val nQueries = queries.count()
    val adcRows = nQueries * m * ksub
    require(adcRows <= PqAdcBroadcastRowCap,
      s"pqTopK: ADC broadcast table would be $adcRows rows " +
      s"(#queries=$nQueries x m=$m x ksub=$ksub) > cap $PqAdcBroadcastRowCap " +
      "(~40 B/row). Feed a bounded query batch, or shuffle-join instead of broadcasting.")
    val dim = dimOf(candidates, dimHint)
    if (dim == 0) return noAdc(candidates)
    require(dim % m == 0, s"pqTopK: dim $dim must divide into $m subspaces")
    val checked = dimChecked("pqTopK", dim) _
    val (codesU, qdU) = pqEncoders(candidates, m, ksub, dim)
    val codes = candidates
      .select(col("vec_id").as("nid"), posexplode(codesU(checked(col("embedding")))))
      .toDF("nid", "j", "c")
    val qTable = queries
      .select(col("vec_id").as("qid"), explode(qdU(checked(col("embedding")))).as("e"))
      .select(col("qid"), col("e._1").as("j"), col("e._2").as("c"), col("e._3").as("d2"))
    val adc = codes.join(broadcast(qTable), Seq("j", "c"))
      .where(col("qid") =!= col("nid"))
      .groupBy("qid", "nid")
      .agg(r4(sum(col("d2"))).as("adist"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("adist").asc, col("nid").asc)
    adc.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("qid"), col("nid"), col("adist"), col("rank").cast("long").as("rank"))
  }

  /** The PQ encode closures: (codesU, qdU). The codebook — the `ksub`
    * lowest vec_ids' vectors — is collected once at plan time (ksub×dim
    * doubles, the broadcast-model discipline shared with [[kmeansModel]]
    * and [[planeVec]]) and serialized into both UDFs; `codesU` maps a
    * vector to its m nearest-codeword indices (rounded per-subspace L2
    * argmin, ties to the lowest code), `qdU` to the full (j, c, d2)
    * distance table a query precomputes for ADC. */
  private def pqEncoders(candidates: DataFrame, m: Int, ksub: Int, dim: Int)
      : (org.apache.spark.sql.expressions.UserDefinedFunction,
         org.apache.spark.sql.expressions.UserDefinedFunction) = {
    val dsub = dim / m
    // [[saltedSample]] codebook: code index c = position in the salted
    // order (the round-8 dedup-sample lesson applied to the PQ codebook)
    val cb: Array[Array[Double]] = saltedSample(rawVecs(candidates), ksub).map(_._2).toArray
    require(cb.nonEmpty, "pqEncoders: candidates must be non-empty to build a codebook")
    require(cb.forall(_.length == dim),
      s"pqEncoders: codebook vectors must all have dim $dim")
    val kEff = cb.length // < ksub only when the corpus is smaller than ksub
    // one boxed→primitive copy per ROW (the encode loop otherwise reads
    // the boxed Seq m×kEff×dsub = dim×kEff times per row — the same
    // boxing tax the 100× scale check measured dominant in the IVF
    // dedup's assignment pass)
    def subD(v: Array[Double], j: Int, c: Int): Double = {
      var ss = 0.0; var i = 0
      while (i < dsub) {
        val dd = v(j * dsub + i) - cb(c)(j * dsub + i); ss += dd * dd; i += 1
      }
      HalfUp.rd(ss) // the cross-engine argmin/sum value
    }
    val codesU = udf { v: Seq[Double] =>
      val va = v.toArray
      Array.tabulate(m) { j =>
        var best = 0; var bd = subD(va, j, 0); var c = 1
        while (c < kEff) {
          val dd = subD(va, j, c); if (dd < bd) { bd = dd; best = c }; c += 1
        }
        best
      }
    }
    val qdU = udf { v: Seq[Double] =>
      val va = v.toArray
      (for { j <- 0 until m; c <- 0 until kEff } yield (j, c, subD(va, j, c))).toArray
    }
    (codesU, qdU)
  }

  /** IVF-PQ: the composed 100 TB ANN architecture — [[ivfTopK]]'s coarse
    * quantizer cuts the scan to the probed cells' members (~nProbe/nCent
    * of the corpus) and [[pqTopK]]'s asymmetric distance scores those
    * candidates from m-byte codes instead of full vectors. Same
    * deterministic sample models as its two parents, so the DuckDB oracle
    * replays cell assignment, probing, encode, and ADC scoring exactly.
    *
    * Scale shape: candidate generation is the IVF bare-id cell join;
    * scoring attaches codes (m longs) and the broadcast query distance
    * table — vectors appear in NO shuffle after the two assignment
    * passes. */
  def ivfPqTopK(queries: DataFrame, candidates: DataFrame, k: Int,
      nCent: Int, nProbe: Int, m: Int, ksub: Int, dimHint: Int = -1): DataFrame = {
    val dim = dimOf(candidates, dimHint)
    if (dim == 0) return noAdc(candidates)
    require(dim % m == 0, s"ivfPqTopK: dim $dim must divide into $m subspaces")
    val checked = dimChecked("ivfPqTopK", dim) _
    // cell assignment via a plan-time centroid model + one JIT'd loop per
    // row (same discipline as the PQ encode and [[ivfTopK]]; an exploded
    // (row, centroid, dim) join measured ~1.5 s more here) — identical math: rounded cosine argmax, ties to the lowest cid.
    // Centroids are the [[saltedSample]], matching [[ivfTopK]]/[[pqEncoders]].
    val cents = saltedSample(rawVecs(candidates), nCent)
    require(cents.nonEmpty, "ivfPqTopK: candidates must be non-empty to build centroids")
    // assignment/probing via [[topByRounded]]: primitive scoring loop with
    // precomputed centroid norms and one boxed→array copy per row, exact
    // rounded ranking only over the reachable candidate set — identical
    // (rounded argmax, lowest-cid ties) to rounding every cell, minus the
    // per-(row × centroid) BigDecimal + norm recompute (the boxing tax
    // the 100× scale check measured dominant in the dedup's twin loop).
    // topByRounded ranks ties by cid VALUE (not array position), so the
    // salted — non-cid-ascending — centroid order is tie-safe.
    val centsN = centsOf(cents)
    val bestCellU = bestCellUdf(centsN)
    val probeCellsU = topCellsUdf(centsN, nProbe)
    val cells = candidates
      .select(col("vec_id").as("nid"), bestCellU(checked(col("embedding"))).as("cell"))
    val probes = queries
      .select(col("vec_id").as("qid"), explode(probeCellsU(checked(col("embedding")))).as("cell"))
    val pairs = probes.join(cells, "cell").where(col("qid") =!= col("nid"))
      .select("qid", "nid")
    val (codesU, qdU) = pqEncoders(candidates, m, ksub, dim)
    val codes = candidates
      .select(col("vec_id").as("nid"), posexplode(codesU(checked(col("embedding")))))
      .toDF("nid", "j", "c")
    val qTable = queries
      .select(col("vec_id").as("qid"), explode(qdU(checked(col("embedding")))).as("e"))
      .select(col("qid"), col("e._1").as("j"), col("e._2").as("c"), col("e._3").as("d2"))
    val adc = pairs.join(codes, "nid")
      .join(broadcast(qTable), Seq("qid", "j", "c"))
      .groupBy("qid", "nid")
      .agg(r4(sum(col("d2"))).as("adist"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("adist").asc, col("nid").asc)
    adc.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("qid"), col("nid"), col("adist"), col("rank").cast("long").as("rank"))
  }
}
