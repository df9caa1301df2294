package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType}

/** Primitive vector kernels over byte-packed (little-endian double)
  * vectors. Called from BOTH the interpreted eval path and generated code
  * ([[DotPacked.doGenCode]] emits a direct static call), so the hot loop
  * exists exactly once. */
object VecOps {

  private def readLE(a: Array[Byte], o: Int): Long =
    (a(o) & 0xffL) | ((a(o + 1) & 0xffL) << 8) | ((a(o + 2) & 0xffL) << 16) |
      ((a(o + 3) & 0xffL) << 24) | ((a(o + 4) & 0xffL) << 32) |
      ((a(o + 5) & 0xffL) << 40) | ((a(o + 6) & 0xffL) << 48) |
      ((a(o + 7) & 0xffL) << 56)

  /** Dot product of two packed vectors (truncates to the shorter). */
  def dot(a: Array[Byte], b: Array[Byte]): Double = {
    var s = 0.0
    var o = 0
    val n = (math.min(a.length, b.length) / 8) * 8
    while (o < n) {
      s += java.lang.Double.longBitsToDouble(readLE(a, o)) *
        java.lang.Double.longBitsToDouble(readLE(b, o))
      o += 8
    }
    s
  }

  /** Sakoe-Chiba-banded DTW distance over primitive arrays — the single
    * definition of the DP (reference `augurs_dtw`, `augurs.rs:1038`);
    * [[graft.ops.Augurs.dtw]] and the [[DtwBand]] expression both call
    * here. |x−y| local cost; band r makes each pair O(n·r). */
  def dtw(a: Array[Double], b: Array[Double], band: Int): Double = {
    val n = a.length; val m = b.length
    if (n == 0 || m == 0) return Double.PositiveInfinity
    val INF = Double.PositiveInfinity
    var prev = Array.fill(m + 1)(INF); prev(0) = 0.0
    var cur = Array.fill(m + 1)(INF)
    var i = 1
    while (i <= n) {
      java.util.Arrays.fill(cur, INF)
      val lo = math.max(1L, i.toLong - band).toInt
      val hi = math.min(m.toLong, i.toLong + band).toInt
      var j = lo
      while (j <= hi) {
        val cost = math.abs(a(i - 1) - b(j - 1))
        cur(j) = cost + math.min(math.min(prev(j), cur(j - 1)), prev(j - 1))
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(m)
  }

  /** Kernel-dispatch crossover for the `dtw <= eps` decision (round 20,
    * r19 verdict #5): at or above this window the early-abandoning
    * [[DtwBandLe]] kernel wins; below it the plain [[DtwBand]]` <= eps`
    * form does, because the running row-min bookkeeping costs more than
    * the whole DP it might abandon. Measured by the one-shot DtwWinProbe
    * A/B main (since removed; its record is in COVERAGE.md), min-of-5
    * kernel µs/pair over 4560 p10-eps pairs; Spark eps-graph wall over
    * 319,600 pairs at local[32]:
    *
    *   window  8/band 4:  kernel 0.75× (dtwLe LOSES), wall 1.05×
    *   window 16/band 4:  kernel 1.21×, wall 1.67×
    *   window 32/band 4:  kernel 1.16×, wall 1.38×
    *   window 64/band 8:  kernel 1.27×, wall 1.09×
    *   window 128/band 16: kernel 1.43×, wall 2.33× (r19: 1.34×/1.38×)
    *
    * The crossover sits between 8 and 16; both kernels decide
    * IDENTICALLY everywhere (the abandon is exact — see [[dtwLe]]), so
    * the dispatch is a pure performance choice and the AugursSpec
    * crossover golden gates decision equality on both sides. Public
    * entry: `GraftColumns.dtwBandLeAuto` (callers state their window;
    * `Augurs.clusterDtwDistributed` routes through it). */
  val DtwLeKernelMinWindow = 16

  /** THRESHOLD test `dtw(a, b) <= eps` with EARLY ABANDONING — exact,
    * never approximate: every DP cell adds a non-negative local cost to
    * a min of predecessor cells, so cell values are monotone
    * non-decreasing along the recursion; once every cell of a DP row
    * exceeds `eps`, the final distance provably does too and the loop
    * aborts. A pair whose true distance is ≤ eps always runs its DP to
    * completion through cells ≤ eps, so the decision is identical to
    * `dtw(a, b, band) <= eps` on every input (AugursSpec sweeps the
    * boundary). Built for the DBSCAN cluster path, where 90%+ of the
    * O(k²) pairs are far and abort within a few rows — the pruning
    * classic (Keogh & Ratanamahatana 2005's LB/abandon family) applied
    * at the DP rather than a lower-bound pre-pass. */
  def dtwLe(a: Array[Double], b: Array[Double], band: Int, eps: Double): Boolean = {
    val n = a.length; val m = b.length
    // empty side: dtw() returns +Infinity, so the threshold decision is
    // `Inf <= eps` — true exactly when eps is +Infinity (round-19 advisor:
    // the old `return false` diverged from dtw() at eps = +Inf, reachable
    // via the public GraftColumns.dtwBandLe, never via seriesOf)
    if (n == 0 || m == 0) return eps == Double.PositiveInfinity
    val INF = Double.PositiveInfinity
    var prev = Array.fill(m + 1)(INF); prev(0) = 0.0
    var cur = Array.fill(m + 1)(INF)
    var i = 1
    while (i <= n) {
      java.util.Arrays.fill(cur, INF)
      val lo = math.max(1L, i.toLong - band).toInt
      val hi = math.min(m.toLong, i.toLong + band).toInt
      var rowMin = INF
      var j = lo
      while (j <= hi) {
        val cost = math.abs(a(i - 1) - b(j - 1))
        val v = cost + math.min(math.min(prev(j), cur(j - 1)), prev(j - 1))
        cur(j) = v
        if (v < rowMin) rowMin = v
        j += 1
      }
      if (rowMin > eps) return false // every continuation only grows
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(m) <= eps
  }

  /** Codegen/eval entry for [[dtwLe]] (one primitive copy per side). */
  def dtwLeArrays(a: org.apache.spark.sql.catalyst.util.ArrayData,
      b: org.apache.spark.sql.catalyst.util.ArrayData, band: Int, eps: Double): Boolean =
    dtwLe(a.toDoubleArray, b.toDoubleArray, band, eps)

  /** Codegen/eval entry: unboxes each ArrayData ONCE (`toDoubleArray` is a
    * primitive copy) — the Seq-typed ScalaUDF form paid the generic
    * converter per pair and measured ~2.3 s of the 6 s aug_dtw wall. */
  def dtwArrays(a: org.apache.spark.sql.catalyst.util.ArrayData,
      b: org.apache.spark.sql.catalyst.util.ArrayData, band: Int): Double =
    dtw(a.toDoubleArray, b.toDoubleArray, band)
}

/** `dot(packed, packed)` as a native Catalyst expression — the §2.13
  * custom-op tier the SURVEY ranks above UDFs: `doGenCode` drops a plain
  * static call into whole-stage codegen, so per-row cost is the dot loop
  * itself — no ScalaUDF conversion machinery, no boxing of the result,
  * and the expression stays inside the codegen'd join stage it is used
  * in. On the cosine-dedup hot path (millions of candidate pairs) this
  * measured ~2x over the equivalent Scala UDF. */
case class DotPacked(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_packed needs (binary, binary), got (${left.dataType}, ${right.dataType})")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_packed"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecOps.dot(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VecOps.dot($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `dtw_band(array<double>, array<double>)` with a constructor-pinned
  * Sakoe-Chiba band — same native-expression tier as [[DotPacked]]:
  * `doGenCode` emits a static [[VecOps.dtwArrays]] call (ArrayData in,
  * primitive out), so the banded DP runs inside the join-output
  * projection with one unboxing copy per side and no ScalaUDF converter
  * machinery. On the O(k²)-pair matrix this halved aug_dtw's per-pair
  * cost vs the Seq-typed UDF. */
/** `dtw_band_le(a, b) <= eps` as a native BOOLEAN expression — the
  * threshold-consumer tier of [[DtwBand]]: the [[VecOps.dtwLe]] early-
  * abandoning DP runs inside the codegen'd join projection, so far pairs
  * (the overwhelming majority of a DBSCAN eps-graph's O(k²) candidates)
  * abort after a few DP rows instead of paying the full O(n·band). The
  * decision is EXACT (see the kernel's monotonicity argument). */
case class DtwBandLe(left: Expression, right: Expression, band: Int, eps: Double)
    extends BinaryExpression {

  private def ok(t: DataType): Boolean = t match {
    case org.apache.spark.sql.types.ArrayType(DoubleType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dtw_band_le needs (array<double>, array<double>), got (${left.dataType}, ${right.dataType})")
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "dtw_band_le"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecOps.dtwLeArrays(a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], band, eps)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    // eps is emitted BY BITS, not toString: a non-finite eps would
    // interpolate as the identifier `Infinity`/`NaN` — invalid Java that
    // forces a codegen compile failure + interpreted fallback for the
    // whole stage (round-19 advisor). longBitsToDouble round-trips every
    // double exactly, including ±Inf/NaN/-0.0.
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VecOps.dtwLeArrays($a, $b, $band, " +
        s"java.lang.Double.longBitsToDouble(" +
        s"${java.lang.Double.doubleToRawLongBits(eps)}L))")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

case class DtwBand(left: Expression, right: Expression, band: Int)
    extends BinaryExpression {

  private def ok(t: DataType): Boolean = t match {
    case org.apache.spark.sql.types.ArrayType(DoubleType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dtw_band needs (array<double>, array<double>), got (${left.dataType}, ${right.dataType})")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dtw_band"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecOps.dtwArrays(a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], band)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VecOps.dtwArrays($a, $b, $band)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
