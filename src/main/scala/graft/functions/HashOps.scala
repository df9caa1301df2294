package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType, StringType}

/** The 60-bit portable-hash kernel (first 60 bits of md5) as one static
  * JVM call — shared by the interpreted eval path, generated code and the
  * per-doc n-gram loops ([[TextFunctions.ngramHashesJvm]],
  * [[TextFunctions.dsirBucketsJvm]]), so the hash exists exactly once
  * (the [[VecOps]] discipline). */
object HashOps {
  /** MD5 instances are not thread-safe and `getInstance` allocates; one
    * per task thread, reset per call. */
  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 60 bits of md5(bytes) as a non-negative long — bit-identical
    * to `conv(substring(md5(c), 1, 15), 16, 10)::long` (15 hex digits =
    * bytes 0-6 + the high nibble of byte 7) and to the DuckDB oracle form
    * `('0x' || substr(md5(x),1,15))::BIGINT`. */
  def md5Prefix60(bytes: Array[Byte]): Long = {
    val m = md5.get()
    m.reset()
    val d = m.digest(bytes)
    var v = 0L
    var b = 0
    while (b < 7) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
    (v << 4) | ((d(7) & 0xf0L) >> 4)
  }
}

/** `md5_prefix60(string | binary) -> long` as a native Catalyst expression — the
  * §2.13 custom-op tier ([[DotPacked]] pattern) for the pipeline's
  * portable 60-bit hash. The Column-function form
  * `conv(substring(md5(c), 1, 15), 16, 10).cast("long")` evaluates FOUR
  * chained expressions per value and allocates three intermediates (the
  * 32-char hex UTF8String, the 15-char substring, conv's decimal string);
  * this expression is the digest plus bit math, nothing else — measured
  * ~3× per value at sf0.1 volumes (round 20, guide §4). It accepts
  * string or binary natively — there is no implicit cast: a string hashes
  * its UTF-8 bytes, the same bytes Spark's own `Md5` hashes after its
  * string→binary cast — so swapping it under [[TextFunctions.hash60]]
  * changes NO value anywhere: every oracle keeps the md5-based SQL form.
  * A numeric input fails analysis by design. */
case class Md5Prefix60(child: Expression)
    extends UnaryExpression {

  /** String OR binary only (round-20 advisor) — the same effective
    * contract as Spark's own `Md5` (whose implicit cast only accepts
    * strings): a string hashes its UTF-8 bytes directly (`UTF8String.
    * getBytes` ≡ `cast(s as binary)`, no cast node), while a numeric
    * input FAILS ANALYSIS instead of silently hashing its big-endian
    * bytes where the md5-SQL oracle form hashes the decimal string. The
    * bridge ([[org.apache.spark.sql.GraftColumns]]) passes the raw
    * expression, no explicit cast. */
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType || child.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"md5_prefix60 needs string or binary (the oracle md5 form hashes " +
        s"the decimal STRING of numerics — cast explicitly), got ${child.dataType}")
  override def dataType: DataType = LongType
  override def prettyName: String = "md5_prefix60"

  override protected def nullSafeEval(input: Any): Any = child.dataType match {
    case StringType =>
      HashOps.md5Prefix60(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes)
    case _ => HashOps.md5Prefix60(input.asInstanceOf[Array[Byte]])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    child.dataType match {
      case StringType =>
        defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.md5Prefix60(($c).getBytes())")
      case _ =>
        defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.md5Prefix60($c)")
    }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
