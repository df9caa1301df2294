package org.apache.spark.sql

import graft.functions.{DotPacked, DtwBand, DtwBandLe, Md5Prefix60}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/** The sql-package bridge graft needs: wrapping its native Catalyst
  * expressions into public `Column`s (Spark 4 moved the Expression→Column
  * constructor behind `private[sql]`; this is the supported pattern for
  * libraries shipping custom expressions without a session extension),
  * and exposing a partitioned RDD as a frame ([[GraftFrames]]). */
object GraftColumns {

  /** [[graft.functions.DotPacked]] over two byte-packed vectors. */
  def dotPacked(a: Column, b: Column): Column =
    ExpressionUtils.column(
      DotPacked(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** [[graft.functions.Md5Prefix60]]: first 60 bits of md5 as a long —
    * one codegen'd digest call in place of the md5→substring→conv chain
    * (bit-identical values; see the expression's scaladoc). No cast here
    * and none inside: the expression accepts string or binary natively
    * (a string hashes its UTF-8 bytes), and a numeric input fails
    * analysis by design instead of hashing its big-endian bytes where the
    * oracle form hashes the decimal string. */
  def md5Prefix60(c: Column): Column =
    ExpressionUtils.column(Md5Prefix60(ExpressionUtils.expression(c)))

  /** [[graft.functions.DtwBand]] over two array<double> series. */
  def dtwBand(a: Column, b: Column, band: Int): Column =
    ExpressionUtils.column(
      DtwBand(ExpressionUtils.expression(a), ExpressionUtils.expression(b), band))

  /** [[graft.functions.DtwBandLe]]: exact `dtw(a, b) <= eps` with
    * early-abandoning — the threshold consumers' fast path. */
  def dtwBandLe(a: Column, b: Column, band: Int, eps: Double): Column =
    ExpressionUtils.column(
      DtwBandLe(ExpressionUtils.expression(a), ExpressionUtils.expression(b), band, eps))

  /** Exact `dtw(a, b) <= eps` decision with the kernel selected by the
    * series window size at the measured crossover
    * ([[graft.functions.VecOps.DtwLeKernelMinWindow]]) — callers state
    * their window; the measured win regime is not their problem (round
    * 20, r19 verdict #5). Both branches are bit-identical decisions
    * (the early-abandon is exact by DP monotonicity; the AugursSpec
    * crossover golden proves equality on both sides). */
  def dtwBandLeAuto(a: Column, b: Column, band: Int, eps: Double,
      window: Int): Column =
    if (window >= graft.functions.VecOps.DtwLeKernelMinWindow)
      dtwBandLe(a, b, band, eps)
    else dtwBand(a, b, band) <= eps

  /** True when the column's root expression is the early-abandoning
    * [[DtwBandLe]] kernel — the dispatch observability hook (Spark 4
    * hides Column→Expression outside the sql package, so the AugursSpec
    * crossover golden asserts kernel selection through this). */
  def isAbandonKernel(c: Column): Boolean =
    ExpressionUtils.expression(c).isInstanceOf[DtwBandLe]
}

/** Frames over RDDs the library partitions itself. */
object GraftFrames {

  /** The session's shuffle partition count — what an `Exchange
    * hashpartitioning` planned in this session would use. */
  def shufflePartitions(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf.numShufflePartitions

  /** `rows` as a frame whose plan is one `Scan ExistingRDD` leaf (the
    * shape `Dataset.localCheckpoint` leaves) declaring
    * `hashpartitioning(<first column>, n)`, so downstream joins and
    * aggregates on that column plan no exchange. The caller guarantees
    * the placement: row r sits in partition pmod(murmur3(r(0), 42), n),
    * exactly where that exchange would have put it. */
  def hashPartitioned(spark: SparkSession, rows: RDD[InternalRow],
      schema: StructType, n: Int): DataFrame = {
    val s = spark.asInstanceOf[classic.SparkSession]
    val out = schema.map(f => AttributeReference(f.name, f.dataType, f.nullable)())
    classic.Dataset.ofRows(s, LogicalRDD(out, rows, HashPartitioning(Seq(out(0)), n))(s))
  }
}

/** Live-session registration of graft's SQL functions — the companion to
  * the `spark.sql.extensions=graft.GraftExtensions` config route (that one
  * only applies at session construction; this one retrofits a running
  * session via its function registry — in the sql package because
  * `sessionState` is `private[sql]` in Spark 4). */
object GraftSql {
  def register(spark: SparkSession): Unit =
    graft.GraftExtensions.functions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
