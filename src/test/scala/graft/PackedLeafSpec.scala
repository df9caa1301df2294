package graft

import graft.functions.Similarity
import org.apache.spark.sql.functions._

/** Round-21 optimization gate for the packed-leaf centroid frames
  * ([[Similarity]] hierDescent/scoreChildren, guide §4): the change is
  * legal ONLY because packRaw → unpackRaw round-trips the exact IEEE-754
  * bits, so topByRounded sees byte-identical inputs and every descent
  * ranks identically to the unpacked form (the oracle replay proves the
  * end-to-end claim at every SF; this pins the kernel-level invariant the
  * proof rests on). */
class PackedLeafSpec extends SparkSuite {

  private val adversarial: Seq[Double] = Seq(
    0.0, -0.0, 1.0, -1.0, 1.5, 1.0 / 3.0, math.Pi,
    Double.MinPositiveValue, -Double.MinPositiveValue, // subnormals
    java.lang.Double.MIN_NORMAL, Double.MaxValue, -Double.MaxValue,
    1e-300, -1e308, 4.9e-324,
    Double.PositiveInfinity, Double.NegativeInfinity, Double.NaN)

  test("packRaw → unpackRaw round-trips the exact IEEE bits (incl. NaN/-0.0/subnormals)") {
    import spark.implicits._
    val packed = Seq(adversarial).toDF("v")
      .select(Similarity.packRaw(col("v")).as("p"))
      .collect().head.getAs[Array[Byte]](0)
    assert(packed.length == adversarial.length * 8, "8 bytes per double, no padding")
    val back = Similarity.unpackRaw(packed)
    assert(back.length == adversarial.length)
    back.zip(adversarial).zipWithIndex.foreach { case ((b, a), i) =>
      assert(java.lang.Double.doubleToRawLongBits(b) ==
        java.lang.Double.doubleToRawLongBits(a),
        s"bit drift at $i: $a -> $b")
    }
  }

  test("packedGroups' codegen'd centroid norm equals Similarity.norm bit for bit") {
    // the leaf/child frames norm their centroids as sqrt(dot_packed(pw, pw))
    // inside whole-stage codegen; the descent's rankings rest on that norm
    // being the very double the interpreted aggregate lambda produced
    val cents = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(lit(0L).as("branch"), col("vec_id").as("cid"),
        Similarity.toDouble(col("embedding")).as("cw"))
    val ref = cents.select(col("cid"), Similarity.norm(col("cw")).as("ref"))
    val got = Similarity.packedGroups(cents, "branch")
      .select(explode(col("lc")).as("c"))
      .select(col("c.cid").as("cid"), col("c.nw").as("nw"))
    val rows = got.join(ref, "cid").collect()
    assert(rows.length == cents.count() && rows.length > 0)
    rows.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
        s"norm drift at cid ${r.getLong(0)}: ${r.getDouble(1)} vs ${r.getDouble(2)}")
    }
  }

  test("packRaw of an empty vector is an empty blob (and unpacks to empty)") {
    import spark.implicits._
    val packed = Seq(Seq.empty[Double]).toDF("v")
      .select(Similarity.packRaw(col("v")).as("p"))
      .collect().head.getAs[Array[Byte]](0)
    assert(packed.isEmpty && Similarity.unpackRaw(packed).isEmpty)
  }
}
