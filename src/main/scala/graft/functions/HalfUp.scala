package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{lit, round}

/** The one cross-engine rounding rule: nudge by +1e-9, then round HALF_UP
  * to 4 dp. The nudge makes a double that prints as x.xxxx5 but is stored
  * a hair below it round the same way in Spark and DuckDB, so every
  * oracle-gated double is computed on both engines as
  * `round(1e-9 + x, 4)`. [[r4]] is the Column form; [[rd]] is the same rule
  * on the JVM (Spark's `round` on a double is `BigDecimal(x).setScale(s,
  * HALF_UP)` over the shortest decimal repr, exactly as here), for UDF
  * loops and streaming state that must emit the batch op's values. */
object HalfUp {
  def r4(c: Column): Column = round(c + lit(1e-9), 4)

  def rd(x: Double, scale: Int = 4): Double =
    BigDecimal(x + 1e-9).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble
}
