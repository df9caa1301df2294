package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    // optional extra args: restrict to named queries (local dev loop only —
    // the driver always runs the full set)
    val only = args.drop(2).toSet
    val spark = GraftSession.forSf(sfDir, GraftSession.cores(4), "WARN")
    new java.io.File(outDir).mkdirs()
    // Vacuity guard: an oracle query returning 0 rows "passes" the driver's
    // rows/schema/hash compare trivially (both sides empty) and certifies
    // nothing. Count each written result (parquet-footer count, no rescan)
    // and fail loudly at the end if any oracle-gated query came back empty.
    val vacuous = scala.collection.mutable.ListBuffer.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      // per-query cache isolation, same as Bench: Pin.cache'd frames
      // (emb scans, quantizer level frames) from one query must not stay
      // resident across the other 100+ queries' runs — and the
      // RDD-layer sweep drops leaked Pin.cut blocks too
      Bench.isolate(spark)
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        if (spark.read.parquet(s"$outDir/$name").count() == 0L) {
          vacuous += name
          System.err.println(s"[verify] VACUOUS: $name returned 0 rows at $sfDir")
        }
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/vacuous.json"),
      vacuous.toList.sorted.map(q).mkString("[", ",", "]"))
    spark.stop()
    // Assert AFTER all outputs (incl. oracle_sql.json) are on disk so a
    // single empty query never zeroes the whole correctness dump; override
    // only for deliberate empty-edge-case runs at tiny SFs.
    val oracleVacuous = vacuous.filter(SparkEntry.oracleSql.contains)
    if (oracleVacuous.nonEmpty && !sys.env.contains("SPARK_GRAFT_ALLOW_EMPTY")) {
      System.err.println(
        s"[verify] FAIL: ${oracleVacuous.size} oracle quer${if (oracleVacuous.size == 1) "y" else "ies"} " +
        s"vacuous (empty result => trivially matching hash): ${oracleVacuous.mkString(", ")}")
      sys.exit(2)
    }
  }
}
