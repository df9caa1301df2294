package graft

import org.apache.spark.sql.SparkSession

/** The one session policy of every main and of the test suite:
  * `local[cores]`, `cores` shuffle partitions unless a caller sizes them
  * from its input, the Spark UI off and the session clock in UTC (the
  * oracle's clock). AQE skew-join splitting is not set here: it is on
  * by default in Spark 4.1 and splits hot LSH band buckets at runtime.
  * `forceOptimizeSkewedJoin` stays at its default, off: forcing inserts
  * extra shuffles even where the plan must re-exchange, defeats
  * ReusedExchange across the banded self-joins, and measured
  * doc_ngram_jaccard 2.65 s -> 4.41 s on unchanged query code. */
object GraftSession {

  /** `SPARK_GRAFT_CPUS` when set, else the caller's own default. */
  def cores(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(default)

  /** Exactly the settings a factory session is built with. */
  private[graft] def settings(cores: Int, partitions: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.app.name" -> "wingfoilspark",
    "spark.sql.shuffle.partitions" -> partitions.toString,
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC")

  def apply(cores: Int, logLevel: String): SparkSession = build(cores, cores, logLevel)

  /** A session for a main that reads registry tables from `sfDir`: its
    * shuffle partitions are [[partitionsFor]] the input. */
  def forSf(sfDir: String, cores: Int, logLevel: String): SparkSession =
    build(cores, partitionsFor(sfDir, cores), logLevel)

  private def build(cores: Int, partitions: Int, logLevel: String): SparkSession = {
    val spark = settings(cores, partitions)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** `max(cores, min(1024, ⌈bytes/32 MiB⌉))` over the regular files under
    * `sfDir`. Partitions grow with the input so each sort and aggregate
    * partition fits the executor's memory: at the 1000× GenScale decade
    * (6.7M docs) the minhash pipeline spent 37.5 s in GC at 32
    * partitions and 31.1 s at 256 (608 s to 569 s wall). Every bench SF
    * (sf0.1 is 17 MB) gets `cores`. `Files.walk` does not follow
    * directory symlinks, and any walk failure counts as 0 bytes. */
  private[graft] def partitionsFor(sfDir: String, cores: Int): Int = {
    val bytes =
      try {
        val s = java.nio.file.Files.walk(java.nio.file.Paths.get(sfDir))
        try s.filter(java.nio.file.Files.isRegularFile(_))
          .mapToLong(java.nio.file.Files.size(_)).sum()
        finally s.close()
      } catch { case _: Exception => 0L }
    math.max(cores.toLong, math.min(1024L, (bytes + (32L << 20) - 1) / (32L << 20))).toInt
  }
}
