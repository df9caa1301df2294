package graft

/** Every main and the suite share one session policy: a factory session
  * runs `local[cores]` with `cores` shuffle partitions, the UI off and
  * the session clock in UTC. */
class GraftSessionSpec extends SparkSuite {

  test("the factory's settings: local[cores], UI off, UTC") {
    // the suite's JVM also gets UI-off and UTC as system properties, so
    // the live session alone cannot show the factory sets them
    val s = GraftSession.settings(cores = 6, partitions = 9).toMap
    assert(s("spark.master") == "local[6]")
    assert(s("spark.sql.shuffle.partitions") == "9")
    assert(s("spark.ui.enabled") == "false")
    assert(s("spark.sql.session.timeZone") == "UTC")
  }

  test("the suite's session is a factory session: partitions = cores") {
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty, "no UI is bound")
    assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true",
      "AQE skew-join splitting is Spark's default; the factory does not set it")
  }
}
