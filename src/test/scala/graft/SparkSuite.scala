package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkSuite {
  lazy val spark: SparkSession = GraftSession(4, "ERROR")
}

/** One shared session across suites (sbt forks one JVM for Test). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.spark
}
