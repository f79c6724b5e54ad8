package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per JVM). Four threads
  * whatever the host: the job budgets are tied to this width. */
object SparkSpec {
  lazy val spark: SparkSession = GraftSession.local(4, "graft-test")
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
}
