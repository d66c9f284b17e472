package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session; suites run in one
  * forked JVM under `Test / fork`), built with the posture the engine
  * ships ([[GraftSession]]). */
object SparkTestBase {
  lazy val spark: SparkSession = GraftSession("local[4]", 4)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
}
