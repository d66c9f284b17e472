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

  /** Ids of the persisted RDDs `f` left behind. Ids only leave the set
    * while `f` runs when the context cleaner reclaims an earlier test's
    * RDD, so a leak shows as an id present after `f` that was absent
    * before it. */
  def leakedBlocks(f: => Any): Set[Int] = {
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = persisted
    f
    persisted -- before
  }
}
