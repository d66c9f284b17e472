package graft

/** The test suite runs under the posture the engine ships: the shared
  * session carries GraftExtensions and the pinned confs. */
class GraftSessionSpec extends SparkSpec {

  test("the shared session resolves vec_dot in SQL and pins ANSI, AQE and checkpoint cleaning") {
    val dot = spark.sql(
      "SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))").head().getDouble(0)
    assert(dot == 11.0)
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.sparkContext.getConf
      .get("spark.cleaner.referenceTracking.cleanCheckpoints") == "true")
  }
}
