package graft

import graft.plans.RangeJoinRewrite
import org.apache.spark.sql.functions._

/** The SQL-facing range-join rewrite, as the shared session's
  * GraftExtensions install it. */
class RangeJoinRuleSpec extends SparkSpec {
  import spark.implicits._

  private def withRule[A](width: Long)(f: => A): A = {
    spark.conf.set(RangeJoinRewrite.WidthConf, width.toString)
    try f finally spark.conf.unset(RangeJoinRewrite.WidthConf)
  }

  private def fixture(): Unit = {
    val rnd = new scala.util.Random(11)
    (0 until 500).map(i => (i.toLong, rnd.nextInt(2000).toLong))
      .toDF("pid", "t").createOrReplaceTempView("pts")
    (0 until 60).map { i =>
      val lo = rnd.nextInt(2000).toLong; (1000L + i, lo, lo + rnd.nextInt(150))
    }.toDF("iid", "lo", "hi").createOrReplaceTempView("ivs")
  }

  test("SQL BETWEEN join rewrites to an equi join with identical results") {
    fixture()
    val sql = """SELECT pid, iid FROM pts JOIN ivs
                 ON pts.t >= ivs.lo AND pts.t <= ivs.hi"""
    val naive = spark.sql(sql).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val naivePlan = spark.sql(sql).queryExecution.executedPlan.toString
    assert(naivePlan.contains("BroadcastNestedLoopJoin"),
      "without the rule, Spark must nested-loop this join (test premise)")
    withRule(64) {
      val df = spark.sql(sql)
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == naive)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"rule did not fire:\n$plan")
      assert(plan.contains("__graft_pbucket") || plan.contains("HashJoin")
        || plan.contains("SortMergeJoin"), s"expected bucket equi join:\n$plan")
    }
  }

  test("BETWEEN syntax and flipped comparisons rewrite too") {
    fixture()
    withRule(32) {
      for (sql <- Seq(
        "SELECT pid, iid FROM pts JOIN ivs ON pts.t BETWEEN ivs.lo AND ivs.hi",
        "SELECT pid, iid FROM pts JOIN ivs ON ivs.lo <= pts.t AND ivs.hi >= pts.t")) {
        val df = spark.sql(sql)
        assert(!df.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"),
          s"rule did not fire for: $sql")
        assert(df.count() > 0)
      }
    }
  }

  test("joins with an equality conjunct are left alone") {
    fixture()
    withRule(64) {
      val df = spark.sql(
        """SELECT pid, iid FROM pts JOIN ivs
           ON pts.pid = ivs.iid - 1000 AND pts.t >= ivs.lo AND pts.t <= ivs.hi""")
      val plan = df.queryExecution.optimizedPlan.toString
      assert(!plan.contains("__graft_pbucket"), s"must not rewrite keyed joins:\n$plan")
      df.collect()
    }
  }

  test("rule off (no conf) leaves the plan untouched") {
    fixture()
    val plan = spark.sql(
      "SELECT pid, iid FROM pts JOIN ivs ON pts.t BETWEEN ivs.lo AND ivs.hi")
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("__graft_pbucket"))
  }

  test("results match the operator form on the same data") {
    fixture()
    withRule(64) {
      val viaSql = spark.sql(
        """SELECT pid, iid FROM pts JOIN ivs
           ON pts.t >= ivs.lo AND pts.t <= ivs.hi""")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val viaOp = graft.operators.RangeJoin.pointInInterval(
        spark.table("pts"), "t", spark.table("ivs"), "lo", "hi", 64L)
        .select("pid", "iid").as[(Long, Long)].collect().toSet
      assert(viaSql == viaOp)
    }
  }
}
