package graft

import graft.plans.ApproxDistinctRewrite
import org.apache.spark.sql.functions._

/** The opt-in COUNT(DISTINCT) -> HLL++ downgrade, as the shared session's
  * GraftExtensions install it. */
class ApproxDistinctRuleSpec extends SparkSpec {
  import spark.implicits._

  private def withRule[A](rsd: String)(f: => A): A = {
    spark.conf.set(ApproxDistinctRewrite.RsdConf, rsd)
    try f finally spark.conf.unset(ApproxDistinctRewrite.RsdConf)
  }

  private def fixture(): Unit =
    (0 until 20000).map(i => (i % 7L, s"u${i % 4211}"))
      .toDF("g", "u").createOrReplaceTempView("hits")

  test("rewrite fires: HLL++ plan, estimate within rsd-range of exact") {
    fixture()
    val sql = "SELECT g, count(DISTINCT u) AS d FROM hits GROUP BY g"
    val exact = spark.sql(sql).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    withRule("0.02") {
      val df = spark.sql(sql)
      val plan = df.queryExecution.optimizedPlan.toString
      assert(plan.contains("approx_count_distinct") || plan.contains("hyperloglog"),
        s"rewritten plan must aggregate via HLL++:\n$plan")
      // schema unchanged: same column name, still BIGINT
      assert(df.schema.fieldNames.toSeq == Seq("g", "d"))
      assert(df.schema("d").dataType.typeName == "long")
      val approx = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      exact.foreach { case (g, n) =>
        assert(math.abs(approx(g) - n) <= math.max(3, (n * 0.1).toLong),
          s"group $g: approx ${approx(g)} vs exact $n")
      }
    }
  }

  test("off by default, off on malformed conf, exact plans untouched") {
    fixture()
    val sql = "SELECT count(DISTINCT u) AS d FROM hits"
    val exact = spark.sql(sql).collect().head.getLong(0)
    assert(exact == 4211)
    // malformed conf: rule registered but must disable itself, not throw
    withRule("not-a-number") {
      assert(spark.sql(sql).collect().head.getLong(0) == 4211)
    }
    withRule("0") { // zero = off by contract
      assert(spark.sql(sql).collect().head.getLong(0) == 4211)
    }
  }

  test("multi-column distinct and FILTER survive untouched/correct") {
    fixture()
    withRule("0.02") {
      // multi-arg distinct is not HLL-expressible: stays exact
      val multi = spark.sql(
        "SELECT count(DISTINCT g, u) AS d FROM hits").collect().head.getLong(0)
      assert(multi == spark.sql(
        "SELECT count(*) FROM (SELECT DISTINCT g, u FROM hits)")
        .collect().head.getLong(0))
      // FILTER clause is preserved on the rewritten aggregate
      val f = spark.sql(
        "SELECT count(DISTINCT u) FILTER (WHERE g = 0) AS d FROM hits")
        .collect().head.getLong(0)
      assert(math.abs(f - 2858) <= 300) // exactly 2858 distinct u at g = 0
    }
  }
}
