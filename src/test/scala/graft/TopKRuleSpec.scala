package graft

import graft.plans.TopKWindowRewrite
import org.apache.spark.sql.DataFrame

/** The opt-in top-N-per-group whole-operator rewrite: logical node +
  * planner strategy + bounded-heap partial/final execs, as the shared
  * session's GraftExtensions install them. */
class TopKRuleSpec extends SparkSpec {
  import spark.implicits._

  private def withTopK[A](maxK: Option[Int] = None)(f: => A): A = {
    spark.conf.set(TopKWindowRewrite.EnabledConf, "true")
    maxK.foreach(m => spark.conf.set(TopKWindowRewrite.MaxKConf, m.toString))
    try f finally {
      spark.conf.unset(TopKWindowRewrite.EnabledConf)
      spark.conf.unset(TopKWindowRewrite.MaxKConf)
    }
  }

  private def fixture(): Unit =
    (0 until 5000).map(i => (s"g${i % 13}", (i * 37) % 997, i.toLong))
      .toDF("g", "v", "id").createOrReplaceTempView("tk")

  private val topSql =
    """SELECT g, v, id, rn FROM (
      |  SELECT g, v, id,
      |         row_number() OVER (PARTITION BY g ORDER BY v DESC, id) AS rn
      |  FROM tk) WHERE rn <= 3""".stripMargin

  private def physical(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
  }

  private def rows(df: DataFrame) = df.collect()
    .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getInt(3)))
    .sortBy(t => (t._1, t._4)).toSeq

  test("rewrite fires: heap execs replace the window, results identical") {
    fixture()
    val expected = rows(spark.sql(topSql)) // un-rewritten window form
    withTopK() {
      val df = spark.sql(topSql)
      val p = physical(df)
      assert(p.contains("TopKPerKeyFinal") && p.contains("TopKPerKeyPartial"),
        s"expected the heap exec pair:\n$p")
      // no WindowExec, no Sort, and no redundant built-in WindowGroupLimit
      assert(!"\\bWindow \\[".r.findFirstIn(p).isDefined &&
        !p.contains("WindowGroupLimit") && !p.contains("Sort "),
        s"window, group-limit, and every sort must be gone:\n$p")
      assert(rows(df) == expected)
      // every group carries dense ranks 1..3 (13 groups x 3)
      val got = rows(df)
      assert(got.size == 39)
      got.groupBy(_._1).values.foreach(g =>
        assert(g.map(_._4).sorted == Seq(1, 2, 3)))
    }
  }

  test("partial prune runs below the exchange") {
    fixture()
    withTopK() {
      val p = physical(spark.sql(topSql))
      // the partial exec must appear on the map side: its plan line sits
      // BELOW the exchange that clusters on g
      val partialIdx = p.indexOf("TopKPerKeyPartial")
      val exchangeIdx = p.indexOf("Exchange hashpartitioning(g")
      assert(partialIdx > exchangeIdx && exchangeIdx >= 0,
        s"partial prune must sit under the key exchange:\n$p")
    }
  }

  test("residual conjuncts survive; rn = k keeps the exact-match filter") {
    fixture()
    val conjSql =
      """SELECT g, v, id, rn FROM (
        |  SELECT g, v, id,
        |         row_number() OVER (PARTITION BY g ORDER BY v DESC, id) AS rn
        |  FROM tk) WHERE rn <= 4 AND v % 2 = 0""".stripMargin
    val eqSql =
      """SELECT g, v, id, rn FROM (
        |  SELECT g, v, id,
        |         row_number() OVER (PARTITION BY g ORDER BY v DESC, id) AS rn
        |  FROM tk) WHERE rn = 2""".stripMargin
    val expectedConj = rows(spark.sql(conjSql))
    val expectedEq = rows(spark.sql(eqSql))
    withTopK() {
      val dfc = spark.sql(conjSql)
      assert(physical(dfc).contains("TopKPerKeyFinal"))
      assert(rows(dfc) == expectedConj)
      val dfe = spark.sql(eqSql)
      assert(physical(dfe).contains("TopKPerKeyFinal"))
      val got = rows(dfe)
      assert(got == expectedEq && got.forall(_._4 == 2) && got.size == 13)
    }
  }

  test("k larger than the group emits the whole group, ranked") {
    Seq(("a", 1), ("a", 2), ("b", 5)).toDF("g", "v")
      .createOrReplaceTempView("tiny")
    withTopK() {
      val df = spark.sql(
        """SELECT g, v, rn FROM (SELECT g, v, row_number() OVER
          |  (PARTITION BY g ORDER BY v) AS rn FROM tiny) WHERE rn <= 10""".stripMargin)
      assert(physical(df).contains("TopKPerKeyFinal"))
      val got = df.collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
      assert(got == Set(("a", 1, 1), ("a", 2, 2), ("b", 5, 1)))
    }
  }

  test("guards: conf off, k over maxK, and non-row_number windows never rewrite") {
    fixture()
    // conf off
    assert(physical(spark.sql(topSql)).contains("Window"))
    withTopK(maxK = Some(2)) {
      // k = 3 exceeds maxK = 2
      assert(physical(spark.sql(topSql)).contains("Window"))
      // rank() is not row_number: no rewrite
      val rk = spark.sql(
        """SELECT * FROM (SELECT g, v, rank() OVER
          |  (PARTITION BY g ORDER BY v) AS rn FROM tk) WHERE rn <= 2""".stripMargin)
      assert(physical(rk).contains("Window"))
    }
  }

  test("invariant under input partitioning") {
    fixture()
    withTopK() {
      val a = rows(spark.sql(topSql))
      (0 until 3).foreach { _ => assert(rows(spark.sql(topSql)) == a) }
      val repart = spark.table("tk").repartition(17)
      repart.createOrReplaceTempView("tk17")
      val b = rows(spark.sql(topSql.replace("FROM tk", "FROM tk17")))
      assert(a == b)
    }
  }
}
