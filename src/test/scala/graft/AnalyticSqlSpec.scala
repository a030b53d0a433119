package graft

import graft.rules.{AnalyticSql, Rule, RuleEngine}
import graft.sinks.MemorySink
import graft.sources.MemoryHub
import java.nio.file.Files

/** The analytic-function SQL rewrite (rules/AnalyticSql.scala):
  * eKuiper rule SQL calling lag/latest/changed_col/had_changed/acc_*
  * (funcs_analytic.go, funcs_acc.go), with OVER (PARTITION BY ...
  * WHEN ...) grammar (xsql/parser.go parseOver), executed as Spark
  * window expressions. Expected values hand-traced from the reference
  * exec functions' state machines.
  */
class AnalyticSqlSpec extends SparkSuite {

  import spark.implicits._

  // (ts, dev, v, flag) — v has nulls, flag gates WHEN tests
  private lazy val view: String = {
    val rows = Seq(
      (1L, "a", Some(10L), true),
      (2L, "a", None, true),
      (3L, "a", Some(30L), false),
      (4L, "b", Some(5L), true),
      (5L, "a", Some(30L), true),
      (6L, "b", None, true))
    rows.toDF("ts", "dev", "v", "flag").createOrReplaceTempView("adem")
    "adem"
  }

  private def run(sql: String): Seq[org.apache.spark.sql.Row] =
    spark.sql(AnalyticSql.rewrite(sql, "ts")).orderBy("ts").collect().toSeq

  private def longs(sql: String, col: String): Seq[Option[Long]] =
    run(sql).map(r => Option(r.getAs[Any](col)).map(_.toString.toDouble.toLong))

  test("latest: last non-null value so far, with default and partition") {
    val v = view
    assert(longs(s"SELECT ts, latest(v) AS l FROM $v", "l") ==
      Seq(Some(10L), Some(10L), Some(30L), Some(5L), Some(30L), Some(30L)))
    // default arg fills the no-state-yet prefix
    assert(longs(s"SELECT ts, latest(v, -1) AS l FROM $v WHERE ts <= 2", "l") ==
      Seq(Some(10L), Some(10L)))
    assert(longs(s"SELECT ts, latest(v) OVER (PARTITION BY dev) AS l FROM $v", "l") ==
      Seq(Some(10L), Some(10L), Some(30L), Some(5L), Some(30L), Some(5L)))
  }

  test("latest with WHEN gate only updates on valid rows") {
    // ts=3 (flag=false, v=30) must not update state for dev a
    assert(longs(s"SELECT ts, latest(v) OVER (PARTITION BY dev WHEN flag) AS l FROM $view", "l") ==
      Seq(Some(10L), Some(10L), Some(10L), Some(5L), Some(30L), Some(5L)))
  }

  test("acc_sum/acc_count: running aggregates, zero before first value") {
    val v = view
    assert(longs(s"SELECT ts, acc_sum(v) OVER (PARTITION BY dev) AS s FROM $v", "s") ==
      Seq(Some(10L), Some(10L), Some(40L), Some(5L), Some(70L), Some(5L)))
    assert(longs(s"SELECT ts, acc_count(v) OVER (PARTITION BY dev) AS c FROM $v", "c") ==
      Seq(Some(1L), Some(1L), Some(2L), Some(1L), Some(3L), Some(1L)))
    // global WHEN-gated running sum: 10, 10, 10 (gated out), 15, 45, 45
    assert(longs(s"SELECT ts, acc_sum(v) OVER (WHEN flag) AS s FROM $v", "s") ==
      Seq(Some(10L), Some(10L), Some(10L), Some(15L), Some(45L), Some(45L)))
    // acc_max on an empty-so-far prefix returns 0, not null
    assert(longs(s"SELECT ts, acc_max(v) OVER (WHEN false) AS m FROM $v WHERE ts = 1", "m") ==
      Seq(Some(0L)))
  }

  test("lag: ring of non-null values by default; respect-nulls form") {
    val v = view
    // ignoreNull=true (default): null rows return the peek, don't shift
    assert(longs(s"SELECT ts, lag(v) AS p FROM $v", "p") ==
      Seq(None, Some(10L), Some(10L), Some(30L), Some(5L), Some(30L)))
    // explicit size + default
    assert(longs(s"SELECT ts, lag(v, 2, -7) AS p FROM $v", "p") ==
      Seq(Some(-7L), Some(-7L), Some(-7L), Some(10L), Some(30L), Some(5L)))
    // ignoreNull=false: nulls enter the ring
    assert(longs(s"SELECT ts, lag(v, 1, -7, false) AS p FROM $v", "p") ==
      Seq(Some(-7L), Some(10L), None, Some(30L), Some(5L), Some(30L)))
    // Spark-form lag (OVER with ORDER BY) is left for Spark to plan
    assert(longs(s"SELECT ts, lag(v) OVER (ORDER BY ts) AS p FROM $v", "p") ==
      Seq(None, Some(10L), None, Some(30L), Some(5L), Some(30L)))
  }

  test("changed_col emits the value only when it differs from last state") {
    val v = view
    assert(longs(s"SELECT ts, changed_col(true, v) AS c FROM $v", "c") ==
      Seq(Some(10L), None, Some(30L), Some(5L), Some(30L), None))
    // per-device: a sees 10,-,30,30(dup -> null); b sees 5, null
    assert(longs(s"SELECT ts, changed_col(true, v) OVER (PARTITION BY dev) AS c FROM $v", "c") ==
      Seq(Some(10L), None, Some(30L), Some(5L), None, None))
  }

  test("had_changed across multiple columns") {
    val out = run(s"SELECT ts, had_changed(true, dev, v) AS h FROM $view")
      .map(r => Option(r.getAs[Any]("h")).map(_.asInstanceOf[Boolean]))
    // ts1: first -> true; ts2: v null skipped, dev same -> false;
    // ts3: v 30 changed -> true; ts4: dev b changed, v 5 changed -> true;
    // ts5: dev changed back to a, v 30 changed -> true; ts6: dev b changed -> true
    assert(out == Seq(Some(true), Some(false), Some(true), Some(true), Some(true), Some(true)))
  }

  test("analytic calls work in WHERE via the pre-projection") {
    // the reference pre-projects $$a columns before the WHERE
    // (function.go AnalyticPrefix); emit rows whose value changed
    val out = run(s"SELECT ts, v FROM $view WHERE changed_col(true, v) IS NOT NULL")
      .map(_.getLong(0))
    assert(out == Seq(1L, 3L, 4L, 5L))
  }

  test("rewrite is a no-op without analytic calls; rejects unsupported shapes") {
    assert(AnalyticSql.rewrite("SELECT a FROM t WHERE b > 1", "ts") ==
      "SELECT a FROM t WHERE b > 1")
    // literals containing function names don't trigger
    assert(!AnalyticSql.hasAnalytic("SELECT 'latest(x)' AS s FROM t"))
    intercept[IllegalArgumentException](
      AnalyticSql.rewrite("SELECT latest(v) FROM a JOIN b ON a.k = b.k", "ts"))
    intercept[IllegalArgumentException](
      AnalyticSql.rewrite("SELECT latest(lag(v)) FROM t", "ts"))
    intercept[IllegalArgumentException](
      AnalyticSql.rewrite("SELECT acc_sum(v, b, r) FROM t", "ts"))
  }

  test("batch rule through the engine: analytic SQL end to end") {
    val dir = tempDir("graft_analytic_rule")
    Files.write(dir.resolve("part-0.json"), Seq(
      """{"device":"d1","temp":50,"ts":1}""",
      """{"device":"d1","temp":50,"ts":2}""",
      """{"device":"d1","temp":80,"ts":3}""",
      """{"device":"d2","temp":10,"ts":4}""").mkString("\n").getBytes("UTF-8"))
    val eng = new RuleEngine(spark)
    eng.createStream(
      s"""CREATE STREAM sens (device STRING, temp BIGINT, ts BIGINT) WITH
         | (TYPE="file", FORMAT="json", DATASOURCE="${dir.toString}", TIMESTAMP="ts")""".stripMargin)
    MemoryHub.drop("analytic_out")
    eng.create(Rule("ar1",
      """SELECT ts, changed_col(true, temp) OVER (PARTITION BY device) AS chg,
        | acc_avg(temp) OVER (PARTITION BY device) AS ravg FROM sens""".stripMargin,
      Seq(MemorySink("analytic_out"))))
    eng.start("ar1")
    val out = MemoryHub.frame(spark, "analytic_out").orderBy("ts").collect()
    assert(out.map(r => Option(r.getAs[Any]("chg"))).toSeq ==
      Seq(Some(50L), None, Some(80L), Some(10L)))
    assert(out.map(_.getAs[Double]("ravg")).toSeq == Seq(50.0, 50.0, 60.0, 10.0))
    // streaming rules must point at the typed operators instead
    eng.create(Rule("ar2", "SELECT latest(temp) AS l FROM sens",
      Seq(MemorySink("analytic_out2")), streaming = true))
    val err = intercept[IllegalArgumentException](eng.start("ar2"))
    assert(err.getMessage.contains("AnalyticStream"))
  }
}
