package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dq._

/** DQ engine over the reference's planted-failure fixture
  * (tests/test_dq.py:20-49) extended with name/version columns.
  */
class DqSpec extends AnyFunSuite {
  import SparkTestSession._

  private lazy val planted = {
    import spark.implicits._
    Seq(
      ("cust_001", "john@example.com", "2023-01-01", "2024-01-15", "US", "free"),
      ("cust_002", "jane@example.com", "2023-06-15", "2024-01-15", "CA", "premium"),
      ("cust_003", "invalid-email", "2023-12-01", "2024-01-15", "INVALID", "invalid_plan"),
      ("cust_004", "alice@example.com", "2025-01-01", "2024-01-15", "GB", "basic"),
      ("cust_005", "charlie@example.com", "2023-08-20", "2023-05-01", "US", "enterprise"))
      .toDF("id", "email", "signup_d", "event_d", "country", "plan")
      .withColumn("signup_timestamp", to_timestamp(col("signup_d")))
      .withColumn("event_timestamp", to_timestamp(col("event_d")))
      .withColumn("name", concat(lit("n_"), col("id")))
      .withColumn("version", lit(1))
      // arrival == event time: every row is fresh w.r.t. the E12 24 h
      // lower bound (processing_timestamp - 24h <= event_timestamp)
      .withColumn("processing_timestamp", to_timestamp(col("event_d")))
  }

  private lazy val results =
    DqSuite.evaluate(planted, DqSuite.customersSuite).cache()

  test("per-expectation failures match the planted fixture") {
    val byIdx = results.collect()
      .map(r => r.getAs[Long]("exp_idx") -> r).toMap
    def failed(i: Int) = byIdx(i.toLong).getAs[Long]("n_failed")
    assert(failed(2) == 0)  // id not_null
    assert(failed(3) == 0)  // id unique
    assert(failed(6) == 1)  // email regex: cust_003
    assert(failed(7) == 1)  // plan in set: cust_003
    assert(failed(9) == 0)  // signup >= 2020
    assert(failed(11) == 2) // pair: cust_004 (future signup), cust_005
    assert(failed(12) == 0) // freshness vs asOf 2024-02-01
    assert(failed(13) == 1) // country set: INVALID
    assert(failed(14) == 0) // name not_null
    assert(failed(15) == 0) // version in [1,10]
    // schema expectations pass on this frame
    assert(failed(1) == 0 && failed(4) == 0 && failed(8) == 0 && failed(10) == 0)
  }

  test("per-rule success rate is 0.8 on planted rules") {
    val rates = results.collect()
      .map(r => r.getAs[Long]("exp_idx") -> r.getAs[Double]("success_rate"))
      .toMap
    assert(rates(6L) == 0.8 && rates(7L) == 0.8 && rates(13L) == 0.8)
  }

  test("suite summary counts and banding") {
    val s = DqSuite.summarize(results).head()
    assert(s.getAs[Long]("evaluated_expectations") == 15)
    assert(s.getAs[Long]("unsuccessful_expectations") == 4)
    // 4/15 ≈ 26.7% > 5% => critical, and > 10% hard-fail gate
    assert(s.getAs[String]("band") == "critical")
    assert(s.getAs[Boolean]("hard_fail"))
  }

  test("verdict over failed counts equals summarize over the result rows") {
    import spark.implicits._
    // suite sizes with repeating (1/7, 2/3), exact (1/16) and half-way
    // (1/128 = 0.0078125, where half-up and half-even differ) rates,
    // around the hard-fail gate (1/10 not above it, 2/15 above), plus
    // random failure vectors
    val rnd = new scala.util.Random(7)
    val cases: Seq[Seq[Long]] =
      Seq((7, 1), (3, 2), (16, 1), (128, 1), (128, 3), (10, 1), (15, 2),
          (15, 0), (15, 15)).map { case (n, k) =>
        Seq.tabulate(n)(i => if (i < k) (i + 1).toLong else 0L)
      } ++ Seq.fill(20)(Seq.fill(1 + rnd.nextInt(40))(
        if (rnd.nextInt(4) == 0) rnd.nextInt(9).toLong + 1 else 0L))
    cases.foreach { failed =>
      val s = DqSuite.summarize(failed.toDF("n_failed")
        .withColumn("success", col("n_failed") === 0)).head()
      val v = DqSuite.verdict(failed)
      val want = DqSuite.Verdict(s.getAs[Long]("evaluated_expectations"),
        s.getAs[Long]("unsuccessful_expectations"),
        s.getAs[Double]("failure_rate"), s.getAs[Boolean]("hard_fail"))
      assert(v == want, s"failed counts $failed")
    }
  }

  test("banding thresholds match reference test cases (test_dq.py:310-333)") {
    import spark.implicits._
    val got = Seq(0.005, 0.03, 0.15).toDF("rate")
      .select(DqSuite.bandExpr(col("rate")).as("band"))
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("acceptable", "warning", "critical"))
  }

  test("missing column fails schema expectations, not row expectations") {
    val r = DqSuite.evaluate(planted.drop("name"),
      Seq(ColumnExists("name"), ColumnExists("id")))
      .collect().map(r => r.getAs[String]("column_name")
        -> r.getAs[Boolean]("success")).toMap
    assert(!r("name") && r("id"))
  }

  test("E12 lower bound catches a stale (25 h old) event") {
    // same rows, but every event arrived 25 h after its event time —
    // past-but-stale data must now fail E12 (it passed pre-lower-bound)
    val stale = planted.withColumn("processing_timestamp",
      col("event_timestamp") + expr("INTERVAL 25 HOURS"))
    val r12 = DqSuite.evaluate(stale, DqSuite.customersSuite)
      .filter(col("exp_idx") === 12).head()
    assert(r12.getAs[Long]("n_failed") == 5)
    assert(!r12.getAs[Boolean]("success"))
  }

  test("alias layer: business-named suite ≡ technical suite (dq_rules.yml:74-83)") {
    val base = results.collect()
      .map(r => r.getAs[Long]("exp_idx") ->
        (r.getAs[Long]("n_evaluated"), r.getAs[Long]("n_failed"))).toMap
    val aliased = DqSuite.evaluate(
      DqSuite.withAliases(planted, DqSuite.FieldMappings),
      DqSuite.customersBusinessSuite).collect()
    assert(aliased.length == base.size)
    aliased.foreach { r =>
      val i = r.getAs[Long]("exp_idx")
      assert((r.getAs[Long]("n_evaluated"), r.getAs[Long]("n_failed"))
        == base(i), s"exp $i")
    }
    // result rows surface business names
    val names = aliased.map(_.getAs[String]("column_name")).toSet
    assert(names.contains("customer_id") && names.contains("customer_email"))
    assert(!names.contains("id") && !names.contains("email"))
  }

  test("dimension scores cover all five dimensions") {
    val dims = DqSuite.dimensionScores(results)
      .collect().map(_.getString(0)).toSet
    assert(dims == Set("completeness", "validity", "consistency",
      "timeliness", "uniqueness"))
  }

  test("profiler counts nulls/distincts/bounds per column in one pass") {
    import SparkTestSession.spark.implicits._
    val df = Seq(
      (1L, Some("a")), (2L, Some("b")), (3L, None), (4L, Some("a")))
      .toDF("id", "tag")
    val p = Profiler.profile(df).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(p("id").getAs[Long]("n_rows") == 4)
    assert(p("id").getAs[Long]("n_nulls") == 0)
    assert(p("id").getAs[Long]("n_distinct") == 4)
    assert(p("id").getAs[String]("min_value") == "1")
    assert(p("id").getAs[String]("max_value") == "4")
    assert(p("tag").getAs[Long]("n_nulls") == 1)
    assert(p("tag").getAs[Long]("n_distinct") == 2) // nulls not counted
    assert(p("tag").getAs[String]("max_value") == "b")
  }

  test("approx profile tracks the exact one within HLL error") {
    val docs = Tables(SparkTestSession.spark,
      SparkTestSession.Sf0001).documents
    val exact = Profiler.profile(docs).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_distinct")).toMap
    val approx = Profiler.profileApprox(docs).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_distinct")).toMap
    exact.foreach { case (c, n) =>
      assert(math.abs(approx(c) - n) <= math.max(2L, (n * 0.15).toLong),
        s"column $c: exact=$n approx=${approx(c)}")
    }
    // the approx plan must stay Expand-free (map-side-combinable)
    val plan = Profiler.profileApprox(docs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), plan.take(1500))
  }
}
