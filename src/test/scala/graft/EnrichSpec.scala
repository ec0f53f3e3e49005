package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  // same session factory and process-level tuning as the entry points
  // (SessionTuning): the specs exercise the same operators, and the
  // tmpfs shuffle dir + serialized shuffle writer cut the full suite's
  // wall clock
  lazy val spark: SparkSession = SessionTuning.session(cores = 4)
  val Sf0001 = "/root/testdata/sf0.001"
}

/** Port of the reference's planted-failure DQ fixture
  * (reference: tests/test_dq.py:20-49 — 5 rows, exactly one failure per
  * rule, per-rule success rate 0.8) plus enrichment invariants.
  */
class EnrichSpec extends AnyFunSuite {
  import SparkTestSession._
  import graft.enrich.Enrich

  private lazy val planted = {
    import spark.implicits._
    // (id, email, signup, event, country, plan)
    Seq(
      ("cust_001", "john@example.com", "2023-01-01", "2024-01-15", "US", "free"),
      ("cust_002", "jane@example.com", "2023-06-15", "2024-01-15", "CA", "premium"),
      ("cust_003", "invalid-email", "2023-12-01", "2024-01-15", "INVALID", "invalid_plan"),
      ("cust_004", "alice@example.com", "2025-01-01", "2024-01-15", "GB", "basic"),
      ("cust_005", "charlie@example.com", "2023-08-20", "2023-05-01", "US", "enterprise"))
      .toDF("id", "email", "signup_d", "event_d", "country", "plan")
      .withColumn("signup_timestamp", to_timestamp(col("signup_d")))
      .withColumn("event_timestamp", to_timestamp(col("event_d")))
  }

  test("planted DQ fixture: one failure per rule, 0.8 success each") {
    val flagged = Enrich.withDqFlags(planted, to_timestamp(lit("2024-02-01 00:00:00")))
    val r = flagged.agg(
      count(when(col("dq_email_valid"), 1)).as("email_ok"),
      count(when(col("dq_plan_valid"), 1)).as("plan_ok"),
      count(when(col("event_timestamp") >= col("signup_timestamp"), 1)).as("order_ok"),
      count(when(col("dq_id_not_null"), 1)).as("id_ok")).head()
    assert(r.getLong(0) == 4) // cust_003 invalid email
    assert(r.getLong(1) == 4) // cust_003 invalid plan
    // cust_005 event < signup AND cust_004 future signup > event
    assert(r.getLong(2) == 3)
    assert(r.getLong(3) == 5) // ids all present
  }

  test("region broadcast join equals region CASE expression") {
    val ce = CustomerEvents.synth(Tables(spark, Sf0001).events)
    val joined = Enrich.withRegion(ce).select(col("event_id"), col("region"))
    val cased = ce.select(col("event_id"),
      Enrich.regionExpr(col("country")).as("region"))
    assert(joined.exceptAll(cased).isEmpty && cased.exceptAll(joined).isEmpty)
  }

  test("late flag matches the backdate injections (minus future rows)") {
    val cur = Enrich.curated(Tables(spark, Sf0001).events)
    val n = cur.filter(col("is_late_arrival")).count()
    // backdated 1-21h (%20) or stale 26h (%103), unless overridden by
    // the future injector (%61)
    val expected = cur.filter(
      (col("event_id") % 20 === 0 || col("event_id") % 103 === 0)
        && !(col("event_id") % 61 === 0)).count()
    assert(n == expected && n > 0)
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query has an oracle and runs on sf0.001") {
    // strict BOTH ways: a query without an oracle silently downgrades
    // to a rows-only check in the driver, and an oracle without a
    // query is dead SQL nobody verifies
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet,
      s"""queries/oracle key mismatch.
         |query without oracle: ${
        (SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet).toSeq.sorted}
         |oracle without query: ${
        (SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet).toSeq.sorted}""".stripMargin)
    SparkEntry.queries.foreach { case (name, fn) =>
      assert(fn(spark, Sf0001).count() >= 0, name)
    }
  }
}
