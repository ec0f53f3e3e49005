package graft.report

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Run-report / rate aggregates A1-A3 (SURVEY.md §2.4), mirroring
  * reference: spark/jobs/ingest_transform.py:307-336 and the rate math at
  * agent/decision_agent.py:457-471.
  *
  * One wide aggregate = one scan; Catalyst gives partial (map-side) + final
  * aggregation for free, so this is a single shuffle of one row per
  * partition regardless of input size — the 100 TB-safe shape.
  */
object Reports {

  /** A1's four counts — total, late, DQ-failed, drifted — as aggregate
    * columns, the one definition every run report uses (batch, stream
    * micro-batch, per-day agent input). `count(when(cond,1))` (not sum)
    * so both engines emit BIGINT.
    */
  val runReportColumns: Seq[Column] = Seq(
    count(lit(1)).as("total_records"),
    count(when(col("is_late_arrival"), 1)).as("late_records"),
    count(when(!col("dq_passed"), 1)).as("dq_failures"),
    count(when(col("schema_drift_detected"), 1)).as("schema_drift_count"))

  /** A1 — [[runReportColumns]] over the curated frame. */
  def runReport(curated: DataFrame): DataFrame =
    curated.agg(runReportColumns.head, runReportColumns.tail: _*)

  /** A3 — late / DQ-failure rates, div-by-zero-guarded
    * (decision_agent.py:457-471), rounded for float-stable oracle compare.
    */
  def runReportWithRates(curated: DataFrame): DataFrame =
    runReport(curated).select(
      col("*"),
      when(col("total_records") > 0,
        round(col("late_records").cast("double") / col("total_records"), 6))
        .otherwise(0.0).as("late_rate"),
      when(col("total_records") > 0,
        round(col("dq_failures").cast("double") / col("total_records"), 6))
        .otherwise(0.0).as("dq_failure_rate"))
}
