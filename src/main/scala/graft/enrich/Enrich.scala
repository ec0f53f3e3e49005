package graft.enrich

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.CustomerEvents._

/** Per-row enrichment operators P1-P8 (SURVEY.md §2.2), mirroring
  * reference: spark/jobs/ingest_transform.py:138-251.
  *
  * All are `DataFrame => DataFrame` column-expression combinators —
  * declarative, codegen-friendly, no UDFs, so Catalyst keeps pushdown /
  * pruning / whole-stage codegen intact across the chain.
  */
object Enrich {

  /** Late-arrival threshold, seconds (reference: ingest_transform.py:213). */
  val LateThresholdSec = 900L

  /** P1 — epoch-millis long → TimestampType, truncated to seconds exactly
    * like the reference's `from_unixtime(ms/1000)` (ingest_transform.py:
    * 167-173; deliberate parity with its second-granularity).
    */
  def millisToTimestampSecond(ms: Column): Column =
    timestamp_seconds(floor(ms / 1000.0).cast("long"))

  /** P1 exact variant — millisecond-precision conversion the reference
    * loses; preferred for new pipelines.
    */
  def millisToTimestampExact(ms: Column): Column = timestamp_millis(ms)

  def withEventTimestamps(df: DataFrame): DataFrame = df
    .withColumn("signup_timestamp", millisToTimestampSecond(col("signup_ts")))
    .withColumn("event_timestamp", millisToTimestampSecond(col("event_ts")))

  /** P3 as a CASE expression (literal parity with ingest_transform.py:
    * 182-195).
    */
  def regionExpr(country: Column): Column =
    RegionMap.foldLeft(lit("Other")) { case (acc, (c, r)) =>
      when(country === c, lit(r)).otherwise(acc)
    }

  /** The (country, region) dimension as a DataFrame — the scalable form of
    * P3: at 100 TB the dim stays tiny, so a broadcast hash join keeps the
    * fact side shuffle-free and the mapping data-driven.
    */
  def regionDim(spark: SparkSession): DataFrame = {
    import spark.implicits._
    RegionMap.toDF("country", "region")
  }

  /** P3 — region via broadcast join + coalesce('Other'); result identical
    * to [[regionExpr]].
    */
  def withRegion(df: DataFrame): DataFrame = {
    val dim = regionDim(df.sparkSession).withColumnRenamed("region", "__r")
    df.join(broadcast(dim), Seq("country"), "left")
      .withColumn("region", coalesce(col("__r"), lit("Other")))
      .drop("__r")
  }

  /** P4 — email domain (ingest_transform.py:198-201). */
  def withEmailDomain(df: DataFrame): DataFrame =
    df.withColumn("email_domain", regexp_extract(col("email"), "@(.+)", 1))

  /** P5 — customer age in days (ingest_transform.py:204-208); long for
    * oracle type parity.
    */
  def withCustomerAge(df: DataFrame): DataFrame =
    df.withColumn("customer_age_days",
      datediff(col("processing_timestamp"), col("signup_timestamp"))
        .cast("long"))

  /** P6 — schema-drift row flag (ingest_transform.py:157-162). */
  def withDriftFlag(df: DataFrame): DataFrame =
    df.withColumn("schema_drift_detected", col("version") > 1)

  /** P7 — late-arrival flag (ingest_transform.py:211-225). */
  def withLateFlag(df: DataFrame): DataFrame =
    df.withColumn("is_late_arrival",
      when(unix_timestamp(col("processing_timestamp"))
        - unix_timestamp(col("event_timestamp")) > LateThresholdSec, true)
        .otherwise(false))

  /** Q1-Q5 — row-level DQ flags (ingest_transform.py:227-251). Divergence
    * from the reference (documented): null inputs yield `false` flags, not
    * null (coalesce), so downstream conjunction and oracle compares are
    * well-defined.
    */
  def withDqFlags(df: DataFrame, asOf: Column = asOfCol): DataFrame = df
    .withColumn("dq_email_valid",
      coalesce(col("email").rlike(EmailRegex), lit(false)))
    .withColumn("dq_id_not_null", col("id").isNotNull)
    .withColumn("dq_timestamp_valid",
      coalesce(col("event_timestamp") <= asOf, lit(false)))
    .withColumn("dq_plan_valid",
      coalesce(col("plan").isin(Plans: _*), lit(false)))
    .withColumn("dq_passed",
      col("dq_email_valid") && col("dq_id_not_null")
        && col("dq_timestamp_valid") && col("dq_plan_valid"))

  /** The full curated frame — the reference job's transform chain
    * (ingest_transform.py:338-362) over the synthesized CustomerEvent
    * stream: timestamps → region → email domain → age → drift → late → DQ.
    */
  def curated(events: DataFrame): DataFrame =
    enriched(graft.CustomerEvents.synth(events))

  /** P1-P7 + Q1-Q5 in the reference order, DQ flags judged as of
    * `asOf` — the one chain the batch job ([[curated]]) and the
    * streaming leg (`EventPipeline.curate`) share.
    */
  def enriched(df: DataFrame, asOf: Column = asOfCol): DataFrame = {
    val chain =
      withEventTimestamps _ andThen withRegion andThen withEmailDomain andThen
        withCustomerAge andThen withDriftFlag andThen withLateFlag
    withDqFlags(chain(df), asOf)
  }
}
