package graft.dq

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType, TimestampType}

import graft.CustomerEvents.{AsOfSql, asOfCol, Countries, EmailRegex, Plans}

/** Declarative data-quality engine (SURVEY.md §2.3) — the Great-Expectations
  * suite surface of the reference
  * (dq/expectations/customers_expectation_suite.json, result shape at
  * airflow/dags/pipeline_dag.py:183-204) evaluated natively in Spark.
  *
  * Design: each [[Expectation]] compiles to two aggregate Columns
  * (evaluated-count, failed-count) so an entire suite is ONE wide
  * aggregate = one scan over the data; Catalyst supplies map-side partial
  * aggregation, so at 100 TB this shuffles a single row per partition.
  * Each expectation also renders the identical DuckDB SQL aggregate pair,
  * making every suite query oracle-verifiable.
  *
  * GE semantics preserved: row expectations evaluate over non-null values
  * (NotNull over all rows); `success` = zero unexpected values; schema
  * expectations (ColumnExists/OfType) evaluate the schema, not rows.
  */
sealed trait Expectation {
  /** GE expectation_type string, verbatim. */
  def name: String
  def column: String
  /** (evaluatedCount, failedCount) Spark aggregate expressions. */
  def sparkAgg: (Column, Column)
  /** (evaluatedCount, failedCount) DuckDB aggregate SQL over the frame. */
  def sqlAgg: (String, String)
}

/** Row-level expectation evaluated over non-null values of `column`. */
sealed trait RowExpectation extends Expectation {
  /** Predicate true when a non-null value is UNEXPECTED. */
  def unexpected: Column
  def unexpectedSql: String
  def sparkAgg: (Column, Column) = (
    count(col(column)),
    count(when(col(column).isNotNull && unexpected, 1)))
  def sqlAgg: (String, String) = (
    s"count($column)",
    s"count(CASE WHEN $column IS NOT NULL AND ($unexpectedSql) THEN 1 END)")
}

case class NotNull(column: String) extends Expectation {
  val name = "expect_column_values_to_not_be_null"
  def sparkAgg = (count(lit(1)), count(when(col(column).isNull, 1)))
  def sqlAgg = ("count(*)", s"count(CASE WHEN $column IS NULL THEN 1 END)")
}

case class Unique(column: String) extends Expectation {
  val name = "expect_column_values_to_be_unique"
  def sparkAgg = (count(col(column)),
    count(col(column)) - countDistinct(col(column)))
  def sqlAgg = (s"count($column)",
    s"count($column) - count(DISTINCT $column)")
}

case class MatchRegex(column: String, regex: String, regexSql: String)
    extends RowExpectation {
  val name = "expect_column_values_to_match_regex"
  def unexpected = !col(column).rlike(regex)
  def unexpectedSql = s"NOT regexp_matches($column, '$regexSql')"
}

case class InSet(column: String, values: Seq[String])
    extends RowExpectation {
  val name = "expect_column_values_to_be_in_set"
  def unexpected = !col(column).isin(values: _*)
  def unexpectedSql =
    s"$column NOT IN (${values.map(v => s"'$v'").mkString(", ")})"
}

/** Bounds as (Spark Column, DuckDB literal) pairs; either side optional. */
case class Between(column: String,
    lower: Option[(Column, String)], upper: Option[(Column, String)])
    extends RowExpectation {
  val name = "expect_column_values_to_be_between"
  def unexpected = {
    val lo = lower.map(col(column) < _._1)
    val hi = upper.map(col(column) > _._1)
    (lo.toSeq ++ hi.toSeq).reduceOption(_ || _).getOrElse(lit(false))
  }
  def unexpectedSql = {
    val cs = lower.map(b => s"$column < ${b._2}").toSeq ++
      upper.map(b => s"$column > ${b._2}").toSeq
    if (cs.isEmpty) "false" else cs.mkString(" OR ")
  }
}

/** Pair expectation A >= B, evaluated where both sides non-null. */
case class PairGeq(column: String, other: String) extends Expectation {
  val name = "expect_column_pair_values_A_to_be_greater_than_or_equal_to_B"
  def sparkAgg = (
    count(when(col(column).isNotNull && col(other).isNotNull, 1)),
    count(when(col(column) < col(other), 1)))
  def sqlAgg = (
    s"count(CASE WHEN $column IS NOT NULL AND $other IS NOT NULL THEN 1 END)",
    s"count(CASE WHEN $column < $other THEN 1 END)")
}

/** Schema-level: column present. Evaluated=0; failed=1 when absent. */
case class ColumnExists(column: String) extends Expectation {
  val name = "expect_column_to_exist"
  def sparkAgg = (lit(0L), lit(-1L)) // patched by evaluator from schema
  def sqlAgg = ("0", "0")            // oracle: curated schema is known-good
}

/** Schema-level: column has the given Spark type. */
case class OfType(column: String, tpe: DataType) extends Expectation {
  val name = "expect_column_values_to_be_of_type"
  def sparkAgg = (lit(0L), lit(-1L))
  def sqlAgg = ("0", "0")
}

object DqSuite {

  /** The reference's 15-expectation customer suite
    * (customers_expectation_suite.json:1-198). E12 is the full freshness
    * window of dq/ge_checkpoint.yml:38-41 / dq_rules.yml:63-72 — event
    * time within the last 24 h: the lower bound is the per-row
    * deterministic stand-in `processing_timestamp - 24h` for the
    * reference's `now() - 24h`, the upper the fixed `asOf` stand-in for
    * `now()` (SURVEY.md §7 determinism rule).
    */
  def customersSuite: Seq[Expectation] = Seq(
    ColumnExists("id"),
    NotNull("id"),
    Unique("id"),
    ColumnExists("email"),
    NotNull("email"),
    MatchRegex("email", EmailRegex,
      "^[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}$"),
    InSet("plan", Plans),
    OfType("signup_timestamp", TimestampType),
    Between("signup_timestamp",
      Some((to_timestamp(lit("2020-01-01 00:00:00")),
        "TIMESTAMP '2020-01-01 00:00:00'")), None),
    OfType("event_timestamp", TimestampType),
    PairGeq("event_timestamp", "signup_timestamp"),
    Between("event_timestamp",
      Some((col("processing_timestamp") - expr("INTERVAL 24 HOURS"),
        "processing_timestamp - INTERVAL 24 HOUR")),
      Some((asOfCol, AsOfSql))),
    InSet("country", Countries ++
      Seq("ES", "IT", "NL", "SE", "NO", "DK", "FI")),
    NotNull("name"),
    Between("version", Some((lit(1), "1")), Some((lit(10), "10"))))

  /** The reference's business→technical field-name alias map
    * (airflow/include/dq_rules.yml:74-83, applied at
    * tests/test_dq.py:378-418): suites are authored in business names;
    * the mapping resolves them onto the physical columns. The two
    * timestamp mappings land on the curated converted columns
    * (signup_timestamp / event_timestamp) rather than the raw epoch-ms
    * wire fields the reference maps to.
    */
  val FieldMappings: Seq[(String, String)] = Seq(
    "customer_id" -> "id",
    "customer_email" -> "email",
    "subscription_plan" -> "plan",
    "registration_date" -> "signup_timestamp",
    "event_timestamp" -> "event_timestamp",
    "customer_name" -> "name",
    "customer_country" -> "country",
    "schema_version" -> "version")

  /** Apply a business→technical mapping as a rename projection, so a
    * suite authored in business names evaluates directly — a zero-cost
    * alias layer (pure projection: no shuffle, pushdown intact).
    */
  def withAliases(df: DataFrame,
      mappings: Seq[(String, String)]): DataFrame =
    mappings.foldLeft(df) { case (d, (bus, tech)) =>
      if (bus == tech) d else d.withColumnRenamed(tech, bus)
    }

  /** Rewrite every column reference of a suite through a name map
    * (e.g. technical→business, for authoring the business-named twin of
    * an existing suite).
    */
  def renamed(suite: Seq[Expectation],
      nameMap: Map[String, String]): Seq[Expectation] = {
    def r(c: String) = nameMap.getOrElse(c, c)
    suite.map {
      case e: NotNull      => e.copy(column = r(e.column))
      case e: Unique       => e.copy(column = r(e.column))
      case e: MatchRegex   => e.copy(column = r(e.column))
      case e: InSet        => e.copy(column = r(e.column))
      case e: Between      => e.copy(column = r(e.column))
      case e: PairGeq      => e.copy(column = r(e.column), other = r(e.other))
      case e: ColumnExists => e.copy(column = r(e.column))
      case e: OfType       => e.copy(column = r(e.column))
    }
  }

  /** [[customersSuite]] authored in business field names — evaluated
    * over [[withAliases]]-projected frames.
    */
  def customersBusinessSuite: Seq[Expectation] =
    renamed(customersSuite, FieldMappings.map(_.swap).toMap)

  /** A second suite over a different table (`documents`) — the engine is
    * generic over any frame + expectation list; this is the
    * corpus-quality gate a training-data pipeline runs before dedup.
    */
  def documentsSuite: Seq[Expectation] = Seq(
    ColumnExists("doc_id"),
    NotNull("doc_id"),
    Unique("doc_id"),
    NotNull("text"),
    Between("n_chars", Some((lit(10), "10")), Some((lit(100000), "100000"))),
    InSet("lang", Seq("en", "de", "es", "fr", "zh")),
    NotNull("source"),
    MatchRegex("source", "^src[0-9]+$", "^src[0-9]+$"))

  /** A suite's wide aggregate: `ev_i` and `fail_i` (long) for the i-th
    * (0-based) expectation, so the whole suite is one aggregate over
    * `schema`'s frame. Schema-level expectations are constants decided
    * against `schema`. Callers may add their own columns to the same
    * `agg` ([[graft.ops.PipelineRun.run]] adds the run report's).
    */
  def suiteColumns(schema: StructType, suite: Seq[Expectation])
      : Seq[Column] = {
    def schemaOk(e: Expectation): Boolean = e match {
      case ColumnExists(c) => schema.fieldNames.contains(c)
      case OfType(c, t) =>
        schema.fieldNames.contains(c) && schema(c).dataType == t
      case _ => true
    }
    suite.zipWithIndex.flatMap { case (e, i) =>
      val (ev, fail) = e match {
        case se @ (_: ColumnExists | _: OfType) =>
          (lit(0L), lit(if (schemaOk(se)) 0L else 1L))
        case re => re.sparkAgg
      }
      Seq(ev.cast("long").as(s"ev_$i"), fail.cast("long").as(s"fail_$i"))
    }
  }

  /** Evaluate a suite in one scan. Output: one row per expectation with
    * (exp_idx, expectation, column_name, n_evaluated, n_failed,
    * success_rate, success) — the GE per-expectation result shape.
    */
  def evaluate(df: DataFrame, suite: Seq[Expectation]): DataFrame = {
    val aggs = suiteColumns(df.schema, suite)
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val rows = suite.zipWithIndex.map { case (e, i) =>
      struct(
        lit(i + 1).cast("long").as("exp_idx"),
        lit(e.name).as("expectation"),
        lit(e.column).as("column_name"),
        col(s"ev_$i").as("n_evaluated"),
        col(s"fail_$i").as("n_failed"))
    }
    wide.select(inline(array(rows: _*)))
      .withColumn("success_rate",
        when(col("n_evaluated") > 0,
          round((col("n_evaluated") - col("n_failed"))
            / col("n_evaluated"), 6)).otherwise(1.0))
      .withColumn("success", col("n_failed") === 0)
  }

  /** The same per-expectation results as a DuckDB SQL body over a frame
    * CTE named `cur` (UNION ALL of one aggregate SELECT per expectation).
    */
  def resultsSql(suite: Seq[Expectation], fromCte: String = "cur"): String =
    suite.zipWithIndex.map { case (e, i) =>
      val (ev, fail) = e.sqlAgg
      // schema-level expectations are constants — no FROM (a bare FROM cur
      // without aggregates would fan out to one row per input row)
      val from = e match {
        case _: ColumnExists | _: OfType => ""
        case _ => s" FROM $fromCte"
      }
      s"""SELECT CAST(${i + 1} AS BIGINT) AS exp_idx,
         '${e.name}' AS expectation, '${e.column}' AS column_name,
         CAST($ev AS BIGINT) AS n_evaluated,
         CAST($fail AS BIGINT) AS n_failed$from"""
    }.mkString("SELECT *, CASE WHEN n_evaluated > 0 THEN round(CAST(n_evaluated - n_failed AS DOUBLE) / n_evaluated, 6) ELSE 1.0 END AS success_rate, (n_failed = 0) AS success FROM (\n",
      "\nUNION ALL\n", "\n)")

  /** Per-expectation failing-row predicate (None for schema-level
    * expectations). Used for GE-style "unexpected rows" extraction.
    */
  def failPredicate(e: Expectation): Option[Column] = e match {
    case NotNull(c) => Some(col(c).isNull)
    case PairGeq(a, b) =>
      Some(col(a).isNotNull && col(b).isNotNull && col(a) < col(b))
    case re: RowExpectation =>
      Some(col(re.column).isNotNull && re.unexpected)
    case _ => None // Unique handled via dup-key join; schema-level: none
  }

  def failPredicateSql(e: Expectation): Option[String] = e match {
    case NotNull(c) => Some(s"$c IS NULL")
    case PairGeq(a, b) =>
      Some(s"$a IS NOT NULL AND $b IS NOT NULL AND $a < $b")
    case re: RowExpectation =>
      Some(s"${re.column} IS NOT NULL AND (${re.unexpectedSql})")
    case _ => None
  }

  /** GE's unexpected-rows sample: up to `n` failing rows per expectation
    * (keyed by `event_id`). ONE scan tags each row with the list of
    * expectations it fails (array of indices, exploded), and a window
    * keeps the first `n` per expectation — versus a filter+limit job per
    * expectation, this is a single pass regardless of suite width, the
    * 100 TB shape. Unique needs its dup-key self-join and joins the same
    * window as one extra branch.
    */
  def failedSamples(df: DataFrame, suite: Seq[Expectation],
      n: Int = 5): DataFrame = {
    val rowTags = suite.zipWithIndex.flatMap { case (e, i) =>
      failPredicate(e).map(p => when(p, lit(i + 1L)))
    }
    val exploded = df.select(col("event_id"),
      explode(array_compact(array(rowTags: _*))).as("exp_idx"))
      .select(col("exp_idx"), col("event_id"))
    val uniqueParts = suite.zipWithIndex.collect {
      case (Unique(c), i) =>
        val dups = df.filter(col(c).isNotNull)
          .groupBy(c).agg(count(lit(1)).as("__n"))
          .filter(col("__n") > 1).select(c)
        df.join(dups, Seq(c))
          .select(lit(i + 1L).as("exp_idx"), col("event_id"))
    }
    val all = uniqueParts.foldLeft(exploded)(_.unionByName(_))
    // Two-phase top-n (same shape as the customer_value_ranks fix):
    // phase 1 keeps at most n rows per (exp_idx, input partition) — the
    // shuffle key carries spark_partition_id, so a high-failure
    // expectation spreads over as many reducers as input partitions
    // instead of funneling every failing row into one; phase 2's global
    // per-exp_idx sort then sees ≤ n·partitions rows. event_id is unique
    // within an exp_idx, so the two-phase result is exactly the global
    // top-n.
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy(col("exp_idx"), spark_partition_id())
      .orderBy("event_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("exp_idx").orderBy("event_id")
    all.withColumn("pre", row_number().over(wLocal))
      .filter(col("pre") <= n)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= n).select("exp_idx", "event_id")
  }

  /** DuckDB mirror over the `cur` CTE. */
  def failedSamplesSql(suite: Seq[Expectation], n: Int = 5): String = {
    val rowCases = suite.zipWithIndex.flatMap { case (e, i) =>
      failPredicateSql(e).map(p =>
        s"CASE WHEN $p THEN CAST(${i + 1} AS BIGINT) END")
    }
    val uniqueSelects = suite.zipWithIndex.collect {
      case (Unique(c), i) =>
        s"""UNION ALL
           |SELECT CAST(${i + 1} AS BIGINT) AS exp_idx, event_id
           |FROM cur WHERE $c IN (
           |  SELECT $c FROM cur WHERE $c IS NOT NULL
           |  GROUP BY $c HAVING count(*) > 1)""".stripMargin
    }.mkString("\n")
    s"""SELECT exp_idx, event_id FROM (
       |  SELECT exp_idx, event_id, row_number() OVER (
       |    PARTITION BY exp_idx ORDER BY event_id) AS rn
       |  FROM (
       |    SELECT unnest([x for x in [${rowCases.mkString(",\n      ")}]
       |                   if x IS NOT NULL]) AS exp_idx, event_id
       |    FROM cur
       |    $uniqueSelects))
       |WHERE rn <= $n""".stripMargin
  }

  // ---- suite summary + banding (dq_rules.yml:85-89) ------------------------

  val CriticalThreshold = 0.05
  val WarningThreshold = 0.01
  /** DAG hard-fail gate (pipeline_dag.py:213-216). */
  val HardFailThreshold = 0.10

  /** Banding per the reference's intended threshold test
    * (tests/test_dq.py:310-333; the reference's own code path is
    * inconsistent with its assertions — we implement the asserted monotone
    * banding: >5% critical, >1% warning, else acceptable).
    */
  def bandExpr(failureRate: Column): Column =
    when(failureRate > CriticalThreshold, "critical")
      .when(failureRate > WarningThreshold, "warning")
      .otherwise("acceptable")

  /** Suite summary: {evaluated, successful, unsuccessful, success_percent}
    * (pipeline_dag.py:183-204) + failure band + hard-fail flag.
    */
  def summarize(results: DataFrame): DataFrame =
    results.agg(
      count(lit(1)).as("evaluated_expectations"),
      count(when(col("success"), 1)).as("successful_expectations"),
      count(when(!col("success"), 1)).as("unsuccessful_expectations"))
      .withColumn("success_percent",
        round(col("successful_expectations") * lit(100.0)
          / col("evaluated_expectations"), 4))
      .withColumn("failure_rate",
        round(col("unsuccessful_expectations").cast("double")
          / col("evaluated_expectations"), 6))
      .withColumn("band", bandExpr(col("failure_rate")))
      .withColumn("hard_fail", col("failure_rate") > HardFailThreshold)

  /** [[summarize]]'s verdict fields, computed on the driver. */
  final case class Verdict(evaluated: Long, unsuccessful: Long,
    failureRate: Double, hardFail: Boolean)

  /** [[summarize]]'s rule over the per-expectation failed counts (the
    * `fail_i` of [[suiteColumns]], in suite order): an expectation is
    * unsuccessful when it failed any value; `failure_rate` is their
    * share rounded half-up to 6 places, as Spark's `round` does; a rate
    * above [[HardFailThreshold]] hard-fails.
    */
  def verdict(failed: Seq[Long]): Verdict = {
    val unsuccessful = failed.count(_ != 0L).toLong
    val rate = BigDecimal(unsuccessful.toDouble / failed.size)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    Verdict(failed.size.toLong, unsuccessful, rate, rate > HardFailThreshold)
  }

  // ---- quality dimensions (dq_rules.yml:91-106) -----------------------------

  /** dimension -> 1-based expectation indices of [[customersSuite]]. */
  val Dimensions: Seq[(String, Seq[Int])] = Seq(
    "completeness" -> Seq(2, 5, 14),  // not_null id/email/name
    "validity" -> Seq(6, 7, 9),       // email regex, plan set, signup range
    "consistency" -> Seq(11),         // event >= signup
    "timeliness" -> Seq(12),          // event freshness
    "uniqueness" -> Seq(3))           // id unique

  /** Per-dimension quality scores = avg success_rate of member
    * expectations (tests/test_dq.py:335-356 scoring model).
    */
  def dimensionScores(results: DataFrame): DataFrame = {
    val spark = results.sparkSession
    import spark.implicits._
    val dims = Dimensions
      .flatMap { case (d, idxs) => idxs.map(i => (d, i.toLong)) }
      .toDF("dimension", "exp_idx")
    results.join(broadcast(dims), Seq("exp_idx"))
      .groupBy("dimension")
      .agg(round(avg("success_rate"), 6).as("score"))
  }
}
