package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted mergeable-sketch index: per-(day, event_type) DataSketches
  * HLL registers over `user_id`, stored day-partitioned. Any
  * distinct-users question over any day window is then answered by
  * UNIONING the stored sketches — a partition-pruned read of O(days)
  * kilobyte rows; the event corpus is scanned once at build (or one day
  * per ingest), never per query. This is the standard warehouse pattern
  * for distinct-over-arbitrary-window at 100 TB, where exact
  * `count(DISTINCT)` per query would reshuffle the corpus every time.
  *
  * Mergeability is the whole point: HLL register-wise max is
  * associative/commutative, so day sketches roll up to any window,
  * and a day re-ingest just overwrites that day's partition
  * (idempotent replay — the BatchIndex discipline keyed by day).
  */
object SketchIndex {

  /** DataSketches lgConfigK: 2^12 registers ≈ 1.6 % relative standard
    * error — kilobytes per sketch row.
    */
  val LgK = 12

  /** Epoch-day key as a true FLOOR division (subtract the positive
    * modulus first, then exact integer division): Spark's `div`
    * truncates toward zero, DuckDB's `//` floors, so raw `div` would
    * silently shift pre-epoch timestamps (negative millis) one day
    * late vs every oracle. Shared by the batch build, the streaming
    * ingest and the engagement-decay day math.
    */
  def dayCol(ts: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val ms = unix_millis(ts)
    // ms - pmod(ms, d) is exactly divisible by d and |day| < 2^53, so
    // the double division is exact and the cast is lossless
    ((ms - pmod(ms, lit(86400000L))) / lit(86400000L)).cast("long")
  }

  private def dayOf = dayCol(col("ts"))

  private def sketchRows(events: DataFrame): DataFrame =
    events.select(dayOf.as("day"), col("event_type"), col("user_id"))
      .groupBy("day", "event_type")
      .agg(hll_sketch_agg(col("user_id"), lit(LgK)).as("sketch"),
        count(lit(1)).as("n_events"))

  /** Full build: one corpus scan → day-partitioned sketch table.
    * STATIC overwrite on purpose: a full build is a full replace, so
    * day partitions of a previous build whose days vanished from the
    * corpus must not survive to serve stale sketches (dynamic mode
    * would leave them).
    */
  def writeHllIndex(events: DataFrame, path: String): Unit =
    sketchRows(events)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "static")
      .partitionBy("day").parquet(path)

  /** Incremental ingest: re-sketch ONLY the days present in `batch`
    * (dynamic partition overwrite — replaying a day is idempotent,
    * untouched days keep their files). Per-write option; nothing
    * session-global leaks to other writers.
    */
  def upsertDays(batch: DataFrame, path: String): Unit =
    sketchRows(batch)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("day").parquet(path)

  /** Compaction-crash screen for a streamed (batch_id-partitioned)
    * summary frame: fold rows (`batch_id = -1`) carry `folded_through`
    * — the highest batch id their compaction merged — and any batch
    * row AT OR BELOW its key's folded_through is a superseded
    * duplicate, visible only in the window between a compaction's
    * promote and its per-partition deletes. The HLL estimate would
    * survive such duplicates by union idempotence, but a SUM-serving
    * index (the sketch's `n_events`, the heavy hitters' counters)
    * would double-count; batches ingested AFTER the compaction have
    * higher ids and pass the screen. Output always carries a
    * `folded_through` column (null for batch rows and legacy folds).
    *
    * `keyCols` is the fold's bucket key — `day` for this index, empty
    * for a globally-folded index ([[graft.streaming
    * .HeavyHitterStream]]); one definition of the screen, so the
    * subtle folded_through semantics cannot drift between consumers.
    */
  // (write side: the screened folds of graft.streaming.BatchIndex.Fold)
  def screenFolded(idx: DataFrame,
      keyCols: Seq[String] = Seq("day")): DataFrame =
    if (!idx.columns.contains("batch_id"))
      idx.withColumn("folded_through", lit(null).cast("long"))
    else {
      val withFt =
        if (idx.columns.contains("folded_through")) idx
        else idx.withColumn("folded_through", lit(null).cast("long"))
      val folds = withFt.filter(col("batch_id") === -1L)
      val screened =
        if (keyCols.isEmpty)
          withFt.crossJoin(broadcast(
            folds.agg(max("folded_through").as("screen_through"))))
        else
          withFt.join(broadcast(folds
              .groupBy(keyCols.map(c => col(c).as(s"screen_$c")): _*)
              .agg(max("folded_through").as("screen_through"))),
            keyCols.map(c => col(c) === col(s"screen_$c"))
              .reduce(_ && _),
            "left")
      screened
        .filter(col("batch_id") === -1L
          || col("screen_through").isNull
          || col("batch_id") > col("screen_through"))
        .drop(keyCols.map(c => s"screen_$c") :+ "screen_through": _*)
    }

  /** Served read: distinct-user estimate per event_type over
    * [fromDay, toDay] by unioning the stored sketches. The day filter
    * prunes to the window's partitions; nothing event-sized is read.
    * Streamed indexes pass through [[screenFolded]] so accounting
    * stays exact across a crashed compaction.
    */
  def distinctUsersOverRange(spark: SparkSession, path: String,
      fromDay: Long, toDay: Long): DataFrame =
    screenFolded(
      spark.read.option("mergeSchema", "true").parquet(path)
        .filter(col("day") >= fromDay && col("day") <= toDay))
      .groupBy("event_type")
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch")))
        .as("est_distinct"),
        sum("n_events").as("n_events"))

  /** Sketch-vs-exact acceptance band for the verified query: generous
    * vs the 1.6 % RSE so the row only reddens on a real defect.
    */
  val HllRelBound = 0.1

  /** The oracle-checkable form (the `approx_sketches` discipline): the
    * served estimate and the index's event accounting are checked
    * against the exact in-window answers computed from the corpus, and
    * only exact values + the boolean verdicts are emitted. The window
    * is data-derived (days 10–19 after the corpus's first day) so both
    * engines select identical rows with no wall-clock input.
    */
  def hllWindowVerified(spark: SparkSession, events: DataFrame,
      path: String): DataFrame = {
    val days = events.select(dayOf.as("day"), col("event_type"),
      col("user_id"))
    val minDay = days.agg(min("day")).head().getLong(0)
    val (from, to) = (minDay + 10, minDay + 19)
    val served = distinctUsersOverRange(spark, path, from, to)
    val exact = days
      .filter(col("day") >= from && col("day") <= to)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact_distinct"),
        count(lit(1)).as("exact_events"))
    served.join(exact, Seq("event_type"))
      .select(col("event_type"), col("exact_distinct"),
        col("exact_events"),
        (col("n_events") === col("exact_events")).as("events_match"),
        (abs(col("est_distinct") - col("exact_distinct"))
          <= lit(HllRelBound) * col("exact_distinct"))
          .as("within_bound"))
      .orderBy("event_type")
  }

  /** DuckDB mirror of [[hllWindowVerified]]: exact in-window answers +
    * literal-true verdicts (the sketch side is what is under test).
    */
  val hllWindowVerifiedSql: String =
    """WITH days AS MATERIALIZED (
      |  SELECT epoch_ms(ts) // 86400000 AS day, event_type, user_id
      |  FROM events),
      |win AS (
      |  SELECT min(day) + 10 AS f, min(day) + 19 AS t FROM days)
      |SELECT event_type,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct,
      |  count(*) AS exact_events,
      |  true AS events_match,
      |  true AS within_bound
      |FROM days CROSS JOIN win
      |WHERE day >= f AND day <= t
      |GROUP BY event_type ORDER BY event_type""".stripMargin
}
