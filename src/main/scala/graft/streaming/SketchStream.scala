package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming ingest for the mergeable HLL sketch index
  * ([[graft.ext.SketchIndex]]): each micro-batch lands its own
  * per-(day, event_type) sketch rows under (day, batch_id) partitions —
  * the BatchIndex discipline, so a replayed batch dynamic-overwrites
  * ONLY its own files and other batches' contributions to the same day
  * survive. Serving unions sketches across batch partitions exactly
  * like the batch-built index (HLL register-max is associative,
  * commutative AND idempotent, so replay can never inflate the
  * estimate); `sum(n_events)` accounting stays exact because replay
  * replaces rather than appends.
  *
  * At 100 TB: each micro-batch aggregates only itself (combinable,
  * day×type keys); the index grows by KB-rows per batch; no corpus
  * state is ever rewritten. Compact (stream stopped) folds batch rows
  * per day back to one row via the same union.
  */
object SketchStream {

  final class SketchStats(spark: org.apache.spark.sql.SparkSession)
      extends MicroBatch.Ledger {
    val events = spark.sparkContext.longAccumulator("sketch_events")
  }

  private def sketchRows(batch: DataFrame): DataFrame =
    batch.select(graft.ext.SketchIndex.dayCol(col("ts")).as("day"),
      col("event_type"), col("user_id"))
      .groupBy("day", "event_type")
      .agg(hll_sketch_agg(col("user_id"),
        lit(graft.ext.SketchIndex.LgK)).as("sketch"),
        count(lit(1)).as("n_events"))

  /** One idempotent micro-batch ingest (extracted for replay specs):
    * [[BatchIndex.writePartition]] with the day bucket level — the
    * write dynamic-overwrites ONLY this batch's own (day, batch_id)
    * partitions (per-write option, nothing session-global).
    */
  def processBatch(batch: DataFrame, batchId: Long, indexPath: String,
      stats: SketchStats): Unit =
    MicroBatch.commit(stats, batchId) {
      val rows = sketchRows(batch).persist()
      try {
        // coalesce: sum over an EMPTY batch is NULL (a rate source's
        // batch 0 has no rows), and the write must still commit so
        // the ledger advances
        stats.events.add(
          rows.agg(coalesce(sum("n_events"), lit(0L)))
            .head().getLong(0))
        BatchIndex.writePartition(rows, batchId, indexPath, Some("day"))
        true
      } finally { rows.unpersist(); () }
    }

  /** Fold the per-batch rows into one row per (day, event_type) —
    * stream stopped only. [[BatchIndex.compact]] with the day bucket
    * level and HLL-union fold semantics (union is lossless for HLL
    * registers, so served estimates are identical before and after;
    * exact `n_events` accounting across the compaction crash window is
    * guarded at serve time — [[graft.ext.SketchIndex
    * .distinctUsersOverRange]] ignores batch rows for any day that
    * already carries a folded row).
    */
  def compact(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): (Long, Long) =
    BatchIndex.compact(spark, indexPath,
      Seq("day", "event_type", "sketch", "n_events"), Some("day"),
      Some { idx =>
        // screen first so re-running a CRASHED compaction (fold rows +
        // their superseded batch rows both on disk) cannot double-count
        // n_events into the new fold; record the highest batch id each
        // (day, type) fold merged so serving can apply the same screen
        graft.ext.SketchIndex.screenFolded(idx)
          .groupBy("day", "event_type")
          .agg(hll_union_agg(col("sketch")).as("sketch"),
            sum("n_events").as("n_events"),
            max(greatest(coalesce(col("folded_through"), lit(-1L)),
              col("batch_id"))).as("folded_through"))
      })

  /** The wired maintenance cadence for the sketch index — the
    * [[BatchIndex.maintain]] discipline with THIS stream's fold: a
    * sum-served index must compact through the screen-first merge
    * above (the default distinct fold would leave `n_events`
    * double-countable across the crash window), so the hook diagnoses
    * with [[BatchIndex.layoutReportMulti]] and runs [[compact]] when
    * the cadence fires. `day` is a SEMANTIC partition level — a
    * resize is meaningless, so the report's denominator and floor are
    * both the observed day count (the byte rule can never recommend
    * "fewer days"). Stream stopped + checkpoint committed only;
    * None = no index yet.
    */
  def maintain(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): Option[BatchIndex.Maintenance] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(indexPath).toUri,
      spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(indexPath)))
      return None
    val days = spark.read.parquet(indexPath)
      .select(col("day")).distinct().count()
    val raw = BatchIndex.layoutReportMulti(spark, indexPath,
      Seq("day"), days, days)
    // the rebucket arm is suppressed, not just floored: `day` is a
    // semantic level, so byte drift (many events per day) must never
    // print an actionable-looking resize for it
    val report = raw.copy(rebucketRecommended = false,
      recommendedBuckets = days)
    val compacted =
      if (report.compactRecommended) Some(compact(spark, indexPath))
      else None
    Some(BatchIndex.Maintenance(report, compacted))
  }
}
