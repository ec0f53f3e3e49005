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

  /** The sketch index as [[BatchIndex.maintain]] sees it: one row
    * per (day, event_type) after a fold, merged by HLL union and an
    * `n_events` sum through the screen-first merge (union is lossless
    * for HLL registers, so served estimates are identical before and
    * after; a distinct fold would leave `n_events`
    * double-countable across the crash window, which
    * [[graft.ext.SketchIndex.distinctUsersOverRange]] screens at
    * serve time). `day` is a SEMANTIC level: the bucket count is the
    * observed day count and no resize is ever reported (byte drift
    * from many events per day must never print an actionable-looking
    * resize for it).
    */
  val HllIndex: BatchIndex.Index = BatchIndex.Index(Seq(
      BatchIndex.Component("", Seq("day"),
        BatchIndex.Fold.ScreenedMerge(Seq("event_type"),
          Seq(hll_union_agg(col("sketch")).as("sketch"),
            sum("n_events").as("n_events"))),
        // no resize is reported, so the floor is never read
        BatchIndex.Buckets.Observed(1L))),
    resizable = false)
}
