package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.HeavyHitters

/** Streaming heavy hitters as MERGEABLE summaries (Agarwal et al. 2013
  * — public literature), the streaming twin of
  * [[graft.ext.HeavyHitters]]: each micro-batch runs the k-counter
  * Misra–Gries sketch over its own symbol stream and lands the ≤
  * k·partitions surviving counters under its own `batch_id` partition
  * (the [[BatchIndex]] discipline — an at-least-once replay rewrites
  * exactly its own rows). Serving sums counters per symbol across
  * batches; the classic bounds survive the merge exactly as they
  * survive partition-merge in the batch operator: per-batch decrement
  * rounds charge ≤ N_i/(k+1) error each, so summed estimates satisfy
  * est ≤ exact and exact − est ≤ N/(k+1) over the whole stream, and
  * any symbol above the N/(k+1) line is guaranteed present.
  *
  * At 100 TB/day: per-batch state is k counters per task, the index
  * grows by ≤ k·partitions rows per batch (independent of stream
  * volume and key cardinality), and compaction folds counters by the
  * same exact summation — a served "top symbols over the stream so
  * far" never touches raw events.
  */
object HeavyHitterStream {

  final class HhStats(spark: SparkSession) extends MicroBatch.Ledger {
    val batches = spark.sparkContext.longAccumulator("hh_batches")
  }

  /** One idempotent micro-batch ingest (extracted for replay specs). */
  def processBatch(batch: DataFrame, batchId: Long, indexPath: String,
      stats: HhStats, k: Int = HeavyHitters.Counters): Unit =
    MicroBatch.commit(stats, batchId) {
      val counters =
        HeavyHitters.mergedCounters(HeavyHitters.symbolStream(batch), k)
      BatchIndex.writePartition(counters, batchId, indexPath)
      stats.batches.add(1L)
      true
    }

  /** Served merged counters over everything ingested so far: one
    * narrow index read, counters summed per symbol. Batch rows a fold
    * already merged are screened out first
    * ([[graft.ext.SketchIndex.screenFolded]] with an empty key: this
    * index folds globally, no bucket level) — the [[BatchIndex
    * .compact]] crash window leaves the promoted `batch_id = -1` fold
    * AND its superseded batch partitions both visible, and this index
    * SERVES BY SUMMING, so without the screen that window over-counts
    * (breaking the "est ≤ exact, never over" MG guarantee). Estimates
    * carry the summed-MG guarantees (see object doc); they are
    * under-estimates, never over.
    */
  def servedCounters(spark: SparkSession, indexPath: String): DataFrame =
    graft.ext.SketchIndex.screenFolded(
      spark.read.option("mergeSchema", "true").parquet(indexPath),
      keyCols = Seq.empty)
      .groupBy("symbol").agg(sum("est").as("est"))

  /** The counter index as [[BatchIndex.maintain]] sees it: one row
    * per symbol after a fold, merged by summing counters through the
    * screen-first merge (counter summation is the exact merge, so
    * served answers are identical before and after; a
    * distinct fold would leave the crash window double-counting). The
    * index has no level above `batch_id` — one directory per batch,
    * folded globally — so its bucket count is one.
    */
  val CounterIndex: BatchIndex.Index = BatchIndex.Index(Seq(
      BatchIndex.Component("", Nil,
        BatchIndex.Fold.ScreenedMerge(Seq("symbol"),
          Seq(sum("est").as("est"))),
        BatchIndex.Buckets.Fixed(1L))),
    resizable = true)
}
