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

  /** Screen batch rows a fold already merged — the [[BatchIndex
    * .compact]] crash window leaves the promoted `batch_id = -1` fold
    * AND its superseded batch partitions both visible, and this index
    * SERVES BY SUMMING, so without a screen that window over-counts
    * (breaking the "est ≤ exact, never over" MG guarantee) and a
    * re-run compaction would double-count permanently. The shared
    * [[graft.ext.SketchIndex.screenFolded]] discipline with an empty
    * key (this index folds globally, no bucket level).
    */
  private def screenFolded(idx: DataFrame): DataFrame =
    graft.ext.SketchIndex.screenFolded(idx, keyCols = Seq.empty)

  /** Served merged counters over everything ingested so far: one
    * narrow index read, counters summed per symbol (batch rows a fold
    * already merged are screened out first — see [[screenFolded]]).
    * Estimates carry the summed-MG guarantees (see object doc); they
    * are under-estimates, never over.
    */
  def servedCounters(spark: SparkSession, indexPath: String): DataFrame =
    screenFolded(
      spark.read.option("mergeSchema", "true").parquet(indexPath))
      .groupBy("symbol").agg(sum("est").as("est"))

  /** Fold per-batch counter rows to one row per symbol — stream
    * stopped only. Counter summation is the exact merge, so served
    * answers are identical before and after. The fold screens first
    * (re-running a crashed compaction must not re-merge rows the old
    * fold already counted) and records `folded_through` so serving
    * can apply the same screen.
    */
  def compact(spark: SparkSession, indexPath: String): (Long, Long) =
    BatchIndex.compact(spark, indexPath, Seq("symbol", "est"),
      fold = Some { idx =>
        screenFolded(idx)
          .groupBy("symbol").agg(sum("est").as("est"),
            max(greatest(coalesce(col("folded_through"), lit(-1L)),
              col("batch_id"))).as("folded_through"))
      })

  /** The wired maintenance cadence for the counter index — the
    * [[BatchIndex.maintain]] discipline with THIS stream's fold (a
    * sum-served index must compact through the screen-first merge, or
    * the crash window double-counts; see [[compact]]). The index has
    * no bucket level — one directory per batch, folded globally — so
    * the layout report runs with an empty bucket set and a denominator
    * of one. Stream stopped + checkpoint committed only; None = no
    * index yet.
    */
  def maintain(spark: SparkSession, indexPath: String)
      : Option[BatchIndex.Maintenance] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(indexPath).toUri,
      spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(indexPath)))
      return None
    val report = BatchIndex.layoutReportMulti(spark, indexPath,
      Nil, 1L, 1L)
    val compacted =
      if (report.compactRecommended) Some(compact(spark, indexPath))
      else None
    Some(BatchIndex.Maintenance(report, compacted))
  }
}
