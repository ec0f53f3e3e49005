package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.ext.TextAnalysis

/** Streaming novelty scoring: each micro-batch of documents is scored
  * against the accumulated corpus gram index
  * ([[graft.ext.TextAnalysis.noveltyAgainst]] semantics — non-novel if
  * the corpus has the gram or ≥2 batch docs share it), per-doc reports
  * land in a `batch_id`-partitioned sink, and the batch's distinct gram
  * hashes extend the index — the streaming twin of
  * [[graft.ext.TextAnalysis.noveltyServed]].
  *
  * The index stores one 8-byte xxhash64 per distinct gram (never text),
  * the same at-scale footprint argument as [[DedupStream]]'s band index.
  * Idempotence contract matches [[EventPipeline.processBatch]]: both
  * writes are partitioned by `batch_id` with dynamic overwrite, a replay
  * rewrites its own partitions, the index read excludes the batch's own
  * partition (a crash between the two writes must not make the batch
  * screen against its own first attempt), and accumulators move only
  * after both writes commit.
  */
object NoveltyStream {

  /** Key-bucket count for the persisted gram index layout
    * (`band_bucket = keyBucket(h) / batch_id=<n>`): novelty scoring
    * joins batch grams against the index on `h`, so each trigger's
    * read prunes to the batch's hit buckets (the
    * [[DedupStream.BandBuckets]] rationale, gram side). An index
    * written flat (pre-bucketing) cannot be mixed in place — run
    * [[BatchIndex.migrateToBucketed]] with [[gramBucket]] before
    * resuming the checkpoint (the read fails with that recipe).
    */
  val KeyBuckets = 64L

  /** The gram-bucket expression at bucket count `b` — writer and
    * every reader of ONE index must agree; the count lives in the
    * index's layout metadata ([[BatchIndex.bucketCountOf]]) so
    * [[BatchIndex.rebucket]] can scale it with the corpus.
    */
  def gramBucketAt(b: Long): org.apache.spark.sql.Column =
    BatchIndex.keyBucket(b, col("h"))

  /** The expression at the configured default (new indexes/fixtures). */
  def gramBucket: org.apache.spark.sql.Column = gramBucketAt(KeyBuckets)

  final class NoveltyStats(spark: org.apache.spark.sql.SparkSession)
      extends BatchIndex.KeyedStats(spark, "novelty", "fully_novel") {
    def novel: org.apache.spark.util.LongAccumulator = passed
  }

  /** One idempotent micro-batch score+extend (the foreachBatch body of
    * the leg, extracted so StreamingSpec can replay it): the
    * [[BatchIndex.ingestKeyed]] step over the batch's gram hashes, whose
    * screen scores the batch against the hit-bucket index and writes
    * the per-doc reports; every batch gram extends the index. The
    * bucket count is the recorded layout metadata, auto-sized for a
    * NEW index from the first batch's gram rows
    * ([[BatchIndex.autoBucketCount]]).
    */
  def processBatch(batch: DataFrame, batchId: Long, reportPath: String,
      indexPath: String, stats: NoveltyStats): Unit =
    BatchIndex.ingestKeyed(batch, batchId, indexPath, stats, KeyBuckets,
      Seq("h"), TextAnalysis.gramIndex, gramBucketAt) { kb =>
      val report = kb.keep(TextAnalysis.noveltyAgainst(kb.index, kb.rows)
        .withColumn("batch_id", lit(batchId)))
      val nNovel = report.filter(col("novelty") === 1.0).count()
      report.write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(reportPath)
      (kb.keys, nNovel)
    }

  /** The gram index as [[BatchIndex.maintain]] sees it. Batches
    * re-append grams the index already holds (the per-batch write
    * cannot know), so after many ingests it carries cross-partition
    * duplicates — correctness-neutral (the scorer distincts the matched
    * set before its probe join, [[graft.ext.TextAnalysis.noveltyAgainst]])
    * but scan cost grows past the distinct gram volume; the distinct
    * fold collapses them.
    */
  val GramIndex: BatchIndex.Index =
    BatchIndex.Index.keyed(Seq("h"), KeyBuckets)
}
