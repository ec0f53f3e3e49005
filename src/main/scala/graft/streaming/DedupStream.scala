package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.Dedup

/** Streaming corpus ingestion with incremental near-dup screening: each
  * micro-batch of documents is checked against a persistent MinHash band
  * index (the accumulated corpus), survivors are appended to the corpus
  * sink, and their bands extend the index — the streaming twin of
  * [[graft.ext.Dedup.incrementalNearDups]].
  *
  * Screening here is LSH-candidate-level (any shared band ⇒ duplicate):
  * the index stores only `(doc_id, band_idx, band_hash)`, never text, so
  * it stays ~48 bytes/doc — small enough to keep as a bucketed table at
  * 100 TB corpus scale. Candidate-level screening is the high-recall
  * gate a streaming ingest wants; the exact-Jaccard verified pass
  * ([[graft.ext.Dedup.minhashNearDups]]) runs in the batch layer.
  * Batch-internal dups are also dropped (lowest doc_id survives, same
  * keep-first policy as the batch operators).
  *
  * Idempotence contract matches [[EventPipeline.processBatch]]: corpus
  * and index writes are partitioned by batch_id with dynamic overwrite
  * (a replayed batch rewrites its own partitions), and the survivor
  * accumulators move only after both writes commit, gated on the
  * high-water mark.
  */
object DedupStream {

  /** Band-hash bucket count for the persisted band index layout:
    * `band_bucket = keyBucket(band_hash) / batch_id=<n>`. The
    * per-trigger screen is an equi-join on `(band_idx, band_hash)`,
    * so the read prunes to the batch's hit buckets instead of
    * re-scanning the whole accumulated index — per-trigger IO is
    * (hit buckets / B) × index, flat in corpus size once B exceeds
    * the batch's distinct band-hash count. 64 at fixture scale; a
    * 100 TB deployment sizes B ≫ (trigger docs × NumBands) — the
    * [[graft.ext.Multimodal.MediaFpBuckets]] sizing rule applied to
    * the band key. Layout note: an index written flat (pre-bucketing)
    * cannot be mixed in place — run [[BatchIndex.migrateToBucketed]]
    * with [[bandBucket]] before resuming the checkpoint (the read
    * fails with that recipe).
    */
  val BandBuckets = 64L

  /** Probe seam over [[BandBuckets]] (ScaleProbe's B-scaling sweep —
    * the measurement behind the sizing rule above): read at call time
    * by writer AND readers, so it may only change between INDEXES,
    * never mid-life of one — a mixed-B index is a layout corruption.
    */
  @volatile private[graft] var bandBucketCount: Long = BandBuckets

  /** The band-bucket expression at bucket count `b` — writer and every
    * reader of ONE index must agree, which is why the count lives in
    * the index's own layout metadata ([[BatchIndex.bucketCountOf]])
    * and not only in code: re-bucketing as the corpus grows
    * ([[BatchIndex.rebucket]]) must not strand readers at the old B.
    */
  def bandBucketAt(b: Long): org.apache.spark.sql.Column =
    BatchIndex.keyBucket(b, col("band_hash"))

  /** The band-bucket expression at the CONFIGURED default count — for
    * new indexes and fixtures; an existing index's reads/writes go
    * through [[bandBucketAt]] with its recorded count.
    */
  def bandBucket: org.apache.spark.sql.Column =
    bandBucketAt(bandBucketCount)

  /** The band index's stored columns. */
  private[streaming] val BandCols = Seq("doc_id", "band_idx", "band_hash")

  final class DedupStats(spark: org.apache.spark.sql.SparkSession)
      extends BatchIndex.KeyedStats(spark, "dedup", "kept") {
    def kept: org.apache.spark.util.LongAccumulator = passed
  }

  /** One idempotent micro-batch ingest (the foreachBatch body of the
    * leg, extracted so StreamingSpec can replay it): the
    * [[BatchIndex.ingestKeyed]] step over the batch's MinHash bands,
    * screened by [[BatchIndex.keepFirst]]. The bucket count is this
    * index's layout metadata when it exists, the compiled default for
    * a pre-metadata index, and the auto-sizing rule over the first
    * batch's band rows for a NEW index (a catch-up first macro batch
    * creates its layout at corpus-proportional B, not the fixture
    * constant).
    */
  def processBatch(batch: DataFrame, batchId: Long, corpusPath: String,
      indexPath: String, stats: DedupStats): Unit =
    MicroBatch.commit(stats, batchId, batch)(
      ingest(_, corpusPath, indexPath, stats))

  /** [[processBatch]]'s body over a batch handle — the dedup stage
    * [[CurateStream]] runs under its own commit of the same ledger.
    * True when the batch had rows to commit.
    */
  private[streaming] def ingest(b: MicroBatch.Batch, corpusPath: String,
      indexPath: String, stats: DedupStats): Boolean =
    BatchIndex.ingestKeyed(b, indexPath, stats,
      bandBucketCount, BandCols, Dedup.bandTable, bandBucketAt)(
      BatchIndex.keepFirst(corpusPath, "doc_id", BandCols.tail))

  /** The band index as [[BatchIndex.maintain]] sees it (also the
    * graph leg's band index): distinct-folded, since bands are unique
    * per doc and compaction is small-file folding, not duplicate
    * removal. Read at call time, like [[bandBucketCount]]. Its cadence
    * fires when levels per bucket pass [[BatchIndex.CompactAfterLevels]]
    * — the file-count counterweight to the B ∝ corpus sizing rule,
    * measured in SCALING.md "Streaming compaction cadence".
    */
  def BandIndex: BatchIndex.Index =
    BatchIndex.Index.keyed(BandCols, bandBucketCount)
}
