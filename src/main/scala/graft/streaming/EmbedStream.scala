package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ext.Hashing

/** Streaming EMBEDDING ingestion with incremental near-dup screening —
  * the vector twin of [[DedupStream]]: each micro-batch of vectors is
  * checked against a persistent multi-table sign-LSH index (the
  * accumulated corpus), survivors append to the corpus sink, and their
  * buckets extend the index.
  *
  * Banding logic carries over from MinHash to hyperplanes: a SINGLE
  * p-plane sign bucket has only ~(1−θ/π)^p recall for near-dups at angle
  * θ, so the index keeps [[NumTables]] independent tables of
  * [[PlanesPerTable]] planes each and a collision in ANY table flags a
  * near-dup — recall 1−(1−(1−θ/π)^p)^L ≈ 0.99 at θ≈0.1 rad with L=4,
  * p=12, while random directions collide with probability ~L·2⁻ᵖ. The
  * index stores only `(vec_id, table_idx, bucket)` — ~20 bytes/row, 4
  * rows/vector, never the vector itself — so it stays a bucketed table
  * at 100 TB. Candidate-level screening is the high-recall ingest gate;
  * the exact-cosine verified pass ([[graft.ext.Dedup.embeddingNearDups]])
  * runs in the batch layer.
  *
  * Idempotence contract matches [[DedupStream]]: corpus and index writes
  * are partitioned by batch_id with dynamic overwrite, survivor
  * accumulators move only after both writes commit, replays are gated on
  * the high-water mark, and the index read excludes the current batch's
  * own partition.
  */
object EmbedStream {

  val NumTables = 4
  val PlanesPerTable = 12
  val Dim = 64

  /** Key-bucket count for the persisted LSH index layout
    * (`band_bucket = keyBucket(table_idx, bucket) / batch_id=<n>`):
    * the screen joins on `(table_idx, bucket)`, so each trigger's
    * index read prunes to the batch's hit buckets instead of
    * re-scanning the accumulated index (the [[DedupStream
    * .BandBuckets]] rationale, vector side). An index written flat
    * (pre-bucketing) cannot be mixed in place — run
    * [[BatchIndex.migrateToBucketed]] with [[keyBucketCol]] before
    * resuming the checkpoint (the read fails with that recipe).
    */
  val KeyBuckets = 64L

  /** The key-bucket expression at bucket count `b` — writer and every
    * reader of ONE index must agree; the count lives in the index's
    * layout metadata ([[BatchIndex.bucketCountOf]]) so
    * [[BatchIndex.rebucket]] can scale it with the corpus.
    */
  def keyBucketColAt(b: Long): Column =
    BatchIndex.keyBucket(b, col("table_idx"), col("bucket"))

  /** The expression at the configured default (new indexes/fixtures). */
  def keyBucketCol: Column = keyBucketColAt(KeyBuckets)

  /** Deterministic hyperplane component for (table, plane, dim) — same
    * public md5-derived scheme as [[Hashing]]/[[graft.ext.Similarity]],
    * distinct salt so the stream index is independent of the query-side
    * LSH planes.
    */
  private def planeLit(t: Int, h: Int): Column =
    array((0 until Dim).map(d =>
      lit(Hashing.jvmH32(s"ep:$t:$h:$d") / 2147483648.0 - 1.0)): _*)

  /** Sign bucket of `v` in table `t`. */
  def tableBucket(v: Column, t: Int): Column =
    (0 until PlanesPerTable).map { h =>
      when(graft.ext.Dedup.dot(v, planeLit(t, h)) > 0, 1L << h)
        .otherwise(0L)
    }.reduce(_ + _)

  /** (vec_id, table_idx, bucket) rows for a vector frame — map-side. */
  def bucketTable(vectors: DataFrame): DataFrame = {
    val v = col("embedding").cast("array<double>")
    vectors.select(col("vec_id"),
      explode(array((0 until NumTables).map(t =>
        struct(lit(t).as("table_idx"), tableBucket(v, t).as("bucket"))
      ): _*)).as("tb"))
      .select(col("vec_id"), col("tb.table_idx").as("table_idx"),
        col("tb.bucket").as("bucket"))
  }

  /** The LSH index's stored columns. */
  private val IndexCols = Seq("vec_id", "table_idx", "bucket")

  /** Per-SESSION best-effort counters. The ledger (and the
    * accumulators) live in driver memory only: after a driver restart a
    * replayed batch re-adds to seen/kept, so treat the counts as
    * monitoring signals, not ledger truth. The DATA stays exactly-once
    * either way — [[processBatch]] writes via dynamic partition
    * overwrite keyed on batch_id, so a replay overwrites its own
    * partition. Durable counts, when needed, come from aggregating the
    * committed batch_id partitions on disk.
    */
  final class EmbedStats(spark: org.apache.spark.sql.SparkSession)
      extends BatchIndex.KeyedStats(spark, "embed", "kept") {
    def kept: org.apache.spark.util.LongAccumulator = passed
  }

  /** One idempotent micro-batch ingest (extracted for replay specs):
    * the [[BatchIndex.ingestKeyed]] step over the batch's sign-LSH
    * buckets, screened by [[BatchIndex.keepFirst]]. B resolves from the
    * index's layout metadata; a NEW index auto-sizes from the first
    * batch's key rows ([[BatchIndex.autoBucketCount]]).
    */
  def processBatch(batch: DataFrame, batchId: Long, corpusPath: String,
      indexPath: String, stats: EmbedStats): Unit =
    MicroBatch.commit(stats, batchId, batch)(
      BatchIndex.ingestKeyed(_, indexPath, stats, KeyBuckets,
        IndexCols, bucketTable, keyBucketColAt)(
        BatchIndex.keepFirst(corpusPath, "vec_id", IndexCols.tail)))

  /** The LSH index as [[BatchIndex.maintain]] sees it. */
  val LshIndex: BatchIndex.Index =
    BatchIndex.Index.keyed(IndexCols, KeyBuckets)
}
