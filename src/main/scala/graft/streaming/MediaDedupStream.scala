package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.Multimodal

/** Streaming PERCEPTUAL media ingestion: each micro-batch of
  * `(doc_id, payload)` rows is decoded (real codec), fingerprinted,
  * and screened against the UNIFIED media fingerprint index — the
  * same `(modality, bucket, batch_id)` artifact the batch builders
  * write ([[Multimodal.writeMediaFpIndex]]), so a stream-ingested
  * corpus serves every batch screen ([[Multimodal
  * .mediaNearDupsServed]], the cluster roll-ups, the corpus graph
  * feeds) with zero re-decode, and takedown has ONE fingerprint
  * artifact instead of a stream-side band copy. The 4×16-bit band
  * rows the screen joins on persist beside the fingerprints, as the
  * index's band sidecar ([[Multimodal.MediaBandBuckets]]), so each
  * trigger reads only the band buckets its batch hits
  * ([[Multimodal.mediaBandsBefore]]) and screens through the one
  * media screen join ([[Multimodal.nearEarlier]]).
  *
  * One deliberate difference from [[DedupStream]]: the screen here is
  * EXACT-VERIFIED, not candidate-level. MinHash bands hash a 2⁶⁴
  * space, so a band collision is evidence; these bands are 16-bit
  * fingerprint slices, so at n docs a bucket holds ~n/2¹⁶ unrelated
  * members and candidate-level dropping would false-drop uniques at
  * scale. A candidate only drops after the exact Hamming ≤
  * [[Multimodal.AHashMaxHamming]] check — which the banding makes
  * lossless (pigeonhole), so recall is exact.
  *
  * Undecodable payloads are REJECTED (counted, not ingested): an
  * unscreenable blob in a perceptual-dedup corpus is a quality-gate
  * failure, the same policy as the curation gate.
  *
  * Idempotence matches [[EventPipeline.processBatch]]: corpus and
  * index writes land under their own batch_id partitions with dynamic
  * overwrite (stream fingerprints at `batch_id = microBatch + 1` — 0
  * is reserved for batch base builds, the [[SearchStream]] offset);
  * accumulators move only after both writes commit.
  */
object MediaDedupStream {

  final class MediaStats(spark: org.apache.spark.sql.SparkSession)
      extends MicroBatch.Ledger {
    val seen = spark.sparkContext.longAccumulator("media_seen")
    val rejected = spark.sparkContext.longAccumulator("media_rejected")
    val kept = spark.sparkContext.longAccumulator("media_kept")
  }

  /** One idempotent micro-batch ingest of a `(doc_id, payload)` stream
    * (the foreachBatch body of the leg, extracted so StreamingSpec can
    * replay it).
    *
    * `fpExtract` is the modality seam: any payload → `(doc_id,
    * decoded, fp_lo, fp_hi)` extractor plugs the same exact-verified
    * screen — [[Multimodal.imageFpFromPayload]] (default),
    * [[Multimodal.videoFpFromPayload]] for GVID clips, or a custom
    * codec behind [[Multimodal.MediaCodec]]; `modality` names the
    * index partition the fingerprints land under. The screen only
    * sees 64 fingerprint bits, so everything downstream (index
    * layout, Hamming gate, compaction, takedown) is modality-blind.
    */
  def processBatch(batch: DataFrame, batchId: Long, corpusPath: String,
      indexPath: String, stats: MediaStats,
      fpExtract: DataFrame => DataFrame =
        Multimodal.imageFpFromPayload(_),
      modality: String = "image"): Unit =
    MicroBatch.commit(stats, batchId, batch) { b =>
      val spark = batch.sparkSession
      val storedId = batchId + 1 // 0 is reserved for batch base builds
      b.n > 0 && {
        // decode ONCE: these rows screen the batch AND grow the index
        val fps = b.keep(fpExtract(b.rows))
        val nRejected = fps.filter(!col("decoded")).count()
        val decoded = fps.filter(col("decoded"))
        val bands = b.keep(Multimodal.fpBands(decoded))
        // drop every batch doc within the Hamming radius of a stored
        // fingerprint (a re-sent id included: it is already ingested)
        // or of an earlier batch-mate (keep-first in batch)
        val stored = Multimodal.mediaBandsBefore(spark,
          graft.ext.Versioned.resolve(spark, indexPath), modality, bands,
          storedId)
        val drops = b.bc(b.keep(Multimodal.nearEarlier(stored, bands, b.bc)
          .select(col("doc_b").as("doc_id")).distinct()))
        val keptFps = decoded.join(drops, Seq("doc_id"), "left_anti")
        val survivors = b.keep(b.rows
          .join(decoded.select("doc_id"), Seq("doc_id"), "left_semi")
          .join(drops, Seq("doc_id"), "left_anti"))
        val nKept = survivors.count()
        BatchIndex.writePartition(survivors, batchId, corpusPath)
        Multimodal.appendFingerprintsToMediaFpIndex(keptFps, modality,
          indexPath, storedId)
        stats.seen.add(b.n)
        stats.rejected.add(nRejected)
        stats.kept.add(nKept)
        true
      }
    }
}
