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
  * table the screen joins on is DERIVED from stored fingerprints at
  * read time ([[Multimodal.fpBands]] — three column ops per row),
  * which is why no separate band index needs to persist.
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

  /** Test seam over [[BatchIndex.TriggerBroadcastMaxDocs]] (see
    * [[GraphStream.triggerBroadcastBound]]).
    */
  @volatile private[graft] var triggerBroadcastBound: Long =
    BatchIndex.TriggerBroadcastMaxDocs

  final class MediaStats(spark: org.apache.spark.sql.SparkSession)
      extends MicroBatch.Ledger {
    val seen = spark.sparkContext.longAccumulator("media_seen")
    val rejected = spark.sparkContext.longAccumulator("media_rejected")
    val kept = spark.sparkContext.longAccumulator("media_kept")
  }

  /** Batch docs whose fingerprint sits within the Hamming radius of an
    * index entry, or of an earlier batch-mate (keep-first in batch).
    */
  private def dropSet(batchBands: DataFrame, index: DataFrame)
      : DataFrame = {
    // no id guard on the index side: a re-sent doc_id is Hamming-0
    // near its own index entry and must drop (it is already ingested)
    def near(a: DataFrame, b: DataFrame, keepFirst: Boolean): DataFrame =
      a.as("a").join(b.as("b"),
          col("a.band_idx") === col("b.band_idx")
            && col("a.band_val") === col("b.band_val")
            && (if (keepFirst) col("b.doc_id") > col("a.doc_id")
                else lit(true)))
        .filter(Multimodal.fpHamming(col("a.fp_lo"), col("a.fp_hi"),
          col("b.fp_lo"), col("b.fp_hi")) <= Multimodal.AHashMaxHamming)
        .select(col("b.doc_id"))
    near(index, batchBands, keepFirst = false)
      .unionByName(near(batchBands, batchBands, keepFirst = true))
      .distinct()
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
    MicroBatch.commit(stats, batchId) {
      val spark = batch.sparkSession
      val storedId = batchId + 1 // 0 is reserved for batch base builds
      val cached = batch.persist()
      try {
        val nSeen = cached.count()
        nSeen > 0 && {
          // batch-derived drop sets broadcast only while the trigger is
          // trigger-sized (BatchIndex.TriggerBroadcastMaxDocs — a
          // catch-up macro-batch takes plain joins; identical results)
          def bc(df: DataFrame): DataFrame =
            if (nSeen <= triggerBroadcastBound) broadcast(df)
            else df
          // every frame this batch persists, released however it ends
          val held = scala.collection.mutable.Buffer.empty[DataFrame]
          def keep(df: DataFrame): DataFrame = { held += df; df.persist() }
          // decode ONCE: these rows screen the batch AND grow the index
          val fps = keep(fpExtract(cached))
          try {
            val nRejected = fps.filter(!col("decoded")).count()
            val keptFpCols = fps.filter(col("decoded"))
              .select("doc_id", "fp_lo", "fp_hi")
            val bands = keep(Multimodal.fpBands(keptFpCols))
            // the accumulated fingerprints visible to this batch,
            // PRUNED to the band buckets the batch hits (the band
            // sidecar layout — [[Multimodal.MediaBandBuckets]]): a
            // Hamming-≤3 neighbor shares ≥1 band (pigeonhole), so rows
            // in other buckets cannot drop anything. Strictly-before
            // batches only (replay-excluding — the readBefore
            // contract). A pre-sidecar root is MIGRATED in place on
            // first contact ([[Multimodal.backfillMediaFpBands]] — a
            // pure projection of stored fingerprints, no decode), then
            // served pruned like any other: one bounded rewrite instead
            // of a permanent full-slice screen.
            val root = graft.ext.Versioned.resolve(spark, indexPath)
            // the ROOT's bucket count (its sidecar layout metadata) —
            // probing with any other count addresses the wrong buckets
            val bandB = Multimodal.mediaBandBucketCountOf(spark, root)
            val hit = bands
              .select(Multimodal.mediaBandBucketAt(bandB)
                .as("band_bucket"))
              .distinct().collect().map(_.getLong(0)).toSeq
            def emptyBands = Multimodal.fpBands(keptFpCols.limit(0))
            val indexBands =
              if (hit.isEmpty) emptyBands
              else Multimodal.mediaFpBandsPruned(spark, root, modality,
                  hit, storedId)
                .getOrElse {
                  if (Multimodal.backfillMediaFpBands(spark, root) == 0L)
                    emptyBands // no data component yet — first batch
                  else Multimodal.mediaFpBandsPruned(spark, root,
                    modality, hit, storedId).get
                }
            val drops = keep(dropSet(bands, indexBands))
            val keptFps = fps.filter(col("decoded"))
              .join(bc(drops), Seq("doc_id"), "left_anti")
            val survivors = keep(cached
              .join(fps.filter(col("decoded")).select("doc_id"),
                Seq("doc_id"), "left_semi")
              .join(bc(drops), Seq("doc_id"), "left_anti"))
            val nKept = survivors.count()
            BatchIndex.writePartition(survivors, batchId, corpusPath)
            Multimodal.appendFingerprintsToMediaFpIndex(keptFps, modality,
              indexPath, storedId)
            stats.seen.add(nSeen)
            stats.rejected.add(nRejected)
            stats.kept.add(nKept)
            true
          } finally held.foreach(_.unpersist())
        }
      } finally { cached.unpersist(); () }
    }
}
