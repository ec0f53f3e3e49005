package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.{CorpusGraph, Dedup, Multimodal}

/** Streaming corpus-graph maintenance: each micro-batch of documents
  * `(doc_id, text, …)` lands (1) the docs in the corpus, (2) their
  * MinHash band rows in the stored band index, and (3) their near-dup
  * PAIR EVIDENCE in the persisted corpus graph — batch↔corpus cross
  * pairs via [[Dedup.incrementalNearDups]] against the accumulated
  * band index, batch-internal pairs via [[Dedup.minhashNearDups]] over
  * the batch's own bands, then [[CorpusGraph.append]]'s bounded
  * touched-component relabel.
  *
  * This is the EVIDENCE-PRESERVING twin of [[DedupStream]]: that leg
  * DROPS near-dups at ingest (keep-first), which is right when the
  * corpus must stay deduplicated online; this leg keeps every doc and
  * records the duplicate evidence as graph edges, which is right when
  * survivor policy is decided downstream (keep-best, source-priority —
  * the `dedup_survivor_policies` matrix) or when clusters themselves
  * are the product (evidence-ranked collapse lists, manifest
  * provenance). Same per-batch cost shape: banding + candidate
  * verification against candidates only, never corpus × corpus.
  *
  * MULTIMODAL streams add [[MediaLeg]]s: per trigger, each leg's
  * payloads decode once, extend the unified media fingerprint index
  * ([[Multimodal.appendFingerprintsToMediaFpIndex]]), and screen
  * against the pruned band sidecar — so the stream-grown graph holds
  * image/audio/video edges the moment a doc ingests, and a takedown
  * that trusts the graph under streaming ingest is complete without
  * waiting for a batch roll-up.
  *
  * Idempotence: corpus and band writes land under their own batch_id
  * partitions (the [[BatchIndex]] contract); the graph append is
  * replay-idempotent by [[CorpusGraph.append]]'s own pin (its pair
  * write rewrites exactly its batch partition and its relabel is a
  * fixed point on replay). Stream batch ids are offset by one — 0 is
  * reserved for batch base builds (the [[SearchStream]] rule).
  *
  * Verification needs document TEXT on both sides of a candidate pair,
  * so the cross-pair screen reads candidate docs back from the stored
  * corpus — pruned to the candidates' doc-id buckets, bounded by
  * evidence volume, never a corpus rescan.
  *
  * Layout note: the stream's corpus is (bucket, batch_id)-partitioned
  * for exactly that pruned read-back; a corpus written by a different
  * layout version cannot be mixed in place (Spark rejects conflicting
  * partition structures) — migrate with a one-time re-bucket rewrite
  * before resuming the checkpoint.
  */
object GraphStream {

  final class GraphStats(spark: org.apache.spark.sql.SparkSession)
      extends MicroBatch.Ledger {
    val seen = spark.sparkContext.longAccumulator("graph_seen")
    val pairs = spark.sparkContext.longAccumulator("graph_pairs")
    val resent = spark.sparkContext.longAccumulator("graph_resent")
    val mediaRejected =
      spark.sparkContext.longAccumulator("graph_media_rejected")
    /** Appends that took [[CorpusGraph.append]]'s full-relabel route —
      * a nonzero count over a steady stream means batches keep landing
      * in a component comparable to the whole graph (the
      * mega-component excision signal the [[CorpusGraph.AppendReport]]
      * carries; see `boilerplate_report` for finding the cluster).
      */
    val routedAppends =
      spark.sparkContext.longAccumulator("graph_routed_appends")
    /** Stale rows found by the opt-in per-ingest touched audits
      * ([[processBatch]] `auditTouched`), summed; any nonzero value is
      * a bookkeeping defect — run [[CorpusGraph.repairLabels]].
      */
    val auditStale =
      spark.sparkContext.longAccumulator("graph_audit_stale")
    /** Per-ingest touched audits run (the denominator for auditStale). */
    val touchedAudits =
      spark.sparkContext.longAccumulator("graph_touched_audits")
    /** Largest touchedMembers/graphMembers ratio any append PRICED
      * (appends under [[CorpusGraph.FullRelabelRouteMinMembers]] never
      * price — trigger-sized batches report nothing here). Approaching
      * 1.0 means ingest is concentrating in one cluster.
      */
    @volatile var maxTouchedRatio: Double = 0.0
    /** The most recent append's full report (null before the first). */
    @volatile var lastAppend: CorpusGraph.AppendReport = null
  }

  /** One perceptual-evidence leg of a multimodal graph stream: docs
    * whose `payloadCol` is non-null are decoded by `fpExtract`
    * (`(doc_id, payload)` → `(doc_id, decoded, fp_lo, fp_hi)` — the
    * [[MediaDedupStream.processBatch]] seam) and screened against the
    * unified media fingerprint index, whose `modality` partition this
    * leg's fingerprints also extend. Undecodable payloads keep their
    * corpus row (this stream preserves evidence; the doc's text
    * already ingested) — they are only invisible to the perceptual
    * screen, counted in [[GraphStats.mediaRejected]].
    */
  final case class MediaLeg(payloadCol: String, modality: String,
      fpExtract: DataFrame => DataFrame)

  /** The three standard legs over `image_payload` / `audio_payload` /
    * `video_payload` columns — a fully multimodal document stream.
    */
  def standardMediaLegs: Seq[MediaLeg] = Seq(
    MediaLeg("image_payload", "image", Multimodal.imageFpFromPayload(_)),
    MediaLeg("audio_payload", "audio", Multimodal.audioFpFromPayload(_)),
    MediaLeg("video_payload", "video", Multimodal.videoFpFromPayload(_)))

  /** Serializes the unified fp index's WRITE operations across
    * concurrent media legs: each leg writes only its own modality
    * partitions, but (a) the pre-sidecar backfill reads/writes ALL
    * modalities' band rows and (b) the `_graft_buckets` layout stamp
    * is one file — two legs racing either could tear the sidecar.
    * Reads stay lock-free (the `batch_id < storedId` replay exclusion
    * already hides concurrent same-batch writes from them).
    */
  private val fpAppendLock = new Object

  /** Doc-id-bucket count for the stream's corpus layout: candidate
    * verification needs candidate docs' TEXT back from the stored
    * corpus, and an unpruned read would rescan the whole corpus every
    * trigger — so the corpus lands under (bucket, batch_id) and the
    * read prunes to the candidates' buckets (≤ min(candidates,
    * buckets) partitions; the [[graft.ext.Multimodal.MediaFpBuckets]]
    * sizing rule).
    */
  val CorpusBuckets = 16L

  /** Planning width for CORPUS rows when a first macro-batch sizes a
    * new corpus layout ([[BatchIndex.autoBucketCount]]): these are
    * text documents (plus optional media payload columns), not
    * hash-sized index entries — the fixture docs encode ~0.3–1 KB and
    * real corpora run KBs, so the conservative 1 KB keeps a catch-up
    * first batch from creating text buckets 32× too coarse.
    */
  val CorpusDocRowBytes = 1024L

  /** One idempotent micro-batch ingest of a document stream (the
    * foreachBatch body of the leg, extracted so StreamingSpec can
    * replay it).
    *
    * `mediaLegs` adds PERCEPTUAL evidence to the same graph append:
    * each leg decodes its payload column once, extends the unified
    * media fingerprint index at `fpIndexPath` (the [[Multimodal
    * .appendFingerprintsToMediaFpIndex]] artifact — one fingerprint
    * store for batch and stream ingest), and screens cross
    * (batch × stored, pruned to the batch's hit band buckets via the
    * band sidecar) plus batch-internal pairs. All legs' pairs land in
    * ONE [[CorpusGraph.append]] with the text pairs — a takedown that
    * trusts the stream-grown graph sees image/audio/video edges the
    * moment they ingest, not at the next batch roll-up. (Two separate
    * streams could not do this: their pair writes would collide on
    * the graph's `batch_id` partitions.)
    *
    * [[MicroBatch.commit]] owns the batch's frames — those kept here
    * through its handle (the media legs' included, adopted from their
    * helper threads) and the library-internal candidate/shingle/delta
    * persists inside incrementalNearDups and CorpusGraph.append — and
    * releases them all when the batch ends: a micro-batch's plans are
    * unique per trigger, so none has cross-batch reuse value.
    */
  def processBatch(batch: DataFrame, batchId: Long, corpusPath: String,
      bandIndexPath: String, graphPath: String,
      stats: GraphStats, mediaLegs: Seq[MediaLeg] = Nil,
      fpIndexPath: Option[String] = None,
      auditTouched: Boolean = false): Unit =
    MicroBatch.commit(stats, batchId, batch) { b =>
      require(mediaLegs.isEmpty || fpIndexPath.isDefined,
        "media legs need the unified fingerprint index path")
      val spark = batch.sparkSession
      val storedId = batchId + 1 // 0 is reserved for batch base builds
      val trace = sys.env.contains("SPARK_GRAFT_TRACE")
      var tPrev = System.nanoTime()
      def mark(phase: String): Unit = if (trace) {
        val now = System.nanoTime()
        println(f"[gs-trace] $phase%-14s ${(now - tPrev) / 1e9}%6.2fs")
        tPrev = now
      }
      val nSeen = b.n
      nSeen > 0 && {
        mark("count")
        val batchBands = b.keep(Dedup.bandTable(b.rows))
        // THIS band index's / corpus's bucket counts: recorded layout
        // metadata, or the auto-sizing rule over the first batch for
        // NEW artifacts (band rows for the band index, docs for the
        // corpus) — probing with any other count would address the
        // wrong buckets
        val bandB = BatchIndex.bucketCountForWrite(spark, bandIndexPath,
          DedupStream.bandBucketCount, batchBands.count())
        val corpusB = BatchIndex.bucketCountForWrite(spark, corpusPath,
          CorpusBuckets, nSeen, rowBytes = CorpusDocRowBytes)
        // pruned index read: only the band buckets this batch's hashes
        // hit (the [[DedupStream.BandBuckets]] layout) — every use
        // below is an equi-join on (band_idx, band_hash) or a probe
        // for ids sharing those hashes, so rows in other buckets
        // cannot contribute. Kept for the batch: the
        // candidate-bucket discovery, the
        // re-sent-id probe, and incrementalNearDups' candidate join
        // all read this one pruned scan.
        val hitBandBuckets = batchBands
          .select(DedupStream.bandBucketAt(bandB).as("band_bucket"))
          .distinct()
          .collect().map(_.getLong(0)).toSeq
        mark("hitBuckets")
        val indexBands = b.keep(BatchIndex.readBeforeBuckets(spark,
          bandIndexPath, storedId, DedupStream.BandCols,
          batchBands.limit(0), "band_bucket", hitBandBuckets))
        // re-sent ids: a doc_id already in the stored band index has
        // been ingested — screening it again would put the SAME doc on
        // both sides of incrementalNearDups, whose shingle union then
        // doubles its rows and inflates every jaccard it touches
        // (2i/(2na+nb−2i) — borderline non-dups would enter the graph
        // as false pair evidence), and it would land a second corpus
        // row. Drop such rows: their evidence already exists. (Bands
        // are a pure function of text, so an identical re-send always
        // collides with its own stored rows; a CHANGED text under a
        // reused doc_id is an upstream contract violation — doc ids
        // are immutable identities here.)
        val resentIds = b.keep(indexBands
          .join(b.bc(b.rows.select("doc_id").distinct()),
            Seq("doc_id"), "left_semi")
          .select("doc_id").distinct())
        val nResent = resentIds.count()
        mark("resentProbe")
        val fresh =
          if (nResent == 0L) b.rows
          else b.keep(b.rows.join(b.bc(resentIds), Seq("doc_id"),
            "left_anti"))
        val freshBands =
          if (nResent == 0L) batchBands
          else b.keep(batchBands.join(b.bc(resentIds), Seq("doc_id"),
            "left_anti"))
        // corpus side of candidate verification: the band join names
        // the candidate index docs FIRST (hash-sized tables), their
        // bucket set prunes the corpus read to ≤ min(candidates,
        // buckets) partitions, and the replay-excluding batch_id
        // filter keeps a recovery replay from screening against its
        // own first attempt — per-trigger corpus IO is candidate-
        // bucket-sized, never a full corpus rescan
        val candBuckets = indexBands
          .join(b.bc(freshBands
            .select("band_idx", "band_hash").distinct()),
            Seq("band_idx", "band_hash"))
          .select(pmod(col("doc_id"), lit(corpusB)).as("bucket"))
          .distinct().collect().map(_.getLong(0)).toSeq
        mark("candBuckets")
        val corpusBefore = BatchIndex.readBeforeBuckets(spark,
          corpusPath, storedId, b.rows.columns.toIndexedSeq,
          b.rows.limit(0), "bucket", candBuckets)
        val cross = Dedup.incrementalNearDups(
            corpusBefore, fresh, indexBands = Some(indexBands),
            broadcastBatch = b.small)
          .filter(col("batch_doc") =!= col("index_doc")) // belt+braces
          .select(least(col("batch_doc"), col("index_doc")).as("doc_a"),
            greatest(col("batch_doc"), col("index_doc")).as("doc_b"))
        val internal = Dedup.minhashNearDups(fresh,
            bands = Some(freshBands))
          .select("doc_a", "doc_b")
        val textPairs = cross.unionByName(internal)
          .withColumn("modality", lit("text"))
        // perceptual legs: each decodes once, extends the unified fp
        // index, and contributes its pairs to the SAME graph append.
        // Multiple legs run CONCURRENTLY (each on its own thread over
        // the shared session): a leg's actions — decode count, hit-
        // bucket collect, fp append — are many small jobs that leave
        // the executor pool underused, so serial legs pay the queue
        // tax thrice; concurrency overlaps them (the intra-trigger
        // face of the six-leg FAIR fix, measured in SCALING.md
        // "graphmm3"). Index WRITES inside the legs stay serialized
        // ([[fpAppendLock]] in mediaLegPairs) — each leg writes only
        // its own modality partitions, but the shared band-sidecar
        // backfill and layout metadata must not race. A leg's kept
        // frames are collected on its helper thread and adopted into
        // THIS trigger's scope, so they release at the trigger
        // boundary — after the pair plans they back were consumed.
        val legPairs: Seq[DataFrame] =
          if (mediaLegs.isEmpty) Nil
          else if (mediaLegs.sizeIs == 1) {
            val p = mediaLegPairs(b, mediaLegs.head, fresh,
              fpIndexPath.get, storedId, stats)
            mark(s"leg:${mediaLegs.head.modality}")
            Seq(p)
          } else {
            import scala.concurrent.{Await, ExecutionContext, Future}
            import scala.concurrent.duration.Duration
            import scala.util.{Failure, Success, Try}
            val pool = java.util.concurrent.Executors
              .newFixedThreadPool(mediaLegs.size)
            implicit val ec: ExecutionContext =
              ExecutionContext.fromExecutor(pool)
            val futs = mediaLegs.map { leg =>
              Future {
                val t0 = System.nanoTime()
                val r = graft.ext.Scratch.collectTracked(
                  mediaLegPairs(b, leg, fresh, fpIndexPath.get,
                    storedId, stats))
                if (trace) println(f"[gs-trace] leg:${leg.modality}%-10s "
                  + f"${(System.nanoTime() - t0) / 1e9}%6.2fs (concurrent)")
                r
              }
            }
            // settle ALL legs before adopting/rethrowing: a fail-fast
            // await would leak the successful legs' collected frames
            val settled: Seq[Try[(DataFrame,
                Seq[org.apache.spark.sql.Dataset[_]])]] =
              try Await.result(
                Future.sequence(futs.map(_.transform(Success(_)))),
                Duration.Inf)
              finally pool.shutdown()
            settled.foreach {
              case Success((_, frames)) => graft.ext.Scratch.adopt(frames)
              case Failure(_) => ()
            }
            settled.collectFirst { case Failure(e) => throw e }
            mark("legs(conc)")
            settled.map(_.get._1)
          }
        val batchPairs = legPairs.foldLeft(textPairs)(_.unionByName(_))
        // EVERY fresh doc lands (evidence-preserving — no near-dup
        // drops; only exact id re-sends are deduplicated), bucketed
        // for the pruned read-back above; pairs and relabel go
        // through the graph's own idempotent append
        BatchIndex.ensureBucketMeta(spark, corpusPath, corpusB)
        BatchIndex.writePartition(
          fresh.withColumn("bucket",
            pmod(col("doc_id"), lit(corpusB))),
          storedId, corpusPath, bucketCol = Some("bucket"))
        BatchIndex.ensureBucketMeta(spark, bandIndexPath, bandB)
        BatchIndex.writePartition(
          freshBands.withColumn("band_bucket",
            DedupStream.bandBucketAt(bandB)),
          storedId, bandIndexPath, bucketCol = Some("band_bucket"))
        mark("writes")
        // no pre-count of batchPairs: append persists its own
        // projection of the plan and its report carries the row count,
        // so counting here would just materialize the same pairs plan
        // (decode included) one extra time per trigger
        val report = CorpusGraph.append(spark, graphPath, batchPairs,
          storedId)
        mark("graphAppend")
        stats.seen.add(nSeen)
        stats.resent.add(nResent)
        stats.pairs.add(report.batchPairRows)
        if (report.routedFullRelabel) stats.routedAppends.add(1L)
        if (report.graphMembers > 0L) {
          val ratio =
            report.touchedMembers.toDouble / report.graphMembers
          if (ratio > stats.maxTouchedRatio)
            stats.maxTouchedRatio = ratio
        }
        stats.lastAppend = report
        // opt-in per-ingest health monitor (~1.5× append cost — a
        // knob, not a default): audit exactly the components this
        // batch touched, seeded from its own just-written pair
        // partition (a pruned read; the batchPairs plan must not
        // recompute its decodes for a seed set)
        if (auditTouched) {
          val seed = CorpusGraph.readPairs(spark, graphPath)
            .filter(col("batch_id") === storedId)
          val audit = CorpusGraph.staleLabelCountTouched(spark,
            graphPath, seed.select(col("doc_a").as("doc_id"))
              .unionByName(seed.select(col("doc_b").as("doc_id"))))
          stats.touchedAudits.add(1L)
          stats.auditStale.add(audit.stale)
          mark("touchedAudit")
        }
        true
      }
    }

  /** One media leg's pair evidence for a micro-batch, with the side
    * effect of extending the unified fingerprint index: decode
    * `fresh`'s non-null payloads once, read the stored sidecar pruned
    * to the batch's hit band buckets (migrating a pre-sidecar root in
    * place — the [[MediaDedupStream]] discipline), screen cross
    * (stored × batch) and batch-internal pairs with the exact Hamming
    * verify (pigeonhole-lossless at ≤ [[Multimodal.AHashMaxHamming]]),
    * and append the batch fingerprints under `storedId`. Emits
    * `(doc_a, doc_b, modality)`. Subset-exact: stored pairs ∪ these =
    * a full re-screen of the grown index's modality slice — the
    * append ≡ rebuild contract's media face.
    *
    * A doc whose fingerprint already sits in the index under its own
    * id (a media re-send the text probe missed — only reachable when
    * the doc's text produced no bands) is screened out of the fp
    * append and the pair screen; its evidence already exists.
    */
  private def mediaLegPairs(b: MicroBatch.Batch, leg: MediaLeg,
      fresh: DataFrame, fpIndexPath: String, storedId: Long,
      stats: GraphStats): DataFrame = {
    val spark = fresh.sparkSession
    def emptyPairs = spark.range(0).select(col("id").as("doc_a"),
      col("id").as("doc_b"), lit(leg.modality).as("modality"))
    if (!fresh.columns.contains(leg.payloadCol)) return emptyPairs
    val fps = b.keep(leg.fpExtract(
      fresh.filter(col(leg.payloadCol).isNotNull)
        .select(col("doc_id"), col(leg.payloadCol).as("payload"))))
    stats.mediaRejected.add(fps.filter(!col("decoded")).count())
    val decoded0 = fps.filter(col("decoded"))
      .select("doc_id", "decoded", "fp_lo", "fp_hi")
    if (decoded0.isEmpty) return emptyPairs
    val bands0 = b.keep(Multimodal.fpBands(
      decoded0.select("doc_id", "fp_lo", "fp_hi")))
    val root = graft.ext.Versioned.resolve(spark, fpIndexPath)
    // the ROOT's bucket count (sidecar layout metadata) — see
    // [[MediaDedupStream.processBatch]]
    val sidecarB = Multimodal.mediaBandBucketCountOf(spark, root)
    val hit = bands0
      .select(Multimodal.mediaBandBucketAt(sidecarB).as("band_bucket"))
      .distinct().collect().map(_.getLong(0)).toSeq
    def emptyBands = Multimodal.fpBands(
      decoded0.select("doc_id", "fp_lo", "fp_hi").limit(0))
    val indexBands = b.keep(
      if (hit.isEmpty) emptyBands
      else Multimodal.mediaFpBandsPruned(spark, root, leg.modality,
          hit, storedId)
        .getOrElse {
          // pre-sidecar root: one-time in-place backfill (a pure
          // projection of stored fingerprints), then serve pruned.
          // Under the write lock, with a re-probe first: a concurrent
          // leg may have built the sidecar while this one waited
          fpAppendLock.synchronized {
            Multimodal.mediaFpBandsPruned(spark, root, leg.modality,
                hit, storedId)
              .getOrElse {
                if (Multimodal.backfillMediaFpBands(spark, root) == 0L)
                  emptyBands // no data component yet — first media batch
                else Multimodal.mediaFpBandsPruned(spark, root,
                  leg.modality, hit, storedId).get
              }
          }
        })
    val mediaResent = b.keep(indexBands
      .join(b.bc(decoded0.select("doc_id").distinct()),
        Seq("doc_id"), "left_semi")
      .select("doc_id").distinct())
    // counting here ALSO materializes indexBands' cache before the fp
    // append below lands new files under the same root
    val nMediaResent = mediaResent.count()
    val decoded =
      if (nMediaResent == 0L) decoded0
      else b.keep(decoded0.join(b.bc(mediaResent), Seq("doc_id"),
        "left_anti"))
    val bands =
      if (nMediaResent == 0L) bands0
      else b.keep(bands0.join(b.bc(mediaResent), Seq("doc_id"),
        "left_anti"))
    // cross pairs: pruned stored bands × batch bands, exact verify —
    // evidence, not drops (both sides keep their corpus rows)
    val cross = indexBands.as("i").join(b.bc(bands.as("b")),
        col("i.band_idx") === col("b.band_idx")
          && col("i.band_val") === col("b.band_val")
          && col("i.doc_id") =!= col("b.doc_id"))
      .filter(Multimodal.fpHamming(col("i.fp_lo"), col("i.fp_hi"),
        col("b.fp_lo"), col("b.fp_hi")) <= Multimodal.AHashMaxHamming)
      .select(least(col("i.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("i.doc_id"), col("b.doc_id")).as("doc_b"))
      .distinct() // a pair can collide in several bands
    val internal = Multimodal.bandedHamming64(
        decoded.select("doc_id", "fp_lo", "fp_hi"),
        Multimodal.AHashMaxHamming)
      .select("doc_a", "doc_b")
    fpAppendLock.synchronized {
      Multimodal.appendFingerprintsToMediaFpIndex(decoded, leg.modality,
        fpIndexPath, storedId)
    }
    cross.unionByName(internal)
      .withColumn("modality", lit(leg.modality))
  }
}
