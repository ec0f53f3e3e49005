package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ext.{Curation, TextAnalysis}

/** Streaming corpus curation — the ingest-time composition of the
  * batch funnel ([[graft.RunCuration]]) for a document stream:
  *
  *   canonicalize (NFC + whitespace + case, [[Curation.normalizeText]])
  *   → named-rule quality gate ([[TextAnalysis.qualityFilter]])
  *   → incremental near-dup screen + corpus + band index
  *     ([[DedupStream.processBatch]], the BatchIndex discipline)
  *
  * Each stage is the SAME operator the verified queries pin; this
  * object only sequences them per micro-batch, so a streaming corpus
  * and a batch-curated corpus apply identical semantics. Idempotence
  * and replay safety are inherited from [[DedupStream]] (batch_id
  * dynamic-overwrite writes, replay-excluding index reads); the
  * normalize+gate prefix is stateless, so replaying it is free.
  *
  * At 100 TB/day: normalize and gate are pure map-side codegen over
  * the batch, the near-dup screen joins batch bands against the
  * accumulated index (batch-sized work), and the corpus/index writes
  * touch only this batch's partitions.
  */
object CurateStream {

  final class CurateStats(spark: org.apache.spark.sql.SparkSession)
      extends Serializable {
    /** Raw docs entering the funnel. */
    val seen = spark.sparkContext.longAccumulator("curate_seen")
    /** Docs the benchmark-decontam Bloom gate dropped. */
    val decontamDropped =
      spark.sparkContext.longAccumulator("curate_decontam_dropped")
    /** Dedup-stage stats, whose ledger gates the whole funnel; its
      * `seen` is the gate's survivor count, its `kept` the corpus-bound
      * survivor count.
      */
    val dedup = new DedupStream.DedupStats(spark)
  }

  /** One idempotent micro-batch: canonicalize, quality-gate,
    * optionally decontam-screen, then the dedup ingest
    * ([[DedupStream.ingest]]) — all under ONE [[MicroBatch.commit]] of
    * the dedup stage's ledger, so every frame the stages cache
    * releases with the batch however it ends.
    *
    * `bench` is the benchmark's trained Bloom
    * ([[Curation.BloomState]] — positions AND the bit-space they were
    * built at, one value so build/probe sizes can't silently
    * disagree; built ONCE at attach time, ≤ mBits rows of broadcast
    * state per batch): an ingest-time benchmark screen, because
    * eval-set text that reaches the corpus poisons every model
    * trained on it. The screen is a Bloom, so it can OVER-drop
    * (deterministic FPs, measured in SCALING.md) but never
    * under-drop — the correct polarity for a contamination gate.
    * The screen runs on the CANONICALIZED batch text, so the filter
    * must be trained on canonicalized benchmark text too ([[start]]
    * normalizes it; a raw-text filter would under-drop on any
    * benchmark doc with uppercase or loose whitespace).
    */
  def processBatch(batch: DataFrame, batchId: Long, corpusPath: String,
      indexPath: String, stats: CurateStats,
      bench: Option[Curation.BloomState] = None): Unit =
    MicroBatch.commit(stats.dedup, batchId, batch
        .withColumn("text", Curation.normalizeText(col("text")))) { b =>
      val gated = TextAnalysis.qualityFilter(b.rows)
      // the dedup stage's handle: the gated batch, or what the
      // benchmark screen leaves of it; the dropped count is
      // gate-survivors minus screen-survivors
      val (screened, nDropped) = bench match {
        case None => (b.narrow(gated), 0L)
        case Some(state) =>
          val g = b.keep(gated)
          val out = b.narrow(g.join(
            Curation.bloomFlagged(g, state.bits, state.mBits),
            Seq("doc_id"), "left_anti"))
          (out, g.count() - out.n)
      }
      val committed = DedupStream.ingest(screened, corpusPath, indexPath,
        stats.dedup)
      // counters advance only AFTER the dedup stage returns (the
      // commit-then-count discipline every stream here follows): a
      // failing batch throws out of the line above, so a same-driver
      // retry can never double-count seen. An all-gated batch commits
      // nothing (nothing to write) — still exactly one seen.add, since
      // no exception means no retry.
      stats.seen.add(b.n)
      stats.decontamDropped.add(nDropped)
      committed
    }

  /** Attach the curation ingest to a documents stream; `benchmark`
    * docs (if any) are folded into a Bloom ONCE here and screened
    * against every batch.
    */
  def start(stream: DataFrame, corpusPath: String, indexPath: String,
      checkpointDir: String, stats: CurateStats,
      trigger: Trigger = MicroBatch.DefaultTrigger,
      benchmark: Option[DataFrame] = None,
      benchMBits: Int = Curation.BloomBits): StreamingQuery = {
    // train-once: persist the position table so per-batch screens
    // broadcast its CACHED rows, not the benchmark's plan. (Not a
    // collected LocalRelation: embedding ~10⁵ literal rows in every
    // batch's three join plans cost ~8× throughput — the planner
    // re-serializes and re-optimizes the literal table per broadcast.)
    // Trained on CANONICALIZED benchmark text, because the screen
    // probes canonicalized batch text — a raw-text filter would
    // under-drop on any benchmark doc with uppercase/loose whitespace.
    // mBits rides inside the BloomState so build and probe can't
    // disagree. The cache is filter-sized (≤ mBits rows) and is
    // released when THIS query terminates (listener below).
    val bench = benchmark.map { b =>
      val st = Curation.bloomState(
        b.withColumn("text", Curation.normalizeText(col("text"))),
        benchMBits)
      st.bits.persist().count() // materialize before the first batch
      st
    }
    val q = MicroBatch.start(stream, checkpointDir, trigger)(
      processBatch(_, _, corpusPath, indexPath, stats, bench))
    bench.foreach { st =>
      val spark = st.bits.sparkSession
      import org.apache.spark.sql.streaming.StreamingQueryListener
      val listener = new StreamingQueryListener {
        override def onQueryStarted(
            e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(
            e: StreamingQueryListener.QueryProgressEvent): Unit = ()
        override def onQueryTerminated(
            e: StreamingQueryListener.QueryTerminatedEvent): Unit =
          if (e.id == q.id) {
            st.bits.unpersist()
            spark.streams.removeListener(this)
          }
      }
      spark.streams.addListener(listener)
    }
    q
  }
}
