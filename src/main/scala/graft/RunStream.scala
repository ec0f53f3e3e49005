package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ext.Versioned
import graft.streaming.{BatchIndex, EventPipeline, MicroBatch}

/** Runnable streaming demo without a Kafka broker: the `rate` source
  * synthesizes CustomerEvent payloads (with the reference's anomaly mix
  * via the same residue arithmetic as [[CustomerEvents]]), feeding the
  * full parse -> curate -> watermark -> dual-sink pipeline for a bounded
  * run (`sbt "runMain graft.RunStream [seconds] [outDir] [rowsPerSec]
  * [mode]"`). The mode is a wire format, `json` (default, from_json
  * path) or `avro` (the producer's binary-datum contract through the
  * native codec, [[EventPipeline.parseAvro]]), or another stream of
  * `modes`; an unknown one lists them and exits 2. With a broker, swap
  * the source for [[EventPipeline.fromKafka]] — the rest is unchanged.
  */
object RunStream {

  /** End-of-run funnel counters for [[runFull]]: per-stream row
    * accounting, peak streaming-state memory, and aggregate
    * shuffle-write volume (the number that decides whether a stage
    * would reshuffle a 100 TB/day stream or only its derived
    * summaries). Shuffle volume and `wallSec` cover the streaming
    * window — first leg started to last leg terminated — as
    * [[Metrics.record]] measured it.
    */
  final case class FullSummary(events: Long, late: Long, dqFailed: Long,
      mainRows: Long, quarantineRows: Long,
      docsSeen: Long, docsKept: Long, corpusRows: Long,
      dedupIndexRows: Long, hhSymbols: Long, hllDays: Long,
      sessionsEmitted: Long, sessionStateRows: Long,
      graphDocs: Long, graphCorpusRows: Long, graphPairs: Long,
      graphLabeledDocs: Long, graphStale: Long,
      graphRoutedAppends: Long, graphMaxTouchedRatio: Double,
      stateBytesMax: Long, shuffleWriteBytes: Long, wallSec: Double)

  /** Synthetic CustomerEvent payload struct over a rate source (the
    * reference's anomaly mix via the same residue arithmetic as
    * [[CustomerEvents]]) — shared by the single-pipeline demo and the
    * full composition run.
    */
  private def eventStruct: org.apache.spark.sql.Column = {
    val uid = col("value") % 1000
    val nowMs = unix_millis(col("timestamp"))
    struct(
      concat(lit("cust_"), uid.cast("string")).as("id"),
      concat(lit("user_"), uid.cast("string")).as("name"),
      when(col("value") % 53 === 0, "invalid-email")
        .otherwise(concat(lit("u"), uid.cast("string"), lit("@example.com")))
        .as("email"),
      (nowMs - (uid % 730 + 1) * 86400000L).as("signup_ts"),
      when(uid % 10 === 0, "US").when(uid % 10 === 1, "CA")
        .when(uid % 10 === 2, "GB").when(uid % 10 === 3, "DE")
        .otherwise("FR").as("country"),
      when(uid % 5 === 0, "free").when(uid % 5 === 1, "basic")
        .when(uid % 5 === 2, "premium").otherwise("enterprise").as("plan"),
      // 5% late by 1-24h, like the reference's injector
      (nowMs - when(col("value") % 20 === 0,
        (col("value") % 24 + 1) * 3600000L).otherwise(0L)).as("event_ts"),
      when(col("value") % 100 === 0, 2).otherwise(1).as("version"),
      lit(null).cast("boolean").as("marketing_opt_in"),
      lit(null).cast("string").as("customer_segment"))
  }

  /** Shared synthetic-document skeleton: every value ≡ 7 (mod 10)
    * reuses the seed of value − 7, planting a ~10% duplicate rate the
    * dedup legs are asserted against; text is `minLen + (seed mod
    * lenSpread)` words hash-drawn from the caller's vocabulary. The
    * duplicate-planting rule lives ONLY here so the demo streams
    * can't diverge from the SCALING.md contract. Works over ANY frame
    * with a `value` column — the rate streams AND the static
    * benchmark table the curatebench mode trains its decontam Bloom
    * on (same generator → real gram overlap between bench and stream).
    */
  private def plantedDupStream(docs: org.apache.spark.sql.DataFrame,
      vocabWords: Seq[String], prefix: String, minLen: Int,
      lenSpread: Int): org.apache.spark.sql.DataFrame = {
    val seed = when(col("value") % 10 === 7, col("value") - 7)
      .otherwise(col("value"))
    val vocab = array(vocabWords.map(lit(_)): _*)
    val n = vocabWords.size
    val words = transform(
      sequence(lit(1), lit(minLen) + pmod(seed, lit(lenSpread))),
      i => element_at(vocab,
        (pmod(xxhash64(seed, i), lit(n)) + 1).cast("int")))
    docs.select(col("value").as("doc_id"),
      concat(lit(prefix), array_join(words, " ")).as("text"))
  }

  /** Word-salad document stream with the planted ~10% duplicate rate —
    * shared by the dedup demo and the full composition run.
    */
  private def docStream(rate: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    plantedDupStream(rate, (0 until 30).map(i => s"w$i"), "", 40, 30)

  /** Gate-passing document stream for the curation demo: letter-only
    * vocabulary (half 4-letter, half 5-letter words → mean word
    * length ~4.5, inside the quality gate's 4.0–5.2 band), a "the
    * and" prefix satisfying the distinct-stopword floor, 30–41
    * tokens over a 60-word vocabulary (TTR comfortably above the
    * floor), and the same planted ~10% duplicate rate as
    * [[docStream]] — so the stream exercises the GATE-PASS path while
    * the dedup leg still has twins to drop.
    */
  private def curatedDocStream(rate: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val vocabWords = (0 until 60).map { i =>
      val c1 = ('a' + i % 26).toChar
      val c2 = ('a' + (i * 7 + 3) % 26).toChar
      val c3 = ('a' + i / 26).toChar
      if (i % 2 == 0) s"$c1$c2${c3}t" else s"$c1$c2${c3}ts"
    }
    plantedDupStream(rate, vocabWords, "the and ", 28, 12)
  }

  /** Rows a bounded run actually committed to a parquet sink. Counts
    * COMMITTED batches only: stop() can cancel an in-flight
    * foreachBatch between its sink write and its stats update (the
    * documented at-least-once window a checkpoint replay rewrites), so
    * an unfiltered count could exceed the accumulators — and a run
    * shorter than its first trigger has no sink at all, which must
    * read as 0 ([[Versioned.readOr]]). Any other failure (a corrupt
    * sink) propagates: it must not read as an empty run.
    */
  private[graft] def committedRows(spark: SparkSession, p: String,
      committed: Long = Long.MaxValue): Long =
    Versioned.readOr(0L) {
      val df = spark.read.parquet(p)
      (if (df.columns.contains("batch_id"))
         df.filter(col("batch_id") <= committed)
       else df).count()
    }

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"

  /** Wall seconds since `t0` (a `System.nanoTime`): a bounded run's
    * rate divides by the time its query ran from start to stop, which
    * a cold first trigger or the first-commit grace stretches past the
    * nominal run seconds.
    */
  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Extends a bounded run past its duration while `leg` has committed
    * no batch and its query still runs, for at most 90 s: a cold first
    * trigger can be a run's longest, and stopping it mid-flight would
    * report an empty result and leave the interrupted trigger as a
    * bootstrap crash window (real, replay-recoverable — but not what a
    * measurement run is for).
    */
  private def graceFirstCommit(leg: MicroBatch.Ledger,
      q: StreamingQuery): Unit = {
    val grace = System.nanoTime() + 90e9.toLong
    while (leg.lastCommitted < 0L && q.isActive && System.nanoTime() < grace)
      Thread.sleep(500L)
  }

  /** Sets the RocksDB state-store provider for [[runFull]]'s
    * sessionizer leg unless the session already has a provider set
    * explicitly (e.g. through `SPARK_GRAFT_CONF`), which then stands.
    * True when it set one, so the caller unsets exactly what it set.
    */
  private[graft] def useRocksDbUnlessSet(spark: SparkSession): Boolean =
    !spark.conf.getAll.contains(ProviderKey) && {
      spark.conf.set(ProviderKey,
        "org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider")
      true
    }

  /** Committed-only graph accounting for a bounded run: stop() can
    * interrupt a trigger between its pair write and its relabel — the
    * documented at-least-once window a checkpoint RESUME replays — so
    * the health audit must compare labels against COMMITTED pair
    * partitions only; auditing the in-flight partition reports that
    * crash window, not the stream's correctness. One more stop() race
    * sits on the OTHER side of the boundary: `stats.lastCommitted` is
    * assigned only after `CorpusGraph.append` returns, so a stop
    * landing between append completion and that assignment leaves the
    * in-flight batch's RELABEL in the label table while its pairs sit
    * above the committed filter — labels then disagree with the
    * committed pair set even though the graph is perfectly consistent.
    * The audit therefore accepts labels that match the labeling of
    * EITHER consistent boundary: the committed prefix, or the prefix
    * including the one possibly-landed in-flight batch — stale = the
    * minimum of the two disagreement counts (a genuinely stale table
    * matches neither; a healthy one matches exactly one).
    *
    * Returns (committed pair rows, label rows, stale count); all 0
    * when the run stopped before the first commit, and the SENTINEL
    * (-1, -1, -1) when the audit itself crashed — a crashed audit must
    * never read as a passing (stale = 0) health check.
    */
  private def graphAudit(spark: SparkSession, path: String,
      committed: Long): (Long, Long, Long) =
    try Versioned.readOr((0L, 0L, 0L)) {
      // absent graph = the run stopped before its first commit — a
      // legitimate empty result, not an audit failure
      import graft.ext.{CorpusGraph, Dedup}
      val allPairs = CorpusGraph.readPairs(spark, path)
      // stream batch ids are offset by one in the graph artifact
      val pairs = allPairs.filter(col("batch_id") <= committed + 1L)
      val labels = CorpusGraph.readLabels(spark, path)
      def staleVs(p: DataFrame): Long = {
        val expect = Dedup.clusterLabels(p.select("doc_a", "doc_b"))
        labels.join(expect, Seq("doc_id", "label"), "left_anti").count() +
          expect.join(labels, Seq("doc_id", "label"), "left_anti").count()
      }
      val staleCommitted = staleVs(pairs)
      // second boundary only when an in-flight batch actually landed
      // pairs past the committed prefix (skip the duplicate labeling
      // otherwise) — and only its own +1 batch, never arbitrary drift
      val inFlight =
        allPairs.filter(col("batch_id") === committed + 2L)
      val stale =
        if (staleCommitted == 0L || inFlight.isEmpty) staleCommitted
        else math.min(staleCommitted,
          staleVs(pairs.unionByName(inFlight)))
      (pairs.count(), labels.count(), stale)
    } catch {
      case e: Throwable =>
        // surfaced, not swallowed: the printed summary must show WHY
        // the health numbers are absent
        System.err.println(s"[graph-audit] FAILED: " +
          s"${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(300))
        (-1L, -1L, -1L)
    }

  /** The COMPOSED streaming surface end to end, spec-drivable (the
    * CLI `full` mode only adds session setup and printing): six
    * concurrent bounded streams over rate sources —
    *
    *   1. CustomerEvent JSON → parse → curate → dual sink
    *      (main + quarantine parquet),
    *   2. event stream → [[graft.streaming.SketchStream]] HLL index
    *      ingest (distinct-users-per-day serving index),
    *   3. document stream → [[graft.streaming.DedupStream]]
    *      (incremental near-dup screen + corpus + band index),
    *   4. the same document stream → [[graft.streaming
    *      .HeavyHitterStream]] (mergeable Misra–Gries counters),
    *   5. user-event stream → [[graft.streaming.SessionStream]]
    *      sessionization — the one leg with REAL streaming state
    *      (flatMapGroupsWithState, one open session per live user),
    *      run under the RocksDB state-store provider (unless one is
    *      set explicitly, see [[useRocksDbUnlessSet]]) so the composed
    *      posture carries off-heap state next to the foreachBatch legs,
    *   6. a MULTIMODAL document stream (planted text twins + PNG
    *      payloads on the twin-pair residues) → [[graft.streaming
    *      .GraphStream]] with an image [[graft.streaming.GraphStream
    *      .MediaLeg]] — the evidence-preserving leg: every doc kept,
    *      text + perceptual pair evidence landing in the persisted
    *      corpus graph per trigger, fingerprints extending the unified
    *      media fp index. The heaviest per-trigger writer; composing
    *      it here is what measures its interaction with the other
    *      legs' disk/cache pressure.
    *
    * — then reports the funnel counters, sink/index row counts,
    * emitted sessions + peak session-state rows, graph evidence counts
    * + the stale-label audit, peak state-store memory across all six
    * queries, and total shuffle-write bytes.
    * At 100 TB/day each leg keeps the contract already pinned
    * per-stream: per-batch work is batch-sized, index growth is
    * summary-sized, state is live-users-sized, and nothing re-reads
    * the corpus.
    *
    * SCHEDULING: each leg starts under its own FAIR-scheduler pool
    * (`spark.scheduler.pool` is set on the calling thread before each
    * `start()`; the query's execution thread inherits it at creation).
    * With `spark.scheduler.mode=FAIR` but NO per-query pool, every
    * leg's task sets land in the single `default` pool, whose internal
    * mode is FIFO — scheduling is then identical to FIFO mode and the
    * graph leg's ~30-job triggers head-of-line block the other five.
    * Distinct pools (created on demand, weight 1 each) are what make
    * FAIR actually interleave legs. Harmless under FIFO mode (the
    * property is ignored), so the A/B stays one conf
    * (`SPARK_GRAFT_CONF=spark.scheduler.mode=FIFO`).
    *
    * TRIGGERS: five legs run at `trigger`; the graph leg runs at 3× its
    * interval: its per-trigger cost is dominated by fixed per-action
    * overhead (~30 queued jobs per trigger — banding, pruned reads,
    * decode, fp append, relabel — each waiting its turn on the executor
    * pool the other legs share), so fewer, larger batches amortize the
    * queue tax; its artifacts are indexes and evidence, not
    * latency-sensitive sinks (measured: SCALING.md "Six-leg
    * composition", r16). A non-ProcessingTime `trigger` is used for the
    * graph leg unchanged.
    */
  def runFull(spark: SparkSession, outDir: String, seconds: Int,
      rowsPerSecond: Int,
      trigger: Trigger = Trigger.ProcessingTime("5 seconds"))
      : FullSummary = {
    import graft.streaming.{DedupStream, GraphStream, HeavyHitterStream,
      SessionStream, SketchStream}
    // the sessionizer leg runs under RocksDB (off-heap state — the
    // measured posture for large live-user counts) unless a provider is
    // set explicitly; session-scoped conf, unset on exit if set here
    val setProvider = useRocksDbUnlessSet(spark)
    try {
      val ceStats = new EventPipeline.RunStats(spark)
      val skStats = new SketchStream.SketchStats(spark)
      val ddStats = new DedupStream.DedupStats(spark)
      val hhStats = new HeavyHitterStream.HhStats(spark)
      val sessEmitted =
        spark.sparkContext.longAccumulator("full_sessions_emitted")
      val gStats = new GraphStream.GraphStats(spark)
      val ((queries, qSess), rec) = Metrics.record(spark) {
        def rateSource() = spark.readStream.format("rate")
          .option("rowsPerSecond", rowsPerSecond.toString).load()
        // graph-leg trigger: 3× the base interval (see Scaladoc); a
        // non-ProcessingTime base trigger passes through unchanged
        val graphTrigger = trigger match {
          case t: org.apache.spark.sql.execution.streaming
              .ProcessingTimeTrigger =>
            Trigger.ProcessingTime(s"${t.intervalMs * 3} milliseconds")
          case other => other
        }
        // each leg's queries start under a leg-named FAIR pool (see
        // Scaladoc — without one, FAIR degenerates to FIFO); the pool
        // local property is inherited by the query's execution thread
        // at start()
        def inPool[T](pool: String)(body: => T): T = {
          spark.sparkContext.setLocalProperty("spark.scheduler.pool", pool)
          try body
          finally spark.sparkContext
            .setLocalProperty("spark.scheduler.pool", null)
        }

        val qCe = inPool("graft_ce")(EventPipeline.startDualSink(
          EventPipeline.curate(EventPipeline.parse(
            rateSource().select(to_json(eventStruct).as("value")))),
          s"$outDir/main", s"$outDir/quarantine", s"$outDir/ckpt_ce",
          ceStats, trigger))

        val evTypes = array(lit("view"), lit("click"), lit("purchase"),
          lit("error"), lit("login"))
        val qSk = inPool("graft_hll")(MicroBatch.start(
          rateSource().select(col("timestamp").as("ts"),
            element_at(evTypes, (col("value") % 5 + 1).cast("int"))
              .as("event_type"),
            concat(lit("u"), (col("value") % 97).cast("string"))
              .as("user_id")),
          s"$outDir/ckpt_hll", trigger)(
          SketchStream.processBatch(_, _, s"$outDir/hll_index", skStats)))

        val qDd = inPool("graft_dedup")(MicroBatch.start(
          docStream(rateSource()), s"$outDir/ckpt_dd", trigger)(
          DedupStream.processBatch(_, _, s"$outDir/corpus",
            s"$outDir/dd_index", ddStats)))

        // skewed symbol stream for the heavy-hitter leg: the word-salad
        // docs are near-uniform over their vocabulary, which is exactly
        // the distribution Misra–Gries (correctly) reports nothing for —
        // a hot symbol ("h", 3/18 of the mass) gives the run a
        // guaranteed survivor to assert on (symbols are first chars,
        // the HeavyHitters fixture contract)
        val skew = array((Seq.fill(3)("h") ++ Seq.fill(2)("w")
          ++ "abcdefgijklmn".map(_.toString)).map(lit(_)): _*)
        val qHh = inPool("graft_hh")(MicroBatch.start(
          rateSource().select(col("value").as("doc_id"),
            element_at(skew,
              (pmod(xxhash64(col("value")), lit(18)) + 1).cast("int"))
              .as("text")),
          s"$outDir/ckpt_hh", trigger)(
          HeavyHitterStream.processBatch(_, _, s"$outDir/hh_index",
            hhStats)))

        // users cycle so a user's successive events arrive
        // ~nUsers/rowsPerSecond apart (2 s at the chosen ratio) — past
        // the 1 s gap, every revisit CLOSES the prior session, so the
        // leg exercises the full state churn at one row per live user
        val nUsers = math.max(rowsPerSecond.toLong * 2L, 100L)
        val qSess = inPool("graft_sess")(MicroBatch.start(
          SessionStream.sessions(
            rateSource().select(
              pmod(col("value"), lit(nUsers)).as("user_id"),
              col("timestamp").as("ts"),
              (pmod(col("value"), lit(100L)) / lit(10.0)).as("value")),
            gapMs = 1000L, watermarkDelay = "5 seconds"),
          s"$outDir/ckpt_sess", trigger) { (b, _) =>
          sessEmitted.add(b.count()); ()
        })

        // sixth leg: the evidence-preserving multimodal graph stream.
        // PNG payloads ride on the twin-pair residues only (ids ≡ 0 and
        // ≡ 7 mod 10 — the planted-duplicate rule pairs (v−7, v), so
        // both ends of every perceptual twin carry a payload while the
        // encode cost stays at ~20% of the doc rate)
        import spark.implicits._
        val imageLeg = Seq(GraphStream.MediaLeg("image_payload", "image",
          graft.ext.Multimodal.imageFpFromPayload(_)))
        val qGr = inPool("graft_graph")(MicroBatch.start(
          docStream(rateSource()).as[(Long, String)].map { case (id, t) =>
            (id, t,
              if (id % 10 == 0 || id % 10 == 7)
                graft.ext.Multimodal.pngHashPayload(id)
              else null)
          }.toDF("doc_id", "text", "image_payload"),
          s"$outDir/ckpt_g", graphTrigger)(
          GraphStream.processBatch(_, _, s"$outDir/corpus_g",
            s"$outDir/bands_g", s"$outDir/graph_g", gStats,
            mediaLegs = imageLeg, fpIndexPath = Some(s"$outDir/fp_g"))))

        val queries = Seq(qCe, qSk, qDd, qHh, qSess, qGr)
        Thread.sleep(seconds * 1000L)
        // the graph leg's first trigger is the composition's longest
        // (banding + decode + fp append + relabel, cold, under five
        // competing streams)
        graceFirstCommit(gStats, qGr)
        queries.foreach(q => if (q.isActive) q.stop())
        queries.foreach(_.awaitTermination())
        (queries, qSess)
      }
      val stateMax = queries.flatMap(_.recentProgress)
        .map(p => p.stateOperators.map(_.memoryUsedBytes).sum)
        .foldLeft(0L)(math.max)
      def rows(p: String, committed: Long = Long.MaxValue): Long =
        committedRows(spark, p, committed)
      val (_, gLabels, gStale) =
        graphAudit(spark, s"$outDir/graph_g", gStats.lastCommitted)
      val summary = FullSummary(
        events = ceStats.total.value, late = ceStats.late.value,
        dqFailed = ceStats.dqFailed.value,
        mainRows = rows(s"$outDir/main", ceStats.lastCommitted),
        quarantineRows =
          rows(s"$outDir/quarantine", ceStats.lastCommitted),
        docsSeen = ddStats.seen.value, docsKept = ddStats.kept.value,
        corpusRows = rows(s"$outDir/corpus", ddStats.lastCommitted),
        dedupIndexRows = rows(s"$outDir/dd_index", ddStats.lastCommitted),
        hhSymbols =
          // a run shorter than the HH leg's first trigger has no index
          Versioned.readOr(0L)(HeavyHitterStream.servedCounters(spark,
            s"$outDir/hh_index").count()),
        hllDays = rows(s"$outDir/hll_index"),
        sessionsEmitted = sessEmitted.value,
        sessionStateRows = qSess.recentProgress.toSeq
          .flatMap(_.stateOperators.toSeq).map(_.numRowsTotal)
          .foldLeft(0L)(math.max),
        graphDocs = gStats.seen.value,
        graphCorpusRows =
          // stream batch ids are offset by one in this leg's artifacts
          // (0 is reserved for batch base builds)
          rows(s"$outDir/corpus_g", gStats.lastCommitted + 1L),
        graphPairs = gStats.pairs.value,
        graphLabeledDocs = gLabels,
        graphStale = gStale,
        graphRoutedAppends = gStats.routedAppends.value,
        graphMaxTouchedRatio = gStats.maxTouchedRatio,
        stateBytesMax = stateMax,
        shuffleWriteBytes = rec.shuffleWriteBytes, wallSec = rec.seconds)
      // post-run maintenance, AFTER the summary's row accounting (a
      // compaction folds any uncommitted in-flight partition into -1,
      // which would shift the committed-only counts): all six streams
      // are stopped and awaited — the wired cadence for every
      // accreting index of this composition
      maintainAfterRun("full-dd-index", BatchIndex.maintain(spark,
        DedupStream.BandIndex, s"$outDir/dd_index"))
      // graph artifacts fold only through the committed stored id
      // (lastCommitted + 1 — stream batch ids are offset by one): an
      // interrupted trigger's bands/fps must stay under their own
      // batch_id or the replay's resend probe sees its first attempt.
      // A run that committed NOTHING (lastCommitted = -1) skips them:
      // its bound would exclude every batch earlier runs committed,
      // so the fold could only re-fold the old -1 partition — wasted
      // IO, no progress (the volatile counter only knows THIS run)
      if (gStats.lastCommitted >= 0L) {
        maintainAfterRun("full-graph-bands", BatchIndex.maintain(spark,
          DedupStream.BandIndex, s"$outDir/bands_g",
          gStats.lastCommitted + 1L))
        maintainAfterRun("full-graph-fp", BatchIndex.maintain(spark,
          graft.ext.Multimodal.MediaFpIndex, s"$outDir/fp_g",
          gStats.lastCommitted + 1L))
      }
      // the two sum/union-served sketch indexes accrete one directory
      // per trigger (no bucket level / day level) — same decay law,
      // and their declarations fold through a screen-first merge,
      // never a distinct fold
      maintainAfterRun("full-hll-index", BatchIndex.maintain(spark,
        SketchStream.HllIndex, s"$outDir/hll_index"))
      maintainAfterRun("full-hh-index", BatchIndex.maintain(spark,
        HeavyHitterStream.CounterIndex, s"$outDir/hh_index"))
      // pair-table cadence AFTER the summary's audit (its in-flight
      // boundary detection reads un-folded batch ids); the
      // folded_through screen keeps a replayed in-flight batch exact
      maintainAfterRun("full-graph-pairs", BatchIndex.maintain(spark,
        graft.ext.CorpusGraph.PairIndex, s"$outDir/graph_g"))
      summary
    } finally if (setProvider) spark.conf.unset(ProviderKey)
  }

  /** Post-run index maintenance: by the time this runs the stream is
    * stopped and its checkpoint committed (`runBounded` returned), so
    * the stream-stopped precondition of [[graft.streaming.BatchIndex
    * .maintain]] holds — this is the measured compaction cadence
    * (SCALING.md "Streaming compaction cadence") as a RUNNING code
    * path between bounded runs, not a runbook note. One printed line
    * per index: layout stats, the compaction outcome when one fired,
    * and the rebucket recommendation when the byte rule says the
    * layout drifted (reported, never auto-run — resizing changes
    * addressing and is a deliberate operator action).
    */
  private def maintainAfterRun(tag: String,
      m: => Option[BatchIndex.Maintenance]): Unit =
    try m.foreach { r =>
      val act = r.compacted
        .map { case (b, a) => s"compacted rows=$b->$a" }
        .getOrElse("no compact due")
      println(f"[maintain-$tag] dirs=${
          r.report.buckets * r.report.batchLevels} " +
        f"maxLevels=${r.report.maxLevelsPerBucket} " +
        f"MBperBucket=${r.report.meanBytesPerBucket / 1e6}%.3f $act" +
        (if (r.rebucketRecommended)
           s" rebucketRecommended->B=${r.report.recommendedBuckets}"
         else ""))
    } catch {
      // maintenance must never turn a successful run into a failure;
      // the next run's diagnostics see the same state again
      case e: Throwable => System.err.println(
        s"[maintain-$tag] FAILED: ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(200))
    }

  /** Mode per CLI name (the 4th argument, default `json`). */
  private val modes: Map[String, Cli => Unit] = Map(
    "full" -> (_.full()), "curate" -> (_.curate()),
    "curatebench" -> (_.curate()), "media" -> (_.media()),
    "video" -> (_.media()), "sessions" -> (_.sessions()),
    "graph" -> (_.graph()), "graphmm" -> (_.graph()),
    "graphmm3" -> (_.graph()), "dedup" -> (_.dedup()),
    "json" -> (_.events()), "avro" -> (_.events()))

  def main(args: Array[String]): Unit = {
    val wire = args.lift(3).getOrElse("json")
    val mode = modes.getOrElse(wire, {
      System.err.println(s"unknown mode '$wire'; modes: " +
        modes.keys.toSeq.sorted.mkString(" "))
      sys.exit(2)
    })
    val seconds = args.headOption.map(_.toInt).getOrElse(15)
    val outDir = args.lift(1).getOrElse("/tmp/graft_stream")
    val rowsPerSecond = args.lift(2).getOrElse("200").toInt
    val spark = SessionTuning.session(confs = Seq(
      // FAIR: FIFO lets one leg's ~30-job trigger head-of-line block
      // the other five — measured 8.6× on the composed graph leg
      // (703 → 6 030 docs/s, 360 s runs, SCALING.md "Six-leg
      // composition: the scheduler was the bottleneck") with every
      // other leg unharmed or faster. A/B:
      // SPARK_GRAFT_CONF=spark.scheduler.mode=FIFO
      "spark.scheduler.mode" -> "FAIR",
      // streaming OVERRIDE of the SessionTuning batch default (false):
      // a micro-batch trigger's per-batch frames are small by
      // construction, so size-based AQE coalescing folds every
      // trigger's index/sink writes into one task and serializes the
      // trigger — measured 15.3k -> 10.7k docs/s on the 30 s curate
      // leg. Latency-bound micro-batches want parallelism-first; the
      // size-based posture is for the batch/analytics sessions.
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "true"))
    try mode(new Cli(spark, wire, outDir, seconds, rowsPerSecond))
    finally spark.stop()
  }

  /** One CLI run: its arguments, its session and a method per mode. */
  private final class Cli(spark: SparkSession, wire: String,
      outDir: String, seconds: Int, rowsPerSecond: Int) {
    private def rate: DataFrame = spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond.toString).load()
    private val trigger = Trigger.ProcessingTime("5 seconds")

    // `full` mode: the composed surface — curate→dual-sink plus the
    // three index-ingest streams plus the stateful sessionizer
    // (RocksDB), all concurrent; counters + state/shuffle accounting
    // recorded in SCALING.md ("RunStream full composition")
    def full(): Unit = {
      val s = runFull(spark, outDir, seconds, rowsPerSecond)
      println(s"[stream-full] events=${s.events} late=${s.late} " +
        s"dqFailed=${s.dqFailed} main=${s.mainRows} " +
        s"quarantine=${s.quarantineRows} | docs seen=${s.docsSeen} " +
        s"kept=${s.docsKept} corpus=${s.corpusRows} " +
        s"ddIndex=${s.dedupIndexRows} | hhSymbols=${s.hhSymbols} " +
        s"hllRows=${s.hllDays} | sessions=${s.sessionsEmitted} " +
        s"sessStateRows=${s.sessionStateRows} | " +
        s"graphDocs=${s.graphDocs} graphPairs=${s.graphPairs} " +
        s"graphLabels=${s.graphLabeledDocs} graphStale=${s.graphStale} " +
        s"routedAppends=${s.graphRoutedAppends} " +
        f"maxTouchedRatio=${s.graphMaxTouchedRatio}%.2f | " +
        f"state=${s.stateBytesMax / 1e6}%.1fMB " +
        f"shuffleWrite=${s.shuffleWriteBytes / 1e6}%.1fMB " +
        f"wall=${s.wallSec}%.1fs " +
        f"eventsPerSec=${s.events / math.max(s.wallSec, 1e-9)}%.0f")
    }

    // `curate` mode: the full streaming curation funnel
    // (normalize → quality gate → incremental near-dup → corpus+index)
    // over gate-passing synthetic docs with planted duplicates —
    // measures sustained curated docs/s (recorded in SCALING.md)
    def curate(): Unit = {
      val stats = new graft.streaming.CurateStream.CurateStats(spark)
      // curatebench: benchmark = the texts of seeds ≡ 4 (mod 1000)
      // within the run's id range, generated by the SAME skeleton —
      // stream docs with those seeds are planted contamination (~0.1%
      // of the stream; the ≡7-mod-10 twin rule can't reach a ≡4-mod-
      // 1000 seed, so the rate is exact). mBits sized to the ~1.2k-doc
      // benchmark per the SCALING sizing rule (fill ≈ 0.01 at 2²³).
      val bench =
        if (wire == "curatebench")
          Some(curatedDocStream(
            spark.range(rowsPerSecond.toLong * seconds * 2)
              .filter(col("id") % 1000 === 4)
              .select(col("id").as("value"))))
        else None
      // mode-scoped paths: sharing dedup mode's literal ckpt/corpus/index
      // on the same outDir would resume the OTHER mode's checkpoint and
      // count its corpus rows (runFull suffixes per leg for this reason)
      val t0 = System.nanoTime()
      val q = graft.streaming.CurateStream.start(curatedDocStream(rate),
        s"$outDir/corpus_cu", s"$outDir/index_cu", s"$outDir/ckpt_cu",
        stats, trigger, bench, benchMBits = 1 << 23)
      EventPipeline.runBounded(q, seconds * 1000L)
      val wallSec = secondsSince(t0)
      maintainAfterRun("curate-index", BatchIndex.maintain(spark,
        graft.streaming.DedupStream.BandIndex, s"$outDir/index_cu"))
      val kept = committedRows(spark, s"$outDir/corpus_cu",
        stats.dedup.lastCommitted)
      println(s"[stream-$wire] seen=${stats.seen.value} " +
        s"decontamDropped=${stats.decontamDropped.value} " +
        s"gated=${stats.dedup.seen.value} kept=${stats.dedup.kept.value} " +
        s"sink=$kept " +
        f"wall=$wallSec%.1fs docsPerSec=${stats.seen.value.toDouble / wallSec}%.0f")
    }

    // `media` / `video` modes: the streaming PERCEPTUAL dedup leg —
    // rate stream → real encode (planted twins, ids ≡ 7 mod 10; PNG
    // images or 6-frame GVID clips) → MediaDedupStream (demux/decode →
    // fingerprint → exact-verified band screen → corpus + fingerprint
    // index). Measures sustained payloads/s of the full codec + screen
    // path per modality (recorded in SCALING.md)
    def media(): Unit = {
      import spark.implicits._
      val stats = new graft.streaming.MediaDedupStream.MediaStats(spark)
      val ids = rate.select(col("value").as("doc_id")).as[Long]
      val media =
        if (wire == "video")
          ids.map(id => (id, graft.ext.Multimodal.videoPayload(id)))
            .toDF("doc_id", "payload")
        else
          ids.map(id => (id, graft.ext.Multimodal.pngHashPayload(id)))
            .toDF("doc_id", "payload")
      val fpExtract: DataFrame => DataFrame =
        if (wire == "video") graft.ext.Multimodal.videoFpFromPayload(_)
        else graft.ext.Multimodal.imageFpFromPayload(_)
      val modality = if (wire == "video") "video" else "image"
      val t0 = System.nanoTime()
      val q = MicroBatch.start(media, s"$outDir/ckpt_md", trigger)(
        graft.streaming.MediaDedupStream.processBatch(_, _,
          s"$outDir/corpus_md", s"$outDir/index_md", stats, fpExtract,
          modality))
      EventPipeline.runBounded(q, seconds * 1000L)
      val wallSec = secondsSince(t0)
      maintainAfterRun("media-fp", BatchIndex.maintain(spark,
        graft.ext.Multimodal.MediaFpIndex, s"$outDir/index_md"))
      val sink = committedRows(spark, s"$outDir/corpus_md",
        stats.lastCommitted)
      println(s"[stream-$wire] seen=${stats.seen.value} " +
        s"rejected=${stats.rejected.value} kept=${stats.kept.value} " +
        s"sink=$sink " +
        f"keptRate=${stats.kept.value.toDouble / math.max(stats.seen.value, 1)}%.4f " +
        f"wall=$wallSec%.1fs payloadsPerSec=${stats.seen.value.toDouble / wallSec}%.0f")
    }

    // `sessions` mode: the flatMapGroupsWithState leg at RunStream
    // scale — rate source fanned out to many concurrent users, state =
    // one open session per active user, sessions flushed by gap
    // successors and by the event-time timeout. The state store is the
    // session's provider, HDFS-backed unless SPARK_GRAFT_CONF sets
    // RocksDB — run both, compare state bytes + batch latency
    // (SCALING.md "Stateful state store posture" has the value).
    def sessions(): Unit = {
      val nUsers = sys.env.getOrElse("SPARK_GRAFT_SESSION_USERS",
        "100000").toLong
      // event time advances with the rate clock; user ids cycle so a
      // user's successive events arrive ~nUsers/rowsPerSecond apart
      // (2 s at the default 50 k rows/s) — against the 1 s gap every
      // revisit CLOSES the prior session, so the run exercises the
      // full state churn (lookup, update, remove, emit) at one state
      // row per live user, plus the timeout flush for the tail
      val events = rate.select(
        pmod(col("value"), lit(nUsers)).as("user_id"),
        col("timestamp").as("ts"),
        (pmod(col("value"), lit(100L)) / lit(10.0)).as("value"))
      val out = graft.streaming.SessionStream.sessions(
        events, gapMs = 1000L, watermarkDelay = "5 seconds")
      val emitted = spark.sparkContext.longAccumulator("emitted")
      val q = MicroBatch.start(out, s"$outDir/ckpt_sess", trigger) {
        (b, _) => emitted.add(b.count()); ()
      }
      EventPipeline.runBounded(q, seconds * 1000L)
      val progress = q.recentProgress.toSeq
      val stateRows = progress.flatMap(_.stateOperators.toSeq)
        .map(_.numRowsTotal).foldLeft(0L)(math.max)
      val stateBytes = progress.flatMap(_.stateOperators.toSeq)
        .map(_.memoryUsedBytes).foldLeft(0L)(math.max)
      // triggerExecution is the end-to-end batch time; it already
      // CONTAINS the other durationMs phases (addBatch, getBatch,
      // walCommit, ...), so summing all components double-counts ~2x
      val batchMs = progress.flatMap(p =>
        Option(p.durationMs.get("triggerExecution")).map(_.longValue()))
      val inputRows = progress.map(_.numInputRows).sum
      val provider = spark.conf.getOption(
        "spark.sql.streaming.stateStore.providerClass")
        .map(_.split("\\.").last).getOrElse("HDFSBackedStateStoreProvider")
      println(s"[stream-sessions] provider=$provider " +
        s"input=$inputRows sessionsEmitted=${emitted.value} " +
        s"stateRowsMax=$stateRows " +
        f"stateMB=${stateBytes / 1e6}%.1f " +
        f"meanBatchMs=${if (batchMs.isEmpty) 0.0
          else batchMs.map(_.toDouble).sum / batchMs.size}%.0f " +
        f"maxBatchMs=${batchMs.foldLeft(0L)(math.max)}")
    }

    // `graph` mode: the same planted-duplicate document stream through
    // the EVIDENCE-PRESERVING leg — GraphStream keeps every doc and
    // records near-dup pairs + bounded component relabels in the
    // persisted corpus graph; measures sustained docs/s and pair
    // throughput (recorded in SCALING.md). `graphmm` adds the IMAGE
    // MediaLeg: PNG payloads on the twin-pair residues (ids ≡ 0 and
    // ≡ 7 mod 10), perceptual pairs landing in the same graph append
    // and fingerprints in the unified fp index — the standalone
    // multimodal number next to the six-leg composed one. `graphmm3`
    // runs ALL THREE standard legs (image + audio + video payloads on
    // the same twin residues — every twin pair carries evidence in all
    // four channels), the fully-multimodal ceiling: the video leg's
    // per-frame demux+decode is the expensive one, and this mode
    // prices it inside the composed trigger instead of standalone.
    def graph(): Unit = {
      import spark.implicits._
      def onTwinResidue(id: Long)(payload: => Array[Byte]): Array[Byte] =
        if (id % 10 == 0 || id % 10 == 7) payload else null
      val docs = wire match {
        case "graphmm" =>
          docStream(rate).as[(Long, String)].map { case (id, t) =>
            (id, t,
              onTwinResidue(id)(graft.ext.Multimodal.pngHashPayload(id)))
          }.toDF("doc_id", "text", "image_payload")
        case "graphmm3" =>
          docStream(rate).as[(Long, String)].map { case (id, t) =>
            (id, t,
              onTwinResidue(id)(graft.ext.Multimodal.pngHashPayload(id)),
              onTwinResidue(id)(graft.ext.Multimodal.wavFpPayload(id)),
              onTwinResidue(id)(graft.ext.Multimodal.videoPayload(id)))
          }.toDF("doc_id", "text", "image_payload", "audio_payload",
            "video_payload")
        case _ => docStream(rate)
      }
      val legs = wire match {
        case "graphmm" =>
          Seq(graft.streaming.GraphStream.MediaLeg("image_payload",
            "image", graft.ext.Multimodal.imageFpFromPayload(_)))
        case "graphmm3" => graft.streaming.GraphStream.standardMediaLegs
        case _ => Nil
      }
      val stats = new graft.streaming.GraphStream.GraphStats(spark)
      val fpIndexPath = if (legs.nonEmpty) Some(s"$outDir/fp_g") else None
      val t0 = System.nanoTime()
      val q = MicroBatch.start(docs, s"$outDir/ckpt_g", trigger)(
        graft.streaming.GraphStream.processBatch(_, _, s"$outDir/corpus_g",
          s"$outDir/bands_g", s"$outDir/graph_g", stats, legs,
          fpIndexPath))
      q.awaitTermination(seconds * 1000L)
      graceFirstCommit(stats, q)
      if (q.isActive) q.stop()
      val wallSec = secondsSince(t0)
      val committed = stats.lastCommitted >= 0L
      // fold only through the committed stored id (see runFull) — an
      // interrupted trigger's bands/fps must stay under their own
      // batch_id or the replay's resend probe sees its first attempt;
      // a zero-commit run skips (its bound would only re-fold the -1).
      // The corpus accretes one partition per batch too, but folding a
      // payload table is a storage rewrite left to the operator
      if (committed) {
        maintainAfterRun("graph-bands", BatchIndex.maintain(spark,
          graft.streaming.DedupStream.BandIndex, s"$outDir/bands_g",
          stats.lastCommitted + 1L))
        if (legs.nonEmpty) maintainAfterRun("graph-fp",
          BatchIndex.maintain(spark, graft.ext.Multimodal.MediaFpIndex,
            s"$outDir/fp_g", stats.lastCommitted + 1L))
      }
      val (pairsStored, labels, stale) = graphAudit(spark,
        s"$outDir/graph_g", stats.lastCommitted)
      val trigMs = q.recentProgress.toSeq.map(p =>
        p.numInputRows -> Option(p.durationMs.get("triggerExecution"))
          .map(_.longValue()).getOrElse(0L))
      println(s"[stream-$wire] seen=${stats.seen.value} " +
        s"pairs=${stats.pairs.value} storedPairs=$pairsStored " +
        s"labeledDocs=$labels stale=$stale " +
        s"mediaRejected=${stats.mediaRejected.value} " +
        s"routedAppends=${stats.routedAppends.value} " +
        f"maxTouchedRatio=${stats.maxTouchedRatio}%.2f " +
        s"touchedAudits=${stats.touchedAudits.value} " +
        s"auditStale=${stats.auditStale.value} " +
        f"wall=$wallSec%.1fs docsPerSec=${stats.seen.value.toDouble / wallSec}%.0f " +
        s"triggers=${trigMs.map { case (r, ms) => s"$r:${ms}ms" }
          .mkString(",")}")
      if (!committed) throw new IllegalStateException(
        s"[stream-$wire] no batch committed within ${seconds}s plus " +
          "the 90 s first-commit grace; the counts above are not a " +
          "measurement — run longer or at a lower rate")
      // pair-table cadence AFTER the audit + summary (the audit's
      // in-flight boundary detection reads un-folded batch ids); the
      // folded_through screen keeps a replayed in-flight batch exact
      maintainAfterRun("graph-pairs", BatchIndex.maintain(spark,
        graft.ext.CorpusGraph.PairIndex, s"$outDir/graph_g"))
    }

    // `dedup` mode: document stream with a planted 10% duplicate rate
    // (every value ≡ 7 (mod 10) repeats the text of value − 7) through
    // the incremental near-dup ingest — measures sustained docs/s of
    // graft.streaming.DedupStream on this box (recorded in SCALING.md)
    def dedup(): Unit = {
      val docs = docStream(rate)
      val stats = new graft.streaming.DedupStream.DedupStats(spark)
      val t0 = System.nanoTime()
      val q = MicroBatch.start(docs, s"$outDir/ckpt", trigger)(
        graft.streaming.DedupStream.processBatch(_, _, s"$outDir/corpus",
          s"$outDir/index", stats))
      EventPipeline.runBounded(q, seconds * 1000L)
      val wallSec = secondsSince(t0)
      maintainAfterRun("dedup-index", BatchIndex.maintain(spark,
        graft.streaming.DedupStream.BandIndex, s"$outDir/index"))
      val kept = committedRows(spark, s"$outDir/corpus",
        stats.lastCommitted)
      println(s"[stream-dedup] seen=${stats.seen.value} " +
        s"kept=${stats.kept.value} sink=$kept " +
        f"keptRate=${stats.kept.value.toDouble / math.max(stats.seen.value, 1)}%.4f " +
        f"wall=$wallSec%.1fs docsPerSec=${stats.seen.value.toDouble / wallSec}%.0f")
    }

    // `json` (default) / `avro` modes: the CustomerEvent pipeline,
    // parse (from_json or native Avro) -> curate -> dual sink
    def events(): Unit = {
      val parsed = wire match {
        case "avro" => EventPipeline.parseAvro(rate.select(
          graft.functions.GraftFunctions.avroEncodeCe(eventStruct)
            .as("value")))
        case _ => EventPipeline.parse(
          rate.select(to_json(eventStruct).as("value")))
      }
      val stats = new EventPipeline.RunStats(spark)
      val query = EventPipeline.startDualSink(
        EventPipeline.curate(parsed),
        s"$outDir/main", s"$outDir/quarantine", s"$outDir/ckpt", stats,
        trigger)
      EventPipeline.runBounded(query, seconds * 1000L)

      println(s"[stream] total=${stats.total.value} late=${stats.late.value} " +
        s"dqFailed=${stats.dqFailed.value} drifted=${stats.drifted.value} " +
        f"lateRate=${stats.report.lateRate}%.4f " +
        f"dqFailureRate=${stats.report.dqFailureRate}%.4f")
      val written = committedRows(spark, s"$outDir/main",
        stats.lastCommitted)
      val quarantined = committedRows(spark, s"$outDir/quarantine",
        stats.lastCommitted)
      println(s"[stream] sink rows: main=$written quarantine=$quarantined")
    }
  }
}
