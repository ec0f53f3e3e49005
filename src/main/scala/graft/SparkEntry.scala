package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.agent.DecisionEngine
import graft.dq.DqSuite
import graft.enrich.Enrich
import graft.ext.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.ops.{Incidents, Quarantine}
import graft.report.{Analytics, Reports}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is a named operator from SURVEY.md §2 with a
  * DuckDB-equivalent in [[oracleSql]]. Conventions for oracle parity:
  *   - deterministic ORDER BY on a unique key in both engines;
  *   - timestamps exposed as epoch seconds/millis BIGINT (no tz ambiguity);
  *   - doubles rounded (2dp money sums, 6dp rates/averages);
  *   - conditional counts via count(CASE/when) so both sides emit BIGINT.
  */
object SparkEntry {

  private def tables(spark: SparkSession, dir: String) = Tables(spark, dir)

  /** Cache-dir key for a fixture dir: basename for readability plus a
    * hash of the full canonical path, so two fixtures that share a
    * basename never share persisted index artifacts on one host.
    */
  private[graft] def fixtureKey(dir: String): String = {
    val f = new java.io.File(dir)
    f"${f.getName}_${f.getCanonicalPath.hashCode & 0xffffffffL}%08x"
  }

  /** Ensure the search artifact (postings + doc-length components
    * under one Versioned root) for `dir` exists (built once per
    * process — [[graft.ext.IndexCache]]) and return its path; shared
    * by every index-served retrieval query.
    */
  private def searchIndexFor(s: SparkSession, dir: String): String = {
    val path = s"/tmp/graft_search_${fixtureKey(dir)}"
    graft.ext.IndexCache.ensure(path)(
      graft.ext.Search.writeSearchIndex(tables(s, dir).documents, path))
    path
  }

  /** Ensure the MinHash band index for `dir` exists (the ingest-time
    * signature store; built once per process) and return it read back —
    * shared by every banded-dedup query.
    */
  private def bandIndexFor(s: SparkSession, dir: String): DataFrame = {
    val path = s"/tmp/graft_bands_${fixtureKey(dir)}"
    graft.ext.IndexCache.ensure(path)(
      Dedup.writeBandIndex(tables(s, dir).documents, path))
    s.read.parquet(path)
  }

  /** Ensure the unified media fingerprint index for `dir` exists (ONE
    * decode pass per modality, built once per process) and return its
    * path — shared by every `_served` media query, so the whole served
    * family pays index-read cost, not payload-decode cost.
    */
  private def mediaFpIndexFor(s: SparkSession, dir: String): String = {
    val path = s"/tmp/graft_mediafp_${fixtureKey(dir)}"
    graft.ext.IndexCache.ensure(path)(
      Multimodal.writeMediaFpIndex(tables(s, dir).documents, path))
    path
  }

  /** Persisted 4-channel dedup graph (pairs + connected-component
    * labels) per fixture dir — BOTH are ingest-time artifacts: the
    * pair streams come from the persisted media fingerprint and band
    * indexes, and the labeling runs once when the graph lands (the
    * clusterLabelsFor economics). The cluster and manifest consumers
    * then read two bounded stored tables.
    */
  private def corpusGraphFor(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val path = s"/tmp/graft_corpus_graph_${fixtureKey(dir)}"
    graft.ext.IndexCache.ensure(path)(
      graft.ext.CorpusGraph.write(
        Multimodal.corpusPairs(
          Multimodal.mediaNearDupPairsServed(s, mediaFpIndexFor(s, dir)),
          Dedup.minhashNearDups(tables(s, dir).documents,
            bands = Some(bandIndexFor(s, dir)))),
        path))
    graft.ext.CorpusGraph.readGraph(s, path)
  }

  /** The fixture ingest split for the graph's INCREMENTAL path:
    * doc_id ≡ 7 (mod 10) is the new batch (the planted near-twin side
    * across all four channels, so the append exercises real component
    * merges), everything else is the standing corpus.
    */
  private def isGraphBatch(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = pmod(c, lit(10L)) === lit(7L)

  /** The corpus graph GROWN INCREMENTALLY: base build over the
    * corpus-side pairs only, then [[graft.ext.CorpusGraph.append]] of
    * the batch's pairs — every pair stream served from the SAME
    * persisted fingerprint/band indexes the full graph uses (per-doc
    * signatures make the slices exact; nothing decodes twice). The
    * consumers read the grown artifact, and the oracle is the full
    * rebuild over the whole corpus — append ≡ rebuild is the row's
    * entire claim.
    */
  private def corpusGraphIncrFor(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val path = s"/tmp/graft_corpus_graph_incr_${fixtureKey(dir)}"
    graft.ext.IndexCache.ensure(path) { buildIncrGraphAt(s, dir, path); () }
    graft.ext.CorpusGraph.readGraph(s, path)
  }

  /** The base-plus-append build shared by the incremental and
    * compacted graph fixtures; returns the batch pair plan so the
    * compacted variant can REPLAY the append (deterministic — every
    * pair stream reads the same persisted indexes).
    */
  private def buildIncrGraphAt(s: SparkSession, dir: String,
      path: String): DataFrame = {
      val docs = tables(s, dir).documents
      val fpIdx = mediaFpIndexFor(s, dir)
      val bands = bandIndexFor(s, dir)
      val corpusDocs = docs.filter(!isGraphBatch(col("doc_id")))
      val batchDocs = docs.filter(isGraphBatch(col("doc_id")))
      graft.ext.CorpusGraph.write(
        Multimodal.corpusPairs(
          Multimodal.mediaNearDupPairsServedWhere(s, fpIdx,
            c => !isGraphBatch(c)),
          Dedup.minhashNearDups(corpusDocs,
            bands = Some(bands.filter(!isGraphBatch(col("doc_id")))))),
        path)
      // the batch's pairs: incremental screens against the grown
      // index (cross + batch-internal for media in one banded pass;
      // text = the incrementalNearDups cross pass + the batch-internal
      // pass over the batch's own band slice)
      val textCross = Dedup.incrementalNearDups(corpusDocs, batchDocs,
          indexBands = Some(bands.filter(!isGraphBatch(col("doc_id")))))
        .select(least(col("batch_doc"), col("index_doc")).as("doc_a"),
          greatest(col("batch_doc"), col("index_doc")).as("doc_b"))
      val textInternal = Dedup.minhashNearDups(batchDocs,
          bands = Some(bands.filter(isGraphBatch(col("doc_id")))))
        .select("doc_a", "doc_b")
      val batchPairs = Multimodal.mediaNearDupPairsIncremental(
          s, fpIdx, isGraphBatch)
        .select(col("doc_a"), col("doc_b"), col("modality"))
        .unionByName(textCross.unionByName(textInternal)
          .withColumn("modality", lit("text")))
      graft.ext.CorpusGraph.append(s, path, batchPairs, batchId = 1L)
      batchPairs
  }

  /** [[corpusGraphIncrFor]] continued through the pair-table cadence:
    * [[graft.streaming.BatchIndex.compact]] of the
    * [[graft.ext.CorpusGraph.PairIndex]] folds the appended
    * partitions (stamping the per-bucket folded_through screen), then
    * the SAME append REPLAYS on top of the fold — the bounded-run
    * crash window (a stop mid-trigger re-runs its batch on restart)
    * that the screen makes row-exact. Consumers and oracle are the
    * incremental row's: fold + replay must serve the identical grown
    * graph, cross-engine.
    */
  private def corpusGraphCompactedFor(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val path = s"/tmp/graft_corpus_graph_cpt_${fixtureKey(dir)}"
    graft.ext.IndexCache.ensure(path) {
      val batchPairs = buildIncrGraphAt(s, dir, path)
      graft.streaming.BatchIndex.compact(s, graft.ext.CorpusGraph.PairIndex,
        path)
      graft.ext.CorpusGraph.append(s, path, batchPairs, batchId = 1L)
    }
    graft.ext.CorpusGraph.readGraph(s, path)
  }

  /** The corpus graph AFTER a takedown purge ([[graft.ext.Takedown
    * .isTakedown]] ids): full base build, then
    * [[graft.ext.CorpusGraph.purge]] — pair rows touching a purged doc
    * leave, touched components relabel from surviving pairs (bridge
    * removals split). The build asserts both convergence audits at
    * zero; the oracle relabels the surviving pair set from scratch.
    */
  private def corpusGraphPurgedFor(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val path = s"/tmp/graft_corpus_graph_purged_${fixtureKey(dir)}"
    graft.ext.IndexCache.ensure(path) {
      graft.ext.CorpusGraph.write(
        Multimodal.corpusPairs(
          Multimodal.mediaNearDupPairsServed(s, mediaFpIndexFor(s, dir)),
          Dedup.minhashNearDups(tables(s, dir).documents,
            bands = Some(bandIndexFor(s, dir)))),
        path)
      val out = graft.ext.CorpusGraph.purge(s, path,
        graft.ext.Takedown.takedownSet(tables(s, dir).documents))
      require(out.leftover == 0L && out.staleLabels == 0L,
        s"graph purge did not converge: $out")
    }
    graft.ext.CorpusGraph.readGraph(s, path)
  }

  /** Persisted near-dup cluster labels per fixture dir — the labeling is
    * an ingest-time artifact (like the band index it derives from); the
    * four label consumers (clusters, soft weights, keep-best, leakage
    * split) serve from the stored table instead of re-running the pair
    * generation + labeling per query.
    */
  private def clusterLabelsFor(s: SparkSession, dir: String): DataFrame = {
    val path = s"/tmp/graft_labels_${fixtureKey(dir)}"
    graft.ext.IndexCache.ensure(path)(
      Dedup.clusterLabels(
        Dedup.minhashNearDups(tables(s, dir).documents,
            bands = Some(bandIndexFor(s, dir)))
          .select("doc_a", "doc_b"))
        .write.mode("overwrite").parquet(path))
    s.read.parquet(path)
  }

  /** Flagship: full curated CustomerEvent pipeline on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    Enrich.curated(Tables(spark, "/root/testdata/sf0.001").events)

  // ---- shared projections -------------------------------------------------

  /** Deterministic, oracle-comparable projection of the curated frame. */
  private def ceCurated(spark: SparkSession, dir: String): DataFrame =
    Enrich.curated(tables(spark, dir).events).select(
      col("event_id"), col("id"), col("name"), col("email"), col("country"),
      col("plan"), col("version"), col("marketing_opt_in"),
      col("customer_segment"), col("signup_ts"), col("event_ts"),
      unix_timestamp(col("signup_timestamp")).as("signup_ts_sec"),
      unix_timestamp(col("event_timestamp")).as("event_ts_sec"),
      unix_millis(col("processing_timestamp")).as("processing_ts_ms"),
      col("region"), col("email_domain"), col("customer_age_days"),
      col("schema_drift_detected"), col("is_late_arrival"),
      col("dq_email_valid"), col("dq_id_not_null"),
      col("dq_timestamp_valid"), col("dq_plan_valid"), col("dq_passed")
    ).orderBy("event_id")

  // ---- driver contract ----------------------------------------------------

  /** Fixture query terms for the search/relevance queries (all three
    * occur in the synthetic document vocabulary).
    */
  val SearchTerms: Seq[String] = Seq("spark", "join", "window")

  /** Fixture phrase (a frequent bigram; a couple of fixture docs carry
    * it twice, exercising the occurrence count).
    */
  val PhraseTerms: Seq[String] = Seq("table", "hash")

  /** Fixture query document for more-like-this retrieval. */
  val MltQueryDoc = 42L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S3/S5 + P1-P7 + Q1-Q5: the reference job's full transform chain
    "ce_curated" -> ((s, dir) => ceCurated(s, dir)),

    // S4: binary Avro wire decode — encode the synthesized events to raw
    // Avro datums (the producer's wire format) and decode them back with
    // the native expressions; the oracle sees the generator directly, so
    // a green row proves decode∘encode = id on the schema-valid subset
    // (non-null required fields, plan in the enum — what a DatumWriter
    // can serialize; byte-level layout is pinned separately in AvroSpec)
    "ce_avro_decoded" -> ((s, dir) => {
      import graft.functions.GraftFunctions.{avroDecodeCe, avroEncodeCe}
      val wireable = CustomerEvents.synth(tables(s, dir).events)
        .filter(col("id").isNotNull && col("name").isNotNull
          && col("email").isNotNull && col("country").isNotNull
          && col("plan").isin(
            graft.sources.CustomerEventAvro.PlanSymbols: _*))
      wireable
        .select(col("event_id"),
          avroDecodeCe(avroEncodeCe(struct(
            col("id"), col("name"), col("email"), col("signup_ts"),
            col("country"), col("plan"), col("event_ts"),
            // Avro wire carries version as int (the producer's schema);
            // the curated surface is BIGINT-canonical, so cast at the
            // encode boundary and back out at the decode boundary
            col("version").cast("int").as("version"),
            col("marketing_opt_in"), col("customer_segment")))).as("ev"))
        .select(col("event_id"), col("ev.id").as("id"),
          col("ev.name").as("name"), col("ev.email").as("email"),
          col("ev.signup_ts").as("signup_ts"),
          col("ev.country").as("country"), col("ev.plan").as("plan"),
          col("ev.event_ts").as("event_ts"),
          col("ev.version").cast("long").as("version"),
          col("ev.marketing_opt_in").as("marketing_opt_in"),
          col("ev.customer_segment").as("customer_segment"))
        .orderBy("event_id")
    }),

    // P8 done data-driven: drift detection on raw JSON key sets. The
    // wire payloads are reconstructed with to_json (null fields dropped,
    // like the producer omitting them), so v2/v3 events carry the drift
    // keys and the detector surfaces them as 'new' against the v1 schema
    "schema_drift_report" -> ((s, dir) => {
      // the sf fixture is ONE parquet split; spread the synth rows so the
      // JSON serialize+parse (the dominant cost) uses every core — at
      // production scale the input arrives already partitioned
      val raw = CustomerEvents.synth(tables(s, dir).events
          .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt))
        .select(to_json(struct(
          col("id"), col("name"), col("email"), col("signup_ts"),
          col("country"), col("plan"), col("event_ts"), col("version"),
          col("marketing_opt_in"), col("customer_segment"))).as("payload"))
      graft.schema.SchemaEvolution.schemaDriftReport(raw, col("payload"),
        graft.schema.SchemaEvolution.v1.fieldNames.toSeq)
    }),

    // A1-A3: run report (ingest_transform.py:307-336)
    "ce_run_report" -> ((s, dir) =>
      Reports.runReportWithRates(Enrich.curated(tables(s, dir).events))),

    // P3 at scale: region via broadcast dim join, then aggregate
    "region_counts" -> ((s, dir) =>
      Enrich.curated(tables(s, dir).events)
        .groupBy("region")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("id")).as("n_customers"))
        .orderBy("region")),

    // Headline scan+agg (TPC-H Q1 pattern) on lineitem
    "q1_lineitem_agg" -> ((s, dir) =>
      tables(s, dir).lineitem
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("sum_disc_price"),
          round(avg("l_quantity"), 6).as("avg_qty"),
          round(avg("l_extendedprice"), 6).as("avg_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    // A4: incident stats by type over trailing 7d window
    "incident_stats_by_type" -> ((s, dir) =>
      Incidents.statsByType(
        Incidents.fromEvents(tables(s, dir).events), Incidents.defaultCutoff)
        .orderBy("incident_type")),

    // S8: recent incidents, newest first, limit 10
    "incident_recent" -> ((s, dir) =>
      Incidents.recent(Incidents.fromEvents(tables(s, dir).events))
        .select(col("incident_id"), col("incident_type"), col("severity"),
          col("status"), col("escalated"),
          unix_millis(col("created_at")).as("created_at_ms"))),

    // E1-E15: GE suite, one-pass evaluation (SURVEY.md §2.3)
    "dq_suite_results" -> ((s, dir) =>
      DqSuite.evaluate(Enrich.curated(tables(s, dir).events),
        DqSuite.customersSuite).orderBy("exp_idx")),

    // one-pass column profile (SUMMARIZE-style): nulls / distincts /
    // min / max per column, exact form for the oracle
    "doc_profile" -> ((s, dir) =>
      graft.dq.Profiler.profile(tables(s, dir).documents)
        .orderBy("column_name")),

    // DQ field-alias layer (dq_rules.yml:74-83): the business-named
    // suite evaluated through the alias projection — result rows carry
    // business column names
    "dq_alias_suite" -> ((s, dir) =>
      DqSuite.evaluate(
        DqSuite.withAliases(Enrich.curated(tables(s, dir).events),
          DqSuite.FieldMappings),
        DqSuite.customersBusinessSuite).orderBy("exp_idx")),

    // A5: suite summary + threshold banding (dq_rules.yml:85-89)
    "dq_suite_summary" -> ((s, dir) =>
      DqSuite.summarize(DqSuite.evaluate(
        Enrich.curated(tables(s, dir).events), DqSuite.customersSuite))),

    // Quality dimension scores (dq_rules.yml:91-106)
    "dq_dimension_scores" -> ((s, dir) =>
      DqSuite.dimensionScores(DqSuite.evaluate(
        Enrich.curated(tables(s, dir).events), DqSuite.customersSuite))
        .orderBy("dimension")),

    // A8: daily quality-score trend slope (tests/test_dq.py:358-375)
    "dq_trend_daily" -> ((s, dir) => {
      val daily = Enrich.curated(tables(s, dir).events)
        .groupBy(to_date(col("processing_timestamp")).as("day"))
        .agg(avg(when(col("dq_passed"), 1.0).otherwise(0.0)).as("rate"))
      daily.agg(
        round((max_by(col("rate"), col("day"))
          - min_by(col("rate"), col("day"))) / count(lit(1)), 6).as("trend"),
        count(lit(1)).as("n_days"))
    }),

    // §2.5 joins: fact ⋈ dims rollup (broadcast nation/region)
    "revenue_by_region" -> ((s, dir) =>
      Analytics.revenueByRegion(tables(s, dir)).orderBy("r_name")),

    // TPC-H Q3 pattern: filtered 3-way join + grouped top-10
    "q3_shipping_priority" -> ((s, dir) =>
      Analytics.shippingPriority(tables(s, dir))),

    // TPC-H Q5 pattern: 6-way join, local-supplier condition
    "q5_local_supplier" -> ((s, dir) =>
      Analytics.localSupplierVolume(tables(s, dir))),

    // §2.6 ranking window: top-3 orders per customer
    "top_orders_per_customer" -> ((s, dir) =>
      Analytics.topOrdersPerCustomer(tables(s, dir))
        .orderBy("o_custkey", "rn")),

    // §2.6 sessionization: 30-min-gap sessions per user
    "sessions_per_user" -> ((s, dir) =>
      Analytics.sessionsPerUser(tables(s, dir).events)
        .orderBy("user_id")),

    // log-to-corpus: ordered per-session event-type sequences (the
    // behavioral-LM training-text construction from raw logs)
    "session_texts" -> ((s, dir) =>
      Analytics.sessionTexts(tables(s, dir).events)),

    // shuffle-key skew diagnostics over the sessionization key: top
    // keys, exact ppm share, skew multiple, salting recommendation
    "key_skew_report" -> ((s, dir) =>
      graft.ops.Diagnostics.keySkewReport(tables(s, dir).events,
        "user_id")),

    // seq2seq pair construction: (prefix context, next event) per
    // session position — dialog/next-action dataset from logs
    "dialog_pairs" -> ((s, dir) =>
      Analytics.dialogPairs(tables(s, dir).events)),

    // feature-store freshness weighting: exact 2^-Δdays decayed
    // engagement per (user, event type), shift arithmetic only
    "decayed_engagement" -> ((s, dir) =>
      Analytics.decayedEngagement(tables(s, dir).events)),

    // persisted mergeable HLL index: per-day sketches unioned over a
    // pruned day window; estimate + accounting checked against exact
    "hll_window_served" -> ((s, dir) => {
      val path = s"/tmp/graft_hll_${fixtureKey(dir)}"
      graft.ext.IndexCache.ensure(path)(
        graft.ext.SketchIndex.writeHllIndex(tables(s, dir).events, path))
      graft.ext.SketchIndex.hllWindowVerified(
        s, tables(s, dir).events, path)
    }),

    // AGGREGATE-artifact takedown: a user folded into per-day HLL
    // sketches can't be row-filtered out — the purge rebuilds exactly
    // the affected day partitions from the purged source and deletes
    // fully-emptied days; the row emits exact post-purge accounting +
    // verdicts (stored == purged-corpus exact, estimate in band).
    // Separate index path: hll_window_served's index must keep serving
    // the UNPURGED corpus for its own oracle.
    "hll_takedown_purge" -> ((s, dir) => {
      val path = s"/tmp/graft_hll_td_${fixtureKey(dir)}"
      // build AND purge once per process (the purge is ingest-side
      // maintenance, like the index build itself); the query is the
      // read-side verification over the purged index
      graft.ext.IndexCache.ensure(path) {
        val ev = tables(s, dir).events
        graft.ext.SketchIndex.writeHllIndex(ev, path)
        val st = graft.ext.Takedown.purgeHllIndex(
          s, path, ev, graft.ext.Takedown.takedownUsers(ev))
        require(st.staleAfter == 0L,
          s"HLL purge left ${st.staleAfter} stale days")
      }
      graft.ext.Takedown.hllTakedownVerified(
        s, tables(s, dir).events, path)
    }),

    // Tumbling event-time windows (batch twin of streaming T-ops)
    "hourly_event_counts" -> ((s, dir) =>
      Analytics.hourlyEventCounts(tables(s, dir).events)
        .orderBy("hour_start_ms", "event_type")),

    // §2.6 set ops: purchasers vs errored users in one pass
    "set_ops_users" -> ((s, dir) =>
      Analytics.purchaseErrorSetOps(tables(s, dir).events)),

    // dense hourly series, gaps zero-filled from an O(hours) spine
    "hourly_gapfill" -> ((s, dir) =>
      Analytics.hourlyGapfill(tables(s, dir).events)
        .orderBy("hour_id")),

    // ordered conversion funnel view → click → purchase (stage entry
    // must follow the previous stage's first touch; exact-integer ppm)
    "event_funnel" -> ((s, dir) =>
      Analytics.eventFunnel(tables(s, dir).events).orderBy("stage")),

    // weekly signup cohorts × activity-week offsets (integer week ids)
    "cohort_retention" -> ((s, dir) =>
      Analytics.cohortRetention(tables(s, dir).events)
        .orderBy("cohort_wk", "week_offset")),

    // rolling z-score over the gap-filled hourly series; integer-sum
    // moments so both engines derive identical doubles
    "hourly_anomalies" -> ((s, dir) =>
      Analytics.hourlyAnomalies(tables(s, dir).events)
        .orderBy("hour_id")),

    // conjunctive term search served from the persisted postings index
    // (bucket-partitioned by token hash; reads only the terms' buckets)
    "term_search" -> ((s, dir) =>
      graft.ext.Search.searchAll(s, searchIndexFor(s, dir), SearchTerms)
        .orderBy("doc_id")),

    // TF-IDF relevance: per-term top docs, exact cross-engine math
    "tfidf_top_docs" -> ((s, dir) =>
      graft.ext.Search.tfIdfTopDocs(tables(s, dir).documents, SearchTerms)
        .orderBy("token", "rank")),

    // phrase search: positional-posting intersection over the SAME
    // persisted index as term_search (one build serves both — the
    // IndexCache "index once, serve many" discipline);
    // oracle = exact positional self-join
    "phrase_search" -> ((s, dir) =>
      graft.ext.Search.searchPhrase(s, searchIndexFor(s, dir), PhraseTerms)
        .orderBy("doc_id")),

    // BM25 document ranking over the query-term set
    "bm25_top_docs" -> ((s, dir) =>
      graft.ext.Search.bm25TopDocs(tables(s, dir).documents, SearchTerms)
        .orderBy("rank")),

    // more-like-this: docs most TF-IDF-cosine-similar to one query doc,
    // served from the persisted postings index (the index stores the
    // same (doc_id, token, tf) the live tokenize derives)
    "more_like_this" -> ((s, dir) =>
      graft.ext.Search.moreLikeThisServed(s, searchIndexFor(s, dir),
        MltQueryDoc).orderBy("rank")),

    // Hybrid retrieval: lexical (TF-IDF cosine) + dense (embedding
    // cosine) rankings fused by reciprocal-rank fusion, exact integers;
    // lexical leg served from the postings index
    "hybrid_mlt" -> ((s, dir) =>
      graft.ext.Search.hybridMoreLikeThisServed(s,
        tables(s, dir).embeddings, searchIndexFor(s, dir), MltQueryDoc)
        .orderBy("rank")),

    // BM25 served from the persisted search artifact (postings + dl
    // components read from ONE resolved snapshot) — identical scoring
    // plan to bm25_top_docs, so it shares its oracle
    "bm25_served" -> ((s, dir) =>
      graft.ext.Search.bm25Served(s, searchIndexFor(s, dir), SearchTerms)
        .orderBy("rank")),

    // as-of join (operators.AsOfJoin): last-touch purchase attribution
    "purchase_attribution" -> ((s, dir) =>
      Analytics.purchaseAttribution(tables(s, dir).events)
        .orderBy("purchase_id")),

    // keyless range join (operators.RangeJoin): errors near purchases
    "errors_near_purchases" -> ((s, dir) =>
      Analytics.errorsNearPurchases(tables(s, dir).events)
        .orderBy("purchase_id")),

    // forward as-of join: next same-user error after each purchase
    "next_error_after_purchase" -> ((s, dir) =>
      Analytics.nextErrorAfterPurchase(tables(s, dir).events)
        .orderBy("purchase_id")),

    // O5 quarantine split: dq_passed predicate → dual flows
    "quarantine_split" -> ((s, dir) =>
      Quarantine.tagged(Enrich.curated(tables(s, dir).events),
        !col("dq_passed"))
        .groupBy("flow").agg(count(lit(1)).as("n")).orderBy("flow")),

    // §2.5 semi/anti joins: orders with/without late shipments
    "orders_semi_anti" -> ((s, dir) =>
      Analytics.ordersByLateShipment(tables(s, dir))
        .orderBy("flow", "o_orderstatus")),

    // implicit-feedback negative sampling: deterministic-hash draws
    // anti-joined against the purchase interaction set, first-k kept
    "neg_sampling" -> ((s, dir) => {
      val t = tables(s, dir)
      graft.ext.NegSampling.negativeSamples(
        t.customer, t.orders, t.lineitem, t.part)
    }),

    // A4 as cube: incident counts by severity × status with totals
    "incident_cube" -> ((s, dir) =>
      Incidents.fromEvents(tables(s, dir).events)
        .cube("severity", "status").agg(count(lit(1)).as("n"))
        .select(coalesce(col("severity"), lit("(all)")).as("severity"),
          coalesce(col("status"), lit("(all)")).as("status"), col("n"))
        .orderBy("severity", "status")),

    // ---- ext: text analysis (north-star) ----------------------------------
    "text_stats" -> ((s, dir) =>
      TextAnalysis.textStats(tables(s, dir).documents).orderBy("doc_id")),
    "token_counts" -> ((s, dir) =>
      TextAnalysis.tokenCounts(tables(s, dir).documents).orderBy("source")),
    "lang_id_confusion" -> ((s, dir) =>
      TextAnalysis.langIdConfusion(tables(s, dir).documents)
        .orderBy("lang", "predicted")),
    "doc_fingerprints" -> ((s, dir) =>
      TextAnalysis.fingerprints(tables(s, dir).documents).orderBy("doc_id")),
    // corpus-novelty: fraction of a doc's distinct 5-grams unique to it
    "doc_novelty" -> ((s, dir) =>
      TextAnalysis.noveltyReport(tables(s, dir).documents)
        .orderBy("doc_id")),
    // incremental novelty: an ingest batch scored against the PERSISTED
    // corpus gram index (corpus never rescanned; batch grams broadcast)
    "novelty_incremental" -> ((s, dir) => {
      val docs = tables(s, dir).documents
      val path = s"/tmp/graft_novidx_${fixtureKey(dir)}"
      graft.ext.IndexCache.ensure(path)(TextAnalysis.writeGramIndex(
        docs.filter(col("doc_id") % 10 =!= 7), path))
      TextAnalysis.noveltyServed(s, path,
          docs.filter(col("doc_id") % 10 === 7))
        .orderBy("doc_id")
    }),
    // winnowing (MOSS) local fingerprints: per-doc selection summary and
    // the fingerprint-join match report (partial-overlap detection)
    "winnow_fingerprints" -> ((s, dir) =>
      graft.ext.Winnow.fingerprintReport(tables(s, dir).documents)
        .orderBy("doc_id")),
    // match join served from the persisted fingerprint database (the
    // MOSS shape: extraction is ingest-time; queries join stored fps)
    "winnow_matches" -> ((s, dir) => {
      val path = s"/tmp/graft_winnow_${fixtureKey(dir)}"
      graft.ext.IndexCache.ensure(path)(graft.ext.Winnow
        .writeFingerprintIndex(tables(s, dir).documents, path))
      graft.ext.Winnow.matchesServed(s, path).orderBy("doc_a", "doc_b")
    }),

    // ---- ext: deduplication (north-star) ----------------------------------
    "dedup_exact" -> ((s, dir) =>
      Dedup.exactSummary(tables(s, dir).documents)),
    // banded near-dup detection over the stored signature index (the
    // ingest-time band table); verification still reads candidate docs
    "dedup_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashNearDups(tables(s, dir).documents,
          bands = Some(bandIndexFor(s, dir)))
        .orderBy("doc_a", "doc_b")),
    // band-adaptive default: 24-bit two-block index at fixture size
    // (what the sf oracle checks), 60-bit single-block past the measured
    // saturation ceiling (Dedup.SimHashAdaptiveMaxDocs)
    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhashNearDupsAdaptive(tables(s, dir).documents)
        .orderBy("doc_a", "doc_b")),
    "dedup_simhash60" -> ((s, dir) =>
      Dedup.simhash60NearDups(tables(s, dir).documents)
        .orderBy("doc_a", "doc_b")),
    "dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardNearDups(tables(s, dir).documents)
        .orderBy("doc_a", "doc_b")),
    // span-level exact dedup (Lee et al. substring dedup, token form):
    // per-doc duplicated-span stats, the most-repeated spans, and the
    // keep-first scrub's token accounting with merged intervals
    "dup_span_report" -> ((s, dir) =>
      Dedup.dupSpanReport(tables(s, dir).documents).orderBy("doc_id")),
    "dup_span_top" -> ((s, dir) =>
      Dedup.dupSpanTop(tables(s, dir).documents)),
    "dup_span_scrub" -> ((s, dir) =>
      Dedup.dupSpanScrub(tables(s, dir).documents).orderBy("doc_id")),
    "span_scrub_apply" -> ((s, dir) =>
      Dedup.applySpanScrub(tables(s, dir).documents).orderBy("doc_id")),
    "span_containment" -> ((s, dir) =>
      Dedup.spanContainment(tables(s, dir).documents)
        .orderBy("doc_a", "doc_b")),
    "dedup_embedding_cosine" -> ((s, dir) =>
      Dedup.embeddingNearDups(tables(s, dir).embeddings)
        .orderBy("label", "rank")),
    // at-scale twin: LSH sign bucket as the blocking key, not label
    "dedup_embedding_ann" -> ((s, dir) =>
      Dedup.embeddingNearDupsAnn(tables(s, dir).embeddings)
        .orderBy("bucket", "rank")),

    // clusterPairs over the ANN edge stream (same machinery as
    // dedup_clusters, different edge source)
    "embedding_clusters" -> ((s, dir) =>
      Dedup.embeddingClusters(tables(s, dir).embeddings)
        .orderBy("cluster_id")),

    // Exact one-pass covariance of the embedding coordinates (upper
    // triangle); map-side pair products, d²-keyed hash agg, inputs to
    // whitening/PCA (EmbedStats.pcaTopComponent runs on its output)
    "embedding_covariance" -> ((s, dir) =>
      graft.ext.EmbedStats.covariance(tables(s, dir).embeddings)),

    // JL random projection 64→16 (deterministic md5-derived planes);
    // map-side linear compression ahead of ANN/clustering
    "embedding_project" -> ((s, dir) =>
      graft.ext.EmbedStats.jlProject(tables(s, dir).embeddings)),
    // class-balance audit: per-label share + deviation from uniform
    "label_balance" -> ((s, dir) =>
      graft.ext.EmbedStats.labelBalance(tables(s, dir).embeddings)),
    // feature-hashing document embeddings: the model-free bridge from
    // corpus text into the vector stack (hashed-BoW unit vectors),
    // verified in long form (doc_id, dim, value) — scalar columns are
    // the only shape a row-sorting comparator canonicalizes; the
    // array-shaped hashEmbeddings stays the library API
    "doc_hash_embedding" -> ((s, dir) =>
      graft.ext.EmbedStats.hashEmbeddingsLong(tables(s, dir).documents)),
    // padded-batch efficiency: power-of-two length buckets with the
    // exact padding waste a fixed-length batcher would pay
    "batch_padding_report" -> ((s, dir) =>
      graft.ext.Curation.paddingReport(tables(s, dir).documents)),

    // ---- ext: training-data curation (north-star) -------------------------
    "decontam_report" -> ((s, dir) =>
      graft.ext.Curation.decontaminationReport(tables(s, dir).documents)),
    // constant-space decontam screen: benchmark grams folded into a
    // 2^15-bit Bloom (3 universal hashes), corpus tested map-side;
    // n_true vs n_hits measures the FP mass the space saving costs
    "bloom_decontam" -> ((s, dir) =>
      graft.ext.Curation.bloomDecontam(tables(s, dir).documents)),
    // lexical near-dup decontamination: banded MinHash candidates vs
    // the broadcast benchmark bands, verified Jaccard; the oracle is
    // brute-force all-pairs, so a green row proves banding recall
    "fuzzy_decontam" -> ((s, dir) => {
      val docs = tables(s, dir).documents
      val mod = graft.ext.Curation.BenchmarkMod
      // both band sides serve from the persisted ingest-time band
      // index — candidate generation reads no document text
      val bands = bandIndexFor(s, dir)
      graft.ext.Curation.fuzzyDecontamAgainst(
          docs.filter(col("doc_id") % mod =!= 0),
          docs.filter(col("doc_id") % mod === 0),
          corpusBands = Some(bands.filter(col("doc_id") % mod =!= 0)),
          benchBands = Some(bands.filter(col("doc_id") % mod === 0)))
        .orderBy("doc_id", "bench_id")
    }),
    // curriculum quartiles of the quality-classifier margin: exact
    // percentile thresholds (one bounded agg), map-side assignment
    "curriculum_plan" -> ((s, dir) =>
      graft.ext.Curation.curriculumPlan(tables(s, dir).documents)),
    // one-row corpus summary: volume, dup rate, breadth, quality rate
    "dataset_card" -> ((s, dir) =>
      graft.ext.Curation.datasetCard(tables(s, dir).documents)),
    // doc-level snapshot diff: added/removed/changed/unchanged between
    // two derived snapshots (new side plants a text change on %5 docs)
    "corpus_diff" -> ((s, dir) => {
      val d = tables(s, dir).documents
      val oldSnap = d.filter(col("doc_id") % 10 =!= 0)
      val newSnap = d.filter(col("doc_id") % 7 =!= 0)
        .withColumn("text", when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      graft.ext.Curation.corpusDiff(oldSnap, newSnap)
    }),
    // fuzzy record linkage: deletion-neighborhood blocking (SymSpell
    // family) between valid emails and a deterministically typo'd twin;
    // the DuckDB oracle is the BRUTE-FORCE cross join, so a green row
    // proves the blocking's guaranteed recall at distance <= 1
    "fuzzy_linkage" -> ((s, dir) => {
      val cur = Enrich.curated(tables(s, dir).events)
        .filter(col("dq_email_valid"))
      val clean = cur.select(col("email").as("key"))
      val pos = (graft.ext.Hashing.h32(col("email"))
        % length(col("email"))) + 1
      val dirty = cur.select(
        concat(col("email").substr(lit(1), (pos - 1).cast("int")),
          lit("x"),
          col("email").substr((pos + 1).cast("int"),
            length(col("email")))).as("key"))
      graft.operators.FuzzyLink.linkage(clean, dirty)
        .orderBy("lk", "rk")
    }),
    // DSIR importance weights: hashed-bigram log-likelihood ratio of the
    // target slice vs the raw corpus, per document. The bucket model
    // trains once per process (dsirModelCached); the query is the apply
    // pass — one corpus scan + a broadcast hash join.
    "dsir_weights" -> ((s, dir) => {
      val docs = tables(s, dir).documents
      graft.ext.Curation.dsirWeightsWith(docs,
          graft.ext.Curation.dsirModelCached(docs, dir))
        .orderBy("doc_id")
    }),
    // embedding-level benchmark decontamination (semantic complement of
    // decontam_report): flagged corpus vectors + closest benchmark item
    "semantic_decontam" -> ((s, dir) =>
      graft.ext.Curation.semanticDecontam(tables(s, dir).embeddings)
        .orderBy("vec_id")),
    "stratified_sample" -> ((s, dir) =>
      graft.ext.Curation.stratifiedSampleSummary(tables(s, dir).documents)),
    // C4/RefinedWeb-style domain cap: at most N docs per source,
    // longest-first; audit pins kept membership via id-sum checksum
    "source_cap" -> ((s, dir) =>
      graft.ext.Curation.sourceCapSummary(tables(s, dir).documents)),
    // takedown (right-to-be-forgotten) audit: removal counts +
    // removed-id checksum per source; index-purge machinery pinned in
    // TakedownSpec (purge ≡ rebuild on every persisted index)
    "takedown_audit" -> ((s, dir) =>
      graft.ext.Takedown.takedownAudit(tables(s, dir).documents)),
    // exactly-k hash-ordered uniform sample (TakeOrdered, no global
    // sort); emits the k members so the driver pins exact membership
    "sample_exact_k" -> ((s, dir) =>
      graft.ext.Curation.sampleExactK(tables(s, dir).documents)
        .orderBy("doc_id")),
    // Efraimidis-Spirakis weighted k-sample without replacement: key
    // ln(u)/n_chars quantized to 1e-9 fixed-point, TakeOrdered top-k
    "weighted_sample_k" -> ((s, dir) =>
      graft.ext.Curation.weightedSampleK(tables(s, dir).documents)
        .orderBy("doc_id")),
    // Misra-Gries heavy hitters: per-partition k-counter sketch merged
    // by summation; the driver verifies the capture + error-bound
    // THEOREMS per symbol (estimates stay out of the compare)
    "heavy_hitters" -> ((s, dir) =>
      graft.ext.HeavyHitters.report(tables(s, dir).documents)),
    // streamed-index twin: two doc_id-parity micro-batches land their
    // MG counters as BatchIndex partitions; serving sums them and the
    // same capture/error theorems are verified per symbol
    "heavy_hitters_served" -> ((s, dir) => {
      val docs = tables(s, dir).documents
      val path = s"/tmp/graft_hh_${fixtureKey(dir)}"
      graft.ext.IndexCache.ensure(path) {
        // fresh build: per-batch dynamic overwrite only replaces its
        // OWN partitions, so clear any stale prior-process state first
        def rmrf(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rmrf)
          f.delete(); ()
        }
        rmrf(new java.io.File(path))
        val stats = new graft.streaming.HeavyHitterStream.HhStats(s)
        graft.streaming.HeavyHitterStream.processBatch(
          docs.filter(col("doc_id") % 2 === 0), 0L, path, stats)
        graft.streaming.HeavyHitterStream.processBatch(
          docs.filter(col("doc_id") % 2 === 1), 1L, path, stats)
      }
      graft.ext.HeavyHitters.servedReport(docs, path)
    }),
    // Heaps-law vocabulary growth over corpus-order slices: one token
    // scan, per-token first-appearance bucket, O(buckets) cum-sum
    "vocab_growth" -> ((s, dir) =>
      graft.ext.Curation.vocabGrowth(tables(s, dir).documents)),
    // Zipf power-law fit per source (ln-freq on ln-rank least squares,
    // 1e-9 fixed-point terms): distributional health next to Heaps
    "zipf_fit" -> ((s, dir) =>
      TextAnalysis.zipfFit(tables(s, dir).documents)),
    // CCNet/RefinedWeb site-template boilerplate: per-source audit of
    // grams present in >= 20% of the source's docs (source-SCOPED df,
    // unlike corpus-wide span dedup)
    "boilerplate_report" -> ((s, dir) =>
      graft.ext.Boilerplate.report(tables(s, dir).documents)),
    // the scrub's exact token accounting: template-gram intervals
    // merged per doc via gaps-and-islands
    "boilerplate_scrub" -> ((s, dir) =>
      graft.ext.Boilerplate.scrub(tables(s, dir).documents)),
    // the composed corpus→training-mix funnel (dedup → gates → sample)
    "training_mix" -> ((s, dir) =>
      graft.ext.Curation.trainingMix(tables(s, dir).documents)),
    "dataset_split" -> ((s, dir) =>
      graft.ext.Curation.datasetSplitSummary(tables(s, dir).documents)),
    // leakage-safe split: hash over the near-dup cluster label, so
    // cluster-mates can never straddle train/val/test
    "dataset_split_safe" -> ((s, dir) =>
      graft.ext.Curation.leakageSafeSplitSummary(tables(s, dir).documents,
        labelsOpt = Some(clusterLabelsFor(s, dir)))),
    // between-snapshots categorical drift (old/new = doc_id parity)
    "corpus_drift" -> ((s, dir) => {
      val docs = tables(s, dir).documents
      graft.ext.Curation.corpusDrift(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1))
    }),
    "pii_scrub" -> ((s, dir) =>
      graft.ext.Curation.piiScrubReport(
        CustomerEvents.synth(tables(s, dir).events))),
    // checksum-gated CC redaction: regex candidates, Luhn discriminator,
    // only validated numbers redacted (an invalid run is an order id)
    "pii_cc_scrub" -> ((s, dir) =>
      graft.ext.Curation.piiCcReport(
        CustomerEvents.synth(tables(s, dir).events))),
    // re-identification risk surviving PII scrub: per-k share of rows in
    // quasi-identifier groups smaller than k (one groupBy shuffle; the
    // threshold expansion runs over GROUP-sized data)
    "k_anonymity" -> ((s, dir) =>
      graft.ext.Privacy.customerKAnonymity(tables(s, dir).customer)),
    // sensitive-attribute disclosure inside k-anonymous groups: per-l
    // share of rows whose QI group carries < l distinct segments
    "l_diversity" -> ((s, dir) =>
      graft.ext.Privacy.customerLDiversity(tables(s, dir).customer)),
    // sharded composite stream key (lang:shard): the window parallelizes
    // across |langs| × PackShards partitions — no per-lang serialization
    "pack_plan" -> ((s, dir) =>
      graft.ext.Curation.packPlan(tables(s, dir).documents,
        streamCol = graft.ext.Curation.packStreamSharded())),
    // per-doc pack provenance: which sequence each document landed in
    // and at which token offset (the attribution direction pack_plan's
    // per-sequence audit can't answer)
    "pack_assignments" -> ((s, dir) =>
      graft.ext.Curation.packAssignments(tables(s, dir).documents,
        streamCol = graft.ext.Curation.packStreamSharded())),

    // corpus finalization: salted-hash shard assignment + within-shard
    // shuffle order — the "global shuffle" without a global sort
    "shard_plan" -> ((s, dir) =>
      graft.ext.Shards.shardSummary(tables(s, dir).documents)
        .orderBy("shard")),

    // sliding-window chunking: map-side explode, no shuffle — the
    // pretraining/RAG windowing step with exact-integer bounds.
    // (40, 8) instead of the (512, 64) production default so the
    // ~55-token fixture docs exercise the multi-chunk + overlap paths
    "chunk_plan" -> ((s, dir) =>
      graft.ext.Curation.chunkPlan(tables(s, dir).documents,
        maxTokens = 40L, overlap = 8L)
        .orderBy("doc_id", "chunk_idx")),
    // incremental dedup: new batch (doc_id % 10 = 7) vs corpus index
    "dedup_incremental" -> ((s, dir) => {
      val docs = tables(s, dir).documents
      // index-side bands come from the stored signature index (the
      // batch side is new data — banded live, as at ingest)
      Dedup.incrementalNearDups(
          docs.filter(col("doc_id") % 10 =!= 7),
          docs.filter(col("doc_id") % 10 === 7),
          indexBands = Some(bandIndexFor(s, dir)
            .filter(col("doc_id") % 10 =!= 7)))
        .orderBy("batch_doc", "index_doc")
    }),
    "doc_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionReport(tables(s, dir).documents)
        .orderBy("doc_id")),
    // token-distribution Shannon entropy (nats) + scale-free ratio:
    // the information-theoretic repetitiveness gate signal
    "token_entropy" -> ((s, dir) =>
      TextAnalysis.tokenEntropy(tables(s, dir).documents)),
    // bigram-LM cross-entropy per doc (CCNet-style quality signal);
    // fixed-point per-position quantization keeps the sum exact
    "doc_lm_score" -> ((s, dir) =>
      TextAnalysis.lmScore(tables(s, dir).documents)
        .orderBy("doc_id")),
    "vocab_coverage" -> ((s, dir) =>
      TextAnalysis.vocabCoverage(tables(s, dir).documents)),
    // Gopher/C4-style named-rule quality gate: per-rule fail counts +
    // failing-id checksum (exact failure membership, cross-engine)
    "quality_filter_report" -> ((s, dir) =>
      TextAnalysis.qualityFilterReport(tables(s, dir).documents)),
    // model-based quality classification (linear scorer, exact-integer
    // margin): the fastText-classifier role in CCNet/LLaMA-style curation
    "quality_classifier" -> ((s, dir) =>
      TextAnalysis.qualityClassifier(tables(s, dir).documents)
        .orderBy("doc_id")),
    // the LEARNED apply path: a trained coefficient set (deterministic
    // in-Spark logistic training, constants shipped with provenance)
    // through the same one-projection plan; margin_raw is division-free
    // long arithmetic, exact in both engines
    "quality_classifier_learned" -> ((s, dir) =>
      TextAnalysis.qualityClassifierWith(tables(s, dir).documents,
          TextAnalysis.TrainedQualityCoefficientsSf0001)
        .select("doc_id", "source", "lang", "n_tokens", "margin_raw",
          "keep")
        .orderBy("doc_id")),
    // Per-language percent-rank calibration of the quality margin;
    // window over distinct scores only, docs rank via broadcast join
    "quality_calibrated" -> ((s, dir) =>
      TextAnalysis.qualityCalibrated(tables(s, dir).documents)),
    // Data-mixing weights: per-source natural vs target token shares
    // and the repeat-epochs to hit the target mix (exact-integer ppm)
    "source_mix_weights" -> ((s, dir) =>
      graft.ext.Curation.sourceMixWeights(tables(s, dir).documents)),
    // Temperature-scaled sampling weights (p^tau / sum p^tau, tau=0.7)
    "temperature_mix" -> ((s, dir) =>
      graft.ext.Curation.temperatureMixWeights(tables(s, dir).documents)),
    // data-constrained epoch allocation: integer water-fill of a
    // 3.5x-corpus token budget — full rounds for everyone, the
    // remainder one extra epoch at a time in quality order
    "epoch_plan" -> ((s, dir) =>
      graft.ext.Curation.epochPlan(tables(s, dir).documents)),
    // cross-source n-gram contamination matrix (containment + Jaccard
    // per source pair; bounded-fan-in gram join)
    "source_overlap" -> ((s, dir) =>
      graft.ext.Curation.sourceOverlap(tables(s, dir).documents)
        .orderBy("source_a", "source_b")),
    // theta-sketch twin: deterministic 1/mod gram-hash sample cuts every
    // shuffle to sketch volume before the pair join — the 100 TB path
    "source_overlap_approx" -> ((s, dir) =>
      graft.ext.Curation.sourceOverlapApprox(tables(s, dir).documents)
        .orderBy("source_a", "source_b")),
    // Unicode canonicalization pass (native nfc_normalize expression):
    // md5 pins the exact canonical bytes cross-engine
    "text_normalized" -> ((s, dir) =>
      graft.ext.Curation.normalizedReport(tables(s, dir).documents)),
    // BPE tokenizer training, step 1 (oracle-pinned): weighted adjacent
    // symbol-pair statistics over the word-frequency reduction
    "bpe_top_pairs" -> ((s, dir) =>
      graft.ext.Bpe.topPairs(tables(s, dir).documents, 20)),
    // the full k-iteration merge table (iterative — rows-only check;
    // BpeSpec pins the algorithm on hand-computed fixtures)
    "bpe_merges" -> ((s, dir) =>
      graft.ext.Bpe.mergesTableCached(tables(s, dir).documents, dir)),
    // tokenization APPLY with the learned rules via the native
    // bpe_apply expression (vocabulary-size-independent per-word cost);
    // checksum pins the exact token strings cross-engine. Rules come
    // from the per-process model cache (train once, tokenize many).
    "bpe_tokenize" -> ((s, dir) => {
      val docs = tables(s, dir).documents
      graft.ext.Bpe.tokenizeReport(docs,
          graft.ext.Bpe.trainMergesCached(docs, dir))
        .orderBy("doc_id")
    }),
    // per-language tokenizer fertility (BPE tokens per word, chars per
    // token) — the multilingual vocab-budget diagnostic
    "tokenizer_fertility" -> ((s, dir) => {
      val docs = tables(s, dir).documents
      graft.ext.Bpe.fertilityReport(docs,
        graft.ext.Bpe.trainMergesCached(docs, dir))
    }),

    // ---- ext: similarity search (north-star) ------------------------------
    "ann_topk_brute" -> ((s, dir) =>
      Similarity.topKBruteForce(tables(s, dir).embeddings)
        .orderBy("q_id", "rank")),
    // contrastive hard-negative mining: per-anchor cross-label top-N
    // inside the hard cosine band (triplet-set curation)
    "hard_negatives" -> ((s, dir) =>
      Similarity.hardNegatives(tables(s, dir).embeddings)
        .orderBy("q_id", "rank")),
    // kNN label-agreement audit (confident-learning-style label-noise
    // detection): per-anchor neighborhood consensus + suspect flag
    "label_noise_knn" -> ((s, dir) =>
      Similarity.labelNoiseKnn(tables(s, dir).embeddings)),
    // the 100 TB mining path: hard negatives from the persisted IVF
    // index (pruned probed-cell read), same band/label gates
    "hard_negatives_served" -> ((s, dir) => {
      val path = s"/tmp/graft_ivf_${fixtureKey(dir)}"
      graft.ext.IndexCache.ensure(path)(
        Similarity.writeIvfIndex(tables(s, dir).embeddings, path))
      Similarity.hardNegativesServed(s, path,
        tables(s, dir).embeddings)
    }),
    // filtered vector search: ANN top-k under a metadata predicate
    // (same-label-as-anchor), evaluated on the label STORED IN the
    // index rows — zero corpus joins
    "ann_topk_filtered" -> ((s, dir) => {
      val path = s"/tmp/graft_ivf_${fixtureKey(dir)}"
      graft.ext.IndexCache.ensure(path)(
        Similarity.writeIvfIndex(tables(s, dir).embeddings, path))
      Similarity.topKIvfFiltered(s, path, tables(s, dir).embeddings,
        Similarity.ivfProbesFor(Similarity.IvfCells))
    }),
    // retrieval eval: served hier-IVF top-k vs brute-force ground truth
    // as exact-ppm recall@k / MRR — the index-quality monitor next to
    // ann_index_drift
    "ann_recall_report" -> ((s, dir) => {
      val path = s"/tmp/graft_ivf_${fixtureKey(dir)}"
      graft.ext.IndexCache.ensure(path)(
        Similarity.writeIvfIndex(tables(s, dir).embeddings, path))
      Similarity.annRecallReport(s, path, tables(s, dir).embeddings,
        Similarity.ivfProbesFor(Similarity.IvfCells))
    }),
    // filtered-search retrieval eval: recall@k / MRR of the
    // metadata-filtered IVF search against the same-predicate exact
    // scan — isolates the probing loss a selective filter adds (the
    // known weak spot of IVF filtering; selectivity sweep in SCALING.md
    // "Filtered-ANN recall vs selectivity")
    "ann_recall_filtered" -> ((s, dir) => {
      val path = s"/tmp/graft_ivf_${fixtureKey(dir)}"
      graft.ext.IndexCache.ensure(path)(
        Similarity.writeIvfIndex(tables(s, dir).embeddings, path))
      Similarity.annRecallFiltered(s, path, tables(s, dir).embeddings,
        Similarity.ivfProbesFor(Similarity.IvfCells))
    }),
    // the 100 TB audit path: label-noise consensus over neighborhoods
    // served from the same persisted IVF index (pruned probed-cell read)
    "label_noise_knn_served" -> ((s, dir) => {
      val path = s"/tmp/graft_ivf_${fixtureKey(dir)}"
      graft.ext.IndexCache.ensure(path)(
        Similarity.writeIvfIndex(tables(s, dir).embeddings, path))
      Similarity.labelNoiseKnnServed(s, path,
        tables(s, dir).embeddings)
    }),
    // margin-based bitext mining (Artetxe & Schwenk): best cross-side
    // neighbor accepted when its cosine stands out of BOTH local
    // neighborhoods; label parity stands in for the language split
    "bitext_margin_pairs" -> ((s, dir) =>
      Similarity.bitextMarginPairs(tables(s, dir).embeddings)),
    "ann_topk_lsh" -> ((s, dir) =>
      Similarity.topKLsh(tables(s, dir).embeddings)
        .orderBy("q_id", "rank")),
    // multi-probe: base bucket + every 1-bit flip (recall/work knob)
    "ann_topk_lsh_multiprobe" -> ((s, dir) =>
      Similarity.topKLshMultiProbe(tables(s, dir).embeddings)
        .orderBy("q_id", "rank")),

    // Z-order layout as a verified round-trip: write the (orderkey,
    // partkey) projection into range-disjoint Z files, read them back
    // through a 2-D box predicate — rows must match DuckDB running the
    // same box on the SOURCE table (lossless layout), and LayoutSpec
    // pins the files-pruned-vs-total evidence on the same written path
    "zorder_box_read" -> ((s, dir) => {
      val path = s"/tmp/graft_zorder_${fixtureKey(dir)}"
      val cols = tables(s, dir).lineitem.select("l_orderkey", "l_partkey",
        "l_quantity", "l_extendedprice")
      graft.ext.IndexCache.ensure(path)(graft.ops.Layout.writeZOrdered(
        cols, path, Seq("l_orderkey", "l_partkey"), numFiles = 16))
      graft.ops.Layout.boxReadFromLayout(cols, path,
          "l_orderkey", "l_partkey")
        .orderBy("l_orderkey", "l_partkey", "l_quantity",
          "l_extendedprice")
    }),

    // ---- ext: multimodal binary columns (north-star) ----------------------
    "multimodal_features" -> ((s, dir) =>
      Multimodal.features(tables(s, dir).documents).orderBy("doc_id")),

    // REAL codec through the decode seam: deterministic tiny PNGs are
    // encoded and decoded with javax.imageio (JDK codec, no deps);
    // PNG is lossless, so the closed-form oracle pins the actual
    // decode roundtrip — geometry, channel order, row order, values
    "multimodal_image_stats" -> ((s, dir) =>
      Multimodal.imageStats(tables(s, dir).documents).orderBy("doc_id")),

    // real audio codec behind the same seam: genuine RIFF/WAVE PCM16
    // bytes decoded by javax.sound.sampled, closed-form oracle
    "multimodal_audio_stats" -> ((s, dir) =>
      Multimodal.audioStats(tables(s, dir).documents).orderBy("doc_id")),

    // perceptual image near-dup: aHash over REAL javax.imageio-decoded
    // pixels, 4x16-bit band join (lossless at Hamming<=3), planted
    // perceptual twins; oracle recomputes every pixel arithmetically
    "image_near_dups" -> ((s, dir) =>
      Multimodal.imageNearDups(tables(s, dir).documents)),

    // perceptual audio near-dup: circular energy-delta fingerprint
    // over REAL javax.sound-decoded PCM16, same shared band screen
    "audio_near_dups" -> ((s, dir) =>
      Multimodal.audioNearDups(tables(s, dir).documents)),

    // perceptual video near-dup: GVID demux + per-frame REAL PNG decode
    // + signed temporal pooling (frame-order sensitive), same band screen
    "video_near_dups" -> ((s, dir) =>
      Multimodal.videoNearDups(tables(s, dir).documents)),

    // cross-modal duplicate clusters: connected components over the
    // union of image/audio/video pairs, ranked by how many independent
    // perceptual channels agree (n_modalities = evidence strength)
    "media_dedup_clusters" -> ((s, dir) =>
      Multimodal.mediaDedupClusters(tables(s, dir).documents)),

    // the served twins: fingerprint ONCE into the persisted
    // (modality, bucket)-partitioned index, serve every screen and the
    // cluster roll-up from it at index-read cost (the bm25_served
    // economics applied to media; decode = 30.7 M frame ops at the
    // 5.12 M probe, index read = 3 longs/doc). Same oracles as the
    // in-flight rows — served must equal in-flight bit for bit.
    "image_near_dups_served" -> ((s, dir) =>
      Multimodal.mediaNearDupsServed(s, mediaFpIndexFor(s, dir),
        "image")),
    "audio_near_dups_served" -> ((s, dir) =>
      Multimodal.mediaNearDupsServed(s, mediaFpIndexFor(s, dir),
        "audio")),
    "video_near_dups_served" -> ((s, dir) =>
      Multimodal.mediaNearDupsServed(s, mediaFpIndexFor(s, dir),
        "video")),
    "media_dedup_clusters_served" -> ((s, dir) =>
      Multimodal.mediaDedupClustersServed(s, mediaFpIndexFor(s, dir))),

    // corpus-wide clusters: text near-dup pairs (the stored band
    // index) join the three perceptual channels as a 4th modality —
    // both pair streams come from persisted indexes, so the roll-up
    // costs index reads, and a text pair bridging into a media-twin
    // cluster merges the components
    "corpus_dedup_clusters" -> ((s, dir) => {
      val (pairs, labels) = corpusGraphFor(s, dir)
      Multimodal.corpusDedupClustersServedFrom(pairs, labels)
    }),

    // the per-survivor drop manifest over the same 4-channel graph,
    // with the sorted evidence-channel set per survivor (drops backed
    // by several independent channels triage above single-band hits)
    "corpus_dedup_manifest" -> ((s, dir) => {
      val (pairs, labels) = corpusGraphFor(s, dir)
      Multimodal.corpusDedupManifestFrom(pairs, labels)
    }),

    // the graph grown INCREMENTALLY (base = corpus-side pairs, then one
    // appended ingest batch with a bounded relabel of touched
    // components) must serve the SAME clusters as a full rebuild over
    // the whole corpus — the oracle IS the full rebuild
    "corpus_graph_incremental" -> ((s, dir) => {
      val (pairs, labels) = corpusGraphIncrFor(s, dir)
      Multimodal.corpusDedupClustersServedFrom(pairs, labels)
    }),

    // the incremental graph continued through the pair-table cadence:
    // the pair compaction folds the appended partitions, then the SAME batch
    // replays on top of the fold (the bounded-run crash window) — the
    // folded_through screen must serve the identical grown graph, and
    // the oracle stays the from-scratch rebuild
    "corpus_graph_compacted" -> ((s, dir) => {
      val (pairs, labels) = corpusGraphCompactedFor(s, dir)
      Multimodal.corpusDedupClustersServedFrom(pairs, labels)
    }),

    // graph-aware keep-best: survivor selection over the 4-CHANNEL
    // clusters served from the persisted graph — a media twin whose
    // text differs still collapses to its best-quality member, because
    // the evidence graph, not text pairs alone, defines the cluster
    "corpus_graph_survivors" -> ((s, dir) => {
      val (_, labels) = corpusGraphFor(s, dir)
      Dedup.keepBestSurvivors(tables(s, dir).documents,
        labelsOpt = Some(labels)).orderBy("doc_id")
    }),

    // the graph after a takedown purge: pair rows touching a purged doc
    // leave AND touched components relabel from surviving pairs (a
    // removed bridge splits its cluster — the non-local effect a
    // row-filter purge is structurally blind to); oracle = relabel the
    // surviving pair set from scratch
    "corpus_graph_takedown" -> ((s, dir) => {
      val (pairs, labels) = corpusGraphPurgedFor(s, dir)
      Multimodal.corpusDedupClustersServedFrom(pairs, labels)
    }),

    // Native session_window sessionization (streaming-capable operator)
    "session_window_stats" -> ((s, dir) =>
      Analytics.sessionWindows(tables(s, dir).events)
        .orderBy("user_id", "session_start_us")),

    // Sliding event-time windows (1h every 30min)
    "sliding_window_counts" -> ((s, dir) =>
      Analytics.slidingWindowCounts(tables(s, dir).events)
        .orderBy("window_start_ms")),

    // O1 — decision rule engine evaluated IN Spark over per-day run stats;
    // consecutive_failures is the real preceding hard-fail-day streak
    // (DecisionEngine.withConsecutiveFailures), so the escalate-after-3
    // rule (decision_agent.py:66) is live in this query
    "agent_daily_decisions" -> ((s, dir) => {
      val daily = Enrich.curated(tables(s, dir).events)
        .groupBy(to_date(col("processing_timestamp")).as("day"))
        .agg(Reports.runReportColumns.head,
          Reports.runReportColumns.tail: _*)
      DecisionEngine.withConsecutiveFailures(daily)
        .select(Seq(col("day"), col("total_records"),
          col("late_records"), col("dq_failures"),
          col("schema_drift_count"),
          col("consecutive_failures")) ++
          DecisionEngine.decisionColumns: _*)
        .orderBy("day")
    }),

    // O7 — incident append-log + last-write-wins latest-state view
    "incident_latest_state" -> ((s, dir) =>
      Incidents.latestState(
        Incidents.updateLog(Incidents.fromEvents(tables(s, dir).events)))
        .groupBy("status", "escalated").agg(count(lit(1)).as("n"))
        .orderBy("status", "escalated")),

    // O7 as SCD2: every state version with its validity interval
    "incident_history" -> ((s, dir) =>
      Incidents.history(
        Incidents.updateLog(Incidents.fromEvents(tables(s, dir).events)))
        .select(col("incident_id"), col("update_seq"), col("status"),
          col("escalated"),
          unix_millis(col("valid_from")).as("valid_from_ms"),
          unix_millis(col("valid_to")).as("valid_to_ms"),
          col("is_current"))
        .orderBy("incident_id", "update_seq")),

    // Dedup action: the surviving corpus after near-dup removal
    "dedup_survivors" -> ((s, dir) =>
      Dedup.minhashSurvivors(tables(s, dir).documents,
        bands = Some(bandIndexFor(s, dir)))),

    // Corpus vocabulary: top-50 tokens with doc frequency
    "top_tokens" -> ((s, dir) =>
      TextAnalysis.topTokens(tables(s, dir).documents)),

    // Top adjacent-bigram collocations by PMI (multiword-expression
    // mining); exact integer counts, micro-quantized PMI
    "pmi_collocations" -> ((s, dir) =>
      TextAnalysis.pmiCollocations(tables(s, dir).documents)),

    // Per-source robust (median/MAD) doc-length outlier flags
    "doc_length_outliers" -> ((s, dir) =>
      TextAnalysis.lengthOutliers(tables(s, dir).documents)),

    // Exact interpolated doc-length quantiles per language
    "doc_length_quantiles" -> ((s, dir) =>
      TextAnalysis.lengthQuantiles(tables(s, dir).documents)
        .orderBy("lang")),

    // The 100 TB scale twin: sketch-based quantiles, constant memory per
    // group; verified form — per-lang booleans assert each sketch value
    // sits inside the exact quantile window at p ± 2/accuracy, so the
    // sketch's error contract is hash-checked against DuckDB
    "doc_length_quantiles_approx" -> ((s, dir) =>
      TextAnalysis.lengthQuantilesApproxVerified(tables(s, dir).documents)
        .orderBy("lang")),

    // IVF-style ANN: coarse cells + nProbe search (scale twin of LSH)
    "ann_topk_ivf" -> ((s, dir) =>
      Similarity.topKIvf(tables(s, dir).embeddings)
        .orderBy("q_id", "rank")),

    // Hierarchical IVF: coarse-then-fine assignment (O(N·2√nlist)
    // instead of O(N·nlist)) with nProbe scaled to the cell count —
    // the scale path past the flat assignment's measured wall
    "ann_topk_ivf_hier" -> ((s, dir) =>
      Similarity.topKIvfHier(tables(s, dir).embeddings,
        nProbe = Similarity.ivfProbesFor(Similarity.IvfCells))
        .orderBy("q_id", "rank")),

    // Persisted-index serving: build the IVF index ONCE to disk
    // (assignment hive-partitioned by cell), then serve queries by
    // scanning only the probed cell= partitions — the "index once,
    // read nProbe/nlist of the files per query batch" shape a
    // 1000-executor deployment runs. Same result as the in-flight
    // hierarchical path, so it shares that oracle.
    "ann_topk_ivf_served" -> ((s, dir) => {
      val path = s"/tmp/graft_ivf_${fixtureKey(dir)}"
      graft.ext.IndexCache.ensure(path)(
        Similarity.writeIvfIndex(tables(s, dir).embeddings, path))
      Similarity.topKIvfServed(s, path,
        nProbe = Similarity.ivfProbesFor(Similarity.IvfCells))
        .orderBy("q_id", "rank")
    }),

    // IVF centroid-drift monitor: appendToIvfIndex keeps centroids
    // fixed, so drift must be WATCHED, not assumed away — compare a
    // (deliberately shifted) batch's distance-to-assigned-centroid
    // distribution against the index build's and flag rebuild when the
    // batch p95 exceeds build p95 x1.5. Fully deterministic, so the
    // oracle replicates the whole monitor including the flag.
    "ann_index_drift" -> ((s, dir) => {
      val path = s"/tmp/graft_ivf_${fixtureKey(dir)}"
      graft.ext.IndexCache.ensure(path)(
        Similarity.writeIvfIndex(tables(s, dir).embeddings, path))
      val batch = tables(s, dir).embeddings
        .filter(col("vec_id") % 7 === 3)
        .select(col("vec_id"),
          transform(col("embedding").cast("array<double>"),
            x => x + lit(0.25)).as("embedding"))
      Similarity.ivfIndexDrift(s, path, batch)
    }),

    // Product-quantization ANN: codebook train → byte codes → ADC scan
    // → exact re-rank (the memory-compression scale path)
    // PQ family: codebooks train ONCE per process (trainCodebooksCached
    // — the index-once-serve-many discipline); PQ and IVF-PQ share them
    // Both PQ queries serve from the persisted code table (FAISS
    // persists exactly this artifact): encode is the index build's
    // cost; the query pays ADC + exact re-rank only
    "ann_topk_pq" -> ((s, dir) => {
      val emb = tables(s, dir).embeddings
      val cbs = graft.ext.ProductQuant.trainCodebooksCached(emb, dir)
      val path = s"/tmp/graft_ivfpq_${fixtureKey(dir)}"
      graft.ext.IndexCache.ensure(path)(
        graft.ext.ProductQuant.writeIvfPqIndex(emb, path,
          codebooks = Some(cbs)))
      graft.ext.ProductQuant.topKPqServed(s, emb, path, cbs)
    }),
    // PQ retrain signal: per-subspace quantization error of the corpus
    // against the frozen codebooks (term-quantized 1e-9 fixed point —
    // order-independent BIGINT sums; one broadcast join, one groupBy)
    "pq_distortion" -> ((s, dir) => {
      val emb = tables(s, dir).embeddings
      graft.ext.ProductQuant.pqDistortion(emb,
        Some(graft.ext.ProductQuant.trainCodebooksCached(emb, dir)))
    }),
    // IVF-PQ: coarse cells prune the scan to nProbe cells per query,
    // ADC over 16-byte codes orders the survivors, exact re-rank last
    // (the FAISS-IVFPQ composition); served partition-pruned from the
    // same persisted index
    "ann_topk_ivfpq" -> ((s, dir) => {
      val emb = tables(s, dir).embeddings
      val cbs = graft.ext.ProductQuant.trainCodebooksCached(emb, dir)
      val path = s"/tmp/graft_ivfpq_${fixtureKey(dir)}"
      graft.ext.IndexCache.ensure(path)(
        graft.ext.ProductQuant.writeIvfPqIndex(emb, path,
          codebooks = Some(cbs)))
      graft.ext.ProductQuant.topKIvfPqServed(s, emb, path,
        codebooks = Some(cbs))
    }),

    // GE unexpected-rows extraction: 5 failing rows per expectation
    "dq_failed_samples" -> ((s, dir) =>
      DqSuite.failedSamples(Enrich.curated(tables(s, dir).events),
        DqSuite.customersSuite).orderBy("exp_idx", "event_id")),

    // Sketch scale-path (HLL + GK quantile) in verified form: one row
    // per metric with the exact value plus a within_bound flag (HLL
    // within 3 relative standard deviations; GK inside the exact
    // quantile window at 0.5 ± 2/accuracy) — DuckDB computes the exact
    // side and asserts true, so the error bounds are hash-checked
    "approx_sketches" -> ((s, dir) => {
      val eps = 1.0 / TextAnalysis.ApproxQuantileAccuracy
      val d = tables(s, dir).documents
      val sk = d.agg(
        approx_count_distinct(col("text"), 0.05).as("hll_distinct"),
        percentile_approx(col("n_chars"), lit(0.5),
          lit(TextAnalysis.ApproxQuantileAccuracy)).as("gk_p50"))
      d.crossJoin(broadcast(sk)).agg(
          count(lit(1)).as("n"),
          countDistinct(col("text")).as("exact_distinct"),
          max(col("hll_distinct")).as("hll_distinct"),
          percentile(col("n_chars"), lit(0.5)).as("exact_p50"),
          sum(when(col("n_chars") <= col("gk_p50"), 1L).otherwise(0L))
            .as("le50"),
          sum(when(col("n_chars") < col("gk_p50"), 1L).otherwise(0L))
            .as("lt50"))
        .select(explode(array(
          struct(lit("distinct_texts").as("metric"),
            col("exact_distinct").cast("double").as("exact_value"),
            (abs(col("hll_distinct") - col("exact_distinct"))
              <= lit(0.15) * col("exact_distinct")).as("within_bound")),
          struct(lit("p50_chars").as("metric"),
            col("exact_p50").cast("double").as("exact_value"),
            (col("le50") >= floor(lit(0.5 - eps) * col("n")) &&
              col("lt50") <= ceil(lit(0.5 + eps) * col("n")))
              .as("within_bound")))).as("m"))
        .select(col("m.metric").as("metric"),
          col("m.exact_value").as("exact_value"),
          col("m.within_bound").as("within_bound"))
        .orderBy("metric")
    }),

    // Ranking breadth: dense_rank / percent_rank / ntile, one total order
    "customer_value_ranks" -> ((s, dir) =>
      Analytics.customerValueRanks(tables(s, dir))),

    // Iterative graph centrality: 5-iteration fixed-point PageRank over
    // the bipartite customer<->supplier purchase graph (exact
    // integers). The fixed point is computed ONCE per process and
    // persisted (the indexing job's cost); the query serves top-k from
    // the O(nodes) artifact — same economics as bm25_served.
    "purchase_rank" -> ((s, dir) => {
      val t = tables(s, dir)
      val path = s"/tmp/graft_rank_${fixtureKey(dir)}"
      graft.ext.IndexCache.ensure(path)(
        graft.ext.GraphRank.writeRankIndex(t.orders, t.lineitem, path))
      graft.ext.GraphRank.purchaseRankServed(s, path)
    }),

    // Pivot: incident type × severity matrix
    "incident_pivot" -> ((s, dir) =>
      Analytics.incidentPivot(Incidents.fromEvents(tables(s, dir).events))
        .orderBy("incident_type")),

    // Transitive near-dup clusters (iterative min-label propagation)
    "dedup_clusters" -> ((s, dir) =>
      Dedup.minhashClusters(tables(s, dir).documents,
          labels = Some(clusterLabelsFor(s, dir)))
        .orderBy("cluster_id")),
    // order-invariant near-dup: hashed bag-of-words cosine over LSH
    // blocks — catches reordered duplicates that shingle methods miss
    "dedup_bow_cosine" -> ((s, dir) =>
      Dedup.bowNearDups(tables(s, dir).documents)),
    // dedup provenance: per survivor, the sorted doc_ids the
    // keep-lowest policy dropped in its favor (the audit artifact a
    // curated corpus ships with); bounded by duplicate volume
    "dedup_manifest" -> ((s, dir) =>
      Dedup.dedupManifestFlat(tables(s, dir).documents,
        labels = Some(clusterLabelsFor(s, dir)))),
    // dedup provenance under the KEEP-BEST policy: the manifest
    // mirrors whichever survivor rule a pipeline ships — here the
    // quality-aware keepBestSurvivors cut
    "dedup_manifest_best" -> ((s, dir) =>
      Dedup.dedupManifestBest(tables(s, dir).documents,
        labelsOpt = Some(clusterLabelsFor(s, dir)))),
    // dedup provenance under the SOURCE-PRIORITY policy — the third
    // cell of the manifest x survivor-policy matrix
    "dedup_manifest_priority" -> ((s, dir) =>
      Dedup.dedupManifestPriority(tables(s, dir).documents,
        labelsOpt = Some(clusterLabelsFor(s, dir)))),
    // soft dedup: per-doc 1/|cluster| sampling weight (down-weight, not
    // drop — arXiv:2305.16264's alternative to the hard survivors cut)
    "soft_dedup_weights" -> ((s, dir) =>
      Dedup.softDedupWeights(tables(s, dir).documents,
          labelsOpt = Some(clusterLabelsFor(s, dir)))
        .orderBy("doc_id")),
    // SemDeDup-family keep-best: highest-quality member survives each
    // near-dup cluster (keep-first's arbitrary pick upgraded in-pass)
    "dedup_keep_best" -> ((s, dir) =>
      Dedup.keepBestSurvivors(tables(s, dir).documents,
          labelsOpt = Some(clusterLabelsFor(s, dir)))
        .orderBy("doc_id")),
    // source-priority survivor policy: cross-source duplicates keep
    // the preferred-source copy (licensing/provenance tiers)
    "dedup_keep_priority" -> ((s, dir) =>
      Dedup.keepPrioritySurvivors(tables(s, dir).documents,
        labelsOpt = Some(clusterLabelsFor(s, dir)))),

    // A4 as rollup: incident counts with type subtotals + grand total
    "incident_rollup" -> ((s, dir) =>
      Incidents.fromEvents(tables(s, dir).events)
        .rollup("incident_type", "severity").agg(count(lit(1)).as("n"))
        .select(coalesce(col("incident_type"), lit("(all)"))
          .as("incident_type"),
          coalesce(col("severity"), lit("(all)")).as("severity"), col("n"))
        .orderBy("incident_type", "severity")),

    // A4 as explicit GROUPING SETS: two chosen facets + grand total in
    // one pass (the general form cube/rollup specialize)
    "incident_grouping_sets" -> ((s, dir) =>
      Incidents.fromEvents(tables(s, dir).events)
        .groupingSets(
          Seq(Seq(col("incident_type"), col("severity")),
            Seq(col("incident_type"), col("status")), Seq()),
          col("incident_type"), col("severity"), col("status"))
        .agg(count(lit(1)).as("n"))
        .select(
          coalesce(col("incident_type"), lit("(all)")).as("incident_type"),
          coalesce(col("severity"), lit("(all)")).as("severity"),
          coalesce(col("status"), lit("(all)")).as("status"), col("n"))
        .orderBy("incident_type", "severity", "status")),

    // The DQ engine is table-generic: corpus-quality suite on documents
    "dq_docs_suite" -> ((s, dir) =>
      DqSuite.evaluate(tables(s, dir).documents, DqSuite.documentsSuite)
        .orderBy("exp_idx")),

    // Full outer join: daily purchase totals vs daily error counts
    "daily_purchases_vs_errors" -> ((s, dir) => {
      val ev = tables(s, dir).events
      val p = ev.filter(col("event_type") === "purchase")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n_purchases"),
          round(sum("value"), 2).as("purchase_value"))
      val e = ev.filter(col("event_type") === "error")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n_errors"))
      p.join(e, Seq("day"), "full_outer")
        .select(col("day"),
          coalesce(col("n_purchases"), lit(0L)).as("n_purchases"),
          coalesce(col("purchase_value"), lit(0.0)).as("purchase_value"),
          coalesce(col("n_errors"), lit(0L)).as("n_errors"))
        .orderBy("day")
    })
  )

  // ---- oracles ------------------------------------------------------------

  private val W = CustomerEvents.sqlWith // WITH ce, cur0, cur

  def oracleSql: Map[String, String] = Map(
    "ce_curated" ->
      s"""$W
         |SELECT event_id, id, name, email, country, plan, version,
         |  marketing_opt_in, customer_segment, signup_ts, event_ts,
         |  CAST(floor(epoch_ms(signup_timestamp) / 1000.0) AS BIGINT)
         |    AS signup_ts_sec,
         |  CAST(floor(epoch_ms(event_timestamp) / 1000.0) AS BIGINT)
         |    AS event_ts_sec,
         |  epoch_ms(processing_timestamp) AS processing_ts_ms,
         |  region, email_domain, customer_age_days, schema_drift_detected,
         |  is_late_arrival, dq_email_valid, dq_id_not_null,
         |  dq_timestamp_valid, dq_plan_valid, dq_passed
         |FROM cur ORDER BY event_id""".stripMargin,

    "ce_avro_decoded" -> {
      val plans = graft.sources.CustomerEventAvro.PlanSymbols
        .map(p => s"'$p'").mkString(", ")
      s"""WITH ce AS (${CustomerEvents.sqlCte})
         |SELECT event_id, id, name, email, signup_ts, country, plan,
         |  event_ts, version, marketing_opt_in, customer_segment
         |FROM ce
         |WHERE id IS NOT NULL AND name IS NOT NULL AND email IS NOT NULL
         |  AND country IS NOT NULL AND plan IN ($plans)
         |ORDER BY event_id""".stripMargin
    },

    // JSON key presence ≡ field non-null (to_json drops nulls), so the
    // oracle needs no JSON machinery at all
    "schema_drift_report" ->
      s"""WITH ce AS (${CustomerEvents.sqlCte}),
         |tot AS (SELECT count(*) AS n_docs FROM ce),
         |p AS (
         |  SELECT 'id' AS column_name, count(id) AS np, true AS exp FROM ce
         |  UNION ALL SELECT 'name', count(name), true FROM ce
         |  UNION ALL SELECT 'email', count(email), true FROM ce
         |  UNION ALL SELECT 'signup_ts', count(signup_ts), true FROM ce
         |  UNION ALL SELECT 'country', count(country), true FROM ce
         |  UNION ALL SELECT 'plan', count(plan), true FROM ce
         |  UNION ALL SELECT 'event_ts', count(event_ts), true FROM ce
         |  UNION ALL SELECT 'version', count(version), true FROM ce
         |  UNION ALL SELECT 'marketing_opt_in', count(marketing_opt_in),
         |    false FROM ce
         |  UNION ALL SELECT 'customer_segment', count(customer_segment),
         |    false FROM ce)
         |SELECT column_name, CAST(np AS BIGINT) AS n_present, n_docs,
         |  CASE WHEN NOT exp THEN 'new'
         |       WHEN np = 0 THEN 'missing'
         |       WHEN np < n_docs THEN 'partial'
         |       ELSE 'complete' END AS status
         |FROM p, tot
         |WHERE np > 0 OR exp
         |ORDER BY column_name""".stripMargin,

    "ce_run_report" ->
      s"""$W
         |SELECT total_records, late_records, dq_failures, schema_drift_count,
         |  CASE WHEN total_records > 0
         |    THEN round(CAST(late_records AS DOUBLE) / total_records, 6)
         |    ELSE 0.0 END AS late_rate,
         |  CASE WHEN total_records > 0
         |    THEN round(CAST(dq_failures AS DOUBLE) / total_records, 6)
         |    ELSE 0.0 END AS dq_failure_rate
         |FROM (
         |  SELECT count(*) AS total_records,
         |    count(CASE WHEN is_late_arrival THEN 1 END) AS late_records,
         |    count(CASE WHEN NOT dq_passed THEN 1 END) AS dq_failures,
         |    count(CASE WHEN schema_drift_detected THEN 1 END)
         |      AS schema_drift_count
         |  FROM cur)""".stripMargin,

    "region_counts" ->
      s"""$W
         |SELECT region, count(*) AS n_events,
         |  count(DISTINCT id) AS n_customers
         |FROM cur GROUP BY region ORDER BY region""".stripMargin,

    "q1_lineitem_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2)
        |    AS sum_disc_price,
        |  round(avg(l_quantity), 6) AS avg_qty,
        |  round(avg(l_extendedprice), 6) AS avg_price,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "incident_stats_by_type" ->
      s"""WITH incidents AS (${Incidents.sqlCte})
         |SELECT incident_type, count(*) AS n,
         |  count(CASE WHEN escalated THEN 1 END) AS n_escalated
         |FROM incidents
         |WHERE created_at >= TIMESTAMP '2024-02-01 00:00:00'
         |  - INTERVAL 7 DAY
         |GROUP BY incident_type ORDER BY incident_type""".stripMargin,

    "incident_recent" ->
      s"""WITH incidents AS (${Incidents.sqlCte})
         |SELECT incident_id, incident_type, severity, status, escalated,
         |  epoch_ms(created_at) AS created_at_ms
         |FROM incidents
         |ORDER BY created_at DESC, incident_id LIMIT 10""".stripMargin,

    "dq_suite_results" ->
      s"""$W, results AS (${DqSuite.resultsSql(DqSuite.customersSuite)})
         |SELECT * FROM results ORDER BY exp_idx""".stripMargin,

    "doc_profile" -> graft.dq.Profiler.profileSql("documents",
      Seq("doc_id", "text", "lang", "source", "n_chars")),

    "dq_alias_suite" ->
      s"""$W, cur_b AS (
         |  SELECT cur.*, id AS customer_id, email AS customer_email,
         |    plan AS subscription_plan,
         |    signup_timestamp AS registration_date,
         |    name AS customer_name, country AS customer_country,
         |    version AS schema_version
         |  FROM cur),
         |results AS (
         |${DqSuite.resultsSql(DqSuite.customersBusinessSuite, "cur_b")})
         |SELECT * FROM results ORDER BY exp_idx""".stripMargin,

    "dq_suite_summary" ->
      s"""$W, results AS (${DqSuite.resultsSql(DqSuite.customersSuite)})
         |SELECT *,
         |  CASE WHEN failure_rate > ${DqSuite.CriticalThreshold}
         |         THEN 'critical'
         |       WHEN failure_rate > ${DqSuite.WarningThreshold}
         |         THEN 'warning'
         |       ELSE 'acceptable' END AS band,
         |  (failure_rate > ${DqSuite.HardFailThreshold}) AS hard_fail
         |FROM (
         |  SELECT *,
         |    round(successful_expectations * 100.0
         |      / evaluated_expectations, 4) AS success_percent,
         |    round(CAST(unsuccessful_expectations AS DOUBLE)
         |      / evaluated_expectations, 6) AS failure_rate
         |  FROM (
         |    SELECT count(*) AS evaluated_expectations,
         |      count(CASE WHEN success THEN 1 END)
         |        AS successful_expectations,
         |      count(CASE WHEN NOT success THEN 1 END)
         |        AS unsuccessful_expectations
         |    FROM results))""".stripMargin,

    "dq_dimension_scores" -> {
      val dims = DqSuite.Dimensions
        .flatMap { case (d, idxs) => idxs.map(i => s"('$d', $i)") }
        .mkString(", ")
      s"""$W, results AS (${DqSuite.resultsSql(DqSuite.customersSuite)})
         |SELECT dimension, round(avg(success_rate), 6) AS score
         |FROM results
         |JOIN (VALUES $dims) AS dims(dimension, exp_idx) USING (exp_idx)
         |GROUP BY dimension ORDER BY dimension""".stripMargin
    },

    "dq_trend_daily" ->
      s"""$W, daily AS (
         |  SELECT CAST(processing_timestamp AS DATE) AS day,
         |    avg(CASE WHEN dq_passed THEN 1.0 ELSE 0.0 END) AS rate
         |  FROM cur GROUP BY 1)
         |SELECT round((max_by(rate, day) - min_by(rate, day))
         |    / count(*), 6) AS trend,
         |  count(*) AS n_days
         |FROM daily""".stripMargin,

    "revenue_by_region" ->
      """SELECT r_name, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS total_revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,

    "q3_shipping_priority" ->
      """SELECT l_orderkey, epoch_ms(o_orderdate) AS o_orderdate_ms,
        |  o_orderpriority,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-30 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-06-30 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q5_local_supplier" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |  AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,

    "top_orders_per_customer" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,

    "sessions_per_user" ->
      """WITH lagged AS (
        |  SELECT user_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev_ts
        |  FROM events),
        |flags AS (
        |  SELECT user_id,
        |    CASE WHEN prev_ts IS NULL
        |      OR CAST(floor(epoch_ms(ts) / 1000.0) AS BIGINT)
        |         - CAST(floor(epoch_ms(prev_ts) / 1000.0) AS BIGINT) > 1800
        |      THEN 1 ELSE 0 END AS new_session
        |  FROM lagged)
        |SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions,
        |  count(*) AS n_events
        |FROM flags GROUP BY user_id ORDER BY user_id""".stripMargin,

    "session_texts" -> Analytics.sessionTextsSql(),
    "dialog_pairs" -> Analytics.dialogPairsSql(),
    "decayed_engagement" -> Analytics.decayedEngagementSql,
    "hll_window_served" -> graft.ext.SketchIndex.hllWindowVerifiedSql,
    "hll_takedown_purge" -> graft.ext.Takedown.hllTakedownVerifiedSql,
    "key_skew_report" ->
      graft.ops.Diagnostics.keySkewReportSql("events", "user_id"),
    "hourly_gapfill" -> Analytics.hourlyGapfillSql,
    "term_search" -> graft.ext.Search.searchAllSql(SearchTerms),
    "tfidf_top_docs" -> graft.ext.Search.tfIdfTopDocsSql(SearchTerms),
    "phrase_search" -> graft.ext.Search.searchPhraseSql(PhraseTerms),
    "more_like_this" -> graft.ext.Search.moreLikeThisSql(MltQueryDoc),
    "hybrid_mlt" -> graft.ext.Search.hybridMoreLikeThisSql(MltQueryDoc),
    "bm25_served" -> graft.ext.Search.bm25TopDocsSql(SearchTerms),
    "bm25_top_docs" -> graft.ext.Search.bm25TopDocsSql(SearchTerms),

    "hourly_event_counts" ->
      """SELECT epoch_ms(date_trunc('hour', ts)) AS hour_start_ms,
        |  event_type, count(*) AS n, round(sum(value), 2) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // DuckDB's native ASOF JOIN is the oracle for operators.AsOfJoin
    // (l.ts >= r.ts, greatest r.ts wins — identical tie semantics)
    "purchase_attribution" ->
      """SELECT l.event_id AS purchase_id, l.user_id,
        |  epoch_ms(l.ts) AS purchase_ms,
        |  r.event_id AS touch_id, r.event_type AS touch_type,
        |  epoch_ms(l.ts) - epoch_ms(r.ts) AS gap_ms
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') l
        |ASOF LEFT JOIN
        |  (SELECT * FROM events WHERE event_type IN ('click', 'view')) r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY purchase_id""".stripMargin,

    // DuckDB's IEJoin handles the raw inequality join — the oracle for
    // the bucketized operators.RangeJoin
    "errors_near_purchases" ->
      """SELECT p.event_id AS purchase_id, p.user_id,
        |  count(*) AS n_errors
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT * FROM events WHERE event_type = 'error') e
        |  ON epoch_ms(e.ts)
        |     BETWEEN epoch_ms(p.ts) - 600000 AND epoch_ms(p.ts)
        |GROUP BY 1, 2 ORDER BY purchase_id""".stripMargin,

    "next_error_after_purchase" ->
      """SELECT l.event_id AS purchase_id, l.user_id,
        |  epoch_ms(l.ts) AS purchase_ms,
        |  r.event_id AS error_id,
        |  epoch_ms(r.ts) - epoch_ms(l.ts) AS wait_ms
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') l
        |ASOF LEFT JOIN
        |  (SELECT * FROM events WHERE event_type = 'error') r
        |  ON l.user_id = r.user_id AND l.ts <= r.ts
        |ORDER BY purchase_id""".stripMargin,

    "set_ops_users" ->
      """WITH f AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p,
        |    max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS e
        |  FROM events GROUP BY user_id)
        |SELECT count(CASE WHEN p = 1 THEN 1 END) AS n_purchasers,
        |  count(CASE WHEN e = 1 THEN 1 END) AS n_errored,
        |  count(CASE WHEN p = 1 AND e = 1 THEN 1 END) AS n_both,
        |  count(CASE WHEN p = 1 AND e = 0 THEN 1 END) AS n_purchase_only
        |FROM f""".stripMargin,

    "quarantine_split" ->
      s"""$W
         |SELECT CASE WHEN dq_passed THEN 'main' ELSE 'quarantine' END
         |    AS flow,
         |  count(*) AS n
         |FROM cur GROUP BY 1 ORDER BY 1""".stripMargin,

    "neg_sampling" -> graft.ext.NegSampling.negativeSamplesSql,
    "orders_semi_anti" ->
      """SELECT 'with_late' AS flow, o_orderstatus, count(*) AS n
        |FROM orders WHERE EXISTS (
        |  SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey
        |    AND l_shipdate >= TIMESTAMP '2001-01-01 00:00:00')
        |GROUP BY o_orderstatus
        |UNION ALL
        |SELECT 'without_late' AS flow, o_orderstatus, count(*) AS n
        |FROM orders WHERE NOT EXISTS (
        |  SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey
        |    AND l_shipdate >= TIMESTAMP '2001-01-01 00:00:00')
        |GROUP BY o_orderstatus
        |ORDER BY flow, o_orderstatus""".stripMargin,

    "incident_cube" ->
      s"""WITH incidents AS (${Incidents.sqlCte})
         |SELECT coalesce(severity, '(all)') AS severity,
         |  coalesce(status, '(all)') AS status, count(*) AS n
         |FROM incidents GROUP BY CUBE (severity, status)
         |ORDER BY severity, status""".stripMargin,

    "text_stats" ->
      s"""SELECT * FROM (${TextAnalysis.textStatsSql}) ORDER BY doc_id""",
    "token_counts" ->
      s"""SELECT * FROM (${TextAnalysis.tokenCountsSql}) ORDER BY source""",
    "lang_id_confusion" ->
      s"""SELECT * FROM (${TextAnalysis.langIdConfusionSql})
         |ORDER BY lang, predicted""".stripMargin,
    "doc_fingerprints" ->
      s"""SELECT * FROM (${TextAnalysis.fingerprintsSql}) ORDER BY doc_id""",
    "doc_novelty" -> TextAnalysis.noveltyReportSql,
    "novelty_incremental" ->
      TextAnalysis.noveltyIncrementalSql(id => s"$id % 10 = 7"),
    "winnow_fingerprints" ->
      s"""SELECT * FROM (${graft.ext.Winnow.fingerprintReportSql})
         |ORDER BY doc_id""".stripMargin,
    "winnow_matches" ->
      s"""SELECT * FROM (${graft.ext.Winnow.matchesSql})
         |ORDER BY doc_a, doc_b""".stripMargin,
    "decontam_report" -> graft.ext.Curation.decontaminationReportSql(),
    "bloom_decontam" -> graft.ext.Curation.bloomDecontamSql(),
    "fuzzy_decontam" -> graft.ext.Curation.fuzzyDecontamSql(),
    "dsir_weights" -> graft.ext.Curation.dsirWeightsSql(),
    "semantic_decontam" -> graft.ext.Curation.semanticDecontamSql(),
    "event_funnel" -> Analytics.eventFunnelSql,
    "cohort_retention" -> Analytics.cohortRetentionSql,
    "hourly_anomalies" -> Analytics.hourlyAnomaliesSql(),
    "stratified_sample" -> graft.ext.Curation.stratifiedSampleSummarySql,
    "source_cap" -> graft.ext.Curation.sourceCapSummarySql,
    "takedown_audit" -> graft.ext.Takedown.takedownAuditSql,
    "sample_exact_k" -> graft.ext.Curation.sampleExactKSql(),
    "weighted_sample_k" -> graft.ext.Curation.weightedSampleKSql(),
    "heavy_hitters" -> graft.ext.HeavyHitters.reportSql(),
    "heavy_hitters_served" -> graft.ext.HeavyHitters.reportSql(),
    "vocab_growth" -> graft.ext.Curation.vocabGrowthSql(),
    "zipf_fit" -> TextAnalysis.zipfFitSql,
    "boilerplate_report" -> graft.ext.Boilerplate.reportSql(),
    "boilerplate_scrub" -> graft.ext.Boilerplate.scrubSql(),
    "pack_plan" -> graft.ext.Curation.packPlanSql(
      streamSql = graft.ext.Curation.packStreamShardedSql()),
    "pack_assignments" -> graft.ext.Curation.packAssignmentsSql(
      streamSql = graft.ext.Curation.packStreamShardedSql()),
    "chunk_plan" -> graft.ext.Curation.chunkPlanSql(
      maxTokens = 40L, overlap = 8L),
    "shard_plan" ->
      s"""SELECT * FROM (${graft.ext.Shards.shardSummarySql()})
         |ORDER BY shard""".stripMargin,
    "dedup_incremental" ->
      Dedup.incrementalNearDupsSql(id => s"$id % 10 = 7"),
    "training_mix" -> graft.ext.Curation.trainingMixSql(),
    "corpus_drift" -> graft.ext.Curation.corpusDriftSql(
      "doc_id % 2 = 0", "doc_id % 2 = 1"),
    "curriculum_plan" -> graft.ext.Curation.curriculumPlanSql,
    "dataset_card" -> graft.ext.Curation.datasetCardSql,
    "corpus_diff" -> graft.ext.Curation.corpusDiffSql(
      "doc_id % 10 != 0", "doc_id % 7 != 0",
      "CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END"),
    // brute-force oracle: every (clean, typo'd) pair within distance 1
    // over ALL pairs — equality with the blocked Spark plan proves the
    // deletion-neighborhood blocking's complete recall
    "fuzzy_linkage" ->
      s"""$W, clean AS (
         |  SELECT DISTINCT email FROM cur WHERE dq_email_valid),
         |dirty AS (
         |  SELECT DISTINCT substr(email, 1, p - 1) || 'x' ||
         |    substr(email, p + 1, len(email)) AS rk
         |  FROM (SELECT email,
         |    CAST(${graft.ext.Hashing.h32Sql("email")} % len(email)
         |      AS INT) + 1 AS p FROM clean))
         |SELECT clean.email AS lk, dirty.rk,
         |  levenshtein(clean.email, dirty.rk) AS dist
         |FROM clean CROSS JOIN dirty
         |WHERE clean.email != dirty.rk
         |  AND levenshtein(clean.email, dirty.rk) <= 1
         |ORDER BY lk, rk""".stripMargin,
    "source_overlap" ->
      s"""SELECT * FROM (${graft.ext.Curation.sourceOverlapSql})
         |ORDER BY source_a, source_b""".stripMargin,
    "source_overlap_approx" ->
      s"""SELECT * FROM (${graft.ext.Curation.sourceOverlapApproxSql()})
         |ORDER BY source_a, source_b""".stripMargin,
    "dataset_split" -> graft.ext.Curation.datasetSplitSummarySql,
    "dataset_split_safe" -> graft.ext.Curation.leakageSafeSplitSummarySql,
    "vocab_coverage" -> TextAnalysis.vocabCoverageSql(),
    "quality_filter_report" -> TextAnalysis.qualityFilterReportSql,
    "quality_classifier" ->
      s"""SELECT * FROM (${TextAnalysis.qualityClassifierSql})
         |ORDER BY doc_id""".stripMargin,
    "quality_classifier_learned" ->
      s"""SELECT * FROM (${TextAnalysis.qualityClassifierLearnedSql(
             TextAnalysis.TrainedQualityCoefficientsSf0001)})
         |ORDER BY doc_id""".stripMargin,
    "quality_calibrated" -> TextAnalysis.qualityCalibratedSql,
    "bpe_top_pairs" -> graft.ext.Bpe.topPairsSql(20),
    // the k-merge trainer, unrolled to chained CTEs (round 6: the last
    // meaningfully-checkable query moves from rows-only to full oracle)
    "bpe_merges" -> graft.ext.Bpe.mergesSql(),
    "bpe_tokenize" -> graft.ext.Bpe.tokenizeReportSql(),
    "tokenizer_fertility" -> graft.ext.Bpe.fertilityReportSql(),
    "zorder_box_read" ->
      """WITH b AS (
        |  SELECT max(l_orderkey) AS xm, max(l_partkey) AS ym
        |  FROM lineitem)
        |SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice
        |FROM lineitem, b
        |WHERE l_orderkey BETWEEN xm // 5 AND xm * 3 // 10
        |  AND l_partkey BETWEEN ym // 10 AND ym // 4
        |ORDER BY 1, 2, 3, 4""".stripMargin,
    "text_normalized" -> graft.ext.Curation.normalizedReportSql,
    "source_mix_weights" -> graft.ext.Curation.sourceMixWeightsSql,
    "temperature_mix" -> graft.ext.Curation.temperatureMixWeightsSql(),
    "epoch_plan" -> graft.ext.Curation.epochPlanSql(),
    "doc_repetition" ->
      s"""SELECT * FROM (${TextAnalysis.repetitionReportSql()})
         |ORDER BY doc_id""".stripMargin,
    "token_entropy" -> TextAnalysis.tokenEntropySql,
    "doc_lm_score" -> TextAnalysis.lmScoreSql,
    "pii_scrub" ->
      s"""$W
         |${graft.ext.Curation.piiScrubReportSql}""".stripMargin,
    "pii_cc_scrub" ->
      s"""$W
         |${graft.ext.Curation.piiCcReportSql}""".stripMargin,
    "k_anonymity" -> graft.ext.Privacy.customerKAnonymitySql,
    "l_diversity" -> graft.ext.Privacy.customerLDiversitySql,
    "dedup_exact" -> Dedup.exactSummarySql,
    "dedup_minhash_lsh" -> Dedup.minhashNearDupsSql,
    "dedup_simhash" -> Dedup.simhashNearDupsSql,
    "dedup_simhash60" -> Dedup.simhash60NearDupsSql,
    "dedup_ngram_jaccard" -> Dedup.ngramJaccardNearDupsSql,
    "dup_span_report" -> Dedup.dupSpanReportSql(),
    "dup_span_top" -> Dedup.dupSpanTopSql(),
    "dup_span_scrub" -> Dedup.dupSpanScrubSql(),
    "span_scrub_apply" -> Dedup.applySpanScrubSql(),
    "span_containment" -> Dedup.spanContainmentSql(),
    "dedup_embedding_cosine" -> Dedup.embeddingNearDupsSql,
    "dedup_embedding_ann" -> Dedup.embeddingNearDupsAnnSql,
    "ann_topk_brute" -> Similarity.topKBruteForceSql,
    "hard_negatives" -> Similarity.hardNegativesSql,
    "label_noise_knn" -> Similarity.labelNoiseKnnSql,
    "hard_negatives_served" -> Similarity.hardNegativesServedSql,
    "label_noise_knn_served" -> Similarity.labelNoiseKnnServedSql,
    "ann_recall_report" -> Similarity.annRecallReportSql,
    "ann_recall_filtered" -> Similarity.annRecallFilteredSql,
    "ann_topk_filtered" -> Similarity.topKIvfFilteredSql,
    "bitext_margin_pairs" -> Similarity.bitextMarginPairsSql(),
    "ann_topk_lsh" -> Similarity.topKLshSql,
    "ann_topk_lsh_multiprobe" -> Similarity.topKLshMultiProbeSql,
    "multimodal_features" ->
      s"""SELECT * FROM (${Multimodal.featuresSql}) ORDER BY doc_id""",
    "multimodal_image_stats" -> Multimodal.imageStatsSql,
    "image_near_dups" -> Multimodal.imageNearDupsSql,
    "audio_near_dups" -> Multimodal.audioNearDupsSql,
    "video_near_dups" -> Multimodal.videoNearDupsSql,
    "media_dedup_clusters" -> Multimodal.mediaDedupClustersSql,
    // the served family must equal in-flight bit for bit, so it checks
    // against the SAME oracles
    "image_near_dups_served" -> Multimodal.imageNearDupsSql,
    "audio_near_dups_served" -> Multimodal.audioNearDupsSql,
    "video_near_dups_served" -> Multimodal.videoNearDupsSql,
    "media_dedup_clusters_served" -> Multimodal.mediaDedupClustersSql,
    "corpus_dedup_clusters" -> Multimodal.corpusDedupClustersSql,
    "corpus_dedup_manifest" -> Multimodal.corpusDedupManifestSql,
    "corpus_graph_incremental" -> Multimodal.corpusDedupClustersSql,
    "corpus_graph_compacted" -> Multimodal.corpusDedupClustersSql,
    "corpus_graph_survivors" -> Multimodal.corpusGraphSurvivorsSql,
    "corpus_graph_takedown" -> Multimodal.corpusDedupClustersSqlWhere(
      Some("doc_a % 41 != 7 AND doc_b % 41 != 7")),
    "multimodal_audio_stats" -> Multimodal.audioStatsSql,

    "session_window_stats" ->
      """WITH lagged AS (
        |  SELECT user_id, ts, value,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |  FROM events),
        |flagged AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN prev IS NULL
        |      OR epoch_us(ts) - epoch_us(prev) >= 1800000000
        |      THEN 1 ELSE 0 END AS new_s
        |  FROM lagged),
        |sess AS (
        |  SELECT user_id, ts, value,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged)
        |SELECT user_id, epoch_us(min(ts)) AS session_start_us,
        |  epoch_us(max(ts)) + 1800000000 AS session_end_us,
        |  count(*) AS n_events, round(sum(value), 2) AS total_value
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, session_start_us""".stripMargin,

    "sliding_window_counts" ->
      """SELECT window_start_ms, count(*) AS n,
        |  count(DISTINCT user_id) AS n_users
        |FROM (
        |  SELECT (epoch_us(ts) // 1800000000 - off) * 1800000
        |    AS window_start_ms, user_id
        |  FROM events, unnest([0, 1]) AS o(off))
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "agent_daily_decisions" ->
      s"""$W, daily AS (
         |  SELECT CAST(processing_timestamp AS DATE) AS day,
         |    count(*) AS total_records,
         |    count(CASE WHEN is_late_arrival THEN 1 END) AS late_records,
         |    count(CASE WHEN NOT dq_passed THEN 1 END) AS dq_failures,
         |    count(CASE WHEN schema_drift_detected THEN 1 END)
         |      AS schema_drift_count
         |  FROM cur GROUP BY 1),
         |${DecisionEngine.consecutiveFailuresSql}
         |SELECT day, total_records, late_records, dq_failures,
         |  schema_drift_count, consecutive_failures,
         |  ${DecisionEngine.decisionSql}
         |FROM with_consec ORDER BY day""".stripMargin,

    "incident_latest_state" ->
      s"""WITH incidents AS (${Incidents.sqlCte}),
         |log AS (${Incidents.updateLogSql}),
         |latest AS (
         |  SELECT *, row_number() OVER (PARTITION BY incident_id
         |    ORDER BY updated_at DESC, update_seq DESC) AS rn
         |  FROM log)
         |SELECT status, escalated, count(*) AS n
         |FROM latest WHERE rn = 1
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "incident_history" ->
      s"""WITH incidents AS (${Incidents.sqlCte}),
         |log AS (${Incidents.updateLogSql}),
         |hist AS (${Incidents.historySql})
         |SELECT incident_id, update_seq, status, escalated,
         |  epoch_ms(valid_from) AS valid_from_ms,
         |  epoch_ms(valid_to) AS valid_to_ms, is_current
         |FROM hist ORDER BY incident_id, update_seq""".stripMargin,

    "dedup_survivors" -> Dedup.minhashSurvivorsSql,
    "top_tokens" -> TextAnalysis.topTokensSql(),
    "pmi_collocations" -> TextAnalysis.pmiCollocationsSql(),
    "doc_length_outliers" -> TextAnalysis.lengthOutliersSql,
    "doc_length_quantiles" ->
      s"""SELECT * FROM (${TextAnalysis.lengthQuantilesSql})
         |ORDER BY lang""".stripMargin,
    "doc_length_quantiles_approx" ->
      TextAnalysis.lengthQuantilesApproxVerifiedSql,

    "ann_topk_ivf" -> Similarity.topKIvfSql,
    "ann_topk_ivf_hier" -> Similarity.topKIvfHierSql,
    // the served path must reproduce the in-flight hierarchical result
    // bit-for-bit — same build, same probes, same tie-breaks
    "ann_topk_ivf_served" -> Similarity.topKIvfHierSql,
    "ann_index_drift" ->
      Similarity.ivfIndexDriftSql("vec_id % 7 = 3", 0.25),
    "ann_topk_pq" -> graft.ext.ProductQuant.topKPqSql,
    "pq_distortion" -> graft.ext.ProductQuant.pqDistortionSql,
    "ann_topk_ivfpq" -> graft.ext.ProductQuant.topKIvfPqSql(),
    "dq_failed_samples" ->
      s"""$W, samples AS (
         |${DqSuite.failedSamplesSql(DqSuite.customersSuite)})
         |SELECT * FROM samples ORDER BY exp_idx, event_id""".stripMargin,
    // approx sketches: the exact side + within_bound=true, so the
    // sketch error bounds themselves are driver-hash-verified
    "approx_sketches" ->
      """SELECT * FROM (
        |  SELECT 'distinct_texts' AS metric,
        |    CAST(count(DISTINCT text) AS DOUBLE) AS exact_value,
        |    true AS within_bound
        |  FROM documents
        |  UNION ALL
        |  SELECT 'p50_chars' AS metric,
        |    quantile_cont(n_chars, 0.5) AS exact_value,
        |    true AS within_bound
        |  FROM documents)
        |ORDER BY metric""".stripMargin,

    "customer_value_ranks" ->
      """WITH rev AS (
        |  SELECT o_custkey, round(sum(o_totalprice), 2) AS revenue
        |  FROM orders GROUP BY o_custkey)
        |SELECT o_custkey, revenue,
        |  dense_rank() OVER w AS rk,
        |  round(percent_rank() OVER w, 6) AS pr,
        |  ntile(4) OVER w AS quartile
        |FROM rev
        |WINDOW w AS (ORDER BY revenue DESC, o_custkey)
        |ORDER BY revenue DESC, o_custkey LIMIT 50""".stripMargin,

    "purchase_rank" -> graft.ext.GraphRank.purchaseRankSql(),

    "incident_pivot" ->
      s"""WITH incidents AS (${Incidents.sqlCte})
         |SELECT incident_type,
         |  count(CASE WHEN severity = 'low' THEN 1 END) AS low,
         |  count(CASE WHEN severity = 'medium' THEN 1 END) AS medium,
         |  count(CASE WHEN severity = 'high' THEN 1 END) AS high,
         |  count(CASE WHEN severity = 'critical' THEN 1 END) AS critical
         |FROM incidents GROUP BY incident_type
         |ORDER BY incident_type""".stripMargin,

    "dedup_clusters" -> Dedup.minhashClustersSql,
    "dedup_manifest" -> Dedup.dedupManifestFlatSql,
    "dedup_manifest_best" -> Dedup.dedupManifestBestSql,
    "dedup_manifest_priority" -> Dedup.dedupManifestPrioritySql,
    "dedup_bow_cosine" -> Dedup.bowNearDupsSql,
    "soft_dedup_weights" -> Dedup.softDedupWeightsSql,
    "dedup_keep_best" -> Dedup.keepBestSurvivorsSql,
    "dedup_keep_priority" -> Dedup.keepPrioritySurvivorsSql,
    "embedding_clusters" -> Dedup.embeddingClustersSql(),
    "embedding_covariance" -> graft.ext.EmbedStats.covarianceSql,
    "embedding_project" -> graft.ext.EmbedStats.jlProjectSql,
    "label_balance" -> graft.ext.EmbedStats.labelBalanceSql,
    "doc_hash_embedding" -> graft.ext.EmbedStats.hashEmbeddingsLongSql,
    "batch_padding_report" -> graft.ext.Curation.paddingReportSql,

    "dq_docs_suite" ->
      s"""WITH cur AS (SELECT * FROM documents),
         |results AS (${DqSuite.resultsSql(DqSuite.documentsSuite)})
         |SELECT * FROM results ORDER BY exp_idx""".stripMargin,

    "incident_rollup" ->
      s"""WITH incidents AS (${Incidents.sqlCte})
         |SELECT coalesce(incident_type, '(all)') AS incident_type,
         |  coalesce(severity, '(all)') AS severity, count(*) AS n
         |FROM incidents GROUP BY ROLLUP (incident_type, severity)
         |ORDER BY incident_type, severity""".stripMargin,

    "incident_grouping_sets" ->
      s"""WITH incidents AS (${Incidents.sqlCte})
         |SELECT coalesce(incident_type, '(all)') AS incident_type,
         |  coalesce(severity, '(all)') AS severity,
         |  coalesce(status, '(all)') AS status, count(*) AS n
         |FROM incidents GROUP BY GROUPING SETS (
         |  (incident_type, severity), (incident_type, status), ())
         |ORDER BY incident_type, severity, status""".stripMargin,

    "daily_purchases_vs_errors" ->
      """WITH p AS (
        |  SELECT CAST(ts AS DATE) AS day, count(*) AS n_purchases,
        |    round(sum(value), 2) AS purchase_value
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |e AS (
        |  SELECT CAST(ts AS DATE) AS day, count(*) AS n_errors
        |  FROM events WHERE event_type = 'error' GROUP BY 1)
        |SELECT coalesce(p.day, e.day) AS day,
        |  coalesce(n_purchases, 0) AS n_purchases,
        |  coalesce(purchase_value, 0.0) AS purchase_value,
        |  coalesce(n_errors, 0) AS n_errors
        |FROM p FULL OUTER JOIN e ON p.day = e.day
        |ORDER BY day""".stripMargin
  )
}
