package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import Hashing.{h32, h32Sql}
import TextAnalysis.{shingles, shinglesSql}

/** Training-data curation operators beyond the reference surface — the
  * pieces a 100 TB pretraining pipeline needs between raw corpus and
  * training mix (north-star additions alongside [[Dedup]] /
  * [[Similarity]] / [[TextAnalysis]]):
  *
  *   - '''benchmark decontamination''': flag training documents that
  *     share word n-grams with an evaluation/benchmark set (the standard
  *     13-gram-overlap protocol, here over the fixture's 5-word shingles);
  *   - '''stratified sampling''': deterministic hash-threshold sampling
  *     with per-stratum rates — the data-mix knob. Hash-based (not
  *     `TABLESAMPLE`/`rand()`) so the sample is reproducible across runs,
  *     engines, and re-partitionings;
  *   - '''PII scrubbing''': regex redaction of emails / IPv4s / SSNs /
  *     phone numbers with per-class counts — the pre-training privacy
  *     scrub pass.
  *
  * All three are single-scan, map-side-heavy shapes: decontamination's
  * only join is a broadcast against the (small) benchmark n-gram set;
  * sampling and scrubbing are pure projections + one map-side-combinable
  * aggregate. Everything is cross-engine deterministic (md5-derived
  * hashing, RE2-safe regexes) so DuckDB verifies results bit-for-bit.
  */
object Curation {

  // ---- benchmark decontamination -----------------------------------------

  /** Fixture benchmark membership: every 50th doc plays the eval set. In
    * production the benchmark is an external (tiny) table; the plan shape
    * below — broadcast the benchmark's n-gram hash set, stream the corpus
    * once — is exactly what you'd run at 100 TB.
    */
  val BenchmarkMod = 50

  /** (doc_id, h): distinct word-shingle hashes per document, computed
    * map-side via the native word_shingles generator + md5 h32 (one md5
    * per shingle inside whole-stage codegen; only 16-byte (long,long)
    * pairs ever shuffle — same discipline as [[Dedup.shingleTable]]).
    */
  private def shingleHashes(documents: DataFrame): DataFrame = {
    documents
      .select(col("doc_id"),
        explode(array_distinct(shingles(col("text")))).as("s"))
      .select(col("doc_id"), h32(col("s")).as("h"))
  }

  /** Contaminated-document report: for each non-benchmark document that
    * shares at least one 5-word shingle with a benchmark document, emit
    * its distinct-shingle count, the number of benchmark-overlapping
    * shingles, and the overlap ratio.
    *
    * Scale shape: the benchmark n-gram set (eval sets are ≪ corpus —
    * here `doc_id % 50 = 0`) is distinct-reduced and '''broadcast''';
    * the corpus side is a single scan whose shingles never leave the
    * map side until the per-doc count aggregate (map-side combinable on
    * `doc_id`). No corpus self-join, no corpus shuffle of text.
    */
  def decontaminationReport(documents: DataFrame,
      benchmarkMod: Int = BenchmarkMod): DataFrame =
    decontaminationReportAgainst(
      documents.filter(col("doc_id") % benchmarkMod =!= 0),
      documents.filter(col("doc_id") % benchmarkMod === 0))

  /** The production-shaped form: an explicit (small) benchmark/eval
    * table screened against the training corpus — the fixture query
    * above just derives both sides from one table. Only the benchmark's
    * distinct n-gram hash set is broadcast; the corpus is one scan.
    */
  def decontaminationReportAgainst(corpus: DataFrame,
      benchmark: DataFrame): DataFrame = {
    val bench = shingleHashes(benchmark)
      .select(col("h")).distinct()
      .withColumn("bench_hit", lit(1))
    shingleHashes(corpus)
      .join(broadcast(bench), Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), count(col("bench_hit")).as("n_hits"))
      .filter(col("n_hits") > 0)
      .withColumn("contamination",
        round(col("n_hits").cast("double") / col("n_grams"), 6))
      .orderBy("doc_id")
  }

  /** DuckDB mirror of [[decontaminationReport]]. */
  def decontaminationReportSql(benchmarkMod: Int = BenchmarkMod): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |sh AS (
       |  SELECT doc_id, ${h32Sql("s")} AS h
       |  FROM (SELECT doc_id,
       |          unnest(list_distinct(${shinglesSql("t")})) AS s
       |        FROM toks)),
       |bench AS (
       |  SELECT DISTINCT h FROM sh WHERE doc_id % $benchmarkMod = 0)
       |SELECT sh.doc_id, count(*) AS n_grams,
       |  count(bench.h) AS n_hits,
       |  round(CAST(count(bench.h) AS DOUBLE) / count(*), 6)
       |    AS contamination
       |FROM sh LEFT JOIN bench ON sh.h = bench.h
       |WHERE sh.doc_id % $benchmarkMod != 0
       |GROUP BY sh.doc_id
       |HAVING count(bench.h) > 0
       |ORDER BY doc_id""".stripMargin

  /** Bloom-filter bits (2¹⁵) and hash count for [[bloomDecontam]].
    * Family indices offset by [[BloomSeedBase]] so the Bloom's
    * universal hashes never alias the MinHash permutation rows.
    */
  val BloomBits = 1 << 15
  val BloomK = 3
  val BloomSeedBase = 900

  private def bloomPositions(h: Column,
      mBits: Int = BloomBits): Seq[Column] =
    (0 until BloomK).map(i =>
      Hashing.permuted(BloomSeedBase + i, h) % lit(mBits.toLong))

  private def bloomPositionsSql(expr: String): Seq[String] =
    (0 until BloomK).map(i =>
      s"${Hashing.permutedSql(BloomSeedBase + i, expr)} % $BloomBits")

  /** Bloom-filter benchmark decontamination — the constant-space form
    * of [[decontaminationReport]] for the 100 TB screen (the GPT-3
    * appendix-C / The-Pile shape): the benchmark's n-gram set folds
    * into an m = [[BloomBits]] Bloom filter ([[BloomK]] universal
    * hashes over the gram's base h32), and each corpus gram tests "all
    * k positions set". The screen state is O(m) REGARDLESS of
    * benchmark size — the trade is a deterministic false-positive
    * rate, and the report accounts for it honestly: `n_hits` counts
    * Bloom positives, `n_true` the exact overlaps; their gap IS the
    * measured FP mass (n_true ≤ n_hits always — a Bloom has no false
    * negatives, which the spec pins).
    *
    * The filter is materialized as the TABLE of set bit positions —
    * the broadcast-join form of the bit array (semantically identical,
    * and how a SQL engine without bitmap types serves one). The oracle
    * reconstructs the identical positions arithmetically, so the
    * verified row pins the screen INCLUDING its false positives.
    *
    * Scale shape: bench grams distinct-reduce then fold to ≤ m
    * position rows (broadcast); the corpus is one scan — grams and
    * their k positions stay map-side until the per-doc aggregate. At
    * production scale the positions table compiles to an actual bit
    * array in a static filter (Spark's `bloom_filter_agg`) — this form
    * keeps the semantics engine-checkable.
    */
  def bloomDecontam(documents: DataFrame,
      benchmarkMod: Int = BenchmarkMod): DataFrame =
    bloomDecontamAgainst(
      documents.filter(col("doc_id") % benchmarkMod =!= 0),
      documents.filter(col("doc_id") % benchmarkMod === 0))

  /** A trained filter with the bit-space it was trained AT: build and
    * probe positions are mod `mBits`, so a probe at a different size
    * silently finds nothing (a Bloom false NEGATIVE — the one failure
    * the design forbids). Carrying the pair as one value makes the
    * mismatch unrepresentable for callers that hold a state.
    */
  final case class BloomState(bits: DataFrame, mBits: Int)

  /** Train a [[BloomState]] (positions + their bit-space). */
  def bloomState(benchmark: DataFrame,
      mBits: Int = BloomBits): BloomState =
    BloomState(bloomBits(benchmark, mBits), mBits)

  /** The benchmark's Bloom filter as its set-bit position table — the
    * persistable artifact ("train the filter once in the indexing job,
    * serve it to every screen after"): ≤ [[BloomBits]] rows whatever
    * the benchmark size. [[bloomDecontamAgainst]] builds it inline;
    * streaming gates ([[graft.streaming.CurateStream]]) build it ONCE
    * at attach time and reuse it per micro-batch.
    */
  def bloomBits(benchmark: DataFrame,
      mBits: Int = BloomBits): DataFrame =
    bloomBitsFromIndex(bloomGramIndex(benchmark), mBits)

  /** The MUTABLE-membership form of the filter state: per distinct
    * gram hash, how many benchmark docs contain it. A plain Bloom
    * cannot delete — removing an eval item would have to clear bits
    * other grams still need — so benchmark revisions (an eval set is
    * versioned; items get retracted) would force a rebuild. The gram
    * refcount IS the counting-Bloom discipline applied at the right
    * granularity: positions derive from grams, so tracking gram
    * lifetimes tracks bit lifetimes exactly. Persist THIS table as the
    * screen's artifact; [[bloomBitsFromIndex]] serves the position set
    * of the live grams.
    */
  def bloomGramIndex(benchmark: DataFrame): DataFrame =
    shingleHashes(benchmark)
      .groupBy(col("h")).agg(count(lit(1)).as("refcnt"))

  /** Retract `removed` benchmark docs from a [[bloomGramIndex]]:
    * decrement each of their distinct grams' refcounts, drop grams
    * that reach zero. PRECONDITION (the caller's ledger, same as any
    * refcount): the removed docs are currently members and are removed
    * once — a double retraction under-counts, exactly like a double
    * `free`. `remove(b2)` over `index(b1 ∪ b2)` equals `index(b1)`
    * row-for-row (spec-pinned), so screening through the updated index
    * IS screening through a rebuild — a gram shared with a surviving
    * doc keeps its bits; a gram only the retracted docs carried stops
    * flagging.
    */
  def bloomGramRemove(index: DataFrame,
      removed: DataFrame): DataFrame =
    index.join(
        shingleHashes(removed)
          .groupBy(col("h")).agg(count(lit(1)).as("dec")),
        Seq("h"), "left")
      .select(col("h"),
        (col("refcnt") - coalesce(col("dec"), lit(0L))).as("refcnt"))
      .filter(col("refcnt") > 0)

  /** Set-bit positions of a [[bloomGramIndex]]'s live grams — the
    * serving form [[bloomFlagged]] probes.
    */
  def bloomBitsFromIndex(index: DataFrame,
      mBits: Int = BloomBits): DataFrame =
    index.select(col("h"))
      .select(explode(array(bloomPositions(col("h"), mBits): _*))
        .as("pos"))
      .distinct()

  /** The ONE probe shape both screens share: each of the k positions
    * of a gram frame's `h` column probes the broadcast bit table with
    * its OWN map-side join (no explode, no per-gram shuffle), and
    * `bloom_hit` is "all k found". Input columns pass through.
    */
  private def bloomProbe(grams: DataFrame, bits: DataFrame,
      mBits: Int): DataFrame = {
    val probed = bloomPositions(col("h"), mBits)
        .zipWithIndex.foldLeft(grams) {
      case (df, (pos, i)) =>
        df.join(
          broadcast(bits.select(col("pos").as(s"pos$i"),
            lit(1).as(s"set$i"))),
          pos === col(s"pos$i"), "left")
    }
    probed.withColumn("bloom_hit",
      (0 until BloomK).map(i => col(s"set$i").isNotNull)
        .reduce(_ && _))
  }

  /** The DROP set of an ingest gate: doc_ids with ≥ 1 Bloom-positive
    * gram against a prebuilt [[bloomBits]] table (probed at the SAME
    * `mBits` the bits were built at — carry a [[BloomState]]).
    */
  def bloomFlagged(corpus: DataFrame, bits: DataFrame,
      mBits: Int = BloomBits): DataFrame =
    bloomProbe(shingleHashes(corpus), bits, mBits)
      .filter(col("bloom_hit"))
      .select(col("doc_id")).distinct()

  /** The production-shaped form of [[bloomDecontam]]: explicit
    * benchmark table, corpus screened against its Bloom positions.
    */
  def bloomDecontamAgainst(corpus: DataFrame, benchmark: DataFrame,
      mBits: Int = BloomBits): DataFrame = {
    val benchH = shingleHashes(benchmark).select(col("h")).distinct()
    val bits = bloomBits(benchmark, mBits)
    // corpus grams with their exact-overlap truth flag attached before
    // the shared probe — the only exchange in the whole screen is the
    // final per-doc aggregate
    val cg = shingleHashes(corpus)
      .join(broadcast(benchH.withColumn("is_true", lit(1))),
        Seq("h"), "left")
    val perGram = bloomProbe(cg, bits, mBits)
      .select(col("doc_id"), col("bloom_hit"), col("is_true"))
    perGram
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("bloom_hit"), lit(1L)).otherwise(lit(0L)))
          .as("n_hits"),
        sum(when(col("is_true").isNotNull, lit(1L)).otherwise(lit(0L)))
          .as("n_true"))
      .filter(col("n_hits") > 0)
      .withColumn("flag_ratio",
        round(col("n_hits").cast("double") / col("n_grams"), 6))
      .orderBy(col("doc_id"))
  }

  /** DuckDB mirror of [[bloomDecontam]]. */
  def bloomDecontamSql(benchmarkMod: Int = BenchmarkMod): String = {
    val posCols = bloomPositionsSql("h")
    // cg joins sh to bench, where a bare "h" is ambiguous
    val cgPosCols = bloomPositionsSql("sh.h")
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |sh AS MATERIALIZED (
       |  SELECT doc_id, ${h32Sql("s")} AS h
       |  FROM (SELECT doc_id,
       |          unnest(list_distinct(${shinglesSql("t")})) AS s
       |        FROM toks)),
       |bench AS MATERIALIZED (
       |  SELECT DISTINCT h FROM sh WHERE doc_id % $benchmarkMod = 0),
       |bits AS (
       |  SELECT DISTINCT unnest([${posCols.mkString(", ")}]) AS pos
       |  FROM bench),
       |cg AS (
       |  -- one row per (doc, distinct gram STRING) — two grams that
       |  -- collide on h stay two rows, mirroring the Spark side (a
       |  -- (doc_id, h) GROUP BY here would merge them and diverge)
       |  SELECT sh.doc_id, sh.h,
       |    CASE WHEN bench.h IS NULL THEN NULL ELSE 1 END AS is_true,
       |    ${cgPosCols.zipWithIndex.map { case (p, i) => s"$p AS p$i" }
            .mkString(", ")}
       |  FROM sh LEFT JOIN bench ON sh.h = bench.h
       |  WHERE sh.doc_id % $benchmarkMod != 0),
       |pg AS (
       |  SELECT cg.doc_id,
       |    ${(0 until BloomK).map(i => s"b$i.pos IS NOT NULL")
            .mkString(" AND ")} AS bloom_hit,
       |    cg.is_true
       |  FROM cg
       |    ${(0 until BloomK).map(i =>
              s"LEFT JOIN bits b$i ON cg.p$i = b$i.pos")
            .mkString("\n       |    ")})
       |SELECT doc_id, count(*) AS n_grams,
       |  CAST(sum(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_hits,
       |  CAST(sum(CASE WHEN is_true IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_true,
       |  round(CAST(sum(CASE WHEN bloom_hit THEN 1 ELSE 0 END)
       |    AS DOUBLE) / count(*), 6) AS flag_ratio
       |FROM pg
       |GROUP BY doc_id
       |HAVING sum(CASE WHEN bloom_hit THEN 1 ELSE 0 END) > 0
       |ORDER BY doc_id""".stripMargin
  }

  /** Lexical NEAR-duplicate benchmark decontamination — the third
    * decontamination mode beside exact n-gram overlap
    * ([[decontaminationReport]]) and embedding similarity
    * ([[semanticDecontam]]): flag corpus docs whose shingle-set Jaccard
    * against any benchmark doc clears [[Dedup.JaccardThreshold]] — a
    * light rewrite of an eval item (exact-overlap misses it once every
    * 5-gram is perturbed; embeddings need a vector table) still leaks.
    *
    * Scale shape: candidates come from MinHash band collisions like
    * [[Dedup.minhashNearDups]], but cross-sided — the BENCHMARK's band
    * table (eval sets ≪ corpus) is broadcast against the corpus banding
    * scan, so there is no corpus self-join and no corpus-side shuffle
    * until the candidate-scoped verification; exact Jaccard touches
    * only docs that collided. The DuckDB oracle is the brute-force
    * all-pairs intersection, so a green row proves the banding's recall
    * at the threshold (the [[graft.operators.FuzzyLink]] discipline).
    */
  def fuzzyDecontam(documents: DataFrame,
      benchmarkMod: Int = BenchmarkMod): DataFrame =
    fuzzyDecontamAgainst(
      documents.filter(col("doc_id") % benchmarkMod =!= 0),
      documents.filter(col("doc_id") % benchmarkMod === 0))

  /** Production-shaped form: explicit corpus vs (small) benchmark.
    * `corpusBands`/`benchBands` serve the banding from a persisted
    * ingest-time band index ([[Dedup.writeBandIndex]]) instead of
    * recomputing signatures — with both supplied, candidate generation
    * touches no document text at all; only the candidate-scoped
    * verification reads the corpus.
    */
  def fuzzyDecontamAgainst(corpus: DataFrame, bench: DataFrame,
      corpusBands: Option[DataFrame] = None,
      benchBands: Option[DataFrame] = None): DataFrame = {
    val bb = benchBands.getOrElse(Dedup.bandTable(bench))
      .withColumnRenamed("doc_id", "bench_id")
    val cand = Scratch.track(corpusBands.getOrElse(Dedup.bandTable(corpus))
      .join(broadcast(bb), Seq("band_idx", "band_hash"))
      .select(col("doc_id"), col("bench_id")).distinct()
      .persist()) // scopes verification AND joins into it
    val candCorpus = cand.select("doc_id").distinct()
    val shC = Scratch.track(Dedup.shingleTable(
      corpus.join(broadcast(candCorpus), Seq("doc_id"), "left_semi"))
      .persist())
    val shB = Dedup.shingleTable(bench)
    val cntC = shC.groupBy("doc_id").agg(count(lit(1)).as("n_doc"))
    val cntB = shB.groupBy("doc_id").agg(count(lit(1)).as("n_bench"))
      .withColumnRenamed("doc_id", "bench_id")
    cand
      .join(shC, Seq("doc_id"))
      .join(shB.withColumnRenamed("doc_id", "bench_id"),
        Seq("bench_id", "h"))
      .groupBy("doc_id", "bench_id").agg(count(lit(1)).as("inter"))
      .join(cntC, Seq("doc_id"))
      .join(cntB, Seq("bench_id"))
      .select(col("doc_id"), col("bench_id"), col("inter"),
        col("n_doc"), col("n_bench"),
        round(col("inter").cast("double")
          / (col("n_doc") + col("n_bench") - col("inter")), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= Dedup.JaccardThreshold)
  }

  /** DuckDB mirror of [[fuzzyDecontam]] — brute-force all-pairs exact
    * Jaccard (recall oracle for the banding).
    */
  def fuzzyDecontamSql(benchmarkMod: Int = BenchmarkMod): String =
    s"""WITH shd AS MATERIALIZED (
       |  SELECT doc_id, ${h32Sql("s")} AS h
       |  FROM (SELECT doc_id, unnest(
       |          list_distinct(${shinglesSql("string_split(text, ' ')")}))
       |          AS s
       |        FROM documents)),
       |cnt AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY 1),
       |inter AS (
       |  SELECT c.doc_id AS doc_id, b.doc_id AS bench_id,
       |    count(*) AS inter
       |  FROM shd c JOIN shd b ON c.h = b.h
       |  WHERE c.doc_id % $benchmarkMod != 0
       |    AND b.doc_id % $benchmarkMod = 0
       |  GROUP BY 1, 2)
       |SELECT i.doc_id, i.bench_id, i.inter,
       |  cc.n AS n_doc, cb.n AS n_bench,
       |  round(CAST(i.inter AS DOUBLE) / (cc.n + cb.n - i.inter), 6)
       |    AS jaccard
       |FROM inter i
       |JOIN cnt cc ON cc.doc_id = i.doc_id
       |JOIN cnt cb ON cb.doc_id = i.bench_id
       |WHERE round(CAST(i.inter AS DOUBLE) / (cc.n + cb.n - i.inter), 6)
       |  >= ${Dedup.JaccardThreshold}
       |ORDER BY i.doc_id, i.bench_id""".stripMargin

  // ---- stratified sampling -------------------------------------------------

  /** Per-stratum sampling rates in parts-per-million (the data-mix spec):
    * keep more English, less Chinese, a floor for the rest. Fixture
    * values — the operator takes any (Column → ppm) rate map.
    */
  def targetPpm(lang: Column): Column =
    when(lang === "en", 600000L)
      .when(lang === "zh", 300000L)
      .otherwise(150000L)

  val targetPpmSql: String =
    "CASE lang WHEN 'en' THEN 600000 WHEN 'zh' THEN 300000 ELSE 150000 END"

  /** Deterministic membership hash in [0, 1e6): a doc is sampled iff
    * `hv < target_ppm(stratum)`. Salted (`strat|`) so this sample is
    * independent of any other hash use of doc_id.
    */
  def sampleHash(docId: Column): Column =
    h32(concat(lit("strat|"), docId.cast("string"))) % 1000000L

  val sampleHashSql: String =
    s"(${h32Sql("'strat|' || CAST(doc_id AS VARCHAR)")} % 1000000)"

  /** Rows kept by the stratified sample — the actual training-mix output
    * (a pure map-side filter; composes with any downstream operator).
    */
  def stratifiedSample(documents: DataFrame): DataFrame =
    documents.filter(sampleHash(col("doc_id")) < targetPpm(col("lang")))

  /** Per-stratum audit of the sample: totals, sampled counts, achieved
    * rate, and an id-sum checksum that pins the exact sample MEMBERSHIP
    * (not just its size) cross-engine. One scan, map-side-combinable
    * aggregate over O(strata) groups.
    */
  def stratifiedSampleSummary(documents: DataFrame): DataFrame = {
    val kept = sampleHash(col("doc_id")) < col("target_ppm")
    documents
      .select(col("doc_id"), col("lang"),
        targetPpm(col("lang")).as("target_ppm"))
      .groupBy("lang")
      .agg(
        max(col("target_ppm")).as("target_ppm"),
        count(lit(1)).as("n_total"),
        count(when(kept, 1)).as("n_sampled"),
        coalesce(sum(when(kept, col("doc_id"))), lit(0L))
          .as("sampled_id_sum"))
      .withColumn("achieved_ppm",
        round((col("n_sampled") * 1000000L).cast("double")
          / col("n_total"), 2))
      .orderBy("lang")
  }

  /** DuckDB mirror of [[stratifiedSampleSummary]]. */
  val stratifiedSampleSummarySql: String =
    s"""WITH k AS (
       |  SELECT doc_id, lang, $targetPpmSql AS target_ppm,
       |    $sampleHashSql AS hv
       |  FROM documents)
       |SELECT lang, CAST(max(target_ppm) AS BIGINT) AS target_ppm,
       |  count(*) AS n_total,
       |  count(CASE WHEN hv < target_ppm THEN 1 END) AS n_sampled,
       |  CAST(coalesce(sum(CASE WHEN hv < target_ppm THEN doc_id END), 0)
       |    AS BIGINT) AS sampled_id_sum,
       |  round(CAST(count(CASE WHEN hv < target_ppm THEN 1 END) * 1000000
       |    AS DOUBLE) / count(*), 2) AS achieved_ppm
       |FROM k GROUP BY lang ORDER BY lang""".stripMargin

  // ---- per-source frequency capping ----------------------------------------

  /** Fixture cap for [[sourceCap]]: 10 of the 25 docs each fixture
    * source carries, so kept and dropped sets are both non-trivial at
    * every sf.
    */
  val SourceCap = 10

  /** Domain/source frequency cap (the C4/RefinedWeb "domain cap"
    * recipe — public literature): keep at most `cap` documents per
    * source, preferring longer documents (the cheap quality proxy the
    * fixture carries), `doc_id` as the deterministic tie-break.
    *
    * Scale shape: the rank-filter compiles to a `WindowGroupLimit` —
    * Catalyst (Spark 3.5+ `InferWindowGroupLimit`) prunes each input
    * partition to its own top-`cap` per source BEFORE the exchange, so
    * the shuffle carries O(sources × cap × partitions) rows, never the
    * corpus: a hot domain with millions of pages ships `cap` rows per
    * upstream partition, not millions. CapSpec pins the node's presence
    * in the physical plan.
    */
  def sourceCap(documents: DataFrame, cap: Int = SourceCap): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source")
      .orderBy(col("n_chars").desc, col("doc_id"))
    documents.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= cap).drop("rn")
  }

  /** Per-source audit of the cap: totals, kept/dropped counts, and a
    * kept-id-sum checksum pinning the exact kept MEMBERSHIP (not just
    * its size) cross-engine. Needs every row's rank (totals included),
    * so unlike [[sourceCap]] this audit pass cannot use the group-limit
    * pushdown — one windowed scan + one map-side-combinable aggregate
    * over O(sources) groups.
    */
  def sourceCapSummary(documents: DataFrame,
      cap: Int = SourceCap): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source")
      .orderBy(col("n_chars").desc, col("doc_id"))
    val kept = col("rn") <= cap
    documents
      .select(col("source"), col("doc_id"), col("n_chars"),
        row_number().over(w).as("rn"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_total"),
        count(when(kept, 1)).as("n_kept"),
        coalesce(sum(when(kept, col("doc_id"))), lit(0L))
          .as("kept_id_sum"),
        min(when(kept, col("n_chars"))).as("min_kept_chars"))
      .withColumn("n_dropped", col("n_total") - col("n_kept"))
      .orderBy("source")
  }

  /** DuckDB mirror of [[sourceCapSummary]]. */
  val sourceCapSummarySql: String =
    s"""WITH r AS (
       |  SELECT source, doc_id, n_chars,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY n_chars DESC, doc_id) AS rn
       |  FROM documents)
       |SELECT source, count(*) AS n_total,
       |  count(CASE WHEN rn <= $SourceCap THEN 1 END) AS n_kept,
       |  CAST(coalesce(sum(CASE WHEN rn <= $SourceCap THEN doc_id END), 0)
       |    AS BIGINT) AS kept_id_sum,
       |  CAST(min(CASE WHEN rn <= $SourceCap THEN n_chars END) AS BIGINT)
       |    AS min_kept_chars,
       |  count(*) - count(CASE WHEN rn <= $SourceCap THEN 1 END)
       |    AS n_dropped
       |FROM r GROUP BY source ORDER BY source""".stripMargin

  // ---- exact-size uniform sampling -----------------------------------------

  /** Fixture size for [[sampleExactK]]. */
  val ExactK = 100

  /** Exactly-k uniform sample: the k documents with the smallest salted
    * doc_id hash (doc_id tie-break on 32-bit collisions). Rate-based
    * sampling ([[stratifiedSample]]) can only hit a target COUNT in
    * expectation; training pipelines often need exactly k ("take 100k
    * eval docs"), reproducibly.
    *
    * Scale shape: `orderBy(hash).limit(k)` compiles to
    * `TakeOrderedAndProject` — a per-partition top-k fed into one
    * driver-side k-row merge, NOT a global sort (no range exchange of
    * the corpus; CapSpec-style plan pin in CurationSpec). Membership is
    * hash-determined, so it is stable across runs, partitionings, and
    * engines — and like [[splitHash]], a doc's membership never changes
    * when OTHER docs arrive unless it is displaced at the k boundary.
    */
  def sampleExactK(documents: DataFrame, k: Int = ExactK): DataFrame =
    documents
      .select(col("doc_id"),
        h32(concat(lit("exact|"), col("doc_id").cast("string")))
          .as("hv"))
      .orderBy(col("hv"), col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("hv"))

  /** DuckDB mirror of [[sampleExactK]] (rows re-sorted by doc_id for a
    * deterministic driver compare).
    */
  def sampleExactKSql(k: Int = ExactK): String =
    s"""SELECT doc_id, hv FROM (
       |  SELECT doc_id,
       |    ${h32Sql("'exact|' || CAST(doc_id AS VARCHAR)")} AS hv
       |  FROM documents
       |  ORDER BY hv, doc_id LIMIT $k)
       |ORDER BY doc_id""".stripMargin

  // ---- weighted sampling without replacement -------------------------------

  /** Sample size for [[weightedSampleK]]. */
  val WeightedK = 100

  /** Exactly-k WEIGHTED sample without replacement — Efraimidis &
    * Spirakis (2006, public literature): each document draws a
    * deterministic uniform u and competes by key ln(u)/w; the k largest
    * keys are a weight-proportional sample without replacement. Weight
    * here is `n_chars` (the token-budget proxy), so a doc's inclusion
    * probability tracks its share of the training-token budget — the
    * selection rule a mix planner actually wants ("sample k docs
    * proportional to length"), where [[sampleExactK]] treats a tweet
    * and a book as equals.
    *
    * Determinism: u = (h32(salt|doc_id) + 1) / 2^32 is an exact dyadic
    * double, identical in both engines; the key is quantized to 1e-9
    * fixed-point BEFORE ranking (the [[TextAnalysis.lmScore]]
    * discipline) with `doc_id` breaking quantized ties, so the ranking
    * is a cross-engine total order. Scale shape: the key is one
    * map-side expression; `orderBy.limit(k)` compiles to
    * `TakeOrderedAndProject` (per-partition top-k + one k-row driver
    * merge, no range exchange — the [[sampleExactK]] plan, pinned in
    * CurationSpec).
    */
  def weightedSampleK(documents: DataFrame,
      k: Int = WeightedK): DataFrame = {
    val u = (h32(concat(lit("wgt|"), col("doc_id").cast("string"))) + 1L)
      .cast("double") / 4294967296.0
    val key = floor(log(u) / greatest(col("n_chars"), lit(1L))
      * 1e9 + 0.5).cast("long")
    documents
      .select(col("doc_id"), col("n_chars"), key.as("key_q"))
      .orderBy(col("key_q").desc, col("doc_id"))
      .limit(k)
  }

  /** DuckDB mirror of [[weightedSampleK]] (rows re-sorted by doc_id for
    * the driver compare).
    */
  def weightedSampleKSql(k: Int = WeightedK): String =
    s"""SELECT doc_id, n_chars, key_q FROM (
       |  SELECT doc_id, n_chars,
       |    CAST(floor(ln((${h32Sql("'wgt|' || CAST(doc_id AS VARCHAR)")}
       |        + 1) / 4294967296.0)
       |      / greatest(n_chars, 1) * 1e9 + 0.5) AS BIGINT) AS key_q
       |  FROM documents
       |  ORDER BY key_q DESC, doc_id LIMIT $k)
       |ORDER BY doc_id""".stripMargin

  // ---- vocabulary growth (Heaps' law) --------------------------------------

  /** Corpus-order buckets for [[vocabGrowth]]. */
  val GrowthBuckets = 10

  /** Vocabulary-growth curve: cumulative token volume vs cumulative
    * DISTINCT vocabulary across `buckets` equal corpus-order slices
    * (doc_id order — the fixture's proxy for ingest order). The
    * standard Heaps-law diagnostic: a corpus whose vocabulary stops
    * growing is saturating (duplication, template text); one growing
    * linearly is noise/IDs. Each token's contribution to the distinct
    * count lands in the bucket of its FIRST appearance.
    *
    * Scale shape: one token scan; per-token `min(bucket)` is a
    * map-side-combinable aggregate on the token key (the corpus's only
    * shuffle), then O(buckets) rows cum-sum in a single-partition
    * window over a 10-row frame. No distinct-per-prefix rescans — the
    * naive "count distinct tokens in every prefix" is buckets × corpus.
    */
  def vocabGrowth(documents: DataFrame,
      buckets: Int = GrowthBuckets): DataFrame = {
    val nDocs = documents.agg(count(lit(1)).as("n_docs"))
    val toks = documents
      .crossJoin(broadcast(nDocs))
      .select(
        least(floor(col("doc_id") * buckets / col("n_docs")),
          lit(buckets - 1)).cast("long").as("bucket"),
        explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
    val perBucketTokens = toks.groupBy("bucket")
      .agg(count(lit(1)).as("n_tokens"))
    val firstSeen = toks.groupBy("token")
      .agg(min(col("bucket")).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_new_types"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("bucket")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    perBucketTokens
      .join(firstSeen, Seq("bucket"), "full_outer")
      .na.fill(0L, Seq("n_tokens", "n_new_types"))
      .select(col("bucket"), col("n_tokens"), col("n_new_types"),
        sum("n_tokens").over(w).as("cum_tokens"),
        sum("n_new_types").over(w).as("cum_types"))
      .orderBy("bucket")
  }

  /** DuckDB mirror of [[vocabGrowth]]. */
  def vocabGrowthSql(buckets: Int = GrowthBuckets): String =
    s"""WITH nd AS (SELECT count(*) AS n_docs FROM documents),
       |toks AS MATERIALIZED (
       |  SELECT least(CAST(floor(doc_id * $buckets / n_docs) AS BIGINT),
       |      ${buckets - 1}) AS bucket,
       |    unnest(string_split(text, ' ')) AS token
       |  FROM documents, nd),
       |tf AS (SELECT bucket, token FROM toks WHERE token != ''),
       |per_bucket AS (
       |  SELECT bucket, count(*) AS n_tokens FROM tf GROUP BY bucket),
       |first_seen AS (
       |  SELECT bucket, count(*) AS n_new_types FROM (
       |    SELECT token, min(bucket) AS bucket FROM tf GROUP BY token)
       |  GROUP BY bucket)
       |SELECT coalesce(p.bucket, f.bucket) AS bucket,
       |  coalesce(p.n_tokens, 0) AS n_tokens,
       |  coalesce(f.n_new_types, 0) AS n_new_types,
       |  CAST(sum(coalesce(p.n_tokens, 0)) OVER (
       |    ORDER BY coalesce(p.bucket, f.bucket)
       |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
       |  CAST(sum(coalesce(f.n_new_types, 0)) OVER (
       |    ORDER BY coalesce(p.bucket, f.bucket)
       |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_types
       |FROM per_bucket p FULL OUTER JOIN first_seen f
       |  ON p.bucket = f.bucket
       |ORDER BY bucket""".stripMargin

  // ---- dataset splitting ----------------------------------------------------

  /** Split fractions in ppm: 98% train / 1% val / 1% test (fixture
    * values). Assignment is a salted deterministic hash on doc_id —
    * reproducible across runs/engines/partitionings, independent of the
    * sampling hash (different salt), and stable under corpus growth (a
    * doc's split never changes when other docs arrive — the property
    * random shuffles lack).
    */
  val TrainPpm = 980000L
  val ValPpm = 990000L // train < 980000 <= val < 990000 <= test

  def splitHash(docId: Column): Column =
    h32(concat(lit("split|"), docId.cast("string"))) % 1000000L

  val splitHashSql: String =
    s"(${h32Sql("'split|' || CAST(doc_id AS VARCHAR)")} % 1000000)"

  def splitName(docId: Column): Column =
    when(splitHash(docId) < TrainPpm, "train")
      .when(splitHash(docId) < ValPpm, "val")
      .otherwise("test")

  val splitNameSql: String =
    s"""CASE WHEN $splitHashSql < $TrainPpm THEN 'train'
       |  WHEN $splitHashSql < $ValPpm THEN 'val'
       |  ELSE 'test' END""".stripMargin

  /** Per-(lang, split) audit: doc and token counts plus the id-sum
    * checksum pinning exact membership. One scan, map-side-combinable
    * aggregate onto O(langs × 3) rows.
    */
  def datasetSplitSummary(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), col("lang"),
        splitName(col("doc_id")).as("split"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"),
        sum("doc_id").as("id_sum"))
      .orderBy("lang", "split")

  val datasetSplitSummarySql: String =
    s"""SELECT lang, $splitNameSql AS split, count(*) AS n_docs,
       |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
       |  CAST(sum(doc_id) AS BIGINT) AS id_sum
       |FROM documents GROUP BY 1, 2 ORDER BY lang, split""".stripMargin

  /** Leakage-safe train/val/test split: the split hash is computed over
    * the near-dup CLUSTER label (the doc's own id outside any cluster),
    * so cluster-mates always land on the same side — the standard
    * defense against eval contamination through near-duplicates that a
    * plain per-doc hash split silently permits. By construction no
    * cluster can span splits (pinned in CurationSpec); everything else
    * matches [[datasetSplitSummary]]'s audit shape.
    *
    * Scale shape: labeling is bounded by near-dup volume; the split
    * assignment is the same map-side hash CASE over `coalesce(label,
    * doc_id)` after one bounded left join.
    */
  def leakageSafeSplitSummary(documents: DataFrame,
      bands: Option[DataFrame] = None,
      labelsOpt: Option[DataFrame] = None): DataFrame = {
    val labels = labelsOpt.getOrElse(graft.ext.Dedup.clusterLabels(
      graft.ext.Dedup.minhashNearDups(documents, bands = bands)
        .select("doc_a", "doc_b")))
      .withColumnRenamed("label", "cluster_label")
    documents
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("lang"),
        splitName(coalesce(col("cluster_label"), col("doc_id")))
          .as("split"),
        col("doc_id"), col("n_tokens"), col("cluster_label"))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"),
        count(col("cluster_label")).as("n_clustered"),
        sum("n_tokens").as("n_tokens"),
        sum("doc_id").as("id_sum"))
      .orderBy("lang", "split")
  }

  def leakageSafeSplitSummarySql: String = {
    val keyHash =
      s"(${Hashing.h32Sql("'split|' || CAST(coalesce(l.label, doc_id) AS VARCHAR)")} % 1000000)"
    s"""WITH RECURSIVE neardups AS MATERIALIZED
       |  (${graft.ext.Dedup.minhashNearDupsSql}),
       |edges AS MATERIALIZED (
       |  SELECT doc_a, doc_b FROM neardups
       |  UNION SELECT doc_b, doc_a FROM neardups
       |  UNION SELECT doc_a, doc_a FROM neardups
       |  UNION SELECT doc_b, doc_b FROM neardups),
       |reach AS (
       |  SELECT doc_a, doc_b FROM edges
       |  UNION
       |  SELECT r.doc_a, e.doc_b
       |  FROM reach r JOIN edges e ON r.doc_b = e.doc_a),
       |labels AS MATERIALIZED (
       |  SELECT doc_a AS doc_id, min(doc_b) AS label
       |  FROM reach GROUP BY doc_a)
       |SELECT lang,
       |  CASE WHEN $keyHash < $TrainPpm THEN 'train'
       |    WHEN $keyHash < $ValPpm THEN 'val'
       |    ELSE 'test' END AS split,
       |  count(*) AS n_docs,
       |  CAST(count(l.label) AS BIGINT) AS n_clustered,
       |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
       |  CAST(sum(doc_id) AS BIGINT) AS id_sum
       |FROM documents d
       |LEFT JOIN labels l USING (doc_id)
       |GROUP BY 1, 2 ORDER BY lang, split""".stripMargin
  }

  // ---- corpus drift ---------------------------------------------------------

  /** Drift flag threshold: a category whose corpus share moved by more
    * than this many ppm (50 000 = 5 percentage points) between snapshots
    * is flagged.
    */
  val DriftPpmThreshold = 50000L

  /** Distribution drift between two corpus snapshots: for every value of
    * the categorical dimensions (`lang`, `source`), the old/new counts,
    * the old/new corpus shares (exact-integer ppm), and the absolute
    * share delta with a threshold flag — the between-crawls monitoring
    * twin of the event pipeline's schema drift detector
    * ([[graft.schema.SchemaEvolution]]).
    *
    * Scale shape: one scan per snapshot with map-side-combinable counts
    * onto O(distinct values) rows; per-dimension totals and the
    * old/new outer join all operate on that tiny keyspace. Values
    * present in only one snapshot surface with a 10^6-ppm-scale delta
    * rather than vanishing (full outer join, zero-filled).
    */
  def corpusDrift(oldSnap: DataFrame, newSnap: DataFrame): DataFrame = {
    def counts(df: DataFrame, side: String) = df
      .select(explode(array(
        struct(lit("lang").as("dim"), col("lang").as("value")),
        struct(lit("source").as("dim"), col("source").as("value"))))
        .as("d"))
      .select(col("d.dim").as("dim"), col("d.value").as("value"))
      .groupBy("dim", "value").agg(count(lit(1)).as(s"n_$side"))
    val o = counts(oldSnap, "old")
    val n = counts(newSnap, "new")
    // null-safe join keys: a NULL category (absent metadata) must line
    // up across snapshots as one row, not split into a phantom
    // vanished+appeared pair
    val joined = o.as("o").join(n.as("n"),
        col("o.dim") <=> col("n.dim") && col("o.value") <=> col("n.value"),
        "full_outer")
      .select(
        coalesce(col("o.dim"), col("n.dim")).as("dim"),
        coalesce(col("o.value"), col("n.value")).as("value"),
        coalesce(col("n_old"), lit(0L)).as("n_old"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
    val totals = joined.groupBy("dim")
      .agg(sum("n_old").as("tot_old"), sum("n_new").as("tot_new"))
    joined.join(broadcast(totals), Seq("dim"))
      .withColumn("share_old_ppm",
        expr("CASE WHEN tot_old = 0 THEN 0L" +
          " ELSE n_old * 1000000 div tot_old END"))
      .withColumn("share_new_ppm",
        expr("CASE WHEN tot_new = 0 THEN 0L" +
          " ELSE n_new * 1000000 div tot_new END"))
      .withColumn("delta_ppm",
        abs(col("share_new_ppm") - col("share_old_ppm")))
      .withColumn("drifted", col("delta_ppm") > DriftPpmThreshold)
      .drop("tot_old", "tot_new")
      .orderBy("dim", "value")
  }

  /** Doc-level snapshot diff — the content complement of the
    * share-level [[corpusDrift]]: classify every doc_id across two
    * snapshots as added / removed / changed / unchanged by comparing
    * content hashes, and report per-status counts with an id-sum
    * membership checksum (so the classification itself is verified, not
    * just the totals).
    *
    * Scale shape: each snapshot contributes one map-side projection to
    * (doc_id, md5); the only shuffle is the doc_id-keyed full outer
    * join, and the output is 4 bounded rows. This is the
    * crawl-over-crawl change-detection pass that decides how much
    * downstream (dedup, re-embedding) work a new snapshot actually
    * requires.
    */
  def corpusDiff(oldSnap: DataFrame, newSnap: DataFrame): DataFrame = {
    val o = oldSnap.select(col("doc_id"), md5(col("text")).as("h_old"))
    val n = newSnap.select(col("doc_id"), md5(col("text")).as("h_new"))
    o.join(n, Seq("doc_id"), "full_outer")
      .withColumn("status", when(col("h_old").isNull, "added")
        .when(col("h_new").isNull, "removed")
        .when(col("h_old") === col("h_new"), "unchanged")
        .otherwise("changed"))
      .groupBy("status")
      .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"))
      .orderBy("status")
  }

  /** DuckDB mirror of [[corpusDiff]] over snapshot predicates + a text
    * expression for the new side (e.g. a planted modification).
    */
  def corpusDiffSql(oldPred: String, newPred: String,
      newTextExpr: String = "text"): String =
    s"""WITH o AS (
       |  SELECT doc_id, md5(text) AS h_old FROM documents
       |  WHERE $oldPred),
       |n AS (
       |  SELECT doc_id, md5($newTextExpr) AS h_new FROM documents
       |  WHERE $newPred),
       |j AS (
       |  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
       |    CASE WHEN o.doc_id IS NULL THEN 'added'
       |         WHEN n.doc_id IS NULL THEN 'removed'
       |         WHEN h_old = h_new THEN 'unchanged'
       |         ELSE 'changed' END AS status
       |  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
       |SELECT status, count(*) AS n_docs,
       |  CAST(sum(doc_id) AS BIGINT) AS id_sum
       |FROM j GROUP BY status ORDER BY status""".stripMargin

  /** DuckDB mirror of [[corpusDrift]] over snapshot predicates on
    * `documents` (e.g. `doc_id % 2 = 0`).
    */
  def corpusDriftSql(oldPred: String, newPred: String): String = {
    def cnt(side: String, pred: String) =
      s"""n_$side AS (
         |  SELECT dim, value, count(*) AS n
         |  FROM (
         |    SELECT 'lang' AS dim, lang AS value FROM documents
         |    WHERE $pred
         |    UNION ALL
         |    SELECT 'source' AS dim, source AS value FROM documents
         |    WHERE $pred)
         |  GROUP BY 1, 2)""".stripMargin
    s"""WITH ${cnt("old", oldPred)},
       |${cnt("new", newPred)},
       |joined AS (
       |  SELECT coalesce(n_old.dim, n_new.dim) AS dim,
       |    coalesce(n_old.value, n_new.value) AS value,
       |    coalesce(n_old.n, 0) AS n_old, coalesce(n_new.n, 0) AS n_new
       |  FROM n_old FULL OUTER JOIN n_new
       |    ON n_old.dim IS NOT DISTINCT FROM n_new.dim
       |    AND n_old.value IS NOT DISTINCT FROM n_new.value),
       |tot AS (
       |  SELECT dim, CAST(sum(n_old) AS BIGINT) AS tot_old,
       |    CAST(sum(n_new) AS BIGINT) AS tot_new
       |  FROM joined GROUP BY 1)
       |SELECT joined.dim, value, n_old, n_new,
       |  CASE WHEN tot_old = 0 THEN 0
       |    ELSE n_old * 1000000 // tot_old END AS share_old_ppm,
       |  CASE WHEN tot_new = 0 THEN 0
       |    ELSE n_new * 1000000 // tot_new END AS share_new_ppm,
       |  abs(CASE WHEN tot_new = 0 THEN 0
       |        ELSE n_new * 1000000 // tot_new END
       |    - CASE WHEN tot_old = 0 THEN 0
       |        ELSE n_old * 1000000 // tot_old END) AS delta_ppm,
       |  abs(CASE WHEN tot_new = 0 THEN 0
       |        ELSE n_new * 1000000 // tot_new END
       |    - CASE WHEN tot_old = 0 THEN 0
       |        ELSE n_old * 1000000 // tot_old END) > $DriftPpmThreshold
       |    AS drifted
       |FROM joined JOIN tot ON joined.dim = tot.dim
       |ORDER BY joined.dim, value""".stripMargin
  }

  /** Pairwise n-gram overlap between SOURCES — the cross-source
    * contamination / lineage matrix (which feeds duplicate each other;
    * the between-corpus twin of [[decontaminationReport]]'s
    * corpus-vs-benchmark check). For every source pair: shared distinct
    * word-5-gram hashes, both containment directions, and Jaccard.
    *
    * Scale shape: one scan explodes shingles to distinct
    * `(source, gram)` rows — at most #sources rows per gram, so the
    * gram-keyed self-join has BOUNDED fan-in (≤ #sources²) per key and
    * cannot mega-bucket regardless of gram popularity; pair cardinality
    * is #sources², tiny. Shuffles: the distinct, then the gram-keyed
    * join — both carry the distinct-gram volume, not the corpus.
    */
  def sourceOverlap(documents: DataFrame): DataFrame = {
    val grams = documents
      .select(col("source"),
        explode(graft.ext.TextAnalysis.shingles(col("text"))).as("g"))
      .select(col("source"), Hashing.h32(col("g")).as("h"))
      .distinct()
      .persist() // scanned by per-source counts and both join sides
      .transform(Scratch.track(_))
    val perSource = grams.groupBy("source").agg(count(lit(1)).as("n"))
    grams.as("a").join(grams.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"),
        col("b.source").as("source_b"))
      .agg(count(lit(1)).as("inter"))
      .join(perSource.as("pa"), col("source_a") === col("pa.source"))
      .join(perSource.as("pb"), col("source_b") === col("pb.source"))
      .select(col("source_a"), col("source_b"),
        col("pa.n").as("n_a"), col("pb.n").as("n_b"), col("inter"),
        round(col("inter").cast("double") / col("pa.n"), 6)
          .as("containment_a"),
        round(col("inter").cast("double") / col("pb.n"), 6)
          .as("containment_b"),
        round(col("inter").cast("double")
          / (col("pa.n") + col("pb.n") - col("inter")), 6).as("jaccard"))
  }

  def sourceOverlapSql: String = {
    import graft.ext.TextAnalysis.shinglesSql
    import Hashing.h32Sql
    s"""WITH grams AS MATERIALIZED (
       |  SELECT DISTINCT source, ${h32Sql("g")} AS h
       |  FROM (
       |    SELECT source,
       |      unnest(${shinglesSql("string_split(text, ' ')")}) AS g
       |    FROM documents)),
       |per_source AS MATERIALIZED (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n
       |  FROM grams GROUP BY source),
       |inter AS (
       |  SELECT a.source AS source_a, b.source AS source_b,
       |    CAST(count(*) AS BIGINT) AS inter
       |  FROM grams a JOIN grams b
       |    ON a.h = b.h AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT source_a, source_b, pa.n AS n_a, pb.n AS n_b, inter,
       |  round(CAST(inter AS DOUBLE) / pa.n, 6) AS containment_a,
       |  round(CAST(inter AS DOUBLE) / pb.n, 6) AS containment_b,
       |  round(CAST(inter AS DOUBLE) / (pa.n + pb.n - inter), 6)
       |    AS jaccard
       |FROM inter
       |JOIN per_source pa ON pa.source = source_a
       |JOIN per_source pb ON pb.source = source_b""".stripMargin
  }

  /** Hash-sample modulus for [[sourceOverlapApprox]]: keep grams whose
    * h32 is ≡ 0 (mod this), a deterministic 1/16 bottom-fraction sample
    * — the fixed-threshold theta-sketch discipline. At 100 TB raise to
    * 2^10..2^16 so each source's sketch stays ~10^5 rows regardless of
    * corpus size.
    */
  val OverlapSampleMod = 16

  /** Theta-sketch twin of [[sourceOverlap]] — the 100 TB path. The
    * exact matrix's two shuffles carry the full distinct-(source, gram)
    * volume for an O(sources²) answer; here a map-side hash filter
    * (`h32 % mod = 0`, a uniform deterministic sample of the gram
    * space) cuts every downstream stage to 1/mod of that volume before
    * anything shuffles. Ratio estimators (containment, Jaccard) need no
    * rescaling; set sizes scale back up by mod. Pairs whose shared
    * grams all miss the sample drop out — overlap below the sketch's
    * resolution reads as zero, the standard sketch trade. Everything is
    * deterministic (no RNG), so the DuckDB oracle replicates the
    * estimate bit-for-bit rather than settling for a rows-only check.
    */
  def sourceOverlapApprox(documents: DataFrame,
      mod: Int = OverlapSampleMod): DataFrame = {
    val grams = documents
      .select(col("source"),
        explode(graft.ext.TextAnalysis.shingles(col("text"))).as("g"))
      .select(col("source"), Hashing.h32(col("g")).as("h"))
      .filter(col("h") % mod === 0)
      .distinct()
      .persist()
      .transform(Scratch.track(_))
    val perSource = grams.groupBy("source").agg(count(lit(1)).as("n"))
    grams.as("a").join(grams.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"),
        col("b.source").as("source_b"))
      .agg(count(lit(1)).as("inter_s"))
      .join(perSource.as("pa"), col("source_a") === col("pa.source"))
      .join(perSource.as("pb"), col("source_b") === col("pb.source"))
      .select(col("source_a"), col("source_b"),
        (col("pa.n") * mod).as("n_a_est"),
        (col("pb.n") * mod).as("n_b_est"),
        (col("inter_s") * mod).as("inter_est"),
        round(col("inter_s").cast("double") / col("pa.n"), 6)
          .as("containment_a_est"),
        round(col("inter_s").cast("double") / col("pb.n"), 6)
          .as("containment_b_est"),
        round(col("inter_s").cast("double")
            / (col("pa.n") + col("pb.n") - col("inter_s")), 6)
          .as("jaccard_est"))
  }

  /** DuckDB mirror of [[sourceOverlapApprox]] — same deterministic
    * sample, same estimators.
    */
  def sourceOverlapApproxSql(mod: Int = OverlapSampleMod): String = {
    import graft.ext.TextAnalysis.shinglesSql
    import Hashing.h32Sql
    s"""WITH grams AS MATERIALIZED (
       |  SELECT DISTINCT source, h FROM (
       |    SELECT source, ${h32Sql("g")} AS h
       |    FROM (
       |      SELECT source,
       |        unnest(${shinglesSql("string_split(text, ' ')")}) AS g
       |      FROM documents))
       |  WHERE h % $mod = 0),
       |per_source AS MATERIALIZED (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n
       |  FROM grams GROUP BY source),
       |inter AS (
       |  SELECT a.source AS source_a, b.source AS source_b,
       |    CAST(count(*) AS BIGINT) AS inter_s
       |  FROM grams a JOIN grams b
       |    ON a.h = b.h AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT source_a, source_b,
       |  pa.n * $mod AS n_a_est, pb.n * $mod AS n_b_est,
       |  inter_s * $mod AS inter_est,
       |  round(CAST(inter_s AS DOUBLE) / pa.n, 6) AS containment_a_est,
       |  round(CAST(inter_s AS DOUBLE) / pb.n, 6) AS containment_b_est,
       |  round(CAST(inter_s AS DOUBLE) / (pa.n + pb.n - inter_s), 6)
       |    AS jaccard_est
       |FROM inter
       |JOIN per_source pa ON pa.source = source_a
       |JOIN per_source pb ON pb.source = source_b""".stripMargin
  }

  // ---- end-to-end training mix (the composed curation funnel) -------------

  /** Minimum composite quality (ppm, see [[TextAnalysis.qualityPpm]]) a
    * doc needs to enter the training mix. Fixture value.
    */
  val QualityMinPpm = 500000L

  /** Minimum document length (whitespace tokens) for the mix — the
    * standard explicit floor: the composite quality score alone cannot
    * reject ultra-short docs (a 1-token doc scores 0.602 because TTR is
    * trivially 1), and the repetition gate deliberately skips them
    * ([[TextAnalysis.RepetitionMinWords]]).
    */
  val MinDocTokens = 5L

  /** The corpus→training-mix funnel, one verified query: per language,
    * how many documents survive (1) near-dup removal (MinHash+LSH drop
    * set, keep-lowest policy), (2) the repetition gate
    * ([[TextAnalysis.repetitionReport]]), (3) the composite quality gate
    * — and of the survivors, what the stratified sample keeps and how
    * many tokens it carries. The id-sum checksum pins exact sample
    * membership cross-engine, so this one row-per-language result
    * verifies the entire composed pipeline end to end.
    *
    * Scale shape: the drop set is a broadcast anti-flag (near-dups ≪
    * corpus), the repetition join is doc_id-keyed, every gate predicate
    * is map-side, and the funnel aggregate combines map-side into
    * O(languages) rows. The corpus text itself is scanned by the dedup /
    * repetition subplans exactly as their standalone queries do — the
    * composition adds joins on (doc_id) only, no new corpus shuffle.
    */
  def trainingMix(documents: DataFrame,
      qualityMinPpm: Long = QualityMinPpm): DataFrame = {
    val drops = Dedup.minhashDropSet(documents)
      .withColumn("is_dup", lit(true))
    val rep = TextAnalysis.repetitionReport(documents)
      .select(col("doc_id"), col("repetition_flag"))
    val toks = split(col("text"), " ")
    val en = TextAnalysis.Lexicons.head._2
    val base = documents
      .select(col("doc_id"), col("lang"),
        size(toks).cast("long").as("n_tokens"),
        TextAnalysis.qualityPpm(
          size(toks).cast("long"),
          size(array_distinct(toks)).cast("long"),
          size(filter(toks, t => t.isin(en: _*))).cast("long"))
          .as("q_ppm"),
        sampleHash(col("doc_id")).as("hv"),
        targetPpm(col("lang")).as("tppm"))
      .join(broadcast(drops), Seq("doc_id"), "left")
      .join(rep, Seq("doc_id"), "left")
    val dedup = !coalesce(col("is_dup"), lit(false))
    val clean = dedup && !coalesce(col("repetition_flag"), lit(false)) &&
      col("q_ppm") >= qualityMinPpm && col("n_tokens") >= MinDocTokens
    val sampled = clean && col("hv") < col("tppm")
    base.groupBy("lang").agg(
        count(lit(1)).as("n_raw"),
        count(when(dedup, 1)).as("n_dedup"),
        count(when(clean, 1)).as("n_clean"),
        count(when(sampled, 1)).as("n_sampled"),
        coalesce(sum(when(sampled, col("n_tokens"))), lit(0L))
          .as("tok_sampled"),
        coalesce(sum(when(sampled, col("doc_id"))), lit(0L))
          .as("sampled_id_sum"))
      .orderBy("lang")
  }

  /** DuckDB mirror of [[trainingMix]]. */
  def trainingMixSql(qualityMinPpm: Long = QualityMinPpm): String = {
    s"""WITH neardups AS (${Dedup.minhashNearDupsSql}),
       |drops AS (SELECT DISTINCT doc_b AS doc_id FROM neardups),
       |rep AS (SELECT doc_id, repetition_flag
       |        FROM (${TextAnalysis.repetitionReportSql()})),
       |q AS (
       |  SELECT doc_id,
       |    len(toks) AS n_tokens,
       |    ${graft.ext.TextAnalysis.qualityPpmSqlExpr} AS q_ppm
       |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
       |        FROM documents)),
       |s AS (SELECT doc_id, $sampleHashSql AS hv, $targetPpmSql AS tppm
       |      FROM documents),
       |base AS (
       |  SELECT d.doc_id, d.lang, q.n_tokens,
       |    (drops.doc_id IS NOT NULL) AS is_dup,
       |    coalesce(rep.repetition_flag, FALSE) AS rep_flag,
       |    (q.q_ppm >= $qualityMinPpm AND q.n_tokens >= $MinDocTokens)
       |      AS q_ok,
       |    (s.hv < s.tppm) AS in_sample
       |  FROM documents d
       |  JOIN q ON q.doc_id = d.doc_id
       |  JOIN s ON s.doc_id = d.doc_id
       |  LEFT JOIN drops ON drops.doc_id = d.doc_id
       |  LEFT JOIN rep ON rep.doc_id = d.doc_id)
       |SELECT lang, count(*) AS n_raw,
       |  count(CASE WHEN NOT is_dup THEN 1 END) AS n_dedup,
       |  count(CASE WHEN NOT is_dup AND NOT rep_flag AND q_ok THEN 1 END)
       |    AS n_clean,
       |  count(CASE WHEN NOT is_dup AND NOT rep_flag AND q_ok
       |    AND in_sample THEN 1 END) AS n_sampled,
       |  CAST(coalesce(sum(CASE WHEN NOT is_dup AND NOT rep_flag AND q_ok
       |    AND in_sample THEN n_tokens END), 0) AS BIGINT) AS tok_sampled,
       |  CAST(coalesce(sum(CASE WHEN NOT is_dup AND NOT rep_flag AND q_ok
       |    AND in_sample THEN doc_id END), 0) AS BIGINT) AS sampled_id_sum
       |FROM base GROUP BY lang ORDER BY lang""".stripMargin
  }

  // ---- sequence packing ----------------------------------------------------

  /** Token budget of one packed training sequence (fixture value; the
    * operator takes any budget).
    */
  val SeqBudget = 2048L

  /** Sequence-packing plan: assign documents, in deterministic doc_id
    * order within each `lang` stream, to fixed-token-budget training
    * sequences. A document goes to the sequence its preceding cumulative
    * token count falls in (`(cum - n_tokens) div budget`) — the
    * contiguous pack-then-split discipline: sequences fill in order and
    * a straddling document spills into the next window (fill_ppm can
    * exceed 10^6 on the straddle, by design). Output is the per-sequence
    * audit: doc count, token count, fill ratio, id range.
    *
    * Scale shape: one running-sum window per lang stream, then a
    * map-side-combinable aggregate on (lang, seq_id). The window
    * serializes per stream — at 100 TB pack per (lang, shard) instead
    * (pass a composite stream key via `streamCol`): packing shards
    * independently is semantically fine for training (sequences never
    * span shards) and makes the plan embarrassingly parallel.
    */
  def packPlan(documents: DataFrame, budget: Long = SeqBudget,
      streamCol: Column = col("lang")): DataFrame =
    packCums(documents, budget, streamCol)
      .groupBy("stream", "seq_id")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .withColumn("fill_ppm", expr(s"n_tokens * 1000000 div ${budget}L"))
      .orderBy("stream", "seq_id")

  /** Shared prefix of the packing operators: per doc, its stream key,
    * token count, running stream total, and sequence assignment.
    */
  private def packCums(documents: DataFrame, budget: Long,
      streamCol: Column): DataFrame = {
    require(budget > 0, "sequence token budget must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("stream")).orderBy(col("doc_id"))
      .rowsBetween(Long.MinValue, 0)
    documents
      .select(col("doc_id"), streamCol.as("stream"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("cum", sum("n_tokens").over(w))
      .withColumn("seq_id", expr(s"(cum - n_tokens) div ${budget}L"))
  }

  /** Per-document pack assignment — the sample→sequence PROVENANCE a
    * training run keeps next to [[packPlan]]'s per-sequence audit:
    * which sequence each document landed in and at which token offset
    * (`seq_offset` = tokens already in the sequence when this doc
    * starts). With it, any training example attributes back to its
    * source documents and any document locates its training positions
    * — the two directions a contamination or memorization
    * investigation walks. Same window arithmetic as [[packPlan]], so
    * the two artifacts can never disagree.
    */
  def packAssignments(documents: DataFrame, budget: Long = SeqBudget,
      streamCol: Column = col("lang")): DataFrame =
    packCums(documents, budget, streamCol)
      .select(col("doc_id"), col("stream"), col("seq_id"),
        expr(s"cum - n_tokens - seq_id * ${budget}L").as("seq_offset"),
        col("n_tokens"))
      .orderBy("doc_id")

  /** DuckDB mirror of [[packAssignments]]. */
  def packAssignmentsSql(budget: Long = SeqBudget,
      streamSql: String = "lang"): String =
    s"""WITH t AS (
       |  SELECT doc_id, $streamSql AS stream,
       |    len(string_split(text, ' ')) AS n_tokens,
       |    sum(len(string_split(text, ' '))) OVER (
       |      PARTITION BY $streamSql ORDER BY doc_id
       |      ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM documents)
       |SELECT doc_id, stream,
       |  CAST((cum - n_tokens) // $budget AS BIGINT) AS seq_id,
       |  CAST(cum - n_tokens
       |    - ((cum - n_tokens) // $budget) * $budget AS BIGINT)
       |    AS seq_offset,
       |  CAST(n_tokens AS BIGINT) AS n_tokens
       |FROM t ORDER BY doc_id""".stripMargin

  /** Shard count per lang for the sharded packing stream (fixture
    * value; production sizes this to executor count × a few).
    */
  val PackShards = 4

  /** Deterministic composite stream key `lang:shard` — the 100 TB
    * packing shape. Sequences never span shards (semantically fine for
    * training), so each (lang, shard) stream packs independently and
    * [[packPlan]]'s running-sum window parallelizes across
    * |langs| × nShards partitions instead of serializing one task per
    * lang. The shard is a stable md5 hash of doc_id, so reruns and both
    * engines agree ([[Hashing.h32]] is non-negative → plain `%`).
    */
  def packStreamSharded(nShards: Int = PackShards): Column =
    concat(col("lang"), lit(":"),
      (Hashing.h32(col("doc_id").cast("string")) % nShards).cast("string"))

  /** DuckDB twin of [[packStreamSharded]]. */
  def packStreamShardedSql(nShards: Int = PackShards): String =
    s"lang || ':' || CAST(${Hashing.h32Sql("CAST(doc_id AS VARCHAR)")}" +
      s" % $nShards AS VARCHAR)"

  /** DuckDB mirror of [[packPlan]]; `streamSql` mirrors `streamCol`. */
  def packPlanSql(budget: Long = SeqBudget,
      streamSql: String = "lang"): String =
    s"""WITH t AS (
       |  SELECT doc_id, $streamSql AS stream,
       |    len(string_split(text, ' ')) AS n_tokens,
       |    sum(len(string_split(text, ' '))) OVER (
       |      PARTITION BY $streamSql ORDER BY doc_id
       |      ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM documents)
       |SELECT stream,
       |  CAST((cum - n_tokens) // $budget AS BIGINT) AS seq_id,
       |  count(*) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc,
       |  CAST(sum(n_tokens) AS BIGINT) * 1000000 // $budget AS fill_ppm
       |FROM t GROUP BY 1, 2 ORDER BY stream, seq_id""".stripMargin

  /** Length buckets for [[paddingReport]] (powers of two — the common
    * padded-batch layout).
    */
  val PadBuckets: Seq[Long] = Seq(16L, 32L, 64L, 128L, 256L, 512L,
    1024L, 2048L)

  /** Length-bucketed batching audit — the padding-efficiency planner a
    * training loader runs before choosing bucket boundaries: each doc
    * rounds up to its power-of-two token bucket, and the report gives
    * per-bucket doc/token mass plus the exact padding waste a
    * fixed-length batcher would pay (ppm of padded volume). The bucket
    * ladder is a literal CASE chain, not float log2 — bit-identical in
    * both engines and immune to pow-boundary rounding. A doc longer
    * than the overflow bucket (2·last) claims its own length as the
    * bucket — a batcher would give it a dedicated sequence — so
    * padded_tokens ≥ sum_tokens holds at every document length and
    * waste_ppm can never go negative.
    *
    * Scale shape: map-side bucket assignment + one combinable
    * aggregate over |buckets| keys (+1 per overlong doc length). No
    * joins, no windows.
    */
  def paddingReport(documents: DataFrame): DataFrame = {
    val n = size(split(col("text"), " ")).cast("long")
    val bucket = PadBuckets.foldRight(
        greatest(lit(PadBuckets.last * 2), n): Column) {
      (b, acc) => when(n <= b, lit(b)).otherwise(acc)
    }
    documents.select(n.as("n_tokens"), bucket.as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"))
      .withColumn("padded_tokens", expr("n_docs * bucket"))
      .withColumn("waste_ppm",
        expr("(padded_tokens - sum_tokens) * 1000000 div padded_tokens"))
      .orderBy("bucket")
  }

  /** DuckDB mirror of [[paddingReport]]. */
  def paddingReportSql: String = {
    val caseSql = PadBuckets.map(b => s"WHEN n <= $b THEN $b")
      .mkString(" ")
    s"""WITH t AS (
       |  SELECT len(string_split(text, ' ')) AS n FROM documents),
       |b AS (
       |  SELECT CAST(CASE $caseSql
       |    ELSE greatest(${PadBuckets.last * 2}, n) END
       |    AS BIGINT) AS bucket, n
       |  FROM t)
       |SELECT bucket, count(*) AS n_docs,
       |  CAST(sum(n) AS BIGINT) AS sum_tokens,
       |  count(*) * bucket AS padded_tokens,
       |  (count(*) * bucket - CAST(sum(n) AS BIGINT)) * 1000000
       |    // (count(*) * bucket) AS waste_ppm
       |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin
  }

  // ---- document chunking ---------------------------------------------------

  /** Chunk window size and overlap in tokens (fixture values; the
    * operator takes any pair with overlap < maxTokens).
    */
  val ChunkTokens = 512L
  val ChunkOverlap = 64L

  /** Sliding-window document chunking — the standard pretraining/RAG
    * preprocessing step: split each document into ≤`maxTokens`-token
    * windows starting every `maxTokens − overlap` tokens, so adjacent
    * chunks share `overlap` tokens of context. Output is the chunk PLAN
    * (doc_id, chunk_idx, token bounds) — the text slice itself is a
    * trivial `slice(split(...))` over it, kept out of the verified
    * result to keep the oracle about the arithmetic.
    *
    * Pure map-side: one projection + one bounded explode per doc (no
    * shuffle, no window) — at 100 TB this runs inside whole-stage
    * codegen at scan speed. Chunk counts use exact integer ceil
    * ((n − overlap + stride − 1) div stride, floored at 1) so both
    * engines agree at any document length.
    */
  def chunkPlan(documents: DataFrame, maxTokens: Long = ChunkTokens,
      overlap: Long = ChunkOverlap): DataFrame = {
    require(overlap >= 0 && overlap < maxTokens,
      "overlap must be in [0, maxTokens)")
    val stride = maxTokens - overlap
    documents
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n"))
      .withColumn("n_chunks", greatest(lit(1L),
        expr(s"(n - ${overlap}L + ${stride - 1}L) div ${stride}L")))
      .select(col("doc_id"), col("n"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        (col("chunk_idx") * stride).as("start_tok"),
        least(col("chunk_idx") * stride + maxTokens, col("n"))
          .as("end_tok"))
      .withColumn("n_tokens", col("end_tok") - col("start_tok"))
  }

  /** Materialized chunk text — the same windowing as [[chunkPlan]] but
    * slicing the token array in the SAME projection (no join back to
    * the documents, no shuffle): each output row is one training/RAG
    * chunk with its text. Kept separate from the verified plan query so
    * the oracle stays about the arithmetic, not string reassembly.
    */
  def chunkedDocuments(documents: DataFrame,
      maxTokens: Long = ChunkTokens,
      overlap: Long = ChunkOverlap): DataFrame = {
    require(overlap >= 0 && overlap < maxTokens,
      "overlap must be in [0, maxTokens)")
    val stride = maxTokens - overlap
    documents
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .withColumn("n_chunks", greatest(lit(1L),
        expr(s"(n - ${overlap}L + ${stride - 1}L) div ${stride}L")))
      .select(col("doc_id"), col("toks"), col("n"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        array_join(slice(col("toks"),
          (col("chunk_idx") * stride + 1).cast("int"),
          least(lit(maxTokens), col("n") - col("chunk_idx") * stride)
            .cast("int")), " ").as("chunk_text"))
  }

  /** DuckDB mirror of [[chunkPlan]]. */
  def chunkPlanSql(maxTokens: Long = ChunkTokens,
      overlap: Long = ChunkOverlap): String = {
    val stride = maxTokens - overlap
    s"""WITH t AS (
       |  SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents),
       |c AS (
       |  SELECT doc_id, n,
       |    greatest(1, (n - $overlap + ${stride - 1}) // $stride) AS k
       |  FROM t)
       |SELECT doc_id, i AS chunk_idx,
       |  CAST(i * $stride AS BIGINT) AS start_tok,
       |  CAST(least(i * $stride + $maxTokens, n) AS BIGINT) AS end_tok,
       |  CAST(least(i * $stride + $maxTokens, n) - i * $stride
       |    AS BIGINT) AS n_tokens
       |FROM c, unnest(range(0, k)) AS u(i)
       |ORDER BY doc_id, chunk_idx""".stripMargin
  }

  // ---- source mixing weights ----------------------------------------------

  /** Target corpus share per source in ppm (fixture: even-numbered
    * sources 70 000, odd 30 000 — sums to 10⁶ over the 20 fixture
    * sources). Production passes its mix spec; the arithmetic is the
    * point.
    */
  def targetSourcePpm(source: Column): Column =
    when(regexp_extract(source, "src(\\d+)", 1).cast("long") % 2 === 0,
      70000L).otherwise(30000L)

  val targetSourcePpmSql: String =
    """CASE WHEN CAST(regexp_extract(source, 'src(\d+)', 1) AS BIGINT)
      |  % 2 = 0 THEN 70000 ELSE 30000 END""".stripMargin

  /** Per-source data-mixing weights: natural token share vs the target
    * mix, and the EPOCHS each source must be repeated (ppm) so the
    * training stream hits the target at the natural corpus token budget
    * — the standard mix-weight calculation of pretraining recipes
    * (epochs_i = target_share_i · T / tokens_i). Exact-integer ppm
    * arithmetic end to end, one scan + an O(sources) aggregate + a
    * one-row total attach.
    */
  def sourceMixWeights(documents: DataFrame): DataFrame = {
    val perSrc = documents
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("nt"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"))
    val total = perSrc.agg(sum("n_tokens").as("t_total"))
    // ppm pre-multiplies by 10^6 before the integer division: do it in
    // DECIMAL(38,0) (the oracle mirrors with HUGEINT) so a source above
    // ~9.2e12 tokens — real at 100 TB ≈ 25 T tokens — cannot wrap a
    // BIGINT; `div` on decimals still yields an exact BIGINT result
    perSrc.join(broadcast(total))
      .withColumn("natural_ppm",
        expr("CAST(n_tokens AS DECIMAL(38,0)) * 1000000 div t_total"))
      .withColumn("target_ppm", targetSourcePpm(col("source")))
      .withColumn("epochs_ppm",
        expr("CAST(target_ppm AS DECIMAL(38,0)) * t_total div n_tokens"))
      .drop("t_total")
      .orderBy("source")
  }

  /** DuckDB mirror of [[sourceMixWeights]]. */
  val sourceMixWeightsSql: String =
    s"""WITH per AS (
       |  SELECT source, count(*) AS n_docs,
       |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY 1),
       |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t_total FROM per)
       |SELECT source, n_docs, n_tokens,
       |  CAST(CAST(n_tokens AS HUGEINT) * 1000000 // t_total
       |    AS BIGINT) AS natural_ppm,
       |  CAST(($targetSourcePpmSql) AS BIGINT) AS target_ppm,
       |  CAST(CAST(($targetSourcePpmSql) AS HUGEINT) * t_total // n_tokens
       |    AS BIGINT) AS epochs_ppm
       |FROM per, tot ORDER BY source""".stripMargin

  /** Temperature-scaled source sampling weights: w_i = p_i^τ / Σ p_j^τ
    * over natural token shares p_i — τ < 1 upsamples tail sources, the
    * standard multilingual/pretraining mix transform (XLM-R-style
    * exponentiated sampling). Same cost shape as [[sourceMixWeights]]:
    * one scan, O(sources) aggregates, one-row total attaches. Each
    * p_i^τ quantizes to 1e-9 fixed point BEFORE the normalizing sum, so
    * the denominator is an exact integer in any aggregation order.
    */
  def temperatureMixWeights(documents: DataFrame,
      tau: Double = 0.7): DataFrame = {
    val perSrc = documents
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("nt"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"))
    val total = perSrc.agg(sum("n_tokens").as("t_total"))
    val powed = perSrc.join(broadcast(total))
      .withColumn("natural_ppm",
        expr("CAST(n_tokens AS DECIMAL(38,0)) * 1000000 div t_total"))
      .withColumn("w_fp", floor(
        pow(col("n_tokens").cast("double") / col("t_total"), tau) * 1e9
          + 0.5).cast("long"))
    val denom = powed.agg(sum("w_fp").as("w_total"))
    powed.join(broadcast(denom))
      .withColumn("temp_share",
        round(col("w_fp").cast("double") / col("w_total"), 6))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("natural_ppm"), col("temp_share"))
      .orderBy("source")
  }

  /** DuckDB mirror of [[temperatureMixWeights]]. */
  def temperatureMixWeightsSql(tau: Double = 0.7): String =
    s"""WITH per AS (
       |  SELECT source, count(*) AS n_docs,
       |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY 1),
       |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t_total FROM per),
       |p AS (
       |  SELECT source, n_docs, n_tokens,
       |    CAST(CAST(n_tokens AS HUGEINT) * 1000000 // t_total
       |      AS BIGINT) AS natural_ppm,
       |    CAST(floor(pow(CAST(n_tokens AS DOUBLE) / t_total, $tau)
       |      * 1e9 + 0.5) AS BIGINT) AS w_fp
       |  FROM per, tot),
       |d AS (SELECT CAST(sum(w_fp) AS BIGINT) AS w_total FROM p)
       |SELECT source, n_docs, n_tokens, natural_ppm,
       |  round(CAST(w_fp AS DOUBLE) / w_total, 6) AS temp_share
       |FROM p, d ORDER BY source""".stripMargin

  /** Epoch cap for [[epochPlan]] — past ~4 epochs repeated data adds
    * negligible value ("Scaling Data-Constrained Language Models",
    * arXiv:2305.16264, public literature), so 5 is a generous ceiling.
    */
  val EpochCap = 5L

  /** Token-budget epoch planner — the data-constrained allocation a
    * training run makes when the token budget EXCEEDS the deduped
    * corpus: how many epochs (repeats) of each source to take. The
    * rule is exact-integer water-filling by rounds:
    *
    *   1. every source gets `budget div total_tokens` full rounds
    *      (capped at [[EpochCap]]);
    *   2. the remaining budget hands ONE extra epoch to sources in
    *      quality order (mean per-doc [[TextAnalysis.qualityPpm]],
    *      ties on source name) while each source's tokens still fit
    *      the running remainder — higher-quality data gets repeated
    *      first, the standard up-sampling bias.
    *
    * All arithmetic is integer (div / prefix sums), so both engines
    * agree bit-for-bit. Default budget = 3.5× corpus tokens (7/2 —
    * a realistic over-budget ratio that exercises both arms).
    *
    * Scale shape: one corpus scan into an O(sources) aggregate; the
    * planning windows run over source-count rows (bounded, like
    * `vocab_growth`'s cum-sum). Output: per source, its tokens,
    * quality, epochs, and planned token contribution.
    */
  def epochPlan(documents: DataFrame,
      budgetNum: Long = 7L, budgetDen: Long = 2L,
      cap: Long = EpochCap): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = split(col("text"), " ")
    val en = TextAnalysis.Lexicons.head._2
    val perDoc = documents.select(col("source"),
      size(toks).cast("long").as("nt"),
      TextAnalysis.qualityPpm(
        size(toks).cast("long"),
        size(array_distinct(toks)).cast("long"),
        size(filter(toks, t => t.isin(en: _*))).cast("long"))
        .as("q"))
    val perSrc = perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"),
        expr("sum(q) div count(1)").as("quality_ppm"))
    val tot = broadcast(perSrc.agg(
      sum("n_tokens").as("t_total"),
      expr(s"sum(n_tokens) * $budgetNum div $budgetDen").as("budget")))
    val base = perSrc.crossJoin(tot)
      .withColumn("full_rounds",
        least(expr("budget div t_total"), lit(cap)))
      .withColumn("rem",
        when(col("full_rounds") < cap,
          expr("budget - full_rounds * t_total")).otherwise(lit(0L)))
    // quality-ordered prefix sum over O(sources) rows: a source takes
    // the extra epoch while the cumulative extra tokens fit the
    // remainder (bounded global window — the vocab_growth shape)
    val w = Window.orderBy(col("quality_ppm").desc, col("source"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base
      .withColumn("cum", sum("n_tokens").over(w))
      .withColumn("epochs",
        col("full_rounds")
          + when(col("cum") <= col("rem"), 1L).otherwise(0L))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("quality_ppm"), col("epochs"),
        (col("epochs") * col("n_tokens")).as("planned_tokens"))
      .orderBy("source")
  }

  /** DuckDB mirror of [[epochPlan]]. */
  def epochPlanSql(budgetNum: Long = 7L, budgetDen: Long = 2L,
      cap: Long = EpochCap): String = {
    s"""WITH perdoc AS (
       |  SELECT source, CAST(len(toks) AS BIGINT) AS nt,
       |    ${graft.ext.TextAnalysis.qualityPpmSqlExpr} AS q
       |  FROM (SELECT source, string_split(text, ' ') AS toks
       |        FROM documents)),
       |per AS (
       |  SELECT source, count(*) AS n_docs,
       |    CAST(sum(nt) AS BIGINT) AS n_tokens,
       |    CAST(sum(q) // count(*) AS BIGINT) AS quality_ppm
       |  FROM perdoc GROUP BY 1),
       |tot AS (
       |  SELECT CAST(sum(n_tokens) AS BIGINT) AS t_total,
       |    CAST(sum(n_tokens) * $budgetNum // $budgetDen AS BIGINT)
       |      AS budget
       |  FROM per),
       |base AS (
       |  SELECT per.*, t_total, budget,
       |    least(budget // t_total, $cap) AS full_rounds,
       |    CASE WHEN budget // t_total < $cap
       |      THEN budget - (budget // t_total) * t_total
       |      ELSE 0 END AS rem
       |  FROM per, tot),
       |cums AS (
       |  SELECT *, CAST(sum(n_tokens) OVER (
       |      ORDER BY quality_ppm DESC, source
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |    AS BIGINT) AS cum
       |  FROM base)
       |SELECT source, n_docs, n_tokens, quality_ppm,
       |  CAST(full_rounds + CASE WHEN cum <= rem THEN 1 ELSE 0 END
       |    AS BIGINT) AS epochs,
       |  CAST((full_rounds + CASE WHEN cum <= rem THEN 1 ELSE 0 END)
       |    * n_tokens AS BIGINT) AS planned_tokens
       |FROM cums ORDER BY source""".stripMargin
  }

  // ---- text canonicalization ----------------------------------------------

  /** Canonical text form: Unicode NFC (native [[graft.functions
    * .NfcNormalize]] expression — composed/decomposed glyph encodings
    * unify before anything hashes or shingles), whitespace runs
    * collapsed, edges trimmed, lowercased. The mandatory first pass
    * before exact/fuzzy dedup at 100 TB: a pure codegen'd projection, no
    * UDF, no shuffle. Lowercasing happens LAST so it sees the composed
    * forms.
    */
  def normalizeText(c: Column): Column = {
    lower(trim(regexp_replace(
      graft.functions.GraftFunctions.nfcNormalize(c), "\\s+", " ")))
  }

  /** DuckDB mirror (its nfc_normalize implements the same Unicode
    * normalization; the regex class \\s is ASCII in both engines).
    */
  def normalizeTextSql(expr: String): String =
    s"lower(trim(regexp_replace(nfc_normalize($expr), '\\s+', ' ', 'g')))"

  /** The verified canonicalization pass: per doc, the md5 of the
    * canonical text (pins exact bytes cross-engine) and its length.
    */
  def normalizedReport(documents: DataFrame): DataFrame = {
    documents.select(col("doc_id"),
      md5(normalizeText(col("text"))).as("norm_md5"),
      length(normalizeText(col("text"))).cast("long").as("n_norm_chars"))
      .orderBy("doc_id")
  }

  val normalizedReportSql: String =
    s"""SELECT doc_id, md5(${normalizeTextSql("text")}) AS norm_md5,
       |  CAST(len(${normalizeTextSql("text")}) AS BIGINT) AS n_norm_chars
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---- PII scrubbing -------------------------------------------------------

  /** RE2-safe patterns (run identically under Java regex and DuckDB's
    * RE2): no backreferences, no lookaround, ASCII word boundaries.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val SsnRe = "\\b\\d{3}-\\d{2}-\\d{4}\\b"
  val PhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  /** Redact all four PII classes. Order matters and is fixed: emails
    * first (their domains contain dots but can't form an IPv4 quad),
    * then SSN before phone (both are digit-dash shapes; the fixed order
    * makes the composition deterministic even on adversarial inputs),
    * IPv4 last. Pure codegen'd projection — no UDF, no shuffle.
    */
  def scrubPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(c, EmailRe, "<EMAIL>"),
          SsnRe, "<SSN>"),
        PhoneRe, "<PHONE>"),
      Ipv4Re, "<IP>")

  /** DuckDB mirror of [[scrubPii]] ('g' = replace-all, Spark's default). */
  def scrubPiiSql(expr: String): String =
    s"""regexp_replace(regexp_replace(regexp_replace(regexp_replace(
       |  $expr,
       |  '$EmailRe', '<EMAIL>', 'g'),
       |  '$SsnRe', '<SSN>', 'g'),
       |  '$PhoneRe', '<PHONE>', 'g'),
       |  '$Ipv4Re', '<IP>', 'g')""".stripMargin

  /** Per-class occurrence counts on the ORIGINAL text (counted before
    * scrubbing so counts don't depend on replacement order).
    */
  def piiCounts(c: Column): Seq[Column] = Seq(
    regexp_count(c, lit(EmailRe)).cast("long").as("n_email"),
    regexp_count(c, lit(Ipv4Re)).cast("long").as("n_ip"),
    regexp_count(c, lit(PhoneRe)).cast("long").as("n_phone"),
    regexp_count(c, lit(SsnRe)).cast("long").as("n_ssn"))

  def piiCountsSql(expr: String): Seq[String] = Seq(
    s"len(regexp_extract_all($expr, '$EmailRe')) AS n_email",
    s"len(regexp_extract_all($expr, '$Ipv4Re')) AS n_ip",
    s"len(regexp_extract_all($expr, '$PhoneRe')) AS n_phone",
    s"len(regexp_extract_all($expr, '$SsnRe')) AS n_ssn")

  // ---- checksum-validated PII: credit cards -------------------------------

  /** 16-digit candidate run (the regex stage of CC detection — it
    * deliberately over-matches; [[luhnValid]] is the discriminator).
    */
  val CcRe = "\\b\\d{16}\\b"

  /** Luhn checksum validity of a digit-string column — the standard
    * production gate separating real card numbers from arbitrary
    * 16-digit runs (order IDs, tracking numbers) that a regex alone
    * would redact. Pure codegen'd fold over the digit array: doubling
    * every second digit from the right, −9 past 9, sum ≡ 0 (mod 10).
    */
  def luhnValid(s: Column): Column = {
    val digits = split(s, "")
    val n = length(s)
    val total = aggregate(sequence(lit(1), n), lit(0L), (acc, j) => {
      val d = element_at(digits, (n - j + 1).cast("int")).cast("long")
      val dd = when(j % 2 === 0, d * 2).otherwise(d)
      acc + when(dd > 9L, dd - 9L).otherwise(dd)
    })
    total % 10 === 0
  }

  /** DuckDB mirror of [[luhnValid]]. */
  def luhnValidSql(expr: String): String =
    s"""(list_sum([
       |  CASE WHEN j % 2 = 0
       |    THEN CASE WHEN 2 * CAST(($expr)[len($expr) - j + 1] AS INT) > 9
       |      THEN 2 * CAST(($expr)[len($expr) - j + 1] AS INT) - 9
       |      ELSE 2 * CAST(($expr)[len($expr) - j + 1] AS INT) END
       |    ELSE CAST(($expr)[len($expr) - j + 1] AS INT) END
       |  for j in range(1, len($expr) + 1)]) % 10 = 0)""".stripMargin

  /** Deterministic 16-digit fixture number per event: even event_ids get
    * a Luhn-VALID number (check digit computed), odd get the check digit
    * +1 (guaranteed invalid) — so the validator's separation is provable
    * row-by-row. The 15-digit base is event_id-derived.
    */
  def ccNumber(eid: Column): Column = {
    val base15 = concat(lit("4"), lpad((eid * 37L % 100000000000000L)
      .cast("string"), 14, "0"))
    val digits = split(base15, "")
    // Luhn sum over the would-be 16-digit number's positions 2..16 from
    // the right = base15 with doubling at even right-positions
    val s = aggregate(sequence(lit(2), lit(16)), lit(0L), (acc, j) => {
      val d = element_at(digits, (lit(17) - j).cast("int")).cast("long")
      val dd = when(j % 2 === 0, d * 2).otherwise(d)
      acc + when(dd > 9L, dd - 9L).otherwise(dd)
    })
    val check = (lit(10L) - s % 10L) % 10L
    concat(base15,
      ((check + when(eid % 2 === 0, 0L).otherwise(1L)) % 10L)
        .cast("string"))
  }

  /** DuckDB mirror of [[ccNumber]]. */
  def ccNumberSql(eid: String): String = {
    val base = s"'4' || lpad(CAST($eid * 37 % 100000000000000 AS VARCHAR), 14, '0')"
    val sum =
      s"""list_sum([
         |  CASE WHEN j % 2 = 0
         |    THEN CASE WHEN 2 * CAST(($base)[17 - j] AS INT) > 9
         |      THEN 2 * CAST(($base)[17 - j] AS INT) - 9
         |      ELSE 2 * CAST(($base)[17 - j] AS INT) END
         |    ELSE CAST(($base)[17 - j] AS INT) END
         |  for j in range(2, 17)])""".stripMargin
    s"""($base) || CAST(((10 - ($sum) % 10) % 10
       |  + CASE WHEN $eid % 2 = 0 THEN 0 ELSE 1 END) % 10 AS VARCHAR)
       |""".stripMargin.trim
  }

  /** Checksum-gated CC redaction report: per event, the planted 16-digit
    * number, its Luhn verdict, and the md5 of the message after
    * redacting ONLY checksum-valid numbers — the production behavior
    * (an invalid 16-digit run is an order id, not a card; blanket
    * regex redaction destroys it for nothing).
    */
  def piiCcReport(ce: DataFrame): DataFrame = {
    val msg = concat(lit("order ref for cust "),
      coalesce(col("id"), lit("anon")), lit(" card "),
      ccNumber(col("event_id")), lit(" thanks"))
    val valid = luhnValid(ccNumber(col("event_id")))
    ce.select(col("event_id"),
      ccNumber(col("event_id")).as("cc_candidate"),
      valid.as("luhn_valid"),
      md5(when(valid, regexp_replace(msg, CcRe, "<CC>")).otherwise(msg))
        .as("scrub_md5"))
      .orderBy("event_id")
  }

  /** DuckDB mirror over the generator CTE `ce` (nested so the digit-fold
    * comprehensions evaluate once per row, not once per reference).
    */
  val piiCcReportSql: String =
    s"""SELECT event_id, cc_candidate, luhn_valid,
       |  md5(CASE WHEN luhn_valid
       |    THEN regexp_replace(msg, '$CcRe', '<CC>', 'g')
       |    ELSE msg END) AS scrub_md5
       |FROM (
       |  SELECT event_id, cc_candidate,
       |    ${luhnValidSql("cc_candidate")} AS luhn_valid,
       |    'order ref for cust ' || coalesce(id, 'anon') ||
       |    ' card ' || cc_candidate || ' thanks' AS msg
       |  FROM (
       |    SELECT event_id, id, ${ccNumberSql("event_id")} AS cc_candidate
       |    FROM ce))
       |ORDER BY event_id""".stripMargin

  /** Support-message fixture: a free-text column synthesized from the
    * customer-event fields (same role as the reference's anomaly
    * injectors — `data_generator.py` plants dirty values, this plants
    * PII). Every event yields one message carrying its user's email (or
    * not: the generator's null/invalid-email anomalies flow through), an
    * IPv4, a phone, and an SSN, all deterministic in event_id.
    */
  def supportMessage(ce: DataFrame): Column = {
    val eid = col("event_id")
    concat(
      lit("user "), coalesce(col("name"), lit("unknown")),
      lit(" ("), coalesce(col("email"), lit("none")), lit(")"),
      lit(" reported from 10."), (eid % 250).cast("string"),
      lit(".3."), (eid % 100 + 1).cast("string"),
      lit(" callback 212-555-"),
      lpad((eid % 10000).cast("string"), 4, "0"),
      lit(" ssn "),
      lpad((eid % 900 + 100).cast("string"), 3, "0"), lit("-"),
      lpad((eid % 90 + 10).cast("string"), 2, "0"), lit("-"),
      lpad((eid % 10000).cast("string"), 4, "0"))
  }

  // NB: continuation lines must NOT start with `||` — this string is
  // re-embedded under further stripMargin passes which would eat pipes.
  val supportMessageSql: String =
    """'user ' || coalesce(name, 'unknown') ||
      |' (' || coalesce(email, 'none') || ')' ||
      |' reported from 10.' || CAST(event_id % 250 AS VARCHAR) ||
      |'.3.' || CAST(event_id % 100 + 1 AS VARCHAR) ||
      |' callback 212-555-' ||
      |lpad(CAST(event_id % 10000 AS VARCHAR), 4, '0') ||
      |' ssn ' ||
      |lpad(CAST(event_id % 900 + 100 AS VARCHAR), 3, '0') || '-' ||
      |lpad(CAST(event_id % 90 + 10 AS VARCHAR), 2, '0') || '-' ||
      |lpad(CAST(event_id % 10000 AS VARCHAR), 4, '0')""".stripMargin

  /** The verified scrub pass: per event, the four PII-class counts found
    * in the synthesized message and the md5 of the scrubbed text (the
    * hash pins the exact byte-for-byte redaction cross-engine).
    */
  def piiScrubReport(ce: DataFrame): DataFrame = {
    val msg = supportMessage(ce)
    ce.select(
      (col("event_id") +: piiCounts(msg) :+
        md5(scrubPii(msg)).as("scrub_md5")): _*)
      .orderBy("event_id")
  }

  /** DuckDB mirror over the generator CTE `ce`. */
  val piiScrubReportSql: String = {
    val msg = s"($supportMessageSql)"
    s"""SELECT event_id,
       |  ${piiCountsSql(msg).mkString(",\n  ")},
       |  md5(${scrubPiiSql(msg)}) AS scrub_md5
       |FROM ce ORDER BY event_id""".stripMargin
  }

  // ---- curriculum bucketing + dataset card --------------------------------

  /** Curriculum plan: partition the corpus into quality quartiles of the
    * linear classifier margin ([[TextAnalysis.qualityClassifier]]) — the
    * ordering knob for difficulty-staged training (serve bucket 1 → 4 or
    * the reverse). Thresholds come from ONE bounded aggregate (exact
    * `percentile`, rounded to 6 dp in both engines so boundary
    * assignment can never flip); assignment is then a pure map-side CASE
    * against the 1-row broadcast — no sort, no window, no shuffle of the
    * corpus beyond the final 4-row aggregate. At 100 TB swap the exact
    * percentile for `percentile_approx` (the [[TextAnalysis.lengthQuantilesApprox]]
    * twin discipline); the apply side is unchanged.
    */
  def curriculumPlan(documents: DataFrame): DataFrame = {
    val scores = TextAnalysis.qualityClassifier(documents)
    val th = scores.agg(
      round(percentile(col("margin_ppm"), lit(0.25)), 6).as("q1"),
      round(percentile(col("margin_ppm"), lit(0.5)), 6).as("q2"),
      round(percentile(col("margin_ppm"), lit(0.75)), 6).as("q3"))
    scores.crossJoin(broadcast(th))
      // BIGINT bucket literals: the driver's compare hashes physical
      // parquet types, and an INT32 bucket diverges from DuckDB's CASE
      .withColumn("bucket",
        when(col("margin_ppm") <= col("q1"), 1L)
          .when(col("margin_ppm") <= col("q2"), 2L)
          .when(col("margin_ppm") <= col("q3"), 3L)
          .otherwise(4L))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"),
        min("margin_ppm").as("margin_min"),
        max("margin_ppm").as("margin_max"))
      .orderBy("bucket")
  }

  /** DuckDB mirror of [[curriculumPlan]]. */
  val curriculumPlanSql: String =
    s"""WITH scores AS (${TextAnalysis.qualityClassifierSql}),
       |th AS (
       |  SELECT round(quantile_cont(margin_ppm, 0.25), 6) AS q1,
       |         round(quantile_cont(margin_ppm, 0.5), 6) AS q2,
       |         round(quantile_cont(margin_ppm, 0.75), 6) AS q3
       |  FROM scores)
       |SELECT CAST(CASE WHEN margin_ppm <= q1 THEN 1
       |            WHEN margin_ppm <= q2 THEN 2
       |            WHEN margin_ppm <= q3 THEN 3 ELSE 4 END AS BIGINT)
       |    AS bucket,
       |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |  CAST(min(margin_ppm) AS BIGINT) AS margin_min,
       |  CAST(max(margin_ppm) AS BIGINT) AS margin_max
       |FROM scores CROSS JOIN th
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** One-row dataset card: the corpus summary a training-mix decision
    * reads — volume, content-uniqueness (exact-dup rate), language /
    * source breadth, token volume, and the quality-gate pass rate. Two
    * scans total (one wide aggregate over the raw table, one over the
    * classifier projection), composed by 1-row broadcasts; every ratio
    * is exact-integer ppm.
    */
  def datasetCard(documents: DataFrame): DataFrame = {
    val base = documents.agg(
      count(lit(1)).as("n_docs"),
      sum("n_chars").as("n_chars"),
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(col("source")).as("n_sources"),
      countDistinct(md5(col("text"))).as("n_unique"))
    val q = TextAnalysis.qualityClassifier(documents).agg(
      sum("n_tokens").as("n_tokens"),
      sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"))
    base.crossJoin(broadcast(q))
      .select(col("n_docs"), col("n_unique"),
        expr("(n_docs - n_unique) * 1000000 div n_docs").as("dup_ppm"),
        col("n_langs"), col("n_sources"), col("n_chars"),
        col("n_tokens"),
        expr("n_keep * 1000000 div n_docs").as("keep_ppm"))
  }

  /** DuckDB mirror of [[datasetCard]]. */
  val datasetCardSql: String =
    s"""WITH base AS (
       |  SELECT count(*) AS n_docs,
       |    CAST(sum(n_chars) AS BIGINT) AS n_chars,
       |    count(DISTINCT lang) AS n_langs,
       |    count(DISTINCT source) AS n_sources,
       |    count(DISTINCT md5(text)) AS n_unique
       |  FROM documents),
       |q AS (
       |  SELECT CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |    CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
       |  FROM (${TextAnalysis.qualityClassifierSql}))
       |SELECT n_docs, n_unique,
       |  (n_docs - n_unique) * 1000000 // n_docs AS dup_ppm,
       |  n_langs, n_sources, n_chars, n_tokens,
       |  n_keep * 1000000 // n_docs AS keep_ppm
       |FROM base CROSS JOIN q""".stripMargin

  // ---- DSIR-style importance weights --------------------------------------

  /** Hashed-feature buckets for [[dsirWeights]]. */
  val DsirBuckets = 1024

  /** Target slice for the fixture run: English documents. */
  val DsirTargetLang = "en"

  /** Data Selection via Importance Resampling (Xie et al. 2023) weights:
    * score every document by how much more likely its hashed bigram
    * features are under a TARGET distribution (here the `targetLang`
    * slice) than under the RAW corpus —
    * `w(doc) = mean over bigrams of ln p_target(b) − ln p_raw(b)`
    * with add-one smoothing over `buckets` hashed feature buckets.
    * High-weight documents are the ones to up-sample when composing a
    * training mix that should look like the target.
    *
    * Scale shape: one corpus scan feeds the bigram stream; the feature
    * table is `buckets` rows (BOTH distributions come out of the same
    * single group-by via a conditional sum — not two passes) and
    * broadcasts back onto the stream; totals are one scalar row. The
    * per-doc score is a map-side-combinable sum. Cross-engine
    * determinism: md5-derived bucket ids and 1e-9 fixed-point
    * quantization of each position's log-ratio (the [[TextAnalysis.lmScore]]
    * discipline) make the per-doc sum exact-integer and
    * order-independent.
    */
  /** Hashed-bigram position stream for DSIR: (doc_id, lang, bucket). */
  private def dsirPositions(documents: DataFrame, buckets: Int)
      : DataFrame = {
    val toks = documents.select(col("doc_id"), col("lang"),
      split(col("text"), " ").as("t"))
    toks.select(col("doc_id"), col("lang"),
        explode(zip_with(
          slice(col("t"), lit(1), size(col("t")) - 1),
          slice(col("t"), lit(2), size(col("t")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("doc_id"), col("lang"),
        col("p.w1").as("w1"), col("p.w2").as("w2"))
      .filter(col("w1") =!= "" && col("w2") =!= "")
      .withColumn("b",
        h32(concat_ws(" ", col("w1"), col("w2"))) % buckets)
      .select("doc_id", "lang", "b")
  }

  /** Per-doc scoring given the feature table + smoothing totals — the
    * shared tail of the inline and model-cached forms (identical
    * quantized arithmetic either way).
    */
  private def dsirScore(pos: DataFrame, feat: DataFrame,
      tt: Column, tr: Column, buckets: Int): DataFrame =
    pos
      .join(broadcast(feat), Seq("b"))
      .withColumn("qv", floor(
        (log((col("ct") + 1).cast("double") / (tt + buckets))
          - log((col("cr") + 1).cast("double") / (tr + buckets)))
          * 1e9 + 0.5).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"),
        round(sum("qv").cast("double") / 1e9 / count(lit(1)), 6)
          .as("dsir_weight"))

  def dsirWeights(documents: DataFrame, buckets: Int = DsirBuckets,
      targetLang: String = DsirTargetLang): DataFrame = {
    val pos = dsirPositions(documents, buckets)
    val feat = pos.groupBy("b").agg(
      sum(when(col("lang") === targetLang, 1L).otherwise(0L)).as("ct"),
      count(lit(1)).as("cr"))
    val totals = feat.agg(sum("ct").as("tt"), sum("cr").as("tr"))
    dsirScore(pos.crossJoin(broadcast(totals)), feat,
      col("tt"), col("tr"), buckets)
  }

  /** The trained DSIR model: `buckets`-row feature table + totals. */
  final case class DsirModel(feat: Seq[(Long, Long, Long)],
    tt: Long, tr: Long)

  /** Per-JVM DSIR-model memoization (the IndexCache discipline): the
    * importance model is trained once over the corpus and then APPLIED
    * to every batch — retraining identical bucket statistics per query
    * call is a harness artifact. The model is `buckets` rows + two
    * scalars, so caching it driver-side is O(buckets); the apply pass
    * becomes ONE corpus scan + a broadcast hash join.
    */
  private val dsirCache =
    new java.util.concurrent.ConcurrentHashMap[String, DsirModel]()

  def dsirModelCached(documents: DataFrame, key: String,
      buckets: Int = DsirBuckets,
      targetLang: String = DsirTargetLang): DsirModel =
    dsirCache.computeIfAbsent(s"$key:$buckets:$targetLang", _ => {
      val rows = dsirPositions(documents, buckets).groupBy("b").agg(
          sum(when(col("lang") === targetLang, 1L).otherwise(0L)).as("ct"),
          count(lit(1)).as("cr"))
        .collect()
        .map(r => (r.getAs[Long]("b"), r.getAs[Long]("ct"),
          r.getAs[Long]("cr"))).toSeq
      DsirModel(rows, rows.map(_._2).sum, rows.map(_._3).sum)
    })

  /** [[dsirWeights]] served from a pre-trained model — identical values
    * (same counts, same quantized arithmetic), one corpus scan.
    */
  def dsirWeightsWith(documents: DataFrame, model: DsirModel,
      buckets: Int = DsirBuckets): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val feat = model.feat.toDF("b", "ct", "cr")
    // the apply pass is pure per-row compute (bigram explode + h32 per
    // position) — on an under-partitioned input it serializes on one
    // core (measured 0.92 s single-task at sf0.1 local[32]); spread
    // first (no-op on well-partitioned production inputs)
    dsirScore(dsirPositions(
        graft.Tables.spreadSmallScan(documents), buckets), feat,
      lit(model.tt), lit(model.tr), buckets)
  }

  /** DuckDB mirror of [[dsirWeights]]. */
  def dsirWeightsSql(buckets: Int = DsirBuckets,
      targetLang: String = DsirTargetLang): String =
    s"""WITH pos AS (
       |  SELECT doc_id, lang,
       |    ${h32Sql("p[1] || ' ' || p[2]")} % $buckets AS b
       |  FROM (
       |    SELECT doc_id, lang,
       |      unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS p
       |    FROM (SELECT doc_id, lang, string_split(text, ' ') AS t
       |          FROM documents))
       |  WHERE p[1] != '' AND p[2] != ''),
       |feat AS (
       |  SELECT b,
       |    sum(CASE WHEN lang = '$targetLang' THEN 1 ELSE 0 END) AS ct,
       |    count(*) AS cr
       |  FROM pos GROUP BY 1),
       |totals AS (SELECT sum(ct) AS tt, sum(cr) AS tr FROM feat),
       |q AS (
       |  SELECT pos.doc_id,
       |    CAST(floor((ln(CAST(ct + 1 AS DOUBLE) / (tt + $buckets))
       |                - ln(CAST(cr + 1 AS DOUBLE) / (tr + $buckets)))
       |               * 1000000000.0 + 0.5) AS BIGINT) AS qv
       |  FROM pos JOIN feat USING (b) CROSS JOIN totals)
       |SELECT doc_id, count(*) AS n_feats,
       |  round(CAST(sum(qv) AS DOUBLE) / 1000000000.0 / count(*), 6)
       |    AS dsir_weight
       |FROM q GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- semantic (embedding-level) decontamination -------------------------

  /** Benchmark slice size for the fixture run of [[semanticDecontam]]. */
  val SemBenchCount = 20

  /** Cosine threshold for the fixture run — chosen above the fixture's
    * cross-slice q99 (≈0.29) so only genuinely-close pairs flag.
    */
  val SemDecontamTau = 0.35

  /** Embedding-level benchmark decontamination — the semantic complement
    * of the n-gram [[decontaminationReport]]: flag corpus vectors whose
    * cosine to ANY benchmark vector reaches `tau`, reporting each
    * flagged vector's closest benchmark item (paraphrased contamination
    * that shares no n-grams still lands near the benchmark in embedding
    * space).
    *
    * Scale shape: the benchmark side is small by construction (an eval
    * set) and broadcasts whole; scoring is map-side over the corpus scan
    * — the corpus never shuffles. Only pairs at/above `tau` (the
    * contaminated sliver) enter the per-vector top-1 shuffle, so the
    * exchange is bounded by contamination volume, not corpus size.
    */
  def semanticDecontam(embeddings: DataFrame, nBench: Int = SemBenchCount,
      tau: Double = SemDecontamTau): DataFrame = {
    val e = embeddings.select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", Dedup.norm(col("v")))
    val bench = e.filter(col("vec_id") < nBench)
      .select(col("vec_id").as("bench_id"), col("v").as("bv"),
        col("nrm").as("bn"))
    val scored = e.filter(col("vec_id") >= nBench)
      .join(broadcast(bench))
      .select(col("vec_id"), col("label"), col("bench_id"),
        round(Dedup.dot(col("bv"), col("v")) / (col("bn") * col("nrm")), 6)
          .as("cosine"))
      .filter(col("cosine") >= tau)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("cosine").desc, col("bench_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select("vec_id", "label", "bench_id", "cosine")
  }

  /** DuckDB mirror of [[semanticDecontam]]. */
  def semanticDecontamSql(nBench: Int = SemBenchCount,
      tau: Double = SemDecontamTau): String =
    s"""WITH e AS (
       |  SELECT vec_id, CAST(label AS BIGINT) AS label, embedding,
       |    sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
       |                   for x in embedding])) AS nrm
       |  FROM embeddings),
       |scored AS (
       |  SELECT c.vec_id, c.label, b.vec_id AS bench_id,
       |    round(list_sum([CAST(b.embedding[i] AS DOUBLE)
       |                    * CAST(c.embedding[i] AS DOUBLE)
       |                    for i in range(1, len(b.embedding) + 1)])
       |      / (b.nrm * c.nrm), 6) + 0 AS cosine
       |  FROM e c JOIN e b ON b.vec_id < $nBench
       |  WHERE c.vec_id >= $nBench),
       |hits AS (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY cosine DESC, bench_id) AS rk
       |  FROM scored WHERE cosine >= $tau)
       |SELECT vec_id, label, bench_id, cosine
       |FROM hits WHERE rk = 1 ORDER BY vec_id""".stripMargin
}
