package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import Hashing._

/** Text analysis for training-data pipelines over the `documents` table:
  * per-doc statistics & quality scoring, token counting (whitespace +
  * BPE-ish regex), n-gram language ID, and content fingerprinting.
  *
  * Everything is array higher-order functions over `split(text, ' ')` —
  * no explode, no shuffle: at 100 TB each doc's stats are computed
  * map-side inside one projection, and only the (tiny) roll-ups shuffle.
  * Reference has no text operators; these extend the engine per the
  * BASELINE.json north-star.
  */
object TextAnalysis {

  /** Stopword sample per language — small public function-word lists used
    * both for quality's stopword ratio (en) and the n-gram language-ID
    * heuristic. Kept tiny and literal so the DuckDB oracle carries the
    * identical lexicon.
    */
  val Lexicons: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is", "to", "in"),
    "de" -> Seq("der", "die", "das", "und", "ist", "zu", "ein"),
    "es" -> Seq("el", "la", "de", "y", "es", "que", "un"),
    "fr" -> Seq("le", "la", "de", "et", "est", "que", "un"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有", "我"))

  /** BPE-ish token regex: runs of letters, runs of digits, or a single
    * other non-space char (common Spark/DuckDB regex subset).
    */
  val BpeTokenRegex = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  def tokens(text: Column): Column = split(text, " ")

  // ---- per-doc statistics & quality score ---------------------------------

  /** Per-doc stats: token counts (whitespace + BPE-ish), distinct tokens,
    * average token length, stopword ratio, type-token ratio, and a
    * deterministic composite quality score — the standard pre-training
    * corpus quality signals.
    */
  def textStats(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val en = Lexicons.head._2
    documents
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
        toks.as("toks"))
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
        aggregate(col("toks"), lit(0L), (a, t) => a + length(t))
          .as("sum_token_len"),
        size(filter(col("toks"), t => t.isin(en: _*))).cast("long")
          .as("n_stopwords"))
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
        col("n_tokens"), col("n_distinct"),
        round(col("sum_token_len").cast("double") / col("n_tokens"), 6)
          .as("avg_token_len"),
        round(col("n_stopwords").cast("double") / col("n_tokens"), 6)
          .as("stopword_ratio"),
        round(col("n_distinct").cast("double") / col("n_tokens"), 6)
          .as("type_token_ratio"),
        (qualityPpm(col("n_tokens"), col("n_distinct"), col("n_stopwords"))
          / lit(1000000.0)).as("quality_score"))
  }

  /** Composite quality in parts-per-million, 0.4·min(n_tokens/200,1) +
    * 0.3·TTR + 0.3·(1−stopword_ratio), computed with integer terms and
    * single-IEEE-division rounding so both engines produce the identical
    * value (multi-term double sums round differently at ULP boundaries).
    */
  def qualityPpm(nTok: Column, nDist: Column, nStop: Column): Column =
    (least(nTok * 2000L, lit(400000L))
      + round(nDist * 300000.0 / nTok).cast("long")
      + lit(300000L) - round(nStop * 300000.0 / nTok).cast("long"))

  /** Model-based quality classification — the "quality classifier" stage
    * of a pretraining pipeline (the role fastText/linear classifiers play
    * in LLaMA/CCNet-style curation), expressed as a LINEAR scorer over
    * the per-doc statistics with fixed, documented weights. The decision
    * value is an exact-integer margin in ppm (same single-division
    * rounding discipline as [[qualityPpm]]) so both engines agree
    * bit-for-bit; `keep` is `margin > 0`.
    *
    * Terms (all ppm-scaled; the length-credit cap sits BELOW the bias so
    * length alone can never clear the bar — a long but zero-diversity
    * spam doc is rejected):
    *   + saturating doc-length credit  (2000/token, cap 250 000)
    *   + lexical diversity             (TTR · 400 000)
    *   + stopword-presence credit      (rate, cap 60 000 — the C4
    *     "has function words" signal)
    *   − avg-token-length deviation    (|len − 4.5 chars| / 10, cap 300 000)
    *   − bias 300 000
    *
    * One map-side projection, no shuffle — the 100 TB shape of any
    * per-doc scoring pass. A learned model would swap the literal
    * weights for broadcast coefficients; the plan is identical.
    */
  def qualityClassifier(documents: DataFrame): DataFrame =
    // ONE feature projection in the codebase: the literal rule is the
    // coefficient seam at the literal weights (ExtSpec pins the
    // bit-equality; margin_raw is a multiple of 1e6 for this set, so
    // the div-scaled margin_ppm is exact). A cap or feature tweak now
    // reaches the verified row and the learned path together.
    qualityClassifierWith(documents, LiteralQualityCoefficients)
      .drop("margin_raw")

  def qualityClassifierSql: String =
    s"""SELECT doc_id, source, lang, n_tok AS n_tokens,
       |  margin_ppm, margin_ppm > 0 AS keep
       |FROM (
       |  SELECT doc_id, source, lang, n_tok,
       |    least(n_tok * 2000, 250000)
       |      + CAST(round(n_dist * 400000.0 / n_tok) AS BIGINT)
       |      + least(CAST(round(n_stop * 1000000.0 / n_tok) AS BIGINT),
       |              60000)
       |      - least(abs(CAST(round(sum_len * 1000000.0 / n_tok) AS BIGINT)
       |                  - 4500000) // 10, 300000)
       |      - 300000 AS margin_ppm
       |  FROM (
       |    SELECT doc_id, source, lang,
       |      len(toks) AS n_tok,
       |      len(list_distinct(toks)) AS n_dist,
       |      CAST(list_sum([len(t) for t in toks]) AS BIGINT) AS sum_len,
       |      len([t for t in toks
       |           if list_contains(${sqlList(Lexicons.head._2)}, t)])
       |        AS n_stop
       |    FROM (SELECT *, string_split(text, ' ') AS toks
       |          FROM documents)))""".stripMargin

  /** Learned weights for the quality classifier, ppm-scaled longs: a
    * weight of 1 000 000 over a feature is the literal rule's 1.0.
    * [[LiteralQualityCoefficients]] reproduces [[qualityClassifier]]
    * bit-for-bit through [[qualityClassifierWith]]; a TRAINED set
    * ([[trainQualityCoefficients]]) drops into the same projection —
    * the plan is identical, only literals change.
    */
  final case class QualityCoefficients(wLen: Long, wTtr: Long,
      wStop: Long, wDev: Long, biasPpm: Long)

  /** The literal rule's weights (1.0 on each credit, −1.0 on the
    * token-length deviation, bias 300 000 ppm).
    */
  val LiteralQualityCoefficients: QualityCoefficients =
    QualityCoefficients(1000000L, 1000000L, 1000000L, 1000000L, 300000L)

  /** A TRAINED coefficient set, shipped as the verified learned-apply
    * path's constants: the exact output of
    * `trainQualityCoefficients(documents@sf0.001, steps = 60)` —
    * deterministic and reproducible bit-for-bit (integer-summed
    * gradients), 459/500 teacher agreement on its training corpus.
    * A deployment retrains on its own labels and swaps the constants;
    * the plan is identical (`quality_classifier_learned` is the
    * cross-engine check of the APPLY path under non-trivial weights).
    */
  val TrainedQualityCoefficientsSf0001: QualityCoefficients =
    QualityCoefficients(3522226L, 1134354L, 66602561L, 2326838L,
      -300000L)

  /** Feature caps — each ppm feature of [[qualityFeatures]] lies in
    * [0, cap]; training normalizes by these.
    */
  private val QualityFeatureCaps =
    Seq(250000.0, 400000.0, 60000.0, 300000.0)

  /** The classifier's four integer ppm features as a map-side
    * projection — the shared front half of [[qualityClassifier]] (the
    * literal rule is margin = f_len + f_ttr + f_stop − f_dev − bias).
    * (Distinct from [[qualityFeatures]], the FILTER rules' feature row.)
    */
  def classifierFeatures(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val en = Lexicons.head._2
    documents
      .select(col("doc_id"), col("source"), col("lang"),
        size(toks).cast("long").as("n_tok"),
        size(array_distinct(toks)).cast("long").as("n_dist"),
        aggregate(toks, lit(0L), (a, t) => a + length(t)).as("sum_len"),
        size(filter(toks, t => t.isin(en: _*))).cast("long").as("n_stop"))
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_tok").as("n_tokens"),
        least(col("n_tok") * 2000L, lit(250000L)).as("f_len"),
        round(col("n_dist") * 400000.0 / col("n_tok")).cast("long")
          .as("f_ttr"),
        least(round(col("n_stop") * 1000000.0 / col("n_tok"))
          .cast("long"), lit(60000L)).as("f_stop"),
        least(expr(
          "abs(cast(round(sum_len * 1000000.0 / n_tok) as bigint)"
            + " - 4500000) div 10"), lit(300000L)).as("f_dev"))
  }

  /** [[qualityClassifier]] with the weights as COEFFICIENTS instead of
    * source literals — the seam a learned model drops into. With
    * [[LiteralQualityCoefficients]] this is the verified
    * `quality_classifier` row bit-for-bit (ppm weights over exact ppm
    * features; the div by 1 000 000 is exact for the literal set).
    * Same plan shape as the literal classifier: one map-side
    * projection over the scan, no shuffle, no broadcast — a
    * coefficient swap must never change the 100 TB cost shape.
    */
  def qualityClassifierWith(documents: DataFrame,
      coef: QualityCoefficients): DataFrame =
    classifierFeatures(documents)
      .select(col("doc_id"), col("source"), col("lang"), col("n_tokens"),
        // margin_raw is pure long arithmetic — no division at all, so
        // it is bit-identical in ANY engine (products ≤ ~3e13, far
        // inside long); the decision gate is raw-based. margin_ppm is
        // the human-scaled view via integer div — EXACT for the
        // literal set (its raw margin is a multiple of 1e6, bit-equal
        // to qualityClassifier), truncating for trained sets (which is
        // why cross-engine checks use margin_raw: div-vs-floor
        // semantics differ between engines on negatives)
        expr(s"f_len * ${coef.wLen}L + f_ttr * ${coef.wTtr}L"
          + s" + f_stop * ${coef.wStop}L - f_dev * ${coef.wDev}L"
          + s" - ${coef.biasPpm}L * 1000000L").as("margin_raw"))
      .select(col("doc_id"), col("source"), col("lang"), col("n_tokens"),
        col("margin_raw"),
        expr("margin_raw div 1000000L").as("margin_ppm"),
        (col("margin_raw") > 0L).as("keep"))

  /** ANSI SQL twin of [[qualityClassifierWith]]'s raw-margin output —
    * the oracle for the learned apply path (exact integer arithmetic,
    * no division anywhere).
    */
  def qualityClassifierLearnedSql(coef: QualityCoefficients): String =
    s"""SELECT doc_id, source, lang, n_tok AS n_tokens,
       |  f_len * ${coef.wLen} + f_ttr * ${coef.wTtr}
       |    + f_stop * ${coef.wStop} - f_dev * ${coef.wDev}
       |    - (CAST(${coef.biasPpm} AS BIGINT) * 1000000) AS margin_raw,
       |  (f_len * ${coef.wLen} + f_ttr * ${coef.wTtr}
       |    + f_stop * ${coef.wStop} - f_dev * ${coef.wDev}
       |    - (CAST(${coef.biasPpm} AS BIGINT) * 1000000)) > 0 AS keep
       |FROM (
       |  SELECT doc_id, source, lang, n_tok,
       |    least(n_tok * 2000, 250000) AS f_len,
       |    CAST(round(n_dist * 400000.0 / n_tok) AS BIGINT) AS f_ttr,
       |    least(CAST(round(n_stop * 1000000.0 / n_tok) AS BIGINT),
       |          60000) AS f_stop,
       |    least(abs(CAST(round(sum_len * 1000000.0 / n_tok) AS BIGINT)
       |              - 4500000) // 10, 300000) AS f_dev
       |  FROM (
       |    SELECT doc_id, source, lang,
       |      len(toks) AS n_tok,
       |      len(list_distinct(toks)) AS n_dist,
       |      CAST(list_sum([len(t) for t in toks]) AS BIGINT) AS sum_len,
       |      len([t for t in toks
       |           if list_contains(${sqlList(Lexicons.head._2)}, t)])
       |        AS n_stop
       |    FROM (SELECT *, string_split(text, ' ') AS toks
       |          FROM documents)))""".stripMargin

  /** Train logistic coefficients for the quality classifier IN SPARK,
    * deterministically: batch gradient descent over the normalized
    * ppm features, teacher labels = the literal rule's keep decision
    * (the bootstrap a deployment replaces with human/LLM labels; the
    * MACHINERY — deterministic distributed training feeding the
    * coefficient seam — is what this implements). Determinism
    * discipline: each doc's per-step gradient contribution is rounded
    * to nano-units (a long) BEFORE the aggregation, so the sum is
    * exact integer arithmetic — independent of partition order and
    * count, the property double-summed gradients lack; weights live
    * as nano-unit longs and every update is integer math. Same
    * inputs → bit-identical coefficients on any cluster.
    *
    * Scale shape: one features projection cached once, one 5-long agg
    * per step (map-side partial agg, 5 longs per partition to the
    * driver), steps × O(corpus) map work — the distributed-LR shape.
    * Returns ppm coefficients for [[qualityClassifierWith]]: the
    * normalized-space weights fold the caps back in, scaled so the
    * bias matches the literal rule's magnitude.
    */
  def trainQualityCoefficients(documents: DataFrame, steps: Int = 60,
      lrNano: Long = 2000000000L): QualityCoefficients = {
    val feats = Scratch.track(classifierFeatures(documents)
      .select(col("f_len"), col("f_ttr"), col("f_stop"), col("f_dev"))
      .persist())
    val n = feats.count()
    require(n > 0, "cannot train on an empty corpus")
    val caps = QualityFeatureCaps
    // weights in nano-units over NORMALIZED features (x_i = f_i/cap_i
    // in [0,1]; f_dev enters NEGATED so all-positive weights mirror
    // the rule's signs), plus bias; deterministic zero init
    val w = Array.fill(5)(0L)
    (0 until steps).foreach { _ =>
      val wd = w.map(_ / 1e9)
      val x = Seq(
        col("f_len") / caps(0), col("f_ttr") / caps(1),
        col("f_stop") / caps(2), -col("f_dev") / caps(3))
      val teacher = ((col("f_len") + col("f_ttr") + col("f_stop")
        - col("f_dev")) > lit(300000L)).cast("double")
      val z = x.zip(wd).map { case (c, wi) => c * wi }
        .reduce(_ + _) + wd(4)
      // StrictMath.exp, not Spark's exp (java.lang.Math.exp): Math.exp
      // is allowed 1-ulp platform variance (x86 vs aarch64 intrinsics),
      // which could flip a rounded nano-gradient on a boundary row and
      // compound across the fixed-point steps — StrictMath is fdlibm,
      // bit-identical on every JVM, so the shipped constants reproduce
      // on any cluster. Training-time only (a UDF over 60 fixture-scale
      // steps); the verified apply path stays pure-column.
      val strictSigmoid =
        udf((zv: Double) => 1.0 / (1.0 + StrictMath.exp(-zv)))
      val sigma = strictSigmoid(z)
      val gCols = (x :+ lit(1.0)).zipWithIndex.map { case (xi, i) =>
        round((sigma - teacher) * xi * 1e9).cast("long").as(s"g$i")
      }
      val sums = feats.select(gCols.map(c => sum(c)): _*).head()
      (0 until 5).foreach { i =>
        w(i) -= math.round(
          lrNano.toDouble * sums.getLong(i) / 1e9 / n)
      }
    }
    // fold normalization back: margin ∝ Σ (w_i/cap_i)·f_i + w_4.
    // Scale so the decision boundary is expressed at the literal
    // rule's ppm magnitude: choose s with s·|w_4| = biasPpm-scale
    // (the boundary is scale-invariant; s > 0 preserved by
    // construction — training drives w_4 negative, the bias term)
    val s = 300000.0 / math.max(math.abs(w(4) / 1e9), 1e-12)
    def ppm(i: Int): Long =
      math.round(w(i) / 1e9 * s * 1000000.0 / caps(i))
    // x_3 carried f_dev NEGATED, and qualityClassifierWith SUBTRACTS
    // wDev·f_dev — so the trained (positive) w(3) passes through as a
    // positive wDev; the (negative) trained bias term w(4) becomes the
    // positive subtracted biasPpm
    QualityCoefficients(ppm(0), ppm(1), ppm(2), ppm(3),
      math.round(-w(4) / 1e9 * s))
  }

  /** Keep-threshold for [[qualityCalibrated]]: drop the per-language
    * bottom quintile (cross-language fairness — a raw global threshold
    * would mass-drop whichever language the classifier scores lower).
    */
  val CalibrationKeepQuantile = 0.2

  /** Per-language quantile calibration of the quality margin — the
    * standard fix for a quality classifier whose raw scores are not
    * comparable across languages: each doc gets its percent-rank within
    * its language, and the keep gate thresholds the rank, not the raw
    * margin.
    *
    * Scale shape: percent_rank over billions of docs per language would
    * be a single-partition-per-language window, so the window here runs
    * over the DISTINCT (lang, margin) table instead (bounded by the ppm
    * score range, corpus-size-independent) and docs pick up their rank
    * via a broadcast join — semantically identical to per-doc
    * `percent_rank()` (ties share the min-rank), which is exactly what
    * the DuckDB oracle computes per doc. Ranks are exact rationals
    * evaluated with one double division in both engines.
    */
  def qualityCalibrated(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Both the rank table and the final join probe read the classifier
    // output; persist so the corpus is scored ONCE (the broadcast-side
    // job materializes the cache, the probe reuses it) — at 100 TB two
    // full classifier scans is the difference between one pass and two.
    val scored = Scratch.track(qualityClassifier(documents)
      .select(col("doc_id"), col("lang"), col("margin_ppm"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val byLang = Window.partitionBy("lang").orderBy("margin_ppm")
    val ranks = scored.groupBy("lang", "margin_ppm")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("below", coalesce(sum("cnt").over(
        byLang.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n_lang",
        sum("cnt").over(Window.partitionBy("lang")))
      .withColumn("pct_rank",
        when(col("n_lang") > 1,
          round(col("below").cast("double")
            / (col("n_lang") - 1), 6)).otherwise(lit(0.0)))
    scored
      .join(broadcast(ranks.select("lang", "margin_ppm", "pct_rank")),
        Seq("lang", "margin_ppm"))
      .withColumn("keep_calibrated",
        col("pct_rank") >= CalibrationKeepQuantile)
      .select("doc_id", "lang", "margin_ppm", "pct_rank",
        "keep_calibrated")
      .orderBy("doc_id")
  }

  /** DuckDB mirror of [[qualityCalibrated]] — the textbook per-doc
    * `percent_rank()` form (min-rank ties ≡ the distinct-score rewrite).
    */
  def qualityCalibratedSql: String =
    s"""WITH scored AS MATERIALIZED (
       |  SELECT doc_id, lang, margin_ppm FROM ($qualityClassifierSql))
       |SELECT doc_id, lang, margin_ppm,
       |  round(percent_rank() OVER (
       |    PARTITION BY lang ORDER BY margin_ppm), 6) AS pct_rank,
       |  round(percent_rank() OVER (
       |    PARTITION BY lang ORDER BY margin_ppm), 6)
       |    >= $CalibrationKeepQuantile AS keep_calibrated
       |FROM scored ORDER BY doc_id""".stripMargin

  def textStatsSql: String =
    s"""SELECT doc_id, source, lang, n_chars, n_tokens, n_distinct,
       |  round(CAST(sum_token_len AS DOUBLE) / n_tokens, 6)
       |    AS avg_token_len,
       |  round(CAST(n_stopwords AS DOUBLE) / n_tokens, 6)
       |    AS stopword_ratio,
       |  round(CAST(n_distinct AS DOUBLE) / n_tokens, 6)
       |    AS type_token_ratio,
       |  (least(n_tokens * 2000, 400000)
       |    + CAST(round(n_distinct * 300000.0 / n_tokens) AS BIGINT)
       |    + 300000 - CAST(round(n_stopwords * 300000.0 / n_tokens) AS BIGINT)
       |   ) / 1000000.0 AS quality_score
       |FROM (
       |  SELECT doc_id, source, lang, n_chars,
       |    len(toks) AS n_tokens,
       |    len(list_distinct(toks)) AS n_distinct,
       |    CAST(list_sum([len(t) for t in toks]) AS BIGINT)
       |      AS sum_token_len,
       |    len([t for t in toks
       |         if list_contains(${sqlList(Lexicons.head._2)}, t)])
       |      AS n_stopwords
       |  FROM (SELECT *, string_split(text, ' ') AS toks FROM documents))
       |""".stripMargin

  // ---- token counting roll-up ---------------------------------------------

  /** Corpus token accounting per source: whitespace tokens, BPE-ish regex
    * tokens, chars per token — the numbers a training-data pipeline sizes
    * its corpus by. One narrow aggregation; the regex count is computed
    * map-side per doc.
    */
  def tokenCounts(documents: DataFrame): DataFrame =
    documents
      .select(col("source"),
        size(tokens(col("text"))).cast("long").as("ws"),
        regexp_count(col("text"), lit(BpeTokenRegex)).cast("long").as("bpe"),
        col("n_chars"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("ws").as("total_ws_tokens"),
        sum("bpe").as("total_bpe_tokens"),
        round(sum("n_chars").cast("double") / sum("ws"), 6)
          .as("chars_per_ws_token"))

  def tokenCountsSql: String =
    s"""SELECT source, count(*) AS n_docs,
       |  CAST(sum(ws) AS BIGINT) AS total_ws_tokens,
       |  CAST(sum(bpe) AS BIGINT) AS total_bpe_tokens,
       |  round(CAST(sum(n_chars) AS DOUBLE) / sum(ws), 6)
       |    AS chars_per_ws_token
       |FROM (
       |  SELECT source, n_chars,
       |    len(string_split(text, ' ')) AS ws,
       |    len(regexp_extract_all(text, '$BpeTokenRegex')) AS bpe
       |  FROM documents)
       |GROUP BY source""".stripMargin

  /** Gopher-style repetition filter: per document, the duplicate-word
    * fraction and the most-frequent-bigram share — the two standard
    * signals for pathological boilerplate/repetition in pretraining
    * corpora (a doc that is one phrase looped scores ~10^6 ppm on both).
    *
    * Fractions are exact-integer ppm via `div` (cross-engine
    * bit-identical; see qualityPpm). Bigram counting explodes hashed
    * bigrams — (long, long) rows, map-side-combinable counts on
    * (doc_id, h), then a per-doc max: two narrow shuffles both keyed by
    * doc_id. A 32-bit in-doc bigram collision merges two bigram counts
    * deterministically in BOTH engines — parity is exact (same argument
    * as [[graft.ext.Dedup.shingleTable]]).
    */
  /** Below this word count the top-bigram share is meaningless (a fully
    * varied 6-token doc already has top share 200 000 ppm, and the
    * 1-shingle clamp makes 1-token docs score 10^6) — the Gopher rules
    * likewise apply repetition ratios only above a length floor. Short
    * docs are never bigram-flagged; the dup-word gate still applies.
    */
  val RepetitionMinWords = 10L

  def repetitionReport(documents: DataFrame,
      dupPpmMax: Long = 300000L, topBigramPpmMax: Long = 180000L)
      : DataFrame = {
    val toks = tokens(col("text"))
    val base = documents.select(col("doc_id"),
      size(toks).cast("long").as("n_words"),
      size(array_distinct(toks)).cast("long").as("n_distinct_words"))
    val bigrams = documents
      .select(col("doc_id"), explode(shingles(col("text"), 2)).as("bg"))
      .select(col("doc_id"), Hashing.h32(col("bg")).as("h"))
      .groupBy("doc_id", "h").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(max("c").as("top_bigram_n"), sum("c").as("n_bigrams"))
    base.join(bigrams, "doc_id")
      .withColumn("dup_word_ppm",
        expr("(n_words - n_distinct_words) * 1000000 div n_words"))
      .withColumn("top_bigram_ppm",
        expr("top_bigram_n * 1000000 div n_bigrams"))
      .withColumn("repetition_flag",
        col("dup_word_ppm") > dupPpmMax
          || (col("n_words") >= RepetitionMinWords
            && col("top_bigram_ppm") > topBigramPpmMax))
  }

  def repetitionReportSql(dupPpmMax: Long = 300000L,
      topBigramPpmMax: Long = 180000L): String =
    s"""WITH base AS (
       |  SELECT doc_id,
       |    len(string_split(text, ' ')) AS n_words,
       |    len(list_distinct(string_split(text, ' '))) AS n_distinct_words
       |  FROM documents),
       |bg AS (
       |  SELECT doc_id, ${h32Sql("b")} AS h, count(*) AS c
       |  FROM (SELECT doc_id,
       |          unnest(${shinglesSql("string_split(text, ' ')", 2)}) AS b
       |        FROM documents)
       |  GROUP BY 1, 2),
       |tops AS (
       |  SELECT doc_id, max(c) AS top_bigram_n,
       |    CAST(sum(c) AS BIGINT) AS n_bigrams
       |  FROM bg GROUP BY 1)
       |SELECT base.doc_id, n_words, n_distinct_words, top_bigram_n,
       |  n_bigrams,
       |  (n_words - n_distinct_words) * 1000000 // n_words AS dup_word_ppm,
       |  top_bigram_n * 1000000 // n_bigrams AS top_bigram_ppm,
       |  ((n_words - n_distinct_words) * 1000000 // n_words > $dupPpmMax
       |    OR (n_words >= $RepetitionMinWords
       |      AND top_bigram_n * 1000000 // n_bigrams > $topBigramPpmMax))
       |    AS repetition_flag
       |FROM base JOIN tops ON base.doc_id = tops.doc_id""".stripMargin

  /** Per-doc token-distribution Shannon entropy (nats) — the
    * information-theoretic repetitiveness signal complementing
    * [[repetitionReport]]'s rule thresholds: a doc cycling a tiny
    * vocabulary scores near 0, diverse text approaches ln(n_types);
    * `entropy_ratio` (entropy / ln(n_types)) is the scale-free form a
    * quality gate thresholds on. Used (in char/token form) by the
    * public Gopher/CCNet filter recipes.
    *
    * Scale shape: one token scan → per-(doc, token) count (the
    * corpus's only shuffle, map-side combinable on an 8-byte doc key +
    * token) → per-doc sum. Cross-engine determinism: each token's
    * contribution `(c/n)·ln(n/c)` is quantized to 1e-9 fixed point
    * with an identical expression tree in both engines (the
    * [[lmScore]] discipline), so the per-doc sum is exact-integer.
    */
  def tokenEntropy(documents: DataFrame): DataFrame = {
    val counts = documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .filter(col("t") =!= "")
      .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
    val perDoc = counts.groupBy("doc_id")
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_types"))
    counts.join(perDoc, "doc_id")
      .withColumn("qv", floor(
        col("c").cast("double")
          * log(col("n_tokens").cast("double") / col("c"))
          / col("n_tokens") * 1e9 + 0.5).cast("long"))
      .groupBy("doc_id")
      .agg(max("n_tokens").as("n_tokens"), max("n_types").as("n_types"),
        round(sum("qv").cast("double") / 1e9, 6).as("entropy_nats"))
      .withColumn("entropy_ratio",
        when(col("n_types") > 1,
          round(col("entropy_nats")
            / log(col("n_types").cast("double")), 6))
          .otherwise(lit(0.0)))
      .orderBy("doc_id")
  }

  /** DuckDB mirror of [[tokenEntropy]]. */
  val tokenEntropySql: String =
    s"""WITH counts AS (
       |  SELECT doc_id, t, count(*) AS c
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
       |        FROM documents)
       |  WHERE t != '' GROUP BY 1, 2),
       |perdoc AS (
       |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
       |    count(*) AS n_types
       |  FROM counts GROUP BY 1),
       |q AS (
       |  SELECT counts.doc_id,
       |    CAST(floor(CAST(c AS DOUBLE)
       |      * ln(CAST(n_tokens AS DOUBLE) / c)
       |      / n_tokens * 1e9 + 0.5) AS BIGINT) AS qv
       |  FROM counts JOIN perdoc ON counts.doc_id = perdoc.doc_id)
       |SELECT q.doc_id, p.n_tokens, p.n_types,
       |  round(CAST(sum(qv) AS DOUBLE) / 1e9, 6) AS entropy_nats,
       |  CASE WHEN p.n_types > 1
       |    THEN round(round(CAST(sum(qv) AS DOUBLE) / 1e9, 6)
       |      / ln(CAST(p.n_types AS DOUBLE)), 6)
       |    ELSE 0.0 END AS entropy_ratio
       |FROM q JOIN perdoc p ON q.doc_id = p.doc_id
       |GROUP BY q.doc_id, p.n_tokens, p.n_types
       |ORDER BY q.doc_id""".stripMargin

  /** Zipf power-law fit per source: least-squares slope of
    * ln(frequency) on ln(rank) over the source's token frequency table
    * (rank = frequency desc, token asc — the deterministic tie-break),
    * with the fit's r². Natural text slopes toward −1 (Zipf 1949);
    * a corpus whose slope drifts is boilerplate-heavy (flat head) or
    * template-spam (cliff tail) — the distributional health check next
    * to [[vocabCoverage]] and Heaps-law `vocab_growth`.
    *
    * Scale shape: one token explode → per-(source, token) count
    * (map-side combinable) → a per-source window over the VOCABULARY
    * (never the token stream) → one O(sources) aggregate. Determinism:
    * each ln() coordinate and each cross-term is 1e-9 fixed-point
    * quantized per row (the [[tokenEntropy]] discipline), so the sums
    * are order-independent BIGINTs and the final slope/r² divisions
    * see bit-identical inputs in both engines; the n·Σ products are
    * computed in DOUBLE from those exact integers (BIGINT·BIGINT would
    * overflow at ~1e5 types).
    */
  def zipfFit(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def fx(c: Column): Column = floor(c * 1e9 + 0.5).cast("long")
    val counts = documents
      .select(col("source"), explode(split(col("text"), " ")).as("t"))
      .filter(col("t") =!= "")
      .groupBy("source", "t").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("source").orderBy(desc("c"), col("t"))
    val q = counts
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col("source"), col("c"),
        fx(log(col("rank").cast("double"))).as("qx"),
        fx(log(col("c").cast("double"))).as("qy"))
    val x = col("qx").cast("double") / 1e9
    val y = col("qy").cast("double") / 1e9
    val agg = q
      .select(col("source"), col("c"), col("qx"), col("qy"),
        fx(x * y).as("qxy"), fx(x * x).as("qxx"), fx(y * y).as("qyy"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_types"), sum("c").as("n_tokens"),
        sum("qx").as("sqx"), sum("qy").as("sqy"), sum("qxy").as("sqxy"),
        sum("qxx").as("sqxx"), sum("qyy").as("sqyy"))
    def s(cn: String): Column = col(cn).cast("double") / 1e9
    val n = col("n_types").cast("double")
    val num = n * s("sqxy") - s("sqx") * s("sqy")
    val denx = n * s("sqxx") - s("sqx") * s("sqx")
    val deny = n * s("sqyy") - s("sqy") * s("sqy")
    agg.select(col("source"), col("n_types"), col("n_tokens"),
        when(denx > 0, round(num / denx, 6)).as("zipf_slope"),
        when(denx > 0 && deny > 0, round(num * num / (denx * deny), 6))
          .as("fit_r2"))
      .orderBy("source")
  }

  /** DuckDB mirror of [[zipfFit]] — the identical quantize/overflow
    * discipline, term for term.
    */
  val zipfFitSql: String =
    s"""WITH counts AS (
       |  SELECT source, t, count(*) AS c
       |  FROM (SELECT source, unnest(string_split(text, ' ')) AS t
       |        FROM documents)
       |  WHERE t != '' GROUP BY 1, 2),
       |ranked AS (
       |  SELECT source, c, row_number()
       |      OVER (PARTITION BY source ORDER BY c DESC, t) AS rank
       |  FROM counts),
       |q AS (
       |  SELECT source, c,
       |    CAST(floor(ln(CAST(rank AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)
       |      AS qx,
       |    CAST(floor(ln(CAST(c AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)
       |      AS qy
       |  FROM ranked),
       |terms AS (
       |  SELECT source, c, qx, qy,
       |    CAST(floor((CAST(qx AS DOUBLE) / 1e9) * (CAST(qy AS DOUBLE)
       |      / 1e9) * 1e9 + 0.5) AS BIGINT) AS qxy,
       |    CAST(floor((CAST(qx AS DOUBLE) / 1e9) * (CAST(qx AS DOUBLE)
       |      / 1e9) * 1e9 + 0.5) AS BIGINT) AS qxx,
       |    CAST(floor((CAST(qy AS DOUBLE) / 1e9) * (CAST(qy AS DOUBLE)
       |      / 1e9) * 1e9 + 0.5) AS BIGINT) AS qyy
       |  FROM q),
       |agg AS (
       |  SELECT source, count(*) AS n_types,
       |    CAST(sum(c) AS BIGINT) AS n_tokens,
       |    CAST(sum(qx) AS BIGINT) AS sqx, CAST(sum(qy) AS BIGINT) AS sqy,
       |    CAST(sum(qxy) AS BIGINT) AS sqxy,
       |    CAST(sum(qxx) AS BIGINT) AS sqxx,
       |    CAST(sum(qyy) AS BIGINT) AS sqyy
       |  FROM terms GROUP BY 1),
       |fit AS (
       |  SELECT source, n_types, n_tokens,
       |    CAST(n_types AS DOUBLE) * (CAST(sqxy AS DOUBLE) / 1e9)
       |      - (CAST(sqx AS DOUBLE) / 1e9) * (CAST(sqy AS DOUBLE) / 1e9)
       |      AS num,
       |    CAST(n_types AS DOUBLE) * (CAST(sqxx AS DOUBLE) / 1e9)
       |      - (CAST(sqx AS DOUBLE) / 1e9) * (CAST(sqx AS DOUBLE) / 1e9)
       |      AS denx,
       |    CAST(n_types AS DOUBLE) * (CAST(sqyy AS DOUBLE) / 1e9)
       |      - (CAST(sqy AS DOUBLE) / 1e9) * (CAST(sqy AS DOUBLE) / 1e9)
       |      AS deny
       |  FROM agg)
       |SELECT source, n_types, n_tokens,
       |  CASE WHEN denx > 0 THEN round(num / denx, 6) + 0 END
       |    AS zipf_slope,
       |  CASE WHEN denx > 0 AND deny > 0
       |    THEN round(num * num / (denx * deny), 6) + 0 END AS fit_r2
       |FROM fit ORDER BY source""".stripMargin

  // ---- heuristic quality-filter rule table (Gopher/C4-style) --------------

  /** The named doc-level filter rules of a pretraining quality gate —
    * length bounds, mean-word-length band, symbol/digit token shares,
    * distinct-stopword floor, type-token-ratio floor. Thresholds are
    * fixture-calibrated constants; every comparison is cross-multiplied
    * integer arithmetic (no ratio division), so both engines agree
    * bit-for-bit at every boundary.
    *
    * Each rule is a predicate over the per-doc feature row produced by
    * [[qualityFeatures]]: (n_tokens, n_distinct, sum_len, n_sym, n_digit,
    * n_stop_distinct).
    */
  val MinTokens = 20L
  val MaxTokens = 100000L
  val FilterRules: Seq[(String, Column)] = Seq(
    "min_tokens" -> (col("n_tokens") < MinTokens),
    "max_tokens" -> (col("n_tokens") > MaxTokens),
    "mean_word_len_low" -> (col("sum_len") * 10 < col("n_tokens") * 40),
    "mean_word_len_high" -> (col("sum_len") * 10 > col("n_tokens") * 52),
    "symbol_ratio" -> (col("n_sym") * 10 > col("n_tokens")),
    "digit_ratio" -> (col("n_digit") * 5 > col("n_tokens")),
    "stopword_floor" -> (col("n_stop_distinct") < 2),
    "ttr_floor" -> (col("n_distinct") * 2 < col("n_tokens")))

  /** [[qualityPpm]] as a DuckDB expression over a `toks` list column —
    * ONE definition for the four scoring oracles (keep-best cut, its
    * manifest, the training mix, the epoch planner), so the
    * bit-exactness-critical formula cannot drift between them.
    */
  def qualityPpmSqlExpr: String = {
    val en = Lexicons.head._2.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""least(len(toks) * 2000, 400000)
       |      + CAST(round(len(list_distinct(toks)) * 300000.0 / len(toks))
       |          AS BIGINT)
       |      + 300000
       |      - CAST(round(len([t for t in toks
       |                        if list_contains($en, t)])
       |          * 300000.0 / len(toks)) AS BIGINT)""".stripMargin
  }

  /** The same predicates in DuckDB SQL over the features CTE. */
  val FilterRulesSql: Seq[(String, String)] = Seq(
    "min_tokens" -> s"n_tokens < $MinTokens",
    "max_tokens" -> s"n_tokens > $MaxTokens",
    "mean_word_len_low" -> "sum_len * 10 < n_tokens * 40",
    "mean_word_len_high" -> "sum_len * 10 > n_tokens * 52",
    "symbol_ratio" -> "n_sym * 10 > n_tokens",
    "digit_ratio" -> "n_digit * 5 > n_tokens",
    "stopword_floor" -> "n_stop_distinct < 2",
    "ttr_floor" -> "n_distinct * 2 < n_tokens")

  /** The per-doc feature columns the filter rules read — one map-side
    * projection (array HOFs only, no explode/shuffle).
    */
  private def filterFeatureCols: Seq[Column] = {
    val toks = tokens(col("text"))
    val en = Lexicons.head._2
    Seq(
      size(toks).cast("long").as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_distinct"),
      aggregate(toks, lit(0L), (a, t) => a + length(t)).as("sum_len"),
      size(filter(toks, t => !t.rlike("^[a-z0-9]+$"))).cast("long")
        .as("n_sym"),
      size(filter(toks, t => t.rlike("[0-9]"))).cast("long").as("n_digit"),
      size(array_distinct(filter(toks, t => t.isin(en: _*)))).cast("long")
        .as("n_stop_distinct"))
  }

  /** Per-doc feature row for the filter rules. */
  def qualityFeatures(documents: DataFrame): DataFrame =
    documents.select(col("doc_id") +: filterFeatureCols: _*)

  val qualityFeaturesSql: String =
    s"""SELECT doc_id,
       |  len(toks) AS n_tokens,
       |  len(list_distinct(toks)) AS n_distinct,
       |  CAST(list_sum([len(t) for t in toks]) AS BIGINT) AS sum_len,
       |  len([t for t in toks
       |       if NOT regexp_full_match(t, '[a-z0-9]+')]) AS n_sym,
       |  len([t for t in toks if regexp_matches(t, '[0-9]')]) AS n_digit,
       |  len(list_distinct([t for t in toks
       |       if list_contains(${sqlList(Lexicons.head._2)}, t)]))
       |    AS n_stop_distinct
       |FROM (SELECT doc_id, string_split(text, ' ') AS toks
       |      FROM documents)""".stripMargin

  /** Documents passing EVERY filter rule — the composable quality gate.
    * The feature columns are attached inline and dropped after the
    * filter, so the whole gate is ONE map-side scan (no self-join on
    * doc_id, which would shuffle the corpus twice for nothing).
    */
  def qualityFilter(documents: DataFrame): DataFrame = {
    val pass = FilterRules.map(!_._2).reduce(_ && _)
    documents
      .select(col("*") +: filterFeatureCols: _*)
      .filter(pass)
      .select(documents.columns.map(col).toIndexedSeq: _*)
  }

  /** The per-rule audit: one row per named rule with evaluated/failed
    * counts and the failing-id checksum (pins exact failure MEMBERSHIP
    * cross-engine, not just counts).
    *
    * Scale shape: one corpus scan → map-side per-doc features → a single
    * 1-row aggregate (3 conditional columns per rule, all map-side
    * combinable) → explode of an O(rules) literal array. No per-rule
    * scans, no shuffle beyond the scalar aggregate.
    */
  def qualityFilterReport(documents: DataFrame): DataFrame = {
    val agged = qualityFeatures(documents).agg(
      count(lit(1)).as("n_docs"),
      FilterRules.flatMap { case (name, p) => Seq(
        count(when(p, 1)).as(s"f_$name"),
        coalesce(sum(when(p, col("doc_id"))), lit(0L)).as(s"s_$name"))
      }: _*)
    agged.select(explode(array(FilterRules.map { case (name, _) =>
        struct(lit(name).as("rule"), col("n_docs"),
          col(s"f_$name").as("n_failed"),
          col(s"s_$name").as("failed_id_sum"))
      }: _*)).as("r"))
      .select(col("r.rule").as("rule"), col("r.n_docs").as("n_docs"),
        col("r.n_failed").as("n_failed"),
        col("r.failed_id_sum").as("failed_id_sum"))
      .orderBy("rule")
  }

  /** DuckDB mirror of [[qualityFilterReport]]. */
  val qualityFilterReportSql: String = {
    val branches = FilterRulesSql.map { case (name, p) =>
      s"""SELECT '$name' AS rule, n_docs, f_$name AS n_failed,
         |  s_$name AS failed_id_sum FROM agged""".stripMargin
    }.mkString("\nUNION ALL\n")
    val aggCols = FilterRulesSql.map { case (name, p) =>
      s"""count(CASE WHEN $p THEN 1 END) AS f_$name,
         |  CAST(coalesce(sum(CASE WHEN $p THEN doc_id END), 0) AS BIGINT)
         |    AS s_$name""".stripMargin
    }.mkString(",\n  ")
    s"""WITH feats AS ($qualityFeaturesSql),
       |agged AS (
       |  SELECT count(*) AS n_docs,
       |  $aggCols
       |  FROM feats)
       |SELECT * FROM ($branches) ORDER BY rule""".stripMargin
  }

  /** Vocabulary size for the coverage report (fixture value — the corpus
    * has a 31-token vocabulary, so 16 keeps OOV non-trivial; production
    * would use the tokenizer's real vocab, typically 32k–256k).
    */
  val CoverageVocabK = 16

  /** Vocabulary-coverage / OOV report per source: build the top-k token
    * vocabulary from the corpus itself (count desc, token asc — the
    * deterministic tie-break), then measure what fraction of each
    * source's token stream falls outside it. The pre-tokenizer-training
    * question "how much of this source will the vocab even represent".
    *
    * Scale shape: one token explode feeding (1) a map-side-combinable
    * token count + top-k (TakeOrdered — per-partition heads only, no
    * global sort) and (2) the coverage pass, which joins against the
    * BROADCAST vocab (k rows) — the corpus token stream never shuffles
    * for the join; only the O(sources) aggregate does. The double token
    * explode is inherent: the vocab is data-derived.
    */
  def vocabCoverage(documents: DataFrame,
      k: Int = CoverageVocabK): DataFrame = {
    val toks = documents.select(col("source"),
      explode(split(col("text"), " ")).as("tok"))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), col("tok")).limit(k)
      .select(col("tok"), lit(1).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("in_vocab").isNull, 1)).as("n_oov"))
      .withColumn("oov_ppm", expr("n_oov * 1000000 div n_tokens"))
      .orderBy("source")
  }

  def vocabCoverageSql(k: Int = CoverageVocabK): String =
    s"""WITH toks AS (
       |  SELECT source, unnest(string_split(text, ' ')) AS tok
       |  FROM documents),
       |vocab AS (
       |  SELECT tok FROM (
       |    SELECT tok, count(*) AS c FROM toks GROUP BY 1
       |    ORDER BY c DESC, tok LIMIT $k))
       |SELECT source, count(*) AS n_tokens,
       |  count(CASE WHEN vocab.tok IS NULL THEN 1 END) AS n_oov,
       |  count(CASE WHEN vocab.tok IS NULL THEN 1 END) * 1000000
       |    // count(*) AS oov_ppm
       |FROM toks LEFT JOIN vocab ON toks.tok = vocab.tok
       |GROUP BY source ORDER BY source""".stripMargin

  // ---- language identification --------------------------------------------

  /** N-gram (function-word) language ID. Per doc, score each language by
    * lexicon hits, take the arg-max with a deterministic tie-break encoded
    * arithmetically (`score * 16 + rank`, so both engines resolve ties
    * identically), fall back to 'und' when nothing matches. Output is the
    * actual×predicted confusion roll-up.
    */
  def langIdConfusion(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val scoreCols = Lexicons.zipWithIndex.map { case ((lg, lex), i) =>
      (size(filter(toks, t => t.isin(lex: _*))).cast("long") * 16
        + (Lexicons.size - i)).as(s"s_$lg")
    }
    val best = greatest(Lexicons.map(l => col(s"s_${l._1}")): _*)
    val predicted = when(best < 16, lit("und")).otherwise(
      Lexicons.zipWithIndex.foldLeft(lit(null: String)) {
        case (acc, ((lg, _), i)) =>
          when(best % 16 === (Lexicons.size - i), lit(lg)).otherwise(acc)
      })
    documents
      .select((col("doc_id") +: col("lang") +: scoreCols): _*)
      .withColumn("best", best)
      .select(col("lang"), predicted.as("predicted"),
        (col("best") / 16).cast("long").as("score"))
      .groupBy("lang", "predicted")
      .agg(count(lit(1)).as("n_docs"), avg("score").as("avg_score"))
  }

  def langIdConfusionSql: String = {
    val scoreExprs = Lexicons.zipWithIndex.map { case ((lg, lex), i) =>
      s"""len([t for t in toks if list_contains(${sqlList(lex)}, t)])
         |      * 16 + ${Lexicons.size - i} AS s_$lg""".stripMargin
    }.mkString(",\n    ")
    val best = s"greatest(${Lexicons.map(l => s"s_${l._1}").mkString(", ")})"
    val caseArms = Lexicons.zipWithIndex
      .map { case ((lg, _), i) =>
        s"WHEN best % 16 = ${Lexicons.size - i} THEN '$lg'" }
      .mkString(" ")
    s"""SELECT lang, predicted, count(*) AS n_docs, avg(score) AS avg_score
       |FROM (
       |  SELECT lang,
       |    CASE WHEN best < 16 THEN 'und' $caseArms END AS predicted,
       |    best // 16 AS score
       |  FROM (
       |    SELECT lang, $best AS best
       |    FROM (
       |      SELECT doc_id, lang, $scoreExprs
       |      FROM (SELECT *, string_split(text, ' ') AS toks
       |            FROM documents))))
       |GROUP BY lang, predicted""".stripMargin
  }

  // ---- content fingerprinting ---------------------------------------------

  /** Shingle size (words) for fingerprints and MinHash. */
  val ShingleK = 5

  /** Word-k-shingle array of a TEXT column — the native codegen'd
    * [[graft.functions.WordShingles]] (identical semantics to the
    * split/slice/join composition; see its Scaladoc). Clamps short docs
    * to one shingle so the expression is total.
    */
  def shingles(text: Column, k: Int = ShingleK): Column =
    graft.functions.GraftFunctions.wordShingles(text, k)

  /** DuckDB mirror of [[shingles]] over a list-typed SQL expression. */
  def shinglesSql(toksExpr: String, k: Int = ShingleK): String =
    s"""[array_to_string($toksExpr[i:i+${k - 1}], ' ')
       |     for i in range(1, greatest(len($toksExpr) - ${k - 1}, 1) + 1)]
       |""".stripMargin.trim

  /** Per-doc corpus-novelty: what fraction of a document's distinct word
    * 5-grams appear NOWHERE else in the corpus. The doc-level curation
    * signal complementing span dedup — boilerplate-heavy docs score low
    * (their grams repeat across the corpus), fresh content scores 1.0 —
    * usable directly as a curriculum / sampling-priority key.
    *
    * Scale shape: one scan explodes to distinct `(doc_id, gram-hash)`
    * rows; the document-frequency aggregate and the join back are both
    * keyed on the 8-byte gram hash, so every shuffle carries the
    * distinct-gram volume (the [[graft.ext.Curation.sourceOverlap]]
    * class of cost), never corpus text.
    */
  def noveltyReport(documents: DataFrame): DataFrame = {
    // xxhash64 gram keys: every shuffle carries (doc_id, long), never the
    // 5-gram string (the span-dedup discipline, Dedup.scala:1166); the
    // oracle aggregates raw gram strings — counts agree absent 64-bit
    // collisions, which the probed corpora can't produce.
    val grams = documents
      .select(col("doc_id"), explode(shingles(col("text"))).as("g"))
      .select(col("doc_id"), xxhash64(col("g")).as("h"))
      .distinct()
    val df = grams.groupBy("h").agg(count(lit(1)).as("df"))
    grams.join(df, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("df") > 1, 1)).as("n_common"))
      .select(col("doc_id"), col("n_grams"), col("n_common"),
        round(lit(1.0) - col("n_common").cast("double") / col("n_grams"), 6)
          .as("novelty"))
  }

  def noveltyReportSql: String =
    s"""WITH grams AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, g AS h
       |  FROM (
       |    SELECT doc_id,
       |      unnest(${shinglesSql("string_split(text, ' ')")}) AS g
       |    FROM documents)),
       |df AS (
       |  SELECT h, CAST(count(*) AS BIGINT) AS df
       |  FROM grams GROUP BY h)
       |SELECT doc_id,
       |  CAST(count(*) AS BIGINT) AS n_grams,
       |  CAST(count(CASE WHEN df > 1 THEN 1 END) AS BIGINT) AS n_common,
       |  round(1.0 - CAST(count(CASE WHEN df > 1 THEN 1 END) AS DOUBLE)
       |    / count(*), 6) AS novelty
       |FROM grams JOIN df USING (h)
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  /** The corpus gram index behind [[noveltyServed]]: distinct xxhash64
    * 5-gram keys, one 8-byte column. In production this is maintained
    * across ingests (union new batch grams per arrival); recomputed here.
    */
  def gramIndex(documents: DataFrame): DataFrame = {
    documents
      .select(explode(shingles(col("text"))).as("g"))
      .select(xxhash64(col("g")).as("h"))
      .distinct()
  }

  /** Persist the gram index — ingest-time cost, like the winnow
    * fingerprint database and the MinHash band index.
    */
  def writeGramIndex(documents: DataFrame, path: String): Unit =
    gramIndex(documents).write.mode("overwrite").parquet(path)

  /** Incremental novelty — the shape a production pipeline runs: score a
    * (small) ingest batch against the (huge) stored corpus gram index
    * WITHOUT rescanning the corpus. A batch gram is non-novel if the
    * corpus has it, or ≥2 batch docs share it. The batch gram set is
    * broadcast-sized, so the index-side probe is a broadcast semi-join
    * over the index scan — the corpus index never shuffles, and
    * per-ingest cost is O(|batch| + matching index keys).
    */
  def noveltyAgainst(index: DataFrame, batch: DataFrame): DataFrame = {
    val bg = batch
      .select(col("doc_id"), explode(shingles(col("text"))).as("g"))
      .select(col("doc_id"), xxhash64(col("g")).as("h"))
      .distinct()
    val bdf = bg.groupBy("h").agg(count(lit(1)).as("bdf"))
    // The semi-join keeps index rows, and a streaming (uncompacted) index
    // legitimately holds the same gram under several batch_id partitions —
    // distinct before the probe join or each duplicate fans out the batch
    // row and inflates n_common. The matched set is bounded by the batch
    // gram count, so the distinct shuffle is broadcast-sized.
    val hits = index.select(col("h"))
      .join(broadcast(bg.select("h").distinct()), Seq("h"), "left_semi")
      .distinct()
      .select(col("h"), lit(true).as("in_index"))
    bg.join(bdf, "h")
      .join(hits, Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("in_index").isNotNull || col("bdf") > 1, 1))
          .as("n_common"))
      .select(col("doc_id"), col("n_grams"), col("n_common"),
        round(lit(1.0) - col("n_common").cast("double") / col("n_grams"), 6)
          .as("novelty"))
  }

  /** [[noveltyAgainst]] served from the persisted index. */
  def noveltyServed(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, batch: DataFrame): DataFrame =
    noveltyAgainst(spark.read.parquet(indexPath), batch)

  /** DuckDB mirror for a batch defined by `batchPred` over doc_id
    * (index = the complement, derived from the same documents table).
    */
  def noveltyIncrementalSql(batchPred: String => String): String =
    s"""WITH bg AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, g
       |  FROM (
       |    SELECT doc_id,
       |      unnest(${shinglesSql("string_split(text, ' ')")}) AS g
       |    FROM documents WHERE ${batchPred("doc_id")})),
       |idx AS MATERIALIZED (
       |  SELECT DISTINCT g
       |  FROM (
       |    SELECT unnest(${shinglesSql("string_split(text, ' ')")}) AS g
       |    FROM documents WHERE NOT (${batchPred("doc_id")}))),
       |bdf AS (SELECT g, count(*) AS bdf FROM bg GROUP BY g)
       |SELECT bg.doc_id,
       |  CAST(count(*) AS BIGINT) AS n_grams,
       |  CAST(count(CASE WHEN idx.g IS NOT NULL OR bdf.bdf > 1 THEN 1 END)
       |    AS BIGINT) AS n_common,
       |  round(1.0 - CAST(count(CASE WHEN idx.g IS NOT NULL
       |      OR bdf.bdf > 1 THEN 1 END) AS DOUBLE) / count(*), 6)
       |    AS novelty
       |FROM bg
       |JOIN bdf USING (g)
       |LEFT JOIN idx ON bg.g = idx.g
       |GROUP BY bg.doc_id
       |ORDER BY bg.doc_id""".stripMargin

  /** Per-doc content fingerprints: whole-text md5 (exact identity) and the
    * minimum shingle hash (a 1-seed MinHash — a rolling-window content
    * fingerprint robust to suffix edits). All map-side.
    */
  def fingerprints(documents: DataFrame): DataFrame = {
    documents
      .select(col("doc_id"), md5(col("text")).as("fp_md5"),
        shingles(col("text")).as("sh"))
      .select(col("doc_id"), col("fp_md5"),
        array_min(transform(col("sh"), s => h32(s))).as("min_shingle_hash"),
        size(col("sh")).cast("long").as("n_shingles"))
  }

  def fingerprintsSql: String =
    s"""SELECT doc_id, fp_md5,
       |  list_min([${h32Sql("s")} for s in sh]) AS min_shingle_hash,
       |  len(sh) AS n_shingles
       |FROM (
       |  SELECT doc_id, md5(text) AS fp_md5,
       |    ${shinglesSql("string_split(text, ' ')")} AS sh
       |  FROM documents)""".stripMargin

  private def sqlList(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString("[", ", ", "]")

  // ---- corpus roll-ups ----------------------------------------------------

  /** Top-K vocabulary with doc frequency — the corpus-analysis staple.
    * explode → two-level aggregate; both aggs are map-side combinable and
    * the final top-K sorts only K·partitions rows.
    */
  def topTokens(documents: DataFrame, k: Int = 50): DataFrame =
    documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("doc_id")).as("doc_freq"))
      .orderBy(col("n").desc, col("tok"))
      .limit(k)

  def topTokensSql(k: Int = 50): String =
    s"""SELECT tok, count(*) AS n, count(DISTINCT doc_id) AS doc_freq
       |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |      FROM documents)
       |GROUP BY tok ORDER BY n DESC, tok LIMIT $k""".stripMargin

  /** Collocation pairs below this corpus count are too noisy for PMI
    * (the classic sparse-count pathology: a hapax pair scores maximal
    * PMI); the standard mitigation is a minimum pair frequency.
    */
  val PmiMinPairCount = 5L

  /** Top-K adjacent-bigram collocations by pointwise mutual information
    * — the corpus-linguistics staple for surfacing multiword expressions
    * ("new york") that tokenizer and phrase-mining stages should treat
    * as units. PMI(a,b) = ln( P(a,b) / (P(a)·P(b)) ) with P over
    * adjacent-pair and unigram frequencies.
    *
    * Scale shape: two map-side explodes (unigrams; zipped adjacent
    * pairs) feed two map-side-combinable counts; the pair table joins
    * the vocabulary table twice on the word key (vocabulary-sized
    * shuffles, orders smaller than the corpus); corpus totals attach as
    * a broadcast 1-row scalar; final top-K is TakeOrdered (K·partitions
    * rows sorted, never a global sort). Cross-engine determinism: PMI is
    * computed once per surviving pair from exact integer counts with an
    * identical double expression tree in both engines, quantized to
    * integer micros.
    */
  def pmiCollocations(documents: DataFrame, k: Int = 100): DataFrame = {
    val toks = tokens(col("text"))
    val pairs = documents
      .select(slice(toks, lit(1), greatest(size(toks) - 1, lit(0))).as("l"),
        slice(toks, lit(2), greatest(size(toks) - 1, lit(0))).as("r"))
      .select(explode(arrays_zip(col("l"), col("r"))).as("p"))
      .select(col("p.l").as("a"), col("p.r").as("b"))
      .filter(col("a") =!= "" && col("b") =!= "")
    val uni = documents
      .select(explode(toks).as("w")).filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("c"))
    val bigAll = pairs.groupBy("a", "b").agg(count(lit(1)).as("cab"))
    // totals read the two (small) aggregated tables, not the corpus
    val scalars = broadcast(
      uni.agg(sum("c").cast("long").as("n"))
        .crossJoin(bigAll.agg(sum("cab").cast("long").as("bt"))))
    bigAll.filter(col("cab") >= PmiMinPairCount)
      .join(uni.select(col("w").as("a"), col("c").as("ca")), Seq("a"))
      .join(uni.select(col("w").as("b"), col("c").as("cb")), Seq("b"))
      .crossJoin(scalars)
      .withColumn("pmi_micros", expr(
        "CAST(floor(ln((CAST(cab AS DOUBLE) * n * n)"
          + " / (CAST(bt AS DOUBLE) * ca * cb)) * 1e6 + 0.5) AS BIGINT)"))
      .select(col("a"), col("b"), col("cab").as("n_pair"),
        col("ca").as("n_a"), col("cb").as("n_b"), col("pmi_micros"))
      .orderBy(col("pmi_micros").desc, col("a"), col("b"))
      .limit(k)
  }

  /** DuckDB mirror of [[pmiCollocations]] (identical PMI expression
    * tree; `t[:-2]`/`t[2:]` slices zip into adjacent pairs).
    */
  def pmiCollocationsSql(k: Int = 100): String =
    s"""WITH toks AS MATERIALIZED (
       |  SELECT string_split(text, ' ') AS t FROM documents),
       |pairs AS MATERIALIZED (
       |  SELECT p[1] AS a, p[2] AS b
       |  FROM (SELECT unnest(list_zip(t[:-2], t[2:])) AS p FROM toks)
       |  WHERE p[1] IS NOT NULL AND p[2] IS NOT NULL
       |    AND p[1] != '' AND p[2] != ''),
       |uni AS MATERIALIZED (
       |  SELECT w, count(*) AS c
       |  FROM (SELECT unnest(t) AS w FROM toks)
       |  WHERE w != '' GROUP BY 1),
       |bigall AS MATERIALIZED (
       |  SELECT a, b, count(*) AS cab FROM pairs GROUP BY 1, 2),
       |scalars AS (
       |  SELECT (SELECT CAST(sum(c) AS BIGINT) FROM uni) AS n,
       |    (SELECT CAST(sum(cab) AS BIGINT) FROM bigall) AS bt)
       |SELECT g.a, g.b, cab AS n_pair, ua.c AS n_a, ub.c AS n_b,
       |  CAST(floor(ln((CAST(cab AS DOUBLE) * n * n)
       |    / (CAST(bt AS DOUBLE) * ua.c * ub.c)) * 1e6 + 0.5) AS BIGINT)
       |    AS pmi_micros
       |FROM bigall g
       |JOIN uni ua ON g.a = ua.w
       |JOIN uni ub ON g.b = ub.w
       |CROSS JOIN scalars
       |WHERE cab >= $PmiMinPairCount
       |ORDER BY pmi_micros DESC, g.a, g.b LIMIT $k""".stripMargin

  /** Exact interpolated length quantiles per language — `percentile`
    * (exact, Spark ≥3.5) matches DuckDB's `quantile_cont` definition, so
    * the oracle is exact. Exactness costs memory: the aggregate buffers
    * every value per group, so at 100 TB the scale path is
    * [[lengthQuantilesApprox]].
    */
  def lengthQuantiles(documents: DataFrame): DataFrame =
    documents.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        percentile(col("n_chars"), lit(0.5)).as("p50"),
        percentile(col("n_chars"), lit(0.9)).as("p90"),
        percentile(col("n_chars"), lit(0.99)).as("p99"))

  def lengthQuantilesSql: String =
    """SELECT lang, count(*) AS n_docs,
      |  quantile_cont(n_chars, 0.5) AS p50,
      |  quantile_cont(n_chars, 0.9) AS p90,
      |  quantile_cont(n_chars, 0.99) AS p99
      |FROM documents GROUP BY lang""".stripMargin

  /** Modified z-score threshold for [[lengthOutliers]]: the standard
    * |x − med| > 3·1.4826·MAD robust gate (1.4826 normalizes MAD to σ
    * under normality). Robust where mean/stddev gates break: a few
    * pathological giant docs cannot drag the threshold.
    */
  val OutlierMadK = 3.0

  /** Per-source robust doc-length outlier flags via median/MAD — the
    * curation gate for pathological document sizes that survives the
    * very outliers it hunts. Two per-source aggregations over the
    * corpus (median, then median absolute deviation against the
    * broadcast medians) and a broadcast join back for the per-doc flag.
    * Exact `percentile` matches DuckDB `quantile_cont` bit-for-bit; at
    * 100 TB swap both passes to `percentile_approx` (the
    * [[lengthQuantilesApprox]] discipline) — MAD tolerates rank error
    * by design.
    */
  def lengthOutliers(documents: DataFrame): DataFrame = {
    val med = documents.groupBy("source")
      .agg(percentile(col("n_chars"), lit(0.5)).as("med"))
    val stats = documents.join(broadcast(med), Seq("source"))
      .groupBy("source")
      .agg(max("med").as("med"),
        percentile(abs(col("n_chars") - col("med")), lit(0.5)).as("mad"))
    documents.join(broadcast(stats), Seq("source"))
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("med"), col("mad"),
        (abs(col("n_chars") - col("med"))
          > lit(OutlierMadK) * lit(1.4826) * col("mad")).as("is_outlier"))
      .orderBy("doc_id")
  }

  def lengthOutliersSql: String =
    s"""WITH med AS MATERIALIZED (
       |  SELECT source, quantile_cont(n_chars, 0.5) AS med
       |  FROM documents GROUP BY 1),
       |stats AS MATERIALIZED (
       |  SELECT d.source, max(m.med) AS med,
       |    quantile_cont(abs(d.n_chars - m.med), 0.5) AS mad
       |  FROM documents d JOIN med m ON d.source = m.source
       |  GROUP BY 1)
       |SELECT d.doc_id, d.source, d.n_chars, s.med, s.mad,
       |  abs(d.n_chars - s.med) > $OutlierMadK * 1.4826 * s.mad
       |    AS is_outlier
       |FROM documents d JOIN stats s ON d.source = s.source
       |ORDER BY d.doc_id""".stripMargin

  /** `percentile_approx` accuracy knob: error ≤ 1/accuracy of the rank. */
  val ApproxQuantileAccuracy = 10000

  /** The 100 TB twin of [[lengthQuantiles]]: `percentile_approx`
    * (Greenwald-Khanna sketch, constant memory per group, map-side
    * combinable partials) in place of the value-buffering exact
    * aggregate. The measured deviation vs the exact query on the
    * fixtures is recorded in SCALING.md and pinned within rank-error
    * bounds in ExtSpec; the oracle-checkable form is
    * [[lengthQuantilesApproxVerified]].
    */
  def lengthQuantilesApprox(documents: DataFrame): DataFrame =
    documents.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        percentile_approx(col("n_chars"), lit(0.5),
          lit(ApproxQuantileAccuracy)).as("p50"),
        percentile_approx(col("n_chars"), lit(0.9),
          lit(ApproxQuantileAccuracy)).as("p90"),
        percentile_approx(col("n_chars"), lit(0.99),
          lit(ApproxQuantileAccuracy)).as("p99"))

  /** Oracle-checkable form of [[lengthQuantilesApprox]]: per language,
    * verify each sketch quantile against the Greenwald-Khanna RANK
    * contract directly — the returned value x must satisfy
    * `count(v ≤ x) ≥ ⌊(p−ε)·n⌋` and `count(v < x) ≤ ⌈(p+ε)·n⌉` with
    * ε = 1/accuracy (value-space windows break down when a group is
    * smaller than a rank step: GK returns a data element, interpolated
    * quantiles fall between elements). DuckDB asserts `true` for every
    * flag, so the hash compare verifies the sketch's error contract
    * itself — the no-oracle escape hatch is gone. Two passes: the
    * sketch aggregate (one row per lang, broadcast back), then one
    * rank-counting scan; the production scale path remains the
    * sketch-only twin.
    */
  def lengthQuantilesApproxVerified(documents: DataFrame): DataFrame = {
    val eps = 1.0 / ApproxQuantileAccuracy
    def gk(p: Double) = percentile_approx(col("n_chars"), lit(p),
      lit(ApproxQuantileAccuracy))
    val sk = documents.groupBy("lang").agg(gk(0.5).as("gk_p50"),
      gk(0.9).as("gk_p90"), gk(0.99).as("gk_p99"))
    def cnt(op: (Column, Column) => Column, name: String) =
      sum(when(op(col("n_chars"), col(s"gk_$name")), 1L).otherwise(0L))
    def ok(p: Double, name: String) =
      (col(s"le_$name") >= floor(lit(p - eps) * col("n_docs")) &&
        col(s"lt_$name") <= ceil(lit(p + eps) * col("n_docs")))
        .as(s"${name}_ok")
    documents.join(broadcast(sk), "lang")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        Seq("p50", "p90", "p99").flatMap(n => Seq(
          cnt(_ <= _, n).as(s"le_$n"), cnt(_ < _, n).as(s"lt_$n"))): _*)
      .select(col("lang"), col("n_docs"),
        ok(0.5, "p50"), ok(0.9, "p90"), ok(0.99, "p99"))
  }

  /** DuckDB mirror of [[lengthQuantilesApproxVerified]]: the exact side
    * asserts every sketch-in-bound flag is true.
    */
  val lengthQuantilesApproxVerifiedSql: String =
    """SELECT lang, count(*) AS n_docs,
      |  true AS p50_ok, true AS p90_ok, true AS p99_ok
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ---- bigram language-model scoring ---------------------------------------

  /** Per-document cross-entropy under a corpus bigram LM with add-one
    * smoothing — the n-gram form of the LM-based quality signal text
    * curation pipelines use (CCNet-style: atypical text scores high):
    * lm_score(d) = mean over d's bigram positions of
    * −ln P(w₂|w₁) = ln(c(w₁)+V) − ln(c(w₁w₂)+1), with V = vocab size
    * and c(·) corpus counts.
    *
    * Shape: one corpus token scan feeds positions, bigram counts and
    * context counts; scoring is two (w₁,w₂)/(w₁)-keyed narrow joins of
    * the positions stream. Cross-engine determinism: each position's
    * −ln term is quantized to 1e-9 fixed point (floor(x·10⁹ + 0.5) as
    * BIGINT), so the per-doc SUM is exact-integer and order-independent
    * — a raw double sum would vary with partial-aggregation order.
    */
  def lmScore(documents: DataFrame): DataFrame = {
    // spread + persist COMBINED (the span_containment r17 lesson —
    // each alone lost its A/B): the bigram position stream feeds three
    // differently-keyed consumers (bg, ctx, final join), so without a
    // materialization barrier the explode runs once per consumer, and
    // without the spread each run is single-task over the unsplittable
    // fixture scan (r18 profile: three ~250 ms 1-task stages). Spread
    // the input, evaluate the explode once 32-way, cache the compact
    // (doc_id, w1, w2) rows for all three consumers.
    val toks = graft.Tables.spreadSmallScan(documents)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
    val pos = Scratch.track(toks.select(col("doc_id"),
        explode(zip_with(
          slice(col("t"), lit(1), size(col("t")) - 1),
          slice(col("t"), lit(2), size(col("t")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
      .filter(col("w1") =!= "" && col("w2") =!= "")
      .persist())
    val bg = pos.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val ctx = pos.groupBy("w1").agg(count(lit(1)).as("c1"))
    val vocab = documents
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .agg(countDistinct("tok").as("vs"))
    pos
      .join(bg, Seq("w1", "w2"))
      .join(ctx, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("qv", floor(
        (log(col("c1") + col("vs")) - log(col("c12") + 1))
          * 1e9 + 0.5).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum("qv").cast("double") / 1e9 / count(lit(1)), 6)
          .as("lm_score"))
  }

  /** DuckDB mirror of [[lmScore]]. */
  val lmScoreSql: String =
    """WITH pos AS (
      |  SELECT doc_id, p[1] AS w1, p[2] AS w2 FROM (
      |    SELECT doc_id, unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS p
      |    FROM (SELECT doc_id, string_split(text, ' ') AS t
      |          FROM documents))
      |  WHERE p[1] != '' AND p[2] != ''),
      |bg AS (SELECT w1, w2, count(*) AS c12 FROM pos GROUP BY 1, 2),
      |ctx AS (SELECT w1, count(*) AS c1 FROM pos GROUP BY 1),
      |v AS (
      |  SELECT count(DISTINCT tok) AS vs FROM (
      |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      |  WHERE tok != ''),
      |q AS (
      |  SELECT pos.doc_id,
      |    CAST(floor((ln(c1 + vs) - ln(c12 + 1)) * 1000000000.0 + 0.5)
      |      AS BIGINT) AS qv
      |  FROM pos JOIN bg USING (w1, w2) JOIN ctx USING (w1)
      |    CROSS JOIN v)
      |SELECT doc_id, count(*) AS n_bigrams,
      |  round(CAST(sum(qv) AS DOUBLE) / 1000000000.0 / count(*), 6)
      |    AS lm_score
      |FROM q GROUP BY doc_id ORDER BY doc_id""".stripMargin
}
