package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import Hashing._
import TextAnalysis.{shingles, shinglesSql, ShingleK}

/** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken 2003,
  * "Winnowing: Local Algorithms for Document Fingerprinting" — the MOSS
  * algorithm). Complements [[TextAnalysis.fingerprints]] (whole-doc
  * identity) with POSITION-ROBUST partial-overlap fingerprints: any
  * shared run of at least `w + k - 1` tokens between two documents is
  * guaranteed to share at least one selected fingerprint, while only
  * ~2/(w+1) of all gram hashes are kept. That guarantee is what makes
  * plagiarism-style containment detection sub-quadratic: match candidates
  * come from an equi-join on selected fingerprints, never from comparing
  * documents pairwise.
  *
  * Selection rule (the paper's, made order-free so both engines agree):
  * over the word-k-shingle hash sequence, every window of `w` consecutive
  * hashes selects its RIGHTMOST minimal hash; the fingerprint set is the
  * distinct (position, hash) selections. Rightmost-min is the paper's
  * tie-break (it maximizes the chance adjacent windows re-select the
  * same gram, minimizing density); expressing selection per-window and
  * de-duplicating — rather than scanning stateful left-to-right — gives
  * the identical set and is a pure array expression.
  *
  * Scale posture (100 TB): fingerprint extraction is one map-side
  * projection (no shuffle); the match join shuffles ~2/(w+1) of the
  * gram-hash volume — an 8× reduction versus joining all grams at the
  * default w — and the stop-fingerprint guard (`MaxDocFreq`) removes
  * boilerplate grams before any pairing, bounding bucket fan-in exactly
  * like the banded-dedup mega-bucket discipline (SCALING.md).
  *
  * Reference has no fingerprinting surface; this extends the engine per
  * the BASELINE.json north-star alongside [[Dedup]] span containment.
  */
object Winnow {

  /** Winnow window (hashes per selection window). Guarantee threshold:
    * shared token runs >= `WindowW + ShingleK - 1` always collide.
    */
  val WindowW = 4

  /** Fingerprints seen in more than this many docs are boilerplate
    * ("stop fingerprints") and are dropped before pairing.
    */
  val MaxDocFreq = 16L

  /** Minimum shared fingerprints for a reported match pair. */
  val MinShared = 2L

  /** Packs (pos, fp) into one BIGINT (`pos * 2^32 + fp`; fp < 2^32 by
    * construction of [[Hashing.h32]]) so distinct-selection sets are
    * plain long arrays in both engines (DuckDB's `list_distinct` over
    * structs is not guaranteed stable across versions).
    */
  private val PosShift = 4294967296L

  /** EXPRESSION-FORM winnow selections from a gram-hash array — the
    * reference twin of the native `winnow_select` expression (ExtSpec
    * pins bit-equality). `hs` MUST be a materialized ATTRIBUTE
    * (projected in its own upstream select), never an inline
    * expression: the per-window lambda references it w+2 times and
    * higher-order functions evaluate interpreted (no codegen
    * subexpression elimination), so an inline tree re-runs the whole
    * shingle+hash pipeline once per reference per window — O(doc²) per
    * doc (measured: 49 s vs <1 s over 5 000 docs at sf0.1). Catalyst's
    * CollapseProject keeps the split: it refuses to inline a non-cheap
    * alias consumed more than once. The hot path uses the native
    * O(n)-deque [[graft.functions.WinnowSelect]] instead.
    */
  def selectionsFromHashes(hs: Column, w: Int = WindowW): Column = {
    val starts = sequence(lit(1), greatest(size(hs) - (w - 1), lit(1)))
    array_distinct(transform(starts, i => {
      val sub = slice(hs, i, lit(w))
      val m = array_min(sub)
      // rightmost occurrence of the window min (array_position is 1-based)
      val pos = i + size(sub) - array_position(reverse(sub), m)
      pos.cast("long") * PosShift + m
    }))
  }

  /** `(doc_id, n_grams, sel)` via the native `winnow_select` expression
    * — one codegen'd projection; the fixture scan is spread across
    * cores first (the sf parquet is one split; at production scale the
    * input arrives already partitioned).
    */
  private def withSelections(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    documents
      .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt)
      .select(col("doc_id"),
        size(shingles(col("text"))).cast("long").as("n_grams"),
        graft.functions.GraftFunctions
          .winnowSelect(col("text"), ShingleK, WindowW).as("sel"))
  }

  /** DuckDB mirror of [[selectionsFromHashes]] over a `hs` BIGINT-list expression
    * already in scope (bound via a lateral/subquery alias).
    */
  def selectionsSql(hs: String, w: Int = WindowW): String =
    s"""list_distinct([
       |  CAST(i + len($hs[i:i+${w - 1}])
       |       - list_position(list_reverse($hs[i:i+${w - 1}]),
       |                       list_min($hs[i:i+${w - 1}])) AS BIGINT)
       |    * $PosShift + list_min($hs[i:i+${w - 1}])
       |  for i in range(1, greatest(len($hs) - ${w - 1}, 1) + 1)])"""
      .stripMargin

  /** Per-doc fingerprint summary — the verified `winnow_fingerprints`
    * query. Exact-integer outputs (count / min / sum of the encoded
    * selections) so the cross-engine hash is bit-stable.
    */
  def fingerprintReport(documents: DataFrame): DataFrame =
    withSelections(documents)
      .select(col("doc_id"), col("n_grams"),
        size(col("sel")).cast("long").as("n_fps"),
        array_min(col("sel")).as("first_fp"),
        aggregate(col("sel"), lit(0L), (a, x) => a + x).as("fp_checksum"))

  def fingerprintReportSql: String =
    s"""SELECT doc_id, CAST(len(hs) AS BIGINT) AS n_grams,
       |  CAST(len(sel) AS BIGINT) AS n_fps,
       |  list_min(sel) AS first_fp,
       |  CAST(list_sum(sel) AS BIGINT) AS fp_checksum
       |FROM (
       |  SELECT doc_id, hs, ${selectionsSql("hs")} AS sel
       |  FROM (
       |    SELECT doc_id,
       |      [${h32Sql("s")} for s in
       |        ${shinglesSql("string_split(text, ' ')")}] AS hs
       |    FROM documents))""".stripMargin

  /** Distinct fingerprint VALUES per doc (positions dropped) — the join
    * key table for match detection.
    */
  private def fpTable(documents: DataFrame): DataFrame =
    withSelections(documents)
      .select(col("doc_id"),
        explode(array_distinct(
          transform(col("sel"), e => pmod(e, lit(PosShift))))).as("fp"))

  /** Document pairs sharing >= [[MinShared]] non-boilerplate winnowed
    * fingerprints — the verified `winnow_matches` query. Shape: equi-join
    * on fingerprint value after dropping stop-fingerprints (doc-freq >
    * [[MaxDocFreq]]), then a pair-count aggregate; overlap_est scores the
    * match against the smaller doc's fingerprint count (containment-style,
    * like [[Dedup]] span containment).
    */
  def matches(documents: DataFrame): DataFrame = {
    val fps = Scratch.track(fpTable(documents).persist())
    // EAGER materialization: keep/kept/per-doc branches all compile into
    // one job, and concurrent first scans of a cold cache each recompute
    // the fingerprint pipeline (measured 86 s vs ~40 s at 320 k docs);
    // one bounded count populates the cache before the branches fan out
    fps.count()
    matchesFrom(fps)
  }

  /** Materialize the fingerprint value table to parquet — the MOSS
    * fingerprint-database shape: extraction (shingle + hash + winnow)
    * is the ingest job's cost, and match queries only ever join the
    * stored (doc_id, fp) pairs. 8-byte rows at ~2/(w+1) of gram volume.
    */
  def writeFingerprintIndex(documents: DataFrame, path: String): Unit =
    fpTable(documents).write.mode("overwrite").parquet(path)

  /** [[matches]] served from the persisted fingerprint index —
    * identical rows (shares the oracle); per-query cost is the match
    * join alone, never the extraction pipeline.
    */
  def matchesServed(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    matchesFrom(spark.read.parquet(path))

  private def matchesFrom(fps: DataFrame): DataFrame = {
    // (doc_id, fp) rows are distinct by construction (array_distinct
    // before the explode), so doc-frequency is a plain count — no
    // count-distinct Expand pass
    val keep = fps.groupBy("fp")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= MaxDocFreq)
    val kept = fps.join(keep, "fp")
    val perDoc = kept.groupBy("doc_id")
      .agg(count(lit(1)).as("n_fp"))
    kept.as("a").join(kept.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= MinShared)
      .join(perDoc.as("pa"), col("doc_a") === col("pa.doc_id"))
      .join(perDoc.as("pb"), col("doc_b") === col("pb.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        round(col("n_shared").cast("double")
          / least(col("pa.n_fp"), col("pb.n_fp")), 6).as("overlap_est"))
  }

  def matchesSql: String =
    s"""WITH sel AS (
       |  SELECT doc_id, ${selectionsSql("hs")} AS sel
       |  FROM (
       |    SELECT doc_id,
       |      [${h32Sql("s")} for s in
       |        ${shinglesSql("string_split(text, ' ')")}] AS hs
       |    FROM documents)),
       |fps AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, fp
       |  FROM (SELECT doc_id, unnest([e % $PosShift for e in sel]) AS fp
       |        FROM sel)),
       |keep AS (
       |  SELECT fp FROM fps GROUP BY fp
       |  HAVING count(DISTINCT doc_id) <= $MaxDocFreq),
       |kept AS MATERIALIZED (SELECT fps.* FROM fps JOIN keep USING (fp)),
       |per_doc AS (
       |  SELECT doc_id, count(*) AS n_fp FROM kept GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(count(*) AS BIGINT) AS n_shared
       |  FROM kept a JOIN kept b
       |    ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |  HAVING count(*) >= $MinShared)
       |SELECT doc_a, doc_b, n_shared,
       |  round(CAST(n_shared AS DOUBLE) / least(pa.n_fp, pb.n_fp), 6)
       |    AS overlap_est
       |FROM pairs
       |JOIN per_doc pa ON pa.doc_id = doc_a
       |JOIN per_doc pb ON pb.doc_id = doc_b""".stripMargin
}
