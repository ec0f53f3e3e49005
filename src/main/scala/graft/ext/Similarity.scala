package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Hashing._
import Dedup.{dot, norm}

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (`Array[Float]` column): brute-force cosine top-k as the exact
  * baseline, and a random-hyperplane-LSH bucketed variant as the scale
  * path. Extends the reference per BASELINE.json's north-star.
  *
  * Scale design: the query set is small and broadcast, so the baseline is
  * a broadcast nested-loop with map-side scoring + per-query top-k — no
  * shuffle of the corpus. The LSH variant hashes the corpus to sign
  * buckets map-side (deterministic hyperplanes derived from md5, so the
  * DuckDB oracle computes identical buckets) and only scores within the
  * query's bucket: at 100 TB the bucket join replaces the full scan per
  * query, the classic IVF/LSH trade. Cosine math is zip_with/aggregate
  * array expressions — native Catalyst, no UDF.
  */
object Similarity {

  /** Queries = this many lowest vec_ids; small fixed probe set. */
  val NumQueries = 10

  /** Neighbors returned per query. */
  val TopK = 5

  /** Number of LSH hyperplanes (bucket bits) at fixture scale. */
  val NumPlanes = 8

  /** Plane count as a function of corpus size: 2^planes sign buckets
    * sized to ~`targetBucketSize` vectors each, so per-bucket candidate
    * scoring stays constant as the corpus grows (the verified fixture
    * queries keep the [[NumPlanes]] floor; at 100 TB a 1B-vector corpus
    * gets 24 planes → ~60-vector buckets). Capped at 30 bits.
    *
    * Measured caveat (ScaleProbe ann mode, SCALING.md): on CLUSTERED
    * corpora — the realistic embedding distribution — occupancy is far
    * below 2^planes and raising the plane count LOWERS single-probe
    * recall (neighbors split across adjacent sign buckets) faster than
    * it lowers work. Treat this bound as a ceiling and pair it with
    * [[topKLshMultiProbe]], whose Hamming-1 probing recovers the split
    * neighbors (measured 0.98 recall@5 where single-probe drops to
    * 0.72 at the same plane count).
    */
  def numPlanesFor(corpusSize: Long, targetBucketSize: Long = 64L): Int = {
    val needed = math.ceil(
      math.log(math.max(1.0, corpusSize.toDouble / targetBucketSize))
        / math.log(2.0)).toInt
    math.min(30, math.max(NumPlanes, needed))
  }

  /** IVF cell count as a function of corpus size: the textbook
    * nlist ≈ √N (balances per-query centroid scan vs candidate scan).
    * Uncapped: [[topKIvfHier]]'s coarse-then-fine assignment is
    * O(N·2√nlist) distance evaluations, so √N cell growth stays
    * compute-feasible (the FLAT [[topKIvf]] assignment is O(N·nlist) —
    * measured 1.28 M × 1 132 cells ≈ 1.4 G distances ≈ 150 s on
    * local[32], SCALING.md — and keeps its own 256-cell ceiling in
    * ScaleProbe). Pair with [[ivfProbesFor]]: nProbe must grow with
    * nlist to hold recall (measured: recall@5 fell 1.0 → 0.38 when
    * cells grew 16 → 1 132 at fixed nProbe=2).
    */
  def ivfCellsFor(corpusSize: Long): Int =
    math.max(IvfCells, math.ceil(math.sqrt(corpusSize.toDouble)).toInt)

  /** Coarse-level cell count for [[topKIvfHier]]: √nlist minimizes the
    * per-vector assignment work C + nlist/C.
    */
  def ivfCoarseFor(cells: Int): Int =
    math.max(2, math.ceil(math.sqrt(cells.toDouble)).toInt)

  /** Probe count scaled with the cell count: nProbe ≈ √nlist keeps the
    * probed corpus fraction ≈ nProbe/nlist ≈ nlist^(-1/2) shrinking as
    * the index grows while the probed-cell population (≈ nProbe·N/nlist
    * = N/√nlist... per-query work) stays sub-linear. Holding nProbe
    * CONSTANT as nlist grows is the measured recall cliff (1.0 → 0.38,
    * see [[ivfCellsFor]]).
    */
  def ivfProbesFor(cells: Int): Int =
    math.max(IvfProbes, math.ceil(math.sqrt(cells.toDouble)).toInt)

  /** Squared L2 distance from `v` (norm `nv`) to `cv` (squared norm
    * `cn2`) via dot products, in the op order of the oracle SQL's
    * [[d2Sql]].
    */
  private def dist2(v: Column, nv: Column, cv: Column, cn2: Column): Column =
    nv * nv - lit(2.0) * dot(v, cv) + cn2

  private def withNorm(embeddings: DataFrame): DataFrame = {
    embeddings
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", norm(col("v")))
  }

  // ---- brute-force top-k --------------------------------------------------

  /** Exact cosine top-k for each query vector. The corpus side never
    * shuffles: queries are broadcast, scoring is map-side, and only the
    * (n_queries × k)-bounded ranked rows move.
    */
  def topKBruteForce(embeddings: DataFrame): DataFrame = {
    val e = withNorm(embeddings)
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("label"),
        round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6)
          .as("cosine"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("q_id"), col("rank"), col("vec_id"), col("label"),
        col("cosine"))
  }

  def topKBruteForceSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, CAST(label AS BIGINT) AS label, embedding,
       |    sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
       |                   for x in embedding])) AS nrm
       |  FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS q_id, e.vec_id, e.label,
       |    round(list_sum([CAST(q.embedding[i] AS DOUBLE)
       |                    * CAST(e.embedding[i] AS DOUBLE)
       |                    for i in range(1, len(q.embedding) + 1)])
       |      / (q.nrm * e.nrm), 6) + 0 AS cosine
       |  FROM e q JOIN e ON e.vec_id != q.vec_id
       |  WHERE q.vec_id < $NumQueries)
       |SELECT q_id, rank, vec_id, label, cosine FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY cosine DESC, vec_id) AS rank
       |  FROM scored)
       |WHERE rank <= $TopK
       |ORDER BY q_id, rank""".stripMargin

  // ---- contrastive hard-negative mining -----------------------------------

  /** Cosine band for a "hard" negative: similar enough to be
    * informative for contrastive training, dissimilar enough (and
    * cross-label) to be a presumed true negative. Candidates at or
    * above the high edge are near-duplicate/positive territory
    * (Dedup.EmbDupCos region); below the low edge they are easy
    * negatives the loss learns nothing from.
    */
  val NegBandLo = 0.35
  val NegBandHi = 0.75

  /** Negatives mined per anchor. */
  val NegPerAnchor = 5

  /** Contrastive hard-negative mining: for each anchor vector, the
    * top-N cross-label candidates inside the hard cosine band —
    * the curation step that builds triplet/contrastive training sets
    * for embedding models (the mining recipe popularized by the
    * sentence-embedding and dense-retrieval lines of work).
    *
    * Plan shape = [[topKBruteForce]]: the bounded anchor set
    * broadcasts, scoring is map-side over one corpus scan, and only
    * band-surviving rows (≤ corpus, typically a thin slice) enter the
    * per-anchor top-N window. Mining for EVERY doc at 100 TB composes
    * the served ANN index instead: `topKIvfServedFor` with k ≫ N, then
    * this same band filter + rank — ANN recall in the band's upper
    * region is what matters, and the drift monitor guards the index.
    */
  def hardNegatives(embeddings: DataFrame): DataFrame = {
    val e = withNorm(embeddings)
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("v").as("qv"), col("nrm").as("qn"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .filter(col("label") =!= col("q_label"))
      .select(col("q_id"), col("vec_id"), col("label"),
        round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6)
          .as("cosine"))
      .filter(col("cosine") >= NegBandLo && col("cosine") < NegBandHi)
    val w = Window.partitionBy("q_id")
      .orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= NegPerAnchor)
      .select(col("q_id"), col("rank"), col("vec_id"), col("label"),
        col("cosine"))
  }

  def hardNegativesSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, CAST(label AS BIGINT) AS label, embedding,
       |    sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
       |                   for x in embedding])) AS nrm
       |  FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS q_id, e.vec_id, e.label,
       |    round(list_sum([CAST(q.embedding[i] AS DOUBLE)
       |                    * CAST(e.embedding[i] AS DOUBLE)
       |                    for i in range(1, len(q.embedding) + 1)])
       |      / (q.nrm * e.nrm), 6) + 0 AS cosine
       |  FROM e q JOIN e ON e.vec_id != q.vec_id
       |    AND e.label != q.label
       |  WHERE q.vec_id < $NumQueries)
       |SELECT q_id, rank, vec_id, label, cosine FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY cosine DESC, vec_id) AS rank
       |  FROM scored
       |  WHERE cosine >= $NegBandLo AND cosine < $NegBandHi)
       |WHERE rank <= $NegPerAnchor
       |ORDER BY q_id, rank""".stripMargin

  /** The 100 TB form of [[hardNegatives]]: candidates come from the
    * persisted IVF index (partition-pruned probed-cell read — the
    * corpus is never brute-forced), then the same band + cross-label
    * gates and per-anchor rank run over the candidate slice. Labels
    * attach only to band survivors (a bounded per-anchor set), so the
    * corpus-table join touches candidate rows, not the corpus. Recall
    * follows the served-ANN curve: mid-band candidates in unprobed
    * cells are missed, the standard mine-from-ANN trade (raise nProbe
    * to widen).
    */
  def hardNegativesServed(spark: org.apache.spark.sql.SparkSession,
      path: String, embeddings: DataFrame,
      nProbe: Int = ivfProbesFor(IvfCells)): DataFrame = {
    val root = Versioned.resolve(spark, path) // one snapshot per query
    val fineCells = spark.read.parquet(s"$root/centroids")
    val data = readIndexData(spark, root)
    // Anchor vectors come from the CORPUS table, not the index: the
    // index is cell-partitioned, so a by-id lookup there is a full
    // index scan, while the corpus scan pushes vec_id < N down to
    // parquet row-group pruning. withNorm here is the exact expression
    // the index writer stored, so v/nrm are bit-identical. Eagerly
    // materialized (bounded rows) so the lookup runs once, not once
    // per downstream action (probes collect + broadcast + final job).
    val q = graft.ext.Scratch.track(
      withNorm(embeddings).filter(col("vec_id") < NumQueries)
      .select(col("vec_id"), col("label"), col("v"), col("nrm"))
      .localCheckpoint())
    val probes = rankProbes(q, fineCells, nProbe, IvfCoarseProbes)
    val probed = probes.select("p_cell").distinct()
      .collect().map(_.getLong(0)).toIndexedSeq
    val qLabels = broadcast(q
      .select(col("vec_id").as("q_id"), col("label").as("q_label")))
    // candidate labels come from the INDEX (metadata stored with the
    // vectors), so no corpus-sized label join exists anywhere here
    val cands = data.filter(col("cell").isin(probed: _*))
      .join(broadcast(probes),
        col("cell") === col("p_cell") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("label"),
        round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6)
          .as("cosine"))
      .filter(col("cosine") >= NegBandLo && col("cosine") < NegBandHi)
      .join(qLabels, Seq("q_id"))
      .filter(col("label") =!= col("q_label"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("cosine").desc, col("vec_id"))
    cands.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= NegPerAnchor)
      .select(col("q_id"), col("rank"), col("vec_id"), col("label"),
        col("cosine"))
      .orderBy("q_id", "rank")
  }

  /** DuckDB mirror of [[hardNegativesServed]]: replays the hierarchical
    * IVF build + probe CTE chain (the [[topKIvfHierSql]] machinery),
    * then applies the identical band/label gates.
    */
  def hardNegativesServedSql: String = {
    val nProbe = ivfProbesFor(IvfCells)
    s"""WITH $hierBuildCtesSql,
       |qcoarse AS (
       |  SELECT vec_id, embedding, nrm, ccell FROM cranked
       |  WHERE vec_id < $NumQueries AND rn <= $IvfCoarseProbes),
       |qranked AS (
       |  SELECT qc.vec_id, qc.embedding, qc.nrm, f.cell,
       |    row_number() OVER (PARTITION BY qc.vec_id ORDER BY
       |      ${d2Sql("qc.embedding", "qc.nrm * qc.nrm", "f.fv", "f.fn2")},
       |      f.cell) AS rn
       |  FROM qcoarse qc JOIN fcells f ON qc.ccell = f.ccell),
       |probes AS (
       |  SELECT vec_id AS q_id, embedding AS qv, nrm AS qn, cell
       |  FROM qranked WHERE rn <= $nProbe),
       |scored AS (
       |  SELECT p.q_id, a.vec_id,
       |    round(list_sum([CAST(p.qv[i] AS DOUBLE)
       |                    * CAST(a.embedding[i] AS DOUBLE)
       |                    for i in range(1, len(p.qv) + 1)])
       |      / (p.qn * a.nrm), 6) + 0 AS cosine
       |  FROM assign a JOIN probes p
       |    ON a.cell = p.cell AND a.vec_id != p.q_id),
       |banded AS (
       |  SELECT s.q_id, s.vec_id, s.cosine,
       |    CAST(e.label AS BIGINT) AS label
       |  FROM scored s
       |  JOIN embeddings e ON s.vec_id = e.vec_id
       |  JOIN embeddings qe ON s.q_id = qe.vec_id
       |  WHERE s.cosine >= $NegBandLo AND s.cosine < $NegBandHi
       |    AND e.label != qe.label)
       |SELECT q_id, rank, vec_id, label, cosine FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY cosine DESC, vec_id) AS rank
       |  FROM banded)
       |WHERE rank <= $NegPerAnchor
       |ORDER BY q_id, rank""".stripMargin
  }

  // ---- kNN label-agreement (label-noise detection) ------------------------

  /** An anchor whose k nearest neighbors agree with its label below
    * this ppm fraction is flagged as a suspected label error — the
    * neighborhood-consensus heuristic at the core of the
    * confident-learning / deep-kNN label-auditing family.
    */
  val LabelAgreeMinPpm = 400000L

  /** kNN label-agreement audit: for each anchor, the fraction of its
    * k=[[TopK]] cosine neighbors sharing its label, and the suspect
    * flag when consensus falls below [[LabelAgreeMinPpm]]. Plan shape =
    * [[topKBruteForce]] (bounded anchors broadcast, map-side scoring,
    * per-anchor top-k window) + an O(anchors) consensus roll-up;
    * ratios are exact-integer ppm. Auditing EVERY label at 100 TB
    * rides the served ANN index (`topKIvfServedFor`) exactly like
    * [[hardNegatives]].
    */
  def labelNoiseKnn(embeddings: DataFrame): DataFrame = {
    val e = withNorm(embeddings)
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("v").as("qv"), col("nrm").as("qn"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("q_label"), col("vec_id"), col("label"),
        round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6)
          .as("cosine"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .groupBy(col("q_id"), col("q_label").as("label"))
      .agg(count(lit(1)).as("k"),
        sum(when(col("label") === col("q_label"), 1L).otherwise(0L))
          .as("n_agree"))
      .withColumn("agree_ppm", expr("n_agree * 1000000 div k"))
      .withColumn("suspect", col("agree_ppm") < LabelAgreeMinPpm)
      .orderBy("q_id")
  }

  def labelNoiseKnnSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, CAST(label AS BIGINT) AS label, embedding,
       |    sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
       |                   for x in embedding])) AS nrm
       |  FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS q_id, q.label AS q_label,
       |    e.vec_id, e.label,
       |    round(list_sum([CAST(q.embedding[i] AS DOUBLE)
       |                    * CAST(e.embedding[i] AS DOUBLE)
       |                    for i in range(1, len(q.embedding) + 1)])
       |      / (q.nrm * e.nrm), 6) + 0 AS cosine
       |  FROM e q JOIN e ON e.vec_id != q.vec_id
       |  WHERE q.vec_id < $NumQueries),
       |topk AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |      ORDER BY cosine DESC, vec_id) AS rank
       |    FROM scored)
       |  WHERE rank <= $TopK)
       |SELECT q_id, q_label AS label, count(*) AS k,
       |  CAST(sum(CASE WHEN label = q_label THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_agree,
       |  CAST(sum(CASE WHEN label = q_label THEN 1 ELSE 0 END)
       |    AS BIGINT) * 1000000 // count(*) AS agree_ppm,
       |  CAST(sum(CASE WHEN label = q_label THEN 1 ELSE 0 END)
       |    AS BIGINT) * 1000000 // count(*) < $LabelAgreeMinPpm
       |    AS suspect
       |FROM topk GROUP BY q_id, q_label ORDER BY q_id""".stripMargin

  /** The 100 TB form of [[labelNoiseKnn]]: neighbor candidates come from
    * the persisted IVF index exactly as in [[hardNegativesServed]]
    * (partition-pruned probed-cell read — the corpus is never
    * brute-forced per anchor), then the identical consensus/suspect
    * gates run over each anchor's served top-k. Labels attach AFTER the
    * per-anchor rank (≤ k rows per anchor), so the label-table join is
    * bounded by anchors × k, not candidates. Audit semantics under ANN:
    * `k` is the served neighborhood size (≤ exact k when probing missed
    * cells) and consensus is measured over the neighbors the index
    * would actually serve — the quantity a production audit monitors.
    */
  def labelNoiseKnnServed(spark: org.apache.spark.sql.SparkSession,
      path: String, embeddings: DataFrame,
      nProbe: Int = ivfProbesFor(IvfCells)): DataFrame = {
    val root = Versioned.resolve(spark, path) // one snapshot per query
    val fineCells = spark.read.parquet(s"$root/centroids")
    val data = readIndexData(spark, root)
    // corpus-side anchor lookup + eager materialization — see
    // [[hardNegativesServed]]; candidate labels come from the index
    val q = graft.ext.Scratch.track(
      withNorm(embeddings).filter(col("vec_id") < NumQueries)
      .select(col("vec_id"), col("label"), col("v"), col("nrm"))
      .localCheckpoint())
    val probes = rankProbes(q, fineCells, nProbe, IvfCoarseProbes)
    val probed = probes.select("p_cell").distinct()
      .collect().map(_.getLong(0)).toIndexedSeq
    val qLabels = broadcast(q
      .select(col("vec_id").as("q_id"), col("label").as("q_label")))
    val w = Window.partitionBy("q_id")
      .orderBy(col("cosine").desc, col("vec_id"))
    data.filter(col("cell").isin(probed: _*))
      .join(broadcast(probes),
        col("cell") === col("p_cell") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("label"),
        round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6)
          .as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .join(qLabels, Seq("q_id"))
      .groupBy(col("q_id"), col("q_label").as("label"))
      .agg(count(lit(1)).as("k"),
        sum(when(col("label") === col("q_label"), 1L).otherwise(0L))
          .as("n_agree"))
      .withColumn("agree_ppm", expr("n_agree * 1000000 div k"))
      .withColumn("suspect", col("agree_ppm") < LabelAgreeMinPpm)
      .orderBy("q_id")
  }

  /** DuckDB mirror of [[labelNoiseKnnServed]]: replays the hierarchical
    * IVF build + probe CTE chain (the [[topKIvfHierSql]] machinery),
    * then the identical top-k, label attach, and consensus gates.
    */
  def labelNoiseKnnServedSql: String = {
    val nProbe = ivfProbesFor(IvfCells)
    s"""WITH $hierBuildCtesSql,
       |qcoarse AS (
       |  SELECT vec_id, embedding, nrm, ccell FROM cranked
       |  WHERE vec_id < $NumQueries AND rn <= $IvfCoarseProbes),
       |qranked AS (
       |  SELECT qc.vec_id, qc.embedding, qc.nrm, f.cell,
       |    row_number() OVER (PARTITION BY qc.vec_id ORDER BY
       |      ${d2Sql("qc.embedding", "qc.nrm * qc.nrm", "f.fv", "f.fn2")},
       |      f.cell) AS rn
       |  FROM qcoarse qc JOIN fcells f ON qc.ccell = f.ccell),
       |probes AS (
       |  SELECT vec_id AS q_id, embedding AS qv, nrm AS qn, cell
       |  FROM qranked WHERE rn <= $nProbe),
       |scored AS (
       |  SELECT p.q_id, a.vec_id,
       |    round(list_sum([CAST(p.qv[i] AS DOUBLE)
       |                    * CAST(a.embedding[i] AS DOUBLE)
       |                    for i in range(1, len(p.qv) + 1)])
       |      / (p.qn * a.nrm), 6) + 0 AS cosine
       |  FROM assign a JOIN probes p
       |    ON a.cell = p.cell AND a.vec_id != p.q_id),
       |topk AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |      ORDER BY cosine DESC, vec_id) AS rank
       |    FROM scored)
       |  WHERE rank <= $TopK),
       |lab AS (
       |  SELECT t.q_id, CAST(qe.label AS BIGINT) AS q_label,
       |    CAST(ne.label AS BIGINT) AS label
       |  FROM topk t
       |  JOIN embeddings ne ON t.vec_id = ne.vec_id
       |  JOIN embeddings qe ON t.q_id = qe.vec_id)
       |SELECT q_id, q_label AS label, count(*) AS k,
       |  CAST(sum(CASE WHEN label = q_label THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_agree,
       |  CAST(sum(CASE WHEN label = q_label THEN 1 ELSE 0 END)
       |    AS BIGINT) * 1000000 // count(*) AS agree_ppm,
       |  CAST(sum(CASE WHEN label = q_label THEN 1 ELSE 0 END)
       |    AS BIGINT) * 1000000 // count(*) < $LabelAgreeMinPpm
       |    AS suspect
       |FROM lab GROUP BY q_id, q_label ORDER BY q_id""".stripMargin
  }

  /** Filtered vector search — ANN top-k under a metadata predicate
    * (here: same label as the anchor, the "search within a category"
    * shape every production vector store exposes). The predicate
    * evaluates on the label STORED IN the index rows (metadata travels
    * with the vectors), so filtering costs zero joins against the
    * corpus: probed-cell read → predicate → per-anchor top-k. The
    * standard ANN-filtering caveat applies — the filter shrinks each
    * probed cell's candidate pool, so selective predicates want a
    * higher nProbe (same knob as recall).
    */
  def topKIvfFiltered(spark: org.apache.spark.sql.SparkSession,
      path: String, embeddings: DataFrame,
      nProbe: Int = ivfProbesFor(IvfCells)): DataFrame = {
    val root = Versioned.resolve(spark, path) // one snapshot per query
    val fineCells = spark.read.parquet(s"$root/centroids")
    val data = readIndexData(spark, root)
    val q = graft.ext.Scratch.track(
      withNorm(embeddings).filter(col("vec_id") < NumQueries)
      .select(col("vec_id"), col("label"), col("v"), col("nrm"))
      .localCheckpoint())
    val probes = rankProbes(q, fineCells, nProbe, IvfCoarseProbes)
    val probed = probes.select("p_cell").distinct()
      .collect().map(_.getLong(0)).toIndexedSeq
    val qLabels = broadcast(q
      .select(col("vec_id").as("q_id"), col("label").as("q_label")))
    val w = Window.partitionBy("q_id")
      .orderBy(col("cosine").desc, col("vec_id"))
    data.filter(col("cell").isin(probed: _*))
      .join(broadcast(probes),
        col("cell") === col("p_cell") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("label"),
        round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6)
          .as("cosine"))
      .join(qLabels, Seq("q_id"))
      .filter(col("label") === col("q_label"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("q_id"), col("rank"), col("vec_id"), col("label"),
        col("cosine"))
      .orderBy("q_id", "rank")
  }

  /** DuckDB mirror of [[topKIvfFiltered]]: the hier-IVF CTE chain, the
    * label-equality gate, then the identical per-anchor rank.
    */
  def topKIvfFilteredSql: String = {
    val nProbe = ivfProbesFor(IvfCells)
    s"""WITH $hierBuildCtesSql,
       |qcoarse AS (
       |  SELECT vec_id, embedding, nrm, ccell FROM cranked
       |  WHERE vec_id < $NumQueries AND rn <= $IvfCoarseProbes),
       |qranked AS (
       |  SELECT qc.vec_id, qc.embedding, qc.nrm, f.cell,
       |    row_number() OVER (PARTITION BY qc.vec_id ORDER BY
       |      ${d2Sql("qc.embedding", "qc.nrm * qc.nrm", "f.fv", "f.fn2")},
       |      f.cell) AS rn
       |  FROM qcoarse qc JOIN fcells f ON qc.ccell = f.ccell),
       |probes AS (
       |  SELECT vec_id AS q_id, embedding AS qv, nrm AS qn, cell
       |  FROM qranked WHERE rn <= $nProbe),
       |scored AS (
       |  SELECT p.q_id, a.vec_id,
       |    round(list_sum([CAST(p.qv[i] AS DOUBLE)
       |                    * CAST(a.embedding[i] AS DOUBLE)
       |                    for i in range(1, len(p.qv) + 1)])
       |      / (p.qn * a.nrm), 6) + 0 AS cosine
       |  FROM assign a JOIN probes p
       |    ON a.cell = p.cell AND a.vec_id != p.q_id),
       |lab AS (
       |  SELECT s.q_id, s.vec_id, s.cosine,
       |    CAST(ne.label AS BIGINT) AS label
       |  FROM scored s
       |  JOIN embeddings ne ON s.vec_id = ne.vec_id
       |  JOIN embeddings qe ON s.q_id = qe.vec_id
       |  WHERE ne.label = qe.label)
       |SELECT q_id, rank, vec_id, label, cosine FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY cosine DESC, vec_id) AS rank
       |  FROM lab)
       |WHERE rank <= $TopK
       |ORDER BY q_id, rank""".stripMargin
  }

  // ---- random-hyperplane LSH ----------------------------------------------

  /** Embedding dimensionality of the fixture corpus. */
  val Dim = 64

  /** Deterministic hyperplane components, uniform in [-1, 1), derived
    * from md5 ONCE on the driver ([[Hashing.jvmH32]]) and embedded as
    * literals in both the Spark plan and the oracle SQL — per-row hash
    * work would be pure waste for constants. The integer is embedded (not
    * a decimal string) so both engines perform the identical IEEE
    * division.
    */
  def planeInt(h: Int, d: Int): Long = jvmH32(s"hp:$h:$d")

  private def planeLit(h: Int): Column =
    array((0 until Dim).map(d =>
      lit(planeInt(h, d) / 2147483648.0 - 1.0)): _*)

  /** Sign-bucket id: bit h set iff dot(v, plane_h) > 0; map-side. */
  def bucketExpr(v: Column, planes: Int = NumPlanes): Column =
    (0 until planes).map { h =>
      when(dot(v, planeLit(h)) > 0, 1L << h).otherwise(0L)
    }.reduce(_ + _)

  /** LSH-bucketed ANN: score only candidates in the query's bucket.
    * Returns per-query bucket size (`n_candidates`) alongside the top-k,
    * making recall-vs-work visible. Queries with an otherwise-empty
    * bucket return no rows (standard single-probe LSH semantics).
    */
  def topKLsh(embeddings: DataFrame,
      planes: Int = NumPlanes): DataFrame = {
    val e = withNorm(embeddings)
      .withColumn("bucket", bucketExpr(col("v"), planes))
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("bucket").as("q_bucket"))
    val scored = e.join(broadcast(q),
        col("bucket") === col("q_bucket") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6)
          .as("cosine"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("cosine").desc, col("vec_id"))
    scored
      .withColumn("n_candidates", count(lit(1)).over(Window.partitionBy("q_id")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("q_id"), col("rank"), col("vec_id"), col("cosine"),
        col("n_candidates"))
  }

  /** Multi-probe LSH: score the query's own sign bucket plus every
    * bucket at Hamming distance 1 (one hyperplane flipped) — the
    * standard recall/work knob for sign-LSH: near neighbors that fall
    * just across one hyperplane are recovered without rebuilding the
    * index or adding tables. Probe buckets of one query are pairwise
    * distinct, so no candidate dedup is needed; `n_candidates` counts
    * the union of all probed buckets, keeping recall-vs-work visible
    * next to the single-probe [[topKLsh]].
    */
  def topKLshMultiProbe(embeddings: DataFrame,
      planes: Int = NumPlanes): DataFrame = {
    val e = withNorm(embeddings)
      .withColumn("bucket", bucketExpr(col("v"), planes))
    val probeBuckets = col("bucket") +: (0 until planes)
      .map(h => col("bucket").bitwiseXOR(lit(1L << h)))
    val probes = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"),
        explode(array(probeBuckets: _*)).as("p_bucket"))
    val scored = e.join(broadcast(probes),
        col("bucket") === col("p_bucket") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6)
          .as("cosine"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("cosine").desc, col("vec_id"))
    scored
      .withColumn("n_candidates",
        count(lit(1)).over(Window.partitionBy("q_id")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("q_id"), col("rank"), col("vec_id"), col("cosine"),
        col("n_candidates"))
  }

  def topKLshMultiProbeSql: String = {
    val flips = (0 until NumPlanes).map(h => s"xor(bucket, ${1L << h})")
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
       |                   for x in embedding])) AS nrm,
       |    ${bucketSql()} AS bucket
       |  FROM embeddings),
       |probes AS (
       |  SELECT vec_id AS q_id, embedding AS qv, nrm AS qn,
       |    unnest([bucket, ${flips.mkString(", ")}]) AS p_bucket
       |  FROM e WHERE vec_id < $NumQueries),
       |scored AS (
       |  SELECT p.q_id, e.vec_id,
       |    round(list_sum([CAST(p.qv[i] AS DOUBLE)
       |                    * CAST(e.embedding[i] AS DOUBLE)
       |                    for i in range(1, len(p.qv) + 1)])
       |      / (p.qn * e.nrm), 6) + 0 AS cosine
       |  FROM e JOIN probes p
       |    ON e.bucket = p.p_bucket AND e.vec_id != p.q_id)
       |SELECT q_id, rank, vec_id, cosine, n_candidates FROM (
       |  SELECT *,
       |    count(*) OVER (PARTITION BY q_id) AS n_candidates,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY cosine DESC, vec_id) AS rank
       |  FROM scored)
       |WHERE rank <= $TopK
       |ORDER BY q_id, rank""".stripMargin
  }

  /** IVF parameters: number of coarse cells and probed cells per query. */
  val IvfCells = 16
  val IvfProbes = 2

  /** IVF-style ANN: seed [[IvfCells]] coarse centroids (lowest vec_ids),
    * run ONE deterministic k-means refinement pass (assign to seeds →
    * per-cell element-wise mean), re-assign every vector to its nearest
    * refined centroid, then search only the [[IvfProbes]] cells nearest
    * each query. The inverted file (cell → vectors) is exactly a
    * hash-partitioned table at scale: probing is a partition-pruned
    * join, and recall/work is tuned by nProbe — the standard IVF trade.
    *
    * Cross-engine determinism of the refinement: a naive element-wise
    * `avg` sums doubles in nondeterministic partial-aggregation order,
    * so near-tie assignments could flip between engines (or runs).
    * Instead each component is quantized to an exact integer
    * (`floor(x·10⁶)` as BIGINT), summed exactly (order-independent),
    * and the mean is IEEE divisions of exact integers — bit-identical
    * in Spark and DuckDB. The ~1e-6 quantization of the *reference
    * points* does not approximate the reported cosines (those use the
    * raw vectors).
    */
  def topKIvf(embeddings: DataFrame, cells: Int = IvfCells,
      nProbe: Int = IvfProbes): DataFrame = {
    val e = withNorm(embeddings)
    val cents0 = e.filter(col("vec_id") < cells)
      .select(col("vec_id").as("cell"), col("v").as("cv"),
        (col("nrm") * col("nrm")).as("cn2"))
    def score(side: DataFrame, cents: DataFrame): DataFrame = side
      .join(broadcast(cents), lit(true))
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"),
        dist2(col("v"), col("nrm"), col("cv"), col("cn2")).as("d2"))
    // nearest cell per vector as an ARGMIN AGGREGATE, not a window:
    // partial aggregation collapses the |cells| scored rows to one per
    // vector map-side, so the shuffle carries 1/|cells| the rows and
    // sorts nothing. (d2, cell) is unique, so min_by ≡ the oracle's
    // row_number()=1 under ORDER BY (d2, cell).
    def nearestCell(cents: DataFrame): DataFrame =
      score(e, cents).groupBy("vec_id")
        .agg(first(col("v")).as("v"), first(col("nrm")).as("nrm"),
          min_by(col("cell"), struct(col("d2"), col("cell"))).as("cell"))
    // one k-means pass: exact fixed-point element-wise mean per cell.
    // `refined` is |cells| rows but costs a FULL corpus scoring pass to
    // derive, and it feeds two consumers (the re-assignment and the
    // query-probe ranking) — persist it so that pass runs once (the
    // ivfIndexParts discipline; same measured pattern as the hier
    // build's coarseRefined).
    val refined = Scratch.track(nearestCell(cents0)
      .select(col("cell"), posexplode(col("v")).as(Seq("i", "x")))
      .groupBy("cell", "i")
      .agg(sum(floor(col("x") * 1e6)).as("s"), count(lit(1)).as("cnt"))
      .groupBy("cell")
      .agg(transform(
        array_sort(collect_list(struct(col("i"),
          (col("s").cast("double") / col("cnt") / 1e6).as("m")))),
        s => s.getField("m")).as("cv"))
      .withColumn("cn2", dot(col("cv"), col("cv")))
      .persist())
    val assign = nearestCell(refined)
    // probe ranking needs the nProbe-nearest cells only for the QUERY
    // vectors — filter to them before the (tiny) window
    val probes = score(e.filter(col("vec_id") < NumQueries), refined)
      .withColumn("rn", row_number().over(Window.partitionBy("vec_id")
        .orderBy(col("d2"), col("cell"))))
      .filter(col("rn") <= nProbe)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("cell").as("p_cell")) // aliased pre-join
    val scored = assign.join(broadcast(probes),
        col("cell") === col("p_cell") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("cell"),
        round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6)
          .as("cosine"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("q_id"), col("rank"), col("vec_id"), col("cell"),
        col("cosine"))
  }

  def topKIvfSql: String = {
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
       |                   for x in embedding])) AS nrm
       |  FROM embeddings),
       |cents0 AS (
       |  SELECT vec_id AS cell, embedding AS cv, nrm * nrm AS cn2 FROM e
       |  WHERE vec_id < $IvfCells),
       |ranked0 AS (
       |  SELECT e.vec_id, e.embedding, cents0.cell,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |      ${d2Sql("e.embedding", "e.nrm * e.nrm", "cv", "cn2")},
       |      cents0.cell) AS rn
       |  FROM e CROSS JOIN cents0),
       |refined0 AS (
       |  SELECT cell, i,
       |    CAST(sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0)
       |                  AS BIGINT)) AS BIGINT) AS s,
       |    count(*) AS cnt
       |  FROM (SELECT vec_id, embedding, cell FROM ranked0 WHERE rn = 1),
       |    unnest(range(1, len(embedding) + 1)) AS u(i)
       |  GROUP BY cell, i),
       |refined1 AS (
       |  SELECT cell,
       |    list(CAST(s AS DOUBLE) / cnt / 1000000.0 ORDER BY i) AS cv
       |  FROM refined0 GROUP BY cell),
       |refined AS (
       |  SELECT cell, cv,
       |    list_sum([x * x for x in cv]) AS cn2
       |  FROM refined1),
       |ranked AS (
       |  SELECT e.vec_id, e.embedding, e.nrm, refined.cell,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |      ${d2Sql("e.embedding", "e.nrm * e.nrm", "cv", "cn2")},
       |      refined.cell) AS rn
       |  FROM e CROSS JOIN refined),
       |assign AS (
       |  SELECT vec_id, embedding, nrm, cell FROM ranked WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS q_id, embedding AS qv, nrm AS qn, cell
       |  FROM ranked WHERE rn <= $IvfProbes AND vec_id < $NumQueries),
       |scored AS (
       |  SELECT p.q_id, a.vec_id, a.cell,
       |    round(list_sum([CAST(p.qv[i] AS DOUBLE)
       |                    * CAST(a.embedding[i] AS DOUBLE)
       |                    for i in range(1, len(p.qv) + 1)])
       |      / (p.qn * a.nrm), 6) + 0 AS cosine
       |  FROM assign a JOIN probes p
       |    ON a.cell = p.cell AND a.vec_id != p.q_id)
       |SELECT q_id, rank, vec_id, cell, cosine FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY cosine DESC, vec_id) AS rank
       |  FROM scored)
       |WHERE rank <= $TopK
       |ORDER BY q_id, rank""".stripMargin
  }

  /** Coarse probe width for [[topKIvfHier]] queries. */
  val IvfCoarseProbes = 2

  /** Hierarchical IVF: the scale path past [[topKIvf]]'s O(N·nlist)
    * assignment wall. Two-level structure:
    *
    *   1. COARSE level: [[ivfCoarseFor]] (≈√nlist) centroids seeded from
    *      the lowest vec_ids, refined with ONE exact fixed-point k-means
    *      pass (identical determinism discipline to [[topKIvf]]), then
    *      every vector assigned to its nearest coarse cell — O(N·√nlist).
    *   2. FINE level: the `cells` lowest vec_ids become raw sub-centroids
    *      OWNED by their coarse cell, plus each refined coarse mean as a
    *      fallback sub-centroid (cell id −(ccell+1)) so a coarse cell
    *      with no seed still covers its vectors. Each vector is assigned
    *      to the nearest fine cell WITHIN its coarse cell — expected
    *      O(N·nlist/√nlist) = O(N·√nlist).
    *
    * Total assignment is O(N·2√nlist) distance evaluations vs the flat
    * O(N·nlist): at nlist = 2 263 (N = 5.12 M) that is 23 G → 0.5 G.
    * The approximation vs flat IVF: a vector near a coarse boundary may
    * land in a fine cell of the "wrong" coarse side; queries compensate
    * by probing [[IvfCoarseProbes]] coarse cells and ranking the nProbe
    * nearest fine cells across their union ([[ivfProbesFor]] scales
    * nProbe with nlist). Both centroid tables are broadcast; the corpus
    * never shuffles — probing stays a broadcast bucket join, exactly a
    * partition-pruned scan at 100 TB.
    */
  def topKIvfHier(embeddings: DataFrame, cells: Int = IvfCells,
      nProbe: Int = IvfProbes,
      probeCoarse: Int = IvfCoarseProbes): DataFrame = {
    val parts = ivfIndexParts(embeddings, cells)
    val probes = rankProbes(
      withNorm(embeddings).filter(col("vec_id") < NumQueries)
        .select(col("vec_id"), col("v"), col("nrm")),
      parts("fineCells"), nProbe, probeCoarse)
    serveFromAssign(parts("assign"), probes)
  }

  /** Rank each query's probe cells: probeCoarse nearest coarse cells
    * (their means ride along as the fallback `cell < 0` rows of the
    * fine-centroid table), then the nProbe nearest fine cells in their
    * union — two tiny windows over queries × centroids, broadcast-only.
    */
  private def rankProbes(q: DataFrame, fineCells: DataFrame,
      nProbe: Int, probeCoarse: Int): DataFrame = {
    val coarseCents = fineCells.filter(col("cell") < 0)
      .select(col("ccell"), col("fv").as("cv"), col("fn2").as("cn2"))
    val qCoarse = q.join(broadcast(coarseCents), lit(true))
      .select(col("vec_id"), col("v"), col("nrm"), col("ccell"),
        dist2(col("v"), col("nrm"), col("cv"), col("cn2")).as("d2"))
      .withColumn("rn", row_number().over(Window.partitionBy("vec_id")
        .orderBy(col("d2"), col("ccell"))))
      .filter(col("rn") <= probeCoarse)
      .select(col("vec_id"), col("v"), col("nrm"), col("ccell"))
    qCoarse.join(broadcast(fineCells), Seq("ccell"))
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"),
        dist2(col("v"), col("nrm"), col("fv"), col("fn2")).as("d2"))
      .withColumn("rn", row_number().over(Window.partitionBy("vec_id")
        .orderBy(col("d2"), col("cell"))))
      .filter(col("rn") <= nProbe)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("cell").as("p_cell"))
  }

  /** Score an assignment table against broadcast probes → per-query
    * top-k (shared by the in-flight and persisted-index paths).
    */
  private def serveFromAssign(assign: DataFrame,
      probes: DataFrame): DataFrame = {
    val scored = assign.join(broadcast(probes),
        col("cell") === col("p_cell") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("cell"),
        round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6)
          .as("cosine"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("q_id"), col("rank"), col("vec_id"), col("cell"),
        col("cosine"))
  }

  /** DuckDB squared-distance fragment shared by the IVF oracle SQL. */
  private def d2Sql(vecExpr: String, nrm2Expr: String, cvExpr: String,
      cn2Expr: String): String =
    s"""$nrm2Expr
       |        - 2.0 * list_sum([CAST($vecExpr[i] AS DOUBLE)
       |                          * CAST($cvExpr[i] AS DOUBLE)
       |                          for i in range(1, len($vecExpr) + 1)])
       |        + $cn2Expr""".stripMargin

  /** The hierarchical-build CTE chain (through `assign`, which carries
    * each vector's final fine-cell distance as `d2`) — shared by
    * [[topKIvfHierSql]] and [[ivfIndexDriftSql]].
    */
  private def hierBuildCtesSql: String = {
    val nCoarse = ivfCoarseFor(IvfCells)
    s"""e AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
       |                   for x in embedding])) AS nrm
       |  FROM embeddings),
       |coarse0 AS (
       |  SELECT vec_id AS ccell, embedding AS cv, nrm * nrm AS cn2 FROM e
       |  WHERE vec_id < $nCoarse),
       |cranked0 AS (
       |  SELECT e.vec_id, e.embedding, coarse0.ccell,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |      ${d2Sql("e.embedding", "e.nrm * e.nrm", "cv", "cn2")},
       |      coarse0.ccell) AS rn
       |  FROM e CROSS JOIN coarse0),
       |crefined0 AS (
       |  SELECT ccell, i,
       |    CAST(sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0)
       |                  AS BIGINT)) AS BIGINT) AS s,
       |    count(*) AS cnt
       |  FROM (SELECT vec_id, embedding, ccell FROM cranked0 WHERE rn = 1),
       |    unnest(range(1, len(embedding) + 1)) AS u(i)
       |  GROUP BY ccell, i),
       |crefined1 AS (
       |  SELECT ccell,
       |    list(CAST(s AS DOUBLE) / cnt / 1000000.0 ORDER BY i) AS cv
       |  FROM crefined0 GROUP BY ccell),
       |crefined AS (
       |  SELECT ccell, cv,
       |    list_sum([x * x for x in cv]) AS cn2
       |  FROM crefined1),
       |cranked AS (
       |  SELECT e.vec_id, e.embedding, e.nrm, crefined.ccell,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |      ${d2Sql("e.embedding", "e.nrm * e.nrm", "cv", "cn2")},
       |      crefined.ccell) AS rn
       |  FROM e CROSS JOIN crefined),
       |cassign AS (
       |  SELECT vec_id, embedding, nrm, ccell FROM cranked WHERE rn = 1),
       |fcells AS (
       |  SELECT ccell, vec_id AS cell, embedding AS fv, nrm * nrm AS fn2
       |  FROM cassign WHERE vec_id < $IvfCells
       |  UNION ALL
       |  SELECT ccell, -ccell - 1 AS cell, cv AS fv, cn2 AS fn2
       |  FROM crefined),
       |franked AS (
       |  SELECT a.vec_id, a.embedding, a.nrm, f.cell,
       |    ${d2Sql("a.embedding", "a.nrm * a.nrm", "f.fv", "f.fn2")} AS d2,
       |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |      ${d2Sql("a.embedding", "a.nrm * a.nrm", "f.fv", "f.fn2")},
       |      f.cell) AS rn
       |  FROM cassign a JOIN fcells f ON a.ccell = f.ccell),
       |assign AS (
       |  SELECT vec_id, embedding, nrm, cell, d2
       |  FROM franked WHERE rn = 1)""".stripMargin
  }

  /** DuckDB twin of [[topKIvfHier]] at the fixture parameters
    * (cells = [[IvfCells]], nProbe = ivfProbesFor(cells),
    * probeCoarse = [[IvfCoarseProbes]]). Same exact-integer coarse
    * refinement, same (d2, cell) tie-breaks, same op order in every
    * distance — row_number()=1 here ≡ min_by there because the ordering
    * key is unique.
    */
  def topKIvfHierSql: String = {
    val nProbe = ivfProbesFor(IvfCells)
    s"""WITH $hierBuildCtesSql,
       |qcoarse AS (
       |  SELECT vec_id, embedding, nrm, ccell FROM cranked
       |  WHERE vec_id < $NumQueries AND rn <= $IvfCoarseProbes),
       |qranked AS (
       |  SELECT qc.vec_id, qc.embedding, qc.nrm, f.cell,
       |    row_number() OVER (PARTITION BY qc.vec_id ORDER BY
       |      ${d2Sql("qc.embedding", "qc.nrm * qc.nrm", "f.fv", "f.fn2")},
       |      f.cell) AS rn
       |  FROM qcoarse qc JOIN fcells f ON qc.ccell = f.ccell),
       |probes AS (
       |  SELECT vec_id AS q_id, embedding AS qv, nrm AS qn, cell
       |  FROM qranked WHERE rn <= $nProbe),
       |scored AS (
       |  SELECT p.q_id, a.vec_id, a.cell,
       |    round(list_sum([CAST(p.qv[i] AS DOUBLE)
       |                    * CAST(a.embedding[i] AS DOUBLE)
       |                    for i in range(1, len(p.qv) + 1)])
       |      / (p.qn * a.nrm), 6) + 0 AS cosine
       |  FROM assign a JOIN probes p
       |    ON a.cell = p.cell AND a.vec_id != p.q_id)
       |SELECT q_id, rank, vec_id, cell, cosine FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY cosine DESC, vec_id) AS rank
       |  FROM scored)
       |WHERE rank <= $TopK
       |ORDER BY q_id, rank""".stripMargin
  }

  /** Flat-assignment cell ceiling for [[topKIvfAdaptive]]: the measured
    * point past which O(N·nlist) assignment dominates (SCALING.md — 256
    * cells was the round-5 cap for exactly this reason).
    */
  val IvfFlatMaxCells = 256

  /** Adaptive IVF router — same shape as the simhash band router: the
    * FLAT path below [[IvfFlatMaxCells]] (one fewer approximation level,
    * k-means-refined cells), the hierarchical path above, where flat
    * assignment is compute-infeasible. nProbe defaults to
    * [[ivfProbesFor]] — scaling it with nlist is load-bearing for
    * recall (measured, SCALING.md).
    */
  def topKIvfAdaptive(embeddings: DataFrame, cells: Int,
      nProbe: Int = 0): DataFrame = {
    val p = if (nProbe > 0) nProbe else ivfProbesFor(cells)
    if (cells <= IvfFlatMaxCells) topKIvf(embeddings, cells, p)
    else topKIvfHier(embeddings, cells, p)
  }

  // ---- persisted IVF index: build once, serve by partition pruning --------

  /** Build the hierarchical IVF index ONCE and persist it: the cell
    * assignment table hive-partitioned BY CELL (so a probe is a
    * partition-pruned scan on disk, not a filter over the corpus) plus
    * the fine-centroid table. This turns the scaladoc claim of
    * [[topKIvfHier]] — "the inverted file is exactly a hash-partitioned
    * table at scale" — into an executable surface: build cost is paid
    * once per corpus version; each query batch then reads
    * nProbe/nlist of the data files.
    *
    * Layout: `path/data/cell=<id>/…` (vec_id, v, nrm) and
    * `path/centroids/…` (ccell, cell, fv, fn2).
    */
  def writeIvfIndex(embeddings: DataFrame, path: String,
      cells: Int = IvfCells): Unit =
    Versioned.writeBase(embeddings.sparkSession, path)(
      writeIvfSnapshot(embeddings, _, cells))

  /** One complete index snapshot (data + centroids) under `root` —
    * the base build writes it at the index path itself; a rebuild
    * writes it into a staged version dir.
    */
  private def writeIvfSnapshot(embeddings: DataFrame, root: String,
      cells: Int): Unit = {
    val parts = ivfIndexParts(embeddings, cells)
    // batch_id=0 is the base build; incremental appends use higher ids
    // (the second partition level is the idempotent-overwrite unit).
    // repartition BY CELL first: without it every write task emits a
    // file into every cell= dir (tasks × nlist small files); with it
    // each cell's rows land in one task → ~one file per cell
    parts("assign").withColumn("batch_id", lit(0L))
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell", "batch_id")
      .parquet(s"$root/data")
    parts("fineCells").write.mode("overwrite")
      .parquet(s"$root/centroids")
  }

  /** Drift-triggered index rebuild with atomic swap — the remedy arm
    * of [[ivfIndexDrift]] (and the PQ distortion monitor's analogue is
    * [[ProductQuant.retrainPqCodebooks]]): re-cluster EVERYTHING the
    * index currently serves (base + every appended batch, so appended
    * rows land in cells that describe them and batch partitions fold
    * back into batch_id=0) into a STAGED `v-<n>` snapshot, validate
    * it, then promote by atomically creating its `_COMMITTED` marker
    * (see [[Versioned]]).
    *
    * Serving continuity: every serving entry point resolves the index
    * root once per query, so a query straddling the swap reads its
    * whole answer from one snapshot — old or new, never a mix — and
    * the previous snapshot is retained through the next rebuild so
    * straddling readers' files stay on disk. Cost is one full corpus
    * re-cluster (the build cost, SCALING.md "IVF rebuild") — paid on
    * the drift signal, not per ingest.
    *
    * Returns the committed version number.
    */
  def rebuildIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, cells: Int = IvfCells): Long =
    rebuildIvfIndexHooked(spark, path, cells)

  /** [[rebuildIvfIndex]] with the test seam before the commit
    * ([[Versioned.rebuild]]).
    */
  private[graft] def rebuildIvfIndexHooked(
      spark: org.apache.spark.sql.SparkSession,
      path: String, cells: Int = IvfCells,
      beforeCommit: () => Unit = () => ()): Long =
    Versioned.rebuild(spark, path, IvfArtifact,
        beforeCommit = beforeCommit) { (served, stage) =>
      // CONSOLIDATE first: the serving index is nlist·batches small
      // cell= files, and the clustering makes several passes over its
      // input — read the fragmented layout ONCE into a flat
      // default-parallelism staging table, then cluster from that with
      // exactly a base build's economics (measured 121 s → 33 s at
      // 1.28 M / 1132 cells without/with the consolidation pass; stored
      // v is the exact withNorm(embedding) vector, so the round-trip is
      // lossless)
      readIndexData(spark, served)
        .select(col("vec_id"), col("label"), col("v").as("embedding"))
        .repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(s"$stage/.corpus")
      val corpus = spark.read.parquet(s"$stage/.corpus")
      val want = corpus.count()
      writeIvfSnapshot(corpus, stage, cells)
      // a lost row here is a silently shrunken corpus forever after
      val built = spark.read.parquet(s"$stage/data").count()
      require(built == want,
        s"staged rebuild has $built rows, serving index has $want")
      val scratch = new org.apache.hadoop.fs.Path(s"$stage/.corpus")
      scratch.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(scratch, true)
    }

  /** The IVF index to [[Versioned]]: a root serves its `data` rows,
    * and a rebuild keeps every vec_id.
    */
  private val IvfArtifact = Versioned.Artifact("IVF index",
    Seq("data", "centroids"),
    rowsOf = readIndexData(_, _).count(),
    keysOf = Some(readIndexData(_, _).select("vec_id")))

  /** Every root that still holds index data — the takedown enumeration
    * (retained snapshots are real copies; right-to-be-forgotten must
    * purge each one's `<root>/data`).
    */
  def ivfRetainedRoots(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[String] =
    Versioned.retainedRoots(spark, path, IvfArtifact.components)

  /** Incremental index ingest — the corpus grows WITHOUT a rebuild:
    * assign the new batch against the STORED centroid table (broadcast;
    * the existing corpus is never rescanned — per-ingest cost is
    * O(batch·2√nlist), the same discipline as `Dedup.incrementalNearDups`)
    * and land the rows under (cell=…, batch_id=…) with dynamic partition
    * overwrite, so an at-least-once replay of a batch rewrites exactly
    * its own partitions. Centroids stay fixed on append — standard IVF
    * practice; drift is handled by periodic rebuild, not per-ingest
    * re-clustering.
    */
  def appendToIvfIndex(batch: DataFrame, path: String,
      batchId: Long): Unit = {
    require(batchId > 0, "batch_id 0 is the base build")
    val spark = batch.sparkSession
    // appends land in the CURRENT snapshot (a rebuild folds them into
    // its staged batch_id=0, so post-rebuild appends restart at the
    // new version)
    val root = Versioned.resolve(spark, path)
    val fineCells = spark.read.parquet(s"$root/centroids")
    val e = withNorm(batch)
    val coarseCents = fineCells.filter(col("cell") < 0)
      .select(col("ccell"), col("fv").as("cv"), col("fn2").as("cn2"))
    val cAssign = e.join(broadcast(coarseCents), lit(true))
      .select(col("vec_id"), col("label"), col("v"), col("nrm"),
        col("ccell"),
        dist2(col("v"), col("nrm"), col("cv"), col("cn2")).as("d2"))
      .groupBy("vec_id")
      .agg(first(col("label")).as("label"),
        first(col("v")).as("v"), first(col("nrm")).as("nrm"),
        min_by(col("ccell"), struct(col("d2"), col("ccell"))).as("ccell"))
    val assign = cAssign.join(broadcast(fineCells), Seq("ccell"))
      .select(col("vec_id"), col("label"), col("v"), col("nrm"),
        col("cell"),
        dist2(col("v"), col("nrm"), col("fv"), col("fn2")).as("d2"))
      .groupBy("vec_id")
      .agg(first(col("label")).as("label"),
        first(col("v")).as("v"), first(col("nrm")).as("nrm"),
        min_by(col("cell"), struct(col("d2"), col("cell"))).as("cell"))
    assign.withColumn("batch_id", lit(batchId))
      .repartition(col("cell")) // ~one file per touched cell, not tasks×cells
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("cell", "batch_id")
      .parquet(s"$root/data")
    // append-vs-rebuild race: fail loudly if a rebuild committed while
    // this batch was writing (re-running the append recovers)
    Versioned.assertAppendLanded(spark, path, root, "IVF")
  }

  /** p95 distance-ratio above which [[ivfIndexDrift]] recommends an
    * index rebuild: centroids stay fixed on append, so a batch whose
    * p95 distance-to-assigned-centroid exceeds the index-build p95 by
    * this factor is landing in cells that no longer describe it.
    */
  val DriftRebuildRatio = 1.5

  /** Centroid-drift monitor for the append-only IVF index:
    * [[appendToIvfIndex]] assigns new batches against FIXED stored
    * centroids, which silently degrades recall as the data distribution
    * moves. Compare the batch's distance-to-assigned-centroid
    * distribution (same two-level assignment as the append path)
    * against the index-build distribution (recomputed from the stored
    * assignment — one partition-local join against the broadcast
    * centroid table), and flag a rebuild when the batch p95 exceeds
    * the build p95 × [[DriftRebuildRatio]]. One bounded output row;
    * distances are 1e-6 fixed-point quantized so every aggregate is
    * order-independent and cross-engine exact.
    */
  def ivfIndexDrift(spark: org.apache.spark.sql.SparkSession,
      path: String, batch: DataFrame): DataFrame = {
    val root = Versioned.resolve(spark, path) // one snapshot per query
    val fineCells = spark.read.parquet(s"$root/centroids")
    def q(c: Column): Column = floor(c * 1e6 + lit(0.5)).cast("long")
    val idxD = readIndexData(spark, root)
      .join(broadcast(fineCells.select(col("cell"), col("fv"),
        col("fn2"))), Seq("cell"))
      .select(q(dist2(col("v"), col("nrm"), col("fv"), col("fn2")))
        .as("qd2"))
    val e = batch.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", Dedup.norm(col("v")))
    val coarseCents = fineCells.filter(col("cell") < 0)
      .select(col("ccell"), col("fv").as("cv"), col("fn2").as("cn2"))
    val cAssign = e.join(broadcast(coarseCents), lit(true))
      .select(col("vec_id"), col("v"), col("nrm"), col("ccell"),
        dist2(col("v"), col("nrm"), col("cv"), col("cn2")).as("d2"))
      .groupBy("vec_id")
      .agg(first(col("v")).as("v"), first(col("nrm")).as("nrm"),
        min_by(col("ccell"), struct(col("d2"), col("ccell"))).as("ccell"))
    val batchD = cAssign.join(broadcast(fineCells), Seq("ccell"))
      .select(col("vec_id"), col("cell"),
        dist2(col("v"), col("nrm"), col("fv"), col("fn2")).as("d2"))
      .groupBy("vec_id")
      .agg(min(struct(col("d2"), col("cell"))).as("m"))
      .select(q(col("m.d2")).as("qd2"))
    def stats(d: DataFrame, side: String) = d.agg(
      count(lit(1)).as(s"n_$side"),
      round(sum("qd2").cast("double") / 1e6 / count(lit(1)), 6)
        .as(s"mean_d2_$side"),
      round(percentile(col("qd2"), lit(0.95)) / 1e6, 6)
        .as(s"p95_d2_$side"))
    stats(idxD, "index").crossJoin(broadcast(stats(batchD, "batch")))
      .select(col("n_index"), col("mean_d2_index"), col("p95_d2_index"),
        col("n_batch"), col("mean_d2_batch"), col("p95_d2_batch"),
        round(col("p95_d2_batch") / col("p95_d2_index"), 6)
          .as("drift_ratio"),
        (col("p95_d2_batch")
          > lit(DriftRebuildRatio) * col("p95_d2_index"))
          .as("rebuild_recommended"))
  }

  /** DuckDB mirror of [[ivfIndexDrift]] over a batch defined by
    * `batchPred` on the embeddings table with every component shifted
    * by `shift` (the planted drift): rebuilds the same index centroids
    * via the shared hier CTEs, replays the same two-level assignment,
    * same quantization, same stats.
    */
  def ivfIndexDriftSql(batchPred: String, shift: Double): String = {
    s"""WITH $hierBuildCtesSql,
       |iq AS (
       |  SELECT CAST(floor(d2 * 1000000.0 + 0.5) AS BIGINT) AS qd2
       |  FROM assign),
       |b0 AS (
       |  SELECT vec_id,
       |    [CAST(x AS DOUBLE) + $shift for x in embedding] AS bv
       |  FROM embeddings WHERE $batchPred),
       |b1 AS (
       |  SELECT vec_id, bv,
       |    sqrt(list_sum([x * x for x in bv])) AS bnrm
       |  FROM b0),
       |bc AS (
       |  SELECT b1.vec_id, bv, bnrm, crefined.ccell,
       |    row_number() OVER (PARTITION BY b1.vec_id ORDER BY
       |      ${d2Sql("bv", "bnrm * bnrm", "cv", "cn2")},
       |      crefined.ccell) AS rn
       |  FROM b1 CROSS JOIN crefined),
       |bf AS (
       |  SELECT bca.vec_id,
       |    ${d2Sql("bca.bv", "bca.bnrm * bca.bnrm", "f.fv", "f.fn2")} AS d2,
       |    row_number() OVER (PARTITION BY bca.vec_id ORDER BY
       |      ${d2Sql("bca.bv", "bca.bnrm * bca.bnrm", "f.fv", "f.fn2")},
       |      f.cell) AS rn
       |  FROM (SELECT * FROM bc WHERE rn = 1) bca JOIN fcells f
       |    ON bca.ccell = f.ccell),
       |bq AS (
       |  SELECT CAST(floor(d2 * 1000000.0 + 0.5) AS BIGINT) AS qd2
       |  FROM bf WHERE rn = 1),
       |istats AS (
       |  SELECT count(*) AS n_index,
       |    round(CAST(sum(qd2) AS DOUBLE) / 1000000.0 / count(*), 6)
       |      AS mean_d2_index,
       |    round(quantile_cont(qd2, 0.95) / 1000000.0, 6)
       |      AS p95_d2_index
       |  FROM iq),
       |bstats AS (
       |  SELECT count(*) AS n_batch,
       |    round(CAST(sum(qd2) AS DOUBLE) / 1000000.0 / count(*), 6)
       |      AS mean_d2_batch,
       |    round(quantile_cont(qd2, 0.95) / 1000000.0, 6)
       |      AS p95_d2_batch
       |  FROM bq)
       |SELECT n_index, mean_d2_index, p95_d2_index,
       |  n_batch, mean_d2_batch, p95_d2_batch,
       |  round(p95_d2_batch / p95_d2_index, 6) AS drift_ratio,
       |  p95_d2_batch > $DriftRebuildRatio * p95_d2_index
       |    AS rebuild_recommended
       |FROM istats CROSS JOIN bstats""".stripMargin
  }

  /** The hierarchical build shared by [[topKIvfHier]] (in-flight) and
    * [[writeIvfIndex]] (persisted): refined coarse level, fine cells
    * with fallback sub-centroids, total-coverage assignment.
    */
  private[ext] def ivfIndexParts(embeddings: DataFrame,
      cells: Int): Map[String, DataFrame] = {
    val e = withNorm(embeddings)
    val nCoarse = ivfCoarseFor(cells)
    val coarse0 = e.filter(col("vec_id") < nCoarse)
      .select(col("vec_id").as("ccell"), col("v").as("cv"),
        (col("nrm") * col("nrm")).as("cn2"))
    // label rides along into the stored assignment (metadata-with-
    // vectors, the filtered-search prerequisite): per vec_id it is
    // constant, so first() is deterministic
    def scoreC(side: DataFrame, cents: DataFrame): DataFrame = side
      .join(broadcast(cents), lit(true))
      .select(col("vec_id"), col("label"), col("v"), col("nrm"),
        col("ccell"),
        dist2(col("v"), col("nrm"), col("cv"), col("cn2")).as("d2"))
    def nearestCoarse(side: DataFrame, cents: DataFrame): DataFrame =
      scoreC(side, cents).groupBy("vec_id")
        .agg(first(col("label")).as("label"),
          first(col("v")).as("v"), first(col("nrm")).as("nrm"),
          min_by(col("ccell"), struct(col("d2"), col("ccell"))).as("ccell"))
    // coarseRefined is ~√nlist rows but costs a FULL corpus pass
    // (nearestCoarse over every vector) to derive, and it feeds three
    // consumers (coarseAssign's scoring, fineCells' fallback rows, and
    // through fineCells the probe ranking) — without a persist the
    // corpus pass re-runs once per consumer (measured: 38 parquet
    // scans / 86 Exchanges in the in-flight hier plan). Same for
    // fineCells (≤ cells+√nlist rows, derived from another corpus
    // pass). Two tracked persists of centroid-sized frames collapse
    // the plan to one evaluation per corpus pass.
    val coarseRefined = Scratch.track(nearestCoarse(e, coarse0)
      .select(col("ccell"), posexplode(col("v")).as(Seq("i", "x")))
      .groupBy("ccell", "i")
      .agg(sum(floor(col("x") * 1e6)).as("s"), count(lit(1)).as("cnt"))
      .groupBy("ccell")
      .agg(transform(
        array_sort(collect_list(struct(col("i"),
          (col("s").cast("double") / col("cnt") / 1e6).as("m")))),
        s => s.getField("m")).as("cv"))
      .withColumn("cn2", dot(col("cv"), col("cv")))
      .persist())
    val coarseAssign = nearestCoarse(e, coarseRefined)
    val fineCells = Scratch.track(coarseAssign
      .filter(col("vec_id") < cells)
      .select(col("ccell"), col("vec_id").as("cell"), col("v").as("fv"),
        (col("nrm") * col("nrm")).as("fn2"))
      .unionByName(coarseRefined.select(col("ccell"),
        (-col("ccell") - 1).as("cell"), col("cv").as("fv"),
        col("cn2").as("fn2")))
      .persist())
    val assign = coarseAssign.join(broadcast(fineCells), Seq("ccell"))
      .select(col("vec_id"), col("label"), col("v"), col("nrm"),
        col("cell"),
        dist2(col("v"), col("nrm"), col("fv"), col("fn2")).as("d2"))
      .groupBy("vec_id")
      .agg(first(col("label")).as("label"),
        first(col("v")).as("v"), first(col("nrm")).as("nrm"),
        min_by(col("cell"), struct(col("d2"), col("cell"))).as("cell"))
    Map("assign" -> assign, "fineCells" -> fineCells,
      "coarseRefined" -> coarseRefined, "coarseAssign" -> coarseAssign)
  }

  /** Serve top-k queries FROM the persisted index: rank each query's
    * probe cells against the (tiny, broadcast) centroid table, then scan
    * ONLY the probed `cell=` partitions of the data files — on a
    * 1000-executor cluster this reads nProbe·nQueries of nlist
    * partitions and nothing else (partition pruning is pinned in
    * ExtSpec via input_file_name). Queries are taken from the index
    * itself (lowest vec_ids) to match the fixture contract; a
    * production caller passes arbitrary query vectors the same way.
    */
  def topKIvfServed(spark: org.apache.spark.sql.SparkSession, path: String,
      nProbe: Int = IvfProbes,
      probeCoarse: Int = IvfCoarseProbes): DataFrame = {
    // fixture contract: queries are the NumQueries lowest vec_ids,
    // looked up in the index itself (a production caller brings its own
    // query vectors — see [[topKIvfServedFor]], which skips this scan).
    // localCheckpoint (eager): the by-id lookup is a full index scan
    // (cell-partitioned data has no vec_id pruning), and the bounded
    // result feeds several downstream actions (probes collect, probes
    // broadcast, final count) — without materialization each one would
    // re-run the scan (measured 4x index reads at 1.28 M vectors)
    // resolve ONCE: the q lookup and the serving scan must read the
    // same snapshot even if a rebuild commits mid-query
    // ([[topKIvfServedFor]]'s own resolve is a no-op on a version dir)
    val root = Versioned.resolve(spark, path)
    val q = graft.ext.Scratch.track(
      readIndexData(spark, root).filter(col("vec_id") < NumQueries)
        .select(col("vec_id"), col("v"), col("nrm")).localCheckpoint())
    topKIvfServedFor(q, root, nProbe, probeCoarse)
  }

  /** Serve EXTERNAL query vectors against a persisted index — the
    * production surface: `queries` is any (vec_id, v: array<double>,
    * nrm) frame (use [[withNorm]]-style prep for raw embeddings). Reads
    * the (tiny) centroid table plus ONLY the probed cell= partitions of
    * the data files.
    */
  def topKIvfServedFor(queries: DataFrame, path: String,
      nProbe: Int = IvfProbes,
      probeCoarse: Int = IvfCoarseProbes): DataFrame = {
    val spark = queries.sparkSession
    val root = Versioned.resolve(spark, path) // one snapshot per query
    val fineCells = spark.read.parquet(s"$root/centroids")
    val probes = rankProbes(queries, fineCells, nProbe, probeCoarse)
    // the probed cell set is bounded (≤ nQueries·nProbe) — collect it
    // and read ONLY those cell= directories, by explicit path: a
    // whole-root read with an isin filter would LIST every cell dir
    // before pruning any (the [[graft.streaming.BatchIndex
    // .readHitPartitions]] listing discipline; pruning pinned in
    // ExtSpec)
    val probed = probes.select("p_cell").distinct()
      .collect().map(_.getLong(0)).toIndexedSeq
    serveFromAssign(
      graft.streaming.BatchIndex.readHitPartitions(spark,
          s"$root/data", "cell", probed,
          readIndexData(spark, root).limit(0))
        .withColumn("cell", col("cell").cast("long")),
      probes)
  }

  /** Served-index quality report — the retrieval-eval component an ANN
    * deployment monitors next to [[ivfIndexDrift]]: per query, the
    * served hier-IVF top-k against the exact brute-force ground truth
    * as recall@k and the reciprocal rank of the TRUE nearest neighbor,
    * all exact-integer ppm. The brute side is bounded (the fixture's
    * [[NumQueries]] anchors — production samples its eval anchors the
    * same way), so ground truth costs one broadcast corpus scan and the
    * served side reads only probed cells; nothing here is corpus ×
    * corpus.
    */
  def annRecallReport(spark: org.apache.spark.sql.SparkSession,
      path: String, embeddings: DataFrame,
      nProbe: Int = ivfProbesFor(IvfCells)): DataFrame =
    recallFrom(
      topKBruteForce(embeddings),
      topKIvfServed(spark, path, nProbe))

  /** The per-query recall@k / MRR roll-up shared by the plain and
    * filtered recall reports: `brute` is the exact ground truth,
    * `srv` the served answer, both (q_id, rank, vec_id)-shaped.
    */
  private[graft] def recallFrom(brute0: DataFrame, srv0: DataFrame)
      : DataFrame = {
    val brute = brute0
      .select(col("q_id"), col("rank").as("b_rank"), col("vec_id"))
    val srv = srv0
      .select(col("q_id"), col("rank").as("s_rank"), col("vec_id"))
    val kc = srv.groupBy("q_id").agg(count(lit(1)).as("k_served"))
    brute.join(srv, Seq("q_id", "vec_id"), "left")
      .groupBy("q_id")
      .agg(count(lit(1)).as("k_brute"),
        sum(when(col("s_rank").isNotNull, 1L).otherwise(0L))
          .as("n_overlap"),
        min(when(col("b_rank") === 1L, col("s_rank")))
          .as("nn_rank_raw"))
      .join(kc, Seq("q_id"), "left")
      .select(col("q_id"), col("k_brute"),
        coalesce(col("k_served"), lit(0L)).as("k_served"),
        col("n_overlap"),
        expr("n_overlap * 1000000 div k_brute").as("recall_ppm"),
        coalesce(col("nn_rank_raw"), lit(0L)).as("nn_served_rank"),
        when(col("nn_rank_raw").isNull, lit(0L))
          .otherwise(expr("1000000 div nn_rank_raw")).as("mrr_ppm"))
      .orderBy("q_id")
  }

  /** Exact same-label cosine top-k per anchor — the ground truth for
    * [[annRecallFiltered]]: the brute scan applies the identical
    * metadata predicate the filtered index search serves, so the two
    * sides rank the same candidate universe.
    */
  def topKBruteForceFiltered(embeddings: DataFrame): DataFrame = {
    val e = withNorm(embeddings)
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("v").as("qv"), col("nrm").as("qn"))
    val scored = e.join(broadcast(q),
        col("vec_id") =!= col("q_id") && col("label") === col("q_label"))
      .select(col("q_id"), col("vec_id"), col("label"),
        round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6)
          .as("cosine"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("q_id"), col("rank"), col("vec_id"), col("label"),
        col("cosine"))
  }

  /** Recall/MRR monitoring for FILTERED search ([[topKIvfFiltered]])
    * — the known weak spot of every IVF-filtered design: a selective
    * predicate thins each probed cell's candidate pool, so filtered
    * recall can sit well below unfiltered recall at the same nProbe.
    * Ground truth is [[topKBruteForceFiltered]] (same predicate,
    * exact scan), so recall_ppm here isolates exactly the probing
    * loss under the filter. The selectivity sweep is recorded in
    * SCALING.md "Filtered-ANN recall vs selectivity"; this is the
    * per-deployment monitored row.
    */
  def annRecallFiltered(spark: org.apache.spark.sql.SparkSession,
      path: String, embeddings: DataFrame,
      nProbe: Int = ivfProbesFor(IvfCells)): DataFrame =
    recallFrom(
      topKBruteForceFiltered(embeddings),
      topKIvfFiltered(spark, path, embeddings, nProbe))

  /** DuckDB mirror of [[annRecallReport]]: the brute and hier-IVF
    * oracles compose as nested CTEs, then the identical join + ppm
    * arithmetic.
    */
  def annRecallReportSql: String =
    s"""WITH brute AS MATERIALIZED (
       |$topKBruteForceSql
       |), srv AS MATERIALIZED (
       |$topKIvfHierSql
       |), $recallTailSql""".stripMargin

  /** Shared SQL tail of the recall reports — expects CTEs `brute` and
    * `srv`, both (q_id, rank, vec_id)-shaped.
    */
  private def recallTailSql: String =
    s"""joined AS (
       |  SELECT b.q_id, b.rank AS b_rank, b.vec_id, s.rank AS s_rank
       |  FROM brute b LEFT JOIN srv s
       |    ON b.q_id = s.q_id AND b.vec_id = s.vec_id),
       |agg AS (
       |  SELECT q_id, count(*) AS k_brute,
       |    CAST(sum(CASE WHEN s_rank IS NOT NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_overlap,
       |    min(CASE WHEN b_rank = 1 THEN s_rank END) AS nn_rank_raw
       |  FROM joined GROUP BY q_id),
       |kc AS (SELECT q_id, count(*) AS k_served FROM srv GROUP BY q_id)
       |SELECT a.q_id, a.k_brute,
       |  CAST(coalesce(kc.k_served, 0) AS BIGINT) AS k_served,
       |  a.n_overlap,
       |  a.n_overlap * 1000000 // a.k_brute AS recall_ppm,
       |  CAST(coalesce(a.nn_rank_raw, 0) AS BIGINT) AS nn_served_rank,
       |  CAST(CASE WHEN a.nn_rank_raw IS NULL THEN 0
       |       ELSE 1000000 // a.nn_rank_raw END AS BIGINT) AS mrr_ppm
       |FROM agg a LEFT JOIN kc ON a.q_id = kc.q_id
       |ORDER BY a.q_id""".stripMargin

  /** DuckDB mirror of [[topKBruteForceFiltered]]: the brute CTE with
    * the same-label gate in the scoring join.
    */
  def topKBruteForceFilteredSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, CAST(label AS BIGINT) AS label, embedding,
       |    sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
       |                   for x in embedding])) AS nrm
       |  FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS q_id, e.vec_id, e.label,
       |    round(list_sum([CAST(q.embedding[i] AS DOUBLE)
       |                    * CAST(e.embedding[i] AS DOUBLE)
       |                    for i in range(1, len(q.embedding) + 1)])
       |      / (q.nrm * e.nrm), 6) + 0 AS cosine
       |  FROM e q JOIN e ON e.vec_id != q.vec_id AND e.label = q.label
       |  WHERE q.vec_id < $NumQueries)
       |SELECT q_id, rank, vec_id, label, cosine FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY cosine DESC, vec_id) AS rank
       |  FROM scored)
       |WHERE rank <= $TopK
       |ORDER BY q_id, rank""".stripMargin

  /** DuckDB mirror of [[annRecallFiltered]]: filtered brute + filtered
    * IVF CTEs into the shared recall tail.
    */
  def annRecallFilteredSql: String =
    s"""WITH brute AS MATERIALIZED (
       |$topKBruteForceFilteredSql
       |), srv AS MATERIALIZED (
       |$topKIvfFilteredSql
       |), $recallTailSql""".stripMargin

  /** Read the index data files with the partition column restored to
    * the index's long type (dir inference yields INT).
    */
  private def readIndexData(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    spark.read.parquet(s"$path/data")
      .withColumn("cell", col("cell").cast("long"))

  /** The probed cell set the served path pushes into its scan —
    * exposed so specs can audit the on-disk partition pruning against
    * exactly this set.
    */
  def probedCellsFor(spark: org.apache.spark.sql.SparkSession,
      path: String, nProbe: Int = IvfProbes,
      probeCoarse: Int = IvfCoarseProbes): Array[Long] = {
    val root = Versioned.resolve(spark, path)
    val fineCells = spark.read.parquet(s"$root/centroids")
    val q = spark.read.parquet(s"$root/data")
      .filter(col("vec_id") < NumQueries)
      .select(col("vec_id"), col("v"), col("nrm"))
    rankProbes(q, fineCells, nProbe, probeCoarse)
      .select(col("p_cell").cast("long")).distinct()
      .collect().map(_.getLong(0))
  }

  /** DuckDB twin of [[bucketExpr]] over a column named `embedding`. */
  def bucketSql(planes: Int = NumPlanes): String =
    (0 until planes).map { h =>
      val plane = (0 until Dim)
        .map(d => s"${planeInt(h, d)} / 2147483648.0 - 1.0")
        .mkString("[", ", ", "]")
      s"""CASE WHEN list_sum([CAST(embedding[i] AS DOUBLE) * ($plane)[i]
         |      for i in range(1, ${Dim + 1})]) > 0
         |      THEN ${1L << h} ELSE 0 END
         |""".stripMargin.trim
    }.mkString("\n    + ")

  def topKLshSql: String = {
    val bucket = bucketSql()
    s"""WITH e AS (
       |  SELECT vec_id, label, embedding,
       |    sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
       |                   for x in embedding])) AS nrm,
       |    $bucket AS bucket
       |  FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS q_id, e.vec_id,
       |    round(list_sum([CAST(q.embedding[i] AS DOUBLE)
       |                    * CAST(e.embedding[i] AS DOUBLE)
       |                    for i in range(1, len(q.embedding) + 1)])
       |      / (q.nrm * e.nrm), 6) + 0 AS cosine
       |  FROM e q JOIN e ON e.bucket = q.bucket AND e.vec_id != q.vec_id
       |  WHERE q.vec_id < $NumQueries)
       |SELECT q_id, rank, vec_id, cosine, n_candidates FROM (
       |  SELECT *,
       |    count(*) OVER (PARTITION BY q_id) AS n_candidates,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY cosine DESC, vec_id) AS rank
       |  FROM scored)
       |WHERE rank <= $TopK
       |ORDER BY q_id, rank""".stripMargin
  }

  // ---- margin-based bitext mining -----------------------------------------

  /** Neighborhood size for the margin denominator. */
  val MarginK = 4

  /** Accept threshold on the margin ratio, in ppm (the 1.05 of the
    * public mining literature).
    */
  val MarginThresholdPpm = 1050000L

  /** Margin-based parallel-pair mining (Artetxe & Schwenk 2019;
    * CCMatrix-family — public literature): for each query vector on
    * side A, its best side-B neighbor is accepted when the pair's
    * cosine stands OUT of both local neighborhoods —
    * `margin = cos(x,y) / ((avgK(x→B) + avgK(y→A)) / 2)` — which
    * suppresses hub vectors that are everybody's nearest neighbor. The
    * fixture's two "languages" are the label parity split; a real
    * mining run swaps in the lang column.
    *
    * Scale shape: the served-ANN usage — a BOUNDED query batch
    * broadcast against a corpus-side scan (forward), then the ≤
    * |batch| distinct candidates broadcast back against the other side
    * (backward). Two map-side scored scans + two per-query bounded
    * top-k windows; only (batch × k) rows ever shuffle. Corpus-scale
    * all-pairs mining plugs the candidate generation into the IVF
    * index ([[topKIvfServed]]) instead of the flat scan — the margin
    * arithmetic is unchanged.
    *
    * Determinism: cosines quantize to 1e-6 fixed point BEFORE ranking
    * (ties broken by vec_id), every downstream sum/ratio is exact
    * integer math, and non-positive best-cosines are dropped (never
    * translation candidates; also keeps the integer division on the
    * nonnegative range where Spark's `div` and DuckDB's `//` agree).
    */
  def bitextMarginPairs(embeddings: DataFrame, k: Int = MarginK,
      thresholdPpm: Long = MarginThresholdPpm): DataFrame = {
    val e = withNorm(embeddings)
    val aSide = e.filter(col("label") % 2 === 0)
    val bSide = e.filter(col("label") % 2 === 1)
    val q = aSide.filter(col("vec_id") < 2 * NumQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    val cosQ = (l: Column, r: Column, ln: Column, rn: Column) =>
      floor(dot(l, r) / (ln * rn) * 1e6 + 0.5).cast("long")
    val fwd = bSide.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("b_id"),
        cosQ(col("qv"), col("v"), col("qn"), col("nrm")).as("cos_q"))
    val wf = Window.partitionBy("q_id")
      .orderBy(col("cos_q").desc, col("b_id"))
    val fwdAgg = fwd.withColumn("rank", row_number().over(wf))
      .filter(col("rank") <= k)
      .groupBy("q_id")
      .agg(sum("cos_q").as("sum_f"),
        max(when(col("rank") === 1, col("b_id"))).as("cand_id"),
        max(when(col("rank") === 1, col("cos_q"))).as("cand_cos"))
      .filter(col("cand_cos") > 0)
    val cands = fwdAgg.select(col("cand_id")).distinct()
      .join(bSide.select(col("vec_id").as("cand_id"), col("v").as("cv"),
        col("nrm").as("cn")), Seq("cand_id"))
    val back = aSide.join(broadcast(cands), col("vec_id") =!= col("cand_id"))
      .select(col("cand_id"), col("vec_id").as("a_id"),
        cosQ(col("cv"), col("v"), col("cn"), col("nrm")).as("cos_q"))
    val wb = Window.partitionBy("cand_id")
      .orderBy(col("cos_q").desc, col("a_id"))
    val backAgg = back.withColumn("rank", row_number().over(wb))
      .filter(col("rank") <= k)
      .groupBy("cand_id").agg(sum("cos_q").as("sum_b"))
    fwdAgg.join(backAgg, Seq("cand_id"))
      .withColumn("margin_ppm",
        expr(s"cand_cos * ${2L * k} * 1000000 " +
          "div greatest(sum_f + sum_b, 1)"))
      .select(col("q_id"), col("cand_id"), col("cand_cos"),
        col("margin_ppm"),
        (col("margin_ppm") >= thresholdPpm).as("accepted"))
      .orderBy("q_id")
  }

  /** DuckDB mirror of [[bitextMarginPairs]]. */
  def bitextMarginPairsSql(k: Int = MarginK,
      thresholdPpm: Long = MarginThresholdPpm): String =
    s"""WITH e AS (
       |  SELECT vec_id, CAST(label AS BIGINT) AS label, embedding,
       |    sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
       |                   for x in embedding])) AS nrm
       |  FROM embeddings),
       |fwd AS (
       |  SELECT q.vec_id AS q_id, b.vec_id AS b_id,
       |    CAST(floor(list_sum([CAST(q.embedding[i] AS DOUBLE)
       |                    * CAST(b.embedding[i] AS DOUBLE)
       |                    for i in range(1, len(q.embedding) + 1)])
       |      / (q.nrm * b.nrm) * 1e6 + 0.5) AS BIGINT) AS cos_q
       |  FROM e q JOIN e b ON b.label % 2 = 1
       |  WHERE q.label % 2 = 0 AND q.vec_id < ${2 * NumQueries}),
       |fwdtop AS (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY cos_q DESC, b_id) AS rank
       |  FROM fwd),
       |fwdagg AS (
       |  SELECT q_id, CAST(sum(cos_q) AS BIGINT) AS sum_f,
       |    max(CASE WHEN rank = 1 THEN b_id END) AS cand_id,
       |    CAST(max(CASE WHEN rank = 1 THEN cos_q END) AS BIGINT)
       |      AS cand_cos
       |  FROM fwdtop WHERE rank <= $k GROUP BY q_id
       |  HAVING max(CASE WHEN rank = 1 THEN cos_q END) > 0),
       |back AS (
       |  SELECT c.cand_id, a.vec_id AS a_id,
       |    CAST(floor(list_sum([CAST(c.embedding[i] AS DOUBLE)
       |                    * CAST(a.embedding[i] AS DOUBLE)
       |                    for i in range(1, len(c.embedding) + 1)])
       |      / (c.nrm * a.nrm) * 1e6 + 0.5) AS BIGINT) AS cos_q
       |  FROM (SELECT DISTINCT f.cand_id, e.embedding, e.nrm
       |        FROM fwdagg f JOIN e ON e.vec_id = f.cand_id) c
       |  JOIN e a ON a.label % 2 = 0),
       |backagg AS (
       |  SELECT cand_id, CAST(sum(cos_q) AS BIGINT) AS sum_b
       |  FROM (SELECT *, row_number() OVER (PARTITION BY cand_id
       |          ORDER BY cos_q DESC, a_id) AS rank
       |        FROM back)
       |  WHERE rank <= $k GROUP BY cand_id)
       |SELECT q_id, f.cand_id, cand_cos,
       |  cand_cos * ${2L * k} * 1000000
       |    // greatest(sum_f + sum_b, 1) AS margin_ppm,
       |  cand_cos * ${2L * k} * 1000000
       |    // greatest(sum_f + sum_b, 1) >= $thresholdPpm AS accepted
       |FROM fwdagg f JOIN backagg b ON f.cand_id = b.cand_id
       |ORDER BY q_id""".stripMargin
}
