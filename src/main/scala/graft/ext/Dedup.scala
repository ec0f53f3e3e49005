package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Hashing._
import TextAnalysis.{shingles, shinglesSql}

/** Deduplication operators for training-data pipelines over `documents` /
  * `embeddings`: exact (hash-groupBy), MinHash+LSH banding, SimHash,
  * word-n-gram Jaccard with a MinHash canopy, and embedding-cosine
  * near-dup. Extends the reference per BASELINE.json's north-star (the
  * reference itself has no dedup surface).
  *
  * Scale design (the 100 TB posture):
  *   - per-doc features (shingles via the native word_shingles generator,
  *     their md5 base hashes) are computed in codegen'd projections;
  *     signature aggregations (MinHash mins, SimHash bit sums) are
  *     map-side-combinable, so shuffles carry narrow (id, long) rows or
  *     per-doc signatures, never raw text;
  *   - candidate generation is always *blocked* (LSH bands / hash buckets /
  *     canopy keys) — no O(n²) cross join anywhere;
  *   - verification (exact Jaccard) runs only on the candidate pairs, via
  *     equi-joins Catalyst plans as shuffle hash/sort-merge joins;
  *   - hot keys (a shingle shared by millions of docs) are the classic
  *     skew risk: AQE skew-join handles moderate skew, and the band hash
  *     has 128-bit spread so bucket sizes stay bounded in expectation.
  */
object Dedup {

  // ---- exact dedup (hash-groupBy) -----------------------------------------

  /** Normalized text: lowercase, trimmed, whitespace collapsed. DuckDB
    * mirror needs the 'g' flag to match Spark's replace-all default.
    */
  def normText(text: Column): Column =
    lower(trim(regexp_replace(text, " +", " ")))

  val normTextSql = "lower(trim(regexp_replace(text, ' +', ' ', 'g')))"

  /** Exact-duplicate summary: group by md5 of normalized text. One
    * map-side-combined aggregation; at 100 TB this is the cheap first
    * dedup pass that runs before any fuzzy method.
    */
  def exactSummary(documents: DataFrame): DataFrame =
    documents
      .select(md5(normText(col("text"))).as("fp"))
      .groupBy("fp").agg(count(lit(1)).as("c"))
      .agg(sum("c").as("total_docs"),
        count(lit(1)).as("n_distinct"),
        count(when(col("c") > 1, 1)).as("n_dup_groups"),
        coalesce(sum(when(col("c") > 1, col("c") - 1)), lit(0L))
          .as("n_dup_docs"))
      .withColumn("n_kept", col("n_distinct"))

  def exactSummarySql: String =
    s"""SELECT total_docs, n_distinct, n_dup_groups, n_dup_docs,
       |  n_distinct AS n_kept
       |FROM (
       |  SELECT CAST(sum(c) AS BIGINT) AS total_docs,
       |    count(*) AS n_distinct,
       |    count(CASE WHEN c > 1 THEN 1 END) AS n_dup_groups,
       |    CAST(coalesce(sum(CASE WHEN c > 1 THEN c - 1 END), 0) AS BIGINT)
       |      AS n_dup_docs
       |  FROM (
       |    SELECT md5($normTextSql) AS fp, count(*) AS c
       |    FROM documents GROUP BY 1))""".stripMargin

  // ---- MinHash + LSH banding ----------------------------------------------

  /** MinHash signature length and LSH banding shape: 12 hashes = 4 bands
    * × 3 rows. With Jaccard threshold ~0.5 the banding S-curve gives
    * P(candidate) = 1-(1-j³)⁴ ≈ 0.41 at j=0.5, ≈ 0.96 at j=0.8.
    */
  val NumHashes = 12
  val NumBands = 4
  val RowsPerBand = 3

  /** Verified-Jaccard output threshold for the near-dup report. */
  val JaccardThreshold = 0.5

  /** (doc_id, h) — exploded distinct word-5-shingle set, base-HASHED.
    * The md5 base hash is applied once on the exploded column (a regular
    * projection, so whole-stage codegen applies — md5 inside array-lambda
    * HOFs would run interpreted and costs ~10× here), and everything
    * downstream (signature mins, canopies, the verification equi-joins)
    * operates on the 8-byte hash: shuffles carry (long, long) rows, never
    * shingle strings — the at-scale shuffle-volume discipline this
    * module's header promises. MinHash/Jaccard over hashed shingle sets
    * is the standard formulation; a 32-bit collision (≈|shingles|²/2³³
    * per doc) perturbs set sizes deterministically and the DuckDB oracle
    * hashes identically, so parity is exact by construction.
    */
  def shingleTable(documents: DataFrame): DataFrame = {
    documents.select(col("doc_id"),
        explode(array_distinct(shingles(col("text")))).as("shingle"))
      .select(col("doc_id"), h32(col("shingle")).as("h"))
  }

  /** (doc_id, band_idx, band_hash): the LSH band table — the self-join
    * key space of [[minhashNearDups]]. Public because the streaming
    * screens (DedupStream, GraphStream) and `Curation.fuzzyDecontam`
    * band their inputs with it, so they share this exact banding.
    */
  def bandTable(documents: DataFrame): DataFrame = {
    val sigs = documents.select(col("doc_id"),
      graft.functions.GraftFunctions.minhashSigs(col("text"), NumHashes)
        .as("sig"))
    val bandStructs = (0 until NumBands).map { b =>
      val slice = (0 until RowsPerBand)
        .map(r => col("sig")(b * RowsPerBand + r))
      struct(lit(b).as("band_idx"),
        md5(concat_ws(",", slice: _*)).as("band_hash"))
    }
    sigs
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("band"))
      .select(col("doc_id"), col("band.band_idx").as("band_idx"),
        col("band.band_hash").as("band_hash"))
  }

  /** Near-dup pairs with *verified* shingle Jaccard ≥ threshold. The
    * exact intersection runs only over LSH candidates (equi-join on
    * shingle hash), never all pairs.
    *
    * Scale shape (round 3): signatures come from the native
    * [[graft.functions.MinHashSignature]] expression — a map-side
    * projection, no explode, no 12-column min-aggregate shuffle
    * (bit-identical to the aggregate form, pinned in ExtSpec). The
    * exploded shingle table is materialized only for documents that
    * actually appear in a candidate pair (broadcast semi-join scope) —
    * a vanishing fraction of a 100 TB corpus — and feeds both
    * verification sides and the set-size counts.
    *
    * Candidate-generation skew guard (round 5): band buckets holding
    * more than `maxBandBucket` docs are dropped before the self-join (a
    * size-c bucket contributes c·(c−1)/2 pairs — one boilerplate bucket
    * of 10⁵ docs is 5·10⁹ pairs on one reducer). Hot buckets are
    * near-always exact/boilerplate duplicates, which [[exactSummary]]
    * already catches upstream; measured bucket-size distributions are in
    * SCALING.md. `None` (the verified-query default) disables the cap.
    */
  /** Materialize the LSH band table to parquet — the signature store a
    * production pipeline writes at ingest (the batch twin of
    * [[graft.streaming.DedupStream]]'s persistent band index): banding
    * is the indexing job's cost; every dedup query after joins the
    * stored (doc_id, band_idx, band_hash) rows. Pass the read-back
    * frame as `bands` to [[minhashNearDups]] / [[minhashClusters]] /
    * [[minhashSurvivors]] / [[incrementalNearDups]].
    */
  def writeBandIndex(documents: DataFrame, path: String): Unit =
    bandTable(documents).write.mode("overwrite").parquet(path)

  def minhashNearDups(documents: DataFrame,
      maxBandBucket: Option[Int] = None,
      bands: Option[DataFrame] = None): DataFrame = {
    val rawBands = bands.getOrElse(bandTable(documents))
    val capped = maxBandBucket.fold(rawBands) { cap =>
      // count per bucket is map-side combinable; the join back is on the
      // same key the self-join uses, so no extra shuffle stage shape
      val sizes = rawBands.groupBy("band_idx", "band_hash")
        .agg(count(lit(1)).as("bucket_n"))
        .filter(col("bucket_n") <= cap)
        .select("band_idx", "band_hash")
      rawBands.join(sizes, Seq("band_idx", "band_hash"))
    }
    // bands the caller already persisted (the graph stream's batch
    // bands) are read as they are; the caller owns their release
    val banded =
      if (capped.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
        capped
      else Scratch.track(capped.persist())
    val cand = Scratch.track(banded.as("a").join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx")
          && col("a.band_hash") === col("b.band_hash")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
      .persist()) // scopes verification AND joins into it
    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .unionByName(cand.select(col("doc_b").as("doc_id"))).distinct()
    val sh = Scratch.track(shingleTable(
      documents.join(broadcast(candDocs), Seq("doc_id"), "left_semi"))
      .persist()) // both verification sides + counts; candidates only
    val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = cand
      .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sh.as("sb"),
        col("doc_b") === col("sb.doc_id")
          && col("sa.h") === col("sb.h"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    inter
      .join(cnt.as("ca"), col("doc_a") === col("ca.doc_id"))
      .join(cnt.as("cb"), col("doc_b") === col("cb.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("inter"),
        col("ca.n").as("n_a"), col("cb.n").as("n_b"),
        round(col("inter").cast("double")
          / (col("ca.n") + col("cb.n") - col("inter")), 6).as("jaccard"))
      .filter(col("jaccard") >= JaccardThreshold)
  }

  /** Shared DuckDB CTE prefix: exploded shingles, base hash, signatures. */
  private def minhashCtesSql: String = {
    val sigExprs = (0 until NumHashes)
      .map(i => s"min(${permutedSql(i, "h")}) AS sig_$i")
      .mkString(",\n    ")
    val bandSelects = (0 until NumBands).map { b =>
      val slice = (0 until RowsPerBand)
        .map(r => s"CAST(sig_${b * RowsPerBand + r} AS VARCHAR)")
        .mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band_idx, md5($slice) AS band_hash FROM sigs"
    }.mkString("\n  UNION ALL ")
    // MATERIALIZED throughout: `shd` feeds sigs/cnt/inter, and `sigs` is
    // referenced once per band in the UNION ALL — DuckDB's default CTE
    // inlining would re-run the shingle+minhash pipeline per reference.
    // Evaluation-order hint only; rows are unchanged.
    s"""shd AS MATERIALIZED (
       |  SELECT doc_id, ${h32Sql("shingle")} AS h
       |  FROM (SELECT doc_id, unnest(
       |          list_distinct(${shinglesSql("string_split(text, ' ')")}))
       |          AS shingle
       |        FROM documents)),
       |sigs AS MATERIALIZED (
       |  SELECT doc_id,
       |    $sigExprs
       |  FROM shd
       |  GROUP BY doc_id),
       |banded AS MATERIALIZED (
       |  $bandSelects),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM banded a JOIN banded b
       |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       |    AND a.doc_id < b.doc_id)""".stripMargin
  }

  def minhashNearDupsSql: String =
    s"""WITH $minhashCtesSql,
       |cnt AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY 1),
       |inter AS (
       |  SELECT doc_a, doc_b, count(*) AS inter
       |  FROM cand
       |  JOIN shd sa ON sa.doc_id = doc_a
       |  JOIN shd sb ON sb.doc_id = doc_b AND sa.h = sb.h
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, inter, ca.n AS n_a, cb.n AS n_b,
       |  round(CAST(inter AS DOUBLE) / (ca.n + cb.n - inter), 6) AS jaccard
       |FROM inter
       |JOIN cnt ca ON ca.doc_id = doc_a
       |JOIN cnt cb ON cb.doc_id = doc_b
       |WHERE round(CAST(inter AS DOUBLE) / (ca.n + cb.n - inter), 6)
       |  >= $JaccardThreshold
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Incremental near-dup check — the shape a production pipeline
    * actually runs: a (small) new ingest batch is screened against the
    * (huge) existing corpus WITHOUT re-deduping the corpus. Candidates
    * come from joining the batch's band table against the corpus band
    * table on `(band_idx, band_hash)` with the BATCH side broadcast: the
    * corpus index — in production a stored table maintained across
    * ingests, recomputed here — never shuffles, and per-batch cost is
    * O(|batch| + candidates). Verification (exact Jaccard) runs on
    * candidate docs only, same as [[minhashNearDups]]. Batch-internal
    * duplicates are out of scope (run the batch through the normal pass).
    *
    * Caller contract: `index` and `batch` doc_ids are disjoint.
    *
    * `broadcastBatch = false` drops the forced broadcasts of the
    * batch-derived frames (band table + candidate id sets) — the
    * caller's signal that this batch is a catch-up MACRO-batch above
    * [[graft.streaming.BatchIndex.TriggerBroadcastMaxDocs]], where a
    * forced multi-GB broadcast would OOM before a shuffle join breaks
    * a sweat (the [[CorpusGraph.BroadcastMemberMax]] rationale at the
    * trigger). Results are identical either way — spec-pinned through
    * the shuffle path.
    */
  def incrementalNearDups(index: DataFrame, batch: DataFrame,
      indexBands: Option[DataFrame] = None,
      broadcastBatch: Boolean = true): DataFrame = {
    def bc(df: DataFrame): DataFrame =
      if (broadcastBatch) broadcast(df) else df
    val ib = indexBands.getOrElse(bandTable(index))
      .withColumnRenamed("doc_id", "index_doc")
    val bb = bandTable(batch).withColumnRenamed("doc_id", "batch_doc")
    val cand = Scratch.track(
      ib.join(bc(bb), Seq("band_idx", "band_hash"))
        .select("batch_doc", "index_doc").distinct()
        .persist())
    val candB = cand.select(col("batch_doc").as("doc_id")).distinct()
    val candI = cand.select(col("index_doc").as("doc_id")).distinct()
    // candidates only. Ids are disjoint by contract; the distinct
    // makes the contract defensive — a doc_id that leaks onto BOTH
    // sides (an upstream re-send) would otherwise double its shingle
    // rows and inflate every jaccard it touches (2i/(2na+nb−2i) ≥ the
    // true value), letting borderline non-dups over the threshold.
    // Within each side rows are already unique (array_distinct), so
    // for contract-honoring inputs this is a row-preserving no-op on
    // a candidate-bounded frame.
    val sh = Scratch.track(shingleTable(
        batch.join(bc(candB), Seq("doc_id"), "left_semi"))
      .unionByName(shingleTable(
        index.join(bc(candI), Seq("doc_id"), "left_semi")))
      .distinct()
      .persist())
    val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = cand
      .join(sh.as("sa"), col("batch_doc") === col("sa.doc_id"))
      .join(sh.as("sb"),
        col("index_doc") === col("sb.doc_id") && col("sa.h") === col("sb.h"))
      .groupBy("batch_doc", "index_doc").agg(count(lit(1)).as("inter"))
    inter
      .join(cnt.as("ca"), col("batch_doc") === col("ca.doc_id"))
      .join(cnt.as("cb"), col("index_doc") === col("cb.doc_id"))
      .select(col("batch_doc"), col("index_doc"), col("inter"),
        col("ca.n").as("n_batch"), col("cb.n").as("n_index"),
        round(col("inter").cast("double")
          / (col("ca.n") + col("cb.n") - col("inter")), 6).as("jaccard"))
      .filter(col("jaccard") >= JaccardThreshold)
  }

  /** DuckDB mirror of [[incrementalNearDups]] for a batch defined by
    * `batchPred` over doc_id (the full-corpus banding restricted to
    * cross batch/index pairs is identical to banding the two sides
    * separately).
    */
  def incrementalNearDupsSql(batchPred: String => String): String =
    s"""WITH $minhashCtesSql,
       |cross_cand AS (
       |  SELECT CASE WHEN ${batchPred("doc_a")} THEN doc_a ELSE doc_b END
       |      AS batch_doc,
       |    CASE WHEN ${batchPred("doc_a")} THEN doc_b ELSE doc_a END
       |      AS index_doc
       |  FROM cand
       |  WHERE (${batchPred("doc_a")}) != (${batchPred("doc_b")})),
       |cnt AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY 1),
       |inter AS (
       |  SELECT batch_doc, index_doc, count(*) AS inter
       |  FROM cross_cand
       |  JOIN shd sa ON sa.doc_id = batch_doc
       |  JOIN shd sb ON sb.doc_id = index_doc AND sa.h = sb.h
       |  GROUP BY 1, 2)
       |SELECT batch_doc, index_doc, inter, ca.n AS n_batch,
       |  cb.n AS n_index,
       |  round(CAST(inter AS DOUBLE) / (ca.n + cb.n - inter), 6) AS jaccard
       |FROM inter
       |JOIN cnt ca ON ca.doc_id = batch_doc
       |JOIN cnt cb ON cb.doc_id = index_doc
       |WHERE round(CAST(inter AS DOUBLE) / (ca.n + cb.n - inter), 6)
       |  >= $JaccardThreshold
       |ORDER BY batch_doc, index_doc""".stripMargin

  /** The deduped corpus — pairs → action. Survivor policy: keep the
    * lowest doc_id of each verified near-dup pair's two sides ("keep
    * first"); a doc is dropped iff it appears as the *greater* id in any
    * verified pair. One left_anti join against the (small) drop set; at
    * 100 TB the drop set is broadcast and the corpus never shuffles.
    * (Full transitive clustering is [[minhashClusters]].)
    */
  /** The keep-lowest drop set: doc_ids removed by the survivor policy
    * (the greater id of every verified near-dup pair). THE single
    * definition of the policy — [[minhashSurvivors]] and
    * [[graft.ext.Curation.trainingMix]] both consume it, so a future
    * policy change cannot diverge between them.
    */
  def minhashDropSet(documents: DataFrame,
      bands: Option[DataFrame] = None): DataFrame =
    minhashNearDups(documents, bands = bands)
      .select(col("doc_b").as("doc_id")).distinct()

  def minhashSurvivors(documents: DataFrame,
      bands: Option[DataFrame] = None): DataFrame =
    documents
      .join(broadcast(minhashDropSet(documents, bands)),
        Seq("doc_id"), "left_anti")
      .agg(count(lit(1)).as("n_survivors"),
        min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))

  def minhashSurvivorsSql: String = {
    // reuse the near-dup SQL as a subquery; drop the greater id of each pair
    val nearDups = minhashNearDupsSql
    s"""WITH neardups AS ($nearDups)
       |SELECT count(*) AS n_survivors, min(doc_id) AS min_doc,
       |  max(doc_id) AS max_doc
       |FROM documents
       |WHERE doc_id NOT IN (SELECT DISTINCT doc_b FROM neardups)"""
      .stripMargin
  }

  /** Pair-graph size below which clustering runs as driver-side
    * union-find: verified near-dup pairs are bounded by the true
    * duplicate count, orders of magnitude smaller than the corpus, so
    * even a petabyte corpus usually yields a driver-sized pair graph.
    */
  val DriverClusterMaxPairs = 2000000L

  /** Transitive near-dup clusters over the verified-pair graph:
    * driver-side union-find below [[DriverClusterMaxPairs]], distributed
    * pointer-jumping label propagation ([[distributedClusters]]) above
    * it. Output: one row per cluster with ≥2 docs — (cluster_id = min
    * doc_id in the cluster, n_docs).
    */

  def minhashClusters(documents: DataFrame,
      bands: Option[DataFrame] = None,
      labels: Option[DataFrame] = None): DataFrame =
    clustersFromLabels(labels.getOrElse(clusterLabels(
      minhashNearDups(documents, bands = bands)
        .select("doc_a", "doc_b"))))

  /** Aggregate per-doc labels to (cluster_id, n_docs ≥ 2) — the terminal
    * stage of [[clusterPairs]], callable directly on a stored label table.
    */
  def clustersFromLabels(labels: DataFrame): DataFrame =
    labels.groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)

  /** Transitive clustering over ANY (doc_a, doc_b) near-dup pair frame —
    * the machinery behind [[minhashClusters]], also composed over
    * embedding pairs by [[embeddingClusters]]. Driver union-find below
    * [[DriverClusterMaxPairs]], O(log diameter) pointer-jumping label
    * propagation above it.
    */
  def clusterPairs(pairFrame: DataFrame): DataFrame =
    clustersFromLabels(clusterLabels(pairFrame))

  /** Per-doc component labels `(doc_id, label)` for every doc appearing
    * in the pair frame — label = the component's min doc_id (every
    * member is in ≥1 pair, so every component has ≥2 members). The
    * reusable core under [[clusterPairs]] and [[softDedupWeights]]:
    * driver union-find below [[DriverClusterMaxPairs]], pointer-jumping
    * label propagation above it.
    */
  def clusterLabels(pairFrame: DataFrame): DataFrame = {
    val spark = pairFrame.sparkSession
    import spark.implicits._
    val pairs = pairFrame.select(col("doc_a"), col("doc_b")).persist()
    if (pairs.count() <= DriverClusterMaxPairs) {
      // union-find on the (small) verified-pair graph; per-iteration
      // Spark job overhead would dwarf the actual work distributed
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) {
          val nxt = parent.getOrElse(c, c); parent(c) = r; c = nxt
        }
        r
      }
      pairs.collect().foreach { row =>
        val (a, b) = (row.getLong(0), row.getLong(1))
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val members = parent.keySet ++ parent.values
      val out = members.toSeq.map(d => (d, find(d)))
        .toDF("doc_id", "label")
      pairs.unpersist()
      out
    } else {
      val out = distributedLabels(pairs)._1
      pairs.unpersist()
      out
    }
  }

  /** Distributed connected components for pair graphs beyond driver
    * capacity: hash-min label propagation WITH pointer jumping — each
    * round a node takes min(neighbors' labels), then shortcuts to its
    * label's label, so label trees halve in depth every round and the
    * fixed point arrives in O(log diameter) rounds (vs O(diameter) for
    * plain propagation; round bound pinned on a planted 1k-chain in
    * ScaleSpec).
    *
    * Each round's labels are `localCheckpoint`ed (eager): the jump
    * self-join references the round's plan twice, so without truncation
    * the logical plan TREE doubles per round — checkpointing caps the
    * plan at a leaf, exactly the discipline iterative DataFrame
    * algorithms need at scale (a durable `checkpoint` would add failure
    * recovery on a real cluster). Superseded checkpoint RDDs and the
    * edge frame are unpersisted as they fall out of scope, so cached
    * storage stays O(1) frames deep.
    *
    * Returns (clusters ≥2, rounds-to-converge).
    */
  private[graft] def distributedClusters(
      pairs: DataFrame): (DataFrame, Int) = {
    val (labels, rounds) = distributedLabels(pairs)
    val clusters = labels.groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
    (clusters, rounds)
  }

  /** The label-propagation core of [[distributedClusters]]: per-doc
    * `(doc_id, label)` at the fixed point, plus rounds-to-converge.
    */
  private[graft] def distributedLabels(
      pairs: DataFrame): (DataFrame, Int) = {
    val edges = pairs
      .unionByName(pairs.select(col("doc_b").as("doc_a"),
        col("doc_b").as("doc_b")))
      .unionByName(pairs.select(col("doc_b").as("doc_a"),
        col("doc_a").as("doc_b")))
      .unionByName(pairs.select(col("doc_a"), col("doc_a").as("doc_b")))
      .distinct().persist()
    // best-effort release of a localCheckpoint's backing RDD (the frame's
    // plan is a LogicalRDD leaf after checkpointing)
    def release(df: DataFrame): Unit =
      df.queryExecution.analyzed.collectFirst {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
      }.foreach(_.unpersist(blocking = false))
    var labels = edges.select(col("doc_a").as("doc_id"))
      .distinct().withColumn("label", col("doc_id")).localCheckpoint()
    var changed = 1L
    var rounds = 0
    while (changed > 0) {
      // hash-min: label ← min over the closed neighborhood (self-edges
      // make the node's own label part of the min)
      val prop = edges.join(labels, edges("doc_b") === labels("doc_id"))
        .groupBy(edges("doc_a").as("doc_id"))
        .agg(min("label").as("label"))
      // pointer jumping: shortcut to the label's label. Every label IS a
      // node of the graph, so the self-join is total (inner, no loss).
      val next = prop.as("p")
        .join(prop.select(col("doc_id").as("j_id"),
          col("label").as("j_label")).as("j"),
          col("p.label") === col("j_id"))
        .select(col("p.doc_id").as("doc_id"),
          least(col("p.label"), col("j_label")).as("label"))
        .localCheckpoint() // eager: materializes + truncates the plan
      changed = next.join(labels.withColumnRenamed("label", "old"),
        "doc_id").filter(col("label") =!= col("old")).count()
      release(labels) // superseded
      labels = next
      rounds += 1
    }
    edges.unpersist()
    // the final fixed-point checkpoint outlives this call; its release
    // is the enclosing query's job (no-op outside a harness scope)
    (Scratch.track(labels), rounds)
  }

  /** Soft dedup (the down-weighting alternative to dropping near-dups —
    * "Scaling Data-Constrained Language Models", arXiv:2305.16264, and
    * the SemDeDup family): every document keeps a training sampling
    * weight of `1 / |its near-dup cluster|` (1.0 outside any cluster),
    * so repeated content contributes one document's worth of expected
    * gradient mass without a hard keep/drop cliff.
    *
    * Scale shape: the pair graph and labels are bounded by near-dup
    * volume (tiny vs corpus); the per-doc attach is one left join of the
    * corpus against the labeled members — broadcast-sized whenever the
    * dup rate is sane, and AQE picks that up at runtime.
    */
  def softDedupWeights(documents: DataFrame,
      bands: Option[DataFrame] = None,
      labelsOpt: Option[DataFrame] = None): DataFrame = {
    val labels = labelsOpt.getOrElse(clusterLabels(
      minhashNearDups(documents, bands = bands).select("doc_a", "doc_b")))
    val sized = labels.groupBy("label")
      .agg(count(lit(1)).as("cluster_size"))
    val members = labels.join(sized, "label")
      .select(col("doc_id"), col("label").as("cluster_id"),
        col("cluster_size"))
    documents.select(col("doc_id"))
      .join(members, Seq("doc_id"), "left")
      .select(col("doc_id"), col("cluster_id"),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"),
        round(lit(1.0) / coalesce(col("cluster_size"), lit(1L)).cast("double"), 6)
          .as("weight"))
  }

  /** Quality-aware survivor selection (the SemDeDup-family refinement of
    * keep-first): within every near-dup cluster keep the member with the
    * HIGHEST composite quality ([[TextAnalysis.qualityPpm]], exact
    * integer ppm so both engines agree bit-for-bit; ties → min doc_id),
    * drop the rest; docs outside any cluster keep. Keep-first discards
    * an arbitrary member — keep-best discards the redundant copies AND
    * upgrades the corpus quality profile in the same pass.
    *
    * Scale shape: scoring is one map-side projection over the corpus;
    * the argmax runs only over labeled members (bounded by near-dup
    * volume); the final attach is the same bounded left join as
    * [[softDedupWeights]].
    */
  def keepBestSurvivors(documents: DataFrame,
      bands: Option[DataFrame] = None,
      labelsOpt: Option[DataFrame] = None): DataFrame = {
    val labels = labelsOpt.getOrElse(clusterLabels(
      minhashNearDups(documents, bands = bands).select("doc_a", "doc_b")))
    val toks = split(col("text"), " ")
    val en = TextAnalysis.Lexicons.head._2
    val scored = documents.select(col("doc_id"),
      TextAnalysis.qualityPpm(
        size(toks).cast("long"),
        size(array_distinct(toks)).cast("long"),
        size(filter(toks, t => t.isin(en: _*))).cast("long"))
        .as("quality_ppm"))
    // lexicographic struct max = highest quality, then smallest doc_id
    val best = scored.join(labels, "doc_id")
      .groupBy("label")
      .agg(max(struct(col("quality_ppm").as("q"),
        (-col("doc_id")).as("nd"))).as("b"))
      .select(col("label"), (-col("b.nd")).as("best_doc"))
    scored
      .join(labels, Seq("doc_id"), "left")
      .join(best, Seq("label"), "left")
      .select(col("doc_id"), col("label").as("cluster_id"),
        col("quality_ppm"),
        (col("label").isNull || col("doc_id") === col("best_doc"))
          .as("keep"))
  }

  /** The keep-best scoring/argmax/attach tail over an existing
    * `labels` CTE — shared by the text-pair oracle below and the
    * 4-channel corpus-graph oracle
    * ([[Multimodal.corpusGraphSurvivorsSql]]), so the two cannot
    * drift on the quality formula or tie-breaks.
    */
  private[ext] def keepBestTailSql: String =
    s"""scored AS MATERIALIZED (
       |  SELECT doc_id,
       |    ${graft.ext.TextAnalysis.qualityPpmSqlExpr} AS quality_ppm
       |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
       |        FROM documents)),
       |best AS (
       |  SELECT label, doc_id AS best_doc FROM (
       |    SELECT l.label, s.doc_id,
       |      row_number() OVER (PARTITION BY l.label
       |        ORDER BY s.quality_ppm DESC, s.doc_id) AS rn
       |    FROM labels l JOIN scored s ON l.doc_id = s.doc_id)
       |  WHERE rn = 1)
       |SELECT s.doc_id, l.label AS cluster_id, s.quality_ppm,
       |  (l.label IS NULL OR s.doc_id = b.best_doc) AS keep
       |FROM scored s
       |LEFT JOIN labels l ON s.doc_id = l.doc_id
       |LEFT JOIN best b ON l.label = b.label
       |ORDER BY s.doc_id""".stripMargin

  def keepBestSurvivorsSql: String =
    s"""WITH RECURSIVE ${labelsCtesSql(materializedLabels = true)},
       |$keepBestTailSql""".stripMargin

  def softDedupWeightsSql: String =
    s"""WITH RECURSIVE ${labelsCtesSql(materializedLabels = true)},
       |sized AS (
       |  SELECT label, CAST(count(*) AS BIGINT) AS cluster_size
       |  FROM labels GROUP BY label)
       |SELECT d.doc_id, l.label AS cluster_id,
       |  coalesce(s.cluster_size, 1) AS cluster_size,
       |  round(CAST(1.0 AS DOUBLE)
       |    / coalesce(s.cluster_size, 1), 6) AS weight
       |FROM documents d
       |LEFT JOIN labels l ON d.doc_id = l.doc_id
       |LEFT JOIN sized s ON l.label = s.label
       |ORDER BY d.doc_id""".stripMargin

  /** The recursive connected-components CTE chain every cluster-level
    * oracle shares: verified MinHash pairs -> symmetric+reflexive edge
    * closure -> transitive reachability -> min-id labels. One
    * definition so the seven label-consuming oracles cannot drift
    * apart; `materializedLabels` marks the labels CTE MATERIALIZED for
    * oracles that reference it more than once (DuckDB re-inlines per
    * reference otherwise — the bpe_merges 309s lesson).
    */
  /** The recursive connected-components labeling CTEs over any
    * (doc_a, doc_b) pair-source SQL — one definition so the
    * label-consuming oracles (MinHash clusters/manifests here, the
    * cross-modal media clusters in [[Multimodal]]) cannot drift apart
    * on the closure discipline or the MATERIALIZED placement.
    */
  private[ext] def labelsCtesSql(materializedLabels: Boolean = false,
      pairsSql: String = minhashNearDupsSql): String = {
    val mat = if (materializedLabels) " MATERIALIZED" else ""
    s"""neardups AS MATERIALIZED ($pairsSql),
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
       |labels AS$mat (
       |  SELECT doc_a AS doc_id, min(doc_b) AS label
       |  FROM reach GROUP BY doc_a)""".stripMargin
  }

  def minhashClustersSql: String =
    s"""WITH RECURSIVE ${labelsCtesSql()}
       |SELECT label AS cluster_id, count(*) AS n_docs
       |FROM labels GROUP BY label HAVING count(*) >= 2
       |ORDER BY cluster_id""".stripMargin

  /** Dedup provenance manifest — the audit artifact a curated corpus
    * ships with: per surviving document, the sorted list of near-dup
    * doc_ids the keep-lowest policy dropped in its favor. Rows exist
    * only for survivors that actually displaced something, so the
    * manifest is bounded by the duplicate volume, not the corpus.
    * Composes [[clusterLabels]] (driver union-find / pointer-jumping
    * above the cap) over the verified MinHash pair graph.
    */
  def dedupManifest(documents: DataFrame,
      bands: Option[DataFrame] = None,
      labels: Option[DataFrame] = None): DataFrame =
    labels.getOrElse(clusterLabels(
        minhashNearDups(documents, bands = bands)
          .select("doc_a", "doc_b")))
      .filter(col("doc_id") =!= col("label"))
      .groupBy(col("label").as("survivor"))
      .agg(count(lit(1)).as("n_dropped"),
        sort_array(collect_list(col("doc_id"))).as("dropped"))
      .orderBy("survivor")

  /** DuckDB mirror of [[dedupManifest]] (the recursive
    * connected-components labels, then the survivor roll-up).
    */
  def dedupManifestSql: String =
    s"""WITH RECURSIVE ${labelsCtesSql()}
       |SELECT label AS survivor,
       |  CAST(count(*) AS BIGINT) AS n_dropped,
       |  list_sort(list(doc_id)) AS dropped
       |FROM labels WHERE doc_id != label
       |GROUP BY label ORDER BY survivor""".stripMargin

  /** [[dedupManifest]] reshaped for the verified surface: the dropped
    * doc_ids join into one comma-separated STRING (numeric sort first,
    * so "10" never precedes "9"). The array form stays the library API;
    * this flat form exists because scalar columns are the only shape a
    * row-sorting cross-engine comparator can canonicalize — the same
    * move [[graft.ext.EmbedStats.jlProject]] makes for embeddings.
    */
  def dedupManifestFlat(documents: DataFrame,
      bands: Option[DataFrame] = None,
      labels: Option[DataFrame] = None): DataFrame =
    dedupManifest(documents, bands, labels)
      .select(col("survivor"), col("n_dropped"),
        array_join(transform(col("dropped"), _.cast("string")), ",")
          .as("dropped_ids"))

  /** DuckDB mirror of [[dedupManifestFlat]] — numeric list_sort before
    * the string join, matching the Spark side's sort_array-then-cast.
    */
  def dedupManifestFlatSql: String =
    s"""WITH RECURSIVE ${labelsCtesSql()}
       |SELECT label AS survivor,
       |  CAST(count(*) AS BIGINT) AS n_dropped,
       |  list_aggr([CAST(x AS VARCHAR) for x in
       |             list_sort(list(doc_id))], 'string_agg', ',')
       |    AS dropped_ids
       |FROM labels WHERE doc_id != label
       |GROUP BY label ORDER BY survivor""".stripMargin

  /** Source-priority dedup cut — the third survivor policy next to
    * keep-lowest ([[dedupManifest]]) and keep-best-quality
    * ([[keepBestSurvivors]]): when near-duplicates span SOURCES, keep
    * the copy from the preferred source (licensing tiers, provenance
    * trust — the policy a real corpus merge runs, because the same
    * text under a permissive license beats its restricted twin).
    * Priority here is the source ordering itself (lexicographic —
    * callers with an explicit tier table rename tiers into the sort
    * key); ties break on lowest doc_id. Per doc: cluster, source,
    * keep flag. Singletons always keep.
    *
    * Scale shape: identical to keep-best — labels are bounded by
    * duplicate volume, the survivor pick is one combinable
    * `min(struct(source, doc_id))` per cluster, and the corpus-side
    * attach is a broadcast-sized left join.
    */
  def keepPrioritySurvivors(documents: DataFrame,
      bands: Option[DataFrame] = None,
      labelsOpt: Option[DataFrame] = None): DataFrame = {
    val labels = labelsOpt.getOrElse(clusterLabels(
      minhashNearDups(documents, bands = bands).select("doc_a", "doc_b")))
    val src = documents.select(col("doc_id"), col("source"))
    // lexicographic struct min = preferred source, then smallest doc_id
    val best = src.join(labels, Seq("doc_id"))
      .groupBy("label")
      .agg(min(struct(col("source"), col("doc_id"))).as("b"))
      .select(col("label"), col("b.doc_id").as("best_doc"))
    src
      .join(labels, Seq("doc_id"), "left")
      .join(best, Seq("label"), "left")
      .select(col("doc_id"), col("label").as("cluster_id"), col("source"),
        (col("label").isNull || col("doc_id") === col("best_doc"))
          .as("keep"))
      .orderBy("doc_id")
  }

  /** DuckDB mirror of [[keepPrioritySurvivors]]. */
  def keepPrioritySurvivorsSql: String =
    s"""WITH RECURSIVE ${labelsCtesSql(materializedLabels = true)},
       |best AS (
       |  SELECT label, doc_id AS best_doc FROM (
       |    SELECT l.label, d.doc_id,
       |      row_number() OVER (PARTITION BY l.label
       |        ORDER BY d.source, d.doc_id) AS rn
       |    FROM labels l JOIN documents d ON l.doc_id = d.doc_id)
       |  WHERE rn = 1)
       |SELECT d.doc_id, l.label AS cluster_id, d.source,
       |  (l.label IS NULL OR d.doc_id = b.best_doc) AS keep
       |FROM documents d
       |LEFT JOIN labels l ON d.doc_id = l.doc_id
       |LEFT JOIN best b ON l.label = b.label
       |ORDER BY d.doc_id""".stripMargin

  /** [[dedupManifestFlat]] under the KEEP-BEST policy — the manifest
    * must describe whichever cut a pipeline actually ships, and
    * [[keepBestSurvivors]] (the SemDeDup-family quality-aware rule) is
    * the other shipped policy: per cluster the highest-quality doc
    * survives and the manifest row lists everyone it displaced. Same
    * flat verified shape as [[dedupManifestFlat]]; ExtSpec pins that
    * the survivors here are exactly keepBestSurvivors' kept docs in
    * ≥2-doc clusters.
    */
  def dedupManifestBest(documents: DataFrame,
      bands: Option[DataFrame] = None,
      labelsOpt: Option[DataFrame] = None): DataFrame =
    manifestOf(keepBestSurvivors(documents, bands, labelsOpt))

  /** [[dedupManifestFlat]] under the SOURCE-PRIORITY policy
    * ([[keepPrioritySurvivors]]) — completes the manifest × policy
    * matrix: whichever survivor rule a pipeline ships (min-id,
    * quality, source tier), its audit manifest has the same flat
    * verified shape.
    */
  def dedupManifestPriority(documents: DataFrame,
      bands: Option[DataFrame] = None,
      labelsOpt: Option[DataFrame] = None): DataFrame =
    manifestOf(keepPrioritySurvivors(documents, bands, labelsOpt))

  /** Roll any (doc_id, cluster_id, keep) survivor frame into the flat
    * manifest shape: per displacing survivor, count + numeric-sorted
    * comma-joined dropped ids.
    */
  private def manifestOf(cut: DataFrame): DataFrame = {
    val members = cut.filter(col("cluster_id").isNotNull)
    val best = members.filter(col("keep"))
      .select(col("cluster_id"), col("doc_id").as("survivor"))
    members.filter(!col("keep"))
      .join(best, "cluster_id")
      .groupBy("survivor")
      .agg(count(lit(1)).as("n_dropped"),
        array_join(transform(sort_array(collect_list(col("doc_id"))),
          _.cast("string")), ",").as("dropped_ids"))
      .orderBy("survivor")
  }

  /** DuckDB mirror of [[dedupManifestBest]] — the keep-best CTE chain
    * (cluster labels + quality scores + per-cluster best), then the
    * survivor roll-up of everyone the best doc displaced.
    */
  def dedupManifestBestSql: String = {
    s"""WITH RECURSIVE ${labelsCtesSql(materializedLabels = true)},
       |scored AS MATERIALIZED (
       |  SELECT doc_id,
       |    ${graft.ext.TextAnalysis.qualityPpmSqlExpr} AS quality_ppm
       |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
       |        FROM documents)),
       |best AS (
       |  SELECT label, doc_id AS best_doc FROM (
       |    SELECT l.label, s.doc_id,
       |      row_number() OVER (PARTITION BY l.label
       |        ORDER BY s.quality_ppm DESC, s.doc_id) AS rn
       |    FROM labels l JOIN scored s ON l.doc_id = s.doc_id)
       |  WHERE rn = 1)
       |SELECT b.best_doc AS survivor,
       |  CAST(count(*) AS BIGINT) AS n_dropped,
       |  list_aggr([CAST(x AS VARCHAR) for x in
       |             list_sort(list(l.doc_id))], 'string_agg', ',')
       |    AS dropped_ids
       |FROM labels l JOIN best b ON l.label = b.label
       |WHERE l.doc_id != b.best_doc
       |GROUP BY b.best_doc ORDER BY survivor""".stripMargin
  }

  /** DuckDB mirror of [[dedupManifestPriority]] — the source-priority
    * best CTE, then the shared survivor roll-up.
    */
  def dedupManifestPrioritySql: String =
    s"""WITH RECURSIVE ${labelsCtesSql(materializedLabels = true)},
       |best AS (
       |  SELECT label, doc_id AS best_doc FROM (
       |    SELECT l.label, d.doc_id,
       |      row_number() OVER (PARTITION BY l.label
       |        ORDER BY d.source, d.doc_id) AS rn
       |    FROM labels l JOIN documents d ON l.doc_id = d.doc_id)
       |  WHERE rn = 1)
       |SELECT b.best_doc AS survivor,
       |  CAST(count(*) AS BIGINT) AS n_dropped,
       |  list_aggr([CAST(x AS VARCHAR) for x in
       |             list_sort(list(l.doc_id))], 'string_agg', ',')
       |    AS dropped_ids
       |FROM labels l JOIN best b ON l.label = b.label
       |WHERE l.doc_id != b.best_doc
       |GROUP BY b.best_doc ORDER BY survivor""".stripMargin

  // ---- SimHash ------------------------------------------------------------

  /** SimHash width in bits. 24 = 4 blocks × 6 bits; features are word
    * bigrams (unigrams over a small vocabulary barely separate docs).
    * Signatures come from the native [[graft.functions.SimHashSignature]]
    * expression (see [[simhash]]); 60 bits is the measured scale path.
    */
  val SimHashBits = 24

  /** Blocks for pigeonhole blocking. */
  val SimHashBlocks = 4
  private val BlockBits = SimHashBits / SimHashBlocks

  /** Max Hamming distance for the near-dup report. With ≤2 differing bits
    * over 4 blocks, at least 2 blocks are untouched, so every qualifying
    * pair matches at least one of the C(4,2)=6 two-block keys — the
    * blocking is provably complete for this radius.
    */
  val MaxHamming = 2

  /** Per-doc SimHash via the native codegen'd
    * [[graft.functions.SimHashSignature]]: the whole signature is one
    * map-side projection — no explode, no shuffle, no per-bit aggregate
    * columns. Bit-identical to [[simhashViaAggregates]] (the formulation
    * it replaced; equivalence pinned in ExtSpec) and to the DuckDB
    * oracle's per-bit-sum SQL: grouping equal hashes before an integer
    * sum is a no-op, so folding per bigram occurrence gives the same
    * sums. `bits` > 32 draws the extra bits from a second seeded base
    * hash (h32 carries only 32 bits of md5).
    */
  def simhash(documents: DataFrame, bits: Int = SimHashBits): DataFrame = {
    require(bits <= 60, "keep the signature sign-free in a BIGINT")
    documents.select(col("doc_id"),
      graft.functions.GraftFunctions.simhashSig(col("text"), bits)
        .as("simhash"))
  }

  /** The aggregate formulation [[simhash]] replaced — explode bigrams,
    * hash, TF groupBy, per-bit `sum(cnt*(bit*2-1))`, sign fold. Retained
    * as the equivalence pin for the native expression (ExtSpec asserts
    * bit-identical signatures on the fixture corpus); not on any query
    * path.
    */
  private[graft] def simhashViaAggregates(documents: DataFrame,
      bits: Int = SimHashBits): DataFrame = {
    require(bits <= 60, "keep the signature sign-free in a BIGINT")
    // features are HASHED before the TF combine: the shuffle key is
    // (long, long) instead of (long, string) and md5 runs map-side —
    // SimHash is defined over hashed features anyway, so grouping equal
    // hashes is the algorithm, not an approximation
    val tf = documents
      .select(col("doc_id"), explode(shingles(col("text"), 2)).as("gram"))
      .select(col("doc_id"), h32(col("gram")).as("h"),
        h32(concat(lit("s2:"), col("gram"))).as("h2"))
      .groupBy("doc_id", "h", "h2").agg(count(lit(1)).as("cnt"))
    def bitOf(j: Int): Column =
      if (j < 32) shiftright(col("h"), j).bitwiseAND(1)
      else shiftright(col("h2"), j - 32).bitwiseAND(1)
    val bitSums = (0 until bits).map { j =>
      sum(col("cnt") * (bitOf(j) * 2 - 1)).as(s"b_$j")
    }
    val sh = (0 until bits)
      .map(j => when(col(s"b_$j") > 0, 1L << j).otherwise(0L))
      .reduce(_ + _)
    tf.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), sh.as("simhash"))
  }

  /** The C(4,2)=6 two-block index keys (Charikar/Manku-style multi-index):
    * key k=(b1,b2) is exact equality on those 12 bits. Complete for
    * Hamming ≤ [[MaxHamming]] (see there); each doc emits 6 keyed rows,
    * and the self-join runs per (key_idx, key_val) bucket — bounded
    * buckets, no O(n²).
    */
  def simhashNearDups(documents: DataFrame): DataFrame = {
    val blockPairs = (for {
      b1 <- 0 until SimHashBlocks; b2 <- b1 + 1 until SimHashBlocks
    } yield (b1, b2)).zipWithIndex
    def blk(b: Int) =
      shiftright(col("simhash"), b * BlockBits).bitwiseAND((1 << BlockBits) - 1)
    val keyStructs = blockPairs.map { case ((b1, b2), k) =>
      struct(lit(k).as("key_idx"),
        (blk(b1) * (1 << BlockBits) + blk(b2)).as("key_val"))
    }
    val keyed = Scratch.track(simhash(documents)
      .select(col("doc_id"), col("simhash"),
        explode(array(keyStructs: _*)).as("key"))
      .select(col("doc_id"), col("simhash"),
        col("key.key_idx").as("key_idx"), col("key.key_val").as("key_val"))
      .persist()) // both self-join sides read it; computed once
    keyed.as("a").join(keyed.as("b"),
        col("a.key_idx") === col("b.key_idx")
          && col("a.key_val") === col("b.key_val")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= MaxHamming)
  }

  /** Shared SQL prefix: TF over hashed bigrams → bit sums → signature. */
  private def simhashShSql(bits: Int): String = {
    def bitSql(j: Int): String =
      if (j < 32) s"((h // ${1L << j}) % 2)"
      else s"((h2 // ${1L << (j - 32)}) % 2)"
    val bitSums = (0 until bits)
      .map(j => s"sum(cnt * (${bitSql(j)} * 2 - 1)) AS b_$j")
      .mkString(",\n    ")
    val shExpr = (0 until bits)
      .map(j => s"CASE WHEN b_$j > 0 THEN ${1L << j} ELSE 0 END")
      .mkString(" + ")
    s"""tf AS (
       |  SELECT doc_id, h, h2, count(*) AS cnt
       |  FROM (SELECT doc_id, ${h32Sql("gram")} AS h,
       |          ${h32Sql("'s2:' || gram")} AS h2
       |        FROM (SELECT doc_id,
       |                unnest(${shinglesSql("string_split(text, ' ')", 2)})
       |                  AS gram
       |              FROM documents))
       |  GROUP BY 1, 2, 3),
       |bits AS (
       |  SELECT doc_id,
       |    $bitSums
       |  FROM tf
       |  GROUP BY doc_id),
       |sh AS (
       |  SELECT doc_id, $shExpr AS simhash FROM bits)""".stripMargin
  }

  def simhashNearDupsSql: String = {
    val blockPairs = (for {
      b1 <- 0 until SimHashBlocks; b2 <- b1 + 1 until SimHashBlocks
    } yield (b1, b2)).zipWithIndex
    def blk(b: Int) = s"((simhash // ${1L << (b * BlockBits)}) % ${1 << BlockBits})"
    val keySelects = blockPairs.map { case ((b1, b2), k) =>
      s"""SELECT doc_id, simhash, $k AS key_idx,
         |    ${blk(b1)} * ${1 << BlockBits} + ${blk(b2)} AS key_val FROM sh"""
        .stripMargin
    }.mkString("\n  UNION ALL ")
    s"""WITH ${simhashShSql(SimHashBits)},
       |keyed AS (
       |  $keySelects),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    bit_count(xor(a.simhash, b.simhash)) AS hamming
       |  FROM keyed a JOIN keyed b
       |    ON a.key_idx = b.key_idx AND a.key_val = b.key_val
       |    AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, CAST(hamming AS BIGINT) AS hamming
       |FROM pairs WHERE hamming <= $MaxHamming
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ---- 60-bit SimHash (the measured scale path, SCALING.md) ---------------

  /** 60-bit variant: 4 blocks × 15 bits, single-block keys — with ≤3
    * differing bits at least one block is untouched, so the blocking is
    * complete for Hamming ≤ 3 (pigeonhole over 4 blocks). 60 bits keeps
    * the signature positive in a BIGINT so `//`/`%` block extraction is
    * identical in both engines.
    */
  val SimHash60Bits = 60
  val SimHash60BlockBits = 15
  val SimHash60MaxHamming = 3

  def simhash60NearDups(documents: DataFrame): DataFrame = {
    val s = simhash(documents, SimHash60Bits)
    val keyStructs = (0 until 4).map { b =>
      struct(lit(b).as("key_idx"),
        shiftright(col("simhash"), b * SimHash60BlockBits)
          .bitwiseAND((1 << SimHash60BlockBits) - 1).as("key_val"))
    }
    val keyed = Scratch.track(
      s.select(col("doc_id"), col("simhash"),
        explode(array(keyStructs: _*)).as("key"))
      .select(col("doc_id"), col("simhash"),
        col("key.key_idx").as("key_idx"), col("key.key_val").as("key_val"))
      .persist())
    keyed.as("a").join(keyed.as("b"),
        col("a.key_idx") === col("b.key_idx")
          && col("a.key_val") === col("b.key_val")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= SimHash60MaxHamming)
  }

  def simhash60NearDupsSql: String = {
    def blk(b: Int) =
      s"((simhash // ${1L << (b * SimHash60BlockBits)}) % ${1 << SimHash60BlockBits})"
    val keySelects = (0 until 4).map { b =>
      s"SELECT doc_id, simhash, $b AS key_idx, ${blk(b)} AS key_val FROM sh"
    }.mkString("\n  UNION ALL ")
    s"""WITH ${simhashShSql(SimHash60Bits)},
       |keyed AS (
       |  $keySelects),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    bit_count(xor(a.simhash, b.simhash)) AS hamming
       |  FROM keyed a JOIN keyed b
       |    ON a.key_idx = b.key_idx AND a.key_val = b.key_val
       |    AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, CAST(hamming AS BIGINT) AS hamming
       |FROM pairs WHERE hamming <= $SimHash60MaxHamming
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Corpus-size ceiling for the 24-bit two-block index: past this the
    * 12-bit keys (4 096 distinct values per key_idx) mega-bucket on
    * near-identical corpora and the bucket self-join turns quadratic
    * (measured regime, SCALING.md — the ScaleProbe loop for this
    * variant is capped at 1.28 M docs). The 60-bit single-block index
    * (15-bit keys, 32 768 values) is the measured scale path.
    */
  val SimHashAdaptiveMaxDocs = 250000L

  /** Band-adaptive SimHash near-dup detection — the DEFAULT simhash
    * route. At fixture/small scale the 24-bit C(4,2) two-block index
    * wins (cheaper signature, tight Hamming ≤ [[MaxHamming]] radius);
    * past [[SimHashAdaptiveMaxDocs]] it saturates, so the router
    * switches to the 60-bit 4×15-bit single-block index
    * ([[simhash60NearDups]]), complete for Hamming ≤
    * [[SimHash60MaxHamming]]. `sizeHint` skips the sizing count when
    * the caller already knows the corpus size (e.g. from a previous
    * stage or table statistics).
    */
  def simhashNearDupsAdaptive(documents: DataFrame,
      sizeHint: Option[Long] = None): DataFrame = {
    val n = sizeHint.getOrElse(documents.count())
    if (n <= SimHashAdaptiveMaxDocs) simhashNearDups(documents)
    else simhash60NearDups(documents)
  }

  // ---- word-n-gram Jaccard with MinHash canopy ----------------------------

  /** Bigram-Jaccard near-dups. Blocking: two independent 1-row MinHash
    * canopies over word-5-shingles (candidate iff either canopy matches
    * — recall 1-(1-j₅)² on 5-shingle Jaccard j₅). A canopy over the
    * bigrams themselves would mega-bucket on a small vocabulary (the
    * global min bigram is shared by a large fraction of docs): the
    * 5-shingle space is exponentially larger, so buckets stay small.
    * Verification = exact bigram Jaccard, candidates only.
    */
  val BigramJaccardThreshold = 0.35

  /** Canopy seeds (indices into the MinHash permutation family). */
  val CanopySeeds = Seq(0, 1)

  def ngramJaccardNearDups(documents: DataFrame): DataFrame = {
    // the two canopy keys ARE MinHash rows 0 and 1 ([[CanopySeeds]]) —
    // map-side native signature, no explode/aggregate
    val canopies = Scratch.track(documents.select(col("doc_id"),
        graft.functions.GraftFunctions
          .minhashSigs(col("text"), CanopySeeds.max + 1).as("sig"))
      .select(col("doc_id"), explode(array(
        struct(lit(0).as("k"), col("sig")(CanopySeeds.head).as("v")),
        struct(lit(1).as("k"), col("sig")(CanopySeeds(1)).as("v"))))
        .as("key"))
      .select(col("doc_id"), col("key.k").as("k"), col("key.v").as("v"))
      .persist()) // both self-join sides read it; computed once
    val cand = canopies.as("x").join(canopies.as("y"),
        col("x.k") === col("y.k") && col("x.v") === col("y.v")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val g = Scratch.track(documents.select(col("doc_id"),
      array_distinct(shingles(col("text"), 2)).as("grams"))
      .persist()) // read by both verification sides
    cand
      .join(g.as("ga"), col("doc_a") === col("ga.doc_id"))
      .join(g.as("gb"), col("doc_b") === col("gb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("ga.grams"), col("gb.grams")))
          .cast("long").as("inter"),
        size(col("ga.grams")).cast("long").as("n_a"),
        size(col("gb.grams")).cast("long").as("n_b"))
      .select(col("doc_a"), col("doc_b"), col("inter"), col("n_a"),
        col("n_b"),
        round(col("inter").cast("double")
          / (col("n_a") + col("n_b") - col("inter")), 6).as("jaccard"))
      .filter(col("jaccard") >= BigramJaccardThreshold)
  }

  def ngramJaccardNearDupsSql: String =
    s"""WITH shd AS (
       |  SELECT doc_id, ${h32Sql("shingle")} AS h
       |  FROM (SELECT doc_id, unnest(
       |          list_distinct(${shinglesSql("string_split(text, ' ')")}))
       |          AS shingle
       |        FROM documents)),
       |canopy AS (
       |  SELECT doc_id,
       |    min(${permutedSql(CanopySeeds.head, "h")}) AS c0,
       |    min(${permutedSql(CanopySeeds(1), "h")}) AS c1
       |  FROM shd
       |  GROUP BY doc_id),
       |keyed AS (
       |  SELECT doc_id, 0 AS k, c0 AS v FROM canopy
       |  UNION ALL SELECT doc_id, 1 AS k, c1 AS v FROM canopy),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM keyed x JOIN keyed y
       |    ON x.k = y.k AND x.v = y.v AND x.doc_id < y.doc_id),
       |g AS (
       |  SELECT doc_id,
       |    list_distinct(${shinglesSql("string_split(text, ' ')", 2)})
       |      AS grams
       |  FROM documents),
       |scored AS (
       |  SELECT doc_a, doc_b,
       |    len(list_intersect(ga.grams, gb.grams)) AS inter,
       |    len(ga.grams) AS n_a, len(gb.grams) AS n_b
       |  FROM cand
       |  JOIN g ga ON ga.doc_id = doc_a
       |  JOIN g gb ON gb.doc_id = doc_b)
       |SELECT doc_a, doc_b, inter, n_a, n_b,
       |  round(CAST(inter AS DOUBLE) / (n_a + n_b - inter), 6) AS jaccard
       |FROM scored
       |WHERE round(CAST(inter AS DOUBLE) / (n_a + n_b - inter), 6)
       |  >= $BigramJaccardThreshold
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- embedding-cosine near-dup ------------------------------------------

  /** Top near-dup pairs per label by cosine similarity. Blocking key =
    * `label` (the natural coarse partitioner here; at 100 TB the key
    * would be an ANN bucket — see [[Similarity]]), pairs ranked per block
    * with a window, top 3 kept. Cosine is exact double math via
    * zip_with + aggregate (codegen'd array expressions, no UDF).
    */
  val TopPairsPerLabel = 3

  /** Dot product via the native codegen'd [[graft.functions.ArrayDotProduct]]
    * (identical left-to-right summation to the zip_with/aggregate fold it
    * replaced — see that class's Scaladoc; equivalence pinned in ExtSpec).
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.arrayDot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def embeddingNearDups(embeddings: DataFrame): DataFrame = {
    val e = embeddings.select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", norm(col("v")))
    val pairs = e.as("a").join(e.as("b"),
        col("a.label") === col("b.label")
          && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.label").as("label"),
        col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")), 6)
          .as("cosine"))
    val w = Window.partitionBy("label")
      .orderBy(col("cosine").desc, col("vec_a"), col("vec_b"))
    pairs.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopPairsPerLabel)
  }

  /** The at-scale variant of [[embeddingNearDups]]: blocking key = the
    * hyperplane-LSH sign bucket from [[Similarity.bucketExpr]] instead of
    * `label`. A label can grow without bound (per-label pairs are
    * quadratic in the label's size); the 2^8 sign buckets partition the
    * corpus by geometry, so bucket sizes scale with n/2^planes and the
    * plane count grows with the corpus. Same output shape: top
    * [[TopPairsPerLabel]] pairs per block by cosine.
    */
  /** Target block size for [[embeddingNearDupsAnn]]'s oversized-block
    * guard, and the bucket-id stride that keeps sharded ids integral
    * (shard counts stay far below it).
    */
  val MaxAnnBlock = 256
  val BlockStride = 1048576L

  def embeddingNearDupsAnn(embeddings: DataFrame,
      maxBlock: Int = 0): DataFrame = {
    val e0 = embeddings.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", norm(col("v")))
      .withColumn("bucket", Similarity.bucketExpr(col("v")))
    // optional skew guard (maxBlock > 0): a bucket beyond maxBlock is
    // a quadratic bomb (natural text CLUSTERS in BoW space — measured
    // 968 of 5000 docs in one sign bucket), so an oversized block
    // sub-shards by a stable vec_id hash into ceil(size/maxBlock)
    // shards and pairs form within shards only — expected shard size
    // ≈ maxBlock, so TOTAL pair volume is ≤ n·maxBlock/2: linear in
    // the corpus no matter how degenerately the vectors cluster. The
    // capped-fan-in discipline, mirrored exactly in the oracle; bucket
    // ids stay integral via the [[BlockStride]] stride.
    val sharded =
      if (maxBlock <= 0) e0
      else {
        val sizes = e0.groupBy("bucket")
          .agg(count(lit(1)).as("bkt_n"))
        e0.join(broadcast(sizes), Seq("bucket"))
          .withColumn("bucket",
            col("bucket") * BlockStride
              + Hashing.h32(concat(lit("bowshard|"),
                  col("vec_id").cast("string")))
                % expr(s"(bkt_n + ${maxBlock - 1}) div $maxBlock"))
          .drop("bkt_n")
      }
    val e = Scratch.track(sharded
      .persist()) // both self-join sides read it; computed once
    val pairs = e.as("a").join(e.as("b"),
        col("a.bucket") === col("b.bucket")
          && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.bucket").as("bucket"),
        col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")), 6)
          .as("cosine"))
    val w = Window.partitionBy("bucket")
      .orderBy(col("cosine").desc, col("vec_a"), col("vec_b"))
    pairs.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopPairsPerLabel)
  }

  def embeddingNearDupsAnnSql: String =
    embeddingNearDupsAnnSqlFrom("embeddings")

  /** The [[embeddingNearDupsAnnSql]] body against any (vec_id,
    * embedding) source, with optional leading CTEs and the optional
    * oversized-block sub-shard guard — lets composed oracles (e.g.
    * [[bowNearDupsSql]]) feed derived vector tables through the
    * identical bucket-block + rank machinery.
    */
  private[ext] def embeddingNearDupsAnnSqlFrom(source: String,
      extraCtes: String = "", maxBlock: Int = 0): String = {
    val eCte =
      if (maxBlock <= 0)
        s"""e AS MATERIALIZED (
           |  SELECT vec_id, embedding,
           |    sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
           |                   for x in embedding])) AS nrm,
           |    ${Similarity.bucketSql()} AS bucket
           |  FROM $source)""".stripMargin
      else
        s"""e0 AS MATERIALIZED (
           |  SELECT vec_id, embedding,
           |    sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
           |                   for x in embedding])) AS nrm,
           |    ${Similarity.bucketSql()} AS bucket
           |  FROM $source),
           |sizes AS (
           |  SELECT bucket, count(*) AS bkt_n FROM e0 GROUP BY 1),
           |e AS MATERIALIZED (
           |  SELECT vec_id, embedding, nrm,
           |    bucket * $BlockStride
           |      + ${Hashing.h32Sql(
                    "'bowshard|' || CAST(vec_id AS VARCHAR)")}
           |        % ((bkt_n + ${maxBlock - 1}) // $maxBlock)
           |        AS bucket
           |  FROM e0 JOIN sizes USING (bucket))""".stripMargin
    s"""WITH $extraCtes$eCte,
       |pairs AS (
       |  SELECT a.bucket AS bucket, a.vec_id AS vec_a, b.vec_id AS vec_b,
       |    round(list_sum([CAST(a.embedding[i] AS DOUBLE)
       |                    * CAST(b.embedding[i] AS DOUBLE)
       |                    for i in range(1, len(a.embedding) + 1)])
       |      / (a.nrm * b.nrm), 6) + 0 AS cosine
       |  FROM e a JOIN e b
       |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
       |SELECT CAST(bucket AS BIGINT) AS bucket, vec_a, vec_b, cosine,
       |  rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY bucket
       |    ORDER BY cosine DESC, vec_a, vec_b) AS rank
       |  FROM pairs)
       |WHERE rank <= $TopPairsPerLabel
       |ORDER BY bucket, rank""".stripMargin
  }

  /** Order-invariant near-dup detection over hashed bag-of-words
    * embeddings — the third text-dedup angle next to shingle MinHash
    * and SimHash: shingle methods are word-ORDER-sensitive, so a
    * shuffled/reordered duplicate (list reshuffles, template field
    * reordering) evades them while its hashed-BoW cosine stays ~1.
    * Composes [[graft.ext.EmbedStats.hashEmbeddings]] (map-side unit
    * vectors from raw text) into the LSH-bucket-blocked pair machinery
    * of [[embeddingNearDupsAnn]] — same shape, same scale posture
    * (bucketed blocks, top pairs per block, never all-pairs).
    */
  def bowNearDups(documents: DataFrame): DataFrame =
    embeddingNearDupsAnn(
      // spread an under-partitioned input first: the hashing fold AND
      // everything downstream of the checkpoint (which freezes the
      // partition layout) otherwise run single-task (measured 0.51 s
      // 1-task pair stage at sf0.1 local[32]); no-op on
      // well-partitioned production inputs
      Scratch.track(graft.ext.EmbedStats.hashEmbeddings(
          graft.Tables.spreadSmallScan(documents))
        .select(col("doc_id").as("vec_id"), col("embedding"))
        // eager materialization: downstream computes nrm + 8 plane
        // dots from `embedding`; left as an expression column each
        // would re-evaluate the whole hashing fold (measured 1.5 s →
        // 32 s at sf0.1). A production pipeline stores the hashed
        // vectors once and indexes from the stored table anyway.
        // Scratch-tracked: the checkpoint RDD is this query's own
        // scratch, released when its harness scope closes.
        .localCheckpoint()),
      maxBlock = MaxAnnBlock)

  /** DuckDB mirror of [[bowNearDups]]: the hashed-embedding CTE feeds
    * the identical bucket-block + rank chain.
    */
  def bowNearDupsSql: String =
    embeddingNearDupsAnnSqlFrom(
      "(SELECT doc_id AS vec_id, embedding FROM hemb) AS src",
      s"""hemb AS MATERIALIZED (
         |${graft.ext.EmbedStats.hashEmbeddingsSql}
         |),
         |""".stripMargin,
      maxBlock = MaxAnnBlock)

  /** Cosine floor for embedding clustering (fixture value: the synthetic
    * embeddings top out at cosine ≈ 0.44 between distinct vectors, so
    * 0.3 keeps the edge set non-trivial; a production near-dup pass
    * would sit at 0.9+).
    */
  val EmbClusterMinCosine = 0.3

  /** Transitive embedding-similarity clusters: [[clusterPairs]] composed
    * over the LSH-bucketed ANN pair stream — same machinery, different
    * edge source. At 100 TB the edge set is bounded by TopPairsPerLabel
    * per bucket, so the cluster stage sees O(buckets · k) pairs, never a
    * corpus-quadratic graph.
    */
  def embeddingClusters(embeddings: DataFrame,
      minCosine: Double = EmbClusterMinCosine): DataFrame =
    clusterPairs(embeddingNearDupsAnn(embeddings)
      .filter(col("cosine") >= minCosine)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))

  def embeddingClustersSql(minCosine: Double = EmbClusterMinCosine)
      : String =
    s"""WITH RECURSIVE anndups AS MATERIALIZED ($embeddingNearDupsAnnSql),
       |nd AS MATERIALIZED (
       |  SELECT vec_a AS doc_a, vec_b AS doc_b FROM anndups
       |  WHERE cosine >= $minCosine),
       |edges AS MATERIALIZED (
       |  SELECT doc_a, doc_b FROM nd
       |  UNION SELECT doc_b, doc_a FROM nd
       |  UNION SELECT doc_a, doc_a FROM nd
       |  UNION SELECT doc_b, doc_b FROM nd),
       |reach AS (
       |  SELECT doc_a, doc_b FROM edges
       |  UNION
       |  SELECT r.doc_a, e.doc_b
       |  FROM reach r JOIN edges e ON r.doc_b = e.doc_a),
       |labels AS (
       |  SELECT doc_a AS doc_id, min(doc_b) AS label
       |  FROM reach GROUP BY doc_a)
       |SELECT label AS cluster_id, count(*) AS n_docs
       |FROM labels GROUP BY label HAVING count(*) >= 2
       |ORDER BY cluster_id""".stripMargin

  // ---- span-level exact dedup (duplicate n-gram spans) --------------------

  /** Span length in tokens for duplicate-span detection (the exact
    * substring dedup of Lee et al., "Deduplicating Training Data Makes
    * Language Models Better", arXiv:2107.06499 — there 50 BPE tokens;
    * 20 words here at fixture scale).
    */
  val SpanTokens = 20

  /** One row per n-token span of the corpus: (doc_id, pos, gram). The
    * window enumeration and join are a codegen'd map-side projection —
    * no shuffle; empty tokens are kept (split semantics match the
    * oracle's string_split exactly).
    */
  private def spanGrams(documents: DataFrame, n: Int): DataFrame = {
    require(n >= 2, s"span length must be >= 2 tokens, got $n")
    documents
      .select(col("doc_id"), split(col("text"), " ").as("a"))
      .select(col("doc_id"), posexplode(
        when(size(col("a")) >= n,
          transform(sequence(lit(0), size(col("a")) - n),
            i => concat_ws(" ", slice(col("a"), i + 1, lit(n)))))
          .otherwise(array().cast("array<string>")))
        .as(Seq("pos", "gram")))
  }

  private def spanGramsSql(n: Int): String =
    s"""toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS a FROM documents),
       |grams AS (
       |  SELECT doc_id, i - 1 AS pos,
       |    array_to_string(a[i:i+$n-1], ' ') AS gram
       |  FROM toks,
       |    LATERAL unnest(range(1, greatest(len(a) - $n + 2, 1))) AS t(i))"""
      .stripMargin

  /** Per-doc duplicate-span stats: of a doc's n-token spans, how many
    * occur more than once in the corpus (`dup_spans`) and how many in
    * more than one document (`cross_doc_spans`).
    *
    * Scale shape: gram stats are a map-side-combinable groupBy keyed on
    * the 8-byte xxhash64 of the span (never the n-token string — with
    * `hashGrams` the shuffle carries (doc_id, pos, long)); the flags
    * attach by joining only the FILTERED duplicate set back (dup grams
    * are the minority of a real corpus), and AQE's skew join splits a
    * pathological mega-gram — a per-gram window would pin all its
    * occurrences to one task instead. 64-bit collisions: ~2.7e-2
    * expected colliding PAIRS at 10^12 distinct spans — ±1-row noise at
    * the advertised scale; the oracle groups by the exact string and
    * agrees at fixture scale (an ExtSpec case pins hashed ≡ exact).
    */
  def dupSpanReport(documents: DataFrame, n: Int = SpanTokens,
      hashGrams: Boolean = true): DataFrame = {
    val key: Column => Column =
      if (hashGrams) xxhash64(_) else identity
    val grams = spanGrams(documents, n)
      .select(col("doc_id"), key(col("gram")).as("g"))
    val dupStats = grams.groupBy("g")
      .agg(count(lit(1)).as("c"),
        (min(col("doc_id")) < max(col("doc_id"))).as("cross_doc"))
      .filter(col("c") > 1)
    val perDoc = grams.join(dupStats, Seq("g"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        count(when(col("c").isNotNull, 1)).as("dup_spans"),
        count(when(col("cross_doc"), 1)).as("cross_doc_spans"))
    documents.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_spans"), lit(0L)).as("dup_spans"),
        coalesce(col("cross_doc_spans"), lit(0L)).as("cross_doc_spans"))
      .withColumn("dup_frac",
        when(col("n_spans") > 0,
          round(col("dup_spans").cast("double") / col("n_spans"), 6))
          .otherwise(lit(0.0)))
  }

  def dupSpanReportSql(n: Int = SpanTokens): String =
    s"""WITH ${spanGramsSql(n)},
       |stats AS (
       |  SELECT gram, count(*) AS c, min(doc_id) < max(doc_id) AS crossd
       |  FROM grams GROUP BY 1),
       |perdoc AS (
       |  SELECT g.doc_id, count(*) AS n_spans,
       |    CAST(sum(CASE WHEN s.c > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS dup_spans,
       |    CAST(sum(CASE WHEN s.c > 1 AND s.crossd THEN 1 ELSE 0 END)
       |      AS BIGINT) AS cross_doc_spans
       |  FROM grams g JOIN stats s USING (gram) GROUP BY 1)
       |SELECT d.doc_id, coalesce(n_spans, 0) AS n_spans,
       |  coalesce(dup_spans, 0) AS dup_spans,
       |  coalesce(cross_doc_spans, 0) AS cross_doc_spans,
       |  CASE WHEN coalesce(n_spans, 0) > 0
       |    THEN round(CAST(dup_spans AS DOUBLE) / n_spans, 6)
       |    ELSE 0.0 END AS dup_frac
       |FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** The most-repeated n-token spans (count desc, span asc). Groups by
    * the span STRING — the output needs it, and the (count, gram) order
    * is a cross-engine total order; the two-phase production variant
    * (hash-group, top-k on counts, then fetch strings for the k winners
    * by semi-join) trades a second scan for an 8-byte shuffle key.
    */
  def dupSpanTop(documents: DataFrame, n: Int = SpanTokens,
      topK: Int = 10): DataFrame =
    // this path keeps the RAW gram strings (the report surfaces them),
    // so the span explode + the string-keyed partial aggregate are the
    // whole cost — on an under-partitioned input they serialize on one
    // core (measured 0.99 s single-task at sf0.1 local[32]); spread
    // first (no-op on well-partitioned production inputs)
    spanGrams(graft.Tables.spreadSmallScan(documents), n)
      .groupBy("gram")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_occurrences") > 1)
      .orderBy(col("n_occurrences").desc, col("gram"))
      .limit(topK)

  def dupSpanTopSql(n: Int = SpanTokens, topK: Int = 10): String =
    s"""WITH ${spanGramsSql(n)}
       |SELECT gram, count(*) AS n_occurrences,
       |  count(DISTINCT doc_id) AS n_docs
       |FROM grams GROUP BY 1
       |HAVING count(*) > 1
       |ORDER BY n_occurrences DESC, gram
       |LIMIT $topK""".stripMargin

  /** Span-scrub plan (keep-first policy): every occurrence of a
    * duplicated span EXCEPT the gram's global first (smallest
    * (doc_id, pos)) marks its n-token interval for removal; per doc the
    * marked intervals merge into maximal islands (gaps-and-islands over
    * a running max-end window), so overlapping spans never double-count
    * a token. Returns per-doc tokens_removed / tokens_kept — the exact
    * token accounting of Lee et al.'s substring dedup without the
    * suffix array: candidate spans come from the same banded gram
    * stats, intervals merge in one per-doc ordered window (bounded by
    * doc length, never corpus-wide).
    */
  def dupSpanScrub(documents: DataFrame, n: Int = SpanTokens,
      hashGrams: Boolean = true): DataFrame = {
    val key: Column => Column =
      if (hashGrams) xxhash64(_) else identity
    val grams = spanGrams(documents, n)
      .select(col("doc_id"), col("pos"), key(col("gram")).as("g"))
    val dupFirst = grams.groupBy("g")
      .agg(count(lit(1)).as("c"),
        min(struct(col("doc_id"), col("pos"))).as("first"))
      .filter(col("c") > 1)
    val drops = grams.join(dupFirst, Seq("g"))
      .filter(col("doc_id") =!= col("first.doc_id")
        || col("pos") =!= col("first.pos"))
      .select(col("doc_id"), col("pos").as("s"),
        (col("pos") + n - 1).as("e"))
    val wPrev = Window.partitionBy("doc_id").orderBy("s")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy("doc_id").orderBy("s")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val removed = drops
      .withColumn("brk",
        when(col("s") > coalesce(max(col("e")).over(wPrev), lit(-1)), 1)
          .otherwise(0))
      .withColumn("island", sum(col("brk")).over(wRun))
      .groupBy("doc_id", "island")
      .agg((max(col("e")) - min(col("s")) + 1).as("len"))
      .groupBy("doc_id")
      .agg(sum(col("len")).as("tokens_removed"))
    documents
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .join(removed, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("tokens_removed"), lit(0L)).as("tokens_removed"))
      .withColumn("tokens_kept", col("n_tokens") - col("tokens_removed"))
      .withColumn("removed_frac",
        when(col("n_tokens") > 0,
          round(col("tokens_removed").cast("double") / col("n_tokens"), 6))
          .otherwise(lit(0.0)))
  }

  /** Containment detection (Broder's asymmetric overlap): C(A→B) =
    * |spans(A) ∩ spans(B)| / |spans(A)| over DISTINCT n-token spans —
    * catches a document quoting or containing a large chunk of another
    * even when symmetric resemblance (Jaccard/MinHash) is low. Reported
    * per unordered pair with both denominators; a pair qualifies when
    * the greater direction clears `minContainment`.
    *
    * Candidate pairs come from shared spans, so the self-join is banded
    * exactly like the MinHash candidate join — and carries the same
    * skew guard: span buckets above `maxSpanBucket` docs are dropped
    * before pairing (a size-c bucket is c·(c−1)/2 pairs; hot spans are
    * boilerplate that [[dupSpanTop]] surfaces directly). The oracle
    * applies the identical cap, so the trade is explicit, not hidden.
    */
  def spanContainment(documents: DataFrame, n: Int = SpanTokens,
      minContainment: Double = 0.5, maxSpanBucket: Int = 50,
      hashGrams: Boolean = true): DataFrame = {
    val key: Column => Column =
      if (hashGrams) xxhash64(_) else identity
    // spread + persist TOGETHER (r17): separately each was
    // A/B-measured worse (persist alone 1.85→2.28 s — the cache build
    // itself ran single-task; spread alone 1.62→1.93 s — the explode
    // still re-ran per consumer); combined, the explode runs once,
    // parallel, and all four consumers read a 32-partition cache.
    val grams = Scratch.track(
      spanGrams(graft.Tables.spreadSmallScan(documents), n)
        .select(col("doc_id"), key(col("gram")).as("g")).distinct()
        .persist())
    val pairable = grams.join(
      grams.groupBy("g").agg(count(lit(1)).as("c"))
        .filter(col("c") > 1 && col("c") <= maxSpanBucket)
        .select("g"),
      Seq("g"))
    val pairs = pairable.as("a").join(pairable.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared_spans"))
    val cnt = grams.groupBy("doc_id").agg(count(lit(1)).as("ns"))
    pairs
      .join(cnt.select(col("doc_id").as("doc_a"),
        col("ns").as("spans_a")), Seq("doc_a"))
      .join(cnt.select(col("doc_id").as("doc_b"),
        col("ns").as("spans_b")), Seq("doc_b"))
      .withColumn("containment", round(greatest(
        col("shared_spans").cast("double") / col("spans_a"),
        col("shared_spans").cast("double") / col("spans_b")), 6))
      .filter(col("containment") >= minContainment)
      .select(col("doc_a"), col("doc_b"), col("shared_spans"),
        col("spans_a"), col("spans_b"), col("containment"))
  }

  /** DuckDB mirror of [[spanContainment]] — identical bucket cap. */
  def spanContainmentSql(n: Int = SpanTokens,
      minContainment: Double = 0.5, maxSpanBucket: Int = 50): String =
    s"""WITH ${spanGramsSql(n)},
       |dg AS MATERIALIZED (SELECT DISTINCT doc_id, gram FROM grams),
       |sz AS (SELECT gram FROM dg GROUP BY gram
       |       HAVING count(*) > 1 AND count(*) <= $maxSpanBucket),
       |cap AS MATERIALIZED (
       |  SELECT dg.doc_id, dg.gram FROM dg JOIN sz USING (gram)),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    count(*) AS shared_spans
       |  FROM cap a JOIN cap b
       |    ON a.gram = b.gram AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |cnt AS (SELECT doc_id, count(*) AS ns FROM dg GROUP BY 1)
       |SELECT * FROM (
       |  SELECT doc_a, doc_b, shared_spans, ca.ns AS spans_a,
       |    cb.ns AS spans_b,
       |    round(greatest(CAST(shared_spans AS DOUBLE) / ca.ns,
       |      CAST(shared_spans AS DOUBLE) / cb.ns), 6) AS containment
       |  FROM pairs
       |    JOIN cnt ca ON doc_a = ca.doc_id
       |    JOIN cnt cb ON doc_b = cb.doc_id)
       |WHERE containment >= $minContainment
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Apply the keep-first span scrub: drop every token inside a merged
    * removal island and return the scrubbed text (md5-fingerprinted in
    * the verified query; the full text column is one `array_join` away).
    * The islands of [[dupSpanScrub]] collect per doc (bounded by doc
    * length) and the token filter is a codegen'd map-side lambda over
    * the token array — the corpus-scale work is identical to the
    * accounting pass plus one broadcast-shaped doc_id join.
    */
  def applySpanScrub(documents: DataFrame, n: Int = SpanTokens,
      hashGrams: Boolean = true): DataFrame = {
    val key: Column => Column =
      if (hashGrams) xxhash64(_) else identity
    val grams = spanGrams(documents, n)
      .select(col("doc_id"), col("pos"), key(col("gram")).as("g"))
    val dupFirst = grams.groupBy("g")
      .agg(count(lit(1)).as("c"),
        min(struct(col("doc_id"), col("pos"))).as("first"))
      .filter(col("c") > 1)
    val islands = grams.join(dupFirst, Seq("g"))
      .filter(col("doc_id") =!= col("first.doc_id")
        || col("pos") =!= col("first.pos"))
      .select(col("doc_id"), col("pos").as("s"),
        (col("pos") + n - 1).as("e"))
      .groupBy("doc_id")
      .agg(collect_list(struct(col("s"), col("e"))).as("ivs"))
    documents
      .join(islands, Seq("doc_id"), "left")
      .select(col("doc_id"),
        array_join(filter(split(col("text"), " "),
          (tok, i) => !exists(coalesce(col("ivs"),
              array().cast("array<struct<s:int,e:int>>")),
            iv => i >= iv("s") && i <= iv("e"))), " ")
          .as("scrubbed"))
      .select(col("doc_id"),
        md5(col("scrubbed")).as("scrubbed_md5"),
        size(split(col("scrubbed"), " ")).cast("long")
          .as("n_tokens_after"))
  }

  def applySpanScrubSql(n: Int = SpanTokens): String =
    s"""WITH ${spanGramsSql(n)},
       |stats AS (SELECT gram, count(*) AS c FROM grams GROUP BY 1),
       |occ AS (
       |  SELECT g.doc_id, g.pos, row_number() OVER (
       |    PARTITION BY g.gram ORDER BY g.doc_id, g.pos) AS rn
       |  FROM grams g JOIN stats s USING (gram) WHERE s.c > 1),
       |drops AS (
       |  SELECT doc_id, pos AS s, pos + $n - 1 AS e FROM occ WHERE rn > 1),
       |isl AS (
       |  SELECT doc_id, s, e, CASE WHEN s > coalesce(max(e) OVER (
       |      PARTITION BY doc_id ORDER BY s
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
       |    THEN 1 ELSE 0 END AS brk
       |  FROM drops),
       |isl2 AS (
       |  SELECT doc_id, s, e, sum(brk) OVER (
       |    PARTITION BY doc_id ORDER BY s ROWS UNBOUNDED PRECEDING)
       |    AS island
       |  FROM isl),
       |merged AS (
       |  SELECT doc_id, min(s) AS ms, max(e) AS me
       |  FROM isl2 GROUP BY doc_id, island),
       |tok AS (
       |  SELECT doc_id, unnest(a) AS tok,
       |    generate_subscripts(a, 1) - 1 AS pos
       |  FROM toks),
       |scrub AS (
       |  SELECT t.doc_id, string_agg(t.tok, ' ' ORDER BY t.pos)
       |    AS scrubbed
       |  FROM tok t
       |  WHERE NOT EXISTS (SELECT 1 FROM merged m
       |    WHERE m.doc_id = t.doc_id AND t.pos BETWEEN m.ms AND m.me)
       |  GROUP BY 1)
       |SELECT d.doc_id, md5(coalesce(s.scrubbed, '')) AS scrubbed_md5,
       |  len(string_split(coalesce(s.scrubbed, ''), ' '))
       |    AS n_tokens_after
       |FROM documents d LEFT JOIN scrub s ON d.doc_id = s.doc_id
       |ORDER BY d.doc_id""".stripMargin

  def dupSpanScrubSql(n: Int = SpanTokens): String =
    s"""WITH ${spanGramsSql(n)},
       |stats AS (SELECT gram, count(*) AS c FROM grams GROUP BY 1),
       |occ AS (
       |  SELECT g.doc_id, g.pos, row_number() OVER (
       |    PARTITION BY g.gram ORDER BY g.doc_id, g.pos) AS rn
       |  FROM grams g JOIN stats s USING (gram) WHERE s.c > 1),
       |drops AS (
       |  SELECT doc_id, pos AS s, pos + $n - 1 AS e FROM occ WHERE rn > 1),
       |isl AS (
       |  SELECT doc_id, s, e, CASE WHEN s > coalesce(max(e) OVER (
       |      PARTITION BY doc_id ORDER BY s
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
       |    THEN 1 ELSE 0 END AS brk
       |  FROM drops),
       |isl2 AS (
       |  SELECT doc_id, s, e, sum(brk) OVER (
       |    PARTITION BY doc_id ORDER BY s ROWS UNBOUNDED PRECEDING)
       |    AS island
       |  FROM isl),
       |merged AS (
       |  SELECT doc_id, CAST(sum(len) AS BIGINT) AS tokens_removed
       |  FROM (SELECT doc_id, max(e) - min(s) + 1 AS len
       |        FROM isl2 GROUP BY doc_id, island)
       |  GROUP BY doc_id),
       |nt AS (SELECT doc_id, len(a) AS n_tokens FROM toks)
       |SELECT nt.doc_id, nt.n_tokens,
       |  coalesce(m.tokens_removed, 0) AS tokens_removed,
       |  nt.n_tokens - coalesce(m.tokens_removed, 0) AS tokens_kept,
       |  CASE WHEN nt.n_tokens > 0
       |    THEN round(CAST(coalesce(m.tokens_removed, 0) AS DOUBLE)
       |      / nt.n_tokens, 6)
       |    ELSE 0.0 END AS removed_frac
       |FROM nt LEFT JOIN merged m ON nt.doc_id = m.doc_id
       |ORDER BY nt.doc_id""".stripMargin

  def embeddingNearDupsSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, CAST(label AS BIGINT) AS label, embedding,
       |    sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
       |                   for x in embedding])) AS nrm
       |  FROM embeddings),
       |pairs AS (
       |  SELECT a.label AS label, a.vec_id AS vec_a, b.vec_id AS vec_b,
       |    round(list_sum([CAST(a.embedding[i] AS DOUBLE)
       |                    * CAST(b.embedding[i] AS DOUBLE)
       |                    for i in range(1, len(a.embedding) + 1)])
       |      / (a.nrm * b.nrm), 6) + 0 AS cosine
       |  FROM e a JOIN e b
       |    ON a.label = b.label AND a.vec_id < b.vec_id)
       |SELECT label, vec_a, vec_b, cosine, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY label
       |    ORDER BY cosine DESC, vec_a, vec_b) AS rank
       |  FROM pairs)
       |WHERE rank <= $TopPairsPerLabel
       |ORDER BY label, rank""".stripMargin
}
