package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Dedup.{dot, norm}

/** Product-quantization (PQ) ANN — the memory-compression scale path for
  * embedding search (Jégou, Douze, Schmid 2011, "Product Quantization for
  * Nearest Neighbor Search"): split each vector into M subvectors, learn
  * a K-centroid codebook per subspace, store each vector as M byte-sized
  * codes, and answer queries by asymmetric distance computation (ADC) —
  * per-query distance TABLES against the codebooks, so scoring a corpus
  * vector is M table lookups instead of a d-dimensional dot product.
  *
  * Why this matters at 100 TB: a 1 B-vector corpus of 64-dim floats is
  * 256 GB of raw vectors but 8 GB of PQ codes (M=8, K=16 → 8 codes/vec) —
  * the index fits in cluster memory where the raw vectors cannot. The
  * codebooks themselves are M·K subvector centroids (tiny, bounded):
  * trained distributed with one k-means pass, collected once, and
  * embedded as plan literals — exactly the sample-train-then-encode shape
  * production PQ systems use. Encoding and ADC scoring are then pure
  * map-side projections: the corpus never shuffles raw vectors; only
  * (q_id, vec_id, approx_d2) triples reach the top-k, and the ≤ k·queries
  * winners are re-ranked with exact cosine via an id join — the standard
  * fetch-then-rerank discipline.
  *
  * Cross-engine determinism (the whole pipeline is DuckDB-verified):
  * codebook means use the exact-integer quantization trick of
  * [[Similarity.topKIvf]] (order-independent sums), argmin tie-breaks are
  * first-index in both engines, and every floating sum is an ordered
  * left-to-right fold (Spark `aggregate` ≡ DuckDB `list_sum` over an
  * ordered list).
  */
object ProductQuant {

  /** Subspace geometry at fixture scale: 64 dims → 8 subspaces × 8 dims,
    * 16 centroids each (codes fit 4 bits; production commonly uses K=256
    * for byte codes — the algorithm is identical).
    */
  val NumSubspaces = 8
  val SubDim = 8
  val CodebookK = 16

  import Similarity.{Dim, NumQueries, TopK}

  /** Subvector m of `v` (1-based slice; m in [0, M)). */
  private def subvec(v: Column, m: Int): Column =
    slice(v, m * SubDim + 1, SubDim)

  /** Squared-L2 between two subvector COLUMNS (training-time scoring)
    * via the dot-product identity sv·sv − 2·sv·cv + cv·cv, so each term
    * is the NATIVE codegen'd array_dot — the assignment pass scores
    * O(sample·M·K) pairs and interpreted zip_with lambdas were its
    * bottleneck at K=256. The oracle computes the identical identity in
    * the identical order (same discipline as [[Similarity.topKIvf]]).
    */
  private def subD2(sv: Column, cv: Column): Column =
    dot(sv, sv) - lit(2.0) * dot(sv, cv) + dot(cv, cv)

  /** L2-normalized double vector — PQ quantizes the UNIT sphere, so its
    * L2 distances are monotone in cosine (‖q−x‖² = 2−2·cos for unit
    * vectors) and the ADC ranking targets the same metric as the
    * brute-force baseline. Division order mirrors the oracle exactly.
    */
  private def unitVec(embedding: Column): Column = {
    val v = embedding.cast("array<double>")
    transform(v, x => x / norm(v))
  }

  /** Train the M×K codebooks distributed, return them collected (bounded:
    * M·K·SubDim doubles — the sample-train shape; the corpus-scale work
    * is the one assignment pass + one aggregation). Seeds are the
    * subvectors of the `k` lowest vec_ids present (rank-based, so a
    * hash-sampled training set works; on the fixture's contiguous ids
    * rank−1 ≡ vec_id, which is what the SQL oracle's `vec_id < K` seed
    * predicate assumes). One k-means refinement pass with exact-integer
    * element means (bit-identical to the SQL oracle).
    */
  def trainCodebooks(embeddings: DataFrame,
      k: Int = CodebookK): Seq[Seq[Seq[Double]]] = {
    val e = embeddings.select(col("vec_id"),
      unitVec(col("embedding")).as("v"))
    val sub = e.select(col("vec_id"),
      explode(array((0 until NumSubspaces).map(m =>
        struct(lit(m).as("m"), subvec(col("v"), m).as("sv"))): _*)).as("s"))
      .select(col("vec_id"), col("s.m").as("m"), col("s.sv").as("sv"))
    // Seeds: the k lowest vec_ids present (TakeOrdered — one tiny job),
    // subvector-sliced on the driver (k·M rows) and rebroadcast as a
    // local frame — rank c is the cell id, ≡ vec_id on the fixture's
    // contiguous ids (what the oracle's `vec_id < K` predicate assumes).
    val spark0 = embeddings.sparkSession
    import spark0.implicits._
    val seedVecs = e.orderBy("vec_id").limit(k).collect()
    // corpora smaller than k train a k'=|corpus| codebook (codes stay
    // dense in [0, k'))
    val kEff = seedVecs.length
    require(kEff > 0, "cannot train PQ codebooks on an empty corpus")
    val seedCells: Seq[(Int, Long, Seq[Double])] = for {
      (r, c) <- seedVecs.toSeq.zipWithIndex
      m <- 0 until NumSubspaces
    } yield (m, c.toLong, r.getSeq[Double](1)
      .slice(m * SubDim, m * SubDim + SubDim))
    val seeds = seedCells.toDF("m", "cell", "cv")
    val assigned = sub.join(broadcast(seeds), Seq("m"))
      .select(col("vec_id"), col("m"), col("sv"), col("cell"),
        subD2(col("sv"), col("cv")).as("d2"))
      .groupBy("vec_id", "m")
      .agg(first(col("sv")).as("sv"),
        min_by(col("cell"), struct(col("d2"), col("cell"))).as("cell"))
    val refined = assigned
      .select(col("m"), col("cell"), posexplode(col("sv")).as(Seq("i", "x")))
      .groupBy("m", "cell", "i")
      .agg(sum(floor(col("x") * 1e6)).as("s"), count(lit(1)).as("cnt"))
      .groupBy("m", "cell")
      .agg(transform(
        array_sort(collect_list(struct(col("i"),
          (col("s").cast("double") / col("cnt") / 1e6).as("c")))),
        s => s.getField("c")).as("cv"))
      .collect()
    val byKey = refined.map { r =>
      (r.getAs[Int]("m"), r.getAs[Long]("cell").toInt) ->
        r.getSeq[Double](2)
    }.toMap
    // A seed whose subvector ties another seed's loses all members
    // (assignment ties break to the lowest cell), leaving its cell
    // empty. The encoding argmin still needs all K entries, identically
    // in both engines — empty cells keep their SEED subvector (the
    // oracle does the same via its seeds LEFT JOIN).
    val seedRows = seedCells.map { case (m, cell, cv) =>
      (m, cell.toInt) -> cv
    }.toMap
    (0 until NumSubspaces).map { m =>
      (0 until kEff).map { c =>
        byKey.getOrElse((m, c), seedRows((m, c)))
      }
    }
  }

  /** Map-side PQ codes for every vector (array<int>, M entries): the
    * native [[graft.functions.PqEncode]] codec with the collected
    * codebooks as ONE nested-array literal — a flat codegen'd M·K·S
    * loop per row (argmin ties keep the first code, matching the
    * oracle's list_position).
    */
  def encodeExpr(v: Column, codebooks: Seq[Seq[Seq[Double]]]): Column =
    graft.functions.GraftFunctions.pqEncode(v, typedLit(codebooks))

  /** The ADC approximate distance: Σ_m tabs[m][codes[m]+1], unrolled to
    * M flat element_at terms summed left-to-right (identical order to
    * the oracle's list comprehension). This is THE hot loop — it runs
    * once per (query, corpus vector) — and the flat form stays inside
    * whole-stage codegen where a zip_with/aggregate fold would execute
    * two interpreted lambda frames per element (measured ~20× slower on
    * the 1.28 M-vector probe).
    */
  private def adcSum(codes: Column, tabs: Column): Column =
    (1 to NumSubspaces).map { m =>
      element_at(element_at(tabs, m),
        (element_at(codes, m) + 1).cast("int"))
    }.reduce(_ + _)

  /** Per-query ADC distance tables: tabs[m][k] = ||q_m − c_{m,k}||² via
    * the native [[graft.functions.PqDistTables]] codec (same loop, same
    * index-ascending summation as the oracle's comprehension).
    */
  def distTablesExpr(qv: Column, codebooks: Seq[Seq[Seq[Double]]]): Column =
    graft.functions.GraftFunctions.pqDistTables(qv, typedLit(codebooks))

  /** ADC shortlist size: with K=16 codebooks whole clusters share codes,
    * so the ADC distance ties across cluster members — the shortlist must
    * be ≫ k for the exact re-rank to recover the true order (the standard
    * PQ search pipeline: ADC-scan → L-shortlist → fetch-by-id → re-rank).
    */
  val Shortlist = 10 * TopK

  /** PQ ANN end-to-end: train codebooks (distributed, collected bounded),
    * encode the corpus map-side, ADC-score every (query, vector) pair
    * from codes + tables alone, two-phase L-shortlist (per-partition
    * pre-limit → global, as in customer_value_ranks), then exact-cosine
    * re-rank of the ≤ queries·L shortlist fetched BY ID — raw vectors
    * never shuffle; only codes do the scan work.
    */
  def topKPq(embeddings: DataFrame): DataFrame =
    topKPqWith(embeddings, trainCodebooks(embeddings), Shortlist)

  /** Per-JVM codebook memoization (the [[IndexCache]] discipline for
    * the PQ model): a deployment trains codebooks once in its indexing
    * job and every encode/search after that reuses them — retraining
    * identical codebooks per query call is a harness artifact. Keyed on
    * (corpus key, k); the PQ and IVF-PQ queries over the same fixture
    * dir share one training run.
    */
  private val cbCache = new java.util.concurrent.ConcurrentHashMap[
    String, Seq[Seq[Seq[Double]]]]()

  def trainCodebooksCached(embeddings: DataFrame, key: String,
      k: Int = CodebookK): Seq[Seq[Seq[Double]]] =
    cbCache.computeIfAbsent(s"$key:$k",
      _ => trainCodebooks(embeddings, k))

  // ---- persisted codebooks: train once, retrain on distortion ------------

  /** Persist trained codebooks as the flat base artifact
    * (`path/codebooks`: one tiny M·K-row table). The serving read is
    * [[readPqCodebooks]]; the distortion-triggered refresh is
    * [[retrainPqCodebooks]] — same [[Versioned]] stage→validate→
    * commit→retire lifecycle as [[Similarity.rebuildIvfIndex]].
    */
  def writePqCodebooks(embeddings: DataFrame, path: String,
      k: Int = CodebookK): Unit = {
    val spark = embeddings.sparkSession
    Versioned.writeBase(spark, path)(
      writeCodebookSnapshot(trainCodebooks(embeddings, k), _, spark))
  }

  private def writeCodebookSnapshot(cbs: Seq[Seq[Seq[Double]]],
      root: String, spark: org.apache.spark.sql.SparkSession): Unit = {
    import spark.implicits._
    val rows = for {
      (mcb, m) <- cbs.zipWithIndex
      (cv, c) <- mcb.zipWithIndex
    } yield (m, c, cv)
    // one file: the whole artifact is M·K·SubDim doubles
    rows.toDF("m", "cell", "cv").coalesce(1)
      .write.mode("overwrite").parquet(s"$root/codebooks")
  }

  /** Read the CURRENT committed codebooks (resolve once — a caller
    * encoding a corpus and building distance tables from one read can
    * never mix two codebook generations).
    */
  def readPqCodebooks(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[Seq[Seq[Double]]] = {
    val root = Versioned.resolve(spark, path)
    val rows = spark.read.parquet(s"$root/codebooks").collect()
    val byKey = rows.map(r => (r.getAs[Int]("m"), r.getAs[Int]("cell"))
      -> r.getSeq[Double](2)).toMap
    val ms = rows.map(_.getAs[Int]("m")).distinct.sorted
    ms.map { m =>
      val cells = rows.filter(_.getAs[Int]("m") == m)
        .map(_.getAs[Int]("cell")).sorted
      cells.map(c => byKey((m, c))).toSeq
    }
  }

  /** Distortion-triggered codebook retrain with atomic swap — the
    * remedy arm of [[pqDistortion]]: train fresh codebooks on the
    * CURRENT corpus, stage them as `v-<n>/codebooks`, validate the
    * staged read, then promote via the atomic `_COMMITTED` marker.
    * A served query that already resolved its codebooks keeps using
    * its snapshot (retained through the next retrain); new reads get
    * the retrained ones — never a mix. Returns the committed version.
    */
  def retrainPqCodebooks(spark: org.apache.spark.sql.SparkSession,
      path: String, embeddings: DataFrame,
      k: Int = CodebookK): Long = {
    val cbs = trainCodebooks(embeddings, k)
    Versioned.rebuild(spark, path, PqArtifact) { (_, stage) =>
      writeCodebookSnapshot(cbs, stage, spark)
      // validate the staged artifact reads back to the trained shape
      val back = spark.read.parquet(s"$stage/codebooks").count()
      require(back == cbs.map(_.size).sum.toLong,
        s"staged codebooks have $back rows, trained ${cbs.map(_.size).sum}")
    }
  }

  /** The codebooks to [[Versioned]]: M·K rows per root, no key set (a
    * retrain is defined to replace every codeword).
    */
  private val PqArtifact = Versioned.Artifact("PQ codebooks",
    Seq("codebooks"),
    rowsOf = (spark, root) => spark.read.parquet(s"$root/codebooks").count())

  /** PQ quantization-distortion monitor — the retrain signal for a
    * served PQ/IVF-PQ index (the ADC-precision twin of
    * [[Similarity.annIndexDrift]]'s cell-balance signal): per subspace,
    * the count, mean, and max of every vector's squared-L2 error
    * against its NEAREST codeword. Codebooks freeze at index-build
    * time; as the corpus drifts, distortion climbs exactly where ADC
    * ordering degrades first, and a one-subspace spike localizes which
    * coordinates drifted (Jégou et al. §II-C: ADC error is bounded by
    * per-subspace quantization error).
    *
    * Cross-engine determinism: each squared-difference TERM is
    * quantized to 1e-9 fixed point BEFORE any summation (the
    * `embedding_covariance` / `zipf_fit` discipline), so both the
    * per-subvector error and the per-subspace roll-up are
    * order-independent BIGINT sums — nothing depends on float
    * association, and argmin runs on the quantized values so both
    * engines pick the same codeword even on near-ties. Scale: one
    * map-side explode (M rows/vector) joined against the broadcast
    * M·K codebook literal, one groupBy — no corpus self-join, no
    * collect.
    */
  def pqDistortion(embeddings: DataFrame,
      codebooks: Option[Seq[Seq[Seq[Double]]]] = None): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val cbs = codebooks.getOrElse(trainCodebooks(embeddings))
    val cbRows = for {
      (mats, m) <- cbs.zipWithIndex
      (cv, cell) <- mats.zipWithIndex
    } yield (m, cell, cv)
    val cb = broadcast(cbRows.toDF("m", "cell", "cv"))
    val e = embeddings.select(col("vec_id"),
      unitVec(col("embedding")).as("v"))
    val sub = e.select(col("vec_id"),
      explode(array((0 until NumSubspaces).map(m =>
        struct(lit(m).as("m"), subvec(col("v"), m).as("sv"))): _*)).as("s"))
      .select(col("vec_id"), col("s.m").as("m"), col("s.sv").as("sv"))
    // unrolled flat terms (the adcSum discipline): this evaluates once
    // per (vector, subspace, codeword) — zip_with/aggregate would run
    // two interpreted lambda frames per element outside codegen; the
    // terms are BIGINTs, so the summation order is moot anyway
    val d2e9 = (1 to SubDim).map { i =>
      val t = element_at(col("sv"), i) - element_at(col("cv"), i)
      floor(t * t * lit(1e9))
    }.reduce(_ + _)
    sub.join(cb, Seq("m"))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(d2e9).as("d2_e9"))
      .groupBy(col("m"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("d2_e9")).as("sum_d2_e9"),
        max(col("d2_e9")).as("max_d2_e9"))
      .select(col("m").cast("long").as("m"), col("n_vecs"),
        expr("sum_d2_e9 div n_vecs").as("mean_d2_e9"),
        col("max_d2_e9"))
      .orderBy(col("m"))
  }

  /** DuckDB mirror of [[pqDistortion]] — retrains the identical
    * codebooks (the [[pqCtes]] seed + one-pass refinement) and measures
    * the identical per-term-quantized error.
    */
  def pqDistortionSql: String = {
    val S = SubDim
    s"""WITH ${pqCtes},
       |qerr AS (
       |  SELECT sub.vec_id, sub.m,
       |    min(CAST(list_sum([CAST(floor(
       |      (sub.sv[i] - cb.cv[i]) * (sub.sv[i] - cb.cv[i])
       |        * 1000000000.0) AS BIGINT)
       |      for i in range(1, $S + 1)]) AS BIGINT)) AS d2_e9
       |  FROM sub JOIN cb ON sub.m = cb.m
       |  GROUP BY 1, 2)
       |SELECT CAST(m AS BIGINT) AS m,
       |  count(*) AS n_vecs,
       |  CAST(CAST(sum(d2_e9) AS BIGINT) // count(*) AS BIGINT)
       |    AS mean_d2_e9,
       |  max(d2_e9) AS max_d2_e9
       |FROM qerr
       |GROUP BY m
       |ORDER BY m""".stripMargin
  }

  /** The scale knobs, measured in ScaleProbe (SCALING.md): K must grow
    * past 16 once clusters dwarf the codebook (all members of a cluster
    * share codes → ADC is blind inside it; recall collapsed to 0.00 at
    * 200 k synthetic vectors), and the shortlist must track corpus size.
    * Codebooks train on a deterministic hash-sample (the standard PQ
    * practice — centroids need a representative sample, not the corpus).
    */
  def codebookKFor(corpusSize: Long): Int =
    if (corpusSize <= 50000L) CodebookK else 256

  def shortlistFor(corpusSize: Long): Int =
    math.max(Shortlist, math.min(2000, (corpusSize / 2000L).toInt))

  val TrainSampleTarget = 50000L

  /** Corpus-scaled PQ search: sample-train K=[[codebookKFor]] codebooks,
    * then the same encode/ADC/re-rank pipeline with a corpus-sized
    * shortlist. (The verified fixture query keeps the K=16 full-corpus
    * config so the SQL oracle stays tractable.)
    */
  def topKPqScaled(embeddings: DataFrame): DataFrame = {
    val n = embeddings.count()
    val mod = math.max(1L, n / TrainSampleTarget)
    val sample = embeddings
      .filter(pmod(xxhash64(col("vec_id")), lit(mod)) === 0)
    topKPqWith(embeddings, trainCodebooks(sample, codebookKFor(n)),
      shortlistFor(n))
  }

  /** Encode, ADC-scan, shortlist, re-rank against given codebooks. */
  def topKPqWith(embeddings: DataFrame, cbs: Seq[Seq[Seq[Double]]],
      shortlistN: Int): DataFrame = {
    val e = embeddings.select(col("vec_id"),
      unitVec(col("embedding")).as("v"))
    val codes = e.select(col("vec_id"),
      encodeExpr(col("v"), cbs).as("codes"))
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"),
        distTablesExpr(col("v"), cbs).as("tabs"))
    val scored = codes.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(adcSum(col("codes"), col("tabs")), 6).as("approx_d2"))
    shortlistAndRerank(scored, embeddings, shortlistN)
  }

  /** The LSH-pruned composition — the production-index shape the PQ
    * probe's findings point to (SCALING.md): the scan touches only
    * (bucket, codes) per corpus vector (~16 bytes instead of the 256-byte
    * raw vector), candidates are restricted to the query's sign bucket
    * plus its Hamming-1 probes ([[Similarity.topKLshMultiProbe]]'s
    * recall knob), ADC orders the candidates from codes alone, and the
    * bounded shortlist is re-ranked with exact cosine fetched by id. At
    * 100 TB this is LSH for candidate generation + PQ for scan memory +
    * exact scoring for ranking precision — each layer doing the one job
    * it is good at.
    */
  def topKPqLshPruned(embeddings: DataFrame,
      planes: Int = Similarity.NumPlanes,
      shortlistN: Int = Shortlist): DataFrame = {
    val cbs = trainCodebooks(embeddings)
    val e = embeddings.select(col("vec_id"),
      unitVec(col("embedding")).as("v"))
    val indexed = e.select(col("vec_id"),
      Similarity.bucketExpr(col("v"), planes).as("bucket"),
      encodeExpr(col("v"), cbs).as("codes"))
    val probeBuckets = col("bucket") +: (0 until planes)
      .map(h => col("bucket").bitwiseXOR(lit(1L << h)))
    val probes = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"),
        distTablesExpr(col("v"), cbs).as("tabs"),
        Similarity.bucketExpr(col("v"), planes).as("bucket"))
      .select(col("q_id"), col("tabs"),
        explode(array(probeBuckets: _*)).as("p_bucket"))
    val scored = indexed.join(broadcast(probes),
        col("bucket") === col("p_bucket") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(adcSum(col("codes"), col("tabs")), 6).as("approx_d2"))
    shortlistAndRerank(scored, embeddings, shortlistN)
  }

  /** Two-phase ADC shortlist (per-partition pre-limit → global, as in
    * customer_value_ranks) + exact-cosine re-rank of the bounded
    * shortlist fetched BY ID — raw vectors never shuffle; cosines are
    * computed on the RAW vectors, as in the brute baseline.
    */
  private def shortlistAndRerank(scored: DataFrame, embeddings: DataFrame,
      shortlistN: Int): DataFrame = {
    val wLocal = Window.partitionBy(col("q_id"), spark_partition_id())
      .orderBy(col("approx_d2"), col("vec_id"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("approx_d2"), col("vec_id"))
    val shortlist = scored
      .withColumn("pre", row_number().over(wLocal))
      .filter(col("pre") <= shortlistN)
      .withColumn("sl", row_number().over(w))
      .filter(col("sl") <= shortlistN)
      .select("q_id", "vec_id", "approx_d2")
    val en = embeddings.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", norm(col("v")))
    val qv = en.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    val wc = Window.partitionBy("q_id")
      .orderBy(col("cosine").desc, col("vec_id"))
    shortlist.join(en, Seq("vec_id")).join(broadcast(qv), Seq("q_id"))
      .select(col("q_id"), col("vec_id"), col("approx_d2"),
        round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6)
          .as("cosine"))
      .withColumn("rank", row_number().over(wc).cast("long"))
      .filter(col("rank") <= TopK)
      .select("q_id", "rank", "vec_id", "approx_d2", "cosine")
      .orderBy("q_id", "rank")
  }

  /** DuckDB mirror of the full PQ pipeline (training, encoding, ADC,
    * top-k, exact re-rank).
    */
  /** Shared oracle fragments: unit vectors, codebook training, encoding,
    * and per-query ADC tables (`raw` … `qdt`), used by both [[topKPqSql]]
    * and [[topKIvfPqSql]].
    */
  private def pqCtes: String = {
    val M = NumSubspaces; val K = CodebookK; val S = SubDim
    s"""raw AS (
       |  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS rv,
       |    sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
       |                   for x in embedding])) AS nrm
       |  FROM embeddings),
       |e AS (
       |  SELECT vec_id,
       |    [x / sqrt(list_sum([y * y for y in rv])) for x in rv] AS v
       |  FROM raw),
       |sub AS (
       |  SELECT vec_id, m, v[(m*$S+1):(m*$S+$S)] AS sv
       |  FROM e, unnest(range(0, $M)) AS u(m)),
       |seeds AS (
       |  SELECT m, vec_id AS cell, sv AS cv FROM sub
       |  WHERE vec_id < $K),
       |assigned AS (
       |  -- training d2 via the dot identity sv·sv − 2·sv·cv + cv·cv,
       |  -- mirroring the Spark side's native array_dot terms exactly
       |  SELECT vec_id, m, sv, cell FROM (
       |    SELECT sub.vec_id, sub.m, sub.sv, seeds.cell,
       |      row_number() OVER (PARTITION BY sub.vec_id, sub.m ORDER BY
       |        list_sum([sub.sv[i] * sub.sv[i]
       |                  for i in range(1, $S + 1)])
       |        - 2.0 * list_sum([sub.sv[i] * seeds.cv[i]
       |                          for i in range(1, $S + 1)])
       |        + list_sum([seeds.cv[i] * seeds.cv[i]
       |                    for i in range(1, $S + 1)]),
       |        seeds.cell) AS rn
       |    FROM sub JOIN seeds ON sub.m = seeds.m)
       |  WHERE rn = 1),
       |cbsum AS (
       |  SELECT m, cell, i,
       |    CAST(sum(CAST(floor(sv[i] * 1000000.0) AS BIGINT)) AS BIGINT)
       |      AS s,
       |    count(*) AS cnt
       |  FROM assigned, unnest(range(1, $S + 1)) AS u(i)
       |  GROUP BY m, cell, i),
       |cb0 AS (
       |  SELECT m, cell,
       |    list(CAST(s AS DOUBLE) / cnt / 1000000.0 ORDER BY i) AS cv
       |  FROM cbsum GROUP BY m, cell),
       |cb AS (
       |  SELECT seeds.m, seeds.cell, coalesce(cb0.cv, seeds.cv) AS cv
       |  FROM seeds LEFT JOIN cb0
       |    ON seeds.m = cb0.m AND seeds.cell = cb0.cell),
       |subd AS (
       |  SELECT sub.vec_id, sub.m, cb.cell,
       |    list_sum([(sub.sv[i] - cb.cv[i]) * (sub.sv[i] - cb.cv[i])
       |              for i in range(1, $S + 1)]) AS d2
       |  FROM sub JOIN cb ON sub.m = cb.m),
       |dl AS (
       |  SELECT vec_id, m, list(d2 ORDER BY cell) AS ds
       |  FROM subd GROUP BY vec_id, m),
       |codes AS (
       |  SELECT vec_id,
       |    list(list_position(ds, list_min(ds)) - 1 ORDER BY m) AS codes
       |  FROM dl GROUP BY vec_id),
       |qdt AS (
       |  SELECT vec_id AS q_id, list(ds ORDER BY m) AS tabs
       |  FROM dl WHERE vec_id < $NumQueries GROUP BY vec_id)""".stripMargin
  }

  /** Shared oracle tail: shortlist → exact-cosine re-rank → top-k, over
    * whatever `scored` CTE precedes it.
    */
  private def pqTail: String =
    s"""shortlist AS (
       |  SELECT q_id, vec_id, approx_d2 FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |      ORDER BY approx_d2, vec_id) AS sl
       |    FROM scored)
       |  WHERE sl <= $Shortlist),
       |en AS (SELECT vec_id, rv AS v, nrm FROM raw),
       |reranked AS (
       |  SELECT w.q_id, w.vec_id, w.approx_d2,
       |    round(list_sum([q.v[i] * c.v[i]
       |                    for i in range(1, len(q.v) + 1)])
       |      / (q.nrm * c.nrm), 6) + 0 AS cosine
       |  FROM shortlist w
       |  JOIN en c ON c.vec_id = w.vec_id
       |  JOIN en q ON q.vec_id = w.q_id)
       |SELECT q_id, rank, vec_id, approx_d2, cosine FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY cosine DESC, vec_id) AS rank
       |  FROM reranked)
       |WHERE rank <= $TopK
       |ORDER BY q_id, rank""".stripMargin

  def topKPqSql: String = {
    val M = NumSubspaces
    s"""WITH ${pqCtes},
       |scored AS (
       |  SELECT q.q_id, c.vec_id,
       |    round(list_sum([q.tabs[m][c.codes[m] + 1]
       |                    for m in range(1, $M + 1)]), 6) AS approx_d2
       |  FROM codes c JOIN qdt q ON c.vec_id != q.q_id),
       |$pqTail""".stripMargin
  }

  /** IVF-PQ — the composition billion-scale indexes actually run
    * (Jégou et al. §V; FAISS `IVFPQ`): a coarse IVF quantizer over the
    * UNIT vectors prunes each query to its nProbe nearest cells, and
    * ADC over the PQ codes orders only the survivors, so per-query scan
    * work is (nProbe/nlist)·N code lookups instead of N — while the
    * scan still touches codes only (16 bytes/vector), never raw
    * vectors. Exact-cosine re-rank of the bounded shortlist restores
    * ranking precision (PQ's quantization noise cannot order close
    * neighbors — the measured two-regime recall in SCALING.md).
    *
    * Coarse cells reuse [[Similarity.topKIvf]]'s machinery verbatim
    * (seeded cells + one exact-fixed-point k-means pass + argmin
    * aggregate assignment) applied to unit vectors. At production scale
    * swap the flat cell ranking for [[Similarity.topKIvfHier]]'s
    * coarse-then-fine probe ranking and persist (cell, codes) with
    * [[Similarity.writeIvfIndex]]'s layout — the composition points are
    * identical; the fixture query keeps the flat form so the SQL oracle
    * stays one statement.
    */
  private def cellD2(v: Column, vn2: Column, cv: Column,
      cn2: Column): Column =
    vn2 - lit(2.0) * dot(v, cv) + cn2

  /** The IVF-PQ build phase shared by the in-flight [[topKIvfPq]] and
    * the persisted index ([[writeIvfPqIndex]]): refined IVF centroids
    * `(cell, cv, cn2)` and the stored code table `(vec_id, cell,
    * codes)` — 16 bytes + a cell id per corpus vector.
    */
  private def ivfPqParts(embeddings: DataFrame, cells: Int,
      cbs: Seq[Seq[Seq[Double]]]): (DataFrame, DataFrame) = {
    val e = embeddings
      .select(col("vec_id"), unitVec(col("embedding")).as("v"))
      .withColumn("vn2", dot(col("v"), col("v")))
    val cents0 = e.filter(col("vec_id") < cells)
      .select(col("vec_id").as("cell"), col("v").as("cv"),
        col("vn2").as("cn2"))
    def nearestCell(cents: DataFrame): DataFrame =
      e.join(broadcast(cents), lit(true))
        .select(col("vec_id"), col("v"), col("vn2"), col("cell"),
          cellD2(col("v"), col("vn2"), col("cv"), col("cn2")).as("d2"))
        .groupBy("vec_id")
        .agg(first(col("v")).as("v"), first(col("vn2")).as("vn2"),
          min_by(col("cell"), struct(col("d2"), col("cell"))).as("cell"))
    val refined = nearestCell(cents0)
      .select(col("cell"), posexplode(col("v")).as(Seq("i", "x")))
      .groupBy("cell", "i")
      .agg(sum(floor(col("x") * 1e6)).as("s"), count(lit(1)).as("cnt"))
      .groupBy("cell")
      .agg(transform(
        array_sort(collect_list(struct(col("i"),
          (col("s").cast("double") / col("cnt") / 1e6).as("c")))),
        s => s.getField("c")).as("cv"))
      .withColumn("cn2", dot(col("cv"), col("cv")))
    val index = nearestCell(refined)
      .select(col("vec_id"), col("cell"),
        encodeExpr(col("v"), cbs).as("codes"))
    (refined, index)
  }

  /** Per-query probe table: each query's nProbe nearest refined cells
    * with its ADC distance tables. Bounded at NumQueries · nProbe rows.
    */
  private def probesFor(queries: DataFrame, refined: DataFrame,
      nProbe: Int, cbs: Seq[Seq[Seq[Double]]]): DataFrame =
    queries
      .join(broadcast(refined), lit(true))
      .select(col("vec_id"), col("v"), col("cell"),
        cellD2(col("v"), col("vn2"), col("cv"), col("cn2")).as("d2"))
      .withColumn("rn", row_number().over(Window.partitionBy("vec_id")
        .orderBy(col("d2"), col("cell"))))
      .filter(col("rn") <= nProbe)
      .select(col("vec_id").as("q_id"),
        distTablesExpr(col("v"), cbs).as("tabs"), col("cell").as("p_cell"))

  def topKIvfPq(embeddings: DataFrame,
      cells: Int = Similarity.IvfCells,
      nProbe: Int = Similarity.IvfProbes,
      shortlistN: Int = Shortlist,
      codebooks: Option[Seq[Seq[Seq[Double]]]] = None): DataFrame = {
    val cbs = codebooks.getOrElse(trainCodebooks(embeddings))
    val (refined, index) = ivfPqParts(embeddings, cells, cbs)
    val queries = embeddings.filter(col("vec_id") < NumQueries)
      .select(col("vec_id"), unitVec(col("embedding")).as("v"))
      .withColumn("vn2", dot(col("v"), col("v")))
    val probes = probesFor(queries, refined, nProbe, cbs)
    val scored = index.join(broadcast(probes),
        col("cell") === col("p_cell") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(adcSum(col("codes"), col("tabs")), 6).as("approx_d2"))
    shortlistAndRerank(scored, embeddings, shortlistN)
  }

  /** Materialize the IVF-PQ index (FAISS persists exactly these two
    * artifacts): the code table hive-partitioned by cell — so a served
    * query reads only its probed `cell=` directories — and the refined
    * centroid sidecar. Building costs the two flat assignment passes
    * and the encode; every query after is [[topKIvfPqServed]].
    */
  def writeIvfPqIndex(embeddings: DataFrame, path: String,
      cells: Int = Similarity.IvfCells,
      codebooks: Option[Seq[Seq[Seq[Double]]]] = None): Unit = {
    val cbs = codebooks.getOrElse(trainCodebooks(embeddings))
    val (refined, index) = ivfPqParts(embeddings, cells, cbs)
    // repartition BY CELL first (writeIvfIndex's one-file-per-cell
    // lesson): without it every task emits a file into every cell= dir
    index.repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/codes")
    refined.write.mode("overwrite").parquet(s"$path/cents")
  }

  /** [[topKIvfPq]] served from the persisted index — identical rows
    * (same centroids, same codes; shares the oracle). Per-query cost:
    * probe selection against the broadcast centroid sidecar, a
    * partition-pruned scan of the probed cells' codes, ADC, and the
    * exact re-rank of the bounded shortlist. The probed-cell set is a
    * bounded collect (≤ NumQueries · nProbe values).
    */
  def topKIvfPqServed(spark: org.apache.spark.sql.SparkSession,
      embeddings: DataFrame, path: String,
      nProbe: Int = Similarity.IvfProbes,
      shortlistN: Int = Shortlist,
      codebooks: Option[Seq[Seq[Seq[Double]]]] = None): DataFrame = {
    val cbs = codebooks.getOrElse(trainCodebooks(embeddings))
    val refined = spark.read.parquet(s"$path/cents")
    val queries = embeddings.filter(col("vec_id") < NumQueries)
      .select(col("vec_id"), unitVec(col("embedding")).as("v"))
      .withColumn("vn2", dot(col("v"), col("v")))
    val probes = probesFor(queries, refined, nProbe, cbs)
    val probedCells = probes.select(col("p_cell").cast("long"))
      .distinct().collect().map(_.getLong(0))
    // direct-path read of the probed cells' code dirs — a whole-root
    // read with an isin filter lists every cell dir before pruning
    // (the [[graft.streaming.BatchIndex.readHitPartitions]] listing
    // discipline)
    val index = graft.streaming.BatchIndex.readHitPartitions(spark,
        s"$path/codes", "cell", probedCells.toIndexedSeq,
        spark.read.parquet(s"$path/codes").limit(0))
      .withColumn("cell", col("cell").cast("long"))
    val scored = index.join(broadcast(probes),
        col("cell") === col("p_cell") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(adcSum(col("codes"), col("tabs")), 6).as("approx_d2"))
    shortlistAndRerank(scored, embeddings, shortlistN)
  }

  /** [[topKPqWith]] served from the same persisted code table (cell
    * column ignored — plain PQ scans every code): the encode pass moves
    * to the index build; the query pays the ADC scan + re-rank only.
    */
  def topKPqServed(spark: org.apache.spark.sql.SparkSession,
      embeddings: DataFrame, path: String,
      cbs: Seq[Seq[Seq[Double]]],
      shortlistN: Int = Shortlist): DataFrame = {
    val codes = spark.read.parquet(s"$path/codes")
      .select(col("vec_id"), col("codes"))
    // v projected as its own attribute first (the Winnow inline-HOF
    // lesson: distTablesExpr references it M·K times)
    val q = embeddings.filter(col("vec_id") < NumQueries)
      .select(col("vec_id"), unitVec(col("embedding")).as("v"))
      .select(col("vec_id").as("q_id"),
        distTablesExpr(col("v"), cbs).as("tabs"))
    val scored = codes.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(adcSum(col("codes"), col("tabs")), 6).as("approx_d2"))
    shortlistAndRerank(scored, embeddings, shortlistN)
  }

  /** DuckDB mirror of [[topKIvfPq]]: the PQ fragments plus the
    * unit-vector IVF cell chain, with scoring restricted to each
    * query's probed cells.
    */
  def topKIvfPqSql(cells: Int = Similarity.IvfCells,
      nProbe: Int = Similarity.IvfProbes): String = {
    val M = NumSubspaces
    def d2(vExpr: String, vn2Expr: String, cvExpr: String,
        cn2Expr: String): String =
      s"""$vn2Expr
         |        - 2.0 * list_sum([$vExpr[i] * $cvExpr[i]
         |                          for i in range(1, len($vExpr) + 1)])
         |        + $cn2Expr""".stripMargin
    s"""WITH ${pqCtes},
       |ev AS (
       |  SELECT vec_id, v, list_sum([x * x for x in v]) AS vn2 FROM e),
       |cents0 AS (
       |  SELECT vec_id AS cell, v AS cv, vn2 AS cn2 FROM ev
       |  WHERE vec_id < $cells),
       |ranked0 AS (
       |  SELECT ev.vec_id, ev.v, ev.vn2, cents0.cell,
       |    row_number() OVER (PARTITION BY ev.vec_id ORDER BY
       |      ${d2("ev.v", "ev.vn2", "cents0.cv", "cents0.cn2")},
       |      cents0.cell) AS rn
       |  FROM ev CROSS JOIN cents0),
       |refined0 AS (
       |  SELECT cell, i,
       |    CAST(sum(CAST(floor(v[i] * 1000000.0) AS BIGINT)) AS BIGINT)
       |      AS s,
       |    count(*) AS cnt
       |  FROM (SELECT vec_id, v, cell FROM ranked0 WHERE rn = 1),
       |    unnest(range(1, len(v) + 1)) AS u(i)
       |  GROUP BY cell, i),
       |refined1 AS (
       |  SELECT cell,
       |    list(CAST(s AS DOUBLE) / cnt / 1000000.0 ORDER BY i) AS cv
       |  FROM refined0 GROUP BY cell),
       |refined AS (
       |  SELECT cell, cv, list_sum([x * x for x in cv]) AS cn2
       |  FROM refined1),
       |rankedc AS (
       |  SELECT ev.vec_id, ev.vn2, refined.cell,
       |    row_number() OVER (PARTITION BY ev.vec_id ORDER BY
       |      ${d2("ev.v", "ev.vn2", "refined.cv", "refined.cn2")},
       |      refined.cell) AS rn
       |  FROM ev CROSS JOIN refined),
       |cellof AS (SELECT vec_id, cell FROM rankedc WHERE rn = 1),
       |qprobe AS (
       |  SELECT vec_id AS q_id, cell FROM rankedc
       |  WHERE rn <= $nProbe AND vec_id < $NumQueries),
       |scored AS (
       |  SELECT q.q_id, c.vec_id,
       |    round(list_sum([q.tabs[m][c.codes[m] + 1]
       |                    for m in range(1, $M + 1)]), 6) AS approx_d2
       |  FROM codes c
       |  JOIN cellof co ON co.vec_id = c.vec_id
       |  JOIN qprobe p ON p.cell = co.cell
       |  JOIN qdt q ON q.q_id = p.q_id AND c.vec_id != q.q_id),
       |$pqTail""".stripMargin
  }
}
