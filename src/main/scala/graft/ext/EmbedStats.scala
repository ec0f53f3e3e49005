package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Second-moment statistics over the embedding corpus: exact one-pass
  * covariance (upper triangle) and a deterministic power-iteration PCA
  * on the resulting d×d matrix — the inputs to embedding whitening and
  * SemDeDup-style curation, and the drift companion to
  * [[Similarity.ivfIndexDrift]].
  *
  * Scale shape: the corpus is touched once; each vector emits its
  * d(d+1)/2 upper-triangle products map-side (two chained codegen'd
  * posexplodes, no join) into a hash aggregate with only d(d+1)/2 keys,
  * so the shuffle carries d(d+1)/2 rows per partition regardless of
  * corpus size. The d-row mean table broadcasts. PCA then runs on the
  * driver over the d×d result — linear algebra on a 64×64 matrix is
  * driver-sized by construction.
  *
  * Cross-engine determinism: coordinates quantize to 1e-4 fixed point,
  * so every sum is an exact integer; the final mean/cov doubles are one
  * identical expression tree in both engines. Long sums hold to ~1e9
  * vectors at this quantization; beyond that widen the accumulator to
  * DECIMAL(38,0) in both engines.
  */
object EmbedStats {

  /** Upper-triangle covariance of the embedding coordinates.
    * Output: (i, j, n, mean_i, mean_j, cov) with 1-based i ≤ j.
    */
  def covariance(embeddings: DataFrame): DataFrame = {
    val q = transform(col("embedding"),
      x => floor(x.cast("double") * 1e4 + 0.5).cast("long"))
    val base = embeddings.select(q.as("qa"))
    val moms = base
      .select(posexplode(col("qa")).as(Seq("i0", "xi")))
      .groupBy((col("i0") + 1).as("i"))
      .agg(sum("xi").as("si"), count(lit(1)).as("n"))
    val prods = base
      .select(col("qa"), posexplode(col("qa")).as(Seq("i0", "xi")))
      .select(col("xi"), (col("i0") + 1).as("i"),
        posexplode(slice(col("qa"), col("i0") + 1,
          size(col("qa")) - col("i0"))).as(Seq("j0", "xj")))
      .select(col("i"), (col("i") + col("j0")).as("j"),
        (col("xi") * col("xj")).as("p"))
      .groupBy("i", "j").agg(sum("p").as("sij"))
    prods
      .join(broadcast(moms), Seq("i"))
      .join(broadcast(moms.select(col("i").as("j"),
        col("si").as("sj"))), Seq("j"))
      .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
        col("n"),
        expr("round(CAST(si AS DOUBLE) / n / 1e4, 6)").as("mean_i"),
        expr("round(CAST(sj AS DOUBLE) / n / 1e4, 6)").as("mean_j"),
        expr("round((CAST(sij AS DOUBLE) / n"
          + " - (CAST(si AS DOUBLE) / n) * (CAST(sj AS DOUBLE) / n))"
          + " / 1e8, 6)").as("cov"))
      .orderBy("i", "j")
  }

  /** DuckDB mirror of [[covariance]] (same fixed-point quantization and
    * final expression tree; generate_series unnests index positions).
    */
  val covarianceSql: String =
    """WITH pos AS MATERIALIZED (
      |  SELECT vec_id, embedding,
      |    unnest(generate_series(1, len(embedding))) AS i
      |  FROM embeddings),
      |q AS MATERIALIZED (
      |  SELECT vec_id, embedding, i,
      |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e4 + 0.5) AS BIGINT)
      |      AS xi
      |  FROM pos),
      |moms AS MATERIALIZED (
      |  SELECT i, CAST(sum(xi) AS BIGINT) AS si, count(*) AS n
      |  FROM q GROUP BY 1),
      |pairs AS MATERIALIZED (
      |  SELECT i, unnest(generate_series(i, len(embedding))) AS j,
      |    xi, embedding
      |  FROM q),
      |prods AS MATERIALIZED (
      |  SELECT i, j,
      |    CAST(sum(xi * CAST(floor(CAST(embedding[j] AS DOUBLE) * 1e4
      |      + 0.5) AS BIGINT)) AS BIGINT) AS sij
      |  FROM pairs GROUP BY 1, 2)
      |SELECT p.i, p.j, m1.n,
      |  round(CAST(m1.si AS DOUBLE) / m1.n / 1e4, 6) + 0 AS mean_i,
      |  round(CAST(m2.si AS DOUBLE) / m2.n / 1e4, 6) + 0 AS mean_j,
      |  round((CAST(sij AS DOUBLE) / m1.n
      |    - (CAST(m1.si AS DOUBLE) / m1.n) * (CAST(m2.si AS DOUBLE) / m2.n))
      |    / 1e8, 6) + 0 AS cov
      |FROM prods p
      |JOIN moms m1 ON p.i = m1.i
      |JOIN moms m2 ON p.j = m2.i
      |ORDER BY p.i, p.j""".stripMargin

  /** JL target dimensionality. */
  val JlDim = 16

  /** Deterministic projection-matrix entry in [−1, 1): md5-derived like
    * the LSH hyperplanes, so both engines carry identical literals and
    * no RNG state exists anywhere.
    */
  def jlPlaneInt(j: Int, d: Int): Long = Hashing.jvmH32(s"jl:$j:$d")
  private def jlEntry(j: Int, d: Int): Double =
    jlPlaneInt(j, d) / 2147483648.0 - 1.0

  /** Johnson–Lindenstrauss random projection 64 → [[JlDim]] dims — the
    * cheap linear compression ahead of ANN/clustering when PQ is too
    * heavy: norms (hence distances) are preserved in expectation with
    * distortion ~√(2/k). Entries are uniform[−1,1) literals (variance
    * 1/3), so the unbiased scale is √(3/k). Pure map-side projection —
    * one codegen'd dot per output dim, no shuffle; output long-form
    * (vec_id, j, p) for the exact-hash oracle.
    */
  def jlProject(embeddings: DataFrame): DataFrame = {
    val v = col("embedding").cast("array<double>")
    val projCols = array((0 until JlDim).map { j =>
      val plane = array((0 until 64).map(d => lit(jlEntry(j, d))): _*)
      round(Dedup.dot(v, plane) * expr("sqrt(3.0 / 16)"), 6)
    }: _*)
    embeddings
      .select(col("vec_id"), posexplode(projCols).as(Seq("j", "p")))
      .select(col("vec_id"), col("j").cast("long").as("j"), col("p"))
      .orderBy("vec_id", "j")
  }

  /** DuckDB mirror of [[jlProject]]: the same md5-derived plane
    * literals inlined (Double.toString round-trips exactly), identical
    * left-to-right multiply-accumulate and scale.
    */
  def jlProjectSql: String = {
    val rows = (0 until JlDim).map { j =>
      val plane = (0 until 64)
        .map(d => jlEntry(j, d).toString).mkString(", ")
      s"SELECT CAST($j AS BIGINT) AS j, [$plane] AS plane"
    }.mkString("\n  UNION ALL ")
    s"""WITH planes AS MATERIALIZED (
       |  $rows)
       |SELECT vec_id, j,
       |  round(list_sum([CAST(embedding[i] AS DOUBLE) * plane[i]
       |                  for i in range(1, 65)])
       |    * sqrt(3.0 / 16), 6) + 0 AS p
       |FROM embeddings CROSS JOIN planes
       |ORDER BY vec_id, j""".stripMargin
  }

  /** Label-distribution audit over the embedding corpus — the
    * class-balance check a supervised/contrastive training set gets
    * before sampling weights are chosen: per-label count, corpus share
    * (exact ppm), and the signed deviation from a uniform split. One
    * combinable aggregate plus a 1-row broadcast totals attach.
    */
  def labelBalance(embeddings: DataFrame): DataFrame = {
    val tot = broadcast(embeddings.agg(
      count(lit(1)).as("n_total"),
      countDistinct(col("label")).as("n_labels")))
    embeddings.groupBy("label").agg(count(lit(1)).as("n"))
      .crossJoin(tot)
      .select(col("label"), col("n"),
        expr("n * 1000000 div n_total").as("share_ppm"),
        expr("n * 1000000 div n_total - 1000000 div n_labels")
          .as("uniform_delta_ppm"))
      .orderBy("label")
  }

  /** DuckDB mirror of [[labelBalance]] (each division is on positive
    * operands, so truncating `div` ≡ flooring `//`; the subtraction
    * happens after).
    */
  val labelBalanceSql: String =
    """WITH tot AS (SELECT count(*) AS n_total,
      |    count(DISTINCT label) AS n_labels FROM embeddings)
      |SELECT CAST(label AS BIGINT) AS label, count(*) AS n,
      |  count(*) * 1000000 // n_total AS share_ppm,
      |  count(*) * 1000000 // n_total - 1000000 // n_labels
      |    AS uniform_delta_ppm
      |FROM embeddings CROSS JOIN tot
      |GROUP BY label, n_total, n_labels ORDER BY label""".stripMargin

  /** Hash-embedding dimensionality. */
  val HashDim = 64

  /** Hash-projected document embeddings (the feature-hashing trick,
    * Weinberger et al. 2009 — public literature): each token hashes to
    * one of [[HashDim]] buckets with an md5-derived ±1 sign, bucket
    * sums L2-normalize into a dense unit vector. The model-free bridge
    * from raw text into the vector stack — cosine over these vectors
    * is hashed bag-of-words similarity, and the output schema matches
    * the `embeddings` table shape, so the ANN / dedup / covariance /
    * JL operators compose directly on corpus text with no model in
    * the loop.
    *
    * Scale shape: entirely map-side — the per-doc bucket fold runs as
    * one codegen'd `aggregate` over the token array (no explode, no
    * shuffle). Cross-engine determinism: bucket sums are exact
    * integers (signs ±1), the normalize is one identical double
    * expression, and a zero vector (all signs cancel) emits 0.0s
    * rather than NaN.
    */
  def hashEmbeddings(documents: DataFrame): DataFrame = {
    // native bow_hash_embed: the HOF fold form (per-token (bucket,
    // sign) structs aggregated into a dim-long accumulator) allocates
    // a fresh array per token — the expression does the identical
    // arithmetic in one imperative pass (ExtSpec pins bit-equality
    // against the HOF reference)
    documents
      .select(col("doc_id"),
        graft.functions.GraftFunctions
          .bowHashEmbed(col("text"), HashDim).as("embedding"))
      .orderBy("doc_id")
  }

  /** The higher-order-function reference form of [[hashEmbeddings]] —
    * kept as the in-engine equivalence witness the native expression
    * is pinned against (ExtSpec), exactly like the SimHash/MinHash
    * aggregate-bundle references.
    */
  def hashEmbeddingsHof(documents: DataFrame): DataFrame = {
    val toks = filter(split(col("text"), " "), t => t =!= "")
    val acc0 = array_repeat(lit(0L), HashDim)
    val hashed = transform(toks, t => struct(
      (Hashing.h32(concat(lit("hemb|"), t)) % HashDim)
        .cast("int").as("b"),
      when(Hashing.h32(concat(lit("hsign|"), t)) % 2 === 0, 1L)
        .otherwise(-1L).as("s")))
    val folded = aggregate(hashed, acc0, (acc, h) =>
      transform(acc, (x, i) =>
        x + when(i === h.getField("b"), h.getField("s"))
          .otherwise(0L)))
    documents
      .select(col("doc_id"), folded.as("raw"))
      .withColumn("nrm",
        sqrt(aggregate(col("raw"), lit(0.0),
          (a, x) => a + x.cast("double") * x.cast("double"))))
      .select(col("doc_id"),
        when(col("nrm") === 0.0, array_repeat(lit(0.0), HashDim))
          .otherwise(transform(col("raw"),
            x => round(x.cast("double") / col("nrm"), 6)))
          .as("embedding"))
      .orderBy("doc_id")
  }

  /** [[hashEmbeddings]] in long form for the verified surface:
    * `(doc_id, dim BIGINT, value DOUBLE)` via posexplode — the exact
    * reshape [[jlProject]] uses, because scalar columns are the only
    * shape a row-sorting cross-engine comparator can canonicalize.
    * A NULL-text doc's embedding is NULL, and posexplode of NULL
    * emits no rows, so such docs are absent here (the array form
    * keeps them as a NULL-embedding row).
    */
  def hashEmbeddingsLong(documents: DataFrame): DataFrame = {
    documents
      .select(col("doc_id"),
        posexplode(graft.functions.GraftFunctions
          .bowHashEmbed(col("text"), HashDim)))
      .select(col("doc_id"), col("pos").cast("long").as("dim"),
        col("col").as("value"))
      .orderBy("doc_id", "dim")
  }

  /** Shared CTE prefix of the two hash-embedding mirrors: per-doc
    * per-bucket signed sums densified over a generate_series spine
    * (NULL-text docs excluded — they carry no tokens and the Spark
    * native expression is null-propagating), plus the per-doc L2 norm.
    */
  private def hashEmbeddingsCtes: String = {
    val b = Hashing.h32Sql("'hemb|' || t")
    val sg = Hashing.h32Sql("'hsign|' || t")
    s"""toks AS MATERIALIZED (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS t
       |  FROM documents WHERE text IS NOT NULL),
       |tf AS MATERIALIZED (
       |  SELECT doc_id, $b % $HashDim AS bkt,
       |    CASE WHEN $sg % 2 = 0 THEN 1 ELSE -1 END AS s
       |  FROM toks WHERE t != ''),
       |sums AS MATERIALIZED (
       |  SELECT doc_id, bkt, CAST(sum(s) AS BIGINT) AS v
       |  FROM tf GROUP BY 1, 2),
       |spine AS (
       |  SELECT d.doc_id, i.i AS bkt
       |  FROM (SELECT doc_id FROM documents
       |        WHERE text IS NOT NULL) d
       |  CROSS JOIN (SELECT unnest(generate_series(0, ${HashDim - 1}))
       |              AS i) i),
       |dense AS (
       |  SELECT sp.doc_id, sp.bkt, coalesce(su.v, 0) AS v
       |  FROM spine sp LEFT JOIN sums su
       |    ON sp.doc_id = su.doc_id AND sp.bkt = su.bkt),
       |norms AS (
       |  SELECT doc_id,
       |    sqrt(sum(CAST(v AS DOUBLE) * CAST(v AS DOUBLE))) AS nrm
       |  FROM dense GROUP BY doc_id)""".stripMargin
  }

  /** DuckDB mirror of [[hashEmbeddings]]: bucket sums via group-by
    * (exact integers ≡ the Spark fold), dense 0-filled vector via a
    * generate_series spine, identical normalize; `+ 0` scrubs the
    * -0.0 DuckDB round() can produce on negative components. A
    * NULL-text doc gets a NULL embedding via the trailing left join,
    * matching the Spark expression's null propagation.
    */
  def hashEmbeddingsSql: String =
    s"""WITH $hashEmbeddingsCtes,
       |vecs AS (
       |  SELECT de.doc_id,
       |    list(CAST(de.v AS DOUBLE) ORDER BY de.bkt) AS raw,
       |    any_value(no.nrm) AS nrm
       |  FROM dense de JOIN norms no ON de.doc_id = no.doc_id
       |  GROUP BY de.doc_id),
       |emb AS (
       |  SELECT doc_id,
       |    CASE WHEN nrm = 0 THEN [CAST(0.0 AS DOUBLE)
       |                            for x in raw]
       |         ELSE [round(x / nrm, 6) + 0 for x in raw] END
       |      AS embedding
       |  FROM vecs)
       |SELECT d.doc_id, e.embedding
       |FROM documents d LEFT JOIN emb e ON d.doc_id = e.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** DuckDB mirror of [[hashEmbeddingsLong]] — the dense rows serve
    * directly (no list() needed); NULL-text docs are absent from the
    * spine, matching posexplode-of-NULL on the Spark side.
    */
  def hashEmbeddingsLongSql: String =
    s"""WITH $hashEmbeddingsCtes
       |SELECT de.doc_id, CAST(de.bkt AS BIGINT) AS dim,
       |  CASE WHEN no.nrm = 0 THEN CAST(0.0 AS DOUBLE)
       |       ELSE round(CAST(de.v AS DOUBLE) / no.nrm, 6) + 0 END
       |    AS value
       |FROM dense de JOIN norms no ON de.doc_id = no.doc_id
       |ORDER BY de.doc_id, dim""".stripMargin

  /** Dominant eigenpair of the covariance by fixed-count power
    * iteration (deterministic: all-ones start, no early stop) over the
    * driver-sized d×d matrix from [[covariance]]. Returns
    * (eigenvalue, eigenvector, varianceExplained).
    */
  def pcaTopComponent(cov: DataFrame, iters: Int = 200)
      : (Double, Array[Double], Double) = {
    val rows = cov.selectExpr("CAST(i AS LONG) AS i", "CAST(j AS LONG) AS j",
      "cov").collect()
    val d = rows.map(_.getAs[Long]("j")).max.toInt
    val m = Array.ofDim[Double](d, d)
    rows.foreach { r =>
      val (i, j, c) = (r.getAs[Long]("i").toInt - 1,
        r.getAs[Long]("j").toInt - 1, r.getAs[Double]("cov"))
      m(i)(j) = c; m(j)(i) = c
    }
    var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    var lambda = 0.0
    for (_ <- 0 until iters) {
      val w = Array.tabulate(d)(i =>
        (0 until d).map(j => m(i)(j) * v(j)).sum)
      lambda = math.sqrt(w.map(x => x * x).sum)
      if (lambda > 0) v = w.map(_ / lambda)
    }
    val trace = (0 until d).map(i => m(i)(i)).sum
    (lambda, v, if (trace > 0) lambda / trace else 0.0)
  }
}
