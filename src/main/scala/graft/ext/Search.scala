package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Hashing._

/** Text retrieval over the `documents` table — the last classic piece of
  * a corpus engine: a persisted POSTINGS index (token → doc ids) sharded
  * by token-hash bucket, conjunctive (AND) term search that reads only
  * the query terms' buckets, and TF-IDF relevance ranking. Extends the
  * reference per BASELINE.json's north-star alongside [[TextAnalysis]].
  *
  * Scale design mirrors the IVF index ([[Similarity.writeIvfIndex]]):
  * the index is built ONCE (one corpus scan → one narrow shuffle of
  * (token, doc_id) pairs), persisted hive-partitioned by
  * `bucket = h32(token) % NumBuckets`, and a query reads ONLY the
  * partitions its terms hash to — at 100 TB that is k bucket scans per
  * k-term query, never the corpus. Posting-list intersection is a
  * map-side-combinable count over the merged postings: a doc matches a
  * conjunctive query iff it carries all k distinct terms.
  */
object Search {

  /** Token-hash shard count for the postings layout (fixture value;
    * production sizes this to thousands — the trade is partition count
    * vs per-partition file size).
    */
  val NumBuckets = 32

  /** Tokens of one document with their 0-based positions (postings
    * record presence AND position — tf for ranking, positions for
    * phrase queries).
    */
  private def docTokens(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "token")))
      .filter(col("token") =!= "")
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos"))).as("positions"))

  /** Build + persist the postings index: (token, doc_id, tf, positions)
    * rows partitioned by the token-hash bucket, one file per bucket.
    * Component writer — the artifact-level entry point is
    * [[writeSearchIndex]], which pairs it with the doc-length sidecar
    * under one [[Versioned]]-managed root.
    */
  def writePostingsIndex(documents: DataFrame, path: String,
      buckets: Int = NumBuckets): Unit =
    docTokens(documents)
      .withColumn("bucket", h32(col("token")) % buckets)
      .withColumn("batch_id", lit(0L)) // base build; appends use higher
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket", "batch_id")
      .parquet(path)

  /** The search artifact: postings + the doc-length sidecar under ONE
    * root —
    * {{{
    *   <path>/postings/bucket=<b>/batch_id=<n>/
    *   <path>/doclen/batch_id=<n>/
    * }}}
    * One root because the two components are invalidated TOGETHER (a
    * tokenizer/analyzer upgrade changes both what a posting is and
    * what a doc length is), so [[rebuildSearchIndex]] swaps both
    * atomically and a BM25 query straddling the swap reads one
    * snapshot for both. The flat base is the layout above at `path`
    * itself; rebuilds live under `v-<n>` (see [[Versioned]]).
    */
  def writeSearchIndex(documents: DataFrame, path: String,
      buckets: Int = NumBuckets): Unit =
    Versioned.writeBase(documents.sparkSession, path)(
      writeSearchSnapshot(documents, _, buckets))

  private def writeSearchSnapshot(documents: DataFrame, root: String,
      buckets: Int): Unit = {
    writePostingsIndex(documents, s"$root/postings", buckets)
    writeDocLengths(documents, s"$root/doclen")
  }

  /** Incremental ingest — new documents enter the artifact WITHOUT a
    * rebuild (same discipline as [[Similarity.appendToIvfIndex]]):
    * tokenize only the batch and land its postings under (bucket,
    * batch_id) and its doc lengths under (batch_id) with dynamic
    * partition overwrite, so an at-least-once replay rewrites exactly
    * its own partitions. Queries see old + new docs transparently (the
    * readers scan all batch_id levels). Appends land in the CURRENT
    * snapshot; the post-write race guard fails loudly if a rebuild
    * committed concurrently (re-running the append recovers).
    */
  def appendToSearchIndex(documents: DataFrame, path: String,
      batchId: Long, buckets: Int = NumBuckets): Unit = {
    require(batchId > 0, "batch_id 0 is the base build")
    val spark = documents.sparkSession
    val root = Versioned.resolve(spark, path)
    graft.streaming.BatchIndex.writePartition(
      docTokens(documents)
        .withColumn("bucket", h32(col("token")) % buckets),
      batchId, s"$root/postings", bucketCol = Some("bucket"))
    graft.streaming.BatchIndex.writePartition(
      documents.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("dl")),
      batchId, s"$root/doclen")
    Versioned.assertAppendLanded(spark, path, root, "search index")
  }

  /** Rebuild the search artifact with atomic swap — the [[Versioned]]
    * lifecycle applied to retrieval (trigger: a tokenizer/analyzer
    * upgrade invalidates stored postings AND doc lengths corpus-wide).
    * Re-tokenizes from `documents` — postings cannot be re-derived
    * from themselves under a new analyzer — so the caller must pass
    * the FULL grown corpus; validation enforces coverage of every
    * doc_id the serving snapshot's doclen table holds (a frame missing
    * appended batches fails instead of silently shrinking the index).
    * A deliberate shrink says `allowShrink = true`.
    */
  def rebuildSearchIndex(spark: SparkSession, documents: DataFrame,
      path: String, buckets: Int = NumBuckets,
      allowShrink: Boolean = false): Long =
    rebuildSearchIndexHooked(spark, documents, path, buckets,
      allowShrink)

  /** [[rebuildSearchIndex]] with the test seam before the commit
    * ([[Versioned.rebuild]]).
    */
  private[graft] def rebuildSearchIndexHooked(spark: SparkSession,
      documents: DataFrame, path: String, buckets: Int = NumBuckets,
      allowShrink: Boolean = false,
      beforeCommit: () => Unit = () => ()): Long =
    Versioned.rebuild(spark, path, SearchArtifact, allowShrink,
        beforeCommit) { (_, stage) =>
      writeSearchSnapshot(documents, stage, buckets)
      require(readDocLens(spark, stage).count() == documents.count(),
        "staged doclen row count must match the corpus")
    }

  /** The search artifact to [[Versioned]]: a root serves its doclen
    * rows, and a rebuild keeps every doc_id they hold.
    */
  private val SearchArtifact = Versioned.Artifact("search index",
    Seq("postings", "doclen"),
    rowsOf = readDocLens(_, _).count(),
    keysOf = Some(readDocLens(_, _).select("doc_id")))

  /** Every root still holding postings/doclen data — the takedown
    * enumeration for the search artifact (retained snapshots are real
    * copies; see [[Similarity.ivfRetainedRoots]]).
    */
  def searchRetainedRoots(spark: SparkSession, path: String): Seq[String] =
    Versioned.retainedRoots(spark, path, SearchArtifact.components)

  /** Bucket a term exactly like the index writer (non-negative h32). */
  def bucketOf(term: String, buckets: Int = NumBuckets): Long =
    jvmH32(term) % buckets

  /** Postings schema, declared explicitly at read time: partitioned
    * parquet cannot infer a schema from a data-less index (an empty
    * corpus writes only the directory skeleton), and a declared schema
    * also skips footer-sniffing on huge indexes.
    */
  val PostingsSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("token",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("tf",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("positions",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.IntegerType)),
      org.apache.spark.sql.types.StructField("bucket",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("batch_id",
        org.apache.spark.sql.types.LongType)))

  /** Doc-length sidecar schema (batch_id-partitioned for idempotent
    * appends and takedown partition pruning).
    */
  val DocLenSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("dl",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("batch_id",
        org.apache.spark.sql.types.LongType)))

  /** [[PostingsSchema]] / [[DocLenSchema]] plus the compaction screen
    * column (the [[graft.streaming.SearchStream.PostingsIndex]] fold
    * stamps it on `-1` fold rows; pre-fold files read as null).
    */
  private val PostingsReadSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(PostingsSchema.fields :+
      org.apache.spark.sql.types.StructField("folded_through",
        org.apache.spark.sql.types.LongType))
  private val DocLenReadSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(DocLenSchema.fields :+
      org.apache.spark.sql.types.StructField("folded_through",
        org.apache.spark.sql.types.LongType))

  /** Postings component of the resolved snapshot root — screened:
    * BM25 SUMS tf and COUNTS df over these rows, so a batch a fold
    * already merged (crashed compaction leftovers, or a bounded run's
    * replayed in-flight trigger re-landing next to the fold) must not
    * serve twice. Per-bucket screen, crash-consistent under partial
    * promotes; a no-fold index pays one pruned empty `-1` read.
    */
  private def readPostings(spark: SparkSession, root: String): DataFrame =
    SketchIndex.screenFolded(
      spark.read.schema(PostingsReadSchema).parquet(s"$root/postings"),
      keyCols = Seq("bucket"))
      .select("doc_id", "token", "tf", "positions", "bucket",
        "batch_id")

  /** Doc-length component of the resolved snapshot root — screened
    * globally (the sidecar folds as one partition); a doubled dl row
    * would double a doc's BM25 length normalization.
    */
  private def readDocLens(spark: SparkSession, root: String): DataFrame =
    SketchIndex.screenFolded(
      spark.read.schema(DocLenReadSchema).parquet(s"$root/doclen"),
      keyCols = Nil)
      .select("doc_id", "dl")

  /** Conjunctive search against a persisted search artifact: returns
    * the doc_ids carrying ALL `terms`. Resolves the serving snapshot
    * once, then reads only the terms' bucket partitions (collected
    * literal partition filter — k values for a k-term query), then one
    * count-combine over the merged postings.
    */
  def searchAll(spark: SparkSession, path: String,
      terms: Seq[String], buckets: Int = NumBuckets): DataFrame = {
    require(terms.nonEmpty && terms.distinct.size == terms.size,
      "terms must be non-empty and distinct")
    val termBuckets = terms.map(bucketOf(_, buckets)).distinct
    readPostings(spark, Versioned.resolve(spark, path))
      .filter(col("bucket").isin(termBuckets: _*)) // partition pruning
      .filter(col("token").isin(terms: _*))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hit")) // (doc, token) rows are distinct
      .filter(col("n_hit") === terms.size)
      .select(col("doc_id"))
  }

  /** DuckDB twin of [[writePostingsIndex]] + [[searchAll]] composed —
    * the oracle checks the SEMANTICS (docs containing every term), not
    * the storage layout.
    */
  def searchAllSql(terms: Seq[String]): String = {
    val conj = terms
      .map(t => s"list_contains(string_split(text, ' '), '$t')")
      .mkString("\n  AND ")
    s"""SELECT doc_id FROM documents
       |WHERE $conj
       |ORDER BY doc_id""".stripMargin
  }

  /** Phrase search against the persisted index: docs where `terms`
    * occur CONSECUTIVELY, via positional-posting intersection — start
    * from the first term's positions and chain `array_intersect(prev+1,
    * cur)` across the phrase; a surviving non-empty set is a phrase hit
    * (its values are the phrase END positions). k−1 doc_id-keyed joins
    * of bucket-pruned postings — never the corpus. Repeated terms in
    * the phrase ("x x") are handled naturally: the chain is positional,
    * not set-of-terms.
    */
  def searchPhrase(spark: SparkSession, path: String,
      terms: Seq[String], buckets: Int = NumBuckets): DataFrame = {
    require(terms.nonEmpty, "phrase must be non-empty")
    val termBuckets = terms.map(bucketOf(_, buckets)).distinct
    val postings = readPostings(spark, Versioned.resolve(spark, path))
      .filter(col("bucket").isin(termBuckets: _*)) // partition pruning
    def of(t: String) = postings.filter(col("token") === t)
      .select(col("doc_id"), col("positions"))
    val first = of(terms.head)
    val chained = terms.tail.foldLeft(first) { (acc, t) =>
      acc.join(of(t).withColumnRenamed("positions", "cur"), "doc_id")
        .select(col("doc_id"), array_intersect(
          transform(col("positions"), p => p + 1), col("cur"))
          .as("positions"))
        .filter(size(col("positions")) > 0)
    }
    chained.select(col("doc_id"),
      size(col("positions")).cast("long").as("n_occurrences"))
  }

  /** DuckDB twin of [[searchPhrase]]: exactly the positional semantics
    * — k-way self-join of the (doc_id, token, pos) stream on
    * consecutive positions, so overlapping and adjacent occurrences
    * count identically to the positional-intersection chain (a
    * substring/split formulation would undercount those).
    */
  def searchPhraseSql(terms: Seq[String]): String = {
    val joins = terms.zipWithIndex.tail.map { case (t, i) =>
      s"""JOIN toks t$i ON t$i.doc_id = t0.doc_id
         |    AND t$i.pos = t0.pos + $i AND t$i.tok = '$t'""".stripMargin
    }.mkString("\n  ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
       |    generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
       |  FROM documents)
       |SELECT t0.doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
       |FROM toks t0
       |  $joins
       |WHERE t0.tok = '${terms.head}'
       |GROUP BY t0.doc_id
       |ORDER BY t0.doc_id""".stripMargin
  }

  /** BM25 document ranking for a term set (Robertson/Sparck Jones; the
    * standard k1/b formulation): per-doc score = Σ_terms idf(t) ·
    * tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)), idf = ln((N−df+0.5)/
    * (df+0.5) + 1). One token scan feeds tf/dl; df and the scalar
    * (N, avgdl) attach broadcast. avgdl divides exact integer totals so
    * both engines compute the identical double; scores round to 6 dp
    * with doc_id tie-breaks.
    */
  def bm25TopDocs(documents: DataFrame, terms: Seq[String],
      topK: Int = 10, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val dl = documents.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("dl"))
    val tf = docTokens(documents).filter(col("token").isin(terms: _*))
      .select(col("doc_id"), col("token"), col("tf"))
    bm25Rank(tf, dl, topK, k1, b)
  }

  /** BM25 served from the persisted search artifact — the ranking twin
    * of [[searchAll]]: tf comes from the terms' pruned bucket
    * partitions only (summed across batch_id levels, so incremental
    * appends merge), df from those same rows, (N, avgdl) from one
    * narrow doclen scan. The snapshot root is resolved ONCE for both
    * components, so a query straddling a [[rebuildSearchIndex]] swap
    * scores entirely against one snapshot's postings AND doc lengths —
    * never an old-tokenizer tf against a new-tokenizer avgdl. The
    * scoring expression is SHARED with [[bm25TopDocs]], so served ≡
    * in-flight bit for bit and both check against the same oracle.
    */
  def bm25Served(spark: SparkSession, path: String,
      terms: Seq[String], topK: Int = 10, k1: Double = 1.2,
      b: Double = 0.75, buckets: Int = NumBuckets): DataFrame = {
    require(terms.nonEmpty && terms.distinct.size == terms.size,
      "terms must be non-empty and distinct")
    val termBuckets = terms.map(bucketOf(_, buckets)).distinct
    val root = Versioned.resolve(spark, path) // once, both components
    val tf = readPostings(spark, root)
      .filter(col("bucket").isin(termBuckets: _*)) // partition pruning
      .filter(col("token").isin(terms: _*))
      .groupBy("doc_id", "token").agg(sum("tf").as("tf"))
    bm25Rank(tf, readDocLens(spark, root), topK, k1, b)
  }

  /** Doc-length component writer (one narrow corpus scan; the same
    * `size(split(...))` form [[bm25TopDocs]] uses). batch_id=0 is the
    * base build; [[appendToSearchIndex]] lands higher ids.
    */
  def writeDocLengths(documents: DataFrame, path: String): Unit =
    // natural partitioning: dl rows are corpus-sized — one forced
    // writer task would OOM at scale (the CorpusGraph.write lesson)
    documents.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("dl"))
      .withColumn("batch_id", lit(0L))
      .write.mode("overwrite").partitionBy("batch_id").parquet(path)

  /** The one BM25 scoring + ranking plan both entry points share. */
  private def bm25Rank(tf: DataFrame, dl: DataFrame, topK: Int,
      k1: Double, b: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val scalars = dl.agg(count(lit(1)).as("n_docs"),
      sum("dl").as("dl_total"))
    val scored = tf
      .join(broadcast(df), Seq("token"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(scalars))
      .withColumn("avgdl",
        col("dl_total").cast("double") / col("n_docs"))
      .withColumn("idf", log(
        (col("n_docs") - col("df") + lit(0.5))
          / (col("df") + lit(0.5)) + lit(1.0)))
      .withColumn("s", col("idf") * (col("tf") * (k1 + 1))
        / (col("tf") + lit(k1) * (lit(1.0 - b)
          + lit(b) * col("dl") / col("avgdl"))))
    val perDoc = scored.groupBy("doc_id")
      .agg(round(sum("s"), 6).as("score"),
        count(lit(1)).as("n_terms_hit"))
    // two-phase top-k (the customer_value_ranks discipline): the global
    // limit plans as TakeOrdered — per-partition heads merged on the
    // driver — and the rank window only ever sees the ≤topK winners,
    // never the full scored-doc table in one partition
    val top = perDoc.orderBy(col("score").desc, col("doc_id")).limit(topK)
    val w = Window.orderBy(col("score").desc, col("doc_id"))
    top.withColumn("rank", row_number().over(w).cast("long"))
      .select(col("rank"), col("doc_id"), col("n_terms_hit"),
        col("score"))
  }

  /** DuckDB mirror of [[bm25TopDocs]] — identical expression order in
    * every double operation.
    */
  def bm25TopDocsSql(terms: Seq[String], topK: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): String = {
    val termList = terms.map(t => s"'$t'").mkString(", ")
    s"""WITH dl AS (
       |  SELECT doc_id, len(string_split(text, ' ')) AS dl
       |  FROM documents),
       |tf AS (
       |  SELECT doc_id, token, count(*) AS tf FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
       |    FROM documents)
       |  WHERE token IN ($termList) AND token != ''
       |  GROUP BY 1, 2),
       |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
       |scalars AS (
       |  SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS dl_total
       |  FROM dl),
       |scored AS (
       |  SELECT tf.doc_id,
       |    ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
       |      * (tf * (${k1} + 1))
       |      / (tf + ${k1} * ((1.0 - ${b})
       |        + ${b} * dl.dl / (CAST(dl_total AS DOUBLE) / n_docs)))
       |      AS s
       |  FROM tf JOIN df ON tf.token = df.token
       |    JOIN dl ON tf.doc_id = dl.doc_id
       |    CROSS JOIN scalars)
       |SELECT rank, doc_id, n_terms_hit, score FROM (
       |  SELECT *, row_number() OVER (
       |    ORDER BY score DESC, doc_id) AS rank
       |  FROM (SELECT doc_id, round(sum(s), 6) AS score,
       |          count(*) AS n_terms_hit
       |        FROM scored GROUP BY doc_id))
       |WHERE rank <= $topK
       |ORDER BY rank""".stripMargin
  }

  /** TF-IDF relevance: for each query term, the `topK` highest-scoring
    * documents. tf = in-doc term count, idf = ln(N/df) over the corpus,
    * score = tf·idf rounded to 6 dp (the cross-engine-stable form; ties
    * break on doc_id). One token scan feeds both tf and df; the df and
    * corpus-size attaches are broadcast O(terms) / 1-row frames.
    */
  def tfIdfTopDocs(documents: DataFrame, terms: Seq[String],
      topK: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docTokens(documents).filter(col("token").isin(terms: _*))
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val n = documents.select(count(lit(1)).as("n_docs"))
    val scored = tf
      .join(broadcast(df), Seq("token"))
      .crossJoin(broadcast(n))
      .withColumn("score",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
    val w = Window.partitionBy("token")
      .orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("token"), col("rank"), col("doc_id"), col("tf"),
        col("df"), col("score"))
  }

  /** More-like-this: the `topK` documents most similar to ONE query
    * document by TF-IDF cosine over shared tokens (the inverted-index
    * doc-to-doc retrieval op). Candidate docs are found through the
    * query doc's OWN tokens — its term vector is a broadcast frame, so
    * the numerator join touches only postings of those terms, never the
    * corpus × corpus space. Doc norms are one token-keyed join (idf
    * attach) + per-doc aggregate over the corpus — the same cost class
    * as a token count. Every floating sum is quantized to 1e-9 fixed
    * point pre-aggregation (the [[TextAnalysis.lmScore]] discipline) so
    * partial-aggregation order cannot move the result; the final
    * cosine divides exact-integer sums in the oracle's op order.
    */
  def moreLikeThis(documents: DataFrame, queryDocId: Long,
      topK: Int = 10): DataFrame =
    mltRank(docTokens(documents)
        .select(col("doc_id"), col("token"), col("tf")),
      documents.agg(count(lit(1)).as("n_docs")), queryDocId, topK)

  /** [[moreLikeThis]] served from the persisted search artifact —
    * identical rows (the index stores the same (doc_id, token, tf) the
    * live path derives; shares the oracle). The tokenize + tf
    * aggregation moves to the index build; the query pays the TF-IDF
    * joins only. Unlike term/phrase search this reads every bucket —
    * the query vector is a whole document, so no bucket pruning
    * applies. Snapshot resolved once for both components.
    */
  def moreLikeThisServed(spark: SparkSession, path: String,
      queryDocId: Long, topK: Int = 10): DataFrame = {
    val root = Versioned.resolve(spark, path)
    val tf = readPostings(spark, root)
      .groupBy("doc_id", "token").agg(sum("tf").as("tf"))
    val n = readDocLens(spark, root).agg(count(lit(1)).as("n_docs"))
    mltRank(tf, n, queryDocId, topK)
  }

  /** The TF-IDF-cosine ranking plan both MLT entry points share.
    *
    * Plan shape (r17): the naive dataflow evaluated the tf subtree
    * (postings read / tokenize + per-doc tf aggregate) once per
    * consumer — doc norms, the query vector, the shared-term numerator
    * join, and the df census — 4 evaluations, measured as 56 parquet
    * scans / 106 Exchanges in the served plan. Now: `tf` is persisted
    * once (distinct (doc, token) rows — vocabulary volume, not
    * corpus volume), the query vector is a broadcast filter of it, and
    * norms + numerator + shared-term count collapse into ONE doc-keyed
    * aggregation over a single left-outer broadcast join with the
    * query vector (a doc with no shared term keeps num_fp null /
    * n_shared 0 and is filtered exactly where the old inner join
    * dropped it). The per-doc aggregate (4 scalar columns) is the only
    * other persisted frame; it feeds both the query-norm lookup and
    * the scoring projection.
    */
  private def mltRank(tfSrc: DataFrame, n: DataFrame, queryDocId: Long,
      topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = Scratch.track(tfSrc.persist())
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val tfw = tf.join(df, Seq("token")).crossJoin(broadcast(n))
      .withColumn("idf", log(col("n_docs").cast("double") / col("df")))
      .withColumn("idf2", col("idf") * col("idf"))
    val qv = tf.filter(col("doc_id") === queryDocId)
      .select(col("token"), col("tf").as("qtf"))
    val agg = Scratch.track(tfw
      .join(broadcast(qv), Seq("token"), "left_outer")
      .groupBy("doc_id")
      .agg(
        sum(floor((col("tf") * col("tf")).cast("double")
          * col("idf2") * 1e9 + 0.5).cast("long")).as("norm_fp"),
        sum(when(col("qtf").isNotNull,
          floor((col("tf") * col("qtf")).cast("double")
            * col("idf2") * 1e9 + 0.5).cast("long"))).as("num_fp"),
        count(col("qtf")).as("n_shared_terms"))
      .persist())
    val qn = agg.filter(col("doc_id") === queryDocId)
      .select(col("norm_fp").as("qnorm_fp"))
    val scored = agg
      .filter(col("doc_id") =!= queryDocId && col("n_shared_terms") > 0)
      .crossJoin(broadcast(qn))
      .withColumn("score", round(
        (col("num_fp").cast("double") / 1e9)
          / (sqrt(col("norm_fp").cast("double") / 1e9)
            * sqrt(col("qnorm_fp").cast("double") / 1e9)), 6))
    // two-phase top-k: TakeOrdered global limit, rank window ≤topK rows
    val top = scored.orderBy(col("score").desc, col("doc_id")).limit(topK)
    val w = Window.orderBy(col("score").desc, col("doc_id"))
    top.withColumn("rank", row_number().over(w).cast("long"))
      .select(col("rank"), col("doc_id"), col("n_shared_terms"),
        col("score"))
  }

  /** DuckDB mirror of [[moreLikeThis]] — identical quantization and
    * double op order.
    */
  def moreLikeThisSql(queryDocId: Long, topK: Int = 10): String =
    s"""WITH tf AS (
       |  SELECT doc_id, token, count(*) AS tf FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
       |    FROM documents)
       |  WHERE token != '' GROUP BY 1, 2),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
       |tfw AS (
       |  SELECT tf.doc_id, tf.token, tf.tf,
       |    ln(CAST(n_docs AS DOUBLE) / df)
       |      * ln(CAST(n_docs AS DOUBLE) / df) AS idf2
       |  FROM tf JOIN df USING (token) CROSS JOIN n),
       |norms AS (
       |  SELECT doc_id, CAST(sum(CAST(floor(CAST(tf * tf AS DOUBLE)
       |      * idf2 * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS norm_fp
       |  FROM tfw GROUP BY 1),
       |qv AS (SELECT token, tf AS qtf FROM tfw
       |       WHERE doc_id = $queryDocId),
       |num AS (
       |  SELECT t.doc_id, CAST(sum(CAST(floor(
       |      CAST(t.tf * q.qtf AS DOUBLE) * t.idf2 * 1e9 + 0.5)
       |      AS BIGINT)) AS BIGINT) AS num_fp,
       |    count(*) AS n_shared_terms
       |  FROM tfw t JOIN qv q USING (token)
       |  WHERE t.doc_id != $queryDocId GROUP BY 1),
       |qn AS (SELECT norm_fp AS qnorm_fp FROM norms
       |       WHERE doc_id = $queryDocId)
       |SELECT rank, doc_id, n_shared_terms, score FROM (
       |  SELECT *, row_number() OVER (ORDER BY score DESC, doc_id)
       |    AS rank
       |  FROM (
       |    SELECT num.doc_id, n_shared_terms,
       |      round((CAST(num_fp AS DOUBLE) / 1e9)
       |        / (sqrt(CAST(norm_fp AS DOUBLE) / 1e9)
       |          * sqrt(CAST(qnorm_fp AS DOUBLE) / 1e9)), 6) AS score
       |    FROM num JOIN norms USING (doc_id) CROSS JOIN qn))
       |WHERE rank <= $topK
       |ORDER BY rank""".stripMargin

  /** DuckDB mirror of [[tfIdfTopDocs]]. */
  def tfIdfTopDocsSql(terms: Seq[String], topK: Int = 5): String = {
    val termList = terms.map(t => s"'$t'").mkString(", ")
    s"""WITH tf AS (
       |  SELECT doc_id, token, count(*) AS tf FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
       |    FROM documents)
       |  WHERE token IN ($termList) AND token != ''
       |  GROUP BY 1, 2),
       |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |scored AS (
       |  SELECT tf.token, tf.doc_id, tf.tf, df.df,
       |    round(tf.tf * ln(CAST(n_docs AS DOUBLE) / df.df), 6) AS score
       |  FROM tf JOIN df ON tf.token = df.token CROSS JOIN n)
       |SELECT token, rank, doc_id, tf, df, score FROM (
       |  SELECT *, row_number() OVER (PARTITION BY token
       |    ORDER BY score DESC, doc_id) AS rank
       |  FROM scored)
       |WHERE rank <= $topK
       |ORDER BY token, rank""".stripMargin
  }

  // ---- hybrid retrieval: reciprocal-rank fusion ---------------------------

  /** RRF constant (Cormack et al., SIGIR 2009: k=60). */
  val RrfK = 60
  /** Candidate pool depth fed into the fusion from each ranker. */
  val RrfPool = 20
  /** Fixed-point unit for the fused score: 1e9 div (k + rank) is exact
    * integer arithmetic in both engines.
    */
  val RrfScale = 1000000000L

  /** Hybrid more-like-this: fuse the lexical TF-IDF-cosine ranking
    * ([[moreLikeThis]]) with the embedding-cosine ranking of the same
    * query id via reciprocal-rank fusion. RRF needs only RANKS, so the
    * two rankers never have to agree on a score scale — the fusion is
    * exact integer fixed point (`RrfScale div (RrfK + rank)`), summed
    * over the rankers that returned the doc.
    *
    * Scale: each ranker already bounds its output at [[RrfPool]] rows,
    * so the fusion join is a ≤2·pool-row sort-merge — negligible next to
    * the rankers themselves. On a cluster the two rankers run as
    * independent stages (no barrier between them until the final join).
    * Absent ranks surface as 0 (not null) so the output hashes stably.
    */
  def hybridMoreLikeThis(documents: DataFrame, embeddings: DataFrame,
      queryDocId: Long, topK: Int = 10): DataFrame =
    hybridFuse(moreLikeThis(documents, queryDocId, RrfPool),
      embeddings, queryDocId, topK)

  /** [[hybridMoreLikeThis]] with the lexical leg served from the
    * persisted search artifact ([[moreLikeThisServed]]) — identical
    * rows, shares the oracle; only the dense leg still scans the
    * corpus.
    */
  def hybridMoreLikeThisServed(spark: SparkSession,
      embeddings: DataFrame, path: String,
      queryDocId: Long, topK: Int = 10): DataFrame =
    hybridFuse(moreLikeThisServed(spark, path, queryDocId, RrfPool),
      embeddings, queryDocId, topK)

  private def hybridFuse(lexRanked: DataFrame, embeddings: DataFrame,
      queryDocId: Long, topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lex = lexRanked
      .select(col("doc_id"), col("rank").as("lex_rank"))
    val e = embeddings.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", Dedup.norm(col("v")))
    val q = e.filter(col("vec_id") === queryDocId)
      .select(col("v").as("qv"), col("nrm").as("qn"))
    val vecScored = e.filter(col("vec_id") =!= queryDocId)
      .crossJoin(broadcast(q))
      .select(col("vec_id").as("doc_id"),
        round(Dedup.dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6)
          .as("cosine"))
    val vecTop = vecScored
      .orderBy(col("cosine").desc, col("doc_id")).limit(RrfPool)
    val vec = vecTop.withColumn("vec_rank", row_number().over(
        Window.orderBy(col("cosine").desc, col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("vec_rank"))
    val fused = lex.join(vec, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("lex_rank"), lit(0L)).as("lex_rank"),
        coalesce(col("vec_rank"), lit(0L)).as("vec_rank"),
        (when(col("lex_rank").isNull, lit(0L))
            .otherwise(expr(s"$RrfScale div ($RrfK + lex_rank)"))
          + when(col("vec_rank").isNull, lit(0L))
            .otherwise(expr(s"$RrfScale div ($RrfK + vec_rank)")))
          .as("rrf_fp"))
    val top = fused.orderBy(col("rrf_fp").desc, col("doc_id")).limit(topK)
    top.withColumn("rank", row_number().over(
        Window.orderBy(col("rrf_fp").desc, col("doc_id"))).cast("long"))
      .select(col("rank"), col("doc_id"), col("lex_rank"),
        col("vec_rank"), col("rrf_fp"))
  }

  /** DuckDB mirror of [[hybridMoreLikeThis]] — identical rankers
    * (nested [[moreLikeThisSql]]; same 6-dp cosine), identical integer
    * fusion and tie-breaks.
    */
  def hybridMoreLikeThisSql(queryDocId: Long, topK: Int = 10): String =
    s"""WITH lex AS (
       |  SELECT doc_id, rank AS lex_rank
       |  FROM (${moreLikeThisSql(queryDocId, RrfPool)})),
       |e AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
       |                   for x in embedding])) AS nrm
       |  FROM embeddings),
       |vscored AS (
       |  SELECT e.vec_id AS doc_id,
       |    round(list_sum([CAST(q.embedding[i] AS DOUBLE)
       |                    * CAST(e.embedding[i] AS DOUBLE)
       |                    for i in range(1, len(q.embedding) + 1)])
       |      / (q.nrm * e.nrm), 6) + 0 AS cosine
       |  FROM e JOIN e q ON q.vec_id = $queryDocId
       |  WHERE e.vec_id != $queryDocId),
       |vec AS (
       |  SELECT doc_id, rank AS vec_rank FROM (
       |    SELECT doc_id, row_number() OVER (
       |      ORDER BY cosine DESC, doc_id) AS rank
       |    FROM vscored)
       |  WHERE rank <= $RrfPool),
       |fused AS (
       |  SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
       |    COALESCE(l.lex_rank, 0) AS lex_rank,
       |    COALESCE(v.vec_rank, 0) AS vec_rank,
       |    CAST(CASE WHEN l.lex_rank IS NULL THEN 0
       |          ELSE $RrfScale // ($RrfK + l.lex_rank) END
       |      + CASE WHEN v.vec_rank IS NULL THEN 0
       |          ELSE $RrfScale // ($RrfK + v.vec_rank) END
       |      AS BIGINT) AS rrf_fp
       |  FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id)
       |SELECT rank, doc_id, lex_rank, vec_rank, rrf_fp FROM (
       |  SELECT *, row_number() OVER (ORDER BY rrf_fp DESC, doc_id)
       |    AS rank
       |  FROM fused)
       |WHERE rank <= $topK
       |ORDER BY rank""".stripMargin
}
