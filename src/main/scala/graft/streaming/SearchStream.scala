package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.ext.Search

/** Streaming search-index ingest: the streaming twin of
  * [[graft.ext.Search.appendToSearchIndex]]. Each micro-batch
  * tokenizes ONLY its own documents — the accumulated index is never
  * read or reshuffled — and lands its postings under (bucket,
  * batch_id) and its doc lengths under (batch_id) in the SAME
  * artifact the batch builders write, with dynamic partition
  * overwrite, so an at-least-once replay rewrites exactly its own
  * partitions (the [[EventPipeline.processBatch]] idempotence
  * contract). Term/phrase search AND BM25 see stream-ingested docs
  * transparently: the readers scan every batch_id level.
  *
  * Spark's micro-batch ids start at 0; the stored batch_id is offset by
  * one because 0 is reserved for the base build.
  */
object SearchStream {

  /** One idempotent micro-batch ingest of a document stream
    * (doc_id, text, ...) — the foreachBatch body of the leg, extracted
    * so StreamingSpec can replay it.
    */
  def processBatch(batch: DataFrame, batchId: Long,
      indexPath: String): Unit =
    Search.appendToSearchIndex(batch, indexPath, batchId + 1)

  /** Fold the search artifact's per-batch partitions — postings
    * (bucket, batch_id) and the doclen sidecar (batch_id) — into
    * `batch_id = -1` under the RESOLVED root ([[BatchIndex.compact]]
    * contract: streams stopped + checkpoints committed; readers scan
    * every level, so the folded partition serves like any other).
    * Returns the postings (before, after) counts.
    */
  def compactIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): (Long, Long) = {
    val root = graft.ext.Versioned.resolve(spark, indexPath)
    // screen-first folds stamping folded_through (the shared
    // [[graft.ext.SketchIndex.screenedDistinctFold]]): BM25 sums tf /
    // counts df / reads one dl per doc over these rows, so a crashed
    // compaction's leftovers or a bounded run's replayed in-flight
    // batch re-landing next to the fold must be screened at read —
    // each component's through derives from its OWN rows, which also
    // keeps the partial-append window exact (postings landed, doclen
    // not: the replayed doclen rows sit above the sidecar's through
    // and serve; the replayed postings are byte-identical to the
    // fold's copy and screen out)
    val out = BatchIndex.compactMulti(spark, s"$root/postings",
      cols = Seq("doc_id", "token", "tf", "positions",
        "folded_through"),
      bucketCols = Seq("bucket"),
      fold = Some(graft.ext.SketchIndex.screenedDistinctFold(
        Seq("bucket"), Seq("doc_id", "token", "tf", "positions"))))
    BatchIndex.compactMulti(spark, s"$root/doclen",
      cols = Seq("doc_id", "dl", "folded_through"), bucketCols = Nil,
      fold = Some(graft.ext.SketchIndex.screenedDistinctFold(
        Nil, Seq("doc_id", "dl"))))
    out
  }

  /** The wired maintenance cadence for the search artifact (the
    * [[BatchIndex.maintain]] discipline over its two components):
    * diagnose the postings' bucket layout and the doclen sidecar's
    * level accretion; one [[compactIndex]] (folds both) when either
    * crosses the cadence. Streams stopped + checkpoints committed
    * only; None = no index yet.
    */
  def maintain(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): Option[BatchIndex.Maintenance] = {
    val root = graft.ext.Versioned.resolve(spark, indexPath)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(root).toUri,
      spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$root/postings")))
      return None
    val observed = spark.read.parquet(s"$root/postings")
      .select(org.apache.spark.sql.functions.col("bucket"))
      .distinct().count()
    val postingsRep = BatchIndex.layoutReportMulti(spark,
      s"$root/postings", Seq("bucket"), observed,
      Search.NumBuckets.toLong)
    val doclenDue =
      fs.exists(new org.apache.hadoop.fs.Path(s"$root/doclen")) &&
        BatchIndex.layoutReportMulti(spark, s"$root/doclen", Nil, 1L, 1L)
          .compactRecommended
    val compacted =
      if (postingsRep.compactRecommended || doclenDue)
        Some(compactIndex(spark, indexPath))
      else None
    Some(BatchIndex.Maintenance(postingsRep, compacted))
  }
}
