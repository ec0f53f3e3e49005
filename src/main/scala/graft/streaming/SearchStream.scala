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

  /** The search artifact as [[BatchIndex.maintain]] sees it: postings
    * under (bucket, batch_id), then the doclen sidecar under batch_id,
    * both in the served root. Both fold screen-first and stamp
    * folded_through: BM25 sums tf / counts df / reads one dl per doc
    * over these rows, so a crashed compaction's leftovers or a bounded
    * run's replayed in-flight batch re-landing next to the fold must be
    * screened at read. Each component's through derives from its OWN
    * rows, which also keeps the partial-append window exact (postings
    * landed, doclen not: the replayed doclen rows sit above the
    * sidecar's through and serve; the replayed postings are
    * byte-identical to the fold's copy and screen out).
    */
  val PostingsIndex: BatchIndex.Index = BatchIndex.Index(Seq(
      BatchIndex.Component("postings", Seq("bucket"),
        BatchIndex.Fold.ScreenedDistinct(
          Seq("doc_id", "token", "tf", "positions")),
        BatchIndex.Buckets.Observed(Search.NumBuckets.toLong)),
      BatchIndex.Component("doclen", Nil,
        BatchIndex.Fold.ScreenedDistinct(Seq("doc_id", "dl")),
        BatchIndex.Buckets.Fixed(1L))),
    resizable = true)
}
