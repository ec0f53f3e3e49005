package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ext.Scratch

/** The foreachBatch commit contract every streaming leg shares: the
  * exactly-once-output recipe of Structured Streaming (idempotent
  * writes + a commit gate on the driver) over an at-least-once
  * foreachBatch sink.
  *
  *   - [[start]] attaches a leg's body as an append-mode foreachBatch
  *     sink with its own checkpoint;
  *   - [[commit]] is the replay gate: the body runs only for a batch id
  *     above the leg's [[Ledger]], and the ledger advances only after
  *     the body returns and reports a commit. A body that throws
  *     (e.g. between two writes) leaves the ledger where it was, so the
  *     checkpoint's retry of the same batch runs it again, and a
  *     replayed batch that already committed is skipped — its counters
  *     never double-count. The writes themselves stay idempotent by
  *     `batch_id` partition overwrite ([[BatchIndex.writePartition]]).
  *
  * [[commit]] is also the ONE owner of a batch's cached frames: its
  * body runs inside [[Scratch.scopedAll]], and a leg that caches hands
  * its frames to the [[Batch]] handle ([[Batch.keep]]), never
  * releases them itself. Every frame the body keeps — and every
  * frame library code under it tracks ([[Scratch.track]]) — is
  * released when the body returns, commits nothing or throws, so a
  * stream's cache is bounded by one trigger however its batches end.
  */
object MicroBatch {

  /** Trigger interval of a leg started without an explicit one. */
  val DefaultTrigger: Trigger = Trigger.ProcessingTime("30 seconds")

  /** Test seam over [[BatchIndex.TriggerBroadcastMaxDocs]], the row
    * bound of [[Batch.bc]]: StreamingSpec pins every leg's artifacts
    * identical THROUGH the no-forced-broadcast macro-batch path by
    * setting it to 0.
    */
  @volatile private[graft] var triggerBroadcastBound: Long =
    BatchIndex.TriggerBroadcastMaxDocs

  /** Highest batch id whose writes all committed in this driver.
    * foreachBatch runs on the driver, so a volatile is the whole
    * coordination needed; a restarted driver starts from -1 and the
    * checkpoint's replay repopulates the leg's counters.
    */
  abstract class Ledger extends Serializable {
    @volatile var lastCommitted: Long = -1L
  }

  /** One micro-batch as a persisting body sees it: its id, its frame
    * `rows`, cached once by the gate, and the frame's row count `n`
    * (counted on first use — a body with its own emptiness rule never
    * pays for it).
    */
  final class Batch private[MicroBatch] (val id: Long, frame: DataFrame) {
    val rows: DataFrame = keep(frame)
    lazy val n: Long = rows.count()

    /** `df` cached for the rest of the batch ([[Scratch.keep]]: a frame
      * cached already keeps its owner's release) and released with it.
      */
    def keep(df: DataFrame): DataFrame = Scratch.keep(df)

    /** Whether batch-derived frames may be forced to broadcast: only
      * while the batch is trigger-sized
      * ([[BatchIndex.TriggerBroadcastMaxDocs]] — a catch-up
      * macro-batch takes plain joins; results are identical).
      */
    def small: Boolean = n <= triggerBroadcastBound

    /** `df` with a broadcast hint while the batch is [[small]]. */
    def bc(df: DataFrame): DataFrame = if (small) broadcast(df) else df

    /** A handle over `df` (kept) in this batch's scope — a stage that
      * narrows the batch before the next one screens it.
      */
    def narrow(df: DataFrame): Batch = new Batch(id, df)
  }

  /** Run `body` for `batchId` unless `ledger` already committed it,
    * inside one release-everything scope ([[Scratch.scopedAll]]); the
    * ledger advances when `body` returns true. A body returns false
    * for a batch it leaves uncommitted (a leg's empty-batch rule) and
    * throws to fail the batch. True when this call committed the batch.
    */
  def commit(ledger: Ledger, batchId: Long)(body: => Boolean): Boolean =
    batchId > ledger.lastCommitted && Scratch.scopedAll(body) && {
      ledger.lastCommitted = batchId
      true
    }

  /** [[commit]] for a body that caches: `frame` (the leg's view of the
    * batch) is cached once and handed over as a [[Batch]], whose
    * frames all release with the scope. An empty batch commits
    * nothing: bodies return `b.n > 0 && …` or their own rule.
    */
  def commit(ledger: Ledger, batchId: Long, frame: DataFrame)(
      body: Batch => Boolean): Boolean =
    commit(ledger, batchId)(body(new Batch(batchId, frame)))

  /** Attach `body` to `stream` as an append-mode foreachBatch sink. */
  def start[T](stream: Dataset[T], checkpointDir: String,
      trigger: Trigger)(body: (Dataset[T], Long) => Unit): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(body)
      .start()
}
