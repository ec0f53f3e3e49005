package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

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
  */
object MicroBatch {

  /** Trigger interval of a leg started without an explicit one. */
  val DefaultTrigger: Trigger = Trigger.ProcessingTime("30 seconds")

  /** Highest batch id whose writes all committed in this driver.
    * foreachBatch runs on the driver, so a volatile is the whole
    * coordination needed; a restarted driver starts from -1 and the
    * checkpoint's replay repopulates the leg's counters.
    */
  abstract class Ledger extends Serializable {
    @volatile var lastCommitted: Long = -1L
  }

  /** Run `body` for `batchId` unless `ledger` already committed it; the
    * ledger advances when `body` returns true. A body returns false for
    * a batch it leaves uncommitted (a leg's empty-batch rule) and
    * throws to fail the batch. True when this call committed the batch.
    */
  def commit(ledger: Ledger, batchId: Long)(body: => Boolean): Boolean =
    batchId > ledger.lastCommitted && body && {
      ledger.lastCommitted = batchId
      true
    }

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
