package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

import graft.dq.{DqSuite, Expectation}

/** Streaming data-quality monitor: evaluates an [[Expectation]] suite on
  * every micro-batch of a stream, through the business-name alias layer,
  * and maintains both a per-batch result log (parquet, idempotent under
  * replay) and run-level per-expectation counters.
  *
  * The reference runs its GE checkpoint once per batch DAG cycle
  * (`airflow/dags/pipeline_dag.py` validate task + `dq/ge_checkpoint.yml`);
  * a streaming engine has to run the same suite continuously. foreachBatch
  * gives each micro-batch as a static frame, so the exact batch evaluator
  * ([[DqSuite.evaluate]] — one scan, map-side-combinable counts) is reused
  * unchanged: no separate streaming DQ implementation to drift out of sync.
  *
  * Scale shape: the per-batch work is one pass over the batch with a
  * single wide aggregate (O(|suite|) counters per partition, combined on
  * one reducer — bounded data, the allowed SinglePartition shape); the
  * result log appends O(|suite|) rows per batch. Nothing about the
  * corpus-sized input crosses a shuffle beyond the count combine.
  */
object DqMonitor {

  /** Run-level DQ state across micro-batches: one (evaluated, failed)
    * accumulator pair per expectation, plus the idempotence ledger
    * ([[MicroBatch.Ledger]]).
    */
  final class DqStreamStats(spark: SparkSession, val suite: Seq[Expectation])
      extends MicroBatch.Ledger {
    val evaluated: IndexedSeq[LongAccumulator] = suite.indices.map(i =>
      spark.sparkContext.longAccumulator(s"dq_ev_$i"))
    val failed: IndexedSeq[LongAccumulator] = suite.indices.map(i =>
      spark.sparkContext.longAccumulator(s"dq_fail_$i"))

    /** (expectation, column, n_evaluated, n_failed) totals so far. */
    def summary: Seq[(String, String, Long, Long)] =
      suite.zipWithIndex.map { case (e, i) =>
        (e.name, e.column, evaluated(i).value, failed(i).value)
      }

    /** Suite-level verdict so far (GE "checkpoint passed" semantics). */
    def allPassed: Boolean = failed.forall(_.value == 0L)
  }

  /** One idempotent micro-batch DQ evaluation (the foreachBatch body of
    * the monitor, extracted so StreamingSpec can replay it). It runs as
    * its own sink, so it composes with the dual data sink — the same
    * stream can feed both.
    *
    *   - `aliases` business→technical mappings are applied first, so the
    *     suite may be authored in business names ([[DqSuite.FieldMappings]]);
    *   - per-batch results land in `resultsPath` partitioned by batch_id
    *     with DYNAMIC overwrite — a replayed batch rewrites its own
    *     partition instead of appending duplicate result rows;
    *   - accumulators update only after the write commits, behind the
    *     [[MicroBatch.commit]] gate, so replays never double-count.
    */
  def processDqBatch(batch: DataFrame, batchId: Long,
      stats: DqStreamStats, resultsPath: String,
      aliases: Seq[(String, String)] = Nil,
      notifier: Option[graft.ops.PipelineRun.Notifier] = None): Unit = {
    var rows: Array[org.apache.spark.sql.Row] = Array.empty
    if (MicroBatch.commit(stats, batchId) {
      val frame = DqSuite.withAliases(batch, aliases)
      val resultsDf = DqSuite.evaluate(frame, stats.suite)
        .withColumn("batch_id", lit(batchId))
      // one scan of the batch: collect the O(|suite|) result rows, then
      // write THOSE (not the plan) so the sink doesn't rescan the input
      rows = resultsDf.collect()
      val spark = batch.sparkSession
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(rows.toSeq.asJava, resultsDf.schema)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(resultsPath)
      rows.foreach { r =>
        val i = r.getAs[Long]("exp_idx").toInt - 1
        stats.evaluated(i).add(r.getAs[Long]("n_evaluated"))
        stats.failed(i).add(r.getAs[Long]("n_failed"))
      }
      true
    })
      // alert AFTER commit, gated by the same high-water mark, so a
      // replayed batch never re-alerts. Counts are CHECK-level (each
      // expectation evaluates ~every batch row); severity rides the
      // reference's failure-rate ladder (notifications.py:296-304).
      notifier.foreach { n =>
        val affected = rows.map(_.getAs[Long]("n_failed")).sum
        val total = math.max(1L, rows.map(_.getAs[Long]("n_evaluated")).sum)
        if (affected > 0) {
          val failing = rows.count(_.getAs[Long]("n_failed") > 0)
          val (title, msg, sev) = graft.ops.Notifications.dataQualityIssue(
            "validation_failure", affected, total,
            Some(s"batch $batchId: $failing of ${rows.length} " +
              "expectations failing"))
          n.notify(sev, s"$title\n$msg")
        }
      }
    }
}
