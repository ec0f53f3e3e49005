package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.report.Analytics

/** Streaming volume-anomaly monitor: every micro-batch folds its hourly
  * event counts into a persistent count log, the merged series is scored
  * with the batch rolling-z detector
  * ([[Analytics.scoreHourlySeries]] — the SAME scoring code as the
  * verified `hourly_anomalies` query, so the streaming and batch
  * detectors can never drift apart), and newly-anomalous CLOSED hours
  * alert through the severity ladder. This is the volume twin of
  * [[DqMonitor]]: DqMonitor watches row-level quality, AnomalyMonitor
  * watches traffic shape (outage = silent hours gap-filled to n=0 score
  * as negative-z anomalies, floods as positive-z).
  *
  * Idempotence / replay contract (the [[EventPipeline]] discipline):
  *   - per-batch counts land partitioned by batch_id with DYNAMIC
  *     overwrite — a replayed batch rewrites its own partition, never
  *     double-counts;
  *   - batches are gated by the [[MicroBatch.commit]] ledger;
  *   - alerts are gated on a per-hour high-water mark (`alertedThrough`),
  *     so an hour alerts at most once per run even as later batches
  *     rescore it.
  *
  * Scale shape: the only corpus-sized work is the batch's own
  * map-side-combinable hourly count; the count log reads back
  * O(hours × batches) pre-aggregated rows and collapses to O(hours)
  * before the (bounded-window) scoring pass. The newest hour is treated
  * as OPEN (still filling) and never scored — scoring a partial hour
  * against full-hour history would fire on every boundary.
  */
object AnomalyMonitor {

  /** Run-level monitor state across micro-batches. */
  final class AnomalyStats extends MicroBatch.Ledger {
    @volatile var alertedThrough: Long = Long.MinValue
    @volatile var alertsSent: Long = 0L
  }

  /** Merged closed-hour series scored from the count log. */
  def scoredSeries(spark: SparkSession, countsPath: String,
      lookback: Int, zThresh: Double): DataFrame = {
    val merged = spark.read.parquet(countsPath)
      .groupBy("hour_id").agg(sum("n").as("n"))
    val closed = merged.crossJoin(
        broadcast(merged.agg(max("hour_id").as("open_hour"))))
      .filter(col("hour_id") < col("open_hour"))
      .select("hour_id", "n")
    Analytics.scoreHourlySeries(Analytics.gapfillSeries(closed),
      lookback, zThresh)
  }

  /** One idempotent micro-batch fold + score + alert (the foreachBatch
    * body of the monitor, extracted so StreamingSpec can replay it).
    * It runs as its own sink, so it composes with the data sinks — the
    * same stream (with a `ts` column) can feed both.
    */
  def processBatch(batch: DataFrame, batchId: Long, countsPath: String,
      stats: AnomalyStats,
      notifier: Option[graft.ops.PipelineRun.Notifier] = None,
      lookback: Int = 24, zThresh: Double = 3.0): Unit =
    if (MicroBatch.commit(stats, batchId) {
      batch
        .select(expr("unix_millis(ts) div 3600000").as("hour_id"))
        .groupBy("hour_id").agg(count(lit(1)).as("n"))
        .withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(countsPath)
      true
    }) {
      val spark = batch.sparkSession
      val fresh = scoredSeries(spark, countsPath, lookback, zThresh)
        .filter(col("is_anomaly") === 1 &&
          col("hour_id") > stats.alertedThrough)
        .orderBy("hour_id")
        .collect()
      fresh.foreach { r =>
        val hour = r.getAs[Long]("hour_id")
        val z = r.getAs[Double]("z")
        val n = r.getAs[Long]("n")
        val mean = r.getAs[Double]("mean_n")
        val sev = if (math.abs(z) >= 2 * zThresh) "critical" else "high"
        notifier.foreach(_.notify(sev,
          f"hourly volume anomaly: hour_id=$hour n=$n expected≈$mean%.1f " +
            f"z=$z%.1f (batch $batchId)"))
        stats.alertedThrough = math.max(stats.alertedThrough, hour)
        stats.alertsSent += 1
      }
    }
}
