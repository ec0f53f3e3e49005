package graft.streaming

import java.sql.DriverManager

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** T4's DATABASE leg — the reference's Snowflake sink
  * (spark/jobs/ingest_transform.py:273-305) re-expressed as an idempotent
  * `foreachBatch` JDBC writer. The parquet twin (EventPipeline.processBatch)
  * gets idempotence from dynamic partition overwrite; a plain JDBC table has
  * no partitions, so the equivalent recipe is delete-then-append keyed on
  * `batch_id`:
  *
  *   1. `DELETE FROM t WHERE batch_id = N`  (removes any partial/previous
  *      delivery of this batch — a no-op on first delivery);
  *   2. append the batch rows tagged with `batch_id = N`.
  *
  * foreachBatch is at-least-once, so a replay re-runs both steps and
  * converges to exactly-once table contents — the standard recipe when the
  * target lacks cross-statement transactions from the writer's view. The
  * tests run it against in-JVM embedded Derby (on the Spark classpath), so
  * the actual `.format("jdbc")` path — dialect, type mapping, batching —
  * executes for real, not through an injected stub.
  *
  * Scale: `.write.format("jdbc")` issues batched INSERTs from every
  * partition in parallel (`numPartitions` caps the connection count);
  * the DELETE is a single indexed statement. For warehouse-scale loads the
  * reference's own guidance applies — stage to files and COPY — but the
  * micro-batch contract is identical.
  */
object JdbcSink {

  /** Columns mirrored to the relational sink (the reference writes the
    * curated projection, ingest_transform.py:273-289).
    */
  val SinkColumns: Seq[String] = Seq(
    "id", "email", "country", "plan", "region", "email_domain",
    "is_late_arrival", "dq_passed", "event_timestamp")

  /** DDL for the sink table (Derby/ANSI types). */
  def createTableSql(table: String): String =
    s"""CREATE TABLE $table (
       |  batch_id BIGINT,
       |  id VARCHAR(64),
       |  email VARCHAR(256),
       |  country VARCHAR(8),
       |  plan VARCHAR(32),
       |  region VARCHAR(32),
       |  email_domain VARCHAR(128),
       |  is_late_arrival BOOLEAN,
       |  dq_passed BOOLEAN,
       |  event_timestamp TIMESTAMP)""".stripMargin

  /** Create the sink table if absent (Derby has no IF NOT EXISTS). */
  def ensureTable(url: String, table: String): Unit = {
    val conn = DriverManager.getConnection(url)
    try {
      val exists = conn.getMetaData
        .getTables(null, null, table.toUpperCase, null).next()
      if (!exists) {
        val st = conn.createStatement()
        try st.executeUpdate(createTableSql(table))
        finally st.close()
      }
    } finally conn.close()
  }

  /** One idempotent micro-batch commit to the JDBC sink (the foreachBatch
    * body, extracted so StreamingSpec can replay it).
    */
  def writeBatch(batch: DataFrame, batchId: Long, url: String,
      table: String): Unit = {
    ensureTable(url, table)
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.prepareStatement(
        s"DELETE FROM $table WHERE batch_id = ?")
      try { st.setLong(1, batchId); st.executeUpdate(); () }
      finally st.close()
    } finally conn.close()
    batch
      .select(lit(batchId).as("batch_id") +: SinkColumns.map(col): _*)
      .write.mode("append")
      .format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .save()
  }
}
