package graft.ops

import java.nio.file.{Files, Path, Paths}
import java.time.Instant
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.agent.DecisionEngine
import graft.agent.DecisionEngine._
import graft.dq.DqSuite
import graft.report.Reports

/** The orchestrated pipeline run — the reference's Airflow DAG stage
  * contract (SURVEY.md §2.8 O8, §3.2) as a plain Scala assembly:
  * ingest → data-quality → decide → validate-load → cleanup, stages
  * passing JSON artifacts through an ops directory exactly like the
  * reference's `/data/ops` volume (airflow/dags/pipeline_dag.py:30-91,
  * 425-494). Airflow itself stays external; the stage semantics live
  * here, testable without it.
  *
  * Side effects (Slack/email O6, task retrigger O3) are injected through
  * [[Notifier]] / [[TaskTrigger]] so the engine stays pure and the spec
  * records them.
  */
object PipelineRun {

  /** O6 — notification client (reference: ops/notifications.py:41-231). */
  trait Notifier { def notify(severity: String, message: String): Unit }

  /** Console fallback, like the reference's console email mode. */
  object ConsoleNotifier extends Notifier {
    def notify(severity: String, message: String): Unit =
      println(s"[notify:$severity] $message")
  }

  /** Spec double: records instead of sending. */
  final class RecordingNotifier extends Notifier {
    val sent = scala.collection.mutable.Buffer.empty[(String, String)]
    def notify(severity: String, message: String): Unit =
      sent += ((severity, message))
  }

  /** O6 glue: renders the reference's full Slack payload
    * ([[Notifications.slackPayload]]) for every notification and hands
    * the JSON to the injected transport (webhook POST in production; a
    * recording function in specs). The clock is injected so payloads
    * stay deterministic under test.
    */
  final class SlackPayloadNotifier(post: String => Unit,
      title: String = "Data Pipeline Alert",
      clock: () => java.time.Instant = () => java.time.Instant.now())
      extends Notifier {
    def notify(severity: String, message: String): Unit =
      post(Notifications.slackPayload(message, title, severity,
        channel = None, asOf = clock()))
  }

  /** O3 — Airflow task retrigger client (reference: agent/tools.py:36-89);
    * REST stays external, the contract is here.
    */
  trait TaskTrigger { def retrigger(taskId: String): Boolean }

  final class RecordingTrigger extends TaskTrigger {
    val triggered = scala.collection.mutable.Buffer.empty[String]
    def retrigger(taskId: String): Boolean = { triggered += taskId; true }
  }

  /** The run-report artifact (ingest_transform.py:307-336 shape). */
  final case class RunReport(totalRecords: Long, lateRecords: Long,
    dqFailures: Long, schemaDriftCount: Long) {
    def lateRate: Double =
      if (totalRecords == 0) 0.0 else lateRecords.toDouble / totalRecords
    def dqFailureRate: Double =
      if (totalRecords == 0) 0.0 else dqFailures.toDouble / totalRecords
  }

  def writeRunReport(r: RunReport, path: String): Unit =
    writeJson(path, Seq(
      "total_records" -> r.totalRecords, "late_records" -> r.lateRecords,
      "dq_failures" -> r.dqFailures,
      "schema_drift_count" -> r.schemaDriftCount,
      "late_rate" -> r.lateRate, "dq_failure_rate" -> r.dqFailureRate))

  /** S7 — read a JSON report back as a DataFrame (the agent's context
    * load, agent/decision_agent.py:120-152).
    */
  def readReport(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  /** O9 — load validation (pipeline_dag.py:326-390): recursive parquet
    * file count + row count of the sink output.
    */
  final case class LoadValidation(rowCount: Long, fileCount: Long,
    ok: Boolean)

  def validateLoad(spark: SparkSession, path: String,
      minRows: Long = 1): LoadValidation = {
    val rows = spark.read.parquet(path).count()
    val files = Files.walk(Paths.get(path)).iterator().asScala
      .count(p => p.toString.endsWith(".parquet"))
    LoadValidation(rows, files, rows >= minRows && files > 0)
  }

  /** O10 — retention cleanup (pipeline_dag.py:392-423): delete regular
    * files older than `maxAgeDays` under `dir`; returns how many.
    */
  def cleanupOldData(dir: String, maxAgeDays: Int, now: Instant): Int = {
    val cutoff = now.minusSeconds(maxAgeDays * 86400L)
    val root = Paths.get(dir)
    if (!Files.exists(root)) return 0
    val old = Files.walk(root).iterator().asScala
      .filter(Files.isRegularFile(_))
      .filter(p => Files.getLastModifiedTime(p).toInstant.isBefore(cutoff))
      .toList
    old.foreach(Files.delete)
    old.size
  }

  /** Small-files compaction for a parquet sink (the streaming dual sink
    * writes one file per partition-dir per micro-batch — 77 files for a
    * 5 k-event batch over 77 dirs, 243 before the batch was rebalanced
    * by its partition columns; at a 30 s trigger that is ~2.9 k
    * files/day/dir): rewrite with
    * `ceil(rows/targetRows)` output files per partition column set.
    * Returns (files before, files after). The 100 TB version is this
    * exact job per partition-dir on a schedule.
    */
  def compact(spark: SparkSession, path: String, targetRows: Long,
      partitionCols: Seq[String] = Seq("country", "plan")): (Long, Long) = {
    def fileCount: Long = Files.walk(Paths.get(path)).iterator().asScala
      .count(p => p.toString.endsWith(".parquet"))
    val before = fileCount
    val df = spark.read.parquet(path)
    val n = math.max(1, math.ceil(df.count().toDouble / targetRows).toInt)
    val tmp = path.stripSuffix("/") + "__compact_tmp"
    df.repartition(n).write.mode("overwrite")
      .partitionBy(partitionCols: _*).parquet(tmp)
    // atomic-ish swap (same filesystem)
    val p = Paths.get(path); val t = Paths.get(tmp)
    val old = Paths.get(path.stripSuffix("/") + "__compact_old")
    Files.move(p, old)
    Files.move(t, p)
    org.apache.commons.io.FileUtils.deleteDirectory(old.toFile)
    (before, fileCount)
  }

  final case class RunOutcome(report: RunReport, dqFailureRate: Double,
    dqHardFail: Boolean, decision: Decision, executed: Seq[Action],
    validation: LoadValidation, cleanedUp: Int)

  /** O8 — one full pipeline cycle over a curated (batch) frame. Mirrors
    * the DAG task chain and its gates: DQ hard-fails above 10 %
    * (pipeline_dag.py:213-216), the decision stage escalates through the
    * notifier, actions execute only above the confidence gate, cleanup
    * runs with trigger_rule none_failed semantics (always, if prior
    * stages didn't throw).
    */
  def run(curated: DataFrame, opsDir: String, sinkDir: String,
      notifier: Notifier, trigger: TaskTrigger,
      consecutiveFailures: Int = 0,
      now: Instant = Instant.now()): RunOutcome = {
    val spark = curated.sparkSession
    Files.createDirectories(Paths.get(opsDir))

    // stage: ingest (batch twin) — sink + run report artifact
    val cached = curated.persist()
    try {
      cached.write.mode("overwrite").partitionBy("country", "plan")
        .parquet(sinkDir)
      val r = cached.agg(Reports.runReportColumns.head,
        Reports.runReportColumns.tail :+
          max(unix_millis(col("event_timestamp"))): _*).head()
      val report = RunReport(r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))
      writeRunReport(report, s"$opsDir/run_report.json")

      // stage: monitor source — the DAG writes kafka_monitoring.json
      // with hardcoded status/partitions/lag (pipeline_dag.py:93-123);
      // here health derives from the batch in view: volume and
      // event-time staleness ARE what topic lag means once rows land
      val latestMs = if (r.isNullAt(4)) 0L else r.getLong(4)
      writeJson(s"$opsDir/kafka_monitoring.json", Seq(
        "topic" -> "customers",
        "status" -> (if (report.totalRecords == 0L) "empty" else "healthy"),
        "n_records" -> report.totalRecords,
        "latest_event_ms" -> latestMs,
        "staleness_ms" ->
          (if (latestMs == 0L) -1L else now.toEpochMilli - latestMs)))

      // stage: data quality — GE-style suite over the curated frame
      val suite = DqSuite.evaluate(cached, DqSuite.customersSuite)
      val summary = DqSuite.summarize(suite).head()
      val failureRate = summary.getAs[Double]("failure_rate")
      val hardFail = failureRate > DqSuite.HardFailThreshold
      writeJson(s"$opsDir/ge_results.json", Seq(
        "evaluated" -> summary.getAs[Long]("evaluated_expectations"),
        "unsuccessful" -> summary.getAs[Long]("unsuccessful_expectations"),
        "failure_rate" -> failureRate, "hard_fail" -> hardFail))

      // stage: decide + confidence-gated action execution
      val ctx = PipelineContext(report.totalRecords, report.lateRecords,
        report.dqFailures, report.schemaDriftCount, consecutiveFailures)
      val decision = DecisionEngine.decide(ctx)
      val executed = DecisionEngine.actionsToExecute(decision)
      executed.foreach {
        case NotifyOps(sev, msg) => notifier.notify(sev, msg)
        case RetriggerTask(taskId) => trigger.retrigger(taskId); ()
        case EscalateIncident(t) =>
          notifier.notify("critical", s"escalated incident: $t")
        case _ => () // remap/quarantine are in-engine concerns
      }
      writeJson(s"$opsDir/agent_decision.json", Seq(
        "decision" -> decision.decision,
        "confidence" -> decision.confidence,
        "escalation_required" -> decision.escalationRequired,
        "n_actions_executed" -> executed.size))

      // stage: validate load; stage: cleanup (none_failed semantics)
      val validation = validateLoad(spark, sinkDir)
      val cleaned = cleanupOldData(s"$opsDir/quarantine", 7, now)
      RunOutcome(report, failureRate, hardFail, decision, executed,
        validation, cleaned)
    } finally { cached.unpersist(); () }
  }

  private def writeJson(path: String, kvs: Seq[(String, Any)]): Unit = {
    def render(v: Any): String = v match {
      case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      case b: Boolean => b.toString
      case n => n.toString
    }
    val json = kvs.map { case (k, v) => s""""$k": ${render(v)}""" }
      .mkString("{", ", ", "}")
    val p: Path = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.writeString(p, json)
    ()
  }
}
