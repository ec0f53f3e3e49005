package graft.ops

import java.io.{ByteArrayInputStream, IOException}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.time.Instant
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => FsPath}
import org.apache.parquet.format.Util
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

  /** [[LoadValidation]] of the parquet sink at `path`, from its files'
    * footers: the count of `.parquet` files and the sum of their
    * footers' `num_rows`. That is the answer `spark.read.parquet(path)
    * .count()` gives, since Spark's column-less parquet count reads only
    * row-group metadata too, but it launches no Spark job and infers no
    * schema. A sink with no data files (an empty batch) reads as 0 rows
    * and 0 files, so `ok` is false; a missing `path` throws.
    *
    * The sink is listed through `path`'s Hadoop filesystem under the
    * session's Hadoop conf, so any scheme works and the local one keeps
    * its `.crc` checks. Like Spark's file index, it skips every name
    * that starts with `_` or `.` (`_SUCCESS`, `_temporary`, hidden
    * files). A file whose tail magic or footer does not parse fails
    * with its path.
    *
    * Two measured traps: the listing recurses with `listStatus`, as
    * Spark's does, because `listFiles`/`listLocatedStatus` build a
    * `LocatedFileStatus` whose owner and permission copy forks an
    * `ls -ld` per file without libhadoop (about 320 ms for 32 files on
    * 4 cores); and the footer is parsed with parquet-format's
    * `Util.readFileMetaData` from two positioned reads, because
    * `ParquetFileReader.open` costs about 10 ms per file.
    */
  def validateLoad(spark: SparkSession, path: String,
      minRows: Long = 1): LoadValidation = {
    val root = new FsPath(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(dir: FsPath): Iterator[FileStatus] =
      fs.listStatus(dir).iterator.flatMap { st =>
        val name = st.getPath.getName
        if (name.startsWith("_") || name.startsWith(".")) Iterator.empty
        else if (st.isDirectory) dataFiles(st.getPath)
        else if (name.endsWith(".parquet")) Iterator.single(st)
        else Iterator.empty
      }
    val files = dataFiles(root).toSeq
    val rows = files.map(footerRows(fs, _)).sum
    LoadValidation(rows, files.size.toLong, rows >= minRows && files.nonEmpty)
  }

  private val ParquetMagic = "PAR1".getBytes(StandardCharsets.US_ASCII)

  /** `num_rows` of one parquet file's footer: the file ends with the
    * thrift-encoded footer, its 4-byte little-endian length and `PAR1`.
    */
  private def footerRows(fs: FileSystem, file: FileStatus): Long = {
    val path = file.getPath
    def bad(why: String, cause: Throwable = null) =
      new IOException(s"$path: $why", cause)
    val len = file.getLen
    if (len < 12) throw bad(s"$len bytes is too short for a parquet file")
    val in = fs.open(path)
    try {
      val tail = new Array[Byte](8)
      in.readFully(len - 8, tail)
      if (!java.util.Arrays.equals(tail, 4, 8, ParquetMagic, 0, 4))
        throw bad("bad parquet magic number at the end of the file")
      val footerLen = ByteBuffer.wrap(tail, 0, 4)
        .order(ByteOrder.LITTLE_ENDIAN).getInt
      if (footerLen <= 0 || footerLen > len - 12)
        throw bad(s"footer length $footerLen does not fit a $len-byte file")
      val footer = new Array[Byte](footerLen)
      in.readFully(len - 8 - footerLen, footer)
      try Util.readFileMetaData(new ByteArrayInputStream(footer)).getNum_rows
      catch { case e: IOException => throw bad("bad parquet footer", e) }
    } finally in.close()
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

  /** One cycle's result. `stageMs` is the wall ms of each stage, in run
    * order: `sink_write`, `aggregate` (run report, source monitor and
    * DQ suite, with their artifacts), `decide`, `validate_load`,
    * `cleanup`; `run` also writes it to `stage_timings.json`.
    */
  final case class RunOutcome(report: RunReport, dqFailureRate: Double,
    dqHardFail: Boolean, decision: Decision, executed: Seq[Action],
    validation: LoadValidation, cleanedUp: Int,
    stageMs: Seq[(String, Double)])

  /** O8 — one full pipeline cycle over a curated (batch) frame. Mirrors
    * the DAG task chain and its gates: DQ hard-fails above 10 %
    * (pipeline_dag.py:213-216), the decision stage escalates through the
    * notifier, actions execute only above the confidence gate, cleanup
    * runs with trigger_rule none_failed semantics (always, if prior
    * stages didn't throw).
    *
    * A cycle is 2 SQL executions: the partitioned sink write, which
    * fills the cache, and one aggregate over the cached batch that
    * carries the run report, the latest event time and the whole DQ
    * suite ([[DqSuite.suiteColumns]]), collected as one row. The suite
    * verdict is [[DqSuite.verdict]] over that row's failed counts, the
    * rule [[DqSuite.summarize]] applies to [[DqSuite.evaluate]]'s rows;
    * neither of those frames is built here, since their analysis alone
    * cost about 90 ms a cycle. Load validation reads the sink's parquet
    * footers ([[validateLoad]]) and launches no job.
    */
  def run(curated: DataFrame, opsDir: String, sinkDir: String,
      notifier: Notifier, trigger: TaskTrigger,
      consecutiveFailures: Int = 0,
      now: Instant = Instant.now()): RunOutcome = {
    val spark = curated.sparkSession
    Files.createDirectories(Paths.get(opsDir))
    val stageMs = Seq.newBuilder[(String, Double)]
    def stage[A](name: String)(body: => A): A = {
      val t0 = System.nanoTime()
      try body finally stageMs += name -> (System.nanoTime() - t0) / 1e6
    }

    // stage: ingest (batch twin) — sink + run report artifact
    val cached = curated.persist()
    try {
      stage("sink_write") {
        cached.write.mode("overwrite").partitionBy("country", "plan")
          .parquet(sinkDir)
      }
      val suite = DqSuite.customersSuite
      val (report, verdict) = stage("aggregate") {
        val cols = Reports.runReportColumns ++
          DqSuite.suiteColumns(cached.schema, suite) :+
          max(unix_millis(col("event_timestamp"))).as("latest_event_ms")
        val r = cached.agg(cols.head, cols.tail: _*).head()
        val report = RunReport(r.getAs[Long]("total_records"),
          r.getAs[Long]("late_records"), r.getAs[Long]("dq_failures"),
          r.getAs[Long]("schema_drift_count"))
        writeRunReport(report, s"$opsDir/run_report.json")

        // stage: monitor source — the DAG writes kafka_monitoring.json
        // with hardcoded status/partitions/lag (pipeline_dag.py:93-123);
        // here health derives from the batch in view: volume and
        // event-time staleness ARE what topic lag means once rows land
        val latestMs =
          if (r.isNullAt(r.fieldIndex("latest_event_ms"))) 0L
          else r.getAs[Long]("latest_event_ms")
        writeJson(s"$opsDir/kafka_monitoring.json", Seq(
          "topic" -> "customers",
          "status" -> (if (report.totalRecords == 0L) "empty" else "healthy"),
          "n_records" -> report.totalRecords,
          "latest_event_ms" -> latestMs,
          "staleness_ms" ->
            (if (latestMs == 0L) -1L else now.toEpochMilli - latestMs)))

        // stage: data quality — GE-style suite verdict from the same row
        val verdict = DqSuite.verdict(
          suite.indices.map(i => r.getAs[Long](s"fail_$i")))
        writeJson(s"$opsDir/ge_results.json", Seq(
          "evaluated" -> verdict.evaluated,
          "unsuccessful" -> verdict.unsuccessful,
          "failure_rate" -> verdict.failureRate,
          "hard_fail" -> verdict.hardFail))
        (report, verdict)
      }

      // stage: decide + confidence-gated action execution
      val (decision, executed) = stage("decide") {
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
        (decision, executed)
      }

      // stage: validate load; stage: cleanup (none_failed semantics)
      val validation = stage("validate_load")(validateLoad(spark, sinkDir))
      val cleaned = stage("cleanup")(
        cleanupOldData(s"$opsDir/quarantine", 7, now))
      val timings = stageMs.result()
      writeJson(s"$opsDir/stage_timings.json", timings)
      RunOutcome(report, verdict.failureRate, verdict.hardFail, decision,
        executed, validation, cleaned, timings)
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
