package graft

import java.nio.file.{Files, Path, Paths}
import java.time.Instant
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.dq.DqSuite
import graft.enrich.Enrich
import graft.ops.PipelineRun
import graft.ops.PipelineRun._
import graft.report.Reports

/** Full orchestrated cycle over sf0.001 (O8 stage contract with artifact
  * files, O3/O6 side-effect recording, O9 validation, O10 retention).
  */
class PipelineRunSpec extends AnyFunSuite {
  import SparkTestSession._

  test("one pipeline cycle: artifacts, decision, validation, cleanup") {
    val opsDir = Files.createTempDirectory("ops").toString
    val sinkDir = Files.createTempDirectory("sink").toString + "/out"
    val notifier = new RecordingNotifier
    val trigger = new RecordingTrigger

    // plant an old quarantine file for the retention stage
    val qDir = Paths.get(s"$opsDir/quarantine")
    Files.createDirectories(qDir)
    val oldFile = qDir.resolve("stale.parquet")
    Files.writeString(oldFile, "x")
    Files.setLastModifiedTime(oldFile,
      java.nio.file.attribute.FileTime.from(
        Instant.now().minusSeconds(30L * 86400)))

    val curated = Enrich.curated(Tables(spark, Sf0001).events)
    val outcome = PipelineRun.run(curated, opsDir, sinkDir, notifier,
      trigger)

    // artifacts written per the DAG file contract
    Seq("run_report.json", "ge_results.json", "agent_decision.json",
        "kafka_monitoring.json", "stage_timings.json")
      .foreach(f => assert(Files.exists(Paths.get(s"$opsDir/$f")), f))
    // stage timings: every stage, in run order, in the outcome and file
    assert(outcome.stageMs.map(_._1) == Seq("sink_write", "aggregate",
      "decide", "validate_load", "cleanup"))
    assert(outcome.stageMs.forall(_._2 >= 0.0))
    val timings = Files.readString(Paths.get(s"$opsDir/stage_timings.json"))
    outcome.stageMs.foreach { case (stage, ms) =>
      assert(timings.contains(s""""$stage": $ms"""), timings)
    }
    // monitor stage derives health from the batch, not a hardcoded stub
    val mon = Files.readString(Paths.get(s"$opsDir/kafka_monitoring.json"))
    assert(mon.contains("\"status\": \"healthy\"")
      && mon.contains(s""""n_records": ${outcome.report.totalRecords}"""))
    // report numbers agree with a direct aggregate
    assert(outcome.report.totalRecords == curated.count())
    // fixture has injected DQ failures > 5% -> escalation path, notified
    assert(outcome.decision.escalationRequired)
    assert(notifier.sent.nonEmpty)
    // sink validated: rows match, hive partition dirs exist
    assert(outcome.validation.ok)
    assert(outcome.validation.rowCount == outcome.report.totalRecords)
    assert(outcome.validation.fileCount > 0)
    // retention deleted the stale file
    assert(outcome.cleanedUp == 1)
    assert(!Files.exists(oldFile))
    // artifacts are re-readable through the engine (S7)
    val rep = PipelineRun.readReport(spark, s"$opsDir/run_report.json")
    assert(rep.select("total_records").head().getLong(0)
      == outcome.report.totalRecords)
  }

  /** Suite-clean events: unique ids, names present, valid domains,
    * fresh.
    */
  private def healthyCurated: DataFrame = {
    import spark.implicits._
    val eventTs = 1706745000000L // 2024-01-31 23:50 UTC, 10 min pre-asOf
    val parsed = (1 to 20).map { i =>
      s"""{"id":"c$i","name":"n$i","email":"u$i@example.com",
         |"signup_ts":${eventTs - 90L * 86400000L},"country":"US",
         |"plan":"basic","event_ts":$eventTs,"version":1}"""
        .stripMargin.replaceAll("\n", "")
    }.toDF("value")
    graft.streaming.EventPipeline.curate(
      graft.streaming.EventPipeline.parse(parsed),
      to_timestamp(lit("2024-02-01 00:00:00")))
  }

  private def tempSink(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/out"

  private def runQuietly(curated: DataFrame, opsDir: String,
      sinkDir: String): RunOutcome =
    PipelineRun.run(curated, opsDir, sinkDir, new RecordingNotifier,
      new RecordingTrigger)

  private def parquetFiles(dir: String): Seq[Path] =
    Files.walk(Paths.get(dir)).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq

  test("healthy data: continue, no side effects, no DQ hard-fail") {
    val opsDir = Files.createTempDirectory("ops2").toString
    val notifier = new RecordingNotifier
    val trigger = new RecordingTrigger
    val outcome = PipelineRun.run(healthyCurated, opsDir, tempSink("sink2"),
      notifier, trigger)
    assert(outcome.decision.decision == "continue")
    assert(outcome.executed.isEmpty)
    assert(notifier.sent.isEmpty)
    assert(trigger.triggered.isEmpty)
    assert(!outcome.dqHardFail)
    assert(outcome.dqFailureRate == 0.0)
  }

  test("one-aggregate cycle equals Reports.runReport and summarize(evaluate)") {
    Seq("sf0.001" -> Enrich.curated(Tables(spark, Sf0001).events),
        "healthy" -> healthyCurated).foreach { case (name, curated) =>
      val opsDir = Files.createTempDirectory("ops3").toString
      val out = runQuietly(curated, opsDir, tempSink("sink3"))
      val r = Reports.runReport(curated).head()
      assert(out.report == RunReport(r.getAs[Long]("total_records"),
        r.getAs[Long]("late_records"), r.getAs[Long]("dq_failures"),
        r.getAs[Long]("schema_drift_count")), name)
      val s = DqSuite.summarize(
        DqSuite.evaluate(curated, DqSuite.customersSuite)).head()
      val rate = s.getAs[Double]("failure_rate")
      val hardFail = s.getAs[Boolean]("hard_fail")
      assert(out.dqFailureRate == rate, name)
      assert(out.dqHardFail == hardFail, name)
      assert(Files.readString(Paths.get(s"$opsDir/ge_results.json")) ==
        s"""{"evaluated": ${s.getAs[Long]("evaluated_expectations")}, """ +
        s""""unsuccessful": ${s.getAs[Long]("unsuccessful_expectations")}, """ +
        s""""failure_rate": $rate, "hard_fail": $hardFail}""", name)
    }
  }

  test("validateLoad reads footers: the parquet count, hidden files skipped") {
    val sinkDir = tempSink("sink4")
    Enrich.curated(Tables(spark, Sf0001).events).write
      .partitionBy("country", "plan").parquet(sinkDir)
    val files = parquetFiles(sinkDir)
    val v = PipelineRun.validateLoad(spark, sinkDir)
    assert(v == LoadValidation(spark.read.parquet(sinkDir).count(),
      files.size.toLong, ok = true))
    // copies of a data file under `_temporary` and as a hidden file:
    // Spark's listing skips both, and so must the footer read
    val data = files.head
    Files.createDirectories(Paths.get(sinkDir, "_temporary"))
    Files.copy(data, Paths.get(sinkDir, "_temporary", "x.parquet"))
    Files.copy(data, data.resolveSibling(".hidden.parquet"))
    assert(spark.read.parquet(sinkDir).count() == v.rowCount)
    assert(PipelineRun.validateLoad(spark, sinkDir) == v)
    // a truncated data file fails with its path, at the tail magic
    val bytes = Files.readAllBytes(data)
    val truncated = data.resolveSibling("part-truncated.parquet")
    Files.write(truncated, bytes.take(bytes.length / 2))
    val e = intercept[java.io.IOException](
      PipelineRun.validateLoad(spark, sinkDir))
    assert(e.getMessage.contains(truncated.toString)
      && e.getMessage.contains("magic"), e.getMessage)
  }

  test("empty batch: validation reads 0 rows and is not ok") {
    val opsDir = Files.createTempDirectory("ops5").toString
    val sinkDir = tempSink("sink5")
    val out = runQuietly(healthyCurated.limit(0), opsDir, sinkDir)
    assert(out.report.totalRecords == 0L)
    assert(parquetFiles(sinkDir).isEmpty)
    assert(out.validation == LoadValidation(0L, 0L, ok = false))
  }

  test("a cycle is 2 SQL executions; validateLoad launches no job") {
    val sc = spark.sparkContext
    val curated = Enrich.curated(Tables(spark, Sf0001).events)
    val opsDir = Files.createTempDirectory("ops6").toString
    val sinkDir = tempSink("sink6")
    val execs = new AtomicInteger
    val onExec = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        execs.incrementAndGet(); ()
      }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = {
        execs.incrementAndGet(); ()
      }
    }
    GraftListenerBus.drain(sc)
    spark.listenerManager.register(onExec)
    try {
      runQuietly(curated, opsDir, sinkDir)
      GraftListenerBus.drain(sc)
    } finally spark.listenerManager.unregister(onExec)
    assert(execs.get == 2)

    val jobs = new AtomicInteger
    val onJob = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    sc.addSparkListener(onJob)
    val v = try {
      val v = PipelineRun.validateLoad(spark, sinkDir)
      GraftListenerBus.drain(sc)
      v
    } finally sc.removeSparkListener(onJob)
    assert(v.ok && v.rowCount > 0)
    assert(jobs.get == 0)
  }
}
