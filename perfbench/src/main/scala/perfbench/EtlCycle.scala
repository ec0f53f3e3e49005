package perfbench

import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.Tables
import graft.agent.DecisionEngine
import graft.enrich.Enrich
import graft.ops.PipelineRun

/** `etl_cycle`: back-to-back O8 cycles, each `Enrich.curated` of the
  * generated `events` table into `PipelineRun.run` (sink, run report,
  * DQ suite, decide, validate load, cleanup). Closed loop, one client.
  */
object EtlCycle {
  /** Warm-up before the clock starts: at least two cycles and this
    * many seconds, so the cycle's code paths are compiled.
    */
  val WarmupS = 8.0
  /** Fewest measured cycles of a timed run, for the median. A run
    * measures for `seconds` or until it has this many cycles, whichever
    * is later. A tail needs 21 cycles, more than a run can afford.
    */
  val MinCycles = 12
  /** Fewest traced and untraced cycles each in a traced run. */
  val MinTracedCycles = 10
  /** The measuring loop stops here however slow the host is. */
  val MaxLoopS = 90.0

  def run(c: Ctx): Outcome = {
    val spark = c.spark
    val sc = spark.sparkContext
    val t = c.tracer
    val events = Tables(spark, c.input).events
    val opsDir = s"${c.work}/etl/ops"
    val sinkDir = s"${c.work}/etl/sink"
    val notifier = new PipelineRun.RecordingNotifier
    val trigger = new PipelineRun.RecordingTrigger

    def cycle(): (Double, PipelineRun.RunOutcome) = Measure.seconds {
      t.span("etl.cycle") {
        val curated = t.span("enrich.curated")(Enrich.curated(events))
        t.span("ops.pipeline_run") {
          PipelineRun.run(curated, opsDir, sinkDir, notifier, trigger)
        }
      }
    }

    val warmT0 = System.nanoTime()
    var warm = 0
    while (warm < 2 || System.nanoTime() - warmT0 < WarmupS * 1e9) {
      cycle(); warm += 1
    }

    val times = mutable.ArrayBuffer.empty[Double]
    val tracedTimes = mutable.ArrayBuffer.empty[Double]
    val observed = mutable.ArrayBuffer.empty[Seq[Long]]
    // traced cycles: per-stage (seconds, jobs, scanned rows), and the
    // SQL executions of the first one, with the stage each was given
    val stageRows = mutable.ArrayBuffer.empty[Map[String, (Double, Int, Long)]]
    val agentRows = mutable.ArrayBuffer.empty[Map[String, Double]]
    var firstExecs: Seq[Map[String, Any]] = Nil
    val sqlLog = new SqlLog("ops.pipeline_run")
    var failed = 0L

    /** Cycles for `seconds` or until `minCycles` ran. A traced run
      * alternates untraced and traced cycles, so both see the same
      * warm-up state and their difference is the tracing overhead.
      */
    def loop(seconds: Double, minCycles: Int): Unit = {
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      var i = 0
      while ((elapsed < seconds || i < minCycles) && elapsed < MaxLoopS) {
        val traced = c.trace && i % 2 == 1
        i += 1
        if (traced) { c.tracing(on = true); sc.addSparkListener(sqlLog) }
        try {
          val (s, out) = cycle()
          (if (traced) tracedTimes else times) += s
          val r = out.report
          observed += Seq(r.totalRecords, r.lateRecords, r.dqFailures,
            r.schemaDriftCount, out.validation.rowCount,
            if (out.validation.ok) 1L else 0L)
          if (traced) {
            val execs = sqlLog.take(sc)
            val (stages, stageOf) = attribute(execs)
            stageRows += stages
            if (firstExecs.isEmpty) firstExecs = execs.map { e =>
              Map[String, Any]("id" -> e.id, "root" -> e.root,
                "stage" -> stageOf.getOrElse(e.root, "other"),
                "duration_s" -> e.durationNs / 1e9, "jobs" -> e.jobs,
                "call_site" -> e.callSite.linesIterator.take(2).toSeq)
            }
            agentRows += afterCycle(c, out, opsDir)
          }
        } catch {
          case e: Exception =>
            failed += 1
            System.err.println(s"[perfbench] cycle failed: $e")
        } finally if (traced) {
          c.tracing(on = false) // drains the listener bus
          sc.removeSparkListener(sqlLog)
        }
      }
    }

    loop(c.seconds, if (c.trace) 2 * MinTracedCycles else MinCycles)

    val tail = Measure.tail(times.toSeq)
    val e2e = Map("cycle_p50_s" -> Measure.median(times.toSeq)) ++
      tail.map("cycle_tail_s" -> _._1)
    val info = Map[String, Any]("cycles" -> times.size,
      "cycle_s" -> times.toSeq) ++ tail.map("cycle_tail_quantile" -> _._2)
    val etl = Outcome(attempted = times.size + tracedTimes.size + failed,
      failed = failed, e2e = e2e,
      observed = Map("cycles" -> observed.toSeq), info = info,
      sparkUnit = (Set("etl.cycle", "enrich.curated", "ops.pipeline_run"),
        tracedTimes.size))
    if (!c.trace) etl
    else {
      val stageNames = Seq("ops.sink_write", "ops.run_report", "dq.evaluate",
        "ops.validate_load")
      def med(f: Map[String, (Double, Int, Long)] => Double) =
        Measure.median(stageRows.map(f).toSeq)
      val stageLayers = stageNames.map(s =>
        s"${s}_s" -> med(_.get(s).map(_._1).getOrElse(0.0))).toMap ++ Map(
        "dq.jobs" -> med(_.get("dq.evaluate").map(_._2.toDouble).getOrElse(0.0)),
        "dq.rows_scanned" ->
          med(_.get("dq.evaluate").map(_._3.toDouble).getOrElse(0.0)))
      val agent = agentRows.head.keys.map(k =>
        k -> Measure.median(agentRows.map(_(k)).toSeq)).toMap
      val files = Files.walk(Paths.get(sinkDir)).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).toSeq
      c.tracing(on = true)
      val layers = stageLayers ++ agent ++ enrichNoop(c, events) ++ Map(
        "ops.sink_files" -> files.size.toDouble,
        "ops.sink_mb" -> files.map(Files.size(_)).sum / 1048576.0,
        "trace.overhead_s" ->
          (Measure.median(tracedTimes.toSeq) - Measure.median(times.toSeq)))
      // The query surface has no timed workload of its own (see
      // README.md); its layer sums are measured here, after the cycles.
      val q = QuerySuite.run(c, c.args("queries_dir"))
      etl.copy(attempted = etl.attempted + q.attempted,
        failed = etl.failed + q.failed, layers = layers ++ q.layers,
        observed = etl.observed ++ q.observed,
        info = etl.info ++ Map("query_surface" -> q.info,
          "first_traced_cycle_sql" -> firstExecs))
    }
  }

  /** Stage of each root SQL execution of one `PipelineRun.run`, and per
    * stage its seconds (root executions only), Spark jobs and scanned
    * rows (nested executions included). `validateLoad`'s and `DqSuite`'s
    * executions are named by their call site, the sink write by its
    * Spark method. The rest are called from `run` itself: as `run`
    * orders them, the first is the run-report aggregate and the later
    * ones are the DQ summary.
    */
  private def attribute(execs: Seq[SqlExec])
      : (Map[String, (Double, Int, Long)], Map[Long, String]) = {
    var fromRun = 0
    val stageOf = execs.filter(e => e.id == e.root).map { r =>
      val site = r.callSite
      val stage =
        if (site.contains("PipelineRun$.validateLoad")) "ops.validate_load"
        else if (site.linesIterator.nextOption().exists(_.contains("DataFrameWriter")))
          "ops.sink_write"
        else if (site.contains("graft.dq.")) "dq.evaluate"
        else {
          fromRun += 1
          if (fromRun == 1) "ops.run_report" else "dq.evaluate"
        }
      r.id -> stage
    }.toMap
    val stages = execs.groupBy(e => stageOf.getOrElse(e.root, "other"))
      .map { case (s, es) =>
        s -> (es.filter(e => e.id == e.root).map(_.durationNs).sum / 1e9,
          es.map(_.jobs).sum, es.map(_.scanRows).sum)
      }
    (stages, stageOf)
  }

  /** The stages of a cycle that run no Spark job, timed by calling the
    * engine's public functions on the traced cycle's own report and ops
    * directory: decide plus action gating, and retention cleanup.
    */
  private def afterCycle(c: Ctx, out: PipelineRun.RunOutcome,
      opsDir: String): Map[String, Double] = {
    val r = out.report
    val decideS = c.tracer.span("agent.decide")(Measure.seconds(
      DecisionEngine.actionsToExecute(DecisionEngine.decide(
        DecisionEngine.PipelineContext(r.totalRecords, r.lateRecords,
          r.dqFailures, r.schemaDriftCount, 0)))))._1
    val cleanupS = c.tracer.span("ops.cleanup")(Measure.seconds(
      PipelineRun.cleanupOldData(s"$opsDir/quarantine", 7, Instant.now())))._1
    Map("agent.decide_ms" -> decideS * 1e3,
      "agent.actions_executed" -> out.executed.size.toDouble,
      "ops.cleanup_s" -> cleanupS)
  }

  /** `Enrich.curated` is lazy: its cost is the noop-sink time of its
    * output minus that of its input. Medians over three tries.
    */
  private def enrichNoop(c: Ctx, events: DataFrame): Map[String, Double] = {
    val t = c.tracer
    val diffs = (1 to 3).map { _ =>
      val in = t.span("enrich.input_noop")(Measure.noop(events))
      t.span("enrich.curated_noop")(Measure.noop(Enrich.curated(events))) - in
    }
    Map("enrich.curated_s" -> Measure.median(diffs))
  }
}
