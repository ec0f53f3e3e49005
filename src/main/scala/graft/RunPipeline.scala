package graft

import graft.enrich.Enrich
import graft.ops.PipelineRun

/** Runnable O8 cycle over the fixtures — the library's CLI twin of the
  * reference's per-DAG-run batch (`sbt "runMain graft.RunPipeline
  * [sfDir] [opsDir] [sinkDir]"`): curate -> sink+report -> DQ -> decide
  * (console notifications) -> validate -> cleanup, artifacts under
  * opsDir, then the wall ms of each stage.
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val opsDir = args.lift(1).getOrElse("/tmp/graft_ops")
    val sinkDir = args.lift(2).getOrElse("/tmp/graft_sink")
    val spark = SessionTuning.session()
    val curated = Enrich.curated(Tables(spark, sfDir).events)
    val out = PipelineRun.run(curated, opsDir, sinkDir,
      PipelineRun.ConsoleNotifier,
      new PipelineRun.RecordingTrigger)
    println(s"[pipeline] report=${out.report} dqFailureRate=${out.dqFailureRate}")
    println(s"[pipeline] decision=${out.decision.decision} " +
      s"confidence=${out.decision.confidence} " +
      s"escalate=${out.decision.escalationRequired}")
    println(s"[pipeline] validation=${out.validation} cleaned=${out.cleanedUp}")
    println("[pipeline] stageMs " + out.stageMs
      .map { case (stage, ms) => f"$stage=$ms%.1f" }.mkString(" "))
    spark.stop()
  }
}
