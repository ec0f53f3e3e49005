package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener,
  SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.SparkSession

/** How a Spark action is timed and attributed: [[record]] runs a body
  * and returns its wall time plus the per-stage cost of every stage
  * that completed while it ran. The one `SparkListener` of `src/main`;
  * the dev tools (QueryProfile, RunCuration, ScaleProbe) and
  * `RunStream.runFull` all measure through it.
  */
object Metrics {

  /** One completed stage, as the Spark UI's stage page would show it:
    * submission-to-completion wall, executor-summed run and GC time,
    * task count, file/cache input, shuffle read/write and spill
    * (memory + disk).
    */
  final case class Stage(id: Int, name: String, wallMs: Long,
      executorRunMs: Long, gcMs: Long, tasks: Int, inputBytes: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long)

  /** Wall seconds of a recorded body and its stages, in completion
    * order, with their totals.
    */
  final case class Run(seconds: Double, stages: Seq[Stage]) {
    private def total(f: Stage => Long): Long = stages.map(f).sum
    def executorRunMs: Long = total(_.executorRunMs)
    def gcMs: Long = total(_.gcMs)
    def tasks: Long = total(_.tasks.toLong)
    def inputBytes: Long = total(_.inputBytes)
    def shuffleReadBytes: Long = total(_.shuffleReadBytes)
    def shuffleWriteBytes: Long = total(_.shuffleWriteBytes)
    def spillBytes: Long = total(_.spillBytes)
  }

  private def stageOf(i: StageInfo): Stage = {
    val m = i.taskMetrics
    Stage(i.stageId, i.name.takeWhile(_ != '\n'),
      (for (a <- i.completionTime; b <- i.submissionTime) yield a - b)
        .getOrElse(-1L),
      m.executorRunTime, m.jvmGCTime, i.numTasks,
      m.inputMetrics.bytesRead, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  /** Run `body` under a stage listener. The clock covers `body` only;
    * the listener bus is then drained (outside the clock), so every
    * stage the body completed is in the returned [[Run]] — no sleep,
    * no settle loop. The listener is detached whether `body` returns
    * or throws. Stages of other threads' jobs that complete in the
    * same window are counted too. Records nest.
    */
  def record[T](spark: SparkSession)(body: => T): (T, Run) = {
    val sc = spark.sparkContext
    val stages = new ConcurrentLinkedQueue[Stage]
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        stages.add(stageOf(e.stageInfo)); ()
      }
    }
    sc.addSparkListener(listener)
    try {
      val t0 = System.nanoTime()
      val out = body
      val seconds = (System.nanoTime() - t0) / 1e9
      GraftListenerBus.drain(sc)
      (out, Run(seconds, stages.asScala.toVector))
    } finally sc.removeSparkListener(listener)
  }
}
