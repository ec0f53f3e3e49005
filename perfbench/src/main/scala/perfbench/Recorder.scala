package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** Spark cost counters of one job group (doubles, so a sum over
  * several units of work can be scaled to one unit).
  */
final class Counters {
  var jobs = 0.0
  var stages = 0.0
  var tasks = 0.0
  var taskFailures = 0.0
  var executorMs = 0.0
  var cpuNs = 0.0
  var gcMs = 0.0
  var schedWaitMs = 0.0
  var shuffleWriteBytes = 0.0
  var shuffleReadBytes = 0.0
  var spillBytes = 0.0
  var rowsRead = 0.0

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskFailures += o.taskFailures; executorMs += o.executorMs
    cpuNs += o.cpuNs; gcMs += o.gcMs; schedWaitMs += o.schedWaitMs
    shuffleWriteBytes += o.shuffleWriteBytes
    shuffleReadBytes += o.shuffleReadBytes; spillBytes += o.spillBytes
    rowsRead += o.rowsRead
  }

  def scale(f: Double): Counters = {
    val s = new Counters
    s += this
    s.jobs *= f; s.stages *= f; s.tasks *= f; s.taskFailures *= f
    s.executorMs *= f; s.cpuNs *= f; s.gcMs *= f; s.schedWaitMs *= f
    s.shuffleWriteBytes *= f; s.shuffleReadBytes *= f; s.spillBytes *= f
    s.rowsRead *= f
    s
  }

  def gcShare: Double = if (executorMs == 0) 0.0 else gcMs / executorMs

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_failures" -> taskFailures, "executor_ms" -> executorMs,
    "cpu_ms" -> cpuNs / 1e6, "gc_ms" -> gcMs,
    "sched_wait_ms" -> schedWaitMs,
    "shuffle_write_mb" -> shuffleWriteBytes / 1048576.0,
    "shuffle_read_mb" -> shuffleReadBytes / 1048576.0,
    "spill_mb" -> spillBytes / 1048576.0, "rows_read" -> rowsRead)
}

/** The benchmark's own SparkListener: task and stage metrics summed per
  * job group. The tracer sets the job group to the current span, so
  * every Spark job is charged to the innermost span that started it.
  */
final class Recorder(sc: SparkContext) extends SparkListener {
  private val byGroup = new ConcurrentHashMap[String, Counters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageSubmitted = new ConcurrentHashMap[Int, java.lang.Long]()

  private def counters(group: String): Counters =
    byGroup.computeIfAbsent(group, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    val c = counters(group)
    c.synchronized { c.jobs += 1 }
    e.stageInfos.foreach(s => stageGroup.put(s.stageId, group))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmitted.put(e.stageInfo.stageId,
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()): Long)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val c = counters(stageGroup.getOrDefault(e.stageInfo.stageId, ""))
    c.synchronized { c.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counters(stageGroup.getOrDefault(e.stageId, ""))
    c.synchronized {
      c.tasks += 1
      if (e.reason != Success) c.taskFailures += 1
      val submitted = stageSubmitted.get(e.stageId)
      if (submitted != null)
        c.schedWaitMs += math.max(0L, e.taskInfo.launchTime - submitted).toDouble
      val m = e.taskMetrics
      if (m != null) {
        c.executorMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.rowsRead += m.inputMetrics.recordsRead
      }
    }
  }

  /** Counters of every group, after all posted events are delivered. */
  def snapshot(): Map[String, Counters] = {
    org.apache.spark.BusDrain(sc)
    byGroup.asScala.toMap
  }
}

/** One traced call into a layer's public function. */
final case class Span(id: Int, parent: Int, name: String, detail: String,
    startNs: Long, endNs: Long, storageMbAfter: Double) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Disabled, `span` only runs its body: the
  * untraced runs carry no job groups and no span records.
  * Enabled, each span also sets the Spark job group to its name, so
  * the [[Recorder]] charges jobs to the innermost span.
  */
final class Tracer(var enabled: Boolean, sc: SparkContext) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String)] = Nil
  private var nextId = 0

  def span[T](name: String, detail: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, name) :: stack
      sc.setJobGroup(name, name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some((_, outer)) =>
            sc.setJobGroup(outer, outer, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
        val storageMb =
          sc.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
        done += Span(id, parent, name, detail, t0, t1, storageMb)
      }
    }

  def spans: Seq[Span] = done.toSeq

  /** Self time per span name: duration minus the time its child spans
    * cover, summed over every span of that name.
    */
  def selfSeconds: Map[String, Double] = {
    val childNs = done.groupBy(_.parent)
      .map { case (p, cs) => p -> cs.map(s => s.endNs - s.startNs).sum }
    done.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e9).sum
    }
  }
}
