package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession, SqlExecutionEnd}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** What a workload gets: the session, its measuring window, and the
  * tracing tools (the recorder is attached only while tracing).
  */
final class Ctx(val spark: SparkSession, val args: Map[String, String]) {
  val workload: String = args("workload")
  val seed: Long = args("seed").toLong
  val seconds: Int = args("seconds").toInt
  val trace: Boolean = args("trace") == "1"
  val work: String = args("work")
  val input: String = args("input")
  val tracer = new Tracer(false, spark.sparkContext)
  val recorder = new Recorder(spark.sparkContext)
  private var attached = false

  /** Turn span recording and the Spark listener on or off together.
    * The listener is detached only after it has every posted event.
    */
  def tracing(on: Boolean): Unit = {
    tracer.enabled = on
    if (on && !attached) spark.sparkContext.addSparkListener(recorder)
    if (!on && attached) {
      org.apache.spark.BusDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(recorder)
    }
    attached = on
  }
}

/** Outcome of one workload run, before the correctness checks.
  * `sparkUnit` names the job groups of one repeated unit of work and how
  * many traced units ran, so the Spark counters are reported per unit
  * instead of summed over a time-boxed loop.
  */
final case class Outcome(attempted: Long, failed: Long,
    e2e: Map[String, Double], layers: Map[String, Double] = Map.empty,
    observed: Map[String, Any] = Map.empty, info: Map[String, Any] = Map.empty,
    sparkUnit: (Set[String], Int) = (Set.empty, 1))

object Measure {
  def seconds[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** Materialize every column of `df` through Spark's noop sink, so the
    * optimizer cannot prune a projection a real consumer pays for.
    */
  def noop(df: DataFrame): Double =
    seconds(df.write.format("noop").mode("overwrite").save())._1

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest quantile with at least 10 samples beyond it, as
    * (value, quantile); None below 21 samples, where that quantile
    * would be the median.
    */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.size < 21) None
    else {
      val q = 1.0 - 10.0 / xs.size
      Some((quantile(xs, q), q))
    }

  /** Rows read by the scan leaves of an executed plan, from their
    * `numOutputRows` metrics.
    */
  def scanRows(p: SparkPlan): Long =
    scanLeaves(p).flatMap(_.metrics.get("numOutputRows")).map(_.value).sum

  private def scanLeaves(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => scanLeaves(a.executedPlan)
    case s: QueryStageExec => scanLeaves(s.plan)
    case l if l.children.isEmpty =>
      if (l.nodeName.contains("Scan")) Seq(l) else Nil
    case other => other.children.flatMap(scanLeaves)
  }
}

/** One Spark SQL execution: its root execution, the long call site
  * (the calling stack below Spark), its duration, the rows its scan
  * leaves read and the Spark jobs it ran.
  */
final case class SqlExec(id: Long, root: Long, callSite: String,
    durationNs: Long, scanRows: Long, jobs: Int)

/** The benchmark's log of the SQL executions started under job group
  * `group`, in the order they end. The tracer sets the job group, so
  * this sees only the executions of one traced span.
  */
final class SqlLog(group: String) extends SparkListener {
  private val started = new ConcurrentHashMap[Long, (Long, String)]()
  private val jobs = new ConcurrentHashMap[Long, Int]()
  private val done = new ConcurrentLinkedQueue[SqlExec]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).filter(started.containsKey)
      .foreach(id => jobs.merge(id, 1, _ + _))

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if s.jobGroupId.contains(group) =>
      started.put(s.executionId,
        (s.rootExecutionId.getOrElse(s.executionId), s.details))
      ()
    case end: SparkListenerSQLExecutionEnd =>
      Option(started.remove(end.executionId)).foreach { case (root, site) =>
        done.add(SqlExec(end.executionId, root, site,
          SqlExecutionEnd.durationNs(end),
          SqlExecutionEnd.queryExecution(end)
            .map(q => Measure.scanRows(q.executedPlan)).getOrElse(0L),
          Option(jobs.remove(end.executionId)).getOrElse(0)))
      }
    case _ => ()
  }

  /** The executions that ended since the last call, once the listener
    * bus has delivered every posted event.
    */
  def take(sc: org.apache.spark.SparkContext): Seq[SqlExec] = {
    org.apache.spark.BusDrain(sc)
    val out = Iterator.continually(done.poll()).takeWhile(_ != null).toSeq
    out.sortBy(_.id)
  }
}
