package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SessionTuning

/** The benchmark JVM. run.py generates the inputs, starts this with
  * `key=value` arguments and checks what it writes to `result`:
  *
  *   workload=etl_cycle|ingest_stream seed=N seconds=N trace=0|1
  *   work=DIR input=DIR result=FILE launch_ms=EPOCH_MS [queries_dir=DIR]
  *
  * `record=DIR` instead writes the expected row count and content hash
  * of every query output that `graft.Verify` wrote under DIR.
  *
  * `launch_ms` is the wall clock just before the JVM was started, so
  * `setup_s` covers JVM start, the `SessionTuning.tuned` session build
  * and the warm-up job.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv =>
      val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1)
    }.toMap
    val work = a("work")
    val cores = Runtime.getRuntime.availableProcessors()

    val (buildS, spark) = Measure.seconds(SessionTuning.tuned(
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", s"$work/warehouse"))
      .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    // warm-up: the session's first job (a shuffle), through the noop sink
    val warmupS = Measure.seconds {
      import org.apache.spark.sql.functions._
      Measure.noop(spark.range(0, 200000, 1, cores)
        .groupBy((col("id") % 97).as("k")).agg(sum("id")))
    }._1
    val setupS = (System.currentTimeMillis() - a("launch_ms").toLong) / 1e3
    val setup = Map("setup_s" -> setupS, "session.build_s" -> buildS,
      "session.warmup_s" -> warmupS)

    val result =
      if (a.contains("record")) {
        QuerySuite.record(spark, a("record"), a("result"))
        Map.empty[String, Any]
      } else {
        val c = new Ctx(spark, a)
        val out = c.workload match {
          case "etl_cycle" => EtlCycle.run(c)
          case "ingest_stream" => IngestStream.run(c)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        val (groups, units) = out.sparkUnit
        val total = new Counters
        c.recorder.snapshot().foreach { case (g, x) => if (groups(g)) total += x }
        val counters = total.scale(1.0 / math.max(1, units))
        val layers =
          if (!c.trace) Map.empty[String, Double]
          else out.layers ++ sparkLayers(counters) ++ Map(
            "storage.cached_mb_after" ->
              (if (c.tracer.spans.isEmpty) 0.0
               else c.tracer.spans.map(_.storageMbAfter).max))
        if (c.trace) writeTrace(c, a("result"))
        Map[String, Any]("setup" -> setup,
          "attempted" -> out.attempted, "failed" -> out.failed,
          "e2e" -> (out.e2e + ("heap_live_mb" -> heapLiveMb())),
          "layers" -> layers, "observed" -> out.observed,
          "info" -> out.info, "env" -> environment(spark, cores))
      }
    spark.stop()
    if (!a.contains("record"))
      Files.writeString(Paths.get(a("result")), Json(result))
    ()
  }

  private def sparkLayers(t: Counters): Map[String, Double] = Map(
    "spark.executor_ms" -> t.executorMs,
    "spark.cpu_ms" -> t.cpuNs / 1e6,
    "spark.gc_ms" -> t.gcMs,
    "spark.gc_share" -> t.gcShare,
    "spark.sched_wait_ms" -> t.schedWaitMs,
    "spark.shuffle_write_mb" -> t.shuffleWriteBytes / 1048576.0,
    "spark.shuffle_read_mb" -> t.shuffleReadBytes / 1048576.0,
    "spark.spill_mb" -> t.spillBytes / 1048576.0,
    "spark.tasks" -> t.tasks,
    "spark.stages" -> t.stages,
    "spark.task_failures" -> t.taskFailures)

  /** Heap in use after full collections, with pauses between them so
    * Spark's ContextCleaner can drop what the first one made unreachable.
    */
  private def heapLiveMb(): Double = {
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def environment(spark: SparkSession, cores: Int): Map[String, Any] = {
    val rt = ManagementFactory.getRuntimeMXBean
    Map(
      "nproc" -> cores,
      "master" -> spark.sparkContext.master,
      "xmx" -> rt.getInputArguments.asScala.filter(_.startsWith("-Xmx")).toSeq,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "gc" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getName).toSeq,
      "java" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "local_dir" -> spark.conf.getOption("spark.local.dir").getOrElse(""))
  }

  /** Spans as JSONL, plus self time and Spark counters per span name. */
  private def writeTrace(c: Ctx, resultPath: String): Unit = {
    val base = resultPath.stripSuffix(".json")
    val runId = s"${c.workload}-${c.seed}-${System.currentTimeMillis()}"
    val lines = c.tracer.spans.map { s =>
      Json(Map("run_id" -> runId, "id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "detail" -> s.detail,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "storage_mb_after" -> s.storageMbAfter))
    }
    Files.write(Paths.get(s"$base.spans.jsonl"), lines.asJava)
    val counters = c.recorder.snapshot()
    val summary = c.tracer.selfSeconds.map { case (n, self) =>
      n -> Map("self_s" -> self,
        "calls" -> c.tracer.spans.count(_.name == n),
        "spark" -> counters.get(n).map(_.toMap).getOrElse(Map.empty))
    }
    Files.writeString(Paths.get(s"$base.layers.json"),
      Json(Map("run_id" -> runId, "layers" -> summary)))
    ()
  }
}
