package graft

/** Dev tool (optimization rounds): per-stage time attribution for named
  * SparkEntry queries. Runs each query once to warm caches/indexes,
  * then once profiled with a stage listener, and prints each stage's
  * wall span, executor-summed run time, task count, input/shuffle
  * volumes and the stage's callsite — the local[N] stand-in for the
  * Spark UI's stage page (guide §7.1; no UI in the sandbox).
  *
  * `sbt "runMain graft.QueryProfile q1 q2 ..."`; env:
  * SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32).
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SessionTuning so profiles see the same steady state Bench measures
    val spark = SessionTuning.session(logLevel = "ERROR")
    // session warmup, matching Bench
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().count()

    final case class Row(id: Int, name: String, wallMs: Long,
      execRunMs: Long, gcMs: Long, tasks: Int, inMb: Double,
      shReadMb: Double, shWriteMb: Double, spillMb: Double)
    val rows = new scala.collection.mutable.ArrayBuffer[Row]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted)
          : Unit = {
        val i = s.stageInfo
        val m = i.taskMetrics
        val wall = (for {a <- i.completionTime; b <- i.submissionTime}
          yield a - b).getOrElse(-1L)
        rows += Row(i.stageId, i.name.takeWhile(_ != '\n').take(90),
          wall, m.executorRunTime, m.jvmGCTime, i.numTasks,
          m.inputMetrics.bytesRead / 1e6,
          m.shuffleReadMetrics.remoteBytesRead / 1e6
            + m.shuffleReadMetrics.localBytesRead / 1e6,
          m.shuffleWriteMetrics.bytesWritten / 1e6,
          (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
        ()
      }
    }

    for (name <- args.toSeq) {
      val fn = SparkEntry.queries(name)
      // pass 1: warm (index builds, JIT); released like Bench's scope
      graft.ext.Scratch.scoped(fn(spark, sfDir).count())
      rows.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      graft.ext.Scratch.scoped(fn(spark, sfDir).count())
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500) // let the listener bus drain
      spark.sparkContext.removeSparkListener(listener)
      println(f"\n===== $name: $sec%.3f s, ${rows.size} stages =====")
      println(f"${"stage"}%5s ${"wall_ms"}%8s ${"exec_ms"}%8s " +
        f"${"gc_ms"}%6s ${"tasks"}%5s ${"in_MB"}%8s ${"shR_MB"}%8s " +
        f"${"shW_MB"}%8s ${"spill"}%6s  name")
      rows.sortBy(-_.wallMs).foreach { r =>
        println(f"${r.id}%5d ${r.wallMs}%8d ${r.execRunMs}%8d " +
          f"${r.gcMs}%6d ${r.tasks}%5d ${r.inMb}%8.1f ${r.shReadMb}%8.1f " +
          f"${r.shWriteMb}%8.1f ${r.spillMb}%6.1f  ${r.name}")
      }
    }
    spark.stop()
  }
}
