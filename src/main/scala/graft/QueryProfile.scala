package graft

/** Dev tool (optimization rounds): per-stage time attribution for named
  * SparkEntry queries. Runs each query once to warm caches/indexes,
  * then once under [[Metrics.record]], and prints each stage's wall
  * span, executor-summed run and GC time, task count, input/shuffle
  * volumes, spill and the stage's callsite — the local[N] stand-in for
  * the Spark UI's stage page (guide §7.1; no UI in the sandbox).
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

    for (name <- args.toSeq) {
      val fn = SparkEntry.queries(name)
      // pass 1: warm (index builds, JIT); released like Bench's scope
      graft.ext.Scratch.scoped(fn(spark, sfDir).count())
      val (_, run) = Metrics.record(spark)(
        graft.ext.Scratch.scoped(fn(spark, sfDir).count()))
      println(f"\n===== $name: ${run.seconds}%.3f s, " +
        f"${run.stages.size} stages =====")
      println(f"${"stage"}%5s ${"wall_ms"}%8s ${"exec_ms"}%8s " +
        f"${"gc_ms"}%6s ${"tasks"}%5s ${"in_MB"}%8s ${"shR_MB"}%8s " +
        f"${"shW_MB"}%8s ${"spill"}%6s  name")
      run.stages.sortBy(-_.wallMs).foreach { r =>
        println(f"${r.id}%5d ${r.wallMs}%8d ${r.executorRunMs}%8d " +
          f"${r.gcMs}%6d ${r.tasks}%5d ${r.inputBytes / 1e6}%8.1f " +
          f"${r.shuffleReadBytes / 1e6}%8.1f " +
          f"${r.shuffleWriteBytes / 1e6}%8.1f ${r.spillBytes / 1e6}%6.1f  " +
          r.name.take(90))
      }
    }
    spark.stop()
  }
}
