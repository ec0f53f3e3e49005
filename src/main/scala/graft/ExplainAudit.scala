package graft

/** Dev tool: print formatted physical plans for named SparkEntry queries
  * (`sbt "runMain graft.ExplainAudit q1_lineitem_agg ..."`). Used to
  * audit pushdown / broadcast / codegen shape after each operator lands.
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val spark = SessionTuning.session(cores = 8, logLevel = "ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    for (name <- names) {
      println(s"\n========== $name ==========")
      SparkEntry.queries(name)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
