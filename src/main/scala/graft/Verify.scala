package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg (dev only): comma-separated query-name filter
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, Option.empty[Set[String]])
      case Array(s, o, f) => (s, o, Some(f.split(",").toSet))
    }
    val spark = SessionTuning.session()
    new java.io.File(outDir).mkdirs()
    // Every query that throws becomes a named row in verify_errors.json —
    // a crashed query must surface as a red row in the correctness
    // artifact, never as a silently-missing parquet dir.
    val errors =
      new java.util.concurrent.ConcurrentHashMap[String, String]()
    // Bounded intra-session parallelism: each query is an independent
    // plan writing its own output dir, and the Spark scheduler interleaves
    // concurrent jobs across the local[32] cores that a single serial
    // query rarely saturates (measured 149 s serial → ~60 s at 6 threads
    // on sf0.01). Shared state is already concurrent: IndexCache and the
    // model caches are ConcurrentHashMap.computeIfAbsent, and Tables
    // only sets an identical conf value. Results are byte-identical to
    // the serial run — per-query output never depends on sibling
    // queries.
    val par = sys.env.getOrElse("SPARK_GRAFT_VERIFY_PAR", "6").toInt
    val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val futures = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        scala.concurrent.Future {
          // Scratch scope: each query releases its own persisted /
          // checkpointed scratch after its write lands, so 150+
          // concurrent queries don't accrete dead storage memory
          try graft.ext.Scratch.scoped {
            fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
          }
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
            errors.put(name,
              s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
          }
        }
      }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures),
      scala.concurrent.duration.Duration.Inf)
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = {
      import scala.jdk.CollectionConverters._
      errors.asScala.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    }
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    spark.stop()
  }
}
