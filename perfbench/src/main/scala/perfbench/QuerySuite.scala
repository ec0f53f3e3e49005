package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.ext.Scratch

/** The query surface, measured in the traced `etl_cycle` run: one
  * suite-mode pass over a subset of `SparkEntry.queries` at the pinned
  * fixture under `dir`, in sorted order, each query under
  * `Scratch.scoped` and materialized through the noop sink.
  *
  * `query_modules.tsv` maps each query to the layer it mainly exercises
  * and marks the subset. Before the timed pass, one untimed pass
  * computes each query's row count and order-insensitive content hash
  * for the check; then the cache is cleared.
  */
object QuerySuite {
  val Modules = Seq("ext.dedup", "ext.similarity", "ext.search",
    "ext.text", "ext.curation", "ext.multimodal", "ext.corpus_graph",
    "report.analytics", "etl.queries")

  /** Row count and order-insensitive content hash of a frame. */
  def contentHash(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted.map(c => col(s"`$c`"))
    val row = df
      .select(xxhash64(to_json(struct(cols.toIndexedSeq: _*))).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .head()
    (row.getLong(0), String.valueOf(row.get(1)))
  }

  def modules(path: String): Seq[(String, String, Boolean)] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq
      .filterNot(l => l.startsWith("#") || l.isBlank)
      .map { l =>
        val f = l.split("\t")
        (f(0), f(1), f.lift(2).contains("timed"))
      }

  def run(c: Ctx, dir: String): Outcome = {
    val spark = c.spark
    val fixture = s"$dir/fixture"
    val table = modules(s"$dir/query_modules.tsv")
    val names = table.filter(_._3).map(_._1).sorted
    val module = table.map(t => t._1 -> t._2).toMap
    val fns = SparkEntry.queries

    var failed = 0L
    def attempt[T](n: String)(body: => T): Option[T] =
      try Some(body)
      catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"[perfbench] $n failed: $e")
          None
      }

    // untimed pass: correctness observations
    val observed = names.map { n =>
      n -> attempt(n)(Scratch.scoped(contentHash(fns(n)(spark, fixture))))
        .map { case (rows, hash) => Seq(rows.toString, hash) }
        .getOrElse(Seq("-1", ""))
    }.toMap
    spark.catalog.clearCache()

    // timed pass; a failed query is counted in `failed` and has no time
    c.tracing(on = true)
    val perQuery = names.flatMap { n =>
      c.tracer.span(module(n), n)(
        attempt(n)(Scratch.scoped(Measure.noop(fns(n)(spark, fixture)))))
        .map(n -> _)
    }.toMap
    c.tracing(on = false)

    val counters = new Counters
    c.recorder.snapshot().foreach { case (g, x) =>
      if (Modules.contains(g)) counters += x }
    val layers = Modules.map { m =>
      s"${m}_s" -> names.filter(module(_) == m).flatMap(perQuery.get).sum
    }.toMap ++ Map(
      "queries.spark.executor_ms" -> counters.executorMs,
      "queries.spark.gc_ms" -> counters.gcMs,
      "queries.spark.gc_share" -> counters.gcShare)
    Outcome(attempted = 2L * names.size, failed = failed,
      e2e = Map.empty, layers = layers,
      observed = Map("queries" -> observed),
      info = Map("query_s" -> perQuery))
  }

  /** Writes `name rows hash` for every query output Verify wrote under
    * `verified` (one parquet directory per query).
    */
  def record(spark: SparkSession, verified: String, out: String): Unit = {
    val lines = SparkEntry.queries.keys.toSeq.sorted.map { n =>
      val (rows, hash) = contentHash(spark.read.parquet(s"$verified/$n"))
      s"$n\t$rows\t$hash"
    }
    Files.write(Paths.get(out), lines.asJava)
    ()
  }
}
