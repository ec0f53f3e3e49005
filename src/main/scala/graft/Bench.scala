package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // process-level measured settings (codegen cache, shuffle local
    // dir, shuffle writer): SessionTuning — one definition for every
    // entry point; A/B any of them through SPARK_GRAFT_CONF
    val spark = SessionTuning.session()
    // JVM/session warmup (codegen, shuffle service, parquet footer reads)
    // so per-query timings below are steady-state, not arrival order.
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().count()
    // CALIBRATION: a fixed constant-work scan (full-column checksum of
    // the pinned lineitem fixture — scan + hash + one-group agg, no
    // shuffle skew, no library code) whose time is a pure box-state
    // marker. Cross-round adjudication divides both rounds' suite
    // totals by their calibration before flagging movers: the box's
    // throughput drifts ±30% within a day (SCALING.md "Regression
    // adjudication"), and this number carries that drift while the
    // code under test does not. Median of 3 post-warmup runs.
    val calibration = {
      import org.apache.spark.sql.functions.{sum, xxhash64, col}
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      // decimal(38) sum: a long sum of 64-bit hashes overflows under
      // ANSI mode; the checksum value itself is irrelevant — only the
      // constant work is
      val hashAll = xxhash64(li.columns.map(col).toIndexedSeq: _*)
        .cast("decimal(38,0)")
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        li.agg(sum(hashAll)).head()
        (System.nanoTime() - t0) / 1e9
      }
      times.sorted.apply(1)
    }
    // two passes, report the per-query minimum: machine noise (the round
    // driver shares this box) swings single runs by 1.5x+
    // Returns (seconds, ok). A query that throws must never be mistaken
    // for a fast success: failures are flagged, surfaced in the JSON line,
    // and fail the process exit code.
    // SPARK_GRAFT_BENCH_ISOLATE=1: per-query clearCache+GC, a diagnostic
    // for attributing a regression to the query itself vs suite-neighbor
    // pressure. NOT the default: measured at sf0.1/local[32] it makes the
    // median query 22% slower (cross-query cache reuse is the library's
    // natural serving shape, and a forced full GC shrinks the heap the
    // next query must re-grow) — isolated numbers are comparable to each
    // other, not to suite numbers.
    val isolate = sys.env.get("SPARK_GRAFT_BENCH_ISOLATE").contains("1")
    // SPARK_GRAFT_NO_SCRATCH=1: diagnostic — skip the per-query scratch
    // release to measure what cross-query cache reuse is worth
    val noScratch = sys.env.get("SPARK_GRAFT_NO_SCRATCH").contains("1")
    def once(name: String,
        fn: (org.apache.spark.sql.SparkSession, String)
          => org.apache.spark.sql.DataFrame,
        isolated: Boolean = isolate): (Double, Boolean) = {
      // Isolation: clear caches + GC before each timing (outside the
      // timed section) to decouple a query's number from its suite
      // neighbors' leftover footprint.
      if (isolated) { spark.catalog.clearCache(); System.gc() }
      // Scratch scope: the query's own persisted/checkpointed scratch
      // frames release AFTER its clock stops (the timer is read inside
      // the scope), so a heavy query cleans up its executor-memory
      // footprint itself instead of taxing its suite neighbors — and
      // the median query keeps its warm caches (unlike isolate mode).
      var sec = 0.0
      def timedOnce(): Unit = {
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        sec = (System.nanoTime() - t0) / 1e9
      }
      val ok =
        try {
          if (noScratch) timedOnce()
          else graft.ext.Scratch.scoped(timedOnce())
          true
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] FAILED $name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
            false
        }
      (sec, ok)
    }
    // optional arg (dev only): comma-separated query-name filter
    val only = args.headOption.map(_.split(",").toSet)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val pass1 = ordered.map { case (n, f) => n -> once(n, f) }.toMap
    // pass 2 replicates pass 1's cold-start semantics (drop persisted
    // frames first; in isolation mode once() already clears per query)
    // — the min filters out scheduler/GC noise
    if (!isolate) spark.catalog.clearCache()
    val pass2 = ordered.map { case (n, f) => n -> once(n, f) }.toMap
    // Pass 3, ALWAYS isolation-mode (clearCache+GC per query): the
    // suite numbers above carry each query's suite-neighbor pressure,
    // and the ±15 % ambient band makes round-over-round regression
    // adjudication a research project with suite numbers alone. One
    // isolated number per query recorded NEXT TO the suite number
    // separates code deltas (move both) from neighbor/ambient effects
    // (move one) permanently. Isolated numbers compare to isolated
    // numbers across rounds — never to suite numbers (isolation itself
    // costs the median query ~22 %).
    val pass3 = ordered
      .map { case (n, f) => n -> once(n, f, isolated = true) }.toMap
    // The suite number is gated on the two SUITE passes only; a failure
    // that reproduces solely under pass 3's clearCache+GC isolation is
    // recorded in the isolated column (-1) without discarding the valid
    // suite measurement — the two modes stay separable. Either kind of
    // failure still fails the process exit code.
    val results = ordered.map { case (n, _) =>
      val ok = pass1(n)._2 && pass2(n)._2
      n -> (if (ok) math.min(pass1(n)._1, pass2(n)._1) else -1.0)
    }
    val isolatedResults = ordered.map { case (n, _) =>
      n -> (if (pass3(n)._2) pass3(n)._1 else -1.0)
    }
    val failed = results.collect { case (n, v) if v < 0 => n }
    val failedIso = isolatedResults.collect { case (n, v) if v < 0 => n }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val qsIso = isolatedResults.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val timed = results.collect { case (_, v) if v >= 0 => v }
    val total = if (timed.nonEmpty) timed.sum else 0.0
    val isoTimed = isolatedResults.collect { case (_, v) if v >= 0 => v }
    val isoTotal = if (isoTimed.nonEmpty) isoTimed.sum else 0.0
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val failedIsoJson =
      failedIso.map("\"" + _ + "\"").mkString("[", ",", "]")
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"queries_isolated":$qsIso,"isolated_total":$isoTotal,"failed":$failedJson,"failed_count":${failed.size},"failed_isolated":$failedIsoJson,"calibration_sec":$calibration,"sf":"$sfDir"}""")
    // The driver's per-round artifact keeps only a tail of stdout, which
    // truncates half the per-query numbers; persist the full result to a
    // stable file too (slowest-first, with delta vs the previous run of
    // this file when one exists).
    val outFile = new java.io.File(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json"))
    val prev: Map[String, Double] =
      if (!outFile.exists()) Map.empty
      else try {
        val txt = new String(java.nio.file.Files.readAllBytes(
          outFile.toPath), "UTF-8")
        """"name":"([^"]+)","sec":(-?[0-9.]+)""".r
          .findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      } catch { case _: Throwable => Map.empty }
    val isoByName = isolatedResults.toMap
    val slowest = results.sortBy { case (_, v) => -v }.map { case (n, v) =>
      val delta = prev.get(n).filter(p => p > 0 && v > 0)
        .map(p => f""","delta_pct":${(v - p) / p * 100}%.1f""")
        .getOrElse("")
      f"""    {"name":"$n","sec":$v%.4f,"iso_sec":${isoByName(n)}%.4f$delta}"""
    }.mkString(",\n")
    val out =
      s"""{
         |  "metric": "total",
         |  "value": $total,
         |  "unit": "sec",
         |  "sf": "$sfDir",
         |  "calibration_sec": $calibration,
         |  "failed": $failedJson,
         |  "failed_count": ${failed.size},
         |  "failed_isolated": $failedIsoJson,
         |  "queries": $qs,
         |  "queries_isolated": $qsIso,
         |  "isolated_total": $isoTotal,
         |  "slowest": [
         |$slowest
         |  ]
         |}
         |""".stripMargin
    java.nio.file.Files.write(outFile.toPath, out.getBytes("UTF-8"))
    spark.stop()
    if (failed.nonEmpty || failedIso.nonEmpty) sys.exit(1)
  }
}
