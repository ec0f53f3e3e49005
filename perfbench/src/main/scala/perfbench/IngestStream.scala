package perfbench

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import graft.streaming.EventPipeline

/** A Kafka-shaped record: sequence key, JSON value, creation stamp. */
final case class KafkaRecord(key: String, value: String, timestamp: Timestamp)

/** `ingest_stream`: the `EventPipeline.parse` → `curate` →
  * `startDualSink` chain fed by a memory source standing in for Kafka.
  *
  * After two warm-up batches (`warmup` events, then a backlog's worth,
  * so phase B's large batches are not the first of their size), phase
  * A offers `rate` events/s for
  * `seconds` on a fixed schedule (open loop: the schedule never waits
  * for the engine); an event's latency is the commit end of its
  * micro-batch minus its creation stamp. Phase B pre-loads a backlog of
  * `backlog` events, `drains` times, and times each drain from the
  * start of the first trigger that reads it to the commit of the last.
  */
object IngestStream {
  val TickMs = 100L

  private final case class Progress(batchId: Long, startMs: Long,
      durations: Map[String, Long], rows: Long) {
    def commitEndMs: Long = startMs + durations.getOrElse("triggerExecution", 0L)
  }

  /** Pre-rendered input: key, planted event-time offset, JSON head/tail. */
  private final case class Rec(key: Long, offsetMs: Long, head: String,
      tail: String) {
    def at(createdMs: Long): KafkaRecord = KafkaRecord(key.toString,
      head + (createdMs + offsetMs) + tail, new Timestamp(createdMs))
  }

  def run(c: Ctx): Outcome = {
    val spark = c.spark
    import spark.implicits._
    implicit val sqlContext: org.apache.spark.sql.SQLContext = spark.sqlContext

    val recs = Files.readAllLines(Paths.get(c.input, "stream.tsv")).asScala
      .map { l =>
        val f = l.split("\t", -1)
        Rec(f(0).toLong, f(1).toLong, f(2), f(3))
      }.toIndexedSeq
    // sizes come from run.py, which also sized the generated input
    val warm = c.args("warmup").toInt
    val rate = c.args("rate").toInt
    val triggerMs = c.args("trigger_ms").toLong
    val backlog = c.args("backlog").toInt
    val drains = c.args("drains").toInt
    val nA = rate * c.seconds
    require(recs.size >= warm + backlog + nA + backlog * drains * (if (c.trace) 2 else 1),
      "stream input too short")

    val dir = s"${c.work}/stream"
    val mainDir = s"$dir/main"
    val quarDir = s"$dir/quarantine"
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()
    val progressListener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        progress.add(Progress(p.batchId,
          java.time.Instant.parse(p.timestamp).toEpochMilli,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          p.numInputRows))
      }
    }
    spark.streams.addListener(progressListener)

    // A memory source makes one partition per addData call; coalescing
    // to one partition per core stands in for a topic with that many
    // partitions.
    val partitions = spark.sparkContext.defaultParallelism
    val mem = MemoryStream[KafkaRecord]
    def offer(rows: Seq[KafkaRecord]): Unit =
      rows.grouped(math.max(1, (rows.size + partitions - 1) / partitions))
        .foreach(g => mem.addData(g: _*))
    val stats = new EventPipeline.RunStats(spark)
    val curated = EventPipeline.curate(
      EventPipeline.parse(mem.toDF().coalesce(partitions)))
    if (c.trace) c.tracing(on = true)
    val query = c.tracer.span("streaming.query")(EventPipeline.startDualSink(
      curated, mainDir, quarDir, s"$dir/checkpoint", stats,
      Trigger.ProcessingTime(triggerMs)))
    c.tracing(on = false)

    try {
      // two batches through the whole chain before phase A starts
      val first = warm + backlog
      for ((from, until) <- Seq((0, warm), (warm, first))) {
        offer(recs.slice(from, until).map(_.at(System.currentTimeMillis())))
        query.processAllAvailable()
      }
      val warmEnd = stats.lastCommitted

      // ---- phase A: fixed offered rate, schedule pre-rendered -------------
      val perTick = math.max(1, (rate * TickMs / 1000).toInt)
      val startMs = System.currentTimeMillis() + 500
      val ticks = recs.slice(first, first + nA).grouped(perTick).zipWithIndex
        .map { case (g, i) =>
          val at = startMs + i * TickMs
          (at, g.map(_.at(at)))
        }.toIndexedSeq
      val lagMs = mutable.ArrayBuffer.empty[Double]
      for ((at, rows) <- ticks) {
        val wait = at - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        mem.addData(rows: _*)
        lagMs += (System.currentTimeMillis() - at).toDouble
      }
      val backlogAtEnd = first + nA - stats.total.value
      query.processAllAvailable()
      val phaseAEnd = stats.lastCommitted

      // ---- phase B: pre-loaded backlog, drained `drains` times ------------
      var next = first + nA
      def drain(): Double = {
        val batch = recs.slice(next, next + backlog)
        next += backlog
        val before = stats.lastCommitted
        offer(batch.map(_.at(System.currentTimeMillis())))
        query.processAllAvailable()
        org.apache.spark.BusDrain(spark.sparkContext)
        val ps = progress.asScala.filter(p => p.batchId > before && p.rows > 0)
        (ps.map(_.commitEndMs).max - ps.map(_.startMs).min) / 1e3
      }
      // a traced run alternates untraced and traced drains, so both see
      // the same warm-up state and their difference is the overhead
      val drainS = mutable.ArrayBuffer.empty[Double]
      val tracedDrainS = mutable.ArrayBuffer.empty[Double]
      for (i <- 0 until drains * (if (c.trace) 2 else 1)) {
        if (i % 2 == 0 || !c.trace) drainS += drain()
        else {
          c.tracing(on = true)
          try tracedDrainS += c.tracer.span("ingest.drain")(drain())
          finally c.tracing(on = false)
        }
      }
      query.stop()
      org.apache.spark.BusDrain(spark.sparkContext)
      spark.streams.removeListener(progressListener)
      val offered = next

      // ---- read back (untimed): latencies, keys, late share --------------
      val cols = Seq("kafka_key", "kafka_timestamp", "batch_id",
        "is_late_arrival").map(col)
      val all = spark.read.parquet(mainDir).select(cols :+ lit(0).as("q"): _*)
        .unionByName(spark.read.parquet(quarDir).select(cols :+ lit(1).as("q"): _*))
      val keyStats = all.agg(count(lit(1)), countDistinct("kafka_key"),
        count(when(col("is_late_arrival"), 1)), sum("q")).head()
      val commitEnd = progress.asScala.map(p => p.batchId -> p.commitEndMs).toMap
      // batch_id is a partition column: the filter prunes to phase A's files
      val phaseA = all
        .filter(col("batch_id") > warmEnd && col("batch_id") <= phaseAEnd)
        .filter(col("kafka_key").cast("long") > first &&
          col("kafka_key").cast("long") <= first + nA)
        .select(col("batch_id"), unix_millis(col("kafka_timestamp")))
        .as[(Long, Long)].collect()
      val latencies = phaseA.toSeq.map { case (b, created) =>
        (commitEnd.getOrElse(b, Long.MaxValue) - created).toDouble
      }
      val tail = Measure.tail(latencies)
      val eps = drainS.toSeq.map(backlog / _)
      val e2e = Map(
        "ingest_latency_p50_ms" -> Measure.median(latencies),
        "ingest_eps" -> Measure.median(eps)) ++
        tail.map("ingest_latency_tail_ms" -> _._1)

      val ps = progress.asScala.toSeq
      val phaseABatches =
        ps.filter(p => p.batchId > warmEnd && p.batchId <= phaseAEnd)
      val layers =
        if (!c.trace) Map.empty[String, Double]
        else {
          val nonEmpty = phaseABatches.filter(_.rows > 0)
          val phases = Seq("getBatch", "queryPlanning", "addBatch",
            "walCommit", "triggerExecution").flatMap { k =>
            // a handful of triggers per run: a median, but no tail
            Seq(s"streaming.trigger.${k}_ms_p50" -> Measure.median(
              nonEmpty.map(_.durations.getOrElse(k, 0L).toDouble)))
          }
          phases.toMap ++ Map(
            "streaming.rows_per_batch" ->
              Measure.median(nonEmpty.map(_.rows.toDouble)),
            "streaming.empty_batch_ratio" ->
              (phaseABatches.count(_.rows == 0).toDouble /
                math.max(1, phaseABatches.size)),
            "streaming.backlog_events" -> backlogAtEnd.toDouble,
            "gen.lag_ms" -> lagMs.max,
            "trace.overhead_s" ->
              (Measure.median(tracedDrainS.toSeq) - Measure.median(drainS.toSeq))) ++ {
            c.tracing(on = true)
            try layerReplay(c,
              recs.slice(0, backlog).map(_.at(System.currentTimeMillis())))
            finally c.tracing(on = false)
          }
        }
      Outcome(attempted = offered, failed = 0, e2e = e2e,
        layers = layers,
        // the stream's jobs run in a job group named by the query's run
        // id; the recorder is attached only during the traced drains
        sparkUnit = (Set(query.runId.toString), tracedDrainS.size),
        observed = Map("offered" -> offered.toLong,
          "sink_rows" -> keyStats.getLong(0),
          "distinct_keys" -> keyStats.getLong(1),
          "late" -> keyStats.getLong(2), "quarantined" -> keyStats.getLong(3)),
        info = Map("ingest_latency_tail_quantile" -> tail.map(_._2),
          "latency_samples" -> latencies.size, "drain_s" -> drainS.toSeq,
          "phase_a_batches" -> phaseABatches.size,
          "batches" -> ps.sortBy(_.batchId).map(p => Seq(p.batchId, p.rows,
            p.durations.getOrElse("triggerExecution", 0L))),
          "offered_rate_eps" -> rate, "trigger_ms" -> triggerMs,
          "drain_events" -> backlog))
    } finally {
      if (query.isActive) query.stop()
    }
  }

  /** The chain's layers replayed on one fixed static batch: parse, curate
    * (both lazy, so each is the noop time of its output minus that of
    * its input) and `processBatch`, the dual-sink commit of one batch.
    * Medians over three replays.
    */
  private def layerReplay(c: Ctx, batch: Seq[KafkaRecord]): Map[String, Double] = {
    val spark = c.spark
    import spark.implicits._
    val t = c.tracer
    val raw = batch.toDF().persist()
    raw.write.format("noop").mode("overwrite").save()
    val dir = s"${c.work}/stream/replay"
    val rows = (0 until 3).map { i =>
      t.span("ingest.replay") {
        val rawS = t.span("sources.input_noop")(Measure.noop(raw))
        val parsed = t.span("sources.parse")(EventPipeline.parse(raw))
        val parseS = t.span("sources.parse_noop")(Measure.noop(parsed))
        val curated = t.span("enrich.curate")(EventPipeline.curate(parsed))
        val curateS = t.span("enrich.curate_noop")(Measure.noop(curated))
        val stats = new EventPipeline.RunStats(spark)
        val fixed = curated.persist()
        fixed.write.format("noop").mode("overwrite").save()
        val main = s"$dir/$i/main"
        val quar = s"$dir/$i/quarantine"
        val batchS = t.span("ops.process_batch")(Measure.seconds(
          EventPipeline.processBatch(fixed, 0L, main, quar, stats))._1)
        fixed.unpersist()
        val files = Seq(main, quar).map(d => Files.walk(Paths.get(d))
          .iterator().asScala.count(_.toString.endsWith(".parquet"))).sum
        Map("sources.parse_s" -> (parseS - rawS),
          "enrich.curate_s" -> (curateS - parseS),
          "ops.process_batch_s" -> batchS,
          "ops.files_per_batch" -> files.toDouble)
      }
    }
    raw.unpersist()
    rows.head.keys.map(k => k -> Measure.median(rows.map(_(k)))).toMap
  }
}
