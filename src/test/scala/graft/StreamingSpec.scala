package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{BatchIndex, EventPipeline, JdbcSink, MicroBatch}

/** The exact column contract of Spark's Kafka source (key/value are
  * binary; topic/partition/offset/timestamp/timestampType metadata) —
  * the protocol twin used to exercise the `fromKafka` hot path without a
  * broker in the harness.
  */
case class KafkaShaped(key: Array[Byte], value: Array[Byte], topic: String,
  partition: Int, offset: Long, timestamp: java.sql.Timestamp,
  timestampType: Int)

/** Structured-Streaming specs: multi-batch MemoryStream harness for
  * parse→curate→sink, watermark-driven late-row dropping, and the
  * quarantine dual sink with in-stream run report (SURVEY.md §5 rebuild
  * strategy (3)).
  */
class StreamingSpec extends AnyFunSuite {
  import SparkTestSession._

  private def eventJson(id: String, email: String, eventTs: Long,
      plan: String = "basic", country: String = "US",
      version: Int = 1): String =
    s"""{"id":"$id","name":"n $id","email":"$email",
       |"signup_ts":${eventTs - 86400000L},"country":"$country",
       |"plan":"$plan","event_ts":$eventTs,"version":$version}"""
      .stripMargin.replaceAll("\n", "")

  private val T0 = 1700000000000L // 2023-11-14 22:13:20 UTC

  test("parse decodes JSON value and keeps kafka metadata") {
    import spark.implicits._
    val raw = Seq(
      ("k1", eventJson("c1", "a@b.com", T0)),
      ("k2", "{not json")).toDF("key", "value")
    val parsed = EventPipeline.parse(raw)
    assert(parsed.columns.startsWith(
      EventPipeline.eventSchema.fieldNames))
    val rows = parsed.orderBy("kafka_key").collect()
    assert(rows(0).getAs[String]("id") == "c1")
    assert(rows(0).getAs[String]("kafka_key") == "k1")
    assert(rows(1).getAs[String]("id") == null) // unparseable -> nulls
  }

  test("dual sink splits quarantine from main and accumulates run report") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[String]
    val mainDir = Files.createTempDirectory("main").toString
    val qDir = Files.createTempDirectory("quar").toString
    val ckpt = Files.createTempDirectory("ckpt").toString
    val stats = new EventPipeline.RunStats(spark)

    val curated = EventPipeline.curate(
      EventPipeline.parse(mem.toDF().select(col("value"))))
    val query = EventPipeline.startDualSink(curated, mainDir, qDir, ckpt,
      stats, Trigger.AvailableNow())

    val now = System.currentTimeMillis()
    mem.addData(
      eventJson("c1", "good@example.com", now),
      eventJson("c2", "also.good@example.com", now),
      eventJson("c3", "bad-email", now), // DQ failure -> quarantine
      eventJson("c4", "late@example.com", now - 3600000L), // late flag
      eventJson("c5", "drift@example.com", now, version = 2)) // drift
    query.awaitTermination(60000)

    assert(stats.total.value == 5)
    assert(stats.late.value == 1)
    assert(stats.dqFailed.value == 1)
    assert(stats.drifted.value == 1)
    assert(math.abs(stats.report.dqFailureRate - 0.2) < 1e-9)

    val main = spark.read.parquet(mainDir)
    val quarantine = spark.read.parquet(qDir)
    assert(main.count() == 4)
    assert(quarantine.count() == 1)
    assert(quarantine.select("id").head().getString(0) == "c3")
    // hive partitioning by (batch_id, country, plan) reaches the sink
    // layout: batch_id leads (the idempotent-replay overwrite unit),
    // country/plan below it for pruned downstream scans
    assert(main.select("country", "plan").distinct().count() >= 1)
    assert(Files.list(java.nio.file.Paths.get(mainDir)).toArray
      .exists(_.toString.contains("batch_id=")))
    assert(Files.walk(java.nio.file.Paths.get(mainDir)).toArray
      .exists(_.toString.contains("event_date=")))
    assert(Files.walk(java.nio.file.Paths.get(mainDir)).toArray
      .exists(_.toString.contains("country=US")))
    // a date-bounded scan must PRUNE to the matching partition dirs: the
    // 100 TB pruning lever the event_date level exists for. The late c4
    // row may fall on yesterday's date; filter on today's and assert
    // every file read lives under that partition directory.
    val today = new java.sql.Date(now).toString
    val pruned = main.filter(col("event_date") === lit(today))
    val scannedFiles = pruned.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(scannedFiles.nonEmpty)
    assert(scannedFiles.forall(_.contains(s"event_date=$today")),
      s"date filter must prune to event_date=$today dirs: " +
        scannedFiles.mkString(", "))
    val plan =
      pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("event_date"),
      s"expected a partition filter on event_date in:\n$plan")
  }

  test("dual sink replay: same batch re-delivered -> no dupes, no double counts") {
    import spark.implicits._
    val mainDir = Files.createTempDirectory("imain").toString
    val qDir = Files.createTempDirectory("iquar").toString
    val stats = new EventPipeline.RunStats(spark)
    val now = System.currentTimeMillis()
    val batch = EventPipeline.curate(EventPipeline.parse(Seq(
      eventJson("c1", "good@example.com", now),
      eventJson("c2", "bad-email", now)).toDF("value")))

    // a batch that throws between the two writes (its quarantine path
    // sits under a regular file): the ledger and the accumulators stay
    // put, so the same driver's retry of the batch commits it once
    val blocked = Files.createTempFile("iblock", "").toString
    intercept[Exception](
      EventPipeline.processBatch(batch, 0L, mainDir, s"$blocked/q", stats))
    assert(stats.lastCommitted == -1L && stats.total.value == 0)
    assert(spark.read.parquet(mainDir).count() == 1) // partial first write
    EventPipeline.processBatch(batch, 0L, mainDir, qDir, stats)
    assert(stats.lastCommitted == 0L)
    assert(stats.total.value == 2 && stats.dqFailed.value == 1)
    assert(spark.read.parquet(mainDir).count() == 1)
    assert(spark.read.parquet(qDir).count() == 1)

    // same-driver replay of an already-committed batch: skipped outright
    EventPipeline.processBatch(batch, 0L, mainDir, qDir, stats)
    assert(stats.total.value == 2)
    assert(spark.read.parquet(mainDir).count() == 1)

    // crash between the two writes, then recovery replay: the partial
    // main write exists, accumulators were NOT touched (they only move
    // after both writes), and the replay overwrites batch_id=0 in place
    val freshStats = new EventPipeline.RunStats(spark) // restarted driver
    EventPipeline.processBatch(batch, 0L, mainDir, qDir, freshStats)
    assert(freshStats.total.value == 2 && freshStats.dqFailed.value == 1)
    assert(spark.read.parquet(mainDir).count() == 1) // overwritten, not appended
    assert(spark.read.parquet(qDir).count() == 1)

    // a genuinely new batch appends its own partition
    val batch2 = EventPipeline.curate(EventPipeline.parse(Seq(
      eventJson("c3", "ok@example.com", now)).toDF("value")))
    EventPipeline.processBatch(batch2, 1L, mainDir, qDir, freshStats)
    assert(freshStats.total.value == 3)
    assert(spark.read.parquet(mainDir).count() == 2)
  }

  /** Leaf directory -> `.parquet` data files under `root` (the `.crc`
    * siblings end in `.crc`). */
  private def parquetFilesPerDir(root: String): Map[String, Int] = {
    val files = Files.walk(java.nio.file.Paths.get(root))
    try files.iterator.asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      .groupBy(_.getParent.toString).view.mapValues(_.size).toMap
    finally files.close()
  }

  test("dual sink writes one parquet file per partition directory per batch") {
    import spark.implicits._
    val mainDir = Files.createTempDirectory("lmain").toString
    val qDir = Files.createTempDirectory("lquar").toString
    val stats = new EventPipeline.RunStats(spark)
    // 48 events, 4 in each of 12 (date, country, plan) cells; 2 rows of
    // each of 6 cells fail DQ. Hashed over 4 input partitions, so a
    // cell's rows sit in several tasks
    val payloads = (0 until 48).map { i =>
      val bad = i < 24 && i % 12 < 6
      eventJson(s"c$i", if (bad) s"bad$i" else s"u$i@example.com",
        T0 - (i % 2) * 86400000L, plan = Seq("basic", "premium")(i / 2 % 2),
        country = Seq("US", "CA", "GB")(i / 4 % 3))
    }
    val batch = EventPipeline.curate(
      EventPipeline.parse(payloads.toDF("value").repartition(4, col("value"))),
      processingTs = lit(new java.sql.Timestamp(T0)))
    assert(batch.rdd.getNumPartitions == 4)

    EventPipeline.processBatch(batch, 0L, mainDir, qDir, stats)
    assert(stats.total.value == 48 && stats.dqFailed.value == 12)
    Seq(mainDir -> 12, qDir -> 6).foreach { case (dir, cells) =>
      val perDir = parquetFilesPerDir(dir)
      assert(perDir.size == cells, s"$dir: $perDir")
      assert(perDir.values.forall(_ == 1), s"$dir: $perDir")
    }
    // the rows read back are the curated batch, split by dq_passed
    val fields = (EventPipeline.eventSchema.fieldNames.toSeq ++
      Seq("region", "email_domain", "is_late_arrival", "dq_passed",
        "schema_drift_detected")).map(col)
    Seq(mainDir -> true, qDir -> false).foreach { case (dir, passed) =>
      val got = spark.read.parquet(dir).select(fields: _*).orderBy("id")
      val want = batch.filter(col("dq_passed") === passed)
        .select(fields: _*).orderBy("id")
      assert(got.collect().toSeq == want.collect().toSeq, dir)
    }
  }

  test("dual sink: an empty batch writes nothing and moves no counter") {
    import spark.implicits._
    val mainDir = Files.createTempDirectory("emain").toString
    val qDir = Files.createTempDirectory("equar").toString
    val stats = new EventPipeline.RunStats(spark)
    val empty = EventPipeline.curate(
      EventPipeline.parse(Seq.empty[String].toDF("value")))
    EventPipeline.processBatch(empty, 0L, mainDir, qDir, stats)
    assert(parquetFilesPerDir(mainDir).isEmpty)
    assert(parquetFilesPerDir(qDir).isEmpty)
    assert(Seq(stats.total, stats.late, stats.dqFailed, stats.drifted)
      .forall(_.value == 0))
    assert(stats.lastCommitted == -1L)
  }

  test("dual sink: numInputRows and the run report count each offered row once") {
    // a second job over the uncached batch (an emptiness probe) re-reads
    // the source and inflates numInputRows
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[String]
    val mainDir = Files.createTempDirectory("nmain").toString
    val qDir = Files.createTempDirectory("nquar").toString
    val ckpt = Files.createTempDirectory("nckpt").toString
    val stats = new EventPipeline.RunStats(spark)
    val sizes = Seq(7, 11, 13)
    sizes.zipWithIndex.foreach { case (n, b) =>
      mem.addData((0 until n).map(i =>
        eventJson(s"b${b}r$i", s"b${b}r$i@example.com", T0)): _*)
    }
    val query = EventPipeline.startDualSink(
      EventPipeline.curate(EventPipeline.parse(mem.toDF().select(col("value")))),
      mainDir, qDir, ckpt, stats, Trigger.AvailableNow())
    query.awaitTermination(60000)
    assert(query.recentProgress.map(_.numInputRows).sum == sizes.sum)
    assert(stats.total.value == sizes.sum)
    assert(spark.read.parquet(mainDir).count() == sizes.sum)
  }

  test("Kafka-shaped streaming frame: full column contract end to end") {
    // S1's one unexercised line is `readStream.format("kafka")`; this is
    // its protocol twin — a STREAMING source carrying exactly the Kafka
    // frame columns (binary key/value + topic/partition/offset/timestamp
    // metadata) driven through the same parse→curate→sink chain, asserted
    // identical to the plain value-only path on the same payloads.
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val now = T0
    val payloads = Seq(
      eventJson("c1", "good@example.com", now),
      eventJson("c2", "bad-email", now),
      eventJson("c3", "drift@example.com", now, version = 3))
    val mem = MemoryStream[KafkaShaped]
    val mainDir = Files.createTempDirectory("kmain").toString
    val qDir = Files.createTempDirectory("kquar").toString
    val ckpt = Files.createTempDirectory("kckpt").toString
    val stats = new EventPipeline.RunStats(spark)
    val curated = EventPipeline.curate(
      EventPipeline.parse(mem.toDF()),
      processingTs = lit(new java.sql.Timestamp(now)))
    mem.addData(payloads.zipWithIndex.map { case (p, i) =>
      KafkaShaped(s"k$i".getBytes("UTF-8"), p.getBytes("UTF-8"),
        "customer-events", i % 2, 100L + i,
        new java.sql.Timestamp(now + i), 0)
    }: _*)
    val query = EventPipeline.startDualSink(curated, mainDir, qDir, ckpt,
      stats, Trigger.AvailableNow())
    query.awaitTermination(60000)
    assert(stats.total.value == 3 && stats.dqFailed.value == 1)
    val sunk = spark.read.parquet(mainDir)
    // Kafka metadata columns survive the whole chain into the sink
    assert(Seq("kafka_key", "kafka_topic", "kafka_partition",
      "kafka_offset", "kafka_timestamp").forall(sunk.columns.contains))
    val k = sunk.filter(col("id") === "c1").head()
    assert(k.getAs[String]("kafka_key") == "k0")
    assert(k.getAs[String]("kafka_topic") == "customer-events")
    assert(k.getAs[Long]("kafka_offset") == 100L)
    // and the curated FIELDS are identical to the value-only batch path
    val twin = EventPipeline.curate(
      payloads.toDF("value").transform(EventPipeline.parse),
      processingTs = lit(new java.sql.Timestamp(now)))
    val fields = EventPipeline.eventSchema.fieldNames.toSeq ++
      Seq("region", "email_domain", "is_late_arrival", "dq_passed",
        "schema_drift_detected")
    val all = sunk.unionByName(spark.read.parquet(qDir)) // main + quarantine
    val got = all.select(fields.map(col): _*).orderBy("id").collect()
    val want = twin.select(fields.map(col): _*).orderBy("id").collect()
    assert(got.toSeq == want.toSeq,
      "Kafka-shaped path must curate identically to the value-only path")
  }

  test("JDBC sink leg: real .format(\"jdbc\") writes, idempotent replay") {
    import spark.implicits._
    val url = "jdbc:derby:memory:graftjdbc;create=true"
    val table = "curated_events"
    val now = T0
    def count(): Long = {
      val c = java.sql.DriverManager.getConnection(url)
      try {
        val rs = c.createStatement()
          .executeQuery(s"SELECT count(*) FROM $table")
        rs.next(); rs.getLong(1)
      } finally c.close()
    }
    val batch = EventPipeline.curate(EventPipeline.parse(Seq(
        eventJson("c1", "good@example.com", now),
        eventJson("c2", "also@example.com", now)).toDF("value")),
      processingTs = lit(new java.sql.Timestamp(now)))
    JdbcSink.writeBatch(batch, 0L, url, table)
    assert(count() == 2)
    // replay of the same batch: delete-then-append converges, no dupes
    JdbcSink.writeBatch(batch, 0L, url, table)
    assert(count() == 2)
    // a new batch appends its own rows
    val batch2 = EventPipeline.curate(EventPipeline.parse(Seq(
        eventJson("c3", "third@example.com", now)).toDF("value")),
      processingTs = lit(new java.sql.Timestamp(now)))
    JdbcSink.writeBatch(batch2, 1L, url, table)
    assert(count() == 3)
    // partial-delivery crash sim: half of batch 2 landed, then the full
    // batch replays — the DELETE step clears the partial rows first
    val c = java.sql.DriverManager.getConnection(url)
    try c.createStatement().executeUpdate(
      s"DELETE FROM $table WHERE batch_id = 1 AND id = 'c3'")
    finally c.close()
    JdbcSink.writeBatch(batch2, 1L, url, table)
    assert(count() == 3)
    // values round-trip through the JDBC type mapping
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", table).load()
    assert(back.filter(col("dq_passed") === false).count() == 0)
    assert(back.select("email").as[String].collect().toSet
      == Set("good@example.com", "also@example.com", "third@example.com"))
    // streaming leg: the foreachBatch wrapper drives the same writer
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[String]
    val ckpt = Files.createTempDirectory("jckpt").toString
    // the data lands before start: an AvailableNow query fixes its end
    // offset when it starts, so data added later may not be processed
    mem.addData(eventJson("s1", "s1@example.com", now))
    val q = MicroBatch.start(
      EventPipeline.curate(EventPipeline.parse(
        mem.toDF().select(col("value")))),
      ckpt, Trigger.AvailableNow())(
      JdbcSink.writeBatch(_, _, url, "curated_stream"))
    q.awaitTermination(60000)
    val sc2 = java.sql.DriverManager.getConnection(url)
    try {
      val rs = sc2.createStatement()
        .executeQuery("SELECT count(*) FROM curated_stream")
      rs.next(); assert(rs.getLong(1) == 1)
    } finally sc2.close()
  }

  test("Snowflake sink contract: exact option map, completeness fallback, live write path") {
    import spark.implicits._
    import graft.streaming.SnowflakeSink
    // the reference's option-map contract, key for key
    // (ingest_transform.py:281-295)
    val cfg = SnowflakeSink.Config("acme-xy123", "loader", "s3cr3t",
      "ANALYTICS", "PUBLIC", "LOAD_WH", "ETL_ROLE", "curated_events")
    assert(SnowflakeSink.options(cfg) == Map(
      "sfUrl" -> "acme-xy123.snowflakecomputing.com",
      "sfUser" -> "loader", "sfPassword" -> "s3cr3t",
      "sfDatabase" -> "ANALYTICS", "sfSchema" -> "PUBLIC",
      "sfWarehouse" -> "LOAD_WH", "sfRole" -> "ETL_ROLE"))
    // completeness gate feeds the T7 fallback: any absent/blank key
    // -> None -> parquet (the reference's creds check)
    val full = SnowflakeSink.RequiredKeys
      .map(k => k -> s"v_$k").toMap
    assert(SnowflakeSink.fromMap(full).isDefined)
    SnowflakeSink.RequiredKeys.foreach { k =>
      assert(SnowflakeSink.fromMap(full - k).isEmpty, s"missing $k")
      assert(SnowflakeSink.fromMap(full + (k -> "  ")).isEmpty,
        s"blank $k")
    }
    assert(EventPipeline.chooseSink(
      SnowflakeSink.fromMap(full - "password").isDefined) == "parquet")
    // the write path executes for REAL through the format seam (jdbc +
    // embedded Derby — same options plumbing, different connector name)
    val url = "jdbc:derby:memory:graftsf;create=true"
    val jdbcCfg = cfg.copy(table = "sf_twin")
    val rows = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "v")
    SnowflakeSink.writeBatch(rows, 7L, jdbcCfg, format = "jdbc",
      extraOptions = Map("url" -> url))
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "sf_twin").load()
    assert(back.count() == 2)
    // every row carries its batch_id — the replay-identifiability tag
    // the reference's blind append lacks
    assert(back.select("batch_id").distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(7L))
    // empty batches are skipped (the reference's count() > 0 gate)
    SnowflakeSink.writeBatch(rows.limit(0), 8L, jdbcCfg,
      format = "jdbc", extraOptions = Map("url" -> url))
    assert(spark.read.format("jdbc").option("url", url)
      .option("dbtable", "sf_twin").load().count() == 2)
  }

  test("avro wire path curates identically to the JSON path") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    import graft.functions.GraftFunctions.{avroEncodeCe, avroDecodeCe}
    // wireable events (non-null required fields, enum plan), two formats
    val ce = CustomerEvents.synth(Tables(spark, Sf0001).events)
      .filter(col("id").isNotNull && col("name").isNotNull
        && col("email").isNotNull && col("country").isNotNull
        && col("plan").isin(
          graft.sources.CustomerEventAvro.PlanSymbols: _*))
      .limit(200)
    val fields = Seq("id", "name", "email", "signup_ts", "country", "plan",
      "event_ts", "version", "marketing_opt_in", "customer_segment")
    // canonical surface carries version as BIGINT; the Avro wire wants int
    val wireCols = fields.map(f =>
      if (f == "version") col(f).cast("int").as("version") else col(f))
    val avroRaw = ce.select(
      avroEncodeCe(struct(wireCols: _*)).as("value"))
    val jsonRaw = ce.select(to_json(struct(fields.map(col): _*)).as("value"))
    val asOf = CustomerEvents.asOfCol
    val fromAvro = EventPipeline.curate(EventPipeline.parseAvro(avroRaw), asOf)
      .orderBy("id", "event_ts")
    val fromJson = EventPipeline.curate(EventPipeline.parse(jsonRaw), asOf)
      .orderBy("id", "event_ts")
    assert(fromAvro.columns.sameElements(fromJson.columns))
    val a = fromAvro.collect()
    val j = fromJson.collect()
    assert(a.length == 200 && a.sameElements(j))
  }

  test("windowed counts drop rows behind the watermark across batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[String]
    val curated = EventPipeline.curate(
      EventPipeline.parse(mem.toDF().select(col("value"))))
    val query = EventPipeline.windowedCounts(curated).writeStream
      .outputMode("append").format("memory").queryName("wc").start()

    // batch 1: two events in hour-window W0 = [T0.hour, +1h)
    mem.addData(eventJson("a", "a@x.com", T0),
      eventJson("b", "b@x.com", T0 + 60000L))
    query.processAllAvailable()
    // append mode: window not closed yet -> nothing emitted
    assert(spark.table("wc").count() == 0)

    // batch 2: an event 3 hours on -> watermark passes W0's end; W0 emits
    mem.addData(eventJson("c", "c@x.com", T0 + 3 * 3600000L))
    query.processAllAvailable()
    val afterClose = spark.table("wc").collect()
    assert(afterClose.length == 1)
    assert(afterClose(0).getAs[Long]("n") == 2)

    // batch 3: a straggler behind the watermark -> DROPPED, W0 unchanged
    mem.addData(eventJson("d", "d@x.com", T0 + 120000L))
    query.processAllAvailable()
    val afterLate = spark.table("wc").collect()
    assert(afterLate.length == 1)
    assert(afterLate(0).getAs[Long]("n") == 2)
    query.stop()
  }

  test("streaming dedup drops duplicate ids within the watermark") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[String]
    val curated = EventPipeline.curate(
      EventPipeline.parse(mem.toDF().select(col("value"))))
      .withWatermark("event_timestamp", "15 minutes")
      .dropDuplicatesWithinWatermark("id")
    val q = curated.select("id").writeStream
      .outputMode("append").format("memory").queryName("dedup_ids").start()
    val t0 = 1700000000000L
    mem.addData(eventJson("d1", "a@x.com", t0),
      eventJson("d1", "a@x.com", t0 + 1000), // dup in same batch
      eventJson("d2", "b@x.com", t0))
    q.processAllAvailable()
    mem.addData(eventJson("d1", "a@x.com", t0 + 60000)) // dup next batch
    q.processAllAvailable()
    val ids = spark.table("dedup_ids").collect().map(_.getString(0))
    assert(ids.sorted.toSeq == Seq("d1", "d2")) // each id exactly once
    q.stop()
  }

  test("stream-stream interval join pairs purchases with nearby errors") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val purchases = MemoryStream[(String, Long)]
    val errors = MemoryStream[(String, Long)]
    def ts(ms: Long) = timestamp_millis(lit(ms))
    val p = purchases.toDF().toDF("user", "pts_ms")
      .select(col("user"), timestamp_millis(col("pts_ms")).as("pts"))
      .withWatermark("pts", "10 minutes")
    val e = errors.toDF().toDF("euser", "ets_ms")
      .select(col("euser"), timestamp_millis(col("ets_ms")).as("ets"))
      .withWatermark("ets", "10 minutes")
    // error within 5 minutes BEFORE the purchase
    val joined = p.join(e,
      col("user") === col("euser")
        && col("ets") >= col("pts") - expr("INTERVAL 5 MINUTES")
        && col("ets") <= col("pts"))
    val q = joined.select("user", "pts", "ets").writeStream
      .outputMode("append").format("memory").queryName("ssjoin").start()
    val t0 = 1700000000000L
    purchases.addData(("u1", t0 + 120000L), ("u2", t0 + 120000L))
    errors.addData(("u1", t0), ("u2", t0 - 600000L)) // u2's is too old
    q.processAllAvailable()
    // advance both watermarks far past the join window to flush state
    purchases.addData(("zp", t0 + 7200000L))
    errors.addData(("ze", t0 + 7200000L))
    q.processAllAvailable()
    val rows = spark.table("ssjoin").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("u1"))
    q.stop()
  }

  test("curate computes flags identically to the batch path") {
    import spark.implicits._
    val now = lit("2024-02-01 00:00:00").cast("timestamp")
    val parsed = Seq(
      eventJson("c1", "ok@example.com", 1706700000000L),
      eventJson("c2", "bad", 1706700000000L))
      .toDF("value")
    val curated = EventPipeline.curate(EventPipeline.parse(parsed), now)
    val rows = curated.orderBy("id").collect()
    assert(rows(0).getAs[Boolean]("dq_passed"))
    assert(!rows(1).getAs[Boolean]("dq_passed"))
    assert(rows(0).getAs[String]("region") == "North America")
    assert(rows(0).getAs[String]("email_domain") == "example.com")
    assert(rows(0).getAs[Boolean]("is_late_arrival")) // Jan 31 evt, Feb 1 proc
  }

  test("checkpoint recovery: restarted query does not reprocess") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[String]
    val mainDir = Files.createTempDirectory("rmain").toString
    val qDir = Files.createTempDirectory("rquar").toString
    val ckpt = Files.createTempDirectory("rckpt").toString
    val stats1 = new EventPipeline.RunStats(spark)
    def start(stats: EventPipeline.RunStats) =
      EventPipeline.startDualSink(
        EventPipeline.curate(
          EventPipeline.parse(mem.toDF().select(col("value")))),
        mainDir, qDir, ckpt, stats, Trigger.AvailableNow())

    val now = System.currentTimeMillis()
    mem.addData((1 to 5).map(i =>
      eventJson(s"r$i", s"r$i@example.com", now)): _*)
    start(stats1).awaitTermination(60000)
    assert(stats1.total.value == 5)

    // add more data, restart a NEW query from the same checkpoint:
    // only the unseen batch is processed, the sink is not duplicated
    mem.addData((6 to 8).map(i =>
      eventJson(s"r$i", s"r$i@example.com", now)): _*)
    val stats2 = new EventPipeline.RunStats(spark)
    start(stats2).awaitTermination(60000)
    assert(stats2.total.value == 3) // NOT 8: offsets recovered
    assert(spark.read.parquet(mainDir).count() == 8)
  }

  test("sink fallback picks parquet without complete JDBC config") {
    assert(EventPipeline.chooseSink(jdbcConfigComplete = false) == "parquet")
    assert(EventPipeline.chooseSink(jdbcConfigComplete = true) == "jdbc")
  }

  // (doc_id, lang) -> a documents-shaped frame; id 666 plants a null text
  private def docFrame(df: org.apache.spark.sql.DataFrame) =
    df.withColumn("text",
        when(col("doc_id") === 666L, lit(null).cast("string"))
          .otherwise(concat(lit("body of document number "),
            col("doc_id").cast("string"))))
      .withColumn("source",
        concat(lit("src"), (col("doc_id") % 3).cast("string")))
      .withColumn("n_chars", length(col("text")).cast("long"))

  test("streaming DQ monitor: per-batch suite results equal the batch evaluator") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val resDir = Files.createTempDirectory("dqres").toString
    val ckpt = Files.createTempDirectory("dqckpt").toString
    val suite = graft.dq.DqSuite.documentsSuite
    val stats = new graft.streaming.DqMonitor.DqStreamStats(spark, suite)

    val stream = docFrame(mem.toDF().toDF("doc_id", "lang"))
    // add BEFORE start: AvailableNow snapshots offsets at query start
    val clean = Seq((1L, "en"), (2L, "de"), (3L, "fr"))
    mem.addData(clean: _*)
    MicroBatch.start(stream, ckpt, Trigger.AvailableNow())(
      graft.streaming.DqMonitor.processDqBatch(_, _, stats, resDir))
      .awaitTermination(60000)

    val dirty = Seq((666L, "xx"), (5L, "en"))
    mem.addData(dirty: _*)
    MicroBatch.start(stream, ckpt, Trigger.AvailableNow())(
      graft.streaming.DqMonitor.processDqBatch(_, _, stats, resDir))
      .awaitTermination(60000)

    // the streamed per-batch results must equal the static evaluator run
    // on the same rows — same engine, no drift
    def staticResults(rows: Seq[(Long, String)]) =
      graft.dq.DqSuite.evaluate(docFrame(rows.toDF("doc_id", "lang")), suite)
        .collect().map(r => (r.getAs[Long]("exp_idx"),
          r.getAs[Long]("n_evaluated"), r.getAs[Long]("n_failed"))).toSet
    val streamed = spark.read.parquet(resDir)
    def batchResults(b: Long) = streamed.filter(col("batch_id") === b)
      .collect().map(r => (r.getAs[Long]("exp_idx"),
        r.getAs[Long]("n_evaluated"), r.getAs[Long]("n_failed"))).toSet
    assert(batchResults(0L) == staticResults(clean))
    assert(batchResults(1L) == staticResults(dirty))

    // run-level counters: clean batch all-pass, dirty batch flips the flag
    assert(!stats.allPassed)
    val byName = stats.summary.map(s => (s._1, s._2) -> s._4).toMap
    assert(byName(("expect_column_values_to_not_be_null", "text")) == 1L)
    assert(byName(("expect_column_values_to_be_in_set", "lang")) == 1L)
    assert(byName(("expect_column_values_to_not_be_null", "doc_id")) == 0L)
  }

  test("streaming curation gate: normalize + quality-filter + scrub per batch") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    graft.functions.GraftFunctions.register(spark)
    val mem = MemoryStream[(Long, String)]
    val outDir = Files.createTempDirectory("curout").toString
    val ckpt = Files.createTempDirectory("curckpt").toString
    // one clean long doc, one too-short doc (min_tokens), one with PII
    val rows = Seq(
      (1L, "the quick brown fox jumps over azure lazy dog and then runs " +
        "far away into green fields of tall grass today"),
      (2L, "tiny doc"),
      (3L, "the quick brown fox jumps over azure lazy dog and then mails " +
        "far away into green fields of tall grass at bob@example.com"))
    mem.addData(rows: _*)
    val stream = mem.toDF().toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val q = stream.writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        // the batch curation operators compose unchanged per micro-batch:
        // canonicalize -> named-rule gate -> PII scrub
        val canon = batch.withColumn("text",
          graft.ext.Curation.normalizeText(col("text")))
        graft.ext.TextAnalysis.qualityFilter(canon)
          .withColumn("text", graft.ext.Curation.scrubPii(col("text")))
          .write.mode("append").parquet(outDir)
        ()
      }
      .start()
    q.awaitTermination(60000)
    val out = spark.read.parquet(outDir).orderBy("doc_id").collect()
    // doc 2 dropped by the min_tokens rule; 1 and 3 survive
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 3L))
    // PII redacted post-gate; canonical text is lowercased
    val t3 = out(1).getAs[String]("text")
    assert(t3.contains("<EMAIL>") && !t3.contains("bob@example.com"))
    // canonical text is lowercased (doc 1 has no redaction markers)
    val t1 = out(0).getAs[String]("text")
    assert(t1.toLowerCase == t1)
    // and the streamed survivors equal the batch composition exactly
    val batchOut = graft.ext.TextAnalysis.qualityFilter(
        rows.toDF("doc_id", "text")
          .withColumn("lang", lit("en"))
          .withColumn("source", lit("s"))
          .withColumn("n_chars", length(col("text")).cast("long"))
          .withColumn("text", graft.ext.Curation.normalizeText(col("text"))))
      .withColumn("text", graft.ext.Curation.scrubPii(col("text")))
      .orderBy("doc_id").collect()
    assert(out.map(_.getAs[String]("text")).toSeq
      == batchOut.map(_.getAs[String]("text")).toSeq)
  }

  test("streaming embedding ingest: LSH-table index screens near-dups") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.streaming.EmbedStream
    val rnd = new scala.util.Random(42)
    def vec(): Seq[Float] = Seq.fill(64)(rnd.nextFloat() * 2 - 1)
    def perturb(v: Seq[Float]): Seq[Float] = v.map(x => x + 0.01f)
    val (a, b, c, d) = (vec(), vec(), vec(), vec())
    val mem = MemoryStream[(Long, Seq[Float])]
    val corpusDir = Files.createTempDirectory("embcorpus").toString
    val indexDir = Files.createTempDirectory("embindex").toString
    val ckpt = Files.createTempDirectory("embckpt").toString
    val stats = new EmbedStream.EmbedStats(spark)
    val stream = mem.toDF().toDF("vec_id", "embedding")
      .withColumn("label", lit(0))

    mem.addData((0L, a), (1L, b), (2L, c))
    MicroBatch.start(stream, ckpt, Trigger.AvailableNow())(
      EmbedStream.processBatch(_, _, corpusDir, indexDir, stats))
      .awaitTermination(60000)
    // near-copy of vector 0 (1 % perturbation — the sign pattern still
    // matches in at least one of the 4 tables), one genuinely new
    // direction, and a batch-internal near-copy of it (keep-first)
    mem.addData((10L, perturb(a)), (11L, d), (12L, perturb(d)))
    MicroBatch.start(stream, ckpt, Trigger.AvailableNow())(
      EmbedStream.processBatch(_, _, corpusDir, indexDir, stats))
      .awaitTermination(60000)

    val kept = spark.read.parquet(corpusDir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 1L, 2L, 11L))
    assert(stats.seen.value == 6L && stats.kept.value == 4L)
    // the index carries NumTables rows per surviving vector, no text
    val idx = spark.read.parquet(indexDir)
    assert(idx.count() == 4L * EmbedStream.NumTables)
    assert(idx.groupBy("vec_id").count()
      .filter(col("count") =!= EmbedStream.NumTables).count() == 0)

    // compaction folds per-batch partitions into batch_id=-1 and the
    // compacted index still screens: a near-copy of vector 1 is dropped
    val (cb, ca) =
      BatchIndex.compact(spark, EmbedStream.LshIndex, indexDir).get
    assert(ca == cb) // (vec_id, table, bucket) rows are already unique
    EmbedStream.processBatch(
      Seq((20L, perturb(b)), (21L, vec())).toDF("vec_id", "embedding")
        .withColumn("label", lit(0)),
      2L, corpusDir, indexDir, stats)
    val kept2 = spark.read.parquet(corpusDir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept2 == Set(0L, 1L, 2L, 11L, 21L))
  }

  test("streaming source quota: cap enforced across batches via keyed state") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.streaming.QuotaStream
    val mem = MemoryStream[(Long, String)]
    val ckpt = Files.createTempDirectory("quotackpt").toString
    val adm = QuotaStream.admissions(
      mem.toDF().toDF("doc_id", "source"), cap = 2)
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Boolean)]()
    def drain(): Unit = {
      val q = adm.writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[QuotaStream.Admission],
           _: Long) =>
            val rows = b.collect().map(a => (a.doc_id, a.admitted))
            buf.synchronized { buf ++= rows; () }
        }
        .start()
      q.awaitTermination(60000)
      ()
    }
    mem.addData((1L, "a"), (2L, "a"), (3L, "a"), (10L, "b"))
    drain()
    mem.addData((4L, "a"), (11L, "b"), (12L, "b"), (13L, "b"))
    drain()
    val admitted = buf.filter(_._2).map(_._1).toSet
    // source a: first two of batch 1 fill the quota — 3 (same batch)
    // and 4 (NEXT batch, via carried state) are rejected; source b:
    // 10 + 11 admitted, 12/13 rejected
    assert(admitted == Set(1L, 2L, 10L, 11L))
    assert(buf.size == 8)
    // batch-mode equivalence: one big batch admits the same set when
    // arrival order matches doc_id order
    val all = Seq((1L, "a"), (2L, "a"), (3L, "a"), (10L, "b"),
      (4L, "a"), (11L, "b"), (12L, "b"), (13L, "b"))
      .toDF("doc_id", "source")
    val batchAdmitted = QuotaStream.admissions(all, cap = 2)
      .collect().filter(_.admitted).map(_.doc_id).toSet
    assert(batchAdmitted == admitted)
  }

  test("streaming sessionization: gap splits, timeout flush, batch equivalence") {
    sessionizationContract(providerClass = None)
  }

  test("sessionization semantics are state-store-provider independent (RocksDB)") {
    // the SAME contract — gap splits, cross-batch state, event-time
    // timeout flush, batch equivalence — under the RocksDB provider
    // (the 100 TB/day posture: state off-heap, not in executor heap;
    // config-only swap, measured in SCALING.md "Stateful state store")
    sessionizationContract(providerClass = Some(
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
  }

  /** The full sessionization contract, runnable under any state-store
    * provider: provider choice must never change WHAT flushes or WHEN
    * (it only changes where the open-session records live).
    */
  private def sessionizationContract(providerClass: Option[String]): Unit = {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.streaming.SessionStream
    val confKey = "spark.sql.streaming.stateStore.providerClass"
    // only an explicit setting is restored: getOption would return the
    // default, and setting it back would read as an explicit choice
    val prior = spark.conf.getAll.get(confKey)
    providerClass.foreach(spark.conf.set(confKey, _))
    try {
    val gapMs = 60000L
    // base offset: an event AT the initial watermark (epoch 0) would be
    // discarded as late before the stateful operator sees it
    val base = 3600000L
    def ts(ms: Long) = new java.sql.Timestamp(base + ms)
    val mem = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val ckpt = Files.createTempDirectory("sessckpt").toString
    val src = mem.toDF().toDF("user_id", "ts", "value")
    val out = SessionStream.sessions(src, gapMs)
    val buf = scala.collection.mutable.ArrayBuffer[SessionStream.Session]()
    def drain(): Unit = {
      val q = out.writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[SessionStream.Session],
           _: Long) =>
            val rows = b.collect()
            buf.synchronized { buf ++= rows; () }
        }
        .start()
      q.awaitTermination(60000)
      ()
    }
    // batch 1: two users, everything open
    mem.addData((1L, ts(0L), 1.0), (1L, ts(30000L), 2.0),
      (2L, ts(10000L), 5.0))
    drain()
    // batch 2: u1 jumps past the gap (closes session 1); u2 extends
    mem.addData((1L, ts(200000L), 3.0), (2L, ts(50000L), 7.0))
    drain()
    // sentinels advance the watermark so idle sessions flush by TIMEOUT
    mem.addData((99L, ts(1000000L), 0.0))
    drain()
    mem.addData((99L, ts(2000000L), 0.0))
    drain()
    val got = buf.filter(_.user_id != 99L)
      .map(s => (s.user_id, s.session_start_ms - base,
        s.session_end_ms - base, s.n_events, s.total_value)).toSet
    assert(got == Set(
      (1L, 0L, 90000L, 2L, 3.0),        // closed by the 200s successor
      (1L, 200000L, 260000L, 1L, 3.0),  // flushed by timeout
      (2L, 10000L, 110000L, 2L, 12.0)), // extended cross-batch, timeout
      got.toString)
    // the emitted sessions are exactly the batch session_window answer
    // over the same (non-sentinel) events
    val batchEvents = Seq(
      (1L, ts(0L), 1.0), (1L, ts(30000L), 2.0), (2L, ts(10000L), 5.0),
      (1L, ts(200000L), 3.0), (2L, ts(50000L), 7.0))
      .toDF("user_id", "ts", "value")
    val batch = graft.report.Analytics.sessionWindows(batchEvents, 1)
      .collect().map(r => (r.getLong(0), r.getLong(1) / 1000 - base,
        r.getLong(2) / 1000 - base, r.getLong(3), r.getDouble(4))).toSet
    assert(batch == got, s"batch=$batch stream=$got")
    // batch-mode run of the SAME function emits only successor-closed
    // sessions (open state discards — what a stream would not yet emit)
    val batchMode = SessionStream.sessions(batchEvents, gapMs).collect()
      .map(s => (s.user_id, s.session_start_ms - base)).toSet
    assert(batchMode == Set((1L, 0L)))
    } finally {
      prior match {
        case Some(v) => spark.conf.set(confKey, v)
        case None => spark.conf.unset(confKey)
      }
    }
  }

  test("streaming novelty: batches score against the grown index; replay idempotent") {
    import spark.implicits._
    import graft.streaming.NoveltyStream
    val reportDir = Files.createTempDirectory("nov_report").toString
    val indexDir = Files.createTempDirectory("nov_index").toString
    val stats = new NoveltyStream.NoveltyStats(spark)
    def docs(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")

    val boiler = "b1 b2 b3 b4 b5 b6 b7 b8"
    // batch 0: empty index -> doc 1 fully novel; 2 and 3 share a prefix
    NoveltyStream.processBatch(
      docs((1L, "f1 f2 f3 f4 f5 f6 f7 f8"),
        (2L, s"$boiler x1 x2 x3"), (3L, s"$boiler y1 y2 y3")),
      0L, reportDir, indexDir, stats)
    assert(stats.seen.value == 3 && stats.novel.value == 1)

    // batch 1: the boilerplate is now INDEXED -> doc 4 scores below 1.0
    // even though nothing in batch 1 repeats; doc 5 is fresh
    val b1 = docs((4L, s"$boiler z1 z2 z3"),
      (5L, "q1 q2 q3 q4 q5 q6 q7 q8"))
    NoveltyStream.processBatch(b1, 1L, reportDir, indexDir, stats)
    assert(stats.seen.value == 5 && stats.novel.value == 2)
    val r1 = spark.read.parquet(reportDir).filter(col("batch_id") === 1)
      .collect().map(r => r.getAs[Long]("doc_id")
        -> r.getAs[Double]("novelty")).toMap
    assert(r1(4L) < 1.0 && r1(5L) == 1.0)

    // same-driver replay: skipped outright
    NoveltyStream.processBatch(b1, 1L, reportDir, indexDir, stats)
    assert(stats.seen.value == 5)

    // recovery replay (fresh driver, partial state on disk): the batch
    // must not screen against its own first attempt's index partition
    val fresh = new NoveltyStream.NoveltyStats(spark)
    fresh.lastCommitted = 0L
    NoveltyStream.processBatch(b1, 1L, reportDir, indexDir, fresh)
    val r1b = spark.read.parquet(reportDir).filter(col("batch_id") === 1)
      .collect().map(r => r.getAs[Long]("doc_id")
        -> r.getAs[Double]("novelty")).toMap
    assert(r1b == r1) // overwritten in place, same verdicts
    // index holds each batch's grams exactly once after the replay
    val idx = spark.read.parquet(indexDir)
    assert(idx.count() == idx.dropDuplicates("h", "batch_id").count())

    // compaction: cross-batch duplicate grams (the shared boilerplate)
    // collapse to one row each; the compacted index is a valid log —
    // later batches still score identically against it
    val distinctGrams = idx.select("h").distinct().count() // pre-swap read
    val (before, after) =
      BatchIndex.compact(spark, NoveltyStream.GramIndex, indexDir).get
    assert(after < before)
    assert(after == distinctGrams)
    val b2 = docs((6L, s"$boiler w1 w2 w3"))
    NoveltyStream.processBatch(b2, 2L, reportDir, indexDir, stats)
    val r2 = spark.read.parquet(reportDir).filter(col("batch_id") === 2)
      .head()
    assert(r2.getAs[Double]("novelty") < 1.0) // boilerplate still indexed
  }

  test("streaming hll sketch ingest: day merge across batches; replay idempotent") {
    import spark.implicits._
    import graft.streaming.SketchStream
    import graft.ext.SketchIndex
    val indexDir = Files.createTempDirectory("hll_stream").toString
    val stats = new SketchStream.SketchStats(spark)
    def ev(rows: (Long, Long, Long)*) = rows.toSeq  // (id, day, user)
      .toDF("event_id", "day0", "user_id")
      .withColumn("ts", timestamp_millis(col("day0") * 86400000L))
      .withColumn("event_type", lit("click"))
      .drop("day0")
    def est(f: Long, t: Long): Long =
      SketchIndex.distinctUsersOverRange(spark, indexDir, f, t)
        .head().getAs[Long]("est_distinct")

    // batch 0: day 100 users {1,2}; batch 1 ADDS day-100 user {3} —
    // the day must merge across batch partitions, not overwrite
    SketchStream.processBatch(ev((1L, 100L, 1L), (2L, 100L, 2L)),
      0L, indexDir, stats)
    val b1 = ev((3L, 100L, 3L), (4L, 101L, 9L))
    SketchStream.processBatch(b1, 1L, indexDir, stats)
    assert(est(100L, 100L) == 3L && est(100L, 101L) == 4L)
    assert(stats.events.value == 4L)

    // same-driver replay: skipped
    SketchStream.processBatch(b1, 1L, indexDir, stats)
    assert(stats.events.value == 4L)
    // recovery replay (fresh driver): overwrites ONLY its own files —
    // estimates and accounting unchanged
    val fresh = new SketchStream.SketchStats(spark)
    fresh.lastCommitted = 0L
    SketchStream.processBatch(b1, 1L, indexDir, fresh)
    assert(est(100L, 101L) == 4L)
    val acct = SketchIndex.distinctUsersOverRange(spark, indexDir,
      100L, 101L).head().getAs[Long]("n_events")
    assert(acct == 4L)

    // compact folds batch rows per day; answers identical after
    BatchIndex.compact(spark, SketchStream.HllIndex, indexDir)
    assert(est(100L, 100L) == 3L && est(100L, 101L) == 4L)
    val rowsPerDay = spark.read.parquet(indexDir)
      .groupBy("day").count().collect()
      .map(_.getAs[Long]("count")).toSet
    assert(rowsPerDay == Set(1L))
    // post-compact ingest still lands and serves
    SketchStream.processBatch(ev((5L, 101L, 10L)), 2L, indexDir, stats)
    assert(est(101L, 101L) == 2L)

    // compaction crash window: re-land batch 1's partitions exactly as
    // a compaction that died between its promote and its deletes would
    // leave them (fold rows carry folded_through = 1, so these rows are
    // superseded duplicates). The HLL estimate survives by union
    // idempotence; the serve-time screen must keep sum(n_events) exact
    val crashed = new SketchStream.SketchStats(spark)
    crashed.lastCommitted = 0L
    SketchStream.processBatch(b1, 1L, indexDir, crashed)
    assert(est(100L, 101L) == 5L) // users {1,2,3} + {9,10}
    def acctAll(): Long = SketchIndex
      .distinctUsersOverRange(spark, indexDir, 100L, 101L)
      .agg(org.apache.spark.sql.functions.sum("n_events"))
      .head().getLong(0)
    assert(acctAll() == 5L, "crashed-compaction leftovers double-counted")
    // re-running the compaction folds cleanly over the crashed state
    BatchIndex.compact(spark, SketchStream.HllIndex, indexDir)
    assert(est(100L, 100L) == 3L && est(100L, 101L) == 5L)
    assert(acctAll() == 5L)

    // maintenance hook: a just-compacted layout is healthy — the
    // diagnostics report without folding, and the day denominator is
    // the observed semantic partition count (resize never recommended)
    val m = BatchIndex.maintain(spark, SketchStream.HllIndex, indexDir).get
    assert(m.compacted.isEmpty, s"${m.report}")
    assert(m.report.buckets == 2L && !m.rebucketRecommended)
  }

  test("streaming heavy hitters: mergeable MG counters, bounds hold, replay idempotent") {
    import spark.implicits._
    import graft.streaming.HeavyHitterStream
    val indexDir = Files.createTempDirectory("hh_stream").toString
    val stats = new HeavyHitterStream.HhStats(spark)
    def docs(texts: String*) = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val b0 = docs("a a a b c", "a b d e f")
    val b1 = docs("a a g h i j", "b b b c k l m")
    HeavyHitterStream.processBatch(b0, 0L, indexDir, stats)
    HeavyHitterStream.processBatch(b1, 1L, indexDir, stats)
    def served(): Map[String, Long] = HeavyHitterStream
      .servedCounters(spark, indexDir).collect()
      .map(r => r.getAs[String]("symbol") -> r.getAs[Long]("est")).toMap
    val est = served()
    // exact stream counts and the MG theorems over the summed merge
    val exact = (b0.union(b1)).select(
      explode(split(col("text"), " ")).as("t"))
      .groupBy("t").count().collect()
      .map(r => r.getAs[String]("t") -> r.getAs[Long]("count")).toMap
    val n = exact.values.sum
    val k = graft.ext.HeavyHitters.Counters
    est.foreach { case (sym, e) =>
      assert(e <= exact(sym), s"$sym over-estimated")
      assert((exact(sym) - e) * (k + 1) <= n, s"$sym bound broken")
    }
    // guaranteed capture: any symbol above the N/(k+1) line survives
    exact.collect { case (sym, c) if c * (k + 1) > n =>
      assert(est.contains(sym), s"heavy hitter $sym lost")
    }
    // same-driver replay: skipped; recovery replay rewrites only its
    // own partition — served counters unchanged
    val fresh = new HeavyHitterStream.HhStats(spark)
    fresh.lastCommitted = 0L
    HeavyHitterStream.processBatch(b1, 1L, indexDir, fresh)
    assert(served() == est)
    // compaction is an exact fold: answers identical, one row/symbol
    BatchIndex.compact(spark, HeavyHitterStream.CounterIndex, indexDir)
    assert(served() == est)
    assert(spark.read.parquet(indexDir).groupBy("symbol").count()
      .filter(col("count") > 1).count() == 0)
    // post-compact ingest still merges
    HeavyHitterStream.processBatch(docs("z z z z"), 2L, indexDir, stats)
    assert(served()("z") == 4L)
    // compaction crash window: re-land batch 1's partition exactly as
    // a compaction that died between its promote and its deletes would
    // leave it (the fold row carries folded_through = 1, so these rows
    // are superseded duplicates). This index SERVES BY SUMMING, so
    // without the serve-time screen est would exceed exact — the MG
    // "never over" guarantee is the thing under test
    val withZ = est + ("z" -> 4L)
    val crashed = new HeavyHitterStream.HhStats(spark)
    crashed.lastCommitted = 0L
    HeavyHitterStream.processBatch(b1, 1L, indexDir, crashed)
    assert(served() == withZ,
      "crashed-compaction leftovers double-counted in serving")
    // re-running the compaction folds cleanly over the crashed state
    // (the fold screens first, so the old fold row + its superseded
    // batch rows merge without double-counting, and folded_through
    // advances past the newest merged batch)
    BatchIndex.compact(spark, HeavyHitterStream.CounterIndex, indexDir)
    assert(served() == withZ,
      "re-run compaction double-counted superseded batch rows")
    assert(spark.read.parquet(indexDir).groupBy("symbol").count()
      .filter(col("count") > 1).count() == 0)

    // maintenance hook: drive the index across the level cadence and
    // let the HOOK fold it — it must run this stream's screen-first
    // merge (sum-served: the default distinct fold would leave the
    // crash window double-countable), and serving must not move
    assert(BatchIndex.maintain(spark, HeavyHitterStream.CounterIndex,
        indexDir).get
      .compacted.isEmpty, "healthy layout must not compact")
    // symbols are first characters — every batch lands "n n", so the
    // summed estimate for n must be exactly 2 × 18 batches
    (3L to 20L).foreach { b =>
      HeavyHitterStream.processBatch(docs("n n"), b, indexDir, stats)
    }
    val pre = served()
    val m = BatchIndex.maintain(spark, HeavyHitterStream.CounterIndex,
      indexDir).get
    assert(m.report.maxLevelsPerBucket >
      graft.streaming.BatchIndex.CompactAfterLevels, s"${m.report}")
    assert(m.compacted.nonEmpty, "cadence crossed but hook idle")
    assert(spark.read.parquet(indexDir).select("batch_id").distinct()
      .collect().map(_.getAs[Number](0).longValue()).toSet
      == Set(-1L))
    assert(served() == pre, "maintenance fold moved served counters")
    assert(pre("n") == 36L, s"n=${pre.get("n")}")
  }

  test("RunStream read-back: a sink a run never wrote counts 0 rows") {
    val out = Files.createTempDirectory("readback")
    assert(RunStream.committedRows(spark, s"$out/never_written") == 0L)
    assert(RunStream.committedRows(spark, out.toString) == 0L)
  }

  test("RunStream read-back: a corrupt sink fails instead of counting 0") {
    val out = Files.createTempDirectory("readback")
    Files.write(out.resolve("part-0.parquet"), "not parquet".getBytes)
    intercept[org.apache.spark.SparkException](
      RunStream.committedRows(spark, out.toString))
  }

  test("runFull sets RocksDB only when no state-store provider is set explicitly") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val s = spark.newSession()
    s.conf.unset(key)
    assert(RunStream.useRocksDbUnlessSet(s))
    assert(s.conf.get(key).endsWith(".RocksDBStateStoreProvider"))
    // an explicit choice (e.g. through SPARK_GRAFT_CONF) stands
    val hdfs = "org.apache.spark.sql.execution.streaming.state." +
      "HDFSBackedStateStoreProvider"
    s.conf.set(key, hdfs)
    assert(!RunStream.useRocksDbUnlessSet(s))
    assert(s.conf.get(key) == hdfs)
  }

  test("RunStream full composition: six streams land consistent artifacts") {
    val out = Files.createTempDirectory("runfull").toString
    // 30 s: the graph leg's first trigger (text banding + PNG decode +
    // fp append + graph relabel, cold) takes 10-15 s under the five
    // competing legs — a shorter run stops it before its first commit
    val s = RunStream.runFull(spark, out, seconds = 30,
      rowsPerSecond = 500)
    // curate leg: every event lands exactly once, in main XOR quarantine
    assert(s.events > 0, "no events flowed")
    assert(s.mainRows + s.quarantineRows == s.events,
      s"dual sink lost/duplicated rows: $s")
    assert(s.dqFailed == s.quarantineRows, s"quarantine != dq failures: $s")
    // dedup leg: planted ~10% dup rate -> survivors strictly fewer,
    // corpus matches the committed kept count, 4 band rows per survivor
    assert(s.docsSeen > 0 && s.docsKept < s.docsSeen, s.toString)
    assert(s.corpusRows == s.docsKept, s"corpus != kept: $s")
    assert(s.dedupIndexRows == 4 * s.corpusRows,
      s"band index != 4 rows/doc: $s")
    // heavy-hitter leg: the planted hot symbol ("h", ~1/6 of the mass)
    // must survive the merged Misra-Gries counters and rank first
    val hh = graft.streaming.HeavyHitterStream
      .servedCounters(spark, s"$out/hh_index").collect()
      .map(r => r.getAs[String]("symbol") -> r.getAs[Long]("est")).toMap
    assert(hh.contains("h"), s"hot symbol lost from MG counters: $hh")
    assert(hh("h") > 0 && hh("h") >= hh.values.max,
      s"hot symbol not the top counter: $hh")
    // sketch leg: the HLL index carries rows and serves an estimate
    assert(s.hllDays > 0, "HLL index empty")
    // sessionizer leg (the one with REAL streaming state, under the
    // RocksDB provider): users revisit every ~2 s against the 1 s gap,
    // so sessions close and flow, and state holds ~one row per live user
    assert(s.sessionsEmitted > 0, s"no sessions emitted: $s")
    assert(s.sessionStateRows > 0, s"no session state tracked: $s")
    // graph leg (evidence-preserving, with the image media leg): every
    // seen doc lands (no drops), pair evidence flows (planted text
    // twins + their perceptual PNG twins), and the incrementally-grown
    // labels audit clean against the stored pairs while five other
    // streams compete for the same executor
    assert(s.graphDocs > 0, s"graph leg saw no docs: $s")
    assert(s.graphCorpusRows == s.graphDocs,
      s"evidence leg must keep every committed doc: $s")
    assert(s.graphPairs > 0, s"no pair evidence landed: $s")
    assert(s.graphLabeledDocs > 0 && s.graphStale == 0,
      s"stream-grown labels stale: $s")
    // the image leg's fingerprints landed in the unified fp index, and
    // the stored pair set carries BOTH channels
    assert(graft.ext.Multimodal.readMediaFpIndex(spark, s"$out/fp_g")
      .filter(col("modality") === "image").count() > 0)
    val channels = graft.ext.CorpusGraph.readPairs(spark, s"$out/graph_g")
      .select("modality").distinct().collect()
      .map(_.getString(0)).toSet
    assert(channels == Set("text", "image"),
      s"expected text+image evidence, got $channels")
    // the provider override must not leak into the shared test session
    assert(!spark.conf.get(
      "spark.sql.streaming.stateStore.providerClass").contains("RocksDB"))
  }

  test("streaming curation: normalize + gate + dedup compose per batch") {
    import spark.implicits._
    val corpusDir = Files.createTempDirectory("cur_corpus").toString
    val indexDir = Files.createTempDirectory("cur_index").toString
    val stats = new graft.streaming.CurateStream.CurateStats(spark)
    // >=20 diverse letter-only tokens pass every gate rule; the NFC/
    // case/whitespace canonicalization must run BEFORE dedup so the
    // case-mangled twin collides with its original
    // word lengths sit inside the gate's 4.0-5.2 mean band (the same
    // text the curation-gate test pins as passing)
    val good = "the quick brown fox jumps over azure lazy dog and then " +
      "runs far away into green fields of tall grass today"
    val b0 = Seq(
      (1L, good + " alpha"),
      (2L, "too short to pass"), // min_tokens gate drops it
      (3L, ("  " + good + " alpha ").toUpperCase)) // twin after canon
      .toDF("doc_id", "text")
    graft.streaming.CurateStream.processBatch(
      b0, 0L, corpusDir, indexDir, stats)
    assert(stats.seen.value == 3, "raw count")
    assert(stats.dedup.seen.value == 2, "gate must drop the short doc")
    assert(stats.dedup.kept.value == 1,
      "canonicalization must expose the case-mangled twin to dedup")
    val corpus = spark.read.parquet(corpusDir)
    assert(corpus.count() == 1
      && corpus.head().getAs[Long]("doc_id") == 1L)
    // corpus text is stored CANONICAL
    assert(corpus.head().getAs[String]("text") == good + " alpha")
    // replay from a fresh driver rewrites only its own partition
    val fresh = new graft.streaming.CurateStream.CurateStats(spark)
    graft.streaming.CurateStream.processBatch(
      b0, 0L, corpusDir, indexDir, fresh)
    assert(spark.read.parquet(corpusDir).count() == 1)
    // next batch screens against the index: another twin arrives, dies;
    // an unrelated gate-passing doc (no shared 5-shingles) survives
    val other = "the quick birds watch green apples and sweet pears " +
      "while many other foxes stroll past nearby trees today okay fine"
    graft.streaming.CurateStream.processBatch(
      Seq((9L, good + " alpha"), (10L, other)).toDF("doc_id", "text"),
      1L, corpusDir, indexDir, stats)
    assert(spark.read.parquet(corpusDir).count() == 2,
      "cross-batch twin not screened or fresh doc lost")
  }

  test("streaming curation decontam gate drops benchmark text at ingest") {
    import spark.implicits._
    import graft.ext.Curation
    val corpusDir = Files.createTempDirectory("cb_corpus").toString
    val indexDir = Files.createTempDirectory("cb_index").toString
    val stats = new graft.streaming.CurateStream.CurateStats(spark)
    val good = "the quick brown fox jumps over azure lazy dog and then " +
      "runs far away into green fields of tall grass today"
    val other = "the quick birds watch green apples and sweet pears " +
      "while many other foxes stroll past nearby trees today okay fine"
    // benchmark = the `good` text — but delivered NON-CANONICAL
    // (uppercase + loose whitespace), the shape a real eval set
    // arrives in: start()'s training normalization must make the
    // screen catch the canonicalized stream twin anyway. processBatch
    // is driven directly here, so normalize like start() does.
    graft.functions.GraftFunctions.register(spark)
    val bits = Curation.bloomState(
      Seq((0L, ("  " + good + "  ").toUpperCase, "en"))
        .toDF("doc_id", "text", "lang")
        .withColumn("text", Curation.normalizeText(col("text"))))
    // batch: a doc CONTAINING benchmark 5-grams (contaminated, passes
    // the quality gate) and a clean doc — only the clean one lands
    graft.streaming.CurateStream.processBatch(
      Seq((1L, good + " alpha"), (2L, other)).toDF("doc_id", "text"),
      0L, corpusDir, indexDir, stats, Some(bits))
    assert(stats.seen.value == 2)
    assert(stats.decontamDropped.value == 1,
      "the contaminated doc must die at the decontam gate")
    assert(stats.dedup.seen.value == 1 && stats.dedup.kept.value == 1)
    val corpus = spark.read.parquet(corpusDir)
    assert(corpus.select("doc_id").collect().map(_.getLong(0)).toSeq
      == Seq(2L), "only the clean doc reaches the corpus")
    // replay from a fresh driver: same single row, no double counting
    val fresh = new graft.streaming.CurateStream.CurateStats(spark)
    graft.streaming.CurateStream.processBatch(
      Seq((1L, good + " alpha"), (2L, other)).toDF("doc_id", "text"),
      0L, corpusDir, indexDir, fresh, Some(bits))
    assert(spark.read.parquet(corpusDir).count() == 1)
    // no-benchmark ingest is byte-identical to the pre-gate behavior
    // (the existing curation test covers it; here just the counter)
    assert(fresh.decontamDropped.value == 1)

    // end-to-end through start(): the attach path must (a) normalize
    // the RAW benchmark itself — an uppercase eval doc still screens
    // its canonicalized stream twin — and (b) release the persisted
    // position table when the query terminates
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val s2 = new graft.streaming.CurateStream.CurateStats(spark)
    val d2 = Files.createTempDirectory("cb2").toString
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    // the data lands before start: an AvailableNow query fixes its end
    // offset when it starts, so data added later may not be processed
    mem.addData((1L, good + " alpha"), (2L, other))
    val q = graft.streaming.CurateStream.start(
      mem.toDF().toDF("doc_id", "text"),
      s"$d2/corpus", s"$d2/index", s"$d2/ckpt", s2,
      org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      benchmark = Some(
        Seq((0L, ("  " + good + "  ").toUpperCase, "en"))
          .toDF("doc_id", "text", "lang")))
    q.awaitTermination(60000)
    assert(s2.decontamDropped.value == 1,
      "start() must train the Bloom on CANONICAL benchmark text")
    assert(spark.read.parquet(s"$d2/corpus")
      .select("doc_id").head().getLong(0) == 2L)
    // termination listeners fire asynchronously; wait for the release
    val deadline = System.currentTimeMillis() + 30000
    while (spark.sparkContext.getPersistentRDDs.size > cachedBefore
        && System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(spark.sparkContext.getPersistentRDDs.size <= cachedBefore,
      "the trained position table must unpersist when the query ends")
  }

  test("streaming dedup ingest: index screens batches; replay idempotent") {
    import spark.implicits._
    val corpusDir = Files.createTempDirectory("ded_corpus").toString
    val indexDir = Files.createTempDirectory("ded_index").toString
    val stats = new graft.streaming.DedupStream.DedupStats(spark)
    def docs(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")

    val varied = "many different interesting words compose this reasonably " +
      "long and varied document about engines and data pipelines"
    val other = "a second completely unrelated body of text covering " +
      "storage formats partitioning and shuffle behavior in depth"
    // batch 0: two distinct docs + an in-batch duplicate of doc 1
    // (exact text: the LSH screen catches it with certainty — the
    // near-dup S-curve itself is pinned in ExtSpec, not here)
    graft.streaming.DedupStream.processBatch(
      docs((1L, varied + " one"), (2L, other + " two"),
        (3L, varied + " one")),
      0L, corpusDir, indexDir, stats)
    assert(stats.seen.value == 3 && stats.kept.value == 2)
    assert(spark.read.parquet(corpusDir).select("doc_id").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L))

    // batch 1: a duplicate of indexed doc 1 plus a genuinely new doc
    val b1 = docs((4L, varied + " one"),
      (5L, "nothing here resembles anything stored in the corpus so far"))
    graft.streaming.DedupStream.processBatch(b1, 1L, corpusDir, indexDir,
      stats)
    assert(stats.seen.value == 5 && stats.kept.value == 3)
    assert(spark.read.parquet(corpusDir).select("doc_id").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L, 5L))

    // same-driver replay: skipped outright
    graft.streaming.DedupStream.processBatch(b1, 1L, corpusDir, indexDir,
      stats)
    assert(stats.kept.value == 3)

    // recovery replay (fresh driver, partial state on disk): the batch
    // must not collide with its own first attempt's index partition
    val fresh = new graft.streaming.DedupStream.DedupStats(spark)
    fresh.lastCommitted = 0L
    graft.streaming.DedupStream.processBatch(b1, 1L, corpusDir, indexDir,
      fresh)
    assert(spark.read.parquet(corpusDir).select("doc_id").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L, 5L)) // overwritten, not doubled
    assert(spark.read.parquet(indexDir).select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 5L))

    // BatchIndex compaction: per-batch partitions fold into batch_id=-1
    // and the compacted index still screens later batches
    val (cBefore, cAfter) = BatchIndex.compact(spark,
      graft.streaming.DedupStream.BandIndex, indexDir).get
    assert(cAfter == cBefore) // bands unique per doc: pure folding
    assert(spark.read.parquet(indexDir).select("batch_id").distinct()
      .collect().map(_.getAs[Number]("batch_id").longValue()).toSet
      == Set(-1L))
    val b2 = docs((6L, varied + " one"),
      (7L, "a closing paragraph sharing no vocabulary with the corpus"))
    graft.streaming.DedupStream.processBatch(b2, 2L, corpusDir, indexDir,
      stats)
    assert(spark.read.parquet(corpusDir).select("doc_id").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L, 5L, 7L))

    // compaction crash window: preserve batch 2's partition across a
    // second compaction, then restore it — exactly the state a
    // compaction leaves when it dies between its promote and its
    // per-partition deletes (fold rows AND their superseded batch rows
    // both visible). This index serves by DISTINCT band lookup (not by
    // summing), so the duplicates must be decision-neutral: the next
    // batch's screen drops the same twins and keeps the same fresh
    // docs as against a clean index
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    // batch 2's rows live under band_bucket=*/batch_id=2 (the bucketed
    // layout) — save and restore every bucket's slice of the batch
    val savedRoot = new org.apache.hadoop.fs.Path(
      Files.createTempDirectory("saved_b2").toString)
    val b2Dirs = fs.listStatus(new org.apache.hadoop.fs.Path(indexDir))
      .filter(s => s.isDirectory
        && s.getPath.getName.startsWith("band_bucket="))
      .map(s => new org.apache.hadoop.fs.Path(s.getPath, "batch_id=2"))
      .filter(fs.exists)
    assert(b2Dirs.nonEmpty, "expected batch 2 partitions to save")
    def mirror(d: org.apache.hadoop.fs.Path) =
      new org.apache.hadoop.fs.Path(savedRoot,
        s"${d.getParent.getName}/batch_id=2")
    b2Dirs.foreach(d => org.apache.hadoop.fs.FileUtil.copy(fs, d, fs,
      mirror(d), false, spark.sparkContext.hadoopConfiguration))
    BatchIndex.compact(spark, graft.streaming.DedupStream.BandIndex,
      indexDir)
    b2Dirs.foreach(d => org.apache.hadoop.fs.FileUtil.copy(fs,
      mirror(d), fs, d, false,
      spark.sparkContext.hadoopConfiguration))
    assert(spark.read.parquet(indexDir).select("batch_id").distinct()
      .collect().map(_.getAs[Number]("batch_id").longValue()).toSet
      == Set(-1L, 2L), "crash-window state not reproduced")
    graft.streaming.DedupStream.processBatch(
      docs((8L, varied + " one"), // twin of indexed doc 1 again
        (9L, "fresh closing words appearing nowhere else in this stream")),
      3L, corpusDir, indexDir, stats)
    assert(spark.read.parquet(corpusDir).select("doc_id").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L, 5L, 7L, 9L),
      "duplicate index rows from a crashed compaction changed decisions")
  }

  test("band-bucketed index: a trigger's read prunes to its hit buckets (audited)") {
    import spark.implicits._
    import graft.streaming.{BatchIndex, DedupStream}
    val corpusDir = Files.createTempDirectory("bb_corpus").toString
    val indexDir = Files.createTempDirectory("bb_index").toString
    val stats = new DedupStream.DedupStats(spark)
    def docs(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    // a corpus of 60 distinct docs: 60×16 band hashes spread over the
    // 64 buckets, so essentially every bucket holds rows
    val rnd = new scala.util.Random(7)
    val corpus = (1L to 60L).map(i => (i, s"anchor$i " +
      Seq.fill(30)(s"w${rnd.nextInt(100000)}").mkString(" ")))
    DedupStream.processBatch(docs(corpus: _*), 0L, corpusDir, indexDir,
      stats)
    val allBuckets = spark.read.parquet(indexDir)
      .select("band_bucket").distinct().count()
    assert(allBuckets > 32L, s"corpus spread too narrow: $allBuckets")
    // a ONE-doc trigger hits at most its 16 band-hash buckets — the
    // pruned read must touch only those partitions, not the index
    val b = docs((100L, corpus.head._2 + " twin"))
    val bands = graft.ext.Dedup.bandTable(b)
    val hit = bands.select(DedupStream.bandBucket.as("b")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(hit.size <= 16, s"one doc spans ${hit.size} buckets")
    val pruned = BatchIndex.readBeforeBuckets(spark, indexDir, 1L,
      Seq("doc_id", "band_idx", "band_hash"), bands.limit(0),
      "band_bucket", hit.toSeq)
    val scannedBuckets = spark.read.parquet(indexDir)
      .filter(col("band_bucket").isin(hit.toSeq: _*)
        && col("batch_id") < 1L)
      .select(input_file_name().as("f")).distinct()
      .collect().map(_.getString(0))
      .flatMap("band_bucket=(\\d+)".r.findFirstMatchIn(_)
        .map(_.group(1).toLong)).toSet
    assert(scannedBuckets.subsetOf(hit),
      s"read outside hit buckets: ${scannedBuckets -- hit}")
    assert(scannedBuckets.size < allBuckets,
      "pruning must skip partitions the batch cannot match")
    // pruning is lossless for the screen: the pruned read joins to the
    // same candidate set as a full-index read
    val full = BatchIndex.readBefore(spark, indexDir, 1L,
      Seq("doc_id", "band_idx", "band_hash"), bands.limit(0))
    def cands(idx: org.apache.spark.sql.DataFrame) =
      idx.join(bands.select("band_idx", "band_hash").distinct(),
          Seq("band_idx", "band_hash"))
        .select("doc_id").distinct()
        .collect().map(_.getLong(0)).toSet
    assert(cands(pruned) == cands(full) && cands(pruned).contains(1L))
  }

  test("streaming DQ monitor: replay is idempotent; aliases resolve business names") {
    import spark.implicits._
    val resDir = Files.createTempDirectory("dqres2").toString
    val suite = graft.dq.DqSuite.customersBusinessSuite
    val stats = new graft.streaming.DqMonitor.DqStreamStats(spark, suite)
    val now = System.currentTimeMillis()
    // technical-named curated frame; the business-named suite only works
    // through the FieldMappings alias projection
    val batch = EventPipeline.curate(EventPipeline.parse(Seq(
      eventJson("c1", "good@example.com", now),
      eventJson("c2", "bad-email", now)).toDF("value")))

    def emailRegexFails(s: graft.streaming.DqMonitor.DqStreamStats) =
      s.summary.collectFirst {
        case ("expect_column_values_to_match_regex", "customer_email", _, f)
          => f }.get

    graft.streaming.DqMonitor.processDqBatch(batch, 0L, stats, resDir,
      graft.dq.DqSuite.FieldMappings)
    assert(emailRegexFails(stats) == 1L) // c2's bad-email, by business name
    val n = spark.read.parquet(resDir).count()

    // same-driver replay: skipped outright
    graft.streaming.DqMonitor.processDqBatch(batch, 0L, stats, resDir,
      graft.dq.DqSuite.FieldMappings)
    assert(emailRegexFails(stats) == 1L)
    assert(spark.read.parquet(resDir).count() == n)

    // recovery replay (fresh driver): partition overwritten, not appended
    val fresh = new graft.streaming.DqMonitor.DqStreamStats(spark, suite)
    graft.streaming.DqMonitor.processDqBatch(batch, 0L, fresh, resDir,
      graft.dq.DqSuite.FieldMappings)
    assert(spark.read.parquet(resDir).count() == n)
  }

  test("DQ monitor alerts through the severity ladder, once per batch") {
    import spark.implicits._
    val resDir = Files.createTempDirectory("dqres3").toString
    val suite = graft.dq.DqSuite.customersSuite
    val stats = new graft.streaming.DqMonitor.DqStreamStats(spark, suite)
    val rec = new graft.ops.PipelineRun.RecordingNotifier
    val now = T0
    val batch = EventPipeline.curate(EventPipeline.parse(Seq(
      eventJson("c1", "good@example.com", now),
      eventJson("c2", "bad-email", now)).toDF("value")))
    graft.streaming.DqMonitor.processDqBatch(batch, 0L, stats, resDir,
      notifier = Some(rec))
    assert(rec.sent.size == 1)
    val (sev, msg) = rec.sent.head
    // check-level failure rate is small here -> ladder says warning/info
    assert(Set("info", "warning", "error", "critical")(sev))
    assert(msg.contains("Data Quality Issue") &&
      msg.contains("validation_failure") && msg.contains("batch 0"))
    // replay: no duplicate alert (same high-water-mark gate as the write)
    graft.streaming.DqMonitor.processDqBatch(batch, 0L, stats, resDir,
      notifier = Some(rec))
    assert(rec.sent.size == 1)
    // batch 1 alerts once (suite-level expectations like row-count can
    // fail on a tiny batch); its replay adds nothing — the alert gate is
    // the same high-water mark as the write
    val b1 = EventPipeline.curate(EventPipeline.parse(Seq(
      eventJson("c3", "fine@example.com", now)).toDF("value")))
    graft.streaming.DqMonitor.processDqBatch(b1, 1L, stats, resDir,
      notifier = Some(rec))
    val afterB1 = rec.sent.size
    graft.streaming.DqMonitor.processDqBatch(b1, 1L, stats, resDir,
      notifier = Some(rec))
    assert(rec.sent.size == afterB1)
  }

  test("streaming postings ingest: batches searchable, replay idempotent") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val idx = Files.createTempDirectory("postidx").toString
    graft.ext.Search.writeSearchIndex(
      Seq((0L, "spark join")).toDF("doc_id", "text"), idx)
    def hits(ts: String*) = graft.ext.Search.searchAll(spark, idx, ts)
      .collect().map(_.getLong(0)).toSet

    val mem = MemoryStream[(Long, String)]
    val ckpt = Files.createTempDirectory("postckpt").toString
    mem.addData((1L, "spark window"), (2L, "table scan"))
    val q = MicroBatch.start(
      mem.toDF().toDF("doc_id", "text"), ckpt, Trigger.AvailableNow())(
      graft.streaming.SearchStream.processBatch(_, _, idx))
    q.awaitTermination(60000)
    assert(hits("spark") == Set(0L, 1L))
    assert(hits("table", "scan") == Set(2L))

    // recovery replay of the same micro-batch: rewrites its own
    // (bucket, batch_id) partitions, no doubling
    val n = spark.read.parquet(s"$idx/postings").count()
    graft.streaming.SearchStream.processBatch(
      Seq((1L, "spark window"), (2L, "table scan")).toDF("doc_id", "text"),
      0L, idx)
    assert(spark.read.parquet(s"$idx/postings").count() == n)
    assert(hits("spark") == Set(0L, 1L))

    // a later run on the same checkpoint gets the next batch id; the
    // readers see base + both streamed levels transparently
    mem.addData((3L, "spark join window"))
    val q2 = MicroBatch.start(
      mem.toDF().toDF("doc_id", "text"), ckpt, Trigger.AvailableNow())(
      graft.streaming.SearchStream.processBatch(_, _, idx))
    q2.awaitTermination(60000)
    assert(hits("spark", "join") == Set(0L, 3L))
    assert(spark.read.parquet(s"$idx/postings")
      .select("batch_id").distinct().count() == 3)
    // the doc-length component tracked every streamed batch, so BM25
    // serves stream-ingested docs from the same artifact
    assert(spark.read.parquet(s"$idx/doclen").count() == 4L)
    val bm25Before = graft.ext.Search.bm25Served(spark, idx,
        Seq("spark")).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
      .toSet

    // maintenance: healthy layout reports without compacting; a forced
    // compaction folds BOTH components into batch_id=-1 and serving
    // (term hits AND BM25 scores, doclen included) is bit-identical
    val m0 = BatchIndex.maintain(spark,
      graft.streaming.SearchStream.PostingsIndex, idx).get
    assert(m0.compacted.isEmpty, s"${m0.report}")
    val (pb, pa) = BatchIndex.compact(spark,
      graft.streaming.SearchStream.PostingsIndex, idx).get
    assert(pb == pa, "postings rows are unique per (token, doc, batch)")
    assert(spark.read.parquet(s"$idx/postings").select("batch_id")
      .distinct().collect().map(_.getAs[Number](0).longValue()).toSet
      == Set(-1L))
    assert(spark.read.parquet(s"$idx/doclen").select("batch_id")
      .distinct().collect().map(_.getAs[Number](0).longValue()).toSet
      == Set(-1L))
    assert(hits("spark") == Set(0L, 1L, 3L))
    assert(hits("spark", "join") == Set(0L, 3L))
    assert(graft.ext.Search.bm25Served(spark, idx, Seq("spark"))
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
      .toSet == bm25Before, "compaction must not move BM25 scores")
    // post-compact ingest still lands and serves
    graft.streaming.SearchStream.processBatch(
      Seq((7L, "spark streaming")).toDF("doc_id", "text"), 9L, idx)
    assert(hits("spark").contains(7L))

    // replay of a FOLDED batch (bounded stop before the checkpoint
    // commit, restart re-runs it): its partitions re-land next to the
    // fold's copies, and BM25 sums tf / counts df / reads dl over the
    // index — without the folded_through screen every replayed row
    // would double those aggregates
    val bm25AfterIngest = graft.ext.Search.bm25Served(spark, idx,
        Seq("spark")).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
      .toSet
    graft.streaming.SearchStream.processBatch(
      Seq((1L, "spark window"), (2L, "table scan"))
        .toDF("doc_id", "text"), 0L, idx)
    assert(spark.read.parquet(s"$idx/doclen")
      .filter(col("doc_id") === 1L).count() == 2L,
      "the replayed partition must be ON DISK next to the fold")
    assert(hits("spark") == Set(0L, 1L, 3L, 7L))
    assert(graft.ext.Search.bm25Served(spark, idx, Seq("spark"))
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
      .toSet == bm25AfterIngest,
      "replayed folded batch double-served BM25 tf/df/dl")
    // re-running the compaction over the crash-window state folds
    // cleanly (the screen runs inside the fold too)
    BatchIndex.compact(spark, graft.streaming.SearchStream.PostingsIndex,
      idx)
    assert(graft.ext.Search.bm25Served(spark, idx, Seq("spark"))
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
      .toSet == bm25AfterIngest)
  }

  // the observed bucket count is the layout scan's own per-bucket
  // rollup, so a maintain pass is its components' scans and nothing more
  test("search maintain pass: its jobs are the two layout scans, no distinct-count job") {
    import spark.implicits._
    import graft.streaming.SearchStream
    val idx = Files.createTempDirectory("postjobs").toString
    graft.ext.Search.writeSearchIndex(
      Seq((0L, "spark join")).toDF("doc_id", "text"), idx)
    (0L to 2L).foreach(b => SearchStream.processBatch(
      Seq((b + 1, s"spark w$b")).toDF("doc_id", "text"), b, idx))
    val ctx = spark.sparkContext
    // (jobs started, SQL actions run) while `body` runs
    def measure(body: => Unit): (Int, Seq[String]) = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val actions = new java.util.concurrent.ConcurrentLinkedQueue[String]
      val onJob = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      }
      val onExec = new org.apache.spark.sql.util.QueryExecutionListener {
        def onSuccess(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            ns: Long): Unit = { actions.add(f); () }
        def onFailure(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            e: Exception): Unit = { actions.add(f); () }
      }
      org.apache.spark.GraftListenerBus.drain(ctx)
      ctx.addSparkListener(onJob)
      spark.listenerManager.register(onExec)
      try { body; org.apache.spark.GraftListenerBus.drain(ctx) }
      finally {
        ctx.removeSparkListener(onJob)
        spark.listenerManager.unregister(onExec)
      }
      (jobs.get, actions.asScala.toSeq)
    }
    def only(c: BatchIndex.Component) =
      BatchIndex.Index(Seq(c), resizable = true)
    val Seq(postings, doclen) = SearchStream.PostingsIndex.components
    var m: Option[BatchIndex.Maintenance] = None
    val (passJobs, passActions) = measure {
      m = BatchIndex.maintain(spark, SearchStream.PostingsIndex, idx)
    }
    assert(m.get.compacted.isEmpty, s"${m.get.report}")
    // one action per component scan, no count
    assert(passActions == Seq("head", "head"), s"$passActions")
    val (postingsJobs, _) =
      measure(BatchIndex.report(spark, only(postings), idx))
    val (doclenJobs, _) = measure(BatchIndex.report(spark, only(doclen), idx))
    assert(passJobs == postingsJobs + doclenJobs,
      s"pass $passJobs jobs vs scans $postingsJobs + $doclenJobs")
    // the rollup's group count is the distinct bucket count
    assert(m.get.report.buckets == spark.read.parquet(s"$idx/postings")
      .select("bucket").distinct().count())
  }

  test("anomaly monitor folds batches idempotently and alerts once per hour") {
    import spark.implicits._
    import graft.streaming.AnomalyMonitor
    val countsDir = Files.createTempDirectory("anom").toString + "/counts"
    val stats = new AnomalyMonitor.AnomalyStats
    val rec = new graft.ops.PipelineRun.RecordingNotifier
    def ev(ms: Seq[Long]) = ms.toDF("ms")
      .select(timestamp_millis(col("ms")).as("ts"))

    // batch 0: hours 0..7 alternate 1/2 events — a quiet baseline (hour
    // 7 is the open hour, hours 4..6 score normal)
    val base = (0 to 7).flatMap { h =>
      (0 until (if (h % 2 == 0) 1 else 2)).map(i => h * 3600000L + i)
    }
    AnomalyMonitor.processBatch(ev(base), 0L, countsDir, stats,
      Some(rec), lookback = 4)
    assert(rec.sent.isEmpty)
    assert(stats.lastCommitted == 0L)

    // batch 1: hour 8 floods (40 events), hour 9 opens so 8 closes
    val spike = (0 until 40).map(i => 8 * 3600000L + i) :+ 9 * 3600000L
    AnomalyMonitor.processBatch(ev(spike), 1L, countsDir, stats,
      Some(rec), lookback = 4)
    assert(rec.sent.size == 1)
    val (sev, msg) = rec.sent.head
    assert(sev == "critical") // z far beyond 2× the threshold
    assert(msg.contains("hour_id=8") && msg.contains("n=40"))

    // same-driver replay: gated on the high-water mark — no re-fold, no
    // duplicate alert
    val n = spark.read.parquet(countsDir).count()
    AnomalyMonitor.processBatch(ev(spike), 1L, countsDir, stats,
      Some(rec), lookback = 4)
    assert(rec.sent.size == 1)
    assert(spark.read.parquet(countsDir).count() == n)

    // recovery replay (fresh driver): batch 1 rewrites its own partition
    // — the count log never double-counts
    val fresh = new AnomalyMonitor.AnomalyStats
    fresh.lastCommitted = 0L
    AnomalyMonitor.processBatch(ev(spike), 1L, countsDir, fresh,
      None, lookback = 4)
    assert(spark.read.parquet(countsDir).count() == n)

    // batch 2 adds a normal hour 9 tail + opens hour 10: hour 8 is
    // already alerted-through, hour 9 is normal — silence
    val tail = Seq(9 * 3600000L + 1, 10 * 3600000L)
    AnomalyMonitor.processBatch(ev(tail), 2L, countsDir, stats,
      Some(rec), lookback = 4)
    assert(rec.sent.size == 1)
    assert(stats.alertsSent == 1L)
  }

  test("media fp maintenance hook: multi-level diagnostics drive the compact; absent root is a no-op") {
    import spark.implicits._
    import graft.ext.Multimodal
    import graft.streaming.{BatchIndex, MediaDedupStream}
    val corpusDir = Files.createTempDirectory("mfm_corpus").toString
    val indexDir = Files.createTempDirectory("mfm_index").toString
    assert(BatchIndex.maintain(spark, Multimodal.MediaFpIndex, indexDir)
        .isEmpty,
      "no index yet → nothing to maintain")
    val stats = new MediaDedupStream.MediaStats(spark)
    // 18 one-image batches, ids ≡ 3 (mod MediaFpBuckets) so every
    // fingerprint lands in ONE (modality, bucket) partition and its
    // batch levels track the batch count past CompactAfterLevels
    (0 until 18).foreach { i =>
      val id = 3L + i * Multimodal.MediaFpBuckets
      MediaDedupStream.processBatch(
        Seq((id, Multimodal.pngHashPayload(id))).toDF("doc_id", "payload"),
        i.toLong, corpusDir, indexDir, stats)
    }
    val rowsBefore = spark.read
      .parquet(s"${graft.ext.Versioned.resolve(spark, indexDir)}/data")
      .count()
    val m = BatchIndex.maintain(spark, Multimodal.MediaFpIndex, indexDir).get
    assert(m.report.maxLevelsPerBucket > BatchIndex.CompactAfterLevels,
      s"${m.report}")
    assert(m.compacted.isDefined, "the cadence must RUN the compact")
    // result-neutral fold; post-compact diagnostics healthy; the
    // stream still screens (a twin of an indexed doc is rejected)
    val root = graft.ext.Versioned.resolve(spark, indexDir)
    assert(spark.read.parquet(s"$root/data").count() == rowsBefore)
    val m2 =
      BatchIndex.maintain(spark, Multimodal.MediaFpIndex, indexDir).get
    assert(m2.compacted.isEmpty && m2.report.batchLevels == 1L,
      s"${m2.report}")
    val twinOf3 = 3L // pngHashPayload(3) again under a fresh id? ids
    // are identities — send the SAME image bytes under a NEW id: the
    // perceptual screen must drop it against the compacted index
    MediaDedupStream.processBatch(
      Seq((9999L + twinOf3, Multimodal.pngHashPayload(twinOf3)))
        .toDF("doc_id", "payload"),
      18L, corpusDir, indexDir, stats)
    assert(!spark.read.parquet(corpusDir).select("doc_id").collect()
      .map(_.getLong(0)).contains(9999L + twinOf3),
      "compacted index must still screen perceptual twins")
  }

  test("every persisting foreachBatch body releases its frames, failed or committed") {
    import spark.implicits._
    import org.apache.spark.util.LongAccumulator
    import graft.ext.{Curation, Multimodal}
    import graft.streaming._
    def dir(tag: String) = Files.createTempDirectory(tag).toString
    // a path under a regular file: a write there throws after the
    // batch has cached its frames
    def blocked(tag: String) = Files.createTempFile(tag, "").toString + "/x"
    def docs(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    val textA = (1 to 50).map(i => s"a$i").mkString(" ")
    val textB = (1 to 50).map(i => s"b$i").mkString(" ")
    val good = "the quick brown fox jumps over azure lazy dog and then " +
      "runs far away into green fields of tall grass today"
    val other = "the quick birds watch green apples and sweet pears " +
      "while many other foxes stroll past nearby trees today okay fine"
    val events = EventPipeline.curate(EventPipeline.parse(Seq(
      eventJson("c1", "good@example.com", T0),
      eventJson("c2", "bad-email", T0)).toDF("value")),
      lit(new java.sql.Timestamp(T0)))
    val rnd = new scala.util.Random(7)
    val vectors = (0L until 3L).map(i => (i, Seq.fill(64)(rnd.nextFloat())))
      .toDF("vec_id", "embedding")
    val sketchEvents = Seq((1L, 1L), (2L, 2L)).toDF("user_id", "d")
      .withColumn("ts", timestamp_millis(col("d") * 86400000L))
      .withColumn("event_type", lit("click"))
    val images = Seq((10L, Multimodal.pngHashPayload(10)),
      (20L, Multimodal.pngHashPayload(20))).toDF("doc_id", "payload")
    val mmDocs = Seq((1L, textA), (2L, textB), (3L, textA + " z"))
      .map { case (id, t) => (id, t, Multimodal.pngHashPayload(id)) }
      .toDF("doc_id", "text", "image_payload")
    val imageLeg = Seq(GraphStream.MediaLeg("image_payload", "image",
      Multimodal.imageFpFromPayload(_)))
    graft.functions.GraftFunctions.register(spark)
    val bench = Curation.bloomState(Seq((0L, good, "en"))
      .toDF("doc_id", "text", "lang"))
    bench.bits.persist().count() // serving state: owned by the caller
    // a position table that fails when the screen probes it: the
    // batch fails INSIDE the benchmark gate, between its two caches
    val badBench = Curation.BloomState(spark.range(1)
      .select(raise_error(lit("position table unreadable")).cast("long")
        .as("pos")), bench.mBits)
    val curateBatch = docs((1L, good + " alpha"), (2L, other))

    // (leg, its ledger and batch counter, its batch 0 run against an
    // output path: a blocked path fails the batch, a fresh one commits)
    type Leg = (MicroBatch.Ledger, LongAccumulator, String => Unit)
    val legs: Seq[(String, () => Leg)] = Seq(
      "EventPipeline" -> { () =>
        val s = new EventPipeline.RunStats(spark)
        (s, s.total, (q: String) => EventPipeline.processBatch(events,
          0L, dir("rel_main"), q, s))
      },
      "Dedup" -> { () =>
        val s = new DedupStream.DedupStats(spark)
        (s, s.seen, (c: String) => DedupStream.processBatch(
          docs((1L, textA), (2L, textA + " z")), 0L, c, dir("rel_i"), s))
      },
      "Embed" -> { () =>
        val s = new EmbedStream.EmbedStats(spark)
        (s, s.seen, (c: String) => EmbedStream.processBatch(vectors, 0L,
          c, dir("rel_i"), s))
      },
      "Novelty" -> { () =>
        val s = new NoveltyStream.NoveltyStats(spark)
        (s, s.seen, (r: String) => NoveltyStream.processBatch(
          docs((1L, "f1 f2 f3 f4"), (2L, "f1 f2 g3")), 0L, r,
          dir("rel_i"), s))
      },
      "Sketch" -> { () =>
        val s = new SketchStream.SketchStats(spark)
        (s, s.events,
          (i: String) => SketchStream.processBatch(sketchEvents, 0L, i, s))
      },
      "Curate with a benchmark" -> { () =>
        val s = new CurateStream.CurateStats(spark)
        (s.dedup, s.seen, (c: String) => CurateStream.processBatch(
          curateBatch, 0L, c, dir("rel_i"), s, Some(bench)))
      },
      "Media" -> { () =>
        val s = new MediaDedupStream.MediaStats(spark)
        (s, s.seen, (c: String) => MediaDedupStream.processBatch(images,
          0L, c, dir("rel_i"), s))
      },
      "Graph" -> { () =>
        val s = new GraphStream.GraphStats(spark)
        (s, s.seen, (c: String) => GraphStream.processBatch(mmDocs, 0L, c,
          dir("rel_b"), dir("rel_g"), s, imageLeg, Some(dir("rel_f"))))
      })
    def cached = spark.sparkContext.getPersistentRDDs.keySet
    def check(leg: String, ledger: MicroBatch.Ledger, n: LongAccumulator,
        fail: () => Unit, commit: () => Unit): Unit = {
      val before = cached
      intercept[Exception](fail())
      assert(ledger.lastCommitted == -1L && n.value == 0L,
        s"$leg: a failed batch committed or counted")
      assert((cached -- before).isEmpty,
        s"$leg: a failed batch must release what it cached")
      commit()
      assert(ledger.lastCommitted == 0L && n.value > 0L,
        s"$leg: the batch did not commit")
      assert((cached -- before).isEmpty,
        s"$leg: a committed batch must release what it cached")
    }
    legs.foreach { case (leg, make) =>
      val (ledger, n, run) = make()
      check(leg, ledger, n, () => run(blocked("rel_block")),
        () => run(dir("rel_out")))
    }
    // the Curate row that fails inside the benchmark gate
    val s = new CurateStream.CurateStats(spark)
    check("Curate failing in its gate", s.dedup, s.seen,
      () => CurateStream.processBatch(curateBatch, 0L, dir("rel_c"),
        dir("rel_i"), s, Some(badBench)),
      () => CurateStream.processBatch(curateBatch, 0L, dir("rel_c"),
        dir("rel_i"), s, Some(bench)))
    bench.bits.unpersist()
  }

  test("streaming media dedup: perceptual screen, reject gate, replay idempotent") {
    import spark.implicits._
    import graft.ext.Multimodal
    import graft.streaming.MediaDedupStream
    val corpusDir = Files.createTempDirectory("med_corpus").toString
    val indexDir = Files.createTempDirectory("med_index").toString
    val stats = new MediaDedupStream.MediaStats(spark)
    def img(id: Long) = Multimodal.pngHashPayload(id)
    def batchDf(rows: (Long, Array[Byte])*) =
      rows.toSeq.toDF("doc_id", "payload")
    def corpusIds = spark.read.parquet(corpusDir).select("doc_id")
      .collect().map(_.getLong(0)).toSet

    // batch 0: two distinct images, an IN-BATCH perceptual twin
    // (17's pixels are 10's with one channel nudged — different
    // BYTES), and an undecodable blob
    MediaDedupStream.processBatch(
      batchDf((10L, img(10)), (20L, img(20)), (17L, img(17)),
        (99L, "not a png".getBytes("UTF-8"))),
      0L, corpusDir, indexDir, stats)
    assert(stats.seen.value == 4 && stats.rejected.value == 1
      && stats.kept.value == 2)
    assert(corpusIds == Set(10L, 20L),
      "in-batch perceptual twin must drop (keep-first), blob rejected")

    // batch 1: a CROSS-BATCH twin of indexed 20, a genuinely new
    // image, and a byte-identical re-send of ingested 10 (Hamming 0
    // against its own index entry -> must not duplicate the corpus)
    val b1 = batchDf((27L, img(27)), (30L, img(30)), (10L, img(10)))
    MediaDedupStream.processBatch(b1, 1L, corpusDir, indexDir, stats)
    assert(stats.kept.value == 3)
    assert(corpusIds == Set(10L, 20L, 30L))

    // same-driver replay: skipped outright
    MediaDedupStream.processBatch(b1, 1L, corpusDir, indexDir, stats)
    assert(stats.kept.value == 3)

    // recovery replay (fresh driver, partial state on disk): the batch
    // rewrites its own partitions, never collides with its first try
    val fresh = new MediaDedupStream.MediaStats(spark)
    fresh.lastCommitted = 0L
    MediaDedupStream.processBatch(b1, 1L, corpusDir, indexDir, fresh)
    assert(corpusIds == Set(10L, 20L, 30L))
    assert(spark.read.parquet(s"$indexDir/data").select("doc_id")
      .distinct()
      .collect().map(_.getLong(0)).toSet == Set(10L, 20L, 30L))

    // compaction folds to batch_id=-1 and the index still screens
    val (mBefore, mAfter) = BatchIndex.compact(spark,
      graft.ext.Multimodal.MediaFpIndex, indexDir).get
    assert(mAfter == mBefore) // one fp row per doc, all unique
    MediaDedupStream.processBatch(
      batchDf((37L, img(37)), (40L, img(40))),
      2L, corpusDir, indexDir, stats)
    assert(corpusIds == Set(10L, 20L, 30L, 40L),
      "twin of 30 must screen against the compacted index")

    // an EMPTY micro-batch is a no-op (rate sources open with one —
    // the round-11 SketchStream lesson)
    val keptBefore = stats.kept.value
    MediaDedupStream.processBatch(batchDf(), 3L, corpusDir,
      indexDir, stats)
    assert(stats.kept.value == keptBefore
      && corpusIds == Set(10L, 20L, 30L, 40L))

    // takedown composes — and the CORPUS is the artifact that holds
    // the actual payload bytes, so a real takedown purges both: after
    // one propagate over corpus + index, doc 30's content is gone
    // everywhere, and a re-ingested perceptual twin of 30 (doc 37,
    // dropped above) is READMITTED — the screen has genuinely
    // forgotten the content
    import graft.ext.Takedown
    val ids = Seq(30L).toDF("doc_id")
    val out = Takedown.propagate(spark, ids,
      Takedown.PartitionedIndex("media_corpus", corpusDir, "doc_id",
        Seq("batch_id"))
        +: Multimodal.mediaFpTakedownArtifacts(spark, indexDir))
    assert(out.map(a => a.artifact -> a.rowsRemoved)
      == Seq("media_corpus" -> 1L, s"mediafp:$indexDir" -> 1L,
        s"mediafp_bands:$indexDir" -> 4L), out.toString)
    assert(out.forall(_.leftover == 0L))
    assert(!corpusIds.contains(30L), "payload bytes must be gone")
    MediaDedupStream.processBatch(batchDf((37L, img(37))), 4L,
      corpusDir, indexDir, stats)
    assert(corpusIds.contains(37L),
      "takedown of 30 must readmit its perceptual twin")
  }

  test("streaming graph maintenance: evidence lands per batch, labels ≡ rebuild, replay idempotent") {
    import spark.implicits._
    import graft.ext.{CorpusGraph, Dedup}
    import graft.streaming.GraphStream
    val corpusDir = Files.createTempDirectory("gs_corpus").toString
    val bandsDir = Files.createTempDirectory("gs_bands").toString
    val graphDir = Files.createTempDirectory("gs_graph").toString
    val stats = new GraphStream.GraphStats(spark)
    val textA = (1 to 50).map(i => s"a$i").mkString(" ")
    val textB = (1 to 50).map(i => s"b$i").mkString(" ")
    val textC = (1 to 50).map(i => s"c$i").mkString(" ")
    def docsDf(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")

    // batch 0 bootstraps the graph through the SAME append path (no
    // base build): in-batch twin (1,3)
    GraphStream.processBatch(
      docsDf((1L, textA), (2L, textB), (3L, textA + " z")),
      0L, corpusDir, bandsDir, graphDir, stats)
    assert(stats.pairs.value == 1L, s"pairs=${stats.pairs.value}")
    assert(CorpusGraph.readLabels(spark, graphDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
      == Map(1L -> 1L, 3L -> 1L))

    // batch 1: cross-batch twin of 2 (doc 10) + a second A-twin (12 —
    // pairs into BOTH standing A-docs) + an unrelated doc (11): every
    // doc lands (evidence-preserving, unlike DedupStream), components
    // grow by the bounded relabel
    val b1 = docsDf((10L, textB + " z"), (11L, textC),
      (12L, textA + " y"))
    GraphStream.processBatch(b1, 1L, corpusDir, bandsDir, graphDir,
      stats)
    val labels = CorpusGraph.readLabels(spark, graphDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 3L -> 1L, 12L -> 1L,
      2L -> 2L, 10L -> 2L), labels.toString)
    // all docs kept in the corpus — this leg records evidence, it
    // does not drop
    assert(spark.read.parquet(corpusDir).select("doc_id").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L, 3L, 10L, 11L, 12L))

    // ground truth: relabeling near-dup pairs recomputed from scratch
    // over the full stored corpus equals the incrementally-grown labels
    val full = spark.read.parquet(corpusDir).select("doc_id", "text")
    val rebuilt = Dedup.clusterLabels(
        Dedup.minhashNearDups(full).select("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == rebuilt, s"stream-grown != rebuild: $labels vs $rebuilt")
    // and the stored pair set is exactly the recomputed one
    assert(CorpusGraph.staleLabelCount(spark, graphDir) == 0L)

    // recovery replay of batch 1 (fresh driver): everything rewrites
    // its own partitions — pair rows, labels, corpus all unchanged
    val pairsBefore = CorpusGraph.readPairs(spark, graphDir)
      .collect().map(_.toSeq).toSet
    val fresh = new GraphStream.GraphStats(spark)
    fresh.lastCommitted = 0L
    GraphStream.processBatch(b1, 1L, corpusDir, bandsDir, graphDir,
      fresh)
    assert(CorpusGraph.readPairs(spark, graphDir)
      .collect().map(_.toSeq).toSet == pairsBefore)
    assert(CorpusGraph.readLabels(spark, graphDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == labels)
    assert(spark.read.parquet(corpusDir).count() == 6L)

    // pair partitions compact (streams stopped) without moving results
    val (pb, pa) =
      BatchIndex.compact(spark, CorpusGraph.PairIndex, graphDir).get
    assert(pb == pa, "stream batches held no duplicate pair rows")
    assert(CorpusGraph.readLabels(spark, graphDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == labels)
    assert(CorpusGraph.staleLabelCount(spark, graphDir) == 0L)

    // replay of a FOLDED batch (a bounded run stops mid-trigger; the
    // restart re-runs it): the re-landed partition sits NEXT to the
    // fold's copy on disk, and the per-bucket folded_through screen
    // keeps served evidence row-exact — without it every replayed
    // row would double the pair roll-ups
    def evidence(): Seq[(Long, Long, String)] =
      CorpusGraph.readPairs(spark, graphDir).collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
          r.getAs[String]("modality"))).toSeq.sorted
    val evFolded = evidence()
    assert(evFolded.size == pa.toInt, "fold must serve every pair once")
    val replayed = new GraphStream.GraphStats(spark)
    replayed.lastCommitted = 0L
    GraphStream.processBatch(b1, 1L, corpusDir, bandsDir, graphDir,
      replayed)
    assert(evidence() == evFolded,
      "replayed folded batch double-served pair evidence")
    assert(CorpusGraph.staleLabelCount(spark, graphDir) == 0L)
    // re-running the compaction over the crash-window state (fold +
    // superseded batch dir both on disk) folds cleanly: the screen
    // runs inside the fold too
    val (_, pa2) =
      BatchIndex.compact(spark, CorpusGraph.PairIndex, graphDir).get
    assert(pa2 == pa && evidence() == evFolded,
      "re-run compaction duplicated superseded pair rows")

    // re-sent id across batches: doc 1 arrives AGAIN next to a
    // genuinely new near-dup of 11 — the re-send is dropped (one
    // corpus row, no doubled shingles, no duplicate pair evidence),
    // the new doc ingests and pairs normally
    val b2 = docsDf((1L, textA), (20L, textC + " q"))
    GraphStream.processBatch(b2, 2L, corpusDir, bandsDir, graphDir,
      fresh)
    assert(fresh.resent.value == 1L, s"resent=${fresh.resent.value}")
    assert(spark.read.parquet(corpusDir)
      .filter(col("doc_id") === 1L).count() == 1L,
      "a re-sent id must not land a second corpus row")
    val labels2 = CorpusGraph.readLabels(spark, graphDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels2 == labels ++ Map(11L -> 11L, 20L -> 11L),
      s"$labels2")
    // no duplicate (1,*) evidence rows appeared under batch 2
    assert(CorpusGraph.readPairs(spark, graphDir)
      .filter((col("doc_a") === 1L || col("doc_b") === 1L)
        && col("batch_id") === 3L).count() == 0L)
    assert(CorpusGraph.staleLabelCount(spark, graphDir) == 0L)

    // fold BOUND: an interrupted trigger leaves bands on disk with no
    // pair evidence (stop() lands the band write, not the append); a
    // bounded compact (foldThrough = last committed stored id) must
    // leave that partition under its own batch_id — folding it into
    // -1 would make the replay's `batch_id < storedId` resend probe
    // see the first attempt, classify the docs re-sent, and the
    // batch's pairs would silently never exist
    val textD = (1 to 50).map(i => s"d$i").mkString(" ")
    val b3 = docsDf((40L, textD), (41L, textD + " q"))
    val bandB = graft.streaming.BatchIndex.bucketCountOf(spark,
      bandsDir, graft.streaming.DedupStream.bandBucketCount)
    graft.streaming.BatchIndex.writePartition(
      Dedup.bandTable(b3).withColumn("band_bucket",
        graft.streaming.DedupStream.bandBucketAt(bandB)),
      4L, bandsDir, bucketCol = Some("band_bucket"))
    BatchIndex.compact(spark, graft.streaming.DedupStream.BandIndex,
      bandsDir, foldThrough = 3L)
    assert(spark.read.parquet(bandsDir).select("batch_id").distinct()
      .collect().map(_.getAs[Number](0).longValue()).toSet
      == Set(-1L, 4L), "bounded fold must keep the in-flight partition")
    val rep = new GraphStream.GraphStats(spark)
    rep.lastCommitted = 2L
    GraphStream.processBatch(b3, 3L, corpusDir, bandsDir, graphDir, rep)
    assert(rep.resent.value == 0L,
      "replay must not see its own first attempt as stored")
    val labels3 = CorpusGraph.readLabels(spark, graphDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels3.get(40L).contains(40L)
      && labels3.get(41L).contains(40L), s"$labels3")
    assert(CorpusGraph.staleLabelCount(spark, graphDir) == 0L)
  }

  test("forced-route mid-stream append: labels ≡ rebuild, route + touched audit surfaced in GraphStats") {
    import spark.implicits._
    import graft.ext.{CorpusGraph, Dedup}
    import graft.streaming.GraphStream
    val corpusDir = Files.createTempDirectory("gsr_corpus").toString
    val bandsDir = Files.createTempDirectory("gsr_bands").toString
    val graphDir = Files.createTempDirectory("gsr_graph").toString
    val stats = new GraphStream.GraphStats(spark)
    val textA = (1 to 50).map(i => s"a$i").mkString(" ")
    val textB = (1 to 50).map(i => s"b$i").mkString(" ")
    def docsDf(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")

    // batch 0: bootstrap — trigger-sized appends never price the
    // graph, so nothing routes and no ratio is recorded
    GraphStream.processBatch(
      docsDf((1L, textA), (2L, textB), (3L, textA + " z")),
      0L, corpusDir, bandsDir, graphDir, stats)
    assert(stats.routedAppends.value == 0L)
    assert(stats.maxTouchedRatio == 0.0)
    assert(stats.lastAppend != null && !stats.lastAppend.routedFullRelabel)
    assert(stats.lastAppend.graphMembers == -1L,
      "an unpriced append must not have paid a label-table count")

    // batch 1 lands in the A component with the routing seams forced:
    // the append takes the full-relabel route mid-stream, the stat
    // increments, and the opt-in per-ingest touched audit runs clean
    val savedMin = CorpusGraph.routeMinMembers
    val savedFrac = CorpusGraph.routeFraction
    try {
      CorpusGraph.routeMinMembers = 0L
      CorpusGraph.routeFraction = 0.0
      GraphStream.processBatch(docsDf((12L, textA + " y")), 1L,
        corpusDir, bandsDir, graphDir, stats, auditTouched = true)
    } finally {
      CorpusGraph.routeMinMembers = savedMin
      CorpusGraph.routeFraction = savedFrac
    }
    assert(stats.routedAppends.value == 1L)
    assert(stats.lastAppend.routedFullRelabel)
    assert(stats.maxTouchedRatio == 1.0,
      s"touched the whole 2-member graph: ${stats.maxTouchedRatio}")
    assert(stats.touchedAudits.value == 1L)
    assert(stats.auditStale.value == 0L)

    // the routed labels equal a from-scratch rebuild over the corpus
    val labels = CorpusGraph.readLabels(spark, graphDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = spark.read.parquet(corpusDir).select("doc_id", "text")
    val rebuilt = Dedup.clusterLabels(
        Dedup.minhashNearDups(full).select("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == rebuilt, s"routed != rebuild: $labels vs $rebuilt")
    assert(CorpusGraph.staleLabelCount(spark, graphDir) == 0L)
  }

  test("stream leg extends the BATCH fingerprint index: one artifact serves both ingest paths") {
    import spark.implicits._
    import graft.ext.Multimodal
    import graft.streaming.MediaDedupStream
    val docs = Tables(spark, Sf0001).documents
    val corpusDir = Files.createTempDirectory("uni_corpus").toString
    val idx = Files.createTempDirectory("uni_idx").toString
    // BATCH base build (all three modalities, batch_id=0) over two docs
    Multimodal.writeMediaFpIndex(
      docs.filter(col("doc_id").isin(10L, 20L)), idx)
    // STREAM a batch into the SAME artifact: 17 is the planted
    // perceptual twin of base-indexed 10 — the cross-path screen must
    // drop it; 30 is new and must land as a stream fingerprint
    val stats = new MediaDedupStream.MediaStats(spark)
    MediaDedupStream.processBatch(
      Seq((17L, Multimodal.pngHashPayload(17L)),
        (30L, Multimodal.pngHashPayload(30L))).toDF("doc_id", "payload"),
      0L, corpusDir, idx, stats)
    assert(stats.kept.value == 1,
      "twin of a BATCH-indexed doc must screen out of the stream")
    assert(spark.read.parquet(corpusDir).select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(30L))
    // the stream-appended fingerprint is bit-identical to what the
    // batch decode path would store — one decode, one artifact
    val streamRow = spark.read.parquet(s"$idx/data")
      .filter(col("modality") === "image" && col("doc_id") === 30L)
      .select("fp_lo", "fp_hi").head()
    val batchRow = Multimodal.mediaFingerprints(
        docs.filter(col("doc_id") === 30L), "image")
      .select("fp_lo", "fp_hi").head()
    assert(streamRow == batchRow,
      "stream and batch decode paths must store identical fingerprints")
    // every BATCH served screen reads base + streamed levels from the
    // one artifact — with zero payload decode (3 longs per doc)
    assert(Multimodal.readMediaFpIndex(spark, idx)
      .filter(col("modality") === "image").select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet == Set(10L, 20L, 30L))
    assert(Multimodal.mediaNearDupsServed(spark, idx, "image")
      .count() == 0L, "survivor set has no residual near-pairs")
    // and ONE artifact (data + band sidecar) covers both ingest paths
    import graft.ext.Takedown
    val out = Takedown.propagate(spark, Seq(30L).toDF("doc_id"),
      Multimodal.mediaFpTakedownArtifacts(spark, idx))
    assert(out.map(_.rowsRemoved) == Seq(1L, 4L), out.toString)
    assert(out.forall(_.leftover == 0L))
  }

  test("media band sidecar: a trigger's screen reads only its hit band buckets (audited)") {
    import graft.ext.Multimodal
    val idx = Files.createTempDirectory("mb_idx").toString
    val base = Tables(spark, Sf0001).documents
      .filter(col("doc_id") < 80)
    Multimodal.writeMediaFpIndex(base, idx)
    val allBuckets = spark.read.schema(Multimodal.MediaBandSchema)
      .parquet(s"$idx/bands")
      .filter(col("modality") === "image")
      .select("band_bucket").distinct().count()
    assert(allBuckets > 16L, s"spread too narrow: $allBuckets")
    // a one-image trigger hits at most its 4 band buckets
    val batFps = Multimodal.mediaFingerprints(
        base.filter(col("doc_id") === 3L), "image")
      .filter(col("decoded")).select("doc_id", "fp_lo", "fp_hi")
    val bands = Multimodal.fpBands(batFps)
    val hit = bands
      .select(Multimodal.mediaBandBucket.as("b")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(hit.nonEmpty && hit.size <= 4, s"hit=$hit")
    val pruned = Multimodal.mediaFpBandsPruned(spark, idx, "image",
      hit.toSeq, beforeBatch = 1L)
      .getOrElse(fail("sidecar must exist on a fresh base build"))
    val scannedBuckets = spark.read
      .schema(Multimodal.MediaBandSchema).parquet(s"$idx/bands")
      .filter(col("modality") === "image"
        && col("band_bucket").isin(hit.toSeq: _*)
        && col("batch_id") < 1L)
      .select(input_file_name().as("f")).distinct()
      .collect().map(_.getString(0))
      .flatMap("band_bucket=(\\d+)".r.findFirstMatchIn(_)
        .map(_.group(1).toLong)).toSet
    assert(scannedBuckets.subsetOf(hit),
      s"read outside hit buckets: ${scannedBuckets -- hit}")
    assert(scannedBuckets.size < allBuckets,
      "pruning must skip band buckets the trigger cannot match")
    // lossless: candidates from the pruned read equal candidates from
    // bands derived off the full modality slice (the fallback path)
    def cands(idxBands: org.apache.spark.sql.DataFrame) =
      idxBands.join(bands.select("band_idx", "band_val").distinct(),
          Seq("band_idx", "band_val"))
        .select("doc_id").distinct().collect()
        .map(_.getLong(0)).toSet
    val full = Multimodal.fpBands(
      Multimodal.readMediaFpIndex(spark, idx)
        .filter(col("modality") === "image" && col("decoded"))
        .select("doc_id", "fp_lo", "fp_hi"))
    assert(cands(pruned) == cands(full) && cands(pruned).contains(3L))
  }

  test("streaming media dedup ingests video clips through the same screen") {
    import spark.implicits._
    import graft.ext.Multimodal
    import graft.streaming.MediaDedupStream
    val corpusDir = Files.createTempDirectory("vid_corpus").toString
    val indexDir = Files.createTempDirectory("vid_index").toString
    val stats = new MediaDedupStream.MediaStats(spark)
    val videoFps: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame =
      Multimodal.videoFpFromPayload(_)
    def clip(id: Long) = Multimodal.videoPayload(id)
    def batchDf(rows: (Long, Array[Byte])*) =
      rows.toSeq.toDF("doc_id", "payload")
    def corpusIds = spark.read.parquet(corpusDir).select("doc_id")
      .collect().map(_.getLong(0)).toSet

    // batch 0: a distinct clip, its in-batch one-frame-flicker twin
    // (17's frame 0 has one nudged pixel of 10's), and a blob the
    // GVID demux rejects
    MediaDedupStream.processBatch(
      batchDf((10L, clip(10)), (17L, clip(17)),
        (99L, "not a gvid".getBytes("UTF-8"))),
      0L, corpusDir, indexDir, stats, videoFps, modality = "video")
    assert(stats.seen.value == 3 && stats.rejected.value == 1
      && stats.kept.value == 1)
    assert(corpusIds == Set(10L),
      "in-batch flicker twin must drop (keep-first), blob rejected")

    // batch 1: 17 retries — its twin 10 is INDEXED now, so the
    // cross-batch screen (same band index machinery as the image
    // path) drops it again; 20 is genuinely new
    MediaDedupStream.processBatch(
      batchDf((17L, clip(17)), (20L, clip(20))),
      1L, corpusDir, indexDir, stats, videoFps, modality = "video")
    assert(corpusIds == Set(10L, 20L),
      "17 is a flicker twin of indexed 10 and must screen out")

    // a reversed CUT of an ingested clip is order-different content
    // and must be ADMITTED: the temporal pooling is order-sensitive
    val fwd = clip(30L)
    val rev = Multimodal.gvidMux(Multimodal.gvidDemux(fwd).reverse)
    MediaDedupStream.processBatch(
      batchDf((30L, fwd), (31L, rev)),
      2L, corpusDir, indexDir, stats, videoFps, modality = "video")
    assert(corpusIds == Set(10L, 20L, 30L, 31L),
      "a reversed cut is different content, not a near-dup")

    // the third modality through the SAME seam: WAV payloads screen
    // through their own fingerprint index with identical semantics
    val aCorpus = Files.createTempDirectory("aud_corpus").toString
    val aIndex = Files.createTempDirectory("aud_index").toString
    val aStats = new MediaDedupStream.MediaStats(spark)
    def wav(id: Long) = Multimodal.wavFpPayload(id)
    MediaDedupStream.processBatch(
      batchDf((10L, wav(10)), (17L, wav(17)),
        (99L, "not a wav".getBytes("UTF-8"))),
      0L, aCorpus, aIndex, aStats, Multimodal.audioFpFromPayload(_),
      modality = "audio")
    assert(aStats.rejected.value == 1 && aStats.kept.value == 1)
    assert(spark.read.parquet(aCorpus).select("doc_id")
      .collect().map(_.getLong(0)).toSeq == Seq(10L),
      "the one-sample-nudge audio twin must drop in-batch")
  }

  test("multimodal graph stream: 4-channel stream-grown labels ≡ rebuild; takedown leaves zero leftovers") {
    import spark.implicits._
    import graft.ext.{CorpusGraph, Dedup, Multimodal, Takedown}
    import graft.streaming.GraphStream
    val corpusDir = Files.createTempDirectory("mmg_corpus").toString
    val bandsDir = Files.createTempDirectory("mmg_bands").toString
    val graphDir = Files.createTempDirectory("mmg_graph").toString
    val fpDir = Files.createTempDirectory("mmg_fp").toString
    val docs = Tables(spark, Sf0001).documents
      .filter(col("doc_id") < 60).select("doc_id", "text")
    // multimodal stream rows: each doc carries text plus the three
    // synthetic payloads the BATCH codecs derive from doc_id, so every
    // stream-grown artifact is comparable bit-for-bit with a batch
    // build over the same documents frame
    def mmRows(pred: org.apache.spark.sql.Column) = docs.filter(pred)
      .as[(Long, String)].map { case (id, t) =>
        (id, t, Multimodal.pngHashPayload(id),
          Multimodal.wavFpPayload(id), Multimodal.videoPayload(id))
      }.toDF("doc_id", "text", "image_payload", "audio_payload",
        "video_payload")
    val stats = new GraphStream.GraphStats(spark)
    def ingest(batch: org.apache.spark.sql.DataFrame, id: Long,
        st: GraphStream.GraphStats = stats): Unit =
      GraphStream.processBatch(batch, id, corpusDir, bandsDir, graphDir,
        st, GraphStream.standardMediaLegs, Some(fpDir))

    // two batches, plus one doc with an UNDECODABLE image payload —
    // evidence-preserving: it keeps its corpus row, it is only
    // invisible to the image screen (counted)
    ingest(mmRows(col("doc_id") < 30), 0L)
    ingest(mmRows(col("doc_id") >= 30).unionByName(
      Seq((999L, "unique nine nine nine text entirely its own",
        "not a png".getBytes("UTF-8"),
        Multimodal.wavFpPayload(999L), Multimodal.videoPayload(999L)))
        .toDF("doc_id", "text", "image_payload", "audio_payload",
          "video_payload")), 1L)
    assert(stats.mediaRejected.value == 1L,
      s"mediaRejected=${stats.mediaRejected.value}")
    assert(spark.read.parquet(corpusDir)
      .filter(col("doc_id") === 999L).count() == 1L,
      "an undecodable payload must not drop the doc (evidence leg)")

    // the stored 4-channel pair set equals a from-scratch re-screen:
    // text from the stored corpus, media served from the fp index
    val (storedPairs, storedLabels) = CorpusGraph.readGraph(spark, graphDir)
    val corpusText = spark.read.parquet(corpusDir)
      .select("doc_id", "text")
    val rebuiltPairs = Multimodal.corpusPairs(
      Multimodal.mediaNearDupPairsServed(spark, fpDir),
      Dedup.minhashNearDups(corpusText))
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b", "modality").distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val stored = pairSet(storedPairs)
    assert(stored == pairSet(rebuiltPairs),
      s"stream-grown pair set != re-screen: ${stored.size} stored")
    assert(Set("text", "image", "audio", "video")
      .subsetOf(stored.map(_._3)),
      s"expected all four channels, got ${stored.map(_._3)}")
    // and the incrementally-grown labels are the rebuild's labels
    val rebuiltLabels = Dedup.clusterLabels(
        rebuiltPairs.select("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(storedLabels.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == rebuiltLabels)
    assert(CorpusGraph.staleLabelCount(spark, graphDir) == 0L)

    // the corpus-wide cluster roll-up served from the stream-grown
    // graph equals the batch derivation over the same documents
    val served = Multimodal.corpusDedupClustersServedFrom(
        storedPairs, storedLabels)
      .collect().map(_.toSeq).toSet
    val batch = Multimodal.corpusDedupClusters(docs,
        Dedup.minhashNearDups(docs))
      .collect().map(_.toSeq).toSet
    assert(served == batch,
      s"served clusters (${served.size}) != batch (${batch.size})")

    // recovery replay of the multimodal batch: pairs, labels, fp index
    // all rewrite their own partitions — nothing moves
    val fpRowsBefore = Multimodal.readMediaFpIndex(spark, fpDir).count()
    val fresh = new GraphStream.GraphStats(spark)
    fresh.lastCommitted = 0L
    ingest(mmRows(col("doc_id") >= 30).unionByName(
      Seq((999L, "unique nine nine nine text entirely its own",
        "not a png".getBytes("UTF-8"),
        Multimodal.wavFpPayload(999L), Multimodal.videoPayload(999L)))
        .toDF("doc_id", "text", "image_payload", "audio_payload",
          "video_payload")), 1L, fresh)
    assert(pairSet(CorpusGraph.readPairs(spark, graphDir)) == stored)
    assert(Multimodal.readMediaFpIndex(spark, fpDir).count()
      == fpRowsBefore)
    assert(CorpusGraph.staleLabelCount(spark, graphDir) == 0L)

    // STREAMING takedown: purge a doc with media+text twins across all
    // three artifacts — corpus, fp index (data + band sidecar), graph —
    // and converge with zero leftovers and zero stale labels
    val target = 17L // planted perceptual twin of 10 in all modalities
    val out = Takedown.propagate(spark, Seq(target).toDF("doc_id"),
      Seq(Takedown.PartitionedIndex("mm_corpus", corpusDir, "doc_id",
        Seq("bucket", "batch_id")))
        ++ Multimodal.mediaFpTakedownArtifacts(spark, fpDir)
        :+ Takedown.DedupGraph("mm_graph", graphDir))
    assert(out.forall(_.leftover == 0L), out.toString)
    assert(out.map(_.rowsRemoved).sum > 0L, "target had rows everywhere")
    assert(spark.read.parquet(corpusDir)
      .filter(col("doc_id") === target).count() == 0L)
    assert(Multimodal.readMediaFpIndex(spark, fpDir)
      .filter(col("doc_id") === target).count() == 0L)
    assert(spark.read.schema(Multimodal.MediaBandSchema)
      .parquet(s"${graft.ext.Versioned.resolve(spark, fpDir)}/bands")
      .filter(col("doc_id") === target).count() == 0L)
    assert(CorpusGraph.readPairs(spark, graphDir)
      .filter(col("doc_a") === target || col("doc_b") === target)
      .count() == 0L)
    assert(CorpusGraph.staleLabelCount(spark, graphDir) == 0L)
  }

  test("rebucketing scales B with the corpus without stranding readers") {
    import spark.implicits._
    import graft.ext.Dedup
    import graft.streaming.{BatchIndex, DedupStream}
    val corpusDir = Files.createTempDirectory("rbk_corpus").toString
    val indexDir = Files.createTempDirectory("rbk_idx").toString + "/idx"
    val textA = (1 to 50).map(i => s"a$i").mkString(" ")
    val textB = (1 to 50).map(i => s"b$i").mkString(" ")
    val textC = (1 to 50).map(i => s"c$i").mkString(" ")
    def docsDf(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    val stats = new DedupStream.DedupStats(spark)

    // batch 0 writes at the compiled default and STAMPS the layout
    DedupStream.processBatch(docsDf((1L, textA), (2L, textB)), 0L,
      corpusDir, indexDir, stats)
    assert(BatchIndex.bucketCountOf(spark, indexDir, -1L)
      == DedupStream.BandBuckets)

    // the sizing rule fires: resize to 256 (stream stopped)
    BatchIndex.rebucket(spark, indexDir, "band_bucket", 256L,
      DedupStream.bandBucketAt)
    assert(BatchIndex.bucketCountOf(spark, indexDir, -1L) == 256L)
    // every row sits under the bucket a 256-probing reader addresses
    assert(spark.read.parquet(indexDir)
      .filter(col("band_bucket") =!= DedupStream.bandBucketAt(256L))
      .count() == 0L)

    // the resumed stream resolves 256 FROM THE INDEX: a twin of a
    // pre-rebucket doc still screens out, a new doc lands, and the
    // write extends the 256-layout without a mismatch failure
    DedupStream.processBatch(docsDf((17L, textA + " z"), (30L, textC)),
      1L, corpusDir, indexDir, stats)
    assert(spark.read.parquet(corpusDir).select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 30L))
    // pruning audit at the new B: a one-doc probe reads only its hit
    // buckets of the 256-bucket layout
    val probeBands = Dedup.bandTable(docsDf((99L, textB)))
    val hit = probeBands
      .select(DedupStream.bandBucketAt(256L).as("b")).distinct()
      .collect().map(_.getLong(0)).toSet
    val scanned = BatchIndex.readBeforeBuckets(spark, indexDir, 99L,
        Seq("doc_id", "band_idx", "band_hash"), probeBands.limit(0),
        "band_bucket", hit.toSeq)
      .select(input_file_name().as("f")).distinct()
      .collect().map(_.getString(0))
      .flatMap("band_bucket=(\\d+)".r.findFirstMatchIn(_)
        .map(_.group(1).toLong)).toSet
    assert(scanned.nonEmpty && scanned.subsetOf(hit),
      s"read outside hit buckets at B=256: ${scanned -- hit}")
    // and a twin of pre-rebucket content is still FOUND via that
    // pruned read (the lossless-resize guarantee)
    assert(BatchIndex.readBeforeBuckets(spark, indexDir, 99L,
        Seq("doc_id", "band_idx", "band_hash"), probeBands.limit(0),
        "band_bucket", hit.toSeq)
      .join(probeBands.select("band_idx", "band_hash").distinct(),
        Seq("band_idx", "band_hash"))
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
      == Set(2L))

    // a writer configured for a DIFFERENT B fails loudly instead of
    // landing rows in buckets no reader probes
    val err = intercept[IllegalArgumentException] {
      BatchIndex.ensureBucketMeta(spark, indexDir, 64L)
    }
    assert(err.getMessage.contains("rebucket"), err.getMessage)
  }

  test("media sidecar readers resolve the ROOT's bucket count, not the compiled default") {
    import spark.implicits._
    import graft.ext.Multimodal
    import graft.streaming.{BatchIndex, MediaDedupStream}
    val corpusDir = Files.createTempDirectory("mrb_corpus").toString
    val idx = Files.createTempDirectory("mrb_idx").toString
    val docs = Tables(spark, Sf0001).documents
    Multimodal.writeMediaFpIndex(
      docs.filter(col("doc_id").isin(10L, 20L)), idx)
    val root = graft.ext.Versioned.resolve(spark, idx)
    assert(Multimodal.mediaBandBucketCountOf(spark, root)
      == Multimodal.MediaBandBuckets)
    // re-derive the sidecar at B=16 by hand (the effect a rebuild
    // under a changed default would have) and stamp the new layout
    val tmp = Files.createTempDirectory("mrb_tmp").toString + "/bands"
    spark.read.schema(Multimodal.MediaBandSchema)
      .parquet(s"$root/bands")
      .drop("band_bucket")
      .withColumn("band_bucket", Multimodal.mediaBandBucketAt(16L))
      .repartition(col("band_bucket"))
      .write.partitionBy("modality", "band_bucket", "batch_id")
      .parquet(tmp)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(root).toUri,
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/bands"), true)
    assert(fs.rename(new org.apache.hadoop.fs.Path(tmp),
      new org.apache.hadoop.fs.Path(s"$root/bands")))
    BatchIndex.ensureBucketMeta(spark, s"$root/bands", 16L)
    spark.catalog.refreshByPath(s"$root/bands")
    assert(Multimodal.mediaBandBucketCountOf(spark, root) == 16L)
    // the stream probes at 16 (from the metadata): the perceptual
    // twin of indexed 10 still screens out, the new doc lands, and
    // the append extends the 16-bucket sidecar consistently
    val stats = new MediaDedupStream.MediaStats(spark)
    MediaDedupStream.processBatch(
      Seq((17L, Multimodal.pngHashPayload(17L)),
        (50L, Multimodal.pngHashPayload(50L))).toDF("doc_id", "payload"),
      0L, corpusDir, idx, stats)
    assert(stats.kept.value == 1,
      "twin must screen via the 16-bucket pruned read")
    assert(spark.read.parquet(corpusDir).select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(50L))
    assert(spark.read.schema(Multimodal.MediaBandSchema)
      .parquet(s"$root/bands")
      .filter(col("band_bucket") =!= Multimodal.mediaBandBucketAt(16L))
      .count() == 0L,
      "the append must land sidecar rows at the root's own B")
  }

  test("macro-batch trigger path (no forced broadcasts) lands identical artifacts") {
    import spark.implicits._
    import graft.ext.{CorpusGraph, Multimodal}
    import graft.streaming.{DedupStream, GraphStream, MediaDedupStream}
    // a catch-up macro-batch (docs > TriggerBroadcastMaxDocs) drops
    // the forced batch-side broadcasts — the joins replan, the
    // artifacts must not move. The one bound (MicroBatch's) forced to
    // 0 so every fixture batch counts as a macro-batch.
    def mm(ids: Seq[Long], texts: Map[Long, String]) = ids
      .map(id => (id, texts(id), Multimodal.pngHashPayload(id)))
      .toDF("doc_id", "text", "image_payload")
    val textA = (1 to 50).map(i => s"a$i").mkString(" ")
    val textB = (1 to 50).map(i => s"b$i").mkString(" ")
    val texts = Map(1L -> textA, 2L -> textB, 3L -> (textA + " z"),
      10L -> (textB + " y"), 17L -> "seventeen words all its own here",
      20L -> (1 to 50).map(i => s"c$i").mkString(" "))
    val leg = Seq(GraphStream.MediaLeg("image_payload", "image",
      Multimodal.imageFpFromPayload(_)))
    def run(tag: String, bound: Long): (Set[(Long, Long, String)],
        Map[Long, Long], Set[Long], Set[Long], (Set[Long], Long)) = {
      val c = Files.createTempDirectory(s"mb_c$tag").toString
      val b = Files.createTempDirectory(s"mb_b$tag").toString
      val g = Files.createTempDirectory(s"mb_g$tag").toString
      val f = Files.createTempDirectory(s"mb_f$tag").toString
      val prev = MicroBatch.triggerBroadcastBound
      MicroBatch.triggerBroadcastBound = bound
      try {
        val stats = new GraphStream.GraphStats(spark)
        GraphStream.processBatch(mm(Seq(1L, 2L, 3L), texts), 0L,
          c, b, g, stats, leg, Some(f))
        // 10 = text twin of 2; 17 = IMAGE twin of 10 (payload rule)
        GraphStream.processBatch(mm(Seq(10L, 17L, 20L), texts), 1L,
          c, b, g, stats, leg, Some(f))
        val mc = Files.createTempDirectory(s"mb_mc$tag").toString
        val mi = Files.createTempDirectory(s"mb_mi$tag").toString
        val ms = new MediaDedupStream.MediaStats(spark)
        MediaDedupStream.processBatch(
          Seq((10L, Multimodal.pngHashPayload(10L)),
            (17L, Multimodal.pngHashPayload(17L)),
            (30L, Multimodal.pngHashPayload(30L)))
            .toDF("doc_id", "payload"), 0L, mc, mi, ms)
        (CorpusGraph.readPairs(spark, g)
           .select("doc_a", "doc_b", "modality").distinct().collect()
           .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet,
         CorpusGraph.readLabels(spark, g).collect()
           .map(r => r.getLong(0) -> r.getLong(1)).toMap,
         Multimodal.readMediaFpIndex(spark, f).select("doc_id")
           .distinct().collect().map(_.getLong(0)).toSet,
         spark.read.parquet(mc).select("doc_id").collect()
           .map(_.getLong(0)).toSet,
         dedupRun(tag))
      } finally MicroBatch.triggerBroadcastBound = prev
    }
    // the keep-first screen (BatchIndex.keepFirst): an in-batch twin
    // (3 of 1) and, next batch, a cross-batch twin (10 of 2) drop
    def dedupRun(tag: String): (Set[Long], Long) = {
      val dc = Files.createTempDirectory(s"mb_dc$tag").toString
      val di = Files.createTempDirectory(s"mb_di$tag").toString
      val ds = new DedupStream.DedupStats(spark)
      def docs(ids: Long*) = ids.map(id => (id, texts(id)))
        .toDF("doc_id", "text")
      DedupStream.processBatch(docs(1L, 2L, 3L), 0L, dc, di, ds)
      DedupStream.processBatch(docs(10L, 20L), 1L, dc, di, ds)
      (spark.read.parquet(dc).select("doc_id").collect()
         .map(_.getLong(0)).toSet,
       spark.read.parquet(di).count())
    }
    val normal = run("n", Long.MaxValue)
    val macroB = run("m", 0L)
    assert(normal._1.nonEmpty && normal._2.nonEmpty,
      s"fixture produced no evidence: $normal")
    assert(normal._5._1 == Set(1L, 2L, 20L),
      s"dedup fixture must drop its twins: ${normal._5}")
    assert(normal == macroB,
      s"macro-batch path diverged:\n$normal\nvs\n$macroB")
  }

  test("pre-sidecar media fp root: first contact backfills the WHOLE sidecar (no partial-sidecar hole)") {
    import spark.implicits._
    import graft.ext.Multimodal
    import graft.streaming.MediaDedupStream
    val corpusDir = Files.createTempDirectory("mig_corpus").toString
    val idx = Files.createTempDirectory("mig_idx").toString
    val docs = Tables(spark, Sf0001).documents
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(idx).toUri,
      spark.sparkContext.hadoopConfiguration)
    def stripSidecar(): Unit = {
      assert(fs.delete(
        new org.apache.hadoop.fs.Path(s"$idx/bands"), true))
      ()
    }
    def bandBatches = spark.read.schema(Multimodal.MediaBandSchema)
      .parquet(s"$idx/bands").select("batch_id").distinct()
      .collect().map(_.getLong(0)).toSet
    def dataBatches = spark.read.schema(Multimodal.MediaFpSchema)
      .parquet(s"$idx/data").select("batch_id").distinct()
      .collect().map(_.getLong(0)).toSet
    def sidecarComplete(): Unit = {
      assert(bandBatches == dataBatches,
        s"sidecar batches $bandBatches != data batches $dataBatches")
      val decoded = spark.read.schema(Multimodal.MediaFpSchema)
        .parquet(s"$idx/data").filter(col("decoded")).count()
      assert(spark.read.schema(Multimodal.MediaBandSchema)
        .parquet(s"$idx/bands").count() == 4L * decoded,
        "4 sidecar band rows per decoded fingerprint")
    }

    // the pre-r14 on-disk layout: two committed batches, no sidecar
    Multimodal.writeMediaFpIndex(
      docs.filter(col("doc_id").isin(10L, 20L)), idx)
    Multimodal.appendToMediaFpIndex(
      docs.filter(col("doc_id") === 30L), idx, 1L)
    stripSidecar()

    // the STREAM path migrates on first contact: 17 is the perceptual
    // twin of PRE-sidecar doc 10 — a partial (or absent) sidecar would
    // admit it; the backfilled pruned screen must drop it
    val stats = new MediaDedupStream.MediaStats(spark)
    MediaDedupStream.processBatch(
      Seq((17L, Multimodal.pngHashPayload(17L)),
        (50L, Multimodal.pngHashPayload(50L))).toDF("doc_id", "payload"),
      2L, corpusDir, idx, stats)
    assert(stats.kept.value == 1,
      "twin of a pre-sidecar fingerprint must screen out")
    assert(spark.read.parquet(corpusDir).select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(50L))
    sidecarComplete() // batches 0,1 backfilled + the stream's own 3

    // the bare APPEND path must not recreate the partial-sidecar hole
    // (first append to a stripped root writing only its own batch):
    // backfill covers every pre-existing batch before the new one lands
    stripSidecar()
    Multimodal.appendFingerprintsToMediaFpIndex(
      Multimodal.mediaFingerprints(
        docs.filter(col("doc_id") === 40L), "image"),
      "image", idx, 4L)
    assert(bandBatches.contains(0L) && bandBatches.contains(4L),
      s"append must backfill pre-sidecar batches, got $bandBatches")
    sidecarComplete()
    // and the migrated sidecar serves the SAME candidates as bands
    // derived from the full data component (losslessness)
    val probe = Multimodal.fpBands(Multimodal.mediaFingerprints(
        docs.filter(col("doc_id") === 17L), "image")
      .filter(col("decoded")).select("doc_id", "fp_lo", "fp_hi"))
    val hit = probe.select(Multimodal.mediaBandBucket.as("b"))
      .distinct().collect().map(_.getLong(0)).toSeq
    def cands(idxBands: org.apache.spark.sql.DataFrame) =
      idxBands.join(probe.select("band_idx", "band_val").distinct(),
          Seq("band_idx", "band_val"))
        .select("doc_id").distinct().collect()
        .map(_.getLong(0)).toSet
    val pruned = Multimodal.mediaFpBandsPruned(spark, idx, "image",
        hit, beforeBatch = 5L)
      .getOrElse(fail("sidecar must exist after the migration"))
    val full = Multimodal.fpBands(
      Multimodal.readMediaFpIndex(spark, idx)
        .filter(col("modality") === "image" && col("decoded")
          && col("batch_id") < 5L)
        .select("doc_id", "fp_lo", "fp_hi"))
    assert(cands(pruned) == cands(full) && cands(pruned).contains(10L))
  }

  test("pre-bucketing flat band index: actionable failure, one-time migration, pruned serving") {
    import spark.implicits._
    import graft.ext.Dedup
    import graft.streaming.{BatchIndex, DedupStream}
    val corpusDir = Files.createTempDirectory("reb_corpus").toString
    val indexDir = Files.createTempDirectory("reb_idx").toString + "/idx"
    val textA = (1 to 50).map(i => s"a$i").mkString(" ")
    val textB = (1 to 50).map(i => s"b$i").mkString(" ")
    val textC = (1 to 50).map(i => s"c$i").mkString(" ")
    def docsDf(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")

    // the r13 on-disk layout: band rows under batch_id only
    BatchIndex.writePartition(
      Dedup.bandTable(docsDf((1L, textA), (2L, textB))), 0L, indexDir)

    // resuming the bucketed stream over it fails with the migration in
    // the message, not an UNRESOLVED_COLUMN analysis error
    val err = intercept[IllegalArgumentException] {
      DedupStream.processBatch(docsDf((17L, textA + " z")), 1L,
        corpusDir, indexDir, new DedupStream.DedupStats(spark))
    }
    assert(err.getMessage.contains("migrateToBucketed"),
      err.getMessage)

    BatchIndex.migrateToBucketed(spark, indexDir, "band_bucket",
      DedupStream.BandBuckets, DedupStream.bandBucketAt)
    // re-run is a no-op (rerunnable contract)
    BatchIndex.migrateToBucketed(spark, indexDir, "band_bucket",
      DedupStream.BandBuckets, DedupStream.bandBucketAt)
    // every migrated row sits under the bucket its READERS will probe
    assert(spark.read.parquet(indexDir)
      .filter(col("band_bucket") =!= DedupStream.bandBucket)
      .count() == 0L)
    // the migration STAMPS its layout metadata (rides the same rename
    // as the data): a reader resolving B after the compiled default
    // moves must get the migration's B, not the new default
    assert(BatchIndex.bucketCountOf(spark, indexDir, -1L)
      == DedupStream.BandBuckets)

    // the stream continues over the migrated index: a twin of a
    // flat-era doc drops, a new doc lands
    val stats = new DedupStream.DedupStats(spark)
    DedupStream.processBatch(docsDf((17L, textA + " z"), (30L, textC)),
      1L, corpusDir, indexDir, stats)
    assert(stats.kept.value == 1)
    assert(spark.read.parquet(corpusDir).select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(30L))
  }

  test("new indexes auto-size B from the first batch; existing layouts are never re-derived") {
    import spark.implicits._
    import graft.streaming.{BatchIndex, DedupStream}
    // the sizing rule is BYTE-based (r16 measured the 512-row rule
    // listing-bound at 16 M rows — B must target healthy parquet
    // files, not a row quota): smallest power-of-two multiple of the
    // floor holding keyRows × rowBytes at ≤ TargetBytesPerBucket per
    // bucket; tiny batches keep the floor. rowBytes = 32 KB makes the
    // derived target exactly 512 rows/bucket for readable numbers.
    assert(BatchIndex.autoBucketCount(8L, 64L) == 64L)
    assert(BatchIndex.autoBucketCount(64L * 512L, 64L,
      rowBytes = 32768L) == 64L)
    assert(BatchIndex.autoBucketCount(64L * 512L + 1L, 64L,
      rowBytes = 32768L) == 128L)
    assert(BatchIndex.autoBucketCount(100000L, 64L,
      rowBytes = 32768L) == 256L)
    assert(BatchIndex.autoBucketCount(40L * 4L * 1000000L, 64L,
      rowBytes = 32768L) == 524288L)
    // at the DEFAULT planning width (32 B hash rows) the byte rule
    // holds the floor far longer than the old row rule: 16 M rows ≈
    // 512 MB is 8 MB/bucket at B = 64 — healthy files, no rewrite
    // (the r16 probe's listing-bound 32 768-bucket layout retired)
    assert(BatchIndex.autoBucketCount(16L * 1000000L, 64L) == 64L)
    assert(BatchIndex.autoBucketCount(16L * 1000000L, 64L,
      rowBytes = 32768L) == 32768L, "the retired row rule, for contrast")
    // byte core
    assert(BatchIndex.autoBucketCountBytes(16L << 20, 4L) == 4L)
    assert(BatchIndex.autoBucketCountBytes((16L << 20) * 4L + 1L, 4L)
      == 8L)

    // resolution precedence: NEW path → the rule over the first
    // batch's keys; existing pre-metadata path → compiled default;
    // stamped path → recorded metadata (first-batch keys never read)
    val dir = Files.createTempDirectory("autob").toString + "/idx"
    assert(BatchIndex.bucketCountForWrite(spark, dir, 64L, 100000L,
      rowBytes = 32768L) == 256L)
    def bands(ids: Seq[Long]) = ids
      .flatMap(id => (0 until 4).map(b => (id, b, id * 100 + b)))
      .toDF("doc_id", "band_idx", "band_hash")
    BatchIndex.writePartition(bands(Seq(1L))
        .withColumn("band_bucket", DedupStream.bandBucketAt(256L)),
      0L, dir, bucketCol = Some("band_bucket"))
    // rows exist but no sidecar (pre-metadata): the compiled default —
    // re-deriving from a later batch would corrupt addressing
    assert(BatchIndex.bucketCountForWrite(spark, dir, 64L, 100000L)
      == 64L)
    BatchIndex.ensureBucketMeta(spark, dir, 256L)
    var counted = false
    assert(BatchIndex.bucketCountForWrite(spark, dir, 64L,
      { counted = true; 100000L }) == 256L)
    assert(!counted, "a stamped index must never pay the first-batch count")
  }

  test("layout diagnostics: rows/bucket drift recommends rebucket, level accretion recommends compact") {
    import spark.implicits._
    import graft.streaming.{BatchIndex, DedupStream}
    def bands(ids: Range) = ids.map(_.toLong)
      .flatMap(id => (0 until 4).map(b => (id, b, id * 100 + b)))
      .toDF("doc_id", "band_idx", "band_hash")
    // drifted index: 4 buckets holding 12k rows (~hundreds of KB on
    // disk). Under the PRODUCTION byte target this is healthy — no
    // fixture-sized index may ever recommend a full rewrite — and
    // under a test-sized 4 KB target the byte drift fires, with the
    // recommendation derived from MEASURED bytes, not a width guess
    val drifted = Files.createTempDirectory("lr_drift").toString + "/idx"
    BatchIndex.writePartition(bands(0 until 3000)
        .withColumn("band_bucket", DedupStream.bandBucketAt(4L)),
      0L, drifted, bucketCol = Some("band_bucket"))
    BatchIndex.ensureBucketMeta(spark, drifted, 4L)
    // the band layout at an explicit default bucket count
    def bandsAt(b: Long) =
      BatchIndex.Index.keyed(Seq("doc_id", "band_idx", "band_hash"), b)
    val r0 = BatchIndex.report(spark, bandsAt(4L), drifted).get
    assert(!r0.rebucketRecommended,
      s"KB-sized buckets are healthy under the 16 MB target: $r0")
    val r1 = BatchIndex.report(spark, bandsAt(4L), drifted,
      targetBytes = 4096L).get
    assert(r1.buckets == 4L && r1.rows == 12000L, s"$r1")
    assert(r1.bytes > 4L * 4096L * BatchIndex.RebucketDriftFactor
      && r1.rebucketRecommended, s"$r1")
    assert(r1.recommendedBuckets
      == BatchIndex.autoBucketCountBytes(r1.bytes, 4L, 4096L)
      && r1.recommendedBuckets > 4L, s"$r1")
    assert(math.abs(r1.meanBytesPerBucket - r1.bytes / 4.0) < 1e-6,
      s"$r1")
    assert(!r1.compactRecommended, s"one level: $r1")

    // accreted index: 18 batch levels in every bucket, rows in range
    val accreted = Files.createTempDirectory("lr_acc").toString + "/idx"
    (0 until 18).foreach { i =>
      BatchIndex.writePartition(bands(i * 20 until (i + 1) * 20)
          .withColumn("band_bucket", DedupStream.bandBucketAt(4L)),
        i.toLong, accreted, bucketCol = Some("band_bucket"))
    }
    BatchIndex.ensureBucketMeta(spark, accreted, 4L)
    val r2 = BatchIndex.report(spark, bandsAt(4L), accreted).get
    assert(r2.batchLevels == 18L && r2.maxLevelsPerBucket == 18L, s"$r2")
    assert(r2.compactRecommended && !r2.rebucketRecommended, s"$r2")
    // compaction resets the level count and the recommendation
    BatchIndex.compact(spark, bandsAt(4L), accreted)
    val r3 = BatchIndex.report(spark, bandsAt(4L), accreted).get
    assert(r3.batchLevels == 1L && !r3.compactRecommended, s"$r3")
    assert(r3.rows == r2.rows, s"compaction must not drop rows: $r3")

    // the FILE-BUDGET arm: at large B a few levels already exceed the
    // total-dir budget (trigger listing cost ∝ B × levels — the
    // measured table behind CompactFileBudget), so the recommendation
    // fires well before the level cadence would
    val wide = Files.createTempDirectory("lr_wide").toString + "/idx"
    (0 until 2).foreach { i =>
      BatchIndex.writePartition(bands(i * 20 until (i + 1) * 20)
          .withColumn("band_bucket", DedupStream.bandBucketAt(32768L)),
        i.toLong, wide, bucketCol = Some("band_bucket"))
    }
    BatchIndex.ensureBucketMeta(spark, wide, 32768L)
    val r4 = BatchIndex.report(spark, bandsAt(32768L), wide).get
    assert(r4.buckets == 32768L && r4.batchLevels == 2L, s"$r4")
    assert(r4.compactRecommended && r4.maxLevelsPerBucket <= 2L,
      s"file budget must trigger at B x levels = 65536: $r4")
  }

  test("maintenance hook: the compaction cadence RUNS at the level threshold and is result-neutral") {
    import spark.implicits._
    import graft.streaming.{BatchIndex, DedupStream}
    // twin dedup ingests over 20 micro-batches (> CompactAfterLevels):
    // root A is maintained mid-run at the cadence point (stream
    // "stopped" between processBatch calls — exactly the bounded-run
    // seam RunStream wires), root B never is. Every screening verdict,
    // the corpora, and the indexes' distinct content must be identical
    // — the cadence is an IO repair, never a semantic change.
    val aC = Files.createTempDirectory("mh_ac").toString
    val aI = Files.createTempDirectory("mh_ai").toString + "/idx"
    val bC = Files.createTempDirectory("mh_bc").toString
    val bI = Files.createTempDirectory("mh_bi").toString + "/idx"
    val sA = new DedupStream.DedupStats(spark)
    val sB = new DedupStream.DedupStats(spark)
    // per-seed vocabulary: docs of different seeds share no words, so
    // the only near-dups are the planted exact twins
    def text(seed: Long) =
      (1 to 40).map(i => s"s${seed}w$i").mkString(" ")
    var maintained = false
    // B = 2 via the probe seam: each batch's ~12+ band rows hit both
    // buckets, so levels-per-bucket tracks the batch count and the
    // level cadence (>16) is reachable in a fixture-sized run (at the
    // default B = 64 a 1-doc batch touches ≤4 buckets — the cadence
    // would need thousands of batches)
    val savedB = DedupStream.bandBucketCount
    DedupStream.bandBucketCount = 2L
    try {
      (0 until 20).foreach { i =>
        // three fresh docs + (every 3rd batch) an exact twin of an
        // earlier batch's doc — cross-batch screening on every layout
        val rows = (0 until 3).map(d =>
          (100L + i * 10 + d, text(i.toLong * 3 + d))) ++
          (if (i % 3 == 2) Seq((500L + i, text((i - 2).toLong * 3)))
           else Nil)
        val batch = rows.toDF("doc_id", "text")
        DedupStream.processBatch(batch, i.toLong, aC, aI, sA)
        DedupStream.processBatch(batch, i.toLong, bC, bI, sB)
        if (i == 17) { // 18 levels > CompactAfterLevels(16): cadence due
          val m = BatchIndex.maintain(spark, DedupStream.BandIndex, aI).get
          assert(
            m.report.maxLevelsPerBucket > BatchIndex.CompactAfterLevels,
            s"${m.report}")
          assert(m.compacted.isDefined, "the hook must RUN the compact")
          assert(!m.rebucketRecommended,
            "KB-sized fixture index must never recommend a rewrite")
          maintained = true
          // post-compact: one folded level remains
          val after =
            BatchIndex.report(spark, DedupStream.BandIndex, aI).get
          assert(after.batchLevels == 1L && !after.compactRecommended,
            s"$after")
        }
      }
    } finally DedupStream.bandBucketCount = savedB
    assert(maintained)
    assert(sA.seen.value == sB.seen.value
      && sA.kept.value == sB.kept.value,
      s"A=(${sA.seen.value},${sA.kept.value}) " +
        s"B=(${sB.seen.value},${sB.kept.value})")
    def corpusIds(p: String) = spark.read.parquet(p).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(corpusIds(aC) == corpusIds(bC))
    def indexContent(p: String) = spark.read.parquet(p)
      .select("doc_id", "band_idx", "band_hash")
      .distinct().collect().map(_.toSeq).toSet
    assert(indexContent(aI) == indexContent(bI),
      "maintained and unmaintained indexes must hold the same bands")
    // an absent index (stream never committed) is a no-op, not a crash
    assert(BatchIndex.maintain(spark, DedupStream.BandIndex,
      "/tmp/graft_mh_never_written").isEmpty)
    // healthy layouts report without compacting — the hook is safe to
    // call after EVERY bounded run
    val m2 = BatchIndex.maintain(spark, DedupStream.BandIndex, aI).get
    assert(m2.compacted.isEmpty && !m2.rebucketRecommended)
  }

  // the layout scan and the batch_id fold live in BatchIndex; a leg
  // that diagnoses or compacts its own index is a visible edit here
  test("src/main has one index maintenance path") {
    import java.nio.file.Paths
    val files = Files.walk(Paths.get("src/main/scala"))
    val sources =
      try files.iterator.asScala.filter(_.toString.endsWith(".scala"))
        .toList
      finally files.close()
    def filesWith(text: String): Set[String] = sources
      .filter(f => Files.readString(f).contains(text))
      .map(_.getFileName.toString).toSet
    // the layout scan: bytes from the filesystem, levels from the cells
    assert(filesWith("getContentSummary") == Set("BatchIndex.scala"))
    assert(filesWith("countDistinct(col(\"batch_id\"))")
      == Set("BatchIndex.scala"))
    // the fold primitive: the write of the -1 partition
    assert(filesWith("withColumn(\"batch_id\", lit(-1L))")
      == Set("BatchIndex.scala"))
    val ownMaintenance = """def (maintain|compact)\w*""".r
    sources.filter { f =>
      val n = f.getFileName.toString
      (n.endsWith("Stream.scala")
        && f.getParent.getFileName.toString == "streaming") ||
        n == "CorpusGraph.scala" || n == "Multimodal.scala"
    }.foreach { f =>
      assert(ownMaintenance.findFirstIn(Files.readString(f)).isEmpty,
        s"${f.getFileName} defines its own maintain or compact")
    }
  }

  test("src/main has one micro-batch frame lifetime") {
    import java.nio.file.Paths
    val dir = Paths.get("src/main/scala/graft/streaming")
    val files = Files.list(dir)
    val sources =
      try files.iterator.asScala.filter(_.toString.endsWith(".scala"))
        .map(f => f.getFileName.toString -> Files.readString(f)).toMap
      finally files.close()
    // a batch's frames release only through MicroBatch.commit's scope;
    // the one release here is CurateStream.start's Bloom table, which
    // outlives every batch and goes when its query terminates
    val releases = sources.toSeq.flatMap { case (n, src) =>
      "unpersist\\(".r.findAllMatchIn(src).map(_ => n)
    }
    assert(releases == Seq("CurateStream.scala"),
      s"unpersist( outside the commit scope: $releases")
    assert(sources("CurateStream.scala").contains("st.bits.unpersist()"))
    sources.foreach { case (n, src) =>
      assert("""\bheld\b""".r.findFirstIn(src).isEmpty,
        s"$n keeps its own held buffer")
    }
    assert(!sources("GraphStream.scala").contains("scopedAll"),
      "GraphStream opens its own release scope")
    val main = Files.walk(Paths.get("src/main/scala"))
    val bounds =
      try main.iterator.asScala.filter(_.toString.endsWith(".scala"))
        .map(f => "var triggerBroadcastBound".r
          .findAllMatchIn(Files.readString(f)).size)
        .sum
      finally main.close()
    assert(bounds == 1, s"triggerBroadcastBound declared $bounds times")
  }

  test("full-rewrite layout ops merge schemas: rebucket/migrate keep late-added columns") {
    import spark.implicits._
    import graft.streaming.{BatchIndex, DedupStream}
    // SCHEMA-EVOLVED index: batch 0 written before a `weight` column
    // existed, batch 1 after. Directory listing order makes batch 0's
    // file the inference anchor for a plain read, so a full rewrite
    // without mergeSchema would silently and unrecoverably drop the
    // column (the compact contract, now pinned for rebucket + migrate).
    def bands(ids: Seq[Long]) = ids
      .flatMap(id => (0 until 4).map(b => (id, b, id * 100 + b)))
      .toDF("doc_id", "band_idx", "band_hash")

    // rebucket over an evolved BUCKETED index
    val idxR = Files.createTempDirectory("ms_rbk").toString + "/idx"
    BatchIndex.writePartition(bands(Seq(1L))
        .withColumn("band_bucket", DedupStream.bandBucketAt(64L)),
      0L, idxR, bucketCol = Some("band_bucket"))
    BatchIndex.ensureBucketMeta(spark, idxR, 64L)
    BatchIndex.writePartition(bands(Seq(2L)).withColumn("weight", lit(0.5))
        .withColumn("band_bucket", DedupStream.bandBucketAt(64L)),
      1L, idxR, bucketCol = Some("band_bucket"))
    BatchIndex.rebucket(spark, idxR, "band_bucket", 256L,
      DedupStream.bandBucketAt)
    val afterR = spark.read.option("mergeSchema", "true").parquet(idxR)
    assert(afterR.columns.contains("weight"),
      "rebucket dropped a late-added column")
    assert(afterR.filter(col("weight") === 0.5).count() == 4L)

    // migrate over an evolved FLAT index
    val idxM = Files.createTempDirectory("ms_mig").toString + "/idx"
    BatchIndex.writePartition(bands(Seq(1L)), 0L, idxM)
    BatchIndex.writePartition(
      bands(Seq(2L)).withColumn("weight", lit(0.5)), 1L, idxM)
    BatchIndex.migrateToBucketed(spark, idxM, "band_bucket", 64L,
      DedupStream.bandBucketAt)
    val afterM = spark.read.option("mergeSchema", "true").parquet(idxM)
    assert(afterM.columns.contains("weight"),
      "migrateToBucketed dropped a late-added column")
    assert(afterM.filter(col("weight") === 0.5).count() == 4L)
    // and the migration stamped its layout metadata
    assert(BatchIndex.bucketCountOf(spark, idxM, -1L) == 64L)
  }

  test("direct-path hit-bucket read: ≡ filter-pruned scan across fold "
      + "partitions, absent hits, and the empty/absent index edges") {
    import spark.implicits._
    import graft.ext.Dedup
    import graft.streaming.{BatchIndex, DedupStream}
    val idx = Files.createTempDirectory("dp_idx").toString + "/idx"
    val rnd = new scala.util.Random(11)
    def docs(ids: Seq[Long]) = ids.map(i => (i, s"anchor$i " +
        Seq.fill(30)(s"w${rnd.nextInt(100000)}").mkString(" ")))
      .toDF("doc_id", "text")
    def write(ids: Seq[Long], batch: Long): Unit =
      BatchIndex.writePartition(Dedup.bandTable(docs(ids))
          .withColumn("band_bucket", DedupStream.bandBucketAt(64L)),
        batch, idx, bucketCol = Some("band_bucket"))
    val cols = Seq("doc_id", "band_idx", "band_hash")
    def emptyF = Dedup.bandTable(docs(Nil).limit(0)).select(
      cols.map(col): _*)

    // absent index: typed empty, no failure
    assert(BatchIndex.readBeforeBuckets(spark, idx, 5L, cols, emptyF,
      "band_bucket", Seq(0L, 1L)).count() == 0L)

    write(1L to 20L, 0L)
    write(21L to 40L, 1L)
    // fold batches 0-1 into a -1 partition, then land a live batch on
    // top — the read must union the fold level with real levels
    BatchIndex.compact(spark, BatchIndex.Index.keyed(cols, 64L), idx)
    write(41L to 60L, 2L)

    val present = spark.read.parquet(idx)
      .select(col("band_bucket").cast("long"))
      .distinct().collect().map(_.getLong(0)).toSet
    // hit list: half the present buckets plus values NO dir exists for
    // (a batch whose keys hash to never-written buckets) — the direct
    // read must skip those losslessly, not fail on a missing path
    val hit = present.toSeq.sorted.take(present.size / 2) ++
      (0L until 64L).filterNot(present.contains).take(3)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.get(1).toString.toLong, r.getString(2))
    val direct = BatchIndex.readBeforeBuckets(spark, idx, 3L, cols,
      emptyF, "band_bucket", hit).collect().map(key).toSet
    val full = spark.read.parquet(idx)
      .filter(col("band_bucket").isin(hit: _*)
        && col("batch_id") < 3L)
      .select(cols.map(col): _*).collect().map(key).toSet
    assert(direct == full && direct.nonEmpty,
      s"direct=${direct.size} full=${full.size}")
    // replay exclusion unchanged: batch 2's own rows are invisible to
    // a reader at batchId=2, visible at 3
    val at2 = BatchIndex.readBeforeBuckets(spark, idx, 2L, cols,
      emptyF, "band_bucket", present.toSeq).collect().map(key).toSet
    val at3 = BatchIndex.readBeforeBuckets(spark, idx, 3L, cols,
      emptyF, "band_bucket", present.toSeq).collect().map(key).toSet
    assert(at2.subsetOf(at3) && at3.size == at2.size + 80,
      s"at2=${at2.size} at3=${at3.size}") // 20 docs × 4 bands
    // all-absent hit list: empty, no failure
    assert(BatchIndex.readBeforeBuckets(spark, idx, 3L, cols, emptyF,
      "band_bucket",
      (0L until 64L).filterNot(present.contains).take(2))
      .count() == 0L)
  }
}
