package graft

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions._

/** Session surface: the native Column helpers need no registration;
  * the session factory's conf precedence, its `SPARK_GRAFT_CONF` parse
  * and its measured defaults; the set of env vars the engine reads; and
  * the factory's scratch directory falling back when it cannot use
  * tmpfs.
  */
class SessionSpec extends AnyFunSuite {
  import SparkTestSession._

  private def input(s: SparkSession): DataFrame = s.range(1).select(
    lit("The  Cafe\u0301 fox jumps over the lazy dog, then the fox naps")
      .as("text"),
    typedLit(Seq(0.5, -1.0, 2.0, 0.25)).as("v"),
    // 2 subspaces × 2 centroids × 2 dims
    typedLit(Seq(Seq(Seq(0.0, 0.0), Seq(1.0, -1.0)),
      Seq(Seq(2.0, 0.0), Seq(0.0, 0.5)))).as("codebooks"))

  private val event = struct(lit("c1"), lit("Ann"), lit("ann@x.io"),
    lit(1700000000000L), lit("US"), lit("basic"), lit(1700000500000L),
    lit(3), lit(true), lit("smb"))

  // keyed by SQL function name; a fresh session's registry has none
  private val helpers: Seq[(String, Column)] = Seq(
    "array_dot" -> arrayDot(col("v"), col("v")),
    "word_shingles" -> wordShingles(col("text"), 3),
    "simhash_sig" -> simhashSig(col("text"), 24),
    "minhash_sigs" -> minhashSigs(col("text"), 4),
    "bow_hash_embed" -> bowHashEmbed(col("text"), 8),
    "pq_encode" -> pqEncode(col("v"), col("codebooks")),
    "pq_dist_tables" -> pqDistTables(col("v"), col("codebooks")),
    "bpe_apply" -> bpeApply(col("text"), Seq(("f", "o"), ("fo", "x"))),
    "winnow_select" -> winnowSelect(col("text"), 2, 3),
    "nfc_normalize" -> nfcNormalize(col("text")),
    "avro_encode_ce" -> avroEncodeCe(event),
    "avro_decode_ce" -> avroDecodeCe(avroEncodeCe(event)),
    "Curation.normalizeText" -> graft.ext.Curation.normalizeText(col("text")))

  helpers.foreach { case (name, c) =>
    test(s"$name resolves on a fresh session with the shared session's value") {
      val fresh = spark.newSession()
      assert(!fresh.sessionState.functionRegistry
        .functionExists(FunctionIdentifier(name)))
      val got = input(fresh).select(c).head()
      assert(!got.isNullAt(0))
      assert(got == input(spark).select(c).head())
    }
  }

  private def withRoot(f: File => Unit): Unit = {
    val root = Files.createTempDirectory("graft-localdir").toFile
    try f(root)
    finally org.apache.commons.io.FileUtils.deleteDirectory(root)
  }

  test("localDir uses root/graft-spark when it can create it") {
    withRoot { root =>
      val d = new File(root, "graft-spark")
      assert(SessionTuning.scratchDirUnder(root, floorBytes = 0L) ==
        d.getAbsolutePath)
      assert(d.isDirectory)
    }
  }

  test("localDir falls back to the JVM tmpdir when graft-spark is a file") {
    withRoot { root =>
      assert(new File(root, "graft-spark").createNewFile())
      assert(SessionTuning.scratchDirUnder(root) ==
        System.getProperty("java.io.tmpdir", "/tmp"))
    }
  }

  test("localDir falls back to the JVM tmpdir when root is below the free-space floor") {
    withRoot { root =>
      assert(SessionTuning.scratchDirUnder(root, floorBytes = Long.MaxValue)
        == System.getProperty("java.io.tmpdir", "/tmp"))
      assert(!new File(root, "graft-spark").exists())
    }
  }

  test("session confs: base < measured < entry-point confs < SPARK_GRAFT_CONF") {
    val c = SessionTuning.sessionConfs(4, confs = Seq(
        "spark.sql.shuffle.partitions" -> "7",
        "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "true",
        "spark.scheduler.mode" -> "FAIR"),
      overrides = Some("spark.scheduler.mode=FIFO; spark.master = local[2]"))
    assert(c("spark.sql.session.timeZone") == "UTC") // base
    assert(c("spark.sql.codegen.cache.maxEntries") == "4096") // measured
    assert(c("spark.sql.shuffle.partitions") == "7") // confs > base
    assert(c("spark.sql.adaptive.coalescePartitions.parallelismFirst")
      == "true") // confs > measured
    assert(c("spark.scheduler.mode") == "FIFO") // env > confs
    assert(c("spark.master") == "local[2]") // env > base
    assert(SessionTuning.sessionConfs(4, Nil, None)("spark.master")
      == "local[4]")
  }

  test("SPARK_GRAFT_CONF skips blank entries and rejects malformed ones") {
    assert(SessionTuning.resolve(Some(";a=1;; b = x=y ;"), Seq("a" -> "0"))
      == Map("a" -> "1", "b" -> "x=y"))
    assert(SessionTuning.resolve(None, Seq("a" -> "0"), Seq("a" -> "2"))
      == Map("a" -> "2"))
    Seq("a=1;spark.scheduler.mode", "=FIFO").foreach { raw =>
      val e = intercept[IllegalArgumentException](
        SessionTuning.resolve(Some(raw)))
      assert(e.getMessage.contains(s"'${raw.split(';').last}'"),
        e.getMessage)
    }
  }

  test("the shared session carries the measured defaults") {
    val conf = spark.sparkContext.getConf
    assert(conf.get("spark.sql.codegen.cache.maxEntries") == "4096")
    assert(conf.get("spark.shuffle.sort.bypassMergeThreshold") == "2")
    assert(conf.get("spark.sql.adaptive.coalescePartitions.parallelismFirst")
      == "false")
    assert(conf.get("spark.hadoop.fs.file.impl")
      == classOf[ForkFreeLocalFileSystem].getName)
    assert(conf.get("spark.hadoop.fs.AbstractFileSystem.file.impl")
      == classOf[ForkFreeLocalFs].getName)
  }

  // adding an env knob is a visible edit here; prefer a conf set
  // through SPARK_GRAFT_CONF. build.sbt counts too: it reads
  // SPARK_GRAFT_GC to pick the forked JVM's collector.
  test("src/main reads exactly the declared SPARK_GRAFT_* env vars") {
    val declared = Set("BENCH_ISOLATE", "BENCH_OUT", "CONF", "CPUS", "GC",
      "LOCAL_DIR", "NO_SCRATCH", "SESSION_USERS", "SF_DIR", "STAR_BG",
      "TRACE", "VERIFY_PAR").map("SPARK_GRAFT_" + _)
    val knob = "SPARK_GRAFT_[A-Z_]+".r
    val files = Files.walk(Paths.get("src/main/scala"))
    val sources =
      try files.iterator.asScala.filter(_.toString.endsWith(".scala"))
        .toList
      finally files.close()
    val found = (Paths.get("build.sbt") :: sources)
      .flatMap(f => knob.findAllIn(Files.readString(f))).toSet
    assert(found == declared)
  }
}
