package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions._

/** Session surface: the native Column helpers need no registration, and
  * the session factory's scratch directory falls back when it cannot
  * use tmpfs.
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
}
