package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ext.{Bpe, Curation, Dedup, TextAnalysis}

/** Runnable corpus→training-mix pipeline over the fixtures — the CLI
  * surface of the curation operators composed in execution order
  * (`sbt "runMain graft.RunCuration [sfDir] [outDir]"`):
  *
  *   canonicalize (NFC + ws + case) → named-rule quality gate →
  *   MinHash near-dup removal → PII scrub → stratified sample →
  *   train/val/test split → sequence-pack plan → BPE merge table,
  *
  * writing the curated corpus (parquet, partitioned by split) plus the
  * audit artifacts a data team would keep: per-rule gate report, split
  * summary, pack plan, learned merges. Every stage is the same operator
  * the verified queries pin — this main only sequences them.
  */
object RunCuration {

  /** Funnel counters + aggregate shuffle volume for the run. */
  final case class Summary(raw: Long, gated: Long, deduped: Long,
      sampled: Long, shuffleWriteBytes: Long)

  /** The full funnel against an existing session (spec-drivable; the
    * CLI main only adds session setup/teardown around it). Returns the
    * per-stage survivor counts and the total shuffle-write volume the
    * run generated — the number that decides whether a stage would
    * reshuffle a 100 TB corpus or only its derived statistics. The
    * volume is the [[Metrics.record]] total over every stage the run
    * completed, complete when this returns.
    */
  def run(spark: SparkSession, sfDir: String, outDir: String): Summary = {
    val (counts, rec) = Metrics.record(spark) {
      val docs = Tables(spark, sfDir).documents
      val nRaw = docs.count()

      val canon = docs
        .withColumn("text", Curation.normalizeText(col("text")))
        .withColumn("n_chars", length(col("text")).cast("long"))
      val gated = TextAnalysis.qualityFilter(canon)
      val nGated = gated.count()

      val drops = Dedup.minhashDropSet(gated)
        .withColumn("__dup", lit(1))
      val deduped = gated.join(broadcast(drops), Seq("doc_id"), "left")
        .filter(col("__dup").isNull).drop("__dup")
      val nDeduped = deduped.count()

      val scrubbed = deduped
        .withColumn("text", Curation.scrubPii(col("text")))
      val sampled = Curation.stratifiedSample(scrubbed)
        .withColumn("split", Curation.splitName(col("doc_id")))
      val nSampled = sampled.count()

      sampled.write.mode("overwrite").partitionBy("split")
        .parquet(s"$outDir/corpus")
      TextAnalysis.qualityFilterReport(canon).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/quality_report")
      Curation.datasetSplitSummary(sampled.drop("split")).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/split_summary")
      Curation.packPlan(sampled).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/pack_plan")
      Bpe.mergesTable(sampled).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/bpe_merges")

      Summary(nRaw, nGated, nDeduped, nSampled, shuffleWriteBytes = 0L)
    }
    counts.copy(shuffleWriteBytes = rec.shuffleWriteBytes)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1).getOrElse("/tmp/graft_curation")
    val spark = SessionTuning.session()
    val (s, rec) = Metrics.record(spark)(run(spark, sfDir, outDir))
    println(f"[curation] raw=${s.raw} gated=${s.gated} " +
      f"deduped=${s.deduped} sampled=${s.sampled} " +
      f"shuffle_write_mb=${s.shuffleWriteBytes / 1e6}%.1f " +
      f"wall_s=${rec.seconds}%.1f out=$outDir")
    spark.stop()
  }
}
