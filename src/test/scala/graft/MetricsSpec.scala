package graft

import org.apache.spark.ListenerCount
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The stage-metrics recorder: stage rows and totals agree, counters
  * are complete the moment `record` returns, and the listener never
  * outlives the call.
  */
class MetricsSpec extends AnyFunSuite {
  import SparkTestSession._

  // a fresh plan per call, so no run reuses another's shuffle output
  private def shuffleJob(): Long =
    spark.range(0L, 200000L, 1L, 4).repartition(8, col("id"))
      .agg(sum(col("id"))).head().getLong(0)

  test("a repartition job reports its shuffle; totals sum the stage rows") {
    val (total, run) = Metrics.record(spark)(shuffleJob())
    assert(total == 199999L * 200000L / 2)
    assert(run.stages.size >= 2, run.stages)
    assert(run.shuffleWriteBytes > 0L)
    assert(run.shuffleReadBytes > 0L)
    assert(run.shuffleWriteBytes == run.stages.map(_.shuffleWriteBytes).sum)
    assert(run.shuffleReadBytes == run.stages.map(_.shuffleReadBytes).sum)
    assert(run.executorRunMs == run.stages.map(_.executorRunMs).sum)
    assert(run.tasks == run.stages.map(_.tasks.toLong).sum)
    assert(run.seconds > 0.0)
  }

  test("a narrow job reports no shuffle write") {
    // map-only: range.count() would plan a partial/final aggregate
    // exchange across the range's slices
    val (rows, run) = Metrics.record(spark)(
      spark.range(100000L).filter(col("id") % 7 === 0).collect())
    assert(rows.length == 14286)
    assert(run.stages.nonEmpty)
    assert(run.shuffleWriteBytes == 0L, run.stages)
  }

  test("counters are complete when record returns: five runs agree") {
    val runs = (1 to 5).map(_ => Metrics.record(spark)(shuffleJob())._2)
    assert(runs.map(_.stages.size).distinct.size == 1,
      runs.map(_.stages.size))
    assert(runs.map(_.shuffleWriteBytes).distinct.size == 1,
      runs.map(_.shuffleWriteBytes))
    assert(runs.head.shuffleWriteBytes > 0L)
  }

  test("a throwing body propagates and leaves no listener behind") {
    val sc = spark.sparkContext
    val before = ListenerCount(sc)
    val e = intercept[IllegalStateException] {
      Metrics.record(spark) {
        spark.range(10L).count()
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(ListenerCount(sc) == before)
  }
}
