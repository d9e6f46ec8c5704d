package graft

import org.apache.spark.sql.functions._

/** obsreport taxonomy (SURVEY.md §2.12): accumulators, observe-tag harvest
  * via QueryExecutionListener, and the per-partition lineage table.
  */
class ObsSpec extends SparkTestBase {

  test("ObsQueryListener harvests observe metrics into counters") {
    val metrics = new ObsMetrics(spark)
    val listener = new ObsQueryListener(metrics)
    spark.listenerManager.register(listener)
    try {
      val turns = TranscriptGen.turns(spark, 100, seed = 42).drop("_truth")
      val n = Obs.observed(Parse.parseGrok(turns), "parse").count()
      // listener bus is async — poll briefly
      val deadline = System.nanoTime() + 10_000_000_000L
      while (metrics.snapshot.getOrElse("parse/accepted", 0L) < n &&
             System.nanoTime() < deadline) Thread.sleep(50)
      assert(metrics.snapshot("parse/accepted") === n)
      assert(metrics.snapshot.getOrElse("parse/dropped", 0L) === 0L)
    } finally spark.listenerManager.unregister(listener)
  }

  test("lineage partition rows sum to frame size and cover all partitions") {
    val turns = TranscriptGen.turns(spark, 200, seed = 42).drop("_truth")
      .repartition(4)
    val out = tmpDir("obs-lineage")
    val n = Obs.writeLineage(turns, batchId = 7L, stage = "test", out)
    val rows = spark.read.parquet(s"$out/_lineage/stage=test/batch_id=7").collect()
    assert(n === turns.count())
    assert(rows.map(_.getAs[Long]("rows")).sum === n)
    assert(rows.length === 4)
    assert(rows.forall(_.getAs[Long]("batch_id") === 7L))
    assert(rows.map(_.getAs[Int]("partition_id")).distinct.length === rows.length)
  }

  test("counter taxonomy matches the reference names") {
    val metrics = new ObsMetrics(spark)
    metrics.accepted("receiver").add(10)
    metrics.refused("receiver").add(1)
    metrics.dropped("processor").add(2)
    metrics.sent("exporter").add(7)
    metrics.failed("exporter").add(3)
    assert(metrics.snapshot === Map(
      "receiver/accepted" -> 10L, "receiver/refused" -> 1L,
      "processor/dropped" -> 2L, "exporter/sent" -> 7L,
      "exporter/failed" -> 3L))
  }
}
