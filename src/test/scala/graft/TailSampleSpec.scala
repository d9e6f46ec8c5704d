package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

/** Tail-sampling analog (SURVEY.md §2.13): conversations are buffered as
  * bounded state, decided `decision_wait` after their last event time, and
  * the emitted rollups must equal the batch aggregate.
  */
class TailSampleSpec extends SparkTestBase {

  test("decideBatch: a grok miss is not a tool") {
    import spark.implicits._
    val ts = Timestamp.valueOf("2024-01-01 00:00:00")
    val turns = Seq(
      Turn("c1", 0, "assistant", "tool=search status=OK latency=5ms", "search", ts),
      Turn("c1", 1, "assistant", "no tool token here", "", ts)).toDS().toDF()
    val r = TailSample.decideBatch(Parse.parseGrok(turns),
      Seq(TailSample.TailPolicy.StatusCode)).head()
    assert(r.getAs[Long]("n_turns") === 2L)
    assert(r.getAs[Int]("n_tools_distinct") === 1)
  }

  test("streaming conversation decisions ≡ batch rollup; error policy keeps errors") {
    val inputDir = tmpDir("tail-in")
    val outDir = tmpDir("tail-out")
    val ckptDir = tmpDir("tail-ckpt")

    val turns = TranscriptGen.turns(spark, 200, seed = 42).drop("_truth").cache()
    turns.repartition(3).write.mode("append").parquet(inputDir)

    val q = TailSample.start(spark, inputDir, outDir, ckptDir,
      watermark = "10 minutes", decisionWait = "1 minute", pct = 10.0)
    q.processAllAvailable()

    // sentinel conversations far in the future push the watermark past
    // every real conversation's (last_ts + decision_wait); the timeout-only
    // batch may need one extra trigger, so drop sentinels until all real
    // conversations have been decided
    import spark.implicits._
    val expected = AggregateSpec.convRollupUnsalted(Parse.parseGrok(turns))
    val nExpected = expected.count()
    var attempt = 0
    def decided(): Long =
      try spark.read.parquet(s"$outDir/decisions")
        .where(!col("conv_id").startsWith("conv-sentinel")).count()
      catch { case _: Throwable => 0L }
    while (decided() < nExpected && attempt < 5) {
      Seq(Turn(s"conv-sentinel-$attempt", 0, "user",
        "tool=none status=OK latency=1ms", "",
        Timestamp.valueOf(s"2025-06-0${attempt + 1} 00:00:00")))
        .toDS().toDF().write.mode("append").parquet(inputDir)
      q.processAllAvailable()
      attempt += 1
    }
    q.stop()

    val decisions = spark.read.parquet(s"$outDir/decisions")
      .where(!col("conv_id").startsWith("conv-sentinel"))

    assert(decisions.count() === expected.count())
    val got = decisions.select("conv_id", "n_turns", "n_errors",
      "n_tools_distinct", "first_ts", "last_ts", "sum_latency_ms")
    val want = expected.select(col("conv_id"), col("n_turns"), col("n_errors"),
      col("n_tools_distinct").cast("int"), col("first_ts"), col("last_ts"),
      col("sum_latency_ms"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)

    // policy: every error conversation is kept (always-error policy)
    assert(decisions.where(col("n_errors") > 0 && !col("sampled")).count() === 0)
    // and the probabilistic arm keeps a strict subset of the rest
    val rest = decisions.where(col("n_errors") === 0)
    val kept = rest.where(col("sampled")).count()
    assert(kept < rest.count())
    turns.unpersist()
  }
}
