package graft

import org.apache.spark.sql.functions._

/** End-to-end batch pipeline test: parse→enrich→route→aggregate with the
  * fanout write, lineage table, and obsreport-style counters
  * (SURVEY.md §5.2 pipeline parity, §2.12 observability).
  */
class PipelineSpec extends SparkTestBase {

  test("runBatch: parity, aggregates, lineage, obs counters") {
    val outDir = tmpDir("pipe-out")
    val turns = TranscriptGen.turnsDs(spark, 300).toDF()
    val obs = new ObsMetrics(spark)
    val res = Pipeline.runBatch(spark, turns, outDir, obs = Some(obs))

    val nIn = turns.count()

    // routed union == input on the identity key (testbed sent==received)
    assert(res.routed.count() === nIn)
    val in = turns.select("conv_id", "turn_idx", "text")
    val out = res.routed.select("conv_id", "turn_idx", "text")
    assert(in.exceptAll(out).isEmpty && out.exceptAll(in).isEmpty)

    // sink counts sum to the input size; rollup covers every conversation
    val countSum = res.sinkCounts.agg(sum("n_turns")).head().getLong(0)
    assert(countSum === nIn)
    assert(res.convRollup.count() ===
      turns.select("conv_id").distinct().count())
    assert(res.convRollup.agg(sum("n_turns")).head().getLong(0) === nIn)

    // lineage: per-partition rows sum to the batch size
    val lineage = spark.read.parquet(s"$outDir/_lineage/stage=route/batch_id=0")
    assert(lineage.agg(sum("rows")).head().getLong(0) === nIn)

    // obsreport counters harvested on the driver
    assert(obs.snapshot("route/sent") === nIn)
    assert(obs.snapshot("parse/accepted") === nIn)
  }

  test("a grok miss is not a tool: default and config runBatch agree") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // c2: a tool outside TranscriptGen.toolNames counts like any other
    val turns = Seq(
      ("c1", 0, "assistant", "tool=search status=OK latency=5ms", "search", ts),
      ("c1", 1, "assistant", "no tool token here", "", ts),
      ("c2", 0, "assistant", "tool=search status=OK latency=5ms", "search", ts),
      ("c2", 1, "assistant", "tool=my_tool status=OK latency=7ms", "my_tool", ts))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    Seq(
      ("default", None, Map("tool_search" -> 2L, Route.RestSink -> 2L)),
      ("config", Some(PipelineSpec.toolsSalted),
        Map("tools" -> 3L, Route.RestSink -> 1L))
    ).foreach { case (name, config, sinks) =>
      val res = Pipeline.runBatch(spark, turns, tmpDir(s"pipe-miss-$name"),
        config = config)
      assert(res.sinkCounts.collect().map(r =>
        r.getAs[String](Route.SinkCol) -> r.getAs[Long]("n_turns")).toMap === sinks, name)
      val r = res.convRollup.collect().map(r => r.getAs[String]("conv_id") -> r).toMap
      assert(r("c1").getAs[Long]("n_turns") === 2L, name)
      assert(r("c1").getAs[Int]("n_tools_distinct") === 1, name)
      assert(r("c2").getAs[Int]("n_tools_distinct") === 2, name)
    }
  }

  test("enrich is a broadcast join and parse pushes the scan down") {
    val outDir = tmpDir("pipe-plan")
    val turns = TranscriptGen.turnsDs(spark, 50).toDF()
    turns.write.mode("overwrite").parquet(s"$outDir/turns")
    val fromDisk = spark.read.parquet(s"$outDir/turns")
    val routed = Pipeline.transform(fromDisk,
      TranscriptGen.roleDim(spark).toDF(), TranscriptGen.toolDim(spark).toDF())
    val plan = routed.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    // no shuffle anywhere in parse→enrich→route
    assert(!plan.contains("Exchange hashpartitioning"), plan)
  }
}

object PipelineSpec {

  /** A second topology for default-vs-config cases: one `tools` sink
    * instead of `tool_search`/`errors`, and a 4-way rollup salt instead of
    * 16.
    */
  val toolsSalted: PipelineConfig = PipelineConfig.default.copy(
    sinks = Seq(SinkConfig("tools", "tool_invoked <> ''")), salt = 4)
}
