package graft

import org.apache.spark.sql.functions._

class RouteSpec extends SparkTestBase {

  test("routed outputs partition the input (disjoint + complete)") {
    val turns = TranscriptGen.turns(spark, 400, seed = 42).drop("_truth")
    val routed = Pipeline.transform(turns,
      TranscriptGen.roleDim(spark).toDF(), TranscriptGen.toolDim(spark).toDF())
    // complete: every row got exactly one sink
    assert(routed.where(col(Route.SinkCol).isNull).count() === 0)
    assert(routed.count() === turns.count())
    // routed union == input on (conv_id, turn_idx, text) — the testbed
    // sent==received invariant (SURVEY.md §5)
    val in = turns.select("conv_id", "turn_idx", "text")
    val out = routed.select("conv_id", "turn_idx", "text")
    assert(in.exceptAll(out).isEmpty && out.exceptAll(in).isEmpty)
  }

  test("first-match-wins on overlapping predicates") {
    val turns = TranscriptGen.turns(spark, 100, seed = 42).drop("_truth")
    val parsed = Parse.parseGrok(turns)
    val overlapping = Seq(
      SinkSpec("a", col("latency_ms") >= 0),        // matches everything
      SinkSpec("b", col("latency_ms") >= 0))
    val routed = Route.assign(parsed, overlapping)
    val sinks = routed.select(Route.SinkCol).distinct().collect().map(_.getString(0)).toSet
    assert(sinks === Set("a"))
  }

  test("per-sink counts equal independently computed predicate counts") {
    val turns = TranscriptGen.turns(spark, 400, seed = 42).drop("_truth")
    val parsed = Enrich.enrich(Parse.parseGrok(turns),
      TranscriptGen.roleDim(spark).toDF(), TranscriptGen.toolDim(spark).toDF())
    val routed = Route.assign(parsed, Route.defaultSinks)
    val counts = Aggregate.sinkCounts(routed).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val nSearch = parsed.where(col("tool_invoked").isin("search", "browse", "fetch")).count()
    val nErr = parsed.where(!col("tool_invoked").isin("search", "browse", "fetch") &&
      col("err_code").rlike("^E5")).count()
    val nAll = parsed.count()
    assert(counts("tool_search") === nSearch)
    assert(counts("errors") === nErr)
    assert(counts("rest") === nAll - nSearch - nErr)
  }

  test("partitioned write round-trips") {
    val turns = TranscriptGen.turns(spark, 120, seed = 7).drop("_truth")
    val routed = Pipeline.transform(turns,
      TranscriptGen.roleDim(spark).toDF(), TranscriptGen.toolDim(spark).toDF())
    val d1 = tmpDir("route-part")
    Route.writePartitioned(routed, d1)
    val back = spark.read.parquet(d1)
    assert(back.count() === turns.count())
  }
}
