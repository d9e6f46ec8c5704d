package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class AggregateSpec extends SparkTestBase {

  test("salted rollup ≡ unsalted rollup on skewed corpus") {
    val turns = TranscriptGen.turns(spark, 500, seed = 42).drop("_truth")
    val parsed = Parse.parseGrok(turns)
    val salted = Aggregate.convRollup(parsed, salt = 16)
      .withColumn("n_tools_distinct", col("n_tools_distinct").cast("long"))
    val plain = AggregateSpec.convRollupUnsalted(parsed)
      .withColumn("n_tools_distinct", col("n_tools_distinct").cast("long"))
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("one-pass partials path ≡ direct aggregates") {
    val turns = TranscriptGen.turns(spark, 400, seed = 42).drop("_truth")
    val routed = Route.assign(Parse.parseGrok(turns), PipelineConfig.default.sinkSpecs)
    val partials = Aggregate.partials(routed).cache()
    val counts = Aggregate.sinkCountsFromPartials(partials)
    val rollup = Aggregate.convRollupFromPartials(partials)
      .withColumn("n_tools_distinct", col("n_tools_distinct").cast("long"))
    val countsDirect = Aggregate.sinkCounts(routed)
    val rollupDirect = AggregateSpec.convRollupUnsalted(routed)
      .withColumn("n_tools_distinct", col("n_tools_distinct").cast("long"))
    assert(counts.exceptAll(countsDirect).isEmpty &&
      countsDirect.exceptAll(counts).isEmpty)
    assert(rollup.exceptAll(rollupDirect).isEmpty &&
      rollupDirect.exceptAll(rollup).isEmpty)
    partials.unpersist()
  }

  test("rollup values match a hand-computed conversation") {
    val turns = TranscriptGen.turns(spark, 50, seed = 42).drop("_truth")
    val parsed = Parse.parseGrok(turns)
    val conv = parsed.groupBy("conv_id").count().orderBy(desc("count")).head().getString(0)
    val rows = parsed.where(col("conv_id") === conv).collect()
    val r = Aggregate.convRollup(parsed).where(col("conv_id") === conv).head()
    assert(r.getAs[Long]("n_turns") === rows.length)
    assert(r.getAs[Long]("n_errors") === rows.count(_.getAs[String]("err_code") != null))
    assert(r.getAs[Int]("n_tools_distinct") ===
      rows.map(_.getAs[String]("tool_invoked")).filter(_ != "none").distinct.length)
    assert(r.getAs[Long]("sum_latency_ms") === rows.map(_.getAs[Long]("latency_ms")).sum)
  }

  test("salted plan really has two aggregate phases on distinct path") {
    val turns = TranscriptGen.turns(spark, 50, seed = 42).drop("_truth")
    val plan = Aggregate.convRollup(Parse.parseGrok(turns)).queryExecution.executedPlan.toString
    // two-phase: partial+final of stage1 (conv_id, _salt) then stage2 (conv_id)
    assert("HashAggregate".r.findAllIn(plan).size >= 4, plan)
  }
}

object AggregateSpec {

  /** Unsalted single-phase rollup — the correctness oracle for the salted
    * [[Aggregate.convRollup]] (results must be identical).
    */
  def convRollupUnsalted(parsed: DataFrame): DataFrame =
    parsed.groupBy(col("conv_id")).agg(
      count(lit(1)).as("n_turns"),
      sum(when(col("err_code").isNotNull, 1L).otherwise(0L)).as("n_errors"),
      count_distinct(Aggregate.countedTool(col("tool_invoked"))).cast("int")
        .as("n_tools_distinct"),
      min(col("ts")).as("first_ts"),
      max(col("ts")).as("last_ts"),
      sum(col("latency_ms")).as("sum_latency_ms"))
}
