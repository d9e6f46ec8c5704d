package graft

import org.apache.spark.sql.functions._

/** Physical-plan quality gates (the 100 TB checklist): filters reach the
  * parquet scan, projection prunes the read schema, small dims broadcast,
  * and the hot path stays inside whole-stage codegen. Uses the driver's
  * sf0.001 tables (read-only).
  */
class PlanSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter pushes down to the parquet scan") {
    val q = SparkEntry.queries("q_filter_project")(spark, sf)
    val plan = planOf(q)
    assert(plan.contains("PushedFilters: ["), plan.take(2000))
    assert(plan.contains("LessThan(l_shipdate") || plan.contains("l_shipdate"),
      plan.take(2000))
  }

  test("projection prunes the read schema to referenced columns") {
    val q = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    val plan = planOf(q)
    val readSchema = plan.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_quantity"),
      readSchema)
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_shipdate"),
      readSchema)
  }

  test("dimension joins broadcast; no sort-merge join in headline joins") {
    val plan = planOf(SparkEntry.queries("q_join_broadcast")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("grok parse stage stays inside whole-stage codegen") {
    val turns = TranscriptGen.turnsDs(spark, 100).toDF()
    val parsed = Parse.parseGrok(turns)
    parsed.count() // materialize so AQE finalizes and codegen nodes appear
    val plan = planOf(parsed)
    // the Project containing grok_extract must carry the `*(n)` whole-stage
    // codegen marker, not be a standalone (interpreted) Project
    val grokLine = plan.linesIterator
      .find(_.contains("grok_extract")).getOrElse("")
    assert(grokLine.nonEmpty, plan.take(2000))
    assert(grokLine.trim.stripPrefix("+- ").startsWith("*("), grokLine)
  }

  test("conv-bucketed corpus: whole rollup chain has no data exchange") {
    val dir = tmpDir("bkt")
    val turns = TranscriptGen.turnsDs(spark, 200).toDF()
    BucketedCorpus.write(turns, s"$dir/corpus", "graft_corpus_plan", buckets = 4)
    try {
      val opened = BucketedCorpus.open(spark, s"$dir/corpus",
        "graft_corpus_plan", 4)
      val routed = Pipeline.transform(opened,
        TranscriptGen.roleDim(spark).toDF(), TranscriptGen.toolDim(spark).toDF())
      val expected = Aggregate.convRollupFromPartials(
        Aggregate.partials(Pipeline.transform(turns.repartition(7),
          TranscriptGen.roleDim(spark).toDF(), TranscriptGen.toolDim(spark).toDF())))
      // the partials chain and the rollup runBatch takes on this layout
      Seq(Aggregate.convRollupFromPartials(Aggregate.partials(routed)),
          Aggregate.convRollup(routed, salt = Aggregate.saltFor(true))).foreach { rollup =>
        rollup.count()
        val plan = rollup.queryExecution.executedPlan.toString
        // HashPartitioning(conv_id) from the bucketed scan satisfies every
        // conv-keyed ClusteredDistribution → broadcast exchanges only
        assert(!plan.contains("Exchange hashpartitioning"), plan.take(4000))
        assert(!plan.contains("Exchange SinglePartition"), plan.take(4000))
        // and the zero-shuffle plan computes the same rollup as the scattered one
        assert(rollup.exceptAll(expected).isEmpty &&
          expected.exceptAll(rollup).isEmpty)
      }
    } finally spark.sql("DROP TABLE IF EXISTS graft_corpus_plan")
  }

  test("salted aggregation has map-side partial aggregation") {
    val turns = TranscriptGen.turns(spark, 100, seed = 42).drop("_truth")
    val routed = Route.assign(Parse.parseGrok(turns), PipelineConfig.default.sinkSpecs)
    // partial + final HashAggregate pair around each exchange, and no
    // ObjectHashAggregate (tool-keyed groups keep aggregation fixed-width)
    Seq(Aggregate.partials(routed), Aggregate.convRollup(routed)).foreach { df =>
      val plan = planOf(df)
      assert("HashAggregate".r.findAllIn(plan).size >= 2, plan.take(3000))
      assert(!plan.contains("ObjectHashAggregate"), plan.take(3000))
    }
  }
}
