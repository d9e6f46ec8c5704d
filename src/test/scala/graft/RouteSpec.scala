package graft

import org.apache.spark.sql.{DataFrame, Row}
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
    val routed = Route.assign(parsed, PipelineConfig.default.sinkSpecs)
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

  private def routedOf(nConvs: Long, seed: Long): DataFrame =
    Pipeline.transform(TranscriptGen.turns(spark, nConvs, seed = seed).drop("_truth"),
      TranscriptGen.roleDim(spark).toDF(), TranscriptGen.toolDim(spark).toDF())

  private def p: Int = spark.sparkContext.defaultParallelism

  /** What a partitioned read gives back for `routed`: partition columns
    * last, and an empty partition value reads as NULL.
    */
  private def asReadBack(routed: DataFrame): DataFrame = {
    val data = routed.columns.filterNot(Route.PartitionCols.contains).map(col)
    val parts = Route.PartitionCols.map(c =>
      when(col(c) === "", lit(null).cast("string")).otherwise(col(c)).as(c))
    routed.select(data ++ parts: _*)
  }

  private def assertRoundTrip(routed: DataFrame, dir: String): Unit = {
    val want = asReadBack(routed)
    val back = spark.read.parquet(dir).select(want.columns.map(col): _*)
    assert(want.exceptAll(back).isEmpty && back.exceptAll(want).isEmpty,
      s"want=${want.count()} back=${back.count()}")
  }

  /** Each part file, read alone, is in `(conv_id, turn_idx)` order. */
  private def assertFilesSorted(dir: String): Unit =
    partFiles(dir).foreach { f =>
      val keys = spark.read.parquet(f.toString).select("conv_id", "turn_idx")
        .collect().map(r => (Option(r.getString(0)), r.getInt(1))).toSeq
      assert(keys === keys.sorted, s"$f is not sorted by (conv_id, turn_idx)")
    }

  test("layout: a call writes at most dirs + P - 1 part files") {
    val routed = routedOf(400, seed = 11).repartition(8)
    val dir = tmpDir("route-bound")
    Route.writePartitioned(routed, dir)
    val dirs = routed.select(Route.PartitionCols.map(col): _*).distinct().count()
    val files = partFiles(dir).size
    assert(dirs > p, s"the input should span more directories than tasks: $dirs")
    assert(files <= dirs + p - 1, s"$files files for $dirs directories, P = $p")
    assertRoundTrip(routed, dir)
  }

  test("layout: a hot directory is split over P balanced files") {
    val routed = routedOf(400, seed = 13)
      .withColumn(Route.SinkCol, lit("rest"))
      .withColumn("tool_invoked", lit("none"))
      .withColumn("role", lit("user"))
      .coalesce(1)
    val dir = tmpDir("route-hot")
    Route.writePartitioned(routed, dir)
    val rows = spark.read.parquet(dir).groupBy(input_file_name()).count()
      .collect().map(_.getLong(1))
    assert(rows.length === p, s"row counts per file: ${rows.mkString(",")}")
    assert(rows.max <= 2 * rows.min, s"row counts per file: ${rows.mkString(",")}")
    assert(rows.sum === routed.count())
  }

  test("layout: every part file is sorted and the routed rows round-trip") {
    // rows arrive in reverse order, so only the write's own sort orders them
    val routed = routedOf(300, seed = 17)
      .orderBy(col("conv_id").desc, col("turn_idx").desc).cache()
    try {
      val dir = tmpDir("route-order")
      Route.writePartitioned(routed, dir)
      assertFilesSorted(dir)
      assertRoundTrip(routed, dir)
    } finally routed.unpersist()
  }

  test("layout: rows with NULL role or NULL conv_id round-trip") {
    val base = routedOf(120, seed = 19)
    val hostile = base.limit(40).withColumn("role", lit(null).cast("string"))
      .unionByName(base.limit(30).withColumn("conv_id", lit(null).cast("string")))
      .unionByName(base.limit(10).withColumn("role", lit(null).cast("string"))
        .withColumn("conv_id", lit(null).cast("string")))
    val routed = base.unionByName(hostile).cache()
    try {
      val dir = tmpDir("route-null")
      Route.writePartitioned(routed, dir)
      assertFilesSorted(dir)
      assertRoundTrip(routed, dir)
    } finally routed.unpersist()
  }

  test("layout: empty input commits and writes no part files") {
    def empty(schema: org.apache.spark.sql.types.StructType): DataFrame =
      spark.createDataFrame(spark.sparkContext.parallelize(Seq.empty[Row], 3), schema)

    val dir = tmpDir("route-empty")
    Route.writePartitioned(empty(routedOf(10, seed = 23).schema), dir)
    assert(partFiles(dir).isEmpty)

    val out = tmpDir("route-empty-batch")
    val res = Pipeline.runBatch(spark, empty(Schemas.turn), out)
    assert(partFiles(s"$out/routed").isEmpty)
    assert(res.routed.count() === 0L)
    assert(res.sinkCounts.count() === 0L)
  }
}
