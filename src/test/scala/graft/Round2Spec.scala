package graft

import org.apache.spark.sql.functions._

/** Round-2 parity additions: scoped attribute actions, count-based batch
  * flush, jaeger/OC translator round-trips, and batch↔tail-sampling
  * decision agreement.
  */
object Round2Spec {
  // shared with executor-side foreachBatch closures (local mode: same JVM)
  val failOnce = new java.util.concurrent.atomic.AtomicBoolean(false)
}

class Round2Spec extends SparkTestBase {
  import spark.implicits._

  test("processScoped applies actions only inside include∧¬exclude") {
    val df = Seq(
      (1L, "error", 100.0, Map("k" -> "v")),
      (2L, "error", 200.0, Map("k" -> "v")), // excluded by value > 150
      (3L, "click", 100.0, Map("k" -> "v"))  // not included
    ).toDF("id", "event_type", "value", "attrs")
    val out = AttrActions.processScoped(df, "attrs",
      Seq(AttrActions.Upsert("env", "prod"), AttrActions.Delete("k")),
      AttrActions.MatchProps(
        include = Some($"event_type" === "error"),
        exclude = Some($"value" > 150)))
      .select($"id", element_at($"attrs", "k").as("k"),
        element_at($"attrs", "env").as("env"))
      .as[(Long, Option[String], Option[String])].collect().toSet
    assert(out === Set(
      (1L, None, Some("prod")),      // matched: k deleted, env upserted
      (2L, Some("v"), None),         // excluded: untouched
      (3L, Some("v"), None)))        // not included: untouched
  }

  test("countBatches: full batches except the last, stable assignment") {
    val df = (0 until 250).map(i => (i % 2, i)).toDF("sink", "seq")
    val batched = StreamingPipeline.countBatches(df, size = 40,
      keyCols = Seq("sink"), orderCols = Seq("seq"))
    val sizes = batched.groupBy($"sink", $"batch_idx").count()
      .orderBy($"sink", $"batch_idx")
      .as[(Int, Int, Long)].collect()
    // 125 rows per sink → 3×40 + 5
    assert(sizes.filter(_._1 == 0).map(_._3).toSeq === Seq(40L, 40L, 40L, 5L))
    assert(sizes.filter(_._1 == 1).map(_._3).toSeq === Seq(40L, 40L, 40L, 5L))
    // deterministic: same batch for the same row on recompute
    val a = batched.select("sink", "seq", "batch_idx").collect().toSet
    val b = batched.select("sink", "seq", "batch_idx").collect().toSet
    assert(a === b)
  }

  test("jaeger translator round-trips the parse-relevant fields") {
    val parsed = Parse.parseGrok(TranscriptGen.turnsDs(spark, 30).toDF())
    val back = Translators.fromJaegerSpans(Translators.toJaegerSpans(parsed))
    val want = parsed.select($"conv_id", $"turn_idx", $"role",
      $"tool_invoked", $"ts", $"latency_ms")
    val got = back.select($"conv_id", $"turn_idx", $"role",
      $"tool_invoked", $"ts", $"latency_ms")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("opencensus translator round-trips incl. error status") {
    val parsed = Parse.parseGrok(TranscriptGen.turnsDs(spark, 30).toDF())
    val back = Translators.fromOpenCensusSpans(Translators.toOpenCensusSpans(parsed))
    val want = parsed.select($"conv_id", $"turn_idx", $"role",
      $"tool_invoked", $"ts", $"latency_ms", $"err_code")
    val got = back.select($"conv_id", $"turn_idx", $"role",
      $"tool_invoked", $"ts", $"latency_ms", $"err_code")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // error rows carry OC status code 2
    val oc = Translators.toOpenCensusSpans(parsed)
    assert(oc.where($"span.status.code" === 2).count() ===
      parsed.where($"err_code".isNotNull).count())
  }

  test("zipkin export → import round-trips the span fields") {
    val parsed = Parse.parseGrok(TranscriptGen.turnsDs(spark, 20).toDF())
    val back = Translators.fromZipkinJson(Translators.toZipkinJson(parsed), "json")
    val want = parsed.select($"conv_id".as("trace_id"),
      concat_ws(":", $"conv_id", $"turn_idx").as("span_id"),
      concat_ws("/", $"role", $"tool_invoked").as("name"),
      $"ts", $"latency_ms", lit("graft-collector").as("service"))
    val got = back.select($"trace_id", $"span_id", $"name", $"ts",
      $"latency_ms", $"service")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // error turns carry the error tag
    assert(Translators.fromZipkinJson(Translators.toZipkinJson(parsed), "json")
      .where(element_at($"tags", "error").isNotNull).count() ===
      parsed.where($"err_code".isNotNull).count())
  }

  test("multi-pipeline service: independent configs over one shared input") {
    val outDir = tmpDir("svc-out")
    val svc = ServiceConfig.fromJson(
      """{"pipelines": {
        |  "all": {
        |    "grok_pattern": "tool=(?<tool_invoked>[A-Za-z0-9_]+) status=(?<status>[A-Za-z0-9]+) latency=(?<latency_ms>[0-9]+)ms",
        |    "sinks": [{"name": "errors", "predicate": "err_code RLIKE '^E'"}]
        |  },
        |  "sampled": {
        |    "grok_pattern": "tool=(?<tool_invoked>[A-Za-z0-9_]+) status=(?<status>[A-Za-z0-9]+) latency=(?<latency_ms>[0-9]+)ms",
        |    "sample_pct": 10.0,
        |    "sinks": [{"name": "tools", "predicate": "tool_invoked <> 'none'"}]
        |  }
        |}}""".stripMargin)
    val turns = TranscriptGen.turnsDs(spark, 150).toDF()
    val results = ServiceConfig.runBatch(spark, turns, outDir, svc)
    assert(results.keySet === Set("all", "sampled"))
    // "all" sees every turn; "sampled" only the 10% conversation sample
    val nAll = results("all").routed.count()
    val nSampled = results("sampled").routed.count()
    assert(nAll === turns.count())
    assert(nSampled ===
      Sampler.sampleConversations(turns, 10.0).count())
    assert(nSampled < nAll)
    // per-pipeline sink taxonomies are independent
    assert(results("all").sinkCounts.select("sink").as[String].collect()
      .toSet.subsetOf(Set("errors", "rest")))
    assert(results("sampled").sinkCounts.select("sink").as[String].collect()
      .toSet.subsetOf(Set("tools", "rest")))
    // duplicate names rejected — including via JSON, where Jackson's
    // default last-wins parsing would silently drop the first pipeline
    intercept[IllegalArgumentException] {
      ServiceConfig(Seq("x" -> svc.pipelines.head._2,
        "x" -> svc.pipelines.head._2)).validated
    }
    intercept[Exception] {
      ServiceConfig.fromJson(
        """{"pipelines": {
          |  "x": {"grok_pattern": "t=(?<tool_invoked>\\w+)", "sinks": [{"name": "a", "predicate": "true"}]},
          |  "x": {"grok_pattern": "t=(?<tool_invoked>\\w+)", "sinks": [{"name": "b", "predicate": "true"}]}
          |}}""".stripMargin)
    }
    // a single-pipeline config mentioning "pipelines" in a sink name is
    // NOT a service config
    assert(!ServiceConfig.detect(
      """{"grok_pattern": "t=(?<tool_invoked>\\w+)",
        |"sinks": [{"name": "pipelines", "predicate": "true"}]}""".stripMargin))
  }

  test("streaming service: per-pipeline queries with independent checkpoints") {
    val inDir = tmpDir("svc-stream-in")
    val outDir = tmpDir("svc-stream-out")
    val ckpt = tmpDir("svc-stream-ckpt")
    val turns = TranscriptGen.turnsDs(spark, 80).toDF()
    turns.repartition(2).write.mode("append").parquet(inDir)
    val svc = ServiceConfig.fromJson(
      """{"pipelines": {
        |  "p1": {"grok_pattern": "tool=(?<tool_invoked>[A-Za-z0-9_]+) status=(?<status>[A-Za-z0-9]+) latency=(?<latency_ms>[0-9]+)ms",
        |         "sinks": [{"name": "errors", "predicate": "err_code IS NOT NULL"}]},
        |  "p2": {"grok_pattern": "tool=(?<tool_invoked>[A-Za-z0-9_]+) status=(?<status>[A-Za-z0-9]+) latency=(?<latency_ms>[0-9]+)ms",
        |         "sample_pct": 10.0,
        |         "sinks": [{"name": "all", "predicate": "true"}]}
        |}}""".stripMargin)
    val queries = ServiceConfig.startStreams(spark, inDir, outDir, ckpt, svc)
    try queries.values.foreach(_.processAllAvailable())
    finally queries.values.foreach(_.stop())
    def routedCount(p: String): Long =
      spark.read.option("basePath", s"$outDir/$p/routed")
        .parquet(s"$outDir/$p/routed/batch_id=*").count()
    assert(routedCount("p1") === turns.count())
    assert(routedCount("p2") ===
      Sampler.sampleConversations(turns, 10.0).count())
  }

  test("config-driven streaming topology routes like the config batch path") {
    val inDir = tmpDir("cfg-stream-in")
    val outDir = tmpDir("cfg-stream-out")
    val ckpt = tmpDir("cfg-stream-ckpt")
    val turns = TranscriptGen.turnsDs(spark, 100).toDF()
    turns.repartition(3).write.mode("append").parquet(inDir)
    val cfg = PipelineConfig.default
    val q = StreamingPipeline.start(spark, inDir, outDir, ckpt, cfg = cfg)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.read.option("basePath", s"$outDir/routed")
      .parquet(s"$outDir/routed/batch_id=*")
      .groupBy("sink").count()
    val batch = PipelineConfig.transform(spark, turns, cfg)
      .groupBy("sink").count()
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming obs listener harvests per-batch observe metrics") {
    val inDir = tmpDir("sobs-in")
    val outDir = tmpDir("sobs-out")
    val ckpt = tmpDir("sobs-ckpt")
    val metrics = new ObsMetrics(spark)
    val listener = new ObsStreamingListener(metrics)
    spark.streams.addListener(listener)
    try {
      val turns = TranscriptGen.turnsDs(spark, 60).toDF()
      turns.repartition(3).write.mode("append").parquet(inDir)
      val q = StreamingPipeline.start(spark, inDir, outDir, ckpt)
      q.processAllAvailable()
      q.stop()
      // listener events are async — poll briefly
      val deadline = System.nanoTime() + 10L * 1000000000L
      while (metrics.accepted("stream_route").value < turns.count() &&
             System.nanoTime() < deadline) Thread.sleep(100)
      assert(metrics.accepted("stream_route").value === turns.count())
      assert(metrics.dropped("stream_route").value === 0L)
    } finally spark.streams.removeListener(listener)
  }

  test("maxBytesPerTrigger size flush runs (replaces the count flush)") {
    val inDir = tmpDir("bytes-in")
    val outDir = tmpDir("bytes-out")
    val ckpt = tmpDir("bytes-ckpt")
    val turns = TranscriptGen.turnsDs(spark, 80).toDF()
    turns.repartition(4).write.mode("append").parquet(inDir)
    val q = StreamingPipeline.start(spark, inDir, outDir, ckpt,
      maxBytesPerTrigger = Some(64L * 1024))
    q.processAllAvailable()
    q.stop()
    assert(StreamingPipeline.readRouted(spark, outDir).count() === turns.count())
  }

  test("opening a bucketed corpus with the wrong bucket count fails fast") {
    val dir = tmpDir("bkt-mismatch")
    BucketedCorpus.write(TranscriptGen.turnsDs(spark, 20).toDF(),
      s"$dir/c", "graft_corpus_mm", buckets = 4)
    try {
      val e = intercept[IllegalArgumentException] {
        BucketedCorpus.open(spark, s"$dir/c", "graft_corpus_mm_other", 8)
      }
      assert(e.getMessage.contains("bucket-count mismatch"))
    } finally spark.sql("DROP TABLE IF EXISTS graft_corpus_mm")
  }

  test("bucketed corpus round-trips per-turn text under stable ordering") {
    val dir = tmpDir("bkt-rt")
    val turns = TranscriptGen.turnsDs(spark, 150).toDF()
    BucketedCorpus.write(turns, s"$dir/c", "graft_corpus_rt", buckets = 4)
    try {
      val back = BucketedCorpus.open(spark, s"$dir/c", "graft_corpus_rt", 4)
      // per-turn text equality under (conv_id, turn_idx) — the north-rule
      // row invariant — plus full-row round-trip
      val a = turns.orderBy("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "text").collect().toSeq
      val b = back.orderBy("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "text").collect().toSeq
      assert(a === b)
      assert(back.count() === turns.count())
      // SORTED BY gives within-file order without a sort at read time
      val firstBucket = back.where(spark_partition_id() === 0)
        .select("conv_id", "turn_idx").collect().toSeq
      assert(firstBucket === firstBucket.sortBy(r => (r.getString(0), r.getInt(1))))
    } finally spark.sql("DROP TABLE IF EXISTS graft_corpus_rt")
  }

  test("sink failure mid-stream → restart → exactly-once routed output") {
    // exporterhelper queue/retry analog: the sink dies while committing a
    // micro-batch; on restart the checkpoint replays it, the idempotent
    // per-batch overwrite dedups, and the union equals the batch run.
    val inDir = tmpDir("fail-in")
    val outDir = tmpDir("fail-out")
    val ckpt = tmpDir("fail-ckpt")
    val turns = TranscriptGen.turnsDs(spark, 120).toDF().cache()
    turns.repartition(6).write.mode("append").parquet(inDir)

    Round2Spec.failOnce.set(true)
    def startQuery() = {
      val roleDim = TranscriptGen.roleDim(spark).toDF()
      val toolDim = TranscriptGen.toolDim(spark).toDF()
      val routed = Pipeline.transform(
        spark.readStream.schema(Schemas.turn)
          .option("maxFilesPerTrigger", 2).parquet(inDir)
          .withWatermark("ts", "10 minutes"),
        roleDim, toolDim)
      routed.writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
          if (batchId >= 1 && Round2Spec.failOnce.compareAndSet(true, false))
            throw new RuntimeException("injected sink failure")
          batch.sortWithinPartitions(col("conv_id"), col("turn_idx"))
            .write.mode("overwrite")
            .partitionBy(Route.SinkCol, "tool_invoked", "role")
            .parquet(s"$outDir/routed/batch_id=$batchId")
          ()
        }
        .start()
    }

    val q1 = startQuery()
    val failed = try { q1.processAllAvailable(); false }
      catch { case _: Throwable => true }
    q1.stop()
    assert(failed, "injected failure must surface")

    val q2 = startQuery() // restart from checkpoint — replays the failed batch
    q2.processAllAvailable()
    q2.stop()

    val streamed = spark.read.option("basePath", s"$outDir/routed")
      .parquet(s"$outDir/routed/batch_id=*")
      .select("conv_id", "turn_idx", "text", Route.SinkCol)
    val batch = Pipeline.transform(turns,
      TranscriptGen.roleDim(spark).toDF(), TranscriptGen.toolDim(spark).toDF())
      .select("conv_id", "turn_idx", "text", Route.SinkCol)
    assert(streamed.count() === batch.count(), "no duplicates, no losses")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    turns.unpersist()
  }

  test("tail-sampling latency policy keeps slow conversations") {
    val fast = TailSample.ConvState(3L, 0L, Set.empty,
      1000000L, 2000000L, 10L)          // 1 s span
    val slow = fast.copy(lastTsUs = 1000000L + 120L * 1000000L) // 120 s span
    // pct = 0 so only the latency arm can keep
    assert(!TailSample.decide("conv-x", fast, 0.0, 22L,
      latencyKeepUs = 60L * 1000000L))
    assert(TailSample.decide("conv-x", slow, 0.0, 22L,
      latencyKeepUs = 60L * 1000000L))
    // error policy still dominates
    assert(TailSample.decide("conv-x", fast.copy(nErrors = 1L), 0.0, 22L,
      latencyKeepUs = 60L * 1000000L))
  }

  test("tail-sampling decide() ≡ Sampler.keepPredicate for every conv_id") {
    // includes non-ASCII ids: the hash must run over UTF-8 BYTES
    val ids = (0 until 200).map(i => s"conv-$i") ++
      Seq("conv-λ-1", "日本語-42", "émoji-🙂-7")
    val viaSql = ids.toDF("conv_id")
      .withColumn("keep", Sampler.keepPredicate($"conv_id", 10.0, seed = 22L))
      .as[(String, Boolean)].collect().toMap
    val st = TailSample.ConvState(1L, 0L, Set.empty, 0L, 0L, 0L)
    ids.foreach { id =>
      assert(TailSample.decide(id, st, 10.0, 22L) === viaSql(id),
        s"decision mismatch for $id")
    }
  }
}
