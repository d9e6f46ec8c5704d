package graft

import org.apache.spark.sql.functions._

/** Checkpoint-resume test (SURVEY.md §5.4; north rule "resumable from
  * checkpoint"): run the streaming pipeline over part of the corpus, stop
  * the query (the crash stand-in — Structured Streaming recovers from the
  * last committed offset in the checkpoint either way), add the rest of the
  * corpus, restart with the SAME checkpoint, and assert the final routed
  * state equals the single-shot batch run.
  */
class StreamingSpec extends SparkTestBase {

  test("streaming resume: two-session run ≡ single batch run") {
    val inputDir = tmpDir("stream-in")
    val outDir = tmpDir("stream-out")
    val ckptDir = tmpDir("stream-ckpt")

    val all = TranscriptGen.turns(spark, 300, seed = 42).drop("_truth").cache()
    val firstHalf = all.where(xxhash64(col("conv_id")) % 2 === 0)
    val secondHalf = all.where(xxhash64(col("conv_id")) % 2 =!= 0)

    // session 1: only half the files exist; process everything, then stop
    firstHalf.repartition(4).write.mode("append").parquet(inputDir)
    val q1 = StreamingPipeline.start(spark, inputDir, outDir, ckptDir,
      maxFilesPerTrigger = 2)
    q1.processAllAvailable()
    q1.stop()

    // session 2: more files arrive; restart from the SAME checkpoint
    secondHalf.repartition(4).write.mode("append").parquet(inputDir)
    val q2 = StreamingPipeline.start(spark, inputDir, outDir, ckptDir,
      maxFilesPerTrigger = 2)
    q2.processAllAvailable()
    q2.stop()

    val streamed = StreamingPipeline.readRouted(spark, outDir)
      .select("conv_id", "turn_idx", "text", Route.SinkCol)
    val batch = Pipeline.transform(all,
        TranscriptGen.roleDim(spark).toDF(), TranscriptGen.toolDim(spark).toDF())
      .select("conv_id", "turn_idx", "text", Route.SinkCol)

    // sent == received, field equality AND identical routing decisions
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)

    // per-batch sink counts sum to the batch-mode sink counts
    val streamCounts = spark.read
      .option("basePath", s"$outDir/sink_counts")
      .parquet(s"$outDir/sink_counts/batch_id=*")
      .groupBy(Route.SinkCol).agg(sum("n_turns").as("n_turns"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batchCounts = Aggregate.sinkCounts(batch.toDF())
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamCounts === batchCounts)
    all.unpersist()
  }

  test("Schemas.turn is the schema readers of turn files report") {
    val dir = tmpDir("stream-schema")
    TranscriptGen.turns(spark, 10, seed = 3).drop("_truth")
      .write.mode("append").parquet(dir)
    assert(spark.readStream.schema(Schemas.turn).parquet(dir).schema ===
      Schemas.turn)
    assert(spark.read.parquet(dir).schema === Schemas.turn)
  }

  test("config streaming commits like start: counts, lineage, route/sent") {
    val inputDir = tmpDir("cfg-commit-in")
    val outDir = tmpDir("cfg-commit-out")
    val ckptDir = tmpDir("cfg-commit-ckpt")
    val turns = TranscriptGen.turnsDs(spark, 100).toDF()
    turns.repartition(3).write.mode("append").parquet(inputDir)
    val obs = new ObsMetrics(spark)
    val listener = new ObsStreamingListener(obs)
    spark.streams.addListener(listener)
    val n = turns.count()
    try {
      val q = StreamingPipeline.start(spark, inputDir, outDir, ckptDir,
        cfg = PipelineConfig.default,
        maxFilesPerTrigger = 2, obs = Some(obs))
      q.processAllAvailable()
      q.stop()
      // listener events are async — poll briefly
      val deadline = System.nanoTime() + 10L * 1000000000L
      while (obs.accepted("stream_route").value < n &&
             System.nanoTime() < deadline) Thread.sleep(100)
    } finally spark.streams.removeListener(listener)

    def total(dir: String, c: String): Long =
      spark.read.parquet(s"$outDir/$dir/batch_id=*").agg(sum(c)).head().getLong(0)
    assert(total("_lineage/stage=route", "rows") === n)
    assert(total("sink_counts", "n_turns") === n)
    assert(obs.snapshot("route/sent") === n)
    assert(obs.snapshot("stream_route/accepted") === n)

    // each micro-batch's routed write: at most dirs + P - 1 part files
    val p = spark.sparkContext.defaultParallelism
    val batches = new java.io.File(s"$outDir/routed").listFiles()
      .filter(_.getName.startsWith("batch_id=")).map(_.getPath)
    assert(batches.nonEmpty)
    batches.foreach { b =>
      val dirs = spark.read.parquet(b)
        .select(Route.PartitionCols.map(col): _*).distinct().count()
      val files = partFiles(b).size
      assert(files <= dirs + p - 1, s"$b: $files files for $dirs directories, P = $p")
    }
  }

  test("watermarked tumbling-window counts ≡ batch window aggregation") {
    val inputDir = tmpDir("wstream-in")
    val outDir = tmpDir("wstream-out")
    val ckptDir = tmpDir("wstream-ckpt")

    val turns = TranscriptGen.turns(spark, 150, seed = 42).drop("_truth").cache()
    turns.repartition(3).write.mode("append").parquet(inputDir)

    val q = StreamingPipeline.startWindowedCounts(spark, inputDir, outDir, ckptDir)
    q.processAllAvailable()
    // push the watermark past every real window end so all windows close
    import spark.implicits._
    Seq(Turn("conv-flush", 0, "user", "tool=none status=OK latency=1ms", "",
      java.sql.Timestamp.valueOf("2025-06-01 00:00:00")))
      .toDS().toDF().write.mode("append").parquet(inputDir)
    q.processAllAvailable()
    q.stop()

    val streamed = spark.read.parquet(s"$outDir/windowed_counts")
      .where(col("window_start") < "2025-01-01")
    val batch = Pipeline.transform(turns,
        TranscriptGen.roleDim(spark).toDF(), TranscriptGen.toolDim(spark).toDF())
      .groupBy(window(col("ts"), "1 hour"), col(Route.SinkCol))
      .agg(count(lit(1)).as("n_turns"), sum(col("latency_ms")).as("sum_latency_ms"))
      .select(col("window.start").as("window_start"), col(Route.SinkCol),
        col("n_turns"), col("sum_latency_ms"))
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      s"streamed=${streamed.count()} batch=${batch.count()}")
    turns.unpersist()
  }

  test("streaming session_window ≡ batch session_window") {
    import spark.implicits._
    val inputDir = tmpDir("sess-in")
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(col("event_id"), col("user_id"), col("ts"))
    events.repartition(3).write.mode("append").parquet(inputDir)
    def sessions(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("ws"),
        col("session_window.end").as("we"), col("n_events"))
    // the sf tables store ts as TIMESTAMP_NTZ; event-time watermarks need
    // TIMESTAMP — cast inside the stream (session is UTC, values identical)
    val q = sessions(
        spark.readStream.schema(events.schema).parquet(inputDir)
          .withColumn("ts", col("ts").cast("timestamp"))
          .withWatermark("ts", "0 seconds"))
      .writeStream.format("memory").queryName("sess_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    // push the watermark past every real session end so all sessions close
    Seq((999999L, -1L, "2030-01-01 00:00:00"))
      .toDF("event_id", "user_id", "s")
      .select(col("event_id"), col("user_id"),
        to_timestamp_ntz(col("s")).as("ts"))
      .write.mode("append").parquet(inputDir)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sess_stream").where(col("ws") < "2029-01-01")
    val batch = sessions(events.withColumn("ts", col("ts").cast("timestamp")))
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      s"streamed=${streamed.count()} batch=${batch.count()}")
    assert(batch.count() > 0)
  }

  test("restart with no new data is a no-op (idempotent resume)") {
    val inputDir = tmpDir("stream-in2")
    val outDir = tmpDir("stream-out2")
    val ckptDir = tmpDir("stream-ckpt2")

    val turns = TranscriptGen.turns(spark, 80, seed = 7).drop("_truth")
    turns.repartition(3).write.mode("append").parquet(inputDir)

    val q1 = StreamingPipeline.start(spark, inputDir, outDir, ckptDir)
    q1.processAllAvailable(); q1.stop()
    val n1 = StreamingPipeline.readRouted(spark, outDir).count()

    val q2 = StreamingPipeline.start(spark, inputDir, outDir, ckptDir)
    q2.processAllAvailable(); q2.stop()
    val n2 = StreamingPipeline.readRouted(spark, outDir).count()

    assert(n1 === turns.count() && n2 === n1)
  }
}
