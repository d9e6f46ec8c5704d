package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured-Streaming runner — checkpoint-resumable parse→enrich→route
  * with idempotent per-batch sink commits (SURVEY.md §2.2 exporterhelper
  * mapping; north rule "resumable from checkpoint").
  *
  * Idempotence: each micro-batch writes to a deterministic
  * `batch_id=<id>` directory with mode("overwrite"). If the query dies
  * after writing but before the checkpoint commit, the replayed batch
  * overwrites the same directory with identical bytes (every expression in
  * the pipeline is deterministic) — exactly-once effective semantics, the
  * Spark analog of queued_retry's at-least-once + dedup-by-idempotence.
  *
  * The batchprocessor analog (§2.5): `Trigger.ProcessingTime` is the timeout
  * flush; `maxFilesPerTrigger` is the size flush.
  */
object StreamingPipeline {

  def start(spark: SparkSession, inputDir: String, outDir: String,
            checkpointDir: String,
            sinks: Seq[SinkSpec] = Route.defaultSinks,
            triggerMs: Long = 200L,
            maxFilesPerTrigger: Int = 8,
            maxBytesPerTrigger: Option[Long] = None,
            obs: Option[ObsMetrics] = None): StreamingQuery = {
    val roleDim = TranscriptGen.roleDim(spark).toDF()
    val toolDim = TranscriptGen.toolDim(spark).toDF()

    // batchprocessor flush triad (§2.5): ProcessingTime = timeout flush,
    // maxFilesPerTrigger = count flush, maxBytesPerTrigger = size flush.
    // Spark rejects count+size set together (FileStreamOptions), exactly
    // like the reference's send_batch_size vs send_batch_max_size split —
    // a size flush replaces the count flush.
    val reader = spark.readStream.schema(Schemas.turn)
    maxBytesPerTrigger match {
      case Some(b) => reader.option("maxBytesPerTrigger", b)
      case None    => reader.option("maxFilesPerTrigger", maxFilesPerTrigger)
    }
    val stream = reader
      .parquet(inputDir)
      .withWatermark("ts", "10 minutes")

    // observe tag → per-micro-batch rows/null-keys on every
    // StreamingQueryProgress (harvested by ObsStreamingListener)
    val routed = Obs.observed(
      Pipeline.transform(stream, roleDim, toolDim, sinks), "stream_route")

    routed.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val cached = batch.persist()
        try {
          // idempotent: deterministic dir per (sink, batchId), overwrite
          Route.writePartitioned(cached, s"$outDir/routed/batch_id=$batchId")
          Aggregate.sinkCounts(cached)
            .withColumn("batch_id", lit(batchId))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(s"$outDir/sink_counts/batch_id=$batchId")
          val sentRows = Obs.writeLineage(cached, batchId, "route", outDir)
          obs.foreach(_.sent("route").add(sentRows))
        } finally { cached.unpersist() }
        ()
      }
      .start()
  }

  /** Config-driven streaming topology — the streaming twin of
    * `Pipeline.runBatch(config=…)`: grok pattern, sampling, and sink
    * predicates come from [[PipelineConfig]] JSON (the reference's
    * YAML-driven service startup, SURVEY.md §3.1). All config-compiled
    * stages are narrow/broadcast, so the streaming plan is identical in
    * shape to the coded one.
    */
  def startWithConfig(spark: SparkSession, inputDir: String, outDir: String,
                      checkpointDir: String, cfg: PipelineConfig,
                      triggerMs: Long = 200L,
                      maxFilesPerTrigger: Int = 8): StreamingQuery = {
    val stream = spark.readStream
      .schema(Schemas.turn)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inputDir)
      .withWatermark("ts", "10 minutes")
    val routed = PipelineConfig.transform(spark, stream, cfg)
    routed.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Route.writePartitioned(batch, s"$outDir/routed/batch_id=$batchId")
      }
      .start()
  }

  /** Batch-mode count-flush analog (batchprocessor `send_batch_size`,
    * SURVEY.md §2.5): number rows within each key group in a stable order
    * and cut every `size` rows — batch n = rows [n·size, (n+1)·size).
    * The per-key window shuffle is the cost of the reference's ORDERED
    * batch semantics; at scale the key (here: sink) bounds each window
    * partition, and hot sinks rely on AQE skew split of the sort.
    */
  def countBatches(df: DataFrame, size: Int,
                   keyCols: Seq[String] = Seq(Route.SinkCol),
                   orderCols: Seq[String] = Seq("conv_id", "turn_idx")): DataFrame = {
    require(size > 0, s"batch size must be positive: $size")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*).orderBy(orderCols.map(col): _*)
    // floor, not cast: Column `/` is double division and DuckDB CAST
    // rounds while Spark truncates — floor agrees everywhere
    df.withColumn("batch_idx",
      floor((row_number().over(w) - 1) / size).cast("int"))
  }

  /** Read back everything the streaming run routed (all batches). */
  def readRouted(spark: SparkSession, outDir: String): DataFrame =
    spark.read
      .option("basePath", s"$outDir/routed")
      .parquet(s"$outDir/routed/batch_id=*")

  /** Watermarked event-time tumbling-window aggregation in append mode —
    * the prometheusexporter-style accumulation done properly in streaming
    * (SURVEY.md §2.7/§2.13): per (window, sink) turn counts + latency sums,
    * emitted once per window when the watermark passes window end; late
    * turns past the watermark are dropped by the engine (the §2.12
    * `dropped` taxonomy, observable on StreamingQueryProgress
    * `stateOperators.numRowsDroppedByWatermark`).
    */
  def startWindowedCounts(spark: SparkSession, inputDir: String,
                          outDir: String, checkpointDir: String,
                          watermark: String = "10 minutes",
                          windowLen: String = "1 hour",
                          sinks: Seq[SinkSpec] = Route.defaultSinks): StreamingQuery = {
    val roleDim = TranscriptGen.roleDim(spark).toDF()
    val toolDim = TranscriptGen.toolDim(spark).toDF()
    val routed = Pipeline.transform(
      spark.readStream.schema(Schemas.turn).parquet(inputDir)
        .withWatermark("ts", watermark),
      roleDim, toolDim, sinks)
    routed
      .groupBy(window(col("ts"), windowLen), col(Route.SinkCol))
      .agg(count(lit(1)).as("n_turns"),
        sum(col("latency_ms")).as("sum_latency_ms"))
      .select(col("window.start").as("window_start"), col(Route.SinkCol),
        col("n_turns"), col("sum_latency_ms"))
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .format("parquet")
      .option("path", s"$outDir/windowed_counts")
      .start()
  }
}
