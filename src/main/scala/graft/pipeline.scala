package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** End-to-end batch pipeline: parse → enrich → route → aggregate
  * (SURVEY.md §3.2 Spark analog). parse/enrich/route are narrow
  * transformations fused by whole-stage codegen (broadcast joins are
  * narrow); the only shuffles are the two aggregates.
  */
final case class PipelineResult(
    routed: DataFrame,
    sinkCounts: DataFrame,
    convRollup: DataFrame)

object Pipeline {

  def defaultSession(master: String = "local[*]", appName: String = "graft"): SparkSession =
    SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(NioLocalFileSystem.SessionConf)
      .getOrCreate()

  /** Pure transform portion (no writes) — shared by batch and streaming. */
  def transform(turns: DataFrame, roleDim: DataFrame, toolDim: DataFrame,
                sinks: Seq[SinkSpec] = Route.defaultSinks,
                useGrok: Boolean = true): DataFrame = {
    val parsed = if (useGrok) Parse.parseGrok(turns) else Parse.parse(turns)
    val enriched = Enrich.enrich(parsed, roleDim, toolDim)
    Route.assign(enriched, sinks)
  }

  /** Full batch run with fanout write + aggregates + lineage.
    * The routed frame is persisted once (cloningfanout analog) because three
    * consumers read it: the partitioned write and both aggregates.
    * `convClustered`: pass true when `turns` comes from a conv-bucketed
    * scan ([[BucketedCorpus.open]]) — selects [[Aggregate.saltFor]]'s
    * shuffle-free salt.
    */
  def runBatch(spark: SparkSession, turns: DataFrame, outDir: String,
               sinks: Seq[SinkSpec] = Route.defaultSinks,
               obs: Option[ObsMetrics] = None,
               batchId: Long = 0L,
               config: Option[PipelineConfig] = None,
               convClustered: Boolean = false): PipelineResult = {
    val roleDim = TranscriptGen.roleDim(spark).toDF()
    val toolDim = TranscriptGen.toolDim(spark).toDF()
    val routed = config
      .map(c => PipelineConfig.transform(spark, turns, c))
      .getOrElse(transform(turns, roleDim, toolDim, sinks))
      .persist()
    // The bitmask rollup is bound to the default tool vocabulary; a
    // config-driven topology can extract tool names outside it (mask 0 →
    // silent undercount), so config runs take the set-based rollup instead.
    val maskSafe = config.isEmpty
    // partials is tiny (one row per (conv_id, salt, sink)) but feeds BOTH
    // final aggregates — persist it or the full-data salted shuffle over
    // routed runs twice (Spark does not reuse exchanges across queries).
    val partials =
      if (maskSafe)
        Some(Aggregate.partials(routed,
          salt = Aggregate.saltFor(convClustered)).persist())
      else None
    try {
      Route.writePartitioned(routed, s"$outDir/routed")
      val counts = partials.map(Aggregate.sinkCountsFromPartials)
        .getOrElse(Aggregate.sinkCounts(routed))
      val rollup = partials.map(Aggregate.convRollupFromPartials)
        .getOrElse(Aggregate.convRollup(routed, salt = config.map(_.salt)
          .getOrElse(Aggregate.DefaultSalt)))
      counts.write.mode("overwrite").parquet(s"$outDir/sink_counts")
      rollup.write.mode("overwrite").parquet(s"$outDir/conv_rollup")
      val n = Obs.writeLineage(routed, batchId, "route", outDir)
      obs.foreach { m =>
        m.sent("route").add(n)
        m.accepted("parse").add(n)
      }
      PipelineResult(
        spark.read.parquet(s"$outDir/routed"),
        spark.read.parquet(s"$outDir/sink_counts"),
        spark.read.parquet(s"$outDir/conv_rollup"))
    } finally {
      partials.foreach(_.unpersist())
      routed.unpersist()
    }
  }
}
