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
                sinks: Seq[SinkSpec] = Route.defaultSinks): DataFrame =
    Route.assign(Enrich.enrich(Parse.parseGrok(turns), roleDim, toolDim), sinks)

  /** Full batch run with fanout write + aggregates + lineage.
    * The routed frame is persisted once (cloningfanout analog) because four
    * consumers read it: the partitioned write, both aggregates and the
    * lineage. The four writes run concurrently ([[Commit.all]]); the frame
    * is unpersisted only after every write has ended.
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
    try {
      val counts = Aggregate.sinkCounts(routed)
      val rollup = Aggregate.convRollup(routed,
        salt = config.fold(Aggregate.saltFor(convClustered))(_.salt))
      var n = 0L
      Commit.all(
        () => Route.writePartitioned(routed, s"$outDir/routed"),
        () => counts.write.mode("overwrite").parquet(s"$outDir/sink_counts"),
        () => rollup.write.mode("overwrite").parquet(s"$outDir/conv_rollup"),
        () => n = Obs.writeLineage(routed, batchId, "route", outDir))
      obs.foreach { m =>
        m.sent("route").add(n)
        m.accepted("parse").add(n)
      }
      PipelineResult(
        readWritten(spark, routed, s"$outDir/routed", Route.PartitionCols),
        readWritten(spark, counts, s"$outDir/sink_counts"),
        readWritten(spark, rollup, s"$outDir/conv_rollup"))
    } finally routed.unpersist()
  }

  /** Open what was just written from `written` with the schema the write
    * produced (partition columns last, as a partitioned read lays them
    * out) instead of inferring it from file footers, a Spark job per
    * directory.
    */
  private def readWritten(spark: SparkSession, written: DataFrame, dir: String,
                          partitionCols: Seq[String] = Nil): DataFrame = {
    val s = written.schema
    val schema = org.apache.spark.sql.types.StructType(
      s.filterNot(f => partitionCols.contains(f.name)) ++ partitionCols.map(s(_)))
    spark.read.schema(schema).parquet(dir)
  }
}
