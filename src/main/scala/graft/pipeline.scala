package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** End-to-end batch pipeline: parse → enrich → route → aggregate → commit
  * (SURVEY.md §3.2 Spark analog). parse/enrich/route are narrow
  * transformations fused by whole-stage codegen (broadcast joins are
  * narrow). The shuffles are the two aggregates and the routed write's
  * range exchange ([[Route.writePartitioned]]). Every run, batch or
  * streaming, takes its topology from one [[PipelineConfig]].
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

  /** The routed frame of topology `cfg`: (sample) → parse → enrich →
    * route, with no writes. Every batch, streaming and service run builds
    * its routed rows here.
    */
  def transform(turns: DataFrame, roleDim: DataFrame, toolDim: DataFrame,
                cfg: PipelineConfig = PipelineConfig.default): DataFrame = {
    val sampled =
      if (cfg.samplePct >= 100.0) turns
      else Sampler.sampleConversations(turns, cfg.samplePct)
    Route.assign(
      Enrich.enrich(Parse.parseGrok(sampled, cfg.grokPattern), roleDim, toolDim),
      cfg.sinkSpecs)
  }

  /** Full batch run with fanout write + aggregates + lineage.
    * The routed frame is persisted once (cloningfanout analog) because
    * three consumers read it: the partitioned write, the rollup and the
    * one count ([[Obs.countRouted]]) that writes the lineage and
    * `sink_counts` and fills `obs`. They run concurrently ([[Commit.all]]);
    * the frame is unpersisted only after every write has ended.
    *
    * `config`: the topology; `None` means [[PipelineConfig.default]].
    * `convClustered`: pass true when `turns` comes from a conv-bucketed
    * scan ([[BucketedCorpus.open]]). The rollup's salt follows
    * [[Aggregate.saltFor]] on every topology: 1 on conv-clustered input,
    * else the config's `salt`.
    */
  def runBatch(spark: SparkSession, turns: DataFrame, outDir: String,
               obs: Option[ObsMetrics] = None,
               batchId: Long = 0L,
               config: Option[PipelineConfig] = None,
               convClustered: Boolean = false): PipelineResult = {
    val cfg = config.getOrElse(PipelineConfig.default)
    val routed = PipelineConfig.transform(spark, turns, cfg).persist()
    try {
      val rollup = Aggregate.convRollup(routed,
        salt = Aggregate.saltFor(convClustered, cfg.salt))
      Commit.all(
        () => Route.writePartitioned(routed, s"$outDir/routed"),
        () => rollup.write.mode("overwrite").parquet(s"$outDir/conv_rollup"),
        () => Obs.countRouted(routed, batchId, outDir, obs)(
          _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/sink_counts")))
      PipelineResult(
        readWritten(spark, routed.schema, s"$outDir/routed", Route.PartitionCols),
        readWritten(spark, Obs.SinkCountsSchema, s"$outDir/sink_counts"),
        readWritten(spark, rollup.schema, s"$outDir/conv_rollup"))
    } finally routed.unpersist()
  }

  /** Open what was just written with the schema `s` the write produced
    * (partition columns last, as a partitioned read lays them out) instead
    * of inferring it from file footers, a Spark job per directory.
    */
  private def readWritten(spark: SparkSession, s: StructType, dir: String,
                          partitionCols: Seq[String] = Nil): DataFrame = {
    val schema = StructType(
      s.filterNot(f => partitionCols.contains(f.name)) ++ partitionCols.map(s(_)))
    spark.read.schema(schema).parquet(dir)
  }
}
