package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Config-driven pipeline topology — the Spark analog of the reference's
  * YAML service config (SURVEY.md §3.1, ref `config/config.go: Load` with
  * its validation pass; `service/builder`): the parse pattern, sampling,
  * and per-sink routing predicates are DATA, not code. Predicates are Spark
  * SQL boolean expressions compiled with `expr(...)` — they stay visible to
  * Catalyst, so pushdown/pruning still apply (the optimization the
  * reference's hand-ordered YAML never gets).
  *
  * JSON instead of YAML (jackson ships with Spark; no new dependency):
  * {
  *   "grok_pattern": "tool=(?<tool_invoked>...)...",
  *   "sample_pct": 100.0,
  *   "salt": 16,
  *   "sinks": [ {"name": "errors", "predicate": "err_code RLIKE '^E5'"} ]
  * }
  */
final case class SinkConfig(name: String, predicate: String)

final case class PipelineConfig(
    grokPattern: String,
    sinks: Seq[SinkConfig],
    samplePct: Double = 100.0,
    salt: Int = Aggregate.DefaultSalt) {

  /** Mirrors the reference's config validation (every pipeline ≥1
    * receiver & ≥1 exporter; unique component ids).
    */
  def validated: PipelineConfig = {
    require(sinks.nonEmpty, "config: need at least one sink")
    require(sinks.map(_.name).distinct.size == sinks.size,
      s"config: duplicate sink names in ${sinks.map(_.name)}")
    require(!sinks.map(_.name).contains(Route.RestSink),
      s"config: '${Route.RestSink}' is the reserved catch-all sink name")
    require(samplePct >= 0 && samplePct <= 100,
      s"config: sample_pct out of range: $samplePct")
    require(salt >= 1, s"config: salt must be >= 1: $salt")
    val (_, names, _) = graft.expr.GrokExtract.compilePattern(grokPattern)
    require(names.nonEmpty, s"config: grok_pattern has no named groups")
    this
  }

  def sinkSpecs: Seq[SinkSpec] = sinks.map(s => SinkSpec(s.name, expr(s.predicate)))
}

object PipelineConfig {

  /** The coded defaults, as config (also serves as the reference example). */
  val defaultJson: String =
    """{
      |  "grok_pattern": "tool=(?<tool_invoked>[A-Za-z0-9_]+) status=(?<status>[A-Za-z0-9]+) latency=(?<latency_ms>[0-9]+)ms",
      |  "sample_pct": 100.0,
      |  "salt": 16,
      |  "sinks": [
      |    {"name": "tool_search", "predicate": "tool_invoked IN ('search','browse','fetch')"},
      |    {"name": "errors", "predicate": "err_code RLIKE '^E5'"}
      |  ]
      |}""".stripMargin

  /** Strict mapper: duplicate JSON keys are a config error, not
    * last-wins — Jackson's default silently keeps the last value, which
    * would make duplicate-name validation unreachable for JSON input.
    */
  private[graft] def mapper: com.fasterxml.jackson.databind.ObjectMapper = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m.enable(com.fasterxml.jackson.core.JsonParser.Feature.STRICT_DUPLICATE_DETECTION)
    m
  }

  def fromJson(json: String): PipelineConfig = fromNode(mapper.readTree(json))

  private[graft] def fromNode(
      root: com.fasterxml.jackson.databind.JsonNode): PipelineConfig = {
    import com.fasterxml.jackson.databind.JsonNode
    def req(field: String): JsonNode = {
      val n = root.get(field)
      require(n != null, s"config: missing field '$field'")
      n
    }
    val sinks = {
      val arr = req("sinks")
      require(arr.isArray, "config: 'sinks' must be an array")
      (0 until arr.size()).map { i =>
        val s = arr.get(i)
        require(s.hasNonNull("name") && s.hasNonNull("predicate"),
          s"config: sink $i needs 'name' and 'predicate'")
        SinkConfig(s.get("name").asText(), s.get("predicate").asText())
      }
    }
    PipelineConfig(
      grokPattern = req("grok_pattern").asText(),
      sinks = sinks,
      samplePct = Option(root.get("sample_pct")).map(_.asDouble()).getOrElse(100.0),
      salt = Option(root.get("salt")).map(_.asInt()).getOrElse(Aggregate.DefaultSalt)
    ).validated
  }

  /** Build the routed frame from config: (sample) → parse → enrich → route.
    * The grok pattern must produce `tool_invoked`, `status`, `latency_ms`
    * groups (the ParsedTurn contract).
    */
  def transform(spark: SparkSession, turns: DataFrame,
                cfg: PipelineConfig): DataFrame = {
    val sampled =
      if (cfg.samplePct >= 100.0) turns
      else Sampler.sampleConversations(turns, cfg.samplePct)
    val g = graft.expr.GrokExtract.grok_extract(col("text"), cfg.grokPattern)
    val parsed = sampled
      .withColumn("_g", g)
      .withColumn("tool_invoked", coalesce(col("_g.tool_invoked"), lit("")))
      .withColumn("status", coalesce(col("_g.status"), lit("")))
      .withColumn("err_code",
        when(col("_g.status").rlike("^E[0-9]{3}$"), col("_g.status")))
      .withColumn("latency_ms",
        coalesce(col("_g.latency_ms").cast("long"), lit(-1L)))
      .drop("_g")
    val enriched = Enrich.enrich(parsed,
      TranscriptGen.roleDim(spark).toDF(), TranscriptGen.toolDim(spark).toDF())
    Route.assign(enriched, cfg.sinkSpecs)
  }
}

/** Multi-pipeline service topology — the reference's `service:` block
  * (SURVEY.md §3.1, `service/builder/pipelines_builder.go`): one receiver
  * feeds N independently-configured pipelines (own parse pattern,
  * sampling, sinks), fanned out clone-once. JSON:
  * `{"pipelines": {"traces": {<PipelineConfig>}, "errors": {...}}}`.
  */
final case class ServiceConfig(pipelines: Seq[(String, PipelineConfig)]) {
  def validated: ServiceConfig = {
    require(pipelines.nonEmpty, "service: need at least one pipeline")
    require(pipelines.map(_._1).distinct.size == pipelines.size,
      s"service: duplicate pipeline names in ${pipelines.map(_._1)}")
    this
  }
}

object ServiceConfig {

  /** True when `json` is a service-topology config (a `pipelines` object
    * at the root) rather than a single PipelineConfig. Parses — never a
    * substring test, which would misroute configs that merely CONTAIN the
    * text "pipelines" (e.g. in a sink name or grok pattern).
    */
  def detect(json: String): Boolean = {
    val root = PipelineConfig.mapper.readTree(json)
    root.has("pipelines") && root.get("pipelines").isObject
  }

  def fromJson(json: String): ServiceConfig = {
    val root = PipelineConfig.mapper.readTree(json)
    val ps = root.get("pipelines")
    require(ps != null && ps.isObject, "service: missing 'pipelines' object")
    val names = ps.fieldNames()
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, PipelineConfig)]
    while (names.hasNext) {
      val n = names.next()
      out += n -> PipelineConfig.fromNode(ps.get(n))
    }
    ServiceConfig(out.toSeq).validated
  }

  /** Run every pipeline over the shared input — the receiver fanout: the
    * input is persisted ONCE (cloningfanoutconnector's clone-once), each
    * pipeline reads the cached batch instead of rescanning the source.
    */
  def runBatch(spark: SparkSession, turns: DataFrame, outDir: String,
               svc: ServiceConfig,
               obs: Option[ObsMetrics] = None): Map[String, PipelineResult] = {
    val shared = turns.persist()
    try svc.pipelines.map { case (name, cfg) =>
      name -> Pipeline.runBatch(spark, shared, s"$outDir/$name",
        obs = obs, config = Some(cfg))
    }.toMap
    finally shared.unpersist()
  }

  /** Streaming service: one query per pipeline, each with its own
    * checkpoint (so pipelines fail/resume independently, like the
    * reference's per-pipeline shutdown). Micro-batch file sources share
    * the OS page cache of `inputDir`; at real scale each query is its own
    * Structured Streaming job against the shared source table.
    */
  def startStreams(spark: SparkSession, inputDir: String, outDir: String,
                   checkpointRoot: String, svc: ServiceConfig)
      : Map[String, org.apache.spark.sql.streaming.StreamingQuery] =
    svc.pipelines.map { case (name, cfg) =>
      name -> StreamingPipeline.startWithConfig(spark, inputDir,
        s"$outDir/$name", s"$checkpointRoot/$name", cfg)
    }.toMap

  /** Shared-scan streaming fanout — the clone-once analog of [[runBatch]]
    * in streaming form (§2.10 cloningfanoutconnector / §3.1 shared
    * receiver): ONE file-source query drives ALL pipelines. Each
    * micro-batch is persisted once; every pipeline's config-compiled
    * transform + partitioned sink write runs against the cached batch, so
    * the source is scanned once per trigger instead of once per pipeline
    * (N source scans → 1 — at 10^12-turn scale the source scan dominates,
    * so per-pipeline rescans multiply the whole job's IO by N).
    *
    * The trade vs [[startStreams]]: one offset log — pipelines advance and
    * recover TOGETHER (the reference's shared-receiver topology), while
    * startStreams gives each pipeline an independent failure domain.
    * Output layout matches startStreams ($outDir/<name>/routed/batch_id=*),
    * and writes stay idempotent per (pipeline, batchId) so checkpoint
    * replay after a crash overwrites instead of duplicating.
    */
  def startStreamsShared(spark: SparkSession, inputDir: String,
                         outDir: String, checkpointDir: String,
                         svc: ServiceConfig, triggerMs: Long = 200L,
                         maxFilesPerTrigger: Int = 8)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.streaming.Trigger
    val stream = spark.readStream
      .schema(Schemas.turn)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inputDir)
      .withWatermark("ts", "10 minutes")
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val cached = batch.persist()
        try svc.pipelines.foreach { case (name, cfg) =>
          Route.writePartitioned(PipelineConfig.transform(spark, cached, cfg),
            s"$outDir/$name/routed/batch_id=$batchId")
        } finally { cached.unpersist(); () }
      }
      .start()
  }
}
