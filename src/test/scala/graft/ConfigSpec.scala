package graft

/** Config-driven topology (SURVEY.md §3.1 analog): the shipped JSON
  * configs must load as the topology they stand for, and invalid configs
  * must be rejected at load time (the reference's config validation pass).
  */
class ConfigSpec extends SparkTestBase {

  private def shipped(name: String): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("configs", name)), "UTF-8")

  test("default JSON config reproduces the coded pipeline exactly") {
    assert(PipelineConfig.fromJson(shipped("pipeline.json")) === PipelineConfig.default)
  }

  test("shipped service config parses and validates with its two pipelines") {
    val json = shipped("service.json")
    assert(ServiceConfig.detect(json))
    val svc = ServiceConfig.fromJson(json)
    assert(svc.pipelines.map(_._1) === Seq("full", "sampled_10pct"))
    val byName = svc.pipelines.toMap
    assert(byName("full") === PipelineConfig.default)
    assert(byName("sampled_10pct") === PipelineConfig.default.copy(
      samplePct = 10.0, sinks = Seq(SinkConfig("tools", "tool_invoked <> 'none'"))))
  }

  test("config sampling applies conversation-atomic sampling") {
    val cfg = PipelineConfig.default.copy(samplePct = 20.0)
    val turns = TranscriptGen.turns(spark, 300, seed = 42).drop("_truth")
    val routed = PipelineConfig.transform(spark, turns, cfg)
    assert(routed.count() ===
      Sampler.sampleConversations(turns, 20.0).count())
  }

  test("invalid configs rejected at load") {
    def bad(json: String): Unit =
      intercept[Exception](PipelineConfig.fromJson(json))
    bad("""{"sinks": []}""")                                    // missing pattern
    bad("""{"grok_pattern": "x(?<g>y)", "sinks": []}""")        // no sinks
    bad("""{"grok_pattern": "no groups here",
           "sinks": [{"name":"a","predicate":"true"}]}""")      // no named groups
    bad("""{"grok_pattern": "x(?<g>y)",
           "sinks": [{"name":"a","predicate":"true"},
                     {"name":"a","predicate":"false"}]}""")     // dup names
    bad("""{"grok_pattern": "x(?<g>y)",
           "sinks": [{"name":"rest","predicate":"true"}]}""")   // reserved name
    bad("""{"grok_pattern": "x(?<g>y)", "sample_pct": 150,
           "sinks": [{"name":"a","predicate":"true"}]}""")      // pct range
  }
}
