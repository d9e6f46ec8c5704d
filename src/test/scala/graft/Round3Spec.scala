package graft

import org.apache.spark.sql.functions._

/** Round-3 additions: catalog-location guard, tail-sampling policy set
  * parity, to_attributes rule lists, shared-scan streaming fanout.
  */
class Round3Spec extends SparkTestBase {

  test("opening a bucketed corpus under a name bound to another path fails fast") {
    val dir = tmpDir("bkt-loc")
    val turns = TranscriptGen.turnsDs(spark, 20).toDF()
    BucketedCorpus.write(turns, s"$dir/c1", "graft_corpus_loc", buckets = 4)
    BucketedCorpus.write(turns, s"$dir/c2", "graft_corpus_loc2", buckets = 4)
    try {
      // registers the name over c1 …
      BucketedCorpus.open(spark, s"$dir/c1", "graft_corpus_loc", 4).count()
      // … so re-opening the SAME name over c2 must refuse, not silently
      // scan c1
      val e = intercept[IllegalArgumentException] {
        BucketedCorpus.open(spark, s"$dir/c2", "graft_corpus_loc", 4)
      }
      assert(e.getMessage.contains("already registered"))
      // same name + same path still works (the fresh-JVM reopen path)
      assert(BucketedCorpus.open(spark, s"$dir/c1", "graft_corpus_loc", 4)
        .count() === turns.count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_corpus_loc")
      spark.sql("DROP TABLE IF EXISTS graft_corpus_loc2")
    }
  }

  test("tail policies: batch decideBatch ≡ per-conversation decidePolicies") {
    import TailSample.TailPolicy._
    val policies = Seq(StatusCode,
      NumericAttribute("n_turns", 5, 50),
      StringAttribute(Set("search", "sql")),
      Probabilistic(7.0, 22L),
      Latency(120L * 1000000L))
    val parsed = Parse.parseGrok(TranscriptGen.turnsDs(spark, 300).toDF())
    val got = TailSample.decideBatch(parsed, policies)
      .select("conv_id", "sampled").collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    // independent evaluation: rebuild each conversation's ConvState from a
    // straight rollup and run the JVM-side policy evaluator
    val states = parsed.groupBy(col("conv_id")).agg(
        count(lit(1)).as("n"),
        count_if(col("err_code").isNotNull).as("e"),
        collect_set(when(col("tool_invoked") =!= "none",
          col("tool_invoked"))).as("tools"),
        min(unix_micros(col("ts"))).as("f"),
        max(unix_micros(col("ts"))).as("l"),
        sum(col("latency_ms")).as("lat"))
      .collect()
    assert(states.nonEmpty && states.length === got.size)
    states.foreach { r =>
      val cid = r.getString(0)
      val st = TailSample.ConvState(r.getLong(1), r.getLong(2),
        r.getSeq[String](3).toSet, r.getLong(4), r.getLong(5), r.getLong(6))
      assert(got(cid) === TailSample.decidePolicies(cid, st, policies), cid)
    }
    // each policy must actually fire somewhere on this corpus (otherwise
    // the parity above proves nothing about it)
    val fired = policies.map(p => states.count { r =>
      val st = TailSample.ConvState(r.getLong(1), r.getLong(2),
        r.getSeq[String](3).toSet, r.getLong(4), r.getLong(5), r.getLong(6))
      TailSample.evaluate(r.getString(0), st, p)
    })
    assert(fired.forall(n => n > 0 && n < states.length),
      s"degenerate policy coverage: $fired of ${states.length}")
  }

  test("rate_limiting: deterministic per-second cap, kept-first rank order") {
    import spark.implicits._
    import java.sql.Timestamp
    // hand-built contested seconds: c1/c2/c5 share second 0 (sub-second
    // offsets must collapse), c3 was never kept, c4 owns second 1
    val dec = Seq(
      ("c2", Timestamp.valueOf("2025-01-01 00:00:00"), true),
      ("c1", Timestamp.valueOf("2025-01-01 00:00:00.400"), true),
      ("c5", Timestamp.valueOf("2025-01-01 00:00:00.900"), true),
      ("c3", Timestamp.valueOf("2025-01-01 00:00:00"), false),
      ("c4", Timestamp.valueOf("2025-01-01 00:00:01"), true)
    ).toDF("conv_id", "last_ts", "sampled")
    val limited = TailSample.rateLimit(dec, maxPerSecond = 1)
      .select("conv_id", "sampled")
      .as[(String, Boolean)].collect().toMap
    // smallest conv_id wins the contested second; never-kept stays false
    assert(limited === Map("c1" -> true, "c2" -> false, "c5" -> false,
      "c3" -> false, "c4" -> true))
    // cap of 2 keeps the two smallest
    val limited2 = TailSample.rateLimit(dec, maxPerSecond = 2)
      .select("conv_id", "sampled")
      .as[(String, Boolean)].collect().toMap
    assert(limited2 === Map("c1" -> true, "c2" -> true, "c5" -> false,
      "c3" -> false, "c4" -> true))
    // corpus-scale determinism + monotonicity (only ever flips keep→drop)
    import TailSample.TailPolicy._
    val parsed = Parse.parseGrok(TranscriptGen.turnsDs(spark, 400).toDF())
    val dec2 = TailSample.decideBatch(parsed,
      Seq(StatusCode, Probabilistic(20.0, 22L)))
    val lim = TailSample.rateLimit(dec2, maxPerSecond = 1).cache()
    try {
      val over = lim.where(col("sampled"))
        .groupBy(date_trunc("second", col("last_ts")))
        .count().where(col("count") > 1).count()
      assert(over === 0)
      val flippedUp = lim
        .join(dec2.select(col("conv_id"), col("sampled").as("s0")), "conv_id")
        .where(col("sampled") && !col("s0")).count()
      assert(flippedUp === 0)
      val again = TailSample.rateLimit(dec2, maxPerSecond = 1)
      assert(lim.exceptAll(again).isEmpty && again.exceptAll(lim).isEmpty)
    } finally { lim.unpersist(); () }
  }

  test("to_attributes rule list: first-match break and last-wins merge") {
    import spark.implicits._
    val df = Seq(
      ("a", "tool=search status=E503 latency=9ms"),
      ("b", "tool=bash status=OK latency=3ms"),
      ("c", "no match at all")).toDF("id", "text")
    val rules = Seq(
      "tool=(?<tname>[A-Za-z0-9_]+) status=(?<stat>E[0-9]{3})",
      "tool=(?<tname>[A-Za-z0-9_]+)")
    val first = df.select(col("id"),
        AttrActions.toAttributes(col("text"), rules).as("m"))
      .select(col("id"), element_at(col("m"), "tname").as("t"),
        element_at(col("m"), "stat").as("s"))
      .as[(String, String, String)].collect().toSet
    assert(first === Set(("a", "search", "E503"), ("b", "bash", null),
      ("c", null, null)))
    // merge mode: later rules overwrite earlier on collision
    val mergeRules = Seq(
      "tool=(?<tname>[A-Za-z0-9_]+)",
      "status=(?<stat>[A-Z0-9]+)",
      "tool=search(?<tname>)") // matches only 'a'; overwrites tname with ""
    val merged = df.select(col("id"),
        AttrActions.toAttributes(col("text"), mergeRules,
          breakAfterMatch = false).as("m"))
      .select(col("id"), element_at(col("m"), "tname").as("t"),
        element_at(col("m"), "stat").as("s"))
      .as[(String, String, String)].collect().toSet
    assert(merged === Set(("a", "", "E503"), ("b", "bash", "OK"),
      ("c", null, null)))
  }

  test("streaming tsUs carries sub-ms precision ≡ unix_micros (Latency parity)") {
    import spark.implicits._
    // 00:00:00.000400 → span vs 00:00:02.000900 is 2_000_500 µs; the old
    // getTime*1000 truncation made the streaming span 2_000_000 and
    // flipped a Latency(2_000_400) decision against decideBatch
    val t0 = java.sql.Timestamp.valueOf("2025-01-01 00:00:00")
    t0.setNanos(400000)
    val t1 = java.sql.Timestamp.valueOf("2025-01-01 00:00:02")
    t1.setNanos(900000)
    val us = Seq(t0, t1).toDF("ts")
      .select(unix_micros(col("ts"))).as[Long].collect()
    assert(TailSample.tsUs(t0) === us(0))
    assert(TailSample.tsUs(t1) === us(1))
    assert(TailSample.tsUs(t1) - TailSample.tsUs(t0) === 2000500L)
  }

  test("decideBatch rejects unknown numeric_attribute fields like evaluate") {
    val parsed = Parse.parseGrok(TranscriptGen.turnsDs(spark, 10).toDF())
    val ex = intercept[IllegalArgumentException] {
      TailSample.decideBatch(parsed,
        Seq(TailSample.TailPolicy.NumericAttribute("first_ts", 0, 100)))
    }
    assert(ex.getMessage.contains("unknown field"))
  }

  test("plan gates: decideBatch is one aggregate exchange; to_attributes is narrow") {
    import TailSample.TailPolicy._
    val parsed = Parse.parseGrok(TranscriptGen.turnsDs(spark, 100).toDF())
    val dec = TailSample.decideBatch(parsed, Seq(StatusCode,
      StringAttribute(Set("search")), Probabilistic(10.0, 22L)))
    dec.count()
    val decPlan = dec.queryExecution.executedPlan.toString
    // conv_id hash-agg (1 exchange) + the count_distinct rewrite's
    // (conv_id, tool) pre-aggregate (1 more) — policy columns are narrow
    // on top and must add NO further exchange; and no ObjectHashAggregate
    // (collect_set avoided: its per-group java sets collapse under spill)
    assert("Exchange".r.findAllIn(decPlan).size <= 2, decPlan.take(3000))
    assert(!decPlan.contains("ObjectHashAggregate"), decPlan.take(3000))
    val m = AttrActions.toAttributes(col("text"), Seq(
      "tool=(?<tname>[A-Za-z0-9_]+) status=(?<stat>E[0-9]{3})",
      "tool=(?<tname>[A-Za-z0-9_]+)"))
    val attrs = TranscriptGen.turnsDs(spark, 100).toDF()
      .select(col("conv_id"), m.as("m"))
    attrs.count()
    val attrsPlan = attrs.queryExecution.executedPlan.toString
    assert(!attrsPlan.contains("Exchange"), attrsPlan.take(3000))
    // the to_attributes projection itself must be INSIDE whole-stage
    // codegen (toString renders WSCG membership as a "*(n)" prefix; a
    // bare "Project [" line would mean the grok parse fell out to the
    // interpreted path — e.g. if a HOF like map_filter sneaks back in)
    assert(attrsPlan.trim.startsWith("*("), attrsPlan.take(3000))
    assert(!attrsPlan.linesIterator.exists(_.matches("""\s*(\+-\s*)?Project \[.*""")),
      attrsPlan.take(3000))
  }

  test("shared-scan streaming fanout: one query drives all pipelines ≡ batch") {
    val dir = tmpDir("svc-shared")
    val turns = TranscriptGen.turnsDs(spark, 120).toDF().cache()
    turns.repartition(3).write.mode("append").parquet(s"$dir/in")
    val svc = ServiceConfig.fromJson(
      """{"pipelines": {
        |  "search_only": {
        |    "grok_pattern": "tool=(?<tool_invoked>[A-Za-z0-9_]+) status=(?<status>[A-Za-z0-9]+) latency=(?<latency_ms>[0-9]+)ms",
        |    "sinks": [{"name": "tool_search",
        |               "predicate": "tool_invoked IN ('search','browse','fetch')"}]},
        |  "errors_only": {
        |    "grok_pattern": "tool=(?<tool_invoked>[A-Za-z0-9_]+) status=(?<status>[A-Za-z0-9]+) latency=(?<latency_ms>[0-9]+)ms",
        |    "sinks": [{"name": "errors", "predicate": "err_code RLIKE '^E'"}]}
        |}}""".stripMargin)
    val q = ServiceConfig.startStreamsShared(spark, s"$dir/in", s"$dir/out",
      s"$dir/ckpt", svc)
    q.processAllAvailable()
    q.stop()
    val batch = ServiceConfig.runBatch(spark, turns, s"$dir/batch", svc)
    svc.pipelines.foreach { case (name, _) =>
      val streamed = StreamingPipeline.readRouted(spark, s"$dir/out/$name")
        .groupBy(col(Route.SinkCol)).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val expected = batch(name).routed
        .groupBy(col(Route.SinkCol)).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(streamed === expected, name)
      // each pipeline commits like startStreams: lineage and sink counts
      // cover every input row
      def total(d: String, c: String): Long = spark.read
        .parquet(s"$dir/out/$name/$d/batch_id=*").agg(sum(c)).head().getLong(0)
      assert(total("_lineage/stage=route", "rows") === turns.count(), name)
      assert(total("sink_counts", "n_turns") === turns.count(), name)
    }
    turns.unpersist()
  }
}
