package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Driver contract — one `queries` entry per implemented operator
  * (SURVEY.md §2.13 checklist + training-data ops), with DuckDB-runnable
  * `oracleSql` where the operator is ANSI-SQL-expressible. Oracle SQL may
  * use DuckDB dialect (it only runs there) but must produce identical
  * rows/values on the same parquet tables.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Deliberately SQL-expressible near-dup pair rule (same first word OR
    * same n_chars ⇒ edge) shared by the cluster-resolution and
    * leakage-safe-split queries, so DuckDB's recursive CTE can compute the
    * transitive closure independently; the minhash-pair composition is
    * nearDupClusters (spec-verified).
    */
  private def sqlPairEdges(docs: DataFrame): DataFrame = {
    def edges(key: Column): DataFrame = {
      val k = docs.select(col("doc_id"), key.as("k"))
      k.select(col("doc_id").as("id_a"), col("k"))
        .join(k.select(col("doc_id").as("id_b"), col("k")), "k")
        .where(col("id_a") < col("id_b"))
        .select("id_a", "id_b")
    }
    edges(regexp_extract(col("text"), "^(\\w+)", 1))
      .unionByName(edges(col("n_chars").cast("string")))
  }

  /** Deterministic line layout for the line-rule queries (q_c4_lines,
    * q_gopher_rules): the synthetic docs are flat word streams, so lines
    * are constructed 4 words wide with arithmetic-decided decorations the
    * oracle replays exactly — terminal '.' unless (doc_id+i)%3==0 (so the
    * C4 terminal-punctuation rule has real negatives); with
    * `bullets = true` additionally a "- " prefix when (doc_id+i)%7==0 and
    * a "..." terminal when (doc_id+i)%11==0 (so the Gopher bullet/ellipsis
    * line rules have real positives).
    */
  private def linedDocs(docs: DataFrame, bullets: Boolean): DataFrame = {
    val w = split(col("text"), " ")
    val nl = floor((size(w) + 3) / lit(4)).cast("int")
    val mk = transform(sequence(lit(0), nl - 1), i => {
      val k = col("doc_id") + i
      val base = array_join(slice(w, i * 4 + 1, lit(4)), " ")
      val pre = if (bullets) when(k % 7 === 0, "- ").otherwise("") else lit("")
      val suf =
        if (bullets)
          when(k % 11 === 0, "...").when(k % 3 =!= 0, ".").otherwise("")
        else when(k % 3 =!= 0, ".").otherwise("")
      concat(pre, base, suf)
    })
    docs.select(col("doc_id"), array_join(mk, "\n").as("text"))
  }

  /** Turn frame for the conversation-dedup query: the seed-42 synthetic
    * corpus plus deterministic near-dup clones — every 5th conversation's
    * turns re-appear under a `dupe-` id with ONE extra closing turn
    * appended, so conversation-level near-dup pairs exist by
    * construction. Pure arithmetic + string concat, so the oracle
    * rebuilds the identical frame from the _input_turns dump.
    */
  private[graft] def convDedupTurns(s: SparkSession): DataFrame = {
    val turns = TranscriptGen.turnsDs(s, 500).toDF()
      .select(col("conv_id"), col("turn_idx"), col("text"))
    val cloned = regexp_extract(col("conv_id"), "(\\d+)$", 1)
      .cast("long") % 5 === 0
    val clones = turns.where(cloned)
      .select(concat(lit("dupe-"), col("conv_id")).as("conv_id"),
        col("turn_idx"), col("text"))
    val extra = turns.where(cloned)
      .groupBy(col("conv_id")).agg(max(col("turn_idx")).as("_mx"))
      .select(concat(lit("dupe-"), col("conv_id")).as("conv_id"),
        (col("_mx") + 1).as("turn_idx"),
        lit("extra closing words here").as("text"))
    turns.unionByName(clones).unionByName(extra)
  }

  /** Deterministic URL synthesis for the URL-curation queries: every
    * variant is decided by doc_id arithmetic (no hashes), so the oracle
    * rebuilds byte-identical strings in SQL. 7 site names × 6 TLDs = 42
    * registrable domains, so the per-domain cap genuinely binds at the
    * 500-doc verify scale.
    */
  private def urlDocs(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    val url = concat(
      element_at(array(lit("https://"), lit("HTTP://"), lit("ftp://"),
        lit("")), (id % 4 + 1).cast("int")),
      when(id % 11 === 3, "User:Pw@").otherwise(""),
      when(id % 3 === 0, "www.").when(id % 9 === 1, "www2.").otherwise(""),
      when(id % 4 === 0, "blog.").when(id % 4 === 1, "Shop.").otherwise(""),
      lit("site"), (id % 7).cast("string"),
      element_at(array(lit(".com"), lit(".org"), lit(".co.uk"), lit(".de"),
        lit(".ac.jp"), lit(".net")), (id % 6 + 1).cast("int")),
      when(id % 5 === 0, ":8080").otherwise(""),
      lit("/Docs/"), id.cast("string"),
      when(id % 4 === 0, "/").otherwise(""),
      when(id % 6 === 0, concat(lit("?utm=x&id="), id.cast("string")))
        .otherwise(""),
      when(id % 7 === 0, "#Section-2").otherwise(""))
    docs.select(id, url.as("url"))
  }

  /** Deterministic robots.txt body per host — variant picked by
    * length(host) % 4 so the DuckDB oracle rebuilds the identical text.
    * v0: star group, longest-match Allow carve-out, comment line.
    * v1: consecutive-UA merge (graftbot+otherbot share a `*4$`-anchored
    * Disallow), blank line inside the file, a star group graftbot must
    * IGNORE (specific group exists). v2: graftbot falls back to the star
    * group; literal `?` escaping exercised by the query-string Disallow.
    * v3: orphan rule before any UA (dropped) + empty Disallow (no-op) ⇒
    * everything allowed.
    */
  private def robotsFor(host: Column): Column = {
    val v = pmod(length(host), lit(4))
    when(v === 0, lit("User-Agent: *\nDisallow: /Docs/\nAllow: /Docs/2\n# tail\n"))
      .when(v === 1, lit("User-agent: GraftBot\nUser-agent: otherbot\n" +
        "Disallow: /Docs/*4$\n\nUser-agent: *\nDisallow: /\n"))
      .when(v === 2, lit("User-agent: otherbot\nDisallow: /\n\n" +
        "User-agent: *\nAllow: /Docs\nDisallow: /Docs/*?utm=\n"))
      .otherwise(lit("Disallow: /\nUser-agent: *\nDisallow:\n"))
  }

  /** Flagship: full transcript pipeline (parse→enrich→route→aggregate) on a
    * deterministic synthetic corpus; driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame = {
    val turns = TranscriptGen.turnsDs(spark, 500).toDF()
    val routed = Pipeline.transform(turns,
      TranscriptGen.roleDim(spark).toDF(), TranscriptGen.toolDim(spark).toDF())
    Aggregate.convRollup(routed)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---------------- scans / filter / projection (§2.1, §2.4, §2.11)
    "q_filter_project" -> ((s, d) =>
      t(s, d, "lineitem")
        .where(col("l_shipdate") < lit(java.sql.Date.valueOf("1996-01-01")) &&
               col("l_quantity") > 45)
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"),
          col("l_returnflag"))),

    // ---------------- aggregations (§2.7)
    "q_agg_groupby" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).cast("double").as("sum_qty"),
          count(lit(1)).as("n_rows"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"))),

    "q_agg_having" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).cast("double").as("sum_qty"))
        .where(col("sum_qty") > 150)),

    // exact percentile aggregation (prometheus-summary-style latency
    // quantiles; linear interpolation matches DuckDB quantile_cont)
    "q_percentiles" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(col("event_type"))
        .agg(round(expr("percentile(value, 0.5)"), 4).as("med"),
          round(expr("percentile(value, 0.95)"), 4).as("p95"))),

    "q_agg_countdistinct" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))),

    // ---------------- joins (§2.13)
    "q_join_broadcast" -> ((s, d) =>
      t(s, d, "orders").join(broadcast(t(s, d, "customer")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"))),

    "q_join_3way" -> ((s, d) =>
      t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, d, "customer")), col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderstatus"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity")).cast("double").as("sum_qty"))),

    "q_semi_join" -> ((s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_mktsegment"))),

    "q_anti_join" -> ((s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_mktsegment"))),

    "q_join_nation_region" -> ((s, d) =>
      t(s, d, "nation").join(broadcast(t(s, d, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name")).agg(count(lit(1)).as("n_nations"))),

    // ---------------- set ops (§2.10 fanout/union)
    "q_union" -> ((s, d) => {
      val hi = t(s, d, "orders").where(col("o_totalprice") > 400000)
        .select(col("o_custkey").as("custkey"))
      val lo = t(s, d, "orders").where(col("o_totalprice") < 1000)
        .select(col("o_custkey").as("custkey"))
      hi.unionByName(lo).distinct()
    }),

    "q_distinct" -> ((s, d) =>
      t(s, d, "events").select(col("event_type")).distinct()),

    // ---------------- sort / top-k (§2.13)
    "q_sort_topk" -> ((s, d) =>
      t(s, d, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), col("o_totalprice"))),

    // ---------------- window functions (§2.7 cumulative→delta)
    "q_window_lag" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, d, "events")
        .withColumn("prev_value", lag(col("value"), 1).over(w))
        .withColumn("delta", round(col("value") - coalesce(col("prev_value"), lit(0.0)), 4))
        .select(col("event_id"), col("user_id"), col("delta"))
    }),

    "q_window_rownum" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("value").desc, col("event_id"))
      t(s, d, "events")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("user_id"), col("event_id"), col("value"), col("rn"))
    }),

    "q_window_running" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "events")
        .withColumn("running_value", round(sum(col("value")).over(w), 4))
        .select(col("event_id"), col("user_id"), col("running_value"))
    }),

    // ---------------- scalar functions: json / regex / time (§2.13)
    "q_json_extract" -> ((s, d) =>
      t(s, d, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))),

    "q_regex_extract" -> ((s, d) =>
      t(s, d, "documents")
        .withColumn("first_word", regexp_extract(col("text"), "^(\\w+)", 1))
        .groupBy(col("first_word")).agg(count(lit(1)).as("n_docs"))),

    "q_grok_extract" -> ((s, d) =>
      t(s, d, "events")
        .withColumn("kval",
          graft.expr.GrokExtract.grok_extract(col("props"), "\"k\": (?<kval>\\d+)")
            .getField("kval").cast("long"))
        .groupBy(col("kval") % 10).agg(count(lit(1)).as("n"))
        .withColumnRenamed("(kval % 10)", "k_mod")
        .toDF("k_mod", "n")),

    "q_date_trunc" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("sum_value"))),

    // ---------------- routing CASE (filterprocessor semantics §2.4)
    "q_case_route" -> ((s, d) =>
      t(s, d, "events")
        .withColumn("sink",
          when(col("event_type") === "error", "errors")
          .when(col("value") > 150, "big")
          .otherwise("rest"))
        .groupBy(col("sink")).agg(count(lit(1)).as("n_rows"))),

    // ---------------- deterministic sampling (§2.9; SQL-expressible variant)
    "q_mod_sample" -> ((s, d) =>
      t(s, d, "events")
        .where(col("event_id") % 100 < 10)
        .select(col("event_id"), col("user_id"), col("event_type"))),

    // ---------------- attributesprocessor actions over a dynamic map (§2.3)
    "q_attrs_actions" -> ((s, d) => {
      val attrs = from_json(col("props"),
        org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.StringType))
      AttrActions.process(
        t(s, d, "events").withColumn("attrs", attrs),
        "attrs",
        Seq(AttrActions.Upsert("env", "prod"),          // unconditional set
            AttrActions.Insert("k", "must_not_clobber"), // k exists → no-op
            AttrActions.Delete("gone")))                 // absent → no-op
        .select(col("event_id"),
          element_at(col("attrs"), "k").as("k_val"),
          element_at(col("attrs"), "env").as("env"))
    }),

    // scoped actions (filterspan include/exclude, §2.3): upsert env +
    // delete k, but ONLY on error rows not excluded by value > 150
    "q_attrs_scoped" -> ((s, d) => {
      val attrs = from_json(col("props"),
        org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.StringType))
      AttrActions.processScoped(
        t(s, d, "events").withColumn("attrs", attrs),
        "attrs",
        Seq(AttrActions.Upsert("env", "prod"), AttrActions.Delete("k")),
        AttrActions.MatchProps(
          include = Some(col("event_type") === "error"),
          exclude = Some(col("value") > 150)))
        .select(col("event_id"),
          element_at(col("attrs"), "k").as("k_val"),
          element_at(col("attrs"), "env").as("env"))
    }),

    // ---------------- hash action (§2.3) — sha2 so DuckDB can oracle it
    "q_hash_attr" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), sha2(col("text"), 256).as("text_sha"))),

    // ---------------- spanprocessor rename: concat_ws (§2.8)
    "q_concat_rename" -> ((s, d) =>
      t(s, d, "events")
        .withColumn("span_name",
          concat_ws("/", col("event_type"), col("user_id").cast("string")))
        .groupBy(col("span_name")).agg(count(lit(1)).as("n"))),

    // count-based batch flush (batchprocessor send_batch_size, §2.5):
    // stable-ordered rows cut into batches of 100 per type, batch sizes
    "q_batch_flush" -> ((s, d) =>
      StreamingPipeline.countBatches(
        t(s, d, "events"), size = 100,
        keyCols = Seq("event_type"), orderCols = Seq("event_id"))
        .groupBy(col("event_type"), col("batch_idx"))
        .agg(count(lit(1)).as("n_rows"))),

    // ---------------- event-time tumbling window (batchprocessor §2.5)
    "q_window_tumbling" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("ws"),
          col("n"), col("sum_value"))),

    // ---------------- gap-based sessionization (tail-sampling analog §2.13)
    "q_sessionize" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, d, "events")
        .withColumn("gap_us",
          unix_micros(col("ts").cast("timestamp")) -
            unix_micros(lag(col("ts"), 1).over(w).cast("timestamp")))
        .withColumn("new_sess",
          when(col("gap_us").isNull || col("gap_us") > 1800L * 1000000L, 1L)
            .otherwise(0L))
        .withColumn("sess_id", sum(col("new_sess")).over(
          Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("sess_id"))
        .agg(count(lit(1)).as("n_events"))
    }),

    // Native session_window operator (vs q_sessionize's manual lag/cumsum
    // composition): NOTE the boundary difference — session_window windows
    // are half-open [t, t+gap), so a gap of EXACTLY 30min starts a new
    // session, while the lag form's `>` keeps it. The oracle uses >=.
    "q_session_window" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("ws"),
          date_format(col("session_window.end"), "yyyy-MM-dd HH:mm:ss").as("we"),
          col("n_events"))),

    // ---------------- tail-sampling policy set, batch replay shape (§2.13;
    // status_code + numeric_attribute + string_attribute + probabilistic,
    // OR-combined as the reference's policy evaluator does)
    "q_tail_policies" -> ((s, _) => {
      import TailSample.TailPolicy._
      val parsed = Parse.parseGrok(TranscriptGen.turnsDs(s, 500).toDF())
      TailSample.decideBatch(parsed, Seq(
          StatusCode,
          NumericAttribute("sum_latency_ms", 200000L, Long.MaxValue),
          StringAttribute(Set("search", "sql")),
          Probabilistic(10.0, 22L)))
        .select(col("conv_id"), col("n_turns"), col("n_errors"),
          col("n_tools_distinct"), col("sum_latency_ms"), col("span_us"),
          col("sampled"))
    }),

    // rate_limiting policy: deterministic per-second cap over the decision
    // frame (rank within last-turn second, stable conv_id order)
    "q_tail_ratelimit" -> ((s, _) => {
      import TailSample.TailPolicy._
      val parsed = Parse.parseGrok(TranscriptGen.turnsDs(s, 500).toDF())
      val dec = TailSample.decideBatch(parsed,
        Seq(StatusCode, Probabilistic(10.0, 22L)))
      TailSample.rateLimit(dec, maxPerSecond = 1)
        .select(col("conv_id"),
          date_format(col("last_ts"), "yyyy-MM-dd HH:mm:ss").as("last_ts"),
          col("sampled"))
    }),

    // ---------------- spanprocessor to_attributes rule list (§2.8):
    // ordered rules, first match wins (break_after_match) — error turns
    // match the stricter rule and also yield `stat`; the rest fall through
    // to the tool-only rule
    "q_span_to_attributes" -> ((s, _) => {
      val turns = TranscriptGen.turnsDs(s, 500).toDF()
      val m = AttrActions.toAttributes(col("text"), Seq(
        "tool=(?<tname>[A-Za-z0-9_]+) status=(?<stat>E[0-9]{3})",
        "tool=(?<tname>[A-Za-z0-9_]+)"), breakAfterMatch = true)
      turns.select(col("conv_id"), col("turn_idx"),
        element_at(m, "tname").as("tname"), element_at(m, "stat").as("stat"))
    }),

    // ---------------- SFT prep (transcripts → training examples)
    // Chat-template render: one row per turn span with the self-checking
    // piece = substr(rendered, start, len) plus the conv-level md5 of the
    // WHOLE rendered string; the oracle rebuilds every offset from window
    // prefix sums, the full string from an ordered string_agg, and emits
    // the source text as piece — so render, offsets, and markers are all
    // independently replayed.
    "q_sft_render" -> ((s, _) => {
      val rendered = graft.ops.SftPrep.chatTemplate(
        TranscriptGen.turnsDs(s, 500).toDF())
      rendered.select(col("conv_id"), md5(col("rendered")).as("rhash"),
          col("rendered_len"), col("rendered"), explode(col("spans")).as("sp"))
        .select(col("conv_id"), col("sp.turn_idx").as("turn_idx"),
          col("sp.role").as("role"), col("sp.start").as("start"),
          col("sp.len").as("len"), col("rendered_len"),
          col("rendered").substr(col("sp.start").cast("int"),
            col("sp.len").cast("int")).as("piece"),
          col("rhash"))
    }),

    // Assistant-only loss spans (text + end marker) with dense ordinals.
    "q_sft_lossmask" -> ((s, _) =>
      graft.ops.SftPrep.lossMaskSpans(graft.ops.SftPrep.chatTemplate(
          TranscriptGen.turnsDs(s, 500).toDF()))
        .select(col("conv_id"), col("span_ord"), col("turn_idx"),
          col("start"), col("len"), col("rendered_len"))),

    // Token-level span alignment: per-turn token ranges in the
    // conversation's concatenated token stream, loss-flagged.
    "q_sft_token_spans" -> ((s, _) =>
      graft.ops.SftPrep.tokenSpans(TranscriptGen.turnsDs(s, 500).toDF())
        .select(col("conv_id"), col("turn_idx"), col("role"),
          col("n_toks"), col("tok_start"), col("is_loss"))),

    // Whole-turn suffix truncation to a 64-token budget (ws tokens).
    "q_sft_truncate" -> ((s, _) =>
      graft.ops.SftPrep.truncateToBudget(
          TranscriptGen.turnsDs(s, 500).toDF(), budget = 64)
        .select(col("conv_id"), col("turn_idx"), col("n_tokens"),
          col("cum_tokens"))),

    // Preference pairs over assistant turns scored by parsed latency
    // (lower is better → score = -latency); strict margins only.
    "q_sft_pairs" -> ((s, _) => {
      val cands = TranscriptGen.turnsDs(s, 500).toDF()
        .where(col("role") === "assistant")
        .select(col("conv_id"), col("turn_idx"), col("text"),
          (lit(0L) - regexp_extract(col("text"), "latency=([0-9]+)ms", 1)
            .cast("long")).as("score"))
      graft.ops.SftPrep.preferencePairs(cands, "conv_id", "turn_idx",
          "score", "text")
        .select(col("conv_id"), col("chosen_id").as("chosen_idx"),
          col("rejected_id").as("rejected_idx"),
          (lit(0L) - col("chosen_score")).as("chosen_ms"),
          (lit(0L) - col("rejected_score")).as("rejected_ms"),
          col("margin").as("margin_ms"),
          col("chosen_payload").as("chosen_text"),
          col("rejected_payload").as("rejected_text"))
    }),

    // Structural validation rollup per conversation.
    "q_sft_validate" -> ((s, _) =>
      graft.ops.SftPrep.validateTranscripts(
          TranscriptGen.turnsDs(s, 500).toDF())
        .select(col("conv_id"), col("n_turns"), col("n_role_repeats"),
          col("n_empty"), col("has_assistant"), col("contiguous"),
          col("valid"))),

    // ---------------- dedup ops (training-data; FIXTURES §5 documents)
    "q_dedup_keep" -> ((s, d) =>
      graft.ops.Dedup.exactKeep(t(s, d, "documents"), "doc_id", Seq("text"))
        .select(col("doc_id"), col("lang"))),

    "q_dedup_exact" -> ((s, d) =>
      graft.ops.Dedup.exact(t(s, d, "documents"), "doc_id", Seq("text"))
        .select(col("text"), col("doc_id"), col("n_dupes"))),

    // Near-dup CLUSTER RESOLUTION: pairs → connected components → keep-set.
    // The pair rule here is deliberately SQL-expressible (same first word OR
    // same n_chars ⇒ edge) so DuckDB's recursive CTE can independently
    // compute the transitive closure; the minhash-pair composition is
    // nearDupClusters (spec-verified on a chained corpus).
    "q_dedup_clusters" -> ((s, d) => {
      val docs = t(s, d, "documents")
      graft.ops.Dedup.clusters(docs, "doc_id", sqlPairEdges(docs))
    }),

    // Deterministic per-epoch global training order: (shard, pos) such
    // that shard-major reading visits the corpus in the epoch's
    // pseudorandom order — per-epoch odd multiplier (a bijection, not a
    // rotation), shard monotone in rank so there is NO global sort.
    "q_epoch_shuffle" -> ((s, d) =>
      graft.ops.Packing.epochShuffle(
        t(s, d, "documents").select(col("doc_id")), "doc_id",
        nShards = 8, epoch = 3)),

    // Quality-weighted survivor: keep the LONGEST member of each cluster
    // (ties → min id) — the RefinedWeb/CCNet keep rule, via one
    // max(struct(score, -id)) hash aggregation (no per-component window).
    "q_dedup_keepby" -> ((s, d) => {
      val docs = t(s, d, "documents")
      graft.ops.Dedup.clustersKeepBy(docs, "doc_id", "n_chars",
        sqlPairEdges(docs))
    }),

    // Leakage-safe splits: train/val/test decided by the near-dup CLUSTER
    // representative (same SQL-expressible pair rule as q_dedup_clusters so
    // DuckDB recomputes the components independently), so near-duplicates
    // never straddle train and test.
    "q_split_leakage" -> ((s, d) => {
      val docs = t(s, d, "documents")
      graft.ops.Curation.leakageSafeSplit(docs, "doc_id", sqlPairEdges(docs),
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
    }),

    "q_dedup_normalized" -> ((s, d) =>
      t(s, d, "documents")
        .withColumn("norm",
          array_join(filter(
            split(regexp_replace(lower(col("text")), "[^a-z0-9\\s]", " "), "\\s+"),
            w => w =!= ""), " "))
        .groupBy(col("norm"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_dupes"))
        .select(col("doc_id"), col("n_dupes"))),

    // ---------------- text analysis ops
    "q_token_count" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          graft.ops.TextAnalysis.tokenCountWs(col("text")).cast("long").as("n_tokens_ws"))),

    "q_lang_stats" -> ((s, d) =>
      t(s, d, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))),

    "q_token_bpe" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          graft.ops.TextAnalysis.tokenCountBpe(col("text")).cast("long")
            .as("n_tokens_bpe"))),

    "q_quality_score" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          graft.ops.TextAnalysis.qualityScore(col("text")).as("quality"))),

    "q_text_profile" -> ((s, d) =>
      graft.ops.TextAnalysis.profile(t(s, d, "documents"), "text")
        .groupBy(col("lang_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens_bpe").cast("long")).as("sum_tokens"))),

    // HTML → text extraction (the crawl entry stage): the HTML wrapper is
    // synthesized by pure concatenation from the documents table — both
    // engines build the identical string, so the oracle replays the WHOLE
    // published regex chain (engine vs engine on the same rules, no dump)
    "q_html_extract" -> ((s, d) => {
      val html = concat(
        lit("<html><head><title>Doc "), col("doc_id"),
        lit("</title><script type=\"text/javascript\">var x = 1 < 2; // junk" +
          "</script><style>.a{color:red}</style></head><body>" +
          "<!-- note <b>tags</b> --><h1>Doc "),
        col("doc_id"),
        lit("</h1><p>"), col("text"),
        lit("</p><ul><li>first &amp; second</li><li>x &lt; y</li></ul>" +
          "</body></html>"))
      graft.ops.TextExtract.htmlExtract(
        t(s, d, "documents").select(col("doc_id"), html.as("html")),
        "doc_id", "html")
    }),

    // Anchor extraction (the link-graph entry): anchors are synthesized
    // by pure concatenation (both quote styles, attribute-before-href,
    // an embedded #fragment, and a fragment-only anchor that must drop),
    // so the oracle rebuilds the identical HTML and replays the RE2
    // href pattern + the whole urlNormalize/registrable-domain chain.
    "q_extract_links" -> ((s, d) => {
      val k1 = col("doc_id") * 31 + 7
      val k2 = col("doc_id") * 17 + 5
      val html = concat(
        lit("<html><body><p>Doc "), col("doc_id"),
        lit("</p><a href=\"https://site"), (k1 % 7).cast("string"),
        element_at(array(lit(".com"), lit(".org"), lit(".co.uk")),
          (k1 % 3 + 1).cast("int")),
        lit("/p/"), k1.cast("string"), lit("\">x</a>"),
        when(col("doc_id") % 3 === 0,
          concat(lit("<A CLASS=\"b\" HREF='https://www.site"),
            (k2 % 7).cast("string"), lit(".org/q/"), k2.cast("string"),
            lit("#frag'>y</A>"))).otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit("<a href=\"#top\">skip</a>"))
          .otherwise(lit("")),
        lit("</body></html>"))
      graft.ops.LinkGraph.extractLinks(
        t(s, d, "documents").select(col("doc_id"), html.as("html")),
        "doc_id", "html")
        .select(col("doc_id"), col("href"),
          graft.ops.UrlCuration.urlDomain(col("href")).as("domain"))
    }),

    // Anchor-TEXT profile per target domain (the off-page relevance
    // signal): anchors synthesized by pure concatenation — both quote
    // styles, attr-before-href, an embedded #fragment, a fragment-only
    // anchor that must drop, and a nested-markup anchor the documented
    // plain-text rule must NOT extract — so the oracle rebuilds the
    // identical HTML and replays the two-group extraction, both domain
    // chains, the self-domain drop, and the normWords rollup.
    "q_anchor_terms" -> ((s, d) => {
      val u = urlDocs(t(s, d, "documents"))
      val k1 = col("doc_id") * 31 + 7
      val k2 = col("doc_id") * 17 + 5
      val html = concat(
        lit("<html><body><a href=\"https://site"), (k1 % 7).cast("string"),
        element_at(array(lit(".com"), lit(".org"), lit(".co.uk")),
          (k1 % 3 + 1).cast("int")),
        lit("/p/"), k1.cast("string"),
        lit("\">Visit site "), (k1 % 7).cast("string"), lit(" now</a>"),
        when(col("doc_id") % 3 === 0,
          concat(lit("<A CLASS='b' HREF='https://www.site"),
            (k2 % 7).cast("string"), lit(".org/q#frag'>Read More</A>")))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit("<a href=\"#top\">skip</a>"))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          lit("<a href=\"https://site1.net/x\"><b>bold</b></a>"))
          .otherwise(lit("")),
        lit("</body></html>"))
      graft.ops.LinkGraph.anchorTerms(
        u.withColumn("html", html), "url", "html")
    }),

    // Exact-integer PageRank (domain-centrality quality signal): the edge
    // list is synthesized by pure arithmetic (two deterministic out-links
    // per doc over 53 string nodes, duplicates + self-loops included so
    // the internal cleaning is exercised), and the oracle replays THREE
    // full power-iteration rounds of the micro-unit recurrence
    // share = (850000·r) // 1e6 // outdeg; r' = 150000 + Σ share
    // in chained CTEs — every rank hash-compares because the arithmetic
    // is exact long math on both engines.
    "q_pagerank" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"))
      def node(c: org.apache.spark.sql.Column) =
        concat(lit("d"), (c % 53).cast("string"))
      val e = docs.select(node(col("doc_id")).as("src"),
          node(col("doc_id") * 7 + 3).as("dst"))
        .unionByName(docs.select(node(col("doc_id")).as("src"),
          node(col("doc_id") * 11 + 5).as("dst")))
      graft.ops.LinkGraph.pageRank(e, "src", "dst", iters = 3)
    }),

    // Warm-resume lifecycle (the refresh a continuously-crawled graph
    // runs): cold 1 round, persist, resume 2 more from the stored ranks —
    // bit-equal to the one-shot 3-round run, so it shares q_pagerank's
    // oracle VERBATIM.
    "q_pagerank_resume" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"))
      def node(c: org.apache.spark.sql.Column) =
        concat(lit("d"), (c % 53).cast("string"))
      val e = docs.select(node(col("doc_id")).as("src"),
          node(col("doc_id") * 7 + 3).as("dst"))
        .unionByName(docs.select(node(col("doc_id")).as("src"),
          node(col("doc_id") * 11 + 5).as("dst")))
      graft.ops.LinkGraph.pageRankFrom(e, "src", "dst",
        graft.ops.LinkGraph.pageRank(e, "src", "dst", iters = 1), iters = 2)
    }),

    // WET-source round-trip (the crawl-native receiver): the corpus is
    // rendered into a real on-disk WET file (driver-side fixture write —
    // setup, not the operator; record order pinned by doc_id), then read
    // back through the all-relational split/explode/regex parse. The
    // oracle replays every field from the documents table directly —
    // header extraction, octet Content-Length, and record ordinals must
    // all survive the render→parse round trip.
    "q_wet_read" -> ((s, d) => {
      val docs = t(s, d, "documents").where(col("doc_id") < 100)
      val recs = docs.orderBy("doc_id")
        .select(graft.sources.WetSource.renderRecord(
          concat(lit("https://d"), (col("doc_id") % 53).cast("string"),
            lit(".com/p/"), col("doc_id").cast("string")),
          lit("2024-03-01 00:00:00").cast("timestamp"),
          col("text")).as("rec"))
        .as[String](org.apache.spark.sql.Encoders.STRING).collect()
      val dir = java.nio.file.Files.createTempDirectory("wet-q")
      java.nio.file.Files.write(dir.resolve("part-0.wet"),
        recs.mkString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      graft.sources.WetSource.readWet(s, dir.toString)
        .select(col("record_idx"), col("url"), col("content_length"),
          col("length_ok"), col("text"))
    }),

    // Consistent pseudonymization: per-match COMPUTED replacement (the
    // custom-expression tier — regexp_replace can only do static
    // templates). The tag contract (first 8 hex of md5(lower(match)))
    // is replayed by DuckDB's own md5 on a known-position template,
    // including the handle arm and the untouched no-PII arm;
    // multi-occurrence consistency is PseudonymizeSpec territory.
    "q_pseudonymize" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"))
      val id = col("doc_id").cast("string")
      val txt = when(col("doc_id") % 5 === 0, lit("no contact info"))
        .otherwise(concat(lit("contact user"), id, lit("@mail"),
          (col("doc_id") % 7).cast("string"), lit(".com ping @u"), id,
          lit(" end")))
      docs.select(col("doc_id"),
        graft.expr.Pseudonymize.pseudonymize(txt).as("text_pseudo"))
    }),

    // Opt-out compliance signal: the engine must PARSE the robots meta
    // out of real markup (both attribute orders, both quote styles,
    // mixed case, distractor metas); the oracle knows the expected value
    // arithmetically from the synthesis — independent derivations that
    // must agree, incl. the NULL no-meta arm.
    "q_meta_robots" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"))
      val html = when(col("doc_id") % 3 === 0, lit(
          "<html><head><META NAME=\"robots\" CONTENT=\"noindex, NOAI\">" +
            "</head><body>x</body></html>"))
        .when(col("doc_id") % 3 === 1, lit(
          "<html><head><meta content='index, follow' name='robots'>" +
            "</head><body>x</body></html>"))
        .otherwise(lit(
          "<html><head><meta name=\"viewport\" content=\"width=1\">" +
            "</head><body>x</body></html>"))
      docs.select(col("doc_id"),
        graft.ops.TextExtract.htmlMetaRobots(html).as("meta_robots"))
    }),

    // Full-fat WARC round trip: response records wrap the HTML in an
    // HTTP envelope; the reader must split the envelope off (html
    // bit-exact, status parsed) while the WARC Content-Length covers
    // envelope + body per the standard — all replayed by the oracle.
    "q_warc_html" -> ((s, d) => {
      val docs = t(s, d, "documents").where(col("doc_id") < 100)
      val recs = docs.orderBy("doc_id")
        .select(graft.sources.WetSource.renderResponse(
          concat(lit("https://d"), (col("doc_id") % 53).cast("string"),
            lit(".com/p/"), col("doc_id").cast("string")),
          lit("2024-03-01 00:00:00").cast("timestamp"),
          concat(lit("<html><body><p>"), col("text"),
            lit("</p></body></html>"))).as("rec"))
        .as[String](org.apache.spark.sql.Encoders.STRING).collect()
      val dir = java.nio.file.Files.createTempDirectory("warc-q")
      java.nio.file.Files.write(dir.resolve("part-0.warc"),
        recs.mkString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      graft.sources.WetSource.readWarcHtml(s, dir.toString)
        .select(col("record_idx"), col("url"), col("http_status"),
          col("content_length"), col("length_ok"), col("html"))
    }),

    // Domain-rank enrichment (the Common-Crawl-style provenance prior
    // joined back onto the corpus): the link graph spans only the first
    // 30 of the corpus's 53 synthetic domains, so the LEFT join's NULL
    // path (unknown provenance) is part of the oracled surface. The
    // engine derives the domain through the urlDomain normalize chain;
    // the oracle derives it arithmetically from the synthesis — two
    // INDEPENDENT derivations that must agree, on top of the replayed
    // 3-round rank CTE chain.
    "q_rank_docs" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"),
        concat(lit("https://d"), (col("doc_id") % 53).cast("string"),
          lit(".com/p/"), col("doc_id").cast("string")).as("url"))
      def node(c: org.apache.spark.sql.Column) =
        concat(lit("d"), (c % 30).cast("string"), lit(".com"))
      val e = docs.select(node(col("doc_id")).as("src"),
          node(col("doc_id") * 7 + 3).as("dst"))
        .unionByName(docs.select(node(col("doc_id")).as("src"),
          node(col("doc_id") * 11 + 5).as("dst")))
      graft.ops.LinkGraph.rankDocs(docs, "url",
        graft.ops.LinkGraph.pageRank(e, "src", "dst", iters = 3))
    }),

    // ---------------- near-dup / similarity (no ANSI oracle — rows-only)
    // doc_id < 200 (not .limit) so the predicate pushes into the scan instead
    // of forcing a single-partition GlobalLimit shuffle
    "q_minhash_neardups" -> ((s, d) =>
      graft.ops.Dedup.minhashNearDups(
        t(s, d, "documents").where(col("doc_id") < 200), "doc_id", "text",
        threshold = 0.5)),

    // EXACT Jaccard similarity join (prefix filtering, no LSH): the oracle
    // is deliberately BRUTE FORCE over the dumped string shingles — it
    // independently proves the prefix filter produced NO false negatives,
    // rather than replaying the optimization. Empty-shingle docs excluded
    // on both sides (the operator's documented contract).
    "q_jaccard_neardups" -> ((s, d) =>
      graft.ops.Dedup.jaccardNearDups(
        t(s, d, "documents").where(col("doc_id") < 200), "doc_id", "text",
        threshold = 0.5)),

    // incremental (daily-ingest) shape: new batch [150,200) banded against
    // the stored index [0,150) — finds cross pairs and intra-batch pairs,
    // never re-self-joins the index
    "q_dedup_incremental" -> ((s, d) => {
      val docs = t(s, d, "documents")
      graft.ops.Dedup.minhashNearDupsAgainst(
        graft.ops.Dedup.minhashIndex(
          docs.where(col("doc_id") < 150), "doc_id", "text"),
        docs.where(col("doc_id") >= 150 && col("doc_id") < 200),
        "doc_id", "text", threshold = 0.5)
    }),

    "q_simhash_sigs" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), graft.ops.Dedup.simhash(col("text")).as("sig"))),

    "q_simhash_neardups" -> ((s, d) =>
      graft.ops.Dedup.simhashNearDups(
        t(s, d, "documents").where(col("doc_id") < 300), "doc_id", "text",
        maxDist = 3)),

    // synthetic embeddings are near-orthogonal (max pairwise cosine ≈0.51),
    // so exercise the LSH-bucket + verify path at a threshold that yields rows
    "q_embedding_neardups" -> ((s, d) =>
      graft.ops.Dedup.embeddingNearDups(
        t(s, d, "embeddings"), "vec_id", "embedding",
        threshold = 0.3, planes = 4)
        .withColumn("cosine", round(col("cosine"), 6))),

    // BM25 sparse retrieval: docs 0..4 as queries against the whole corpus.
    // Integer micro-unit scores are order-independent exact sums; the
    // per-term idf (the lone transcendental) is imported from the
    // _input_bm25 dump joined ON (word, df) so df itself is cross-checked,
    // and tokenization/tf/len/saturation/sum/top-k all replay in SQL.
    "q_bm25_topk" -> ((s, d) => {
      val docs = t(s, d, "documents")
      graft.ops.Bm25.topK(docs, "doc_id", "text",
        docs.where(col("doc_id") < 5), "doc_id", "text", k = 10)
    }),

    // the durable-index INGEST lifecycle: base build on the first 300
    // docs, the remaining 200 appended as batch 1 (per-batch stats rows
    // summed by the search), then searchIndex — which must produce the
    // IDENTICAL rows as the single-shot scoring over the whole corpus,
    // so it shares q_bm25_topk's oracle verbatim
    "q_bm25_incremental" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val dir = java.nio.file.Files
        .createTempDirectory("bm25-incr-q").toString
      graft.ops.Bm25.writeIndex(docs.where(col("doc_id") < 300),
        "doc_id", "text", dir, shards = 3)
      graft.ops.Bm25.appendToIndex(s, dir,
        docs.where(col("doc_id") >= 300), "doc_id", "text", 1L)
      graft.ops.Bm25.searchIndex(s, dir,
        docs.where(col("doc_id") < 5), "doc_id", "text", k = 10)
    }),

    // SemDeDup (kmeans-cell + in-cell cosine prune): kmeansIters = 0 makes
    // the quantizer the SAME deterministic sampled pick as the _input_vecs
    // cell16 dump, so the oracle replays cap, in-cell pairs, cosine
    // threshold, and the transitive closure relationally; threshold 0.3
    // per the near-orthogonal synthetic-embedding note above
    "q_semantic_dedup" -> ((s, d) =>
      graft.ops.Dedup.semanticDedup(
        t(s, d, "embeddings"), "vec_id", "embedding",
        nCells = 16, threshold = 0.3, kmeansIters = 0)),

    "q_quality_fingerprint" -> ((s, d) =>
      graft.ops.TextAnalysis.profile(t(s, d, "documents"), "text")
        .select(col("doc_id"), col("quality"), col("fingerprint"))),

    // Hashed-feature linear quality classifier (fastText-shaped scoring;
    // Classifier.scala): integer milli-weight sums, so n_tokens / feat_sum
    // / label are engine-EXACT (no double re-association under groupBy);
    // only the sigmoid rounds. The oracle joins the dumped word→wgt
    // dictionary (__OUT__/_input_cls — DuckDB has no xxhash64) and replays
    // the sum / threshold / sigmoid arithmetic. Both scoring paths run as
    // queries: the broadcast-join table path and the literal-vector narrow
    // path must produce identical rows against the SAME oracle.
    "q_quality_classify" -> ((s, d) =>
      graft.ops.Classifier.scoreJoin(t(s, d, "documents"), "doc_id", "text",
        graft.ops.Classifier.syntheticWeights(s, 4096), 4096,
        biasMilli = -25L)),

    "q_quality_classify_narrow" -> ((s, d) => {
      val w = graft.ops.Classifier.syntheticWeights(s, 4096)
        .orderBy("feat").collect().map(_.getLong(1))
      graft.ops.Classifier.scoreNarrow(t(s, d, "documents"), "doc_id", "text",
        w, biasMilli = -25L)
    }),

    // ---------------- corpus curation ops (training-data; Curation.scala)
    // Decontamination: eval set = every 7th document; n_hits = distinct
    // shared 13-grams. hashed=true exercises the scale path (xxhash64 join
    // keys); the oracle counts the same distinct n-grams as strings —
    // identical counts (CurationSpec proves hashed ≡ unhashed).
    "q_decontaminate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      graft.ops.Curation.decontaminate(docs, "doc_id", "text",
        docs.where(col("doc_id") % 7 === 0), "text")
    }),

    // Bloom-prefiltered decontamination (eval = every 5th doc): the bloom
    // bitset prunes map-side, the exact verify join removes its false
    // positives — so the ORACLE is the exact-join SQL; the bloom is pure
    // plan shape, invisible in the result by construction.
    "q_bloom_decontaminate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      graft.ops.Curation.decontaminateBloom(docs, "doc_id", "text",
        docs.where(col("doc_id") % 5 === 0), "text")
    }),

    "q_repetition" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), graft.ops.Curation.normWords(col("text")).as("_w"))
        .select(col("doc_id"),
          round(graft.ops.Curation.dupWordRatioFromWords(col("_w")), 4)
            .as("dup_word_ratio"),
          round(graft.ops.Curation.dupNgramRatioFromWords(col("_w"), 2), 4)
            .as("dup_2gram_ratio"))),

    // PII scrub over deterministically planted PII (the corpus text is
    // clean word salad, so the query plants one email / IPv4 / long digit
    // run per doc; the oracle plants the identical ones)
    "q_pii_redact" -> ((s, d) => {
      val withPii = t(s, d, "documents").withColumn("t",
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com at 10.0."), col("doc_id") % 256,
          lit(".7 ref "), lit(1000000L) + col("doc_id") * 13))
      val c = graft.ops.Curation.piiCounts(col("t"))
      withPii.select(col("doc_id"),
        graft.ops.Curation.redactPii(col("t")).as("redacted"),
        c.getField("n_emails").cast("long").as("n_emails"),
        c.getField("n_ips").cast("long").as("n_ips"),
        c.getField("n_nums").cast("long").as("n_nums"))
    }),

    "q_quota_sample" -> ((s, d) =>
      graft.ops.Curation.quotaSample(t(s, d, "documents"),
        Seq("lang"), "doc_id", k = 20)),

    // deterministic training-shard + train/val/test assignment — pure
    // per-row arithmetic on doc_id, replayed verbatim by the oracle
    "q_corpus_shards" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        graft.ops.Curation.shardAssign(col("doc_id"), 8).as("shard"),
        graft.ops.Curation.splitAssign(col("doc_id"),
          Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)).as("split"))),

    // deterministic domain-mixture rebalancing: per-lang keep fractions
    // via sampleRank cutoffs — pure id arithmetic, replayed by the oracle
    "q_mixture_sample" -> ((s, d) =>
      graft.ops.Curation.mixtureSample(
        t(s, d, "documents").select(col("doc_id"), col("lang")),
        "lang", "doc_id",
        Seq("en" -> 0.5, "zh" -> 0.25, "es" -> 0.1),
        defaultFraction = 0.05)
        .select(col("doc_id"), col("lang"))),

    // Upsampling mixture (weights > 1 = fractional epochs): en 2.5×,
    // de 0.25×, everything else 1× — floor(w) copies + one more iff the
    // id's rank falls under frac(w)·2^32, epoch per copy
    "q_mixture_upsample" -> ((s, d) =>
      graft.ops.Curation.upsampleMixture(
        t(s, d, "documents").select(col("doc_id"), col("lang")),
        "lang", "doc_id",
        Seq("en" -> 2.5, "de" -> 0.25), defaultWeight = 1.0)
        .select(col("doc_id"), col("lang"), col("n_copies"), col("epoch"))),

    // Corpus-wide top boilerplate trigrams (count desc, ngram tiebreak)
    "q_top_ngrams" -> ((s, d) =>
      graft.ops.Curation.topNgrams(t(s, d, "documents"), "text",
        n = 3, k = 20, minCount = 2)),

    // The bounded-shuffle heavy-hitters path (Misra-Gries sketch +
    // exact candidate recount + completeness proof) — must return the
    // IDENTICAL rows, so it shares q_top_ngrams' oracle verbatim
    "q_top_ngrams_sketch" -> ((s, d) =>
      graft.ops.Curation.topNgramsSketch(t(s, d, "documents"), "text",
        n = 3, k = 20, capacity = 8192, minCount = 2)),

    // BPE tokenizer-training merge step: corpus-wide adjacent char-pair
    // frequencies via the vocab-collapsed decomposition (the pair explode
    // runs over DISTINCT words weighted by freq — TextAnalysisSpec proves
    // ≡ the naive per-occurrence explode)
    "q_bpe_pairs" -> ((s, d) =>
      graft.ops.TextAnalysis.bpePairCounts(t(s, d, "documents"), "text",
        k = 40, minCount = 2)),

    // Corpus data card: per-(source, lang) exact integer statistics —
    // docs/chars/tokens/empties, Gopher pass counts at the published
    // defaults, normalized-word totals.
    "q_corpus_report" -> ((s, d) =>
      graft.ops.Curation.corpusReport(t(s, d, "documents"), "doc_id",
        "text", Seq("source", "lang"))),

    // ---------------- URL curation (RefinedWeb-style provenance stage).
    // URLs are synthesized from doc_id by pure arithmetic (urlDocs) so
    // the oracle rebuilds the identical strings in SQL; the variants
    // cover every normalize branch (scheme casing, www/www2 label, port,
    // trailing slash, query, fragment) and both registrable-domain rules
    // (plain 2-label and the co.uk/ac.jp ccSLD exception).
    "q_url_normalize" -> ((s, d) => {
      val u = urlDocs(t(s, d, "documents"))
      u.select(col("doc_id"), col("url"),
        graft.ops.UrlCuration.urlNormalize(col("url")).as("url_norm"),
        graft.ops.UrlCuration.urlHost(col("url")).as("host"),
        graft.ops.UrlCuration.urlDomain(col("url")).as("domain"))
    }),

    // PSL registrable domains over PSL-hard hosts (hosting suffixes,
    // multi-label ccSLDs, the *.ck wildcard + !www.ck exception, unknown
    // TLDs, suffix-only hosts). The engine resolves via the codegen'd
    // PslDomain kernel; the oracle replays the FULL PSL algorithm in SQL
    // (candidate-suffix join against the dumped rule table, exception >
    // longest, wildcard arity check) — any kernel/table divergence goes
    // red.
    "q_url_domain_psl" -> ((s, d) => {
      val id = col("doc_id")
      val ids = id.cast("string")
      val host = element_at(array(
        concat(lit("blog"), ids, lit(".github.io")),
        concat(lit("shop"), ids, lit(".example.co.uk")),
        concat(lit("www.site"), ids, lit(".com.au")),
        concat(lit("a.b.site"), ids, lit(".co.jp")),
        concat(lit("site"), ids, lit(".de")),
        concat(lit("foo"), ids, lit(".ck")),
        lit("www.ck"),
        concat(lit("x.y.foo"), ids, lit(".ck")),
        concat(lit("site"), ids, lit(".unknowntld")),
        lit("localhost"),
        lit("s3.amazonaws.com")), (id % 11 + 1).cast("int"))
      t(s, d, "documents").select(id, host.as("host"))
        .select(id, col("host"),
          graft.ops.UrlCuration.domainOfHostPsl(col("host")).as("domain"))
    }),

    // The composed URL-curation stage: blocklist anti-join (broadcast)
    // then the per-domain contribution cap (bounded TopK partials +
    // (domain, id)-keyed semi-join — no per-domain sort anywhere).
    "q_domain_cap" -> ((s, d) => {
      import s.implicits._
      val u = urlDocs(t(s, d, "documents"))
      val blocked = Seq("site1.com", "site2.co.uk").toDF("domain")
      graft.ops.UrlCuration.domainCap(
        graft.ops.UrlCuration.blockDomains(u, "url", blocked),
        "url", "doc_id", cap = 5)
        .select(col("doc_id"),
          graft.ops.UrlCuration.urlDomain(col("url")).as("domain"))
    }),

    // robots.txt parse (RFC 9309 grammar as relational ops): robots
    // bodies are synthesized per host by pure arithmetic (length(host)%4
    // picks among 4 fixtures covering consecutive-UA merge, comments,
    // blank lines, orphan rules, empty Disallow, wildcards, $), so the
    // oracle rebuilds the identical text and replays the ENTIRE parse —
    // comment strip, field/value split, group formation via lag+cumsum,
    // orphan-rule drop — in SQL.
    "q_robots_rules" -> ((s, d) => {
      val u = urlDocs(t(s, d, "documents"))
      val hosts = u.select(
        graft.ops.UrlCuration.urlHost(col("url")).as("host")).distinct()
      val robots = hosts.withColumn("robots_txt", robotsFor(col("host")))
      graft.ops.RobotsTxt.parseRules(robots)
        .where(col("pattern").isNotNull) // rule-less-group marker rows
        .select("host", "agent", "allow", "pattern")
    }),

    // robots.txt fetch-permission decision for agent "graftbot": agent
    // selection (specific group beats *), longest-match with Allow
    // tie-break, default allow — the collected rule table drives the
    // codegen'd RobotsDecide kernel, so the corpus side is scan → one
    // projection (no join, no shuffle; RobotsTxtSpec). The oracle
    // replays the decision with its own pattern→regex escape chain.
    "q_robots_allowed" -> ((s, d) => {
      val u = urlDocs(t(s, d, "documents"))
      val hosts = u.select(
        graft.ops.UrlCuration.urlHost(col("url")).as("host")).distinct()
      val robots = hosts.withColumn("robots_txt", robotsFor(col("host")))
      val rules = graft.ops.RobotsTxt.parseRules(robots)
      graft.ops.RobotsTxt.isAllowed(u, "url", rules, "graftbot")
        .select(col("doc_id"),
          graft.ops.UrlCuration.urlHost(col("url")).as("host"),
          col("allowed"))
    }),

    // Char-n-gram Naive-Bayes language ID (TextCat/langid.py-shaped):
    // profiles trained on the every-3rd-doc labeled seed, every doc
    // classified by exact integer NLL argmin. The oracle recomputes ALL
    // counts/totals/vocab in SQL and imports only the two quantized-ln
    // columns, cross-checked by joins ON the counts. The engine scores
    // every doc in one pass of the codegen'd LangIdScore kernel.
    "q_langid_ngram" -> ((s, d) => {
      val docs = t(s, d, "documents")
      graft.ops.TextAnalysis.langIdNgram(docs, "doc_id", "text",
        docs.where(col("doc_id") % 3 === 0), "lang")
    }),

    // Crawl snapshot diff: the previous snapshot is derived from the
    // current one by pure arithmetic (every-7th doc missing → added,
    // every-5th text suffixed → changed, synthetic 10M+ ids → removed),
    // so the oracle rebuilds it and replays the full-outer status CASE
    // on the TEXTS — an engine-side hash collision goes red.
    "q_snapshot_diff" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val prev = docs.where(col("doc_id") % 7 =!= 3)
        .withColumn("text", when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" OLD"))).otherwise(col("text")))
        .unionByName(docs.where(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"),
            lit("gone").as("text")))
      graft.ops.Curation.snapshotDiff(prev, docs, "doc_id", "text")
    }),

    // Dataset-overlap audit: exact n-gram-set Jaccard between the even-
    // and odd-doc corpora (integer ppm) + the corpus-minhash estimate
    // (elementwise-min signatures — ≤64 rows shipped per corpus at any
    // scale). Oracle replays BOTH sides from the _input_docs dump: exact
    // from the shingle strings, estimate from the per-doc sig arrays.
    "q_corpus_overlap" -> ((s, d) => {
      val docs = t(s, d, "documents")
      graft.ops.Dedup.corpusOverlap(
        docs.where(col("doc_id") % 2 === 0),
        docs.where(col("doc_id") % 2 === 1), "text")
    }),

    // Trigram Stupid-Backoff LM scoring: the order-3 instance of the
    // backoff chain (same even-doc dictionaries, one more level — seen
    // trigram / +BO bigram / +2BO unigram / OOV floor); the synthetic
    // OOV doc makes every backoff/OOV arm execute at the gate.
    "q_lm3_score" -> ((s, d) =>
      graft.ops.TextAnalysis.lmScoreTrigram(
        t(s, d, "documents").select(col("doc_id"), col("text"))
          .unionByName(s.range(1).select(lit(-1L).as("doc_id"),
            lit("the qqqoovzzz cat qqqoovzzz").as("text"))),
        "doc_id", "text",
        t(s, d, "documents").where(col("doc_id") % 2 === 0), "text")),

    // Perplexity-style LM quality scoring (CCNet-shaped): per-doc total
    // and mean token NLL in integer micro-nats under the corpus unigram
    // distribution — exact long sums + exact integer division, so the
    // score is partitioning-invariant and fully SQL-replayable (the
    // quantized ln imports from _input_lm joined ON (w, cnt)).
    "q_lm_score" -> ((s, d) =>
      graft.ops.TextAnalysis.lmScore(t(s, d, "documents"), "doc_id", "text")),

    // Bigram Stupid-Backoff LM scoring (Brants et al. 2007): dictionaries
    // from the EVEN-doc subset, the whole corpus scored against them —
    // so seen-bigram, backoff (unseen bigram over seen unigrams), OOV,
    // and first-token paths all fire. A synthetic doc with a token that
    // cannot be in the generated vocabulary GUARANTEES the OOV arms
    // execute at the gate (they are replayed identically in the oracle's
    // union); exact micro-nat long sums; the backoff charge is the
    // integer spec constant 916291 = Q(-ln 0.4), hardcoded identically
    // in the oracle.
    "q_lm2_score" -> ((s, d) =>
      graft.ops.TextAnalysis.lmScoreBigram(
        t(s, d, "documents").select(col("doc_id"), col("text"))
          .unionByName(s.range(1).select(lit(-1L).as("doc_id"),
            lit("the qqqoovzzz cat qqqoovzzz").as("text"))),
        "doc_id", "text",
        t(s, d, "documents").where(col("doc_id") % 2 === 0), "text")),

    // BPE tokenizer: 8 merge rules learned on the corpus (iterative
    // most-frequent-pair fusion over the collapsed vocabulary — the
    // driver-local trainer, bit-equal to the distributed loop by
    // BpeSpec), then per-doc token counts under them via the
    // whole-list BpeEncode expression. Training is deterministic (total-
    // order tie-break), so the query's rules equal the dumped
    // _input_bpe_merges primitive; the oracle replays the whole ENCODE
    // per distinct word as a recursive CTE over that list.
    "q_bpe_encode" -> ((s, d) => {
      val docs = t(s, d, "documents")
      graft.ops.Bpe.tokenCounts(docs, "doc_id", "text",
        graft.ops.Bpe.trainLocal(docs, "text", nMerges = 8))
    }),

    // BPE encode-to-ids: every doc's token-ID sequence under the same
    // 8-rule tokenizer, exploded to (doc_id, pos, tid) scalars. The
    // oracle re-derives ids with NO new primitive: base ids are alphabet
    // positions, fused ids are 35 + min(rank) over the dumped merge
    // list, and the per-word token arrays come from the same recursive-
    // CTE encode replay as q_bpe_encode. Empty docs carry no rows here
    // (BpeSpec covers the empty-array contract).
    "q_bpe_ids" -> ((s, d) => {
      val docs = t(s, d, "documents")
      graft.ops.Bpe.encodeIds(docs, "doc_id", "text",
          graft.ops.Bpe.trainLocal(docs, "text", nMerges = 8))
        .select(col("doc_id"), posexplode(col("ids")).as(Seq("pos", "tid")))
    }),

    // FUZZY decontamination: corpus docs near-duplicating (shingle
    // Jaccard ≥ 0.5) any doc_id%7 eval doc. Eval ids offset by 1,000,000
    // (the op's disjoint-id contract); the oracle replays the banded
    // candidate join, both caps, side attribution, and the exact-Jaccard
    // verify from the dumped band hashes.
    "q_fuzzy_decontaminate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      graft.ops.Curation.decontaminateFuzzy(docs, "doc_id", "text",
        docs.where(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")),
        "doc_id", "text", threshold = 0.5)
    }),

    // Paragraph-level exact dedup (the RefinedWeb/CCNet line-dedup pass).
    // The synthetic docs are flat word streams, so the query first lays
    // them out as deterministic 3-word paragraphs — which genuinely
    // collide across docs, so the dedup is real. The oracle rebuilds the
    // same chunks from the word lists and replays ownership, keep-first,
    // and ordered reassembly on the paragraph STRINGS (the engine keys on
    // xxhash64 — a hash collision would go red, not silently pass).
    "q_paragraph_dedup" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val w = split(col("text"), " ")
      val chunked = docs.select(col("doc_id"),
        array_join(transform(
          sequence(lit(0), floor((size(w) + 2) / 3).cast("int") - 1),
          i => array_join(slice(w, i * 3 + 1, lit(3)), " ")), "\n\n").as("text"))
      graft.ops.Dedup.paragraphDedup(chunked, "doc_id", "text")
    }),

    // C4 line-level filtering (Raffel et al. 2020): lines constructed by
    // linedDocs (terminal '.' unless (doc_id+i)%3==0); rules = terminal
    // punctuation, ≥3 words, token blocklist ("vector" — a real corpus
    // word, so drops are genuine); doc level = "big vector" phrase (also
    // really present) + ≥3 surviving lines. The oracle replays the
    // construction, every rule with first-match attribution, the ordered
    // reassembly, and the doc verdict in SQL.
    "q_c4_lines" -> ((s, d) =>
      graft.ops.QualityRules.c4LineFilter(
        linedDocs(t(s, d, "documents"), bullets = false),
        "doc_id", "text", minWordsPerLine = 3,
        lineBlocklist = Seq("vector"),
        docBlocklist = Seq("lorem ipsum", "big vector"),
        minKeptLines = 3)),

    // Gopher quality rules (Rae et al. 2021 Table A1) over bullet/
    // ellipsis-decorated constructed lines; word-count band tightened to
    // [20,60] so the sf corpus (~30-40 words/doc, plus injected bullet
    // tokens) produces both verdicts. Every ratio rule is an integer
    // cross-multiplication — the oracle replays construction, all 9
    // counts, and all 7 flags exactly.
    "q_gopher_rules" -> ((s, d) =>
      graft.ops.QualityRules.gopherRules(
        linedDocs(t(s, d, "documents"), bullets = true),
        "doc_id", "text", minWords = 20L, maxWords = 60L)),

    // Sliding-window chunking with overlap (RAG/long-context layout):
    // 12-token windows every 8 tokens, chunks never cross doc boundaries
    "q_sliding_chunks" -> ((s, d) =>
      graft.ops.Packing.slidingChunks(t(s, d, "documents"),
        "doc_id", "text", window = 12, stride = 8)),

    // Temperature-based mixture weights (p_g ∝ n_g^0.5, 1000-example
    // target): counts, normalization, and both integer divisions replay
    // in SQL; only the quantized pow imports from _input_temp, joined
    // ON (lang, n_docs) so the counts are cross-checked.
    "q_temperature_mixture" -> ((s, d) =>
      graft.ops.Curation.temperatureWeights(t(s, d, "documents"), "lang",
        alpha = 0.5, targetTotal = 1000L)),

    // DSIR importance weights (Xie et al. 2023): per-doc hashed-bigram
    // log importance vs the doc_id%7 target sample, exact long micro-unit
    // sums. The oracle recomputes bucket counts/totals/smoothing and the
    // per-doc sums from the dumped (doc_id, bucket, cnt) primitive; only
    // the dictionary's quantized ln imports (joined ON (bucket, c_tgt,
    // c_raw), so every count is cross-checked).
    "q_dsir_weights" -> ((s, d) => {
      val docs = t(s, d, "documents")
      graft.ops.Dsir.importanceWeights(docs, "doc_id", "text",
        docs.where(col("doc_id") % 7 === 0), "text", n = 2, bucketBits = 12)
    }),

    // DSIR top-k selection: the resampling step's deterministic top-k
    // variant — rank by (weight_micro desc, doc_id), keep 50
    "q_dsir_select" -> ((s, d) => {
      val docs = t(s, d, "documents")
      graft.ops.Dsir.selectTopK(
        graft.ops.Dsir.importanceWeights(docs, "doc_id", "text",
          docs.where(col("doc_id") % 7 === 0), "text",
          n = 2, bucketBits = 12), k = 50)
    }),

    // Token-BUDGET mixture quota (2000 tokens per language, sampleRank
    // order): the oracle replays the NAIVE full-group prefix-sum window
    // definition, independently proving the engine's skew-safe bucketed
    // decomposition (bucket sums + boundary-bucket-only refinement)
    "q_token_quota" -> ((s, d) =>
      graft.ops.Curation.tokenQuotaSample(
        t(s, d, "documents").select(col("doc_id"), col("lang"),
          size(graft.ops.Curation.normWords(col("text"))).cast("long")
            .as("tok")),
        "lang", "doc_id", "tok", budget = 2000L)),

    // Intra-corpus duplicate-span signal (cross-doc 13-gram windows; a
    // doc repeating itself does NOT count — that's q_repetition's job)
    "q_dup_spans" -> ((s, d) =>
      graft.ops.Curation.dupSpans(t(s, d, "documents"), "doc_id", "text")),

    // Maximal duplicated runs (Lee-et-al-style exact-substring fidelity):
    // adjacent/overlapping shared 13-gram windows merged into maximal
    // word runs — n=5 here so the sf corpus actually exhibits multi-window
    // runs; oracle replays the gaps-and-islands merge in SQL
    "q_dup_runs" -> ((s, d) =>
      graft.ops.Curation.dupRuns(t(s, d, "documents"), "doc_id", "text",
        n = 5)),

    // Char-level exact-substring spans + removal (Lee et al. ExactSubstr):
    // RAW split(" ") tokenization, engine keys hashed n-grams while the
    // oracle replays on the strings — a collision goes red, not silent.
    "q_dup_run_spans" -> ((s, d) =>
      graft.ops.Curation.dupRunSpans(t(s, d, "documents"), "doc_id",
          "text", n = 5)
        .select(col("doc_id"), col("start_word").cast("long"),
          col("end_word").cast("long"), col("start_char").cast("long"),
          col("end_char").cast("long"), col("run_words"))),
    "q_dup_span_removal" -> ((s, d) =>
      graft.ops.Curation.removeDupSpans(t(s, d, "documents"), "doc_id",
        "text", n = 5)),

    // Incremental connected components: pairs split into an "old" corpus
    // ([0,350) endpoints only) and a "new" batch (any pair touching
    // [350,∞)); ccUpdate merges the new edges into the old assignment
    // recomputing only touched components. Oracle: the full transitive
    // closure over ALL pairs — incremental must equal full recompute.
    "q_cc_incremental" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val all = sqlPairEdges(docs)
      val oldPairs = all.where(col("id_a") < 350 && col("id_b") < 350)
      val newPairs = all.where(col("id_a") >= 350 || col("id_b") >= 350)
      val existing = graft.ops.Dedup.clusters(
          docs.where(col("doc_id") < 350), "doc_id", oldPairs)
        .select(col("doc_id").cast("long").as("id"), col("comp"))
      val updated = graft.ops.Dedup.ccUpdate(existing, newPairs)
      docs.select(col("doc_id").cast("long").as("id"))
        .join(updated, Seq("id"), "left")
        .select(col("id").as("doc_id"),
          coalesce(col("comp"), col("id")).as("comp"),
          (coalesce(col("comp"), col("id")) === col("id")).as("keep"))
    }),

    // Sequence packing (concat-and-chunk): per-shard running token offset
    // cut into 512-token packs; docs may straddle pack boundaries
    "q_pack_chunks" -> ((s, d) =>
      graft.ops.Packing.packChunks(
        t(s, d, "documents").select(col("doc_id"),
          graft.ops.TextAnalysis.tokenCountWs(col("text")).as("n_tokens")),
        "doc_id", "n_tokens", budget = 512, nShards = 8)),

    // Packed training rows: the concat-and-chunk layout MATERIALIZED —
    // one row per (shard, pack) carrying the actual id slice assembly.
    // Ids here are word lengths (deterministic, so the oracle replays
    // the whole offset/split/assembly pipeline without the BPE CTE);
    // PackingSpec runs the same op over real BPE ids.
    "q_pack_rows" -> ((s, d) =>
      graft.ops.Packing.packedRows(
        t(s, d, "documents").select(col("doc_id"),
          transform(graft.ops.Curation.normWords(col("text")),
            w => length(w).cast("int")).as("ids")),
        "doc_id", "ids", budget = 64, nShards = 4)
      .select(col("shard"), col("pack"), col("n_ids"),
        array_join(transform(col("ids"), i => i.cast("string")), " ")
          .as("ids_str"))),

    // Seeded epoch order: the same packed rows under orderSeed = 7 — a
    // per-epoch deterministic reshuffle of each shard's stream with no
    // global sort; the oracle replays the seeded Knuth rank in BIGINT
    // arithmetic.
    "q_pack_epoch" -> ((s, d) =>
      graft.ops.Packing.packedRows(
        t(s, d, "documents").select(col("doc_id"),
          transform(graft.ops.Curation.normWords(col("text")),
            w => length(w).cast("int")).as("ids")),
        "doc_id", "ids", budget = 64, nShards = 4, orderSeed = Some(7L))
      .select(col("shard"), col("pack"), col("n_ids"),
        array_join(transform(col("ids"), i => i.cast("string")), " ")
          .as("ids_str"))),

    // Per-pack manifest: one row per (doc, pack) span with the doc's token
    // range inside the pack — the pack reader's seek list
    "q_pack_manifest" -> ((s, d) =>
      graft.ops.Packing.packManifest(
        graft.ops.Packing.packChunks(
          t(s, d, "documents").select(col("doc_id"),
            graft.ops.TextAnalysis.tokenCountWs(col("text")).as("n_tokens")),
          "doc_id", "n_tokens", budget = 512, nShards = 8),
        "doc_id")),

    // Greedy whole-doc packing (first-fit in id order per shard; docs
    // never split) — the sequential-recurrence variant, oracled by a
    // DuckDB recursive CTE replaying the same fill state
    "q_pack_greedy" -> ((s, d) =>
      graft.ops.Packing.packGreedy(
        t(s, d, "documents").select(col("doc_id"),
          graft.ops.TextAnalysis.tokenCountWs(col("text")).as("n_tokens")),
        "doc_id", "n_tokens", budget = 512, nShards = 8)),

    // Range join: point-in-interval via granule bucketing (equi-join on
    // the granule + exact containment filter — never a nested loop);
    // oracle is DuckDB's plain non-equi join
    "q_range_join" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val points = orders.where(col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey").as("p_key"), col("o_totalprice").as("price"))
      val intervals = orders.where(col("o_orderkey") % 37 === 0)
        .select(col("o_orderkey").as("i_key"), col("o_totalprice").as("lo"),
          (col("o_totalprice") + lit(5000.0)).as("hi"))
      RangeJoin.pointInInterval(points, "price", intervals, "lo", "hi",
          granule = 1000.0)
        .select(col("p_key"), col("i_key"))
    }),

    // Interval-overlap join (sessions × incidents shape): both sides
    // granule-exploded, dedup by first-shared-granule arithmetic
    "q_overlap_join" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val lft = orders.where(col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey").as("l_key"), col("o_totalprice").as("ls"),
          (col("o_totalprice") + lit(2000.0)).as("le"))
      val rgt = orders.where(col("o_orderkey") % 37 === 0)
        .select(col("o_orderkey").as("r_key"), col("o_totalprice").as("rs"),
          (col("o_totalprice") + lit(5000.0)).as("re"))
      RangeJoin.intervalOverlap(lft, "ls", "le", rgt, "rs", "re",
          granule = 1000.0)
        .select(col("l_key"), col("r_key"))
    }),

    // As-of join: enrich every event with the user's latest click at or
    // before the event time (union + running-window strategy; DuckDB's
    // native ASOF JOIN is the independent oracle)
    "q_asof_join" -> ((s, d) => {
      val events = t(s, d, "events")
      val clicks = events.where(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("click_id"),
          round(max_by(col("value"), col("event_id")), 4).as("click_value"))
      AsOfJoin.asofUnion(
        events.select(col("event_id"), col("user_id"), col("ts")),
        clicks, Seq("user_id"), "ts", "ts", Seq("click_id", "click_value"))
        .select(col("event_id"), col("user_id"),
          col("click_id"), col("click_value"))
    }),

    // Same as-of semantics through the BROADCAST strategy — both paths
    // get official driver verification against the same native-ASOF oracle
    "q_asof_broadcast" -> ((s, d) => {
      val events = t(s, d, "events")
      val clicks = events.where(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("click_id"),
          round(max_by(col("value"), col("event_id")), 4).as("click_value"))
      AsOfJoin.asofBroadcast(
        events.select(col("event_id"), col("user_id"), col("ts")),
        clicks, Seq("user_id"), "ts", "ts", Seq("click_id", "click_value"))
        .select(col("event_id"), col("user_id"),
          col("click_id"), col("click_value"))
    }),

    // ---------------- multimodal plumbing (stubbed codec; the decode
    // arithmetic is oracled from the dumped payload-hash primitive)
    "q_media_decode" -> ((s, _) => {
      val media = graft.ops.Multimodal.syntheticMedia(s, 300)
      graft.ops.Multimodal.decodeAndFeaturize(media).toDF()
        .select(col("media_id"), col("kind"), col("width"), col("height"),
          col("n_frames"))
    }),

    // REAL decode round trip: genuine PNG/JPEG/GIF bytes built from
    // id-arithmetic dims, parsed back by the pure-JVM header codec; the
    // oracle recomputes the dims arithmetically — builder or parser
    // drift goes red. (Audio/video stay on the documented stub seam.)
    "q_media_decode_real" -> ((s, _) => {
      import s.implicits._
      graft.ops.Multimodal.syntheticEncodedImages(s, 300).map { r =>
        val (w, h, f) =
          graft.ops.Multimodal.ImageHeaderCodec.decode(r.payload, "image")
        (r.media_id, r.format, w, h, f)
      }.toDF("media_id", "format", "width", "height", "n_frames")
    }),

    "q_media_framesample" -> ((s, _) => {
      val media = graft.ops.Multimodal.syntheticMedia(s, 300)
      val dec = graft.ops.Multimodal.decodeAndFeaturize(media)
      graft.ops.Multimodal.frameSamplePlan(dec)
        .select(col("media_id"), col("n_frames"), size(col("sampled_frames")).as("n_sampled"))
    }),

    "q_media_resize" -> ((s, _) => {
      val media = graft.ops.Multimodal.syntheticMedia(s, 300)
      graft.ops.Multimodal.resizePlan(
        graft.ops.Multimodal.decodeAndFeaturize(media))
    }),

    "q_ann_bruteforce" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      graft.ops.Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        emb.where(col("vec_id") < 5), "vec_id", "embedding", k = 5)
        .withColumn("cosine", round(col("cosine"), 6))
    }),

    // Hybrid retrieval: dense brute-force top-5 + sparse BM25 top-10
    // fused by reciprocal rank (integer micro-units, exact sums); the
    // oracle recomputes BOTH lists and the fusion independently
    "q_rrf_hybrid" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val dense = graft.ops.Similarity.bruteForceTopK(emb, "vec_id",
        "embedding", emb.where(col("vec_id") < 5), "vec_id", "embedding",
        k = 5)
      val docs = t(s, d, "documents")
      val sparse = graft.ops.Bm25.topK(docs, "doc_id", "text",
        docs.where(col("doc_id") < 5), "doc_id", "text", k = 10)
      graft.ops.Similarity.rrfFuse(Seq(
        dense.select("query_id", "id", "rank"),
        sparse.select("query_id", "id", "rank")), k = 8)
    }),

    "q_ann_ivf" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      // kmeansIters = 0: with nProbe == nCells every cell is scanned, so
      // centroid refinement cannot change the result — skip its extra
      // corpus pass (IvfSpec covers the trained path)
      graft.ops.Ivf.ivfTopK(emb, "vec_id", "embedding",
        emb.where(col("vec_id") < 5), "vec_id", "embedding",
        k = 5, nCells = 16, nProbe = 16, kmeansIters = 0)
        .withColumn("cosine", round(col("cosine"), 6))
    }),

    "q_ann_lsh" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      graft.ops.Similarity.lshTopK(emb, "vec_id", "embedding",
        emb.where(col("vec_id") < 5), "vec_id", "embedding", k = 5, planes = 6)
        .withColumn("cosine", round(col("cosine"), 6))
    }),

    // Exact KNN GRAPH: every corpus row is its own query — the self-join
    // semantic curation / graph-based data selection builds on. Oracled
    // as a direct brute-force self-join + window top-k.
    "q_knn_graph" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      graft.ops.Similarity.knnGraph(emb, "vec_id", "embedding", k = 3)
        .withColumn("cosine", round(col("cosine"), 6))
    }),

    // Approximate KNN graph at corpus scale: LSH-bucketed, hot-bucket-
    // capped, SALTED index self-join. Deterministic, so fully replayable:
    // buckets come from the _input_vecs dump; the cap (row_number by id),
    // multiprobe expansion (bucket ^ 2^p), candidate join, double cosine,
    // and tie-broken top-k are all replayed in SQL. The salt is proven
    // result-invariant in SimilaritySpec (salt=1 ≡ salt=8), so the oracle
    // replays the unsalted pair set.
    "q_knn_graph_lsh" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      graft.ops.Similarity.knnGraphLsh(emb, "vec_id", "embedding",
        k = 3, planes = 6, salt = 4)
        .withColumn("cosine", round(col("cosine"), 6))
    }),

    // ANN recall@k at nProbe < nCells — the number an IVF user actually
    // tunes: per-query |IVF top-k ∩ brute-force top-k| / k. The oracle
    // replays BOTH sides in SQL: brute force directly, IVF from the dumped
    // cell/probe primitives (_input_vecs), intersecting independently.
    "q_ann_recall" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
      val ivf = graft.ops.Ivf.ivfTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5, nCells = 16, nProbe = 4,
        kmeansIters = 0)
      val bf = graft.ops.Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5)
      val hits = ivf.select(col("query_id"), col("id"))
        .join(bf.select(col("query_id"), col("id")),
          Seq("query_id", "id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
      queries.select(col("vec_id").as("query_id")).join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          round(coalesce(col("n_hits"), lit(0L)).cast("double") / 5.0, 4)
            .as("recall_at_5"))
    }),

    // Incremental IVF index LIFECYCLE as one query: initial build
    // (batch 0) on vec_id < 400 → ingest append (batch 1) of [400, 500)
    // → a RE-CRAWL append (batch 2) rewriting ids < 10 with the vectors
    // of (id + 490) → offline compaction (last-writer-wins by batch_id)
    // → full-probe search (nProbe = nCells ⇒ exact). The oracle replays
    // the EFFECTIVE corpus relationally (CASE on the re-crawled ids) and
    // brute-forces cosine top-k — fully independent of the index
    // build/append/compact machinery it verifies.
    "q_ann_incremental" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val dir = java.nio.file.Files.createTempDirectory("graft-ivf-inc").toString
      graft.ops.Ivf.writeIndex(emb.where(col("vec_id") < 400),
        "vec_id", "embedding", dir, nCells = 16, kmeansIters = 0)
      graft.ops.Ivf.appendToIndex(s, dir,
        emb.where(col("vec_id") >= 400), "vec_id", "embedding", batchId = 1L)
      graft.ops.Ivf.appendToIndex(s, dir,
        emb.where(col("vec_id") >= 490)
          .select((col("vec_id") - 490).as("vec_id"), col("embedding")),
        "vec_id", "embedding", batchId = 2L)
      graft.ops.Ivf.compactIndex(s, dir)
      graft.ops.Ivf.probeIndex(s, dir,
        emb.where(col("vec_id") < 5), "vec_id", "embedding", k = 5, nProbe = 16)
        .withColumn("cosine", round(col("cosine"), 6))
    }),

    // Product-quantization ANN (Pq.scala): iters = 0 codebooks (sampled
    // codewords) so training is collect-then-argmin deterministic — Lloyd
    // refinement averages doubles whose merge order Spark does not pin,
    // and the oracle replays ADC over the DUMPED codes/LUT
    // (__OUT__/_input_pq, _input_pqlut), so the query's codebook must be
    // bit-identical to the dump's. The trained path is PqSpec territory,
    // exactly like q_ann_ivf's kmeansIters = 0 note above.
    "q_ann_pq" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val cb = graft.ops.Pq.train(emb, "vec_id", "embedding",
        m = 8, ksub = 16, iters = 0)
      graft.ops.Pq.pqTopK(emb, "vec_id", "embedding",
        emb.where(col("vec_id") < 5), "vec_id", "embedding", cb, k = 5)
        .withColumn("score", round(col("score"), 6))
    }),

    // IVF-PQ: coarse cells/probes are the SAME primitives q_ann_recall
    // dumps (_input_vecs.cell16, _input_probes: nCells = 16, nProbe = 4,
    // kmeansIters = 0, seed 11) — the oracle joins codes to probed cells
    // and replays ADC + top-k relationally, fully independent of the
    // engine's join/argmax machinery.
    "q_ann_ivfpq" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val cb = graft.ops.Pq.train(emb, "vec_id", "embedding",
        m = 8, ksub = 16, iters = 0)
      graft.ops.Pq.ivfPqTopK(emb, "vec_id", "embedding",
        emb.where(col("vec_id") < 5), "vec_id", "embedding", cb,
        k = 5, nCells = 16, nProbe = 4, kmeansIters = 0)
        .withColumn("score", round(col("score"), 6))
    }),

    // Random-projection (JL) embedding prep: exact integer micro-unit
    // components (quantize once, ±1-sign long sums — order-independent
    // and bit-replayable), exploded to scalar rows; the sign matrix is
    // the dumped primitive (_input_rp), everything else replays in SQL
    "q_rp_project" -> ((s, d) =>
      graft.ops.Rp.project(t(s, d, "embeddings"), "vec_id", "embedding",
          outDim = 16, seed = 11L)
        .select(col("vec_id"),
          posexplode(col("proj_micro")).as(Seq("j", "comp_micro")))
        .select(col("vec_id"), col("j").cast("long").as("j"),
          col("comp_micro"))),

    // ---------------- transcript pipeline stages. Input is the seed-42
    // synthetic corpus, which Verify dumps to __OUT__/_input_turns so the
    // oracle SQL reproduces parse→route→aggregate over the same rows.
    // Timestamps string-formatted (oracle convention: dodge pandas ns/us).
    "q_pipeline_rollup" -> ((s, _) =>
      entry(s).select(col("conv_id"), col("n_turns"), col("n_errors"),
        col("n_tools_distinct"),
        date_format(col("first_ts"), "yyyy-MM-dd HH:mm:ss").as("first_ts"),
        date_format(col("last_ts"), "yyyy-MM-dd HH:mm:ss").as("last_ts"),
        col("sum_latency_ms"))),

    "q_pipeline_sinkcounts" -> ((s, _) => {
      val turns = TranscriptGen.turnsDs(s, 500).toDF()
      Aggregate.sinkCounts(Pipeline.transform(turns,
        TranscriptGen.roleDim(s).toDF(), TranscriptGen.toolDim(s).toDF()))
    }),

    "q_conv_sample" -> ((s, _) => {
      val turns = TranscriptGen.turnsDs(s, 500).toDF()
      Sampler.sampleConversations(turns, 10.0)
        .groupBy(col("conv_id")).agg(count(lit(1)).as("n_turns"))
    }),

    // Conversation-level near-dup (the SFT-corpus dedup pass): render
    // each conversation to one turn-ordered document, then the banded
    // minhash machinery. Input is the synthetic corpus plus deterministic
    // clones (every 5th conversation re-appears under a 'dupe-' id with
    // one extra closing turn), so real positives exist; the oracle
    // re-renders AND re-shingles everything from _input_turns — only the
    // minhash sig/band hashes import from the _input_convs dump.
    "q_conv_neardups" -> ((s, _) =>
      graft.ops.Dedup.convNearDups(convDedupTurns(s), "conv_id",
        "turn_idx", "text", threshold = 0.5)),

    // ---------------- translators (§2.11): jaeger span mapping over the
    // same dumped corpus (OTLP/zipkin/OC covered by TranslatorsSpec)
    "q_translate_jaeger" -> ((s, _) =>
      Translators.toJaegerSpans(
        Parse.parseGrok(TranscriptGen.turnsDs(s, 500).toDF())))
  )

  def oracleSql: Map[String, String] = Map(
    "q_filter_project" ->
      """SELECT l_orderkey, l_partkey, l_quantity, l_returnflag
        |FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1996-01-01' AND l_quantity > 45""".stripMargin,

    "q_agg_groupby" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q_agg_having" ->
      """SELECT l_orderkey, CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY l_orderkey
        |HAVING CAST(SUM(l_quantity) AS DOUBLE) > 150""".stripMargin,

    "q_agg_countdistinct" ->
      """SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM events GROUP BY event_type""".stripMargin,

    "q_join_broadcast" ->
      """SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,

    "q_join_3way" ->
      """SELECT o_orderstatus, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_items,
        |  CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY o_orderstatus, c_mktsegment""".stripMargin,

    "q_semi_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders)""".stripMargin,

    "q_anti_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)""".stripMargin,

    "q_join_nation_region" ->
      """SELECT r_name, CAST(COUNT(*) AS BIGINT) AS n_nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin,

    "q_union" ->
      """SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000
        |UNION
        |SELECT o_custkey AS custkey FROM orders WHERE o_totalprice < 1000""".stripMargin,

    "q_distinct" -> "SELECT DISTINCT event_type FROM events",

    "q_sort_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,

    "q_window_lag" ->
      """SELECT event_id, user_id,
        |  ROUND(value - COALESCE(LAG(value, 1) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id), 0.0), 4) AS delta
        |FROM events""".stripMargin,

    "q_window_rownum" ->
      """SELECT user_id, event_id, value, rn FROM (
        |  SELECT user_id, event_id, value,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY value DESC, event_id) AS INT) AS rn
        |  FROM events) WHERE rn <= 3""".stripMargin,

    "q_window_running" ->
      """SELECT event_id, user_id,
        |  ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_value
        |FROM events""".stripMargin,

    "q_json_extract" ->
      """SELECT event_type,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM events GROUP BY event_type""".stripMargin,

    "q_regex_extract" ->
      """SELECT regexp_extract(text, '^(\w+)', 1) AS first_word,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs
        |FROM documents GROUP BY 1""".stripMargin,

    "q_grok_extract" ->
      """SELECT CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) % 10 AS k_mod,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM events GROUP BY 1""".stripMargin,

    "q_date_trunc" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(value), 2) AS sum_value
        |FROM events GROUP BY 1""".stripMargin,

    "q_case_route" ->
      """SELECT CASE WHEN event_type = 'error' THEN 'errors'
        |            WHEN value > 150 THEN 'big' ELSE 'rest' END AS sink,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows
        |FROM events GROUP BY 1""".stripMargin,

    "q_mod_sample" ->
      """SELECT event_id, user_id, event_type FROM events
        |WHERE event_id % 100 < 10""".stripMargin,

    "q_attrs_actions" ->
      """SELECT event_id, json_extract_string(props, '$.k') AS k_val,
        |  'prod' AS env
        |FROM events""".stripMargin,

    "q_hash_attr" ->
      """SELECT doc_id, sha256(text) AS text_sha FROM documents""".stripMargin,

    "q_concat_rename" ->
      """SELECT event_type || '/' || CAST(user_id AS VARCHAR) AS span_name,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM events GROUP BY 1""".stripMargin,

    "q_window_tumbling" ->
      """SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS ws,
        |  CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(value), 2) AS sum_value
        |FROM events GROUP BY 1""".stripMargin,

    "q_sessionize" ->
      """WITH gaps AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |         OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sess AS (
        |  SELECT user_id,
        |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
        |  FROM gaps
        |)
        |SELECT user_id, sess_id, CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM sess GROUP BY user_id, sess_id""".stripMargin,

    // session_window replay: same gap sessionization but with >= (the
    // half-open [t, t+gap) window boundary), session end = last ts + gap
    "q_session_window" ->
      """WITH gaps AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |         OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= 1800000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sess AS (
        |  SELECT user_id, ts,
        |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM gaps
        |)
        |SELECT user_id, strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS ws,
        |  strftime(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS we,
        |  CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM sess GROUP BY user_id, sess_id""".stripMargin,

    "q_dedup_keep" ->
      """SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id,
        |  arg_min(lang, doc_id) AS lang
        |FROM documents GROUP BY text""".stripMargin,

    "q_dedup_exact" ->
      """SELECT text, CAST(MIN(doc_id) AS BIGINT) AS doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_dupes
        |FROM documents GROUP BY text""".stripMargin,

    "q_dedup_normalized" ->
      """SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_dupes
        |FROM documents
        |GROUP BY trim(regexp_replace(regexp_replace(lower(text),
        |  '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))""".stripMargin,

    "q_token_count" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN len(trim(text)) = 0 THEN 0
        |    ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_tokens_ws
        |FROM documents""".stripMargin,

    "q_lang_stats" ->
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY lang""".stripMargin,

    "q_percentiles" ->
      """SELECT event_type, ROUND(quantile_cont(value, 0.5), 4) AS med,
        |  ROUND(quantile_cont(value, 0.95), 4) AS p95
        |FROM events GROUP BY event_type""".stripMargin,

    "q_token_bpe" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens_bpe
        |FROM documents""".stripMargin,

    // replays TextAnalysis.qualityScore term by term (distinct stopword
    // union of the 4 language lists inlined); CTE shared with
    // q_quality_fingerprint
    "q_quality_score" -> SparkEntry.qualityScoreOracle,

    // HTML extraction: the identical wrapper is rebuilt by concatenation
    // and the entire TextExtract rule chain replays step by step (RE2 and
    // java.util.regex agree on every construct used: lazy dot-all
    // quantifiers, inline (?i)/(?s), \b, character classes)
    "q_html_extract" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
        |    '</title><script type="text/javascript">var x = 1 < 2; // junk' ||
        |    '</script><style>.a{color:red}</style></head><body>' ||
        |    '<!-- note <b>tags</b> --><h1>Doc ' || CAST(doc_id AS VARCHAR) ||
        |    '</h1><p>' || text ||
        |    '</p><ul><li>first &amp; second</li><li>x &lt; y</li></ul>' ||
        |    '</body></html>' AS html
        |  FROM documents),
        |s1 AS (SELECT doc_id, html,
        |  regexp_replace(html, '(?s)<!--.*?-->', '', 'g') AS t FROM h),
        |s2 AS (SELECT doc_id, html,
        |  regexp_replace(t, '(?is)<script\b[^>]*>.*?</script>', '', 'g') AS t FROM s1),
        |s3 AS (SELECT doc_id, html,
        |  regexp_replace(t, '(?is)<style\b[^>]*>.*?</style>', '', 'g') AS t FROM s2),
        |s4 AS (SELECT doc_id, html,
        |  regexp_replace(t,
        |    '(?i)<(?:br|/p|/div|/li|/tr|/h[1-6]|/ul|/ol|/table|/blockquote|/pre)\b[^>]*>',
        |    e'\n', 'g') AS t FROM s3),
        |s5 AS (SELECT doc_id, html,
        |  regexp_replace(t, '(?s)<[^>]*>', '', 'g') AS t FROM s4),
        |s6 AS (SELECT doc_id, html,
        |  replace(replace(replace(replace(replace(replace(t,
        |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |    '&nbsp;', ' '), '&amp;', '&') AS t FROM s5),
        |s7 AS (SELECT doc_id, html,
        |  regexp_replace(t, '[ \t\r\x0B\f]+', ' ', 'g') AS t FROM s6),
        |s8 AS (SELECT doc_id, html,
        |  regexp_replace(t, ' *\n *', e'\n', 'g') AS t FROM s7),
        |s9 AS (SELECT doc_id, html,
        |  trim(regexp_replace(t, '\n{3,}', e'\n\n', 'g'),
        |       ' ' || chr(10)) AS t FROM s8)
        |SELECT doc_id, t AS text,
        |  CAST(length(html) AS BIGINT) AS n_chars_html,
        |  CAST(length(t) AS BIGINT) AS n_chars_text,
        |  CASE WHEN length(html) = 0 THEN 0
        |       ELSE CAST(length(t) AS BIGINT) * 1000000 // length(html)
        |  END AS density_micro
        |FROM s9""".stripMargin,

    // Anchor extraction: the wrapper rebuilds by concatenation, the RE2
    // href pattern replays verbatim (DuckDB IS RE2), and the domain is
    // the same normalize/registrable-domain replay as q_url_normalize.
    "q_extract_links" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><body><p>Doc ' || CAST(doc_id AS VARCHAR) ||
        |    '</p><a href="https://site' ||
        |    CAST((doc_id*31+7) % 7 AS VARCHAR) ||
        |    (['.com','.org','.co.uk'])[((doc_id*31+7) % 3) + 1] ||
        |    '/p/' || CAST(doc_id*31+7 AS VARCHAR) || '">x</a>' ||
        |    CASE WHEN doc_id % 3 = 0 THEN
        |      '<A CLASS="b" HREF=''https://www.site' ||
        |      CAST((doc_id*17+5) % 7 AS VARCHAR) || '.org/q/' ||
        |      CAST(doc_id*17+5 AS VARCHAR) || '#frag''>y</A>'
        |    ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN '<a href="#top">skip</a>'
        |    ELSE '' END || '</body></html>' AS html
        |  FROM documents),
        |x AS (SELECT doc_id, unnest(regexp_extract_all(html,
        |    '(?i)<a\b[^>]*?\bhref\s*=\s*["'']([^"''#]+)', 1)) AS href
        |  FROM h),
        |n1 AS (SELECT doc_id, href,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(regexp_replace(lower(trim(href)),
        |    '^[a-z][a-z0-9+.-]*://', ''),
        |    '#.*$', ''), '\?.*$', ''), '^[^/?#]*@', ''), '^www\d*\.', ''),
        |    '/+$', '') AS url_norm FROM x),
        |h2 AS (SELECT *, regexp_replace(regexp_extract(url_norm, '^([^/]+)', 1),
        |        ':\d+$', '') AS host FROM n1),
        |l AS (SELECT *, string_split(host, '.') AS lab FROM h2)
        |SELECT doc_id, href,
        |  CASE WHEN len(lab) <= 2 THEN host
        |       WHEN lab[-2] IN ('co','com','net','org','ac','gov','edu')
        |            AND len(lab[-1]) = 2
        |         THEN array_to_string(lab[len(lab)-2:], '.')
        |       ELSE array_to_string(lab[len(lab)-1:], '.') END AS domain
        |FROM l""".stripMargin,

    // Anchor-text rollup: two-group extraction (unnests of the same
    // pattern zip positionally), dst-domain normalize chain, src-domain
    // chain from the url synthesis, self-domain drop, normWords terms
    "q_anchor_terms" ->
      (urlSynthSql +
      """, sd AS (SELECT doc_id,
        |    CASE WHEN len(lab) <= 2 THEN host
        |         WHEN lab[-2] IN ('co','com','net','org','ac','gov','edu')
        |              AND len(lab[-1]) = 2
        |           THEN array_to_string(lab[len(lab)-2:], '.')
        |         ELSE array_to_string(lab[len(lab)-1:], '.') END AS src_dom
        |  FROM l),
        |hh AS (SELECT doc_id,
        |  '<html><body><a href="https://site' ||
        |  CAST((doc_id*31+7) % 7 AS VARCHAR) ||
        |  (['.com','.org','.co.uk'])[((doc_id*31+7) % 3) + 1] ||
        |  '/p/' || CAST(doc_id*31+7 AS VARCHAR) ||
        |  '">Visit site ' || CAST((doc_id*31+7) % 7 AS VARCHAR) ||
        |  ' now</a>' ||
        |  CASE WHEN doc_id % 3 = 0 THEN
        |    '<A CLASS=''b'' HREF=''https://www.site' ||
        |    CAST((doc_id*17+5) % 7 AS VARCHAR) ||
        |    '.org/q#frag''>Read More</A>' ELSE '' END ||
        |  CASE WHEN doc_id % 5 = 0 THEN '<a href="#top">skip</a>'
        |  ELSE '' END ||
        |  CASE WHEN doc_id % 7 = 0 THEN
        |    '<a href="https://site1.net/x"><b>bold</b></a>' ELSE '' END ||
        |  '</body></html>' AS html
        |  FROM documents),
        |ax AS (SELECT doc_id,
        |    unnest(regexp_extract_all(html,
        |      '(?i)<a\b[^>]*?\bhref\s*=\s*["'']([^"''#]+)[^"'']*["''][^>]*>([^<]*)</a>',
        |      1)) AS href,
        |    unnest(regexp_extract_all(html,
        |      '(?i)<a\b[^>]*?\bhref\s*=\s*["'']([^"''#]+)[^"'']*["''][^>]*>([^<]*)</a>',
        |      2)) AS anchor
        |  FROM hh),
        |an AS (SELECT doc_id, anchor,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(regexp_replace(lower(trim(href)),
        |    '^[a-z][a-z0-9+.-]*://', ''),
        |    '#.*$', ''), '\?.*$', ''), '^[^/?#]*@', ''), '^www\d*\.', ''),
        |    '/+$', '') AS url_norm FROM ax
        |  WHERE regexp_matches(href, '^(?i)[a-z][a-z0-9+.-]*://')
        |     OR href LIKE '//%'),
        |ah AS (SELECT *, regexp_replace(regexp_extract(url_norm,
        |        '^([^/]+)', 1), ':\d+$', '') AS ahost FROM an),
        |al AS (SELECT *, string_split(ahost, '.') AS alab FROM ah),
        |ad AS (SELECT doc_id, anchor,
        |    CASE WHEN len(alab) <= 2 THEN ahost
        |         WHEN alab[-2] IN ('co','com','net','org','ac','gov','edu')
        |              AND len(alab[-1]) = 2
        |           THEN array_to_string(alab[len(alab)-2:], '.')
        |         ELSE array_to_string(alab[len(alab)-1:], '.') END AS domain
        |  FROM al),
        |fj AS (SELECT ad.domain, ad.anchor FROM ad
        |       JOIN sd ON ad.doc_id = sd.doc_id
        |       WHERE ad.domain <> sd.src_dom AND ad.domain <> ''
        |         AND ad.domain IS NOT NULL),
        |tm AS (SELECT domain, unnest(list_filter(string_split(
        |         regexp_replace(lower(anchor), '[^a-z0-9 ]', ' ', 'g'),
        |         ' '), x -> x <> '')) AS term
        |       FROM fj)
        |SELECT domain, term, CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM tm GROUP BY domain, term""".stripMargin),

    // PageRank: three full power-iteration rounds of the exact micro-unit
    // recurrence replayed in chained CTEs — share = (850000·r) // 1e6 //
    // outdeg, r' = 150000 + Σ share — over the identically-synthesized,
    // identically-cleaned edge set. Every intermediate is BIGINT math, so
    // the final ranks hash-compare bit-for-bit.
    // The WET round trip must reproduce every field straight from the
    // source table: ordinals by doc order, the synthesized URL, the
    // OCTET length (DuckDB strlen is bytes, matching octet_length), an
    // all-true length_ok, and the text itself bit-exact.
    "q_wet_read" ->
      """SELECT CAST(ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS BIGINT)
        |         AS record_idx,
        |       'https://d' || CAST(doc_id % 53 AS VARCHAR) || '.com/p/'
        |         || CAST(doc_id AS VARCHAR) AS url,
        |       CAST(strlen(text) AS BIGINT) AS content_length,
        |       TRUE AS length_ok,
        |       text
        |FROM documents WHERE doc_id < 100""".stripMargin,

    "q_pseudonymize" ->
      """SELECT doc_id,
        |       CASE WHEN doc_id % 5 = 0 THEN 'no contact info'
        |       ELSE 'contact user_'
        |         || left(md5(lower('user' || CAST(doc_id AS VARCHAR)
        |              || '@mail' || CAST(doc_id % 7 AS VARCHAR)
        |              || '.com')), 8)
        |         || '@example.com ping @user_'
        |         || left(md5(lower('u' || CAST(doc_id AS VARCHAR))), 8)
        |         || ' end'
        |       END AS text_pseudo
        |FROM documents""".stripMargin,

    "q_meta_robots" ->
      """SELECT doc_id,
        |       CASE WHEN doc_id % 3 = 0 THEN 'noindex, noai'
        |            WHEN doc_id % 3 = 1 THEN 'index, follow'
        |            ELSE NULL END AS meta_robots
        |FROM documents""".stripMargin,

    // The WARC Content-Length spans the HTTP envelope + body (chr(13/10)
    // spell the CRLFs so the octet math is explicit); html and status
    // must survive the envelope split bit-exact.
    "q_warc_html" ->
      """WITH h AS (
        |  SELECT doc_id,
        |         '<html><body><p>' || text || '</p></body></html>' AS html
        |  FROM documents WHERE doc_id < 100)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS BIGINT)
        |         AS record_idx,
        |       'https://d' || CAST(doc_id % 53 AS VARCHAR) || '.com/p/'
        |         || CAST(doc_id AS VARCHAR) AS url,
        |       CAST(200 AS INTEGER) AS http_status,
        |       CAST(strlen('HTTP/1.1 200 OK' || chr(13) || chr(10)
        |         || 'Content-Type: text/html' || chr(13) || chr(10)
        |         || chr(13) || chr(10) || html) AS BIGINT)
        |         AS content_length,
        |       TRUE AS length_ok,
        |       html
        |FROM h""".stripMargin,

    "q_pagerank" -> SparkEntry.pagerankOracle,

    // the warm-resume composition pageRankFrom(e, pageRank(e, 1), 2) is
    // bit-equal to pageRank(e, 3) on an unchanged edge set — so it shares
    // the one-shot 3-round oracle VERBATIM (the q_bm25_incremental
    // convention: the lifecycle path must reproduce the one-shot result)
    "q_pagerank_resume" -> SparkEntry.pagerankOracle,

    // Same 3-round chain over the 30-domain graph, then the LEFT join
    // back onto the corpus; the oracle's domain is arithmetic while the
    // engine's goes through the urlDomain regex chain — independent
    // derivations that must hash-agree (incl. NULL ranks for the 23
    // off-graph domains).
    "q_rank_docs" ->
      """WITH e0 AS (
        |  SELECT 'd' || CAST(doc_id % 30 AS VARCHAR) || '.com' AS src,
        |         'd' || CAST((doc_id*7+3) % 30 AS VARCHAR) || '.com' AS dst
        |  FROM documents
        |  UNION ALL
        |  SELECT 'd' || CAST(doc_id % 30 AS VARCHAR) || '.com',
        |         'd' || CAST((doc_id*11+5) % 30 AS VARCHAR) || '.com'
        |  FROM documents),
        |e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst AS node FROM e),
        |od AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
        |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank_micro FROM nodes),
        |s1 AS (SELECT e.dst,
        |         CAST(SUM((850000 * r.rank_micro) // 1000000 // od.outdeg)
        |              AS BIGINT) AS infl
        |       FROM e JOIN r0 r ON e.src = r.node JOIN od ON e.src = od.src
        |       GROUP BY e.dst),
        |r1 AS (SELECT n.node,
        |         CAST(150000 + COALESCE(s1.infl, 0) AS BIGINT) AS rank_micro
        |       FROM nodes n LEFT JOIN s1 ON n.node = s1.dst),
        |s2 AS (SELECT e.dst,
        |         CAST(SUM((850000 * r.rank_micro) // 1000000 // od.outdeg)
        |              AS BIGINT) AS infl
        |       FROM e JOIN r1 r ON e.src = r.node JOIN od ON e.src = od.src
        |       GROUP BY e.dst),
        |r2 AS (SELECT n.node,
        |         CAST(150000 + COALESCE(s2.infl, 0) AS BIGINT) AS rank_micro
        |       FROM nodes n LEFT JOIN s2 ON n.node = s2.dst),
        |s3 AS (SELECT e.dst,
        |         CAST(SUM((850000 * r.rank_micro) // 1000000 // od.outdeg)
        |              AS BIGINT) AS infl
        |       FROM e JOIN r2 r ON e.src = r.node JOIN od ON e.src = od.src
        |       GROUP BY e.dst),
        |r3 AS (SELECT n.node,
        |         CAST(150000 + COALESCE(s3.infl, 0) AS BIGINT) AS rank_micro
        |       FROM nodes n LEFT JOIN s3 ON n.node = s3.dst),
        |docs2 AS (
        |  SELECT doc_id,
        |         'https://d' || CAST(doc_id % 53 AS VARCHAR) || '.com/p/'
        |           || CAST(doc_id AS VARCHAR) AS url,
        |         'd' || CAST(doc_id % 53 AS VARCHAR) || '.com' AS domain
        |  FROM documents)
        |SELECT d.doc_id, d.url, d.domain, r.rank_micro
        |FROM docs2 d LEFT JOIN r3 r ON d.domain = r.node""".stripMargin,

    // Curation oracles: same normalization (lowercase, punct → space,
    // drop empties) and the same 13-gram window as Curation.ngrams; the
    // engine joins on xxhash64(ngram), the oracle on the string — distinct
    // counts agree because the hash is injective on this dictionary
    // (CurationSpec hashed ≡ unhashed).
    "q_decontaminate" ->
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split(
        |    regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '),
        |    x -> x <> '') AS words
        |  FROM documents
        |), cng AS (
        |  SELECT doc_id, array_to_string(words[i:i+12], ' ') AS ngram
        |  FROM w, LATERAL (SELECT unnest(range(1, len(words) - 11)) AS i) t
        |  WHERE len(words) >= 13
        |), eng AS (
        |  SELECT DISTINCT ngram FROM cng WHERE doc_id % 7 = 0
        |)
        |SELECT c.doc_id, CAST(COUNT(DISTINCT c.ngram) AS BIGINT) AS n_hits
        |FROM cng c JOIN eng e USING (ngram)
        |GROUP BY 1""".stripMargin,

    // Bloom variant: the bitset is a prune, not a semantic — output is the
    // exact join over the %5 eval slice, so the oracle IS the exact SQL.
    "q_bloom_decontaminate" ->
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split(
        |    regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '),
        |    x -> x <> '') AS words
        |  FROM documents
        |), cng AS (
        |  SELECT doc_id, array_to_string(words[i:i+12], ' ') AS ngram
        |  FROM w, LATERAL (SELECT unnest(range(1, len(words) - 11)) AS i) t
        |  WHERE len(words) >= 13
        |), eng AS (
        |  SELECT DISTINCT ngram FROM cng WHERE doc_id % 5 = 0
        |)
        |SELECT c.doc_id, CAST(COUNT(DISTINCT c.ngram) AS BIGINT) AS n_hits
        |FROM cng c JOIN eng e USING (ngram)
        |GROUP BY 1""".stripMargin,

    "q_repetition" ->
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split(
        |    regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '),
        |    x -> x <> '') AS words
        |  FROM documents
        |), base AS (
        |  SELECT doc_id, CASE WHEN len(words) = 0 THEN 0.0
        |    ELSE 1.0 - CAST(len(list_distinct(words)) AS DOUBLE) / len(words)
        |    END AS dwr
        |  FROM w
        |), ng AS (
        |  SELECT doc_id, array_to_string(words[i:i+1], ' ') AS g
        |  FROM w, LATERAL (SELECT unnest(range(1, len(words))) AS i) t
        |  WHERE len(words) >= 2
        |), ngr AS (
        |  SELECT doc_id,
        |    1.0 - CAST(COUNT(DISTINCT g) AS DOUBLE) / COUNT(*) AS d2r
        |  FROM ng GROUP BY 1
        |)
        |SELECT b.doc_id, ROUND(b.dwr, 4) AS dup_word_ratio,
        |  ROUND(COALESCE(ngr.d2r, 0.0), 4) AS dup_2gram_ratio
        |FROM base b LEFT JOIN ngr USING (doc_id)""".stripMargin,

    // Classifier: identical SQL for both scoring paths — the engine must
    // produce the same rows from the broadcast-join and the literal-vector
    // plan. feat_sum is an exact integer milli-sum (SUM cast back to
    // BIGINT: DuckDB widens BIGINT sums to HUGEINT); label replays the
    // integer numerator threshold; score the sigmoid, rounded as the
    // engine rounds.
    "q_quality_classify" -> SparkEntry.classifierOracle,
    "q_quality_classify_narrow" -> SparkEntry.classifierOracle,

    "q_pii_redact" ->
      """WITH p AS (
        |  SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR)
        |    || '@example.com at 10.0.' || CAST(doc_id % 256 AS VARCHAR)
        |    || '.7 ref ' || CAST(1000000 + doc_id * 13 AS VARCHAR) AS t
        |  FROM documents
        |), r1 AS (
        |  SELECT doc_id, t, regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS te
        |  FROM p
        |), r2 AS (
        |  SELECT doc_id, t, te, regexp_replace(te,
        |    '\b[0-9]{1,3}(\.[0-9]{1,3}){3}\b', '<IP>', 'g') AS ti
        |  FROM r1
        |)
        |SELECT doc_id,
        |  regexp_replace(ti, '\b[0-9]{7,}\b', '<NUM>', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(te,
        |    '\b[0-9]{1,3}(\.[0-9]{1,3}){3}\b')) AS BIGINT) AS n_ips,
        |  CAST(len(regexp_extract_all(ti, '\b[0-9]{7,}\b')) AS BIGINT) AS n_nums
        |FROM r2""".stripMargin,

    // shard/split assignment: thresholds are the Scala-side
    // round(cum_weight × 2^32) constants inlined as literals (0.9 →
    // 3865470566, 0.95 → 4080218931) so both engines compare the same
    // integers
    "q_corpus_shards" ->
      """SELECT doc_id,
        |  CAST((doc_id * 2654435761) % 4294967296 % 8 AS BIGINT) AS shard,
        |  CASE WHEN (doc_id * 2654435761) % 4294967296 < 3865470566
        |         THEN 'train'
        |       WHEN (doc_id * 2654435761) % 4294967296 < 4080218931
        |         THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents""".stripMargin,

    // mixture cutoffs are the Scala-side round(fraction × 2^32) constants
    // (0.5 → 2147483648, 0.25 → 1073741824, 0.1 → 429496730,
    //  default 0.05 → 214748365) inlined so both engines compare the same
    // integers
    // upsampling replay: same multiplicative-hash rank, integer cutoffs
    // round(frac·2^32) inlined as literals, copies via range(n)
    "q_mixture_upsample" ->
      """WITH c AS (
        |  SELECT doc_id, lang,
        |    CASE lang WHEN 'en' THEN 2 WHEN 'de' THEN 0 ELSE 1 END
        |      + CASE WHEN (doc_id * 2654435761) % 4294967296 <
        |          CASE lang WHEN 'en' THEN 2147483648
        |                    WHEN 'de' THEN 1073741824 ELSE 0 END
        |        THEN 1 ELSE 0 END AS n_copies
        |  FROM documents
        |)
        |SELECT doc_id, lang, CAST(n_copies AS INT) AS n_copies,
        |  CAST(unnest(range(n_copies)) AS INT) AS epoch
        |FROM c WHERE n_copies >= 1""".stripMargin,

    // token-budget quota: the naive window definition — rank order,
    // running token sum strictly before each doc, keep while < budget
    "q_token_quota" ->
      """WITH w AS (
        |  SELECT doc_id, lang, list_filter(string_split(
        |    regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '),
        |    x -> x <> '') AS words
        |  FROM documents
        |), t AS (
        |  SELECT doc_id, lang, CAST(len(words) AS BIGINT) AS tok,
        |    (doc_id * 2654435761) % 4294967296 AS r
        |  FROM w
        |), p AS (
        |  SELECT doc_id, lang, tok,
        |    COALESCE(SUM(tok) OVER (PARTITION BY lang ORDER BY r, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
        |  FROM t
        |)
        |SELECT doc_id, lang, tok FROM p WHERE prior < 2000""".stripMargin,

    // top boilerplate trigrams: tokenize, slide, count, threshold, and
    // the deterministic (count desc, ngram) order all replayed
    "q_top_ngrams" ->
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split(
        |    regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '),
        |    x -> x <> '') AS words
        |  FROM documents
        |), ng AS (
        |  SELECT array_to_string(words[i:i+2], ' ') AS ngram
        |  FROM w, LATERAL (SELECT unnest(range(1, len(words) - 1)) AS i) t
        |  WHERE len(words) >= 3
        |), c AS (
        |  SELECT ngram, CAST(COUNT(*) AS BIGINT) AS n_occurrences
        |  FROM ng GROUP BY 1 HAVING COUNT(*) >= 2
        |)
        |SELECT ngram, n_occurrences FROM c
        |ORDER BY n_occurrences DESC, ngram LIMIT 20""".stripMargin,

    // the sketch path PROVES it returns exactly the brute-force answer,
    // so its oracle is the same exact-count SQL
    "q_top_ngrams_sketch" ->
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split(
        |    regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '),
        |    x -> x <> '') AS words
        |  FROM documents
        |), ng AS (
        |  SELECT array_to_string(words[i:i+2], ' ') AS ngram
        |  FROM w, LATERAL (SELECT unnest(range(1, len(words) - 1)) AS i) t
        |  WHERE len(words) >= 3
        |), c AS (
        |  SELECT ngram, CAST(COUNT(*) AS BIGINT) AS n_occurrences
        |  FROM ng GROUP BY 1 HAVING COUNT(*) >= 2
        |)
        |SELECT ngram, n_occurrences FROM c
        |ORDER BY n_occurrences DESC, ngram LIMIT 20""".stripMargin,

    // BPE merge-pair counts: the oracle explodes per word OCCURRENCE
    // (the naive definition), independently proving the engine's
    // vocab-collapsed weighted decomposition; substr is 1-based and
    // range(1, n) is [1, n) in both engines
    "q_bpe_pairs" ->
      """WITH w AS (
        |  SELECT list_filter(string_split(
        |    regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '),
        |    x -> x <> '') AS words
        |  FROM documents
        |), t AS (
        |  SELECT unnest(words) AS word FROM w
        |), p AS (
        |  SELECT substr(word, i, 1) AS lhs, substr(word, i + 1, 1) AS rhs
        |  FROM t, LATERAL (SELECT unnest(range(1, len(word))) AS i) s
        |  WHERE len(word) >= 2
        |)
        |SELECT lhs, rhs, CAST(COUNT(*) AS BIGINT) AS pair_count
        |FROM p GROUP BY 1, 2 HAVING COUNT(*) >= 2
        |ORDER BY pair_count DESC, lhs, rhs LIMIT 40""".stripMargin,

    // LM scoring: token counts, per-doc exact micro-nat sums, and the
    // integer-division mean replayed; dict join ON (w, cnt) cross-checks
    // the counting while importing only the quantized ln.
    "q_lm_score" ->
      """WITH w AS (SELECT doc_id, unnest(list_filter(string_split(
        |         regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '),
        |         x -> x <> '')) AS w FROM documents),
        |cnts AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM w
        |         GROUP BY 1),
        |dict AS (SELECT c.w, i.nll_micro FROM cnts c
        |         JOIN read_parquet('__OUT__/_input_lm/*.parquet') i
        |           ON i.w = c.w AND i.cnt = c.cnt),
        |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |          CAST(SUM(d.nll_micro) AS BIGINT) AS nll_micro
        |        FROM w JOIN dict d USING (w) GROUP BY 1)
        |SELECT doc.doc_id,
        |  CAST(COALESCE(a.n_tokens, 0) AS BIGINT) AS n_tokens,
        |  CAST(COALESCE(a.nll_micro, 0) AS BIGINT) AS nll_micro,
        |  CAST(COALESCE(a.nll_micro // a.n_tokens, 0) AS BIGINT)
        |    AS mean_nll_micro
        |FROM documents doc LEFT JOIN agg a USING (doc_id)""".stripMargin,

    // Corpus report: the whole Gopher rule arithmetic (counts, ratio
    // cross-multiplications, keep) replayed per document at the
    // PUBLISHED defaults (50..100000 words), plus token/char/word stats,
    // aggregated per (source, lang).
    "q_corpus_report" ->
      """WITH m AS (SELECT source, lang,
        |    CAST(length(text) AS BIGINT) AS nchars,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END AS ntok,
        |    list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> x <> '') AS lw,
        |    string_split(text, chr(10)) AS ls,
        |    (length(text) - length(replace(text, '#', '')))
        |      + (length(text) - length(replace(text, '...', '')))//3
        |      AS n_symbols,
        |    list_filter(string_split(
        |      regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '),
        |      x -> x <> '') AS nw
        |  FROM documents),
        |f AS (SELECT source, lang, nchars, ntok, n_symbols,
        |    len(lw) AS n_words,
        |    COALESCE(list_sum(list_transform(lw, x -> len(x))), 0)
        |      AS n_word_chars,
        |    len(ls) AS n_lines,
        |    len(list_filter(ls, x -> regexp_matches(trim(x), '^[-*•]')))
        |      AS n_bullet,
        |    len(list_filter(ls, x -> regexp_matches(trim(x),
        |      '(\.\.\.|…)$'))) AS n_ellipsis,
        |    len(list_filter(lw, x -> regexp_matches(x, '[A-Za-z]')))
        |      AS n_alpha_words,
        |    len(list_filter(lw, x -> list_contains(
        |      ['the','be','to','of','and','that','have','with'],
        |      lower(x)))) AS n_stop_hits,
        |    len(nw) AS n_norm_words,
        |    len(list_distinct(nw)) AS n_distinct_words
        |  FROM m),
        |k AS (SELECT *,
        |    (n_words BETWEEN 50 AND 100000)
        |      AND (n_words > 0 AND n_word_chars >= 3*n_words
        |           AND n_word_chars <= 10*n_words)
        |      AND 10*n_symbols <= n_words
        |      AND 10*n_bullet <= 9*n_lines
        |      AND 10*n_ellipsis <= 3*n_lines
        |      AND 5*n_alpha_words >= 4*n_words
        |      AND n_stop_hits >= 2 AS keep,
        |    5*n_alpha_words >= 4*n_words AS f_alpha,
        |    n_stop_hits >= 2 AS f_stop
        |  FROM f)
        |SELECT source, lang,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(nchars) AS BIGINT) AS n_chars,
        |  CAST(SUM(ntok) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CASE WHEN ntok = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_empty,
        |  CAST(SUM(n_words) AS BIGINT) AS n_gopher_words,
        |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_gopher_keep,
        |  CAST(SUM(CASE WHEN f_alpha THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_alpha_ok,
        |  CAST(SUM(CASE WHEN f_stop THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_stop_ok,
        |  CAST(SUM(n_norm_words) AS BIGINT) AS n_norm_words,
        |  CAST(SUM(n_distinct_words) AS BIGINT) AS n_distinct_words
        |FROM k GROUP BY 1, 2""".stripMargin,

    // Trigram Stupid-Backoff replay: ref-subset unigram, bigram, AND
    // trigram counts recomputed in SQL and cross-checked by the dict
    // joins (trigram ON (w1,w2,w3,c123,c12) with c12 itself recomputed);
    // the two-level CASE chain charges 916291 per backoff hop exactly as
    // the engine does.
    "q_lm3_score" ->
      """WITH rws AS (SELECT list_filter(string_split(
        |      regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '),
        |      x -> x <> '') AS ws
        |    FROM documents WHERE doc_id % 2 = 0),
        |rcw AS (SELECT unnest(ws) AS w FROM rws),
        |cnts AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM rcw
        |         GROUP BY 1),
        |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t FROM cnts),
        |uni AS (SELECT c.w, i.nll_micro FROM cnts c
        |        JOIN read_parquet('__OUT__/_input_lm2uni/*.parquet') i
        |          ON i.w = c.w AND i.cnt = c.cnt),
        |oov AS (SELECT o.oov_micro
        |        FROM read_parquet('__OUT__/_input_lm2tot/*.parquet') o
        |        JOIN tot ON o.t_total = tot.t),
        |rbg AS (SELECT z[1] AS w1, z[2] AS w2,
        |          CAST(COUNT(*) AS BIGINT) AS c12
        |        FROM (SELECT unnest(list_zip(ws[1:len(ws)-1],
        |                ws[2:len(ws)])) AS z
        |              FROM rws WHERE len(ws) >= 2) q GROUP BY 1, 2),
        |bi AS (SELECT b.w1, b.w2, i.nll_micro FROM rbg b
        |       JOIN cnts c ON c.w = b.w1
        |       JOIN read_parquet('__OUT__/_input_lm2/*.parquet') i
        |         ON i.w1 = b.w1 AND i.w2 = b.w2
        |        AND i.c12 = b.c12 AND i.c1 = c.cnt),
        |rtg AS (SELECT ws[CAST(i AS INT)] AS w1, ws[CAST(i+1 AS INT)] AS w2,
        |          ws[CAST(i+2 AS INT)] AS w3,
        |          CAST(COUNT(*) AS BIGINT) AS c123
        |        FROM rws, LATERAL (SELECT unnest(range(1, len(ws)-1)) AS i) s
        |        WHERE len(ws) >= 3 GROUP BY 1, 2, 3),
        |tri AS (SELECT g.w1, g.w2, g.w3, i.nll_micro FROM rtg g
        |        JOIN rbg b ON b.w1 = g.w1 AND b.w2 = g.w2
        |        JOIN read_parquet('__OUT__/_input_lm3/*.parquet') i
        |          ON i.w1 = g.w1 AND i.w2 = g.w2 AND i.w3 = g.w3
        |         AND i.c123 = g.c123 AND i.c12 = b.c12),
        |dws AS (SELECT doc_id, list_filter(string_split(
        |      regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '),
        |      x -> x <> '') AS ws FROM (SELECT doc_id, text FROM documents UNION ALL
        |      SELECT -1, 'the qqqoovzzz cat qqqoovzzz')),
        |toks AS (SELECT doc_id,
        |    CASE WHEN i >= 3 THEN ws[CAST(i-2 AS INT)] END AS p2,
        |    CASE WHEN i >= 2 THEN ws[CAST(i-1 AS INT)] END AS p1,
        |    ws[CAST(i AS INT)] AS w
        |  FROM dws, LATERAL (SELECT unnest(range(1, len(ws)+1)) AS i) s
        |  WHERE len(ws) >= 1),
        |sc AS (SELECT t.doc_id,
        |    CASE WHEN tr.nll_micro IS NOT NULL THEN tr.nll_micro
        |         WHEN t.p1 IS NULL THEN
        |           COALESCE(u.nll_micro, (SELECT oov_micro FROM oov))
        |         WHEN t.p2 IS NULL THEN
        |           CASE WHEN b.nll_micro IS NOT NULL THEN b.nll_micro
        |                ELSE 916291 + COALESCE(u.nll_micro,
        |                  (SELECT oov_micro FROM oov)) END
        |         ELSE 916291 +
        |           CASE WHEN b.nll_micro IS NOT NULL THEN b.nll_micro
        |                ELSE 916291 + COALESCE(u.nll_micro,
        |                  (SELECT oov_micro FROM oov)) END
        |    END AS nll
        |  FROM toks t
        |  LEFT JOIN tri tr ON tr.w1 = t.p2 AND tr.w2 = t.p1
        |    AND tr.w3 = t.w
        |  LEFT JOIN bi b ON b.w1 = t.p1 AND b.w2 = t.w
        |  LEFT JOIN uni u ON u.w = t.w),
        |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |          CAST(SUM(nll) AS BIGINT) AS nll_micro FROM sc
        |        GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(COALESCE(a.n_tokens, 0) AS BIGINT) AS n_tokens,
        |  CAST(COALESCE(a.nll_micro, 0) AS BIGINT) AS nll_micro,
        |  CAST(COALESCE(a.nll_micro // a.n_tokens, 0) AS BIGINT)
        |    AS mean_nll_micro
        |FROM (SELECT doc_id, text FROM documents UNION ALL
        |      SELECT -1, 'the qqqoovzzz cat qqqoovzzz') d
        |LEFT JOIN agg a USING (doc_id)""".stripMargin,

    // Bigram Stupid-Backoff replay: ref-subset unigram AND bigram counts
    // recomputed in SQL and cross-checked by the dict joins (ON (w, cnt)
    // and ON (w1, w2, c12, c1)); the token total cross-checks via the
    // 1-row _input_lm2tot join, which also imports the quantized OOV
    // floor ln(T); the backoff charge 916291 = round(-ln(0.4)·1e6) is the
    // spec constant, hardcoded on both sides. A count mismatch empties a
    // dict/oov CTE and NULLs the sums — poison semantics, the row goes
    // red rather than silently passing.
    "q_lm2_score" ->
      """WITH rws AS (SELECT list_filter(string_split(
        |      regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '),
        |      x -> x <> '') AS ws
        |    FROM documents WHERE doc_id % 2 = 0),
        |rcw AS (SELECT unnest(ws) AS w FROM rws),
        |cnts AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM rcw
        |         GROUP BY 1),
        |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t FROM cnts),
        |uni AS (SELECT c.w, i.nll_micro FROM cnts c
        |        JOIN read_parquet('__OUT__/_input_lm2uni/*.parquet') i
        |          ON i.w = c.w AND i.cnt = c.cnt),
        |oov AS (SELECT o.oov_micro
        |        FROM read_parquet('__OUT__/_input_lm2tot/*.parquet') o
        |        JOIN tot ON o.t_total = tot.t),
        |rbg AS (SELECT z[1] AS w1, z[2] AS w2,
        |          CAST(COUNT(*) AS BIGINT) AS c12
        |        FROM (SELECT unnest(list_zip(ws[1:len(ws)-1],
        |                ws[2:len(ws)])) AS z
        |              FROM rws WHERE len(ws) >= 2) q GROUP BY 1, 2),
        |bi AS (SELECT b.w1, b.w2, i.nll_micro FROM rbg b
        |       JOIN cnts c ON c.w = b.w1
        |       JOIN read_parquet('__OUT__/_input_lm2/*.parquet') i
        |         ON i.w1 = b.w1 AND i.w2 = b.w2
        |        AND i.c12 = b.c12 AND i.c1 = c.cnt),
        |dws AS (SELECT doc_id, list_filter(string_split(
        |      regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '),
        |      x -> x <> '') AS ws FROM (SELECT doc_id, text FROM documents UNION ALL
        |      SELECT -1, 'the qqqoovzzz cat qqqoovzzz')),
        |toks AS (
        |  SELECT doc_id, CAST(NULL AS VARCHAR) AS w1, ws[1] AS w2
        |  FROM dws WHERE len(ws) >= 1
        |  UNION ALL
        |  SELECT doc_id, z[1], z[2]
        |  FROM (SELECT doc_id, unnest(list_zip(ws[1:len(ws)-1],
        |          ws[2:len(ws)])) AS z
        |        FROM dws WHERE len(ws) >= 2) q),
        |sc AS (SELECT t.doc_id,
        |         CASE WHEN b.nll_micro IS NOT NULL THEN b.nll_micro
        |              WHEN t.w1 IS NULL THEN
        |                COALESCE(u.nll_micro, (SELECT oov_micro FROM oov))
        |              ELSE 916291 +
        |                COALESCE(u.nll_micro, (SELECT oov_micro FROM oov))
        |         END AS nll
        |       FROM toks t
        |       LEFT JOIN bi b ON b.w1 = t.w1 AND b.w2 = t.w2
        |       LEFT JOIN uni u ON u.w = t.w2),
        |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |          CAST(SUM(nll) AS BIGINT) AS nll_micro FROM sc
        |        GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(COALESCE(a.n_tokens, 0) AS BIGINT) AS n_tokens,
        |  CAST(COALESCE(a.nll_micro, 0) AS BIGINT) AS nll_micro,
        |  CAST(COALESCE(a.nll_micro // a.n_tokens, 0) AS BIGINT)
        |    AS mean_nll_micro
        |FROM (SELECT doc_id, text FROM documents UNION ALL
        |      SELECT -1, 'the qqqoovzzz cat qqqoovzzz') d
        |LEFT JOIN agg a USING (doc_id)""".stripMargin,

    // BPE encode: full recursive-CTE replay — every distinct word starts
    // as its character list and repeatedly merges the LEFTMOST occurrence
    // of the lowest-rank applicable rule (provably ≡ the engine's one
    // in-order pass per rule: new pairs always involve a newly fused
    // token, which only higher-rank rules can reference). Pair matching
    // is string-encoded with a chr(1) separator (tokens are [a-z0-9]+,
    // so the separator cannot collide). The merge list imports from
    // _input_bpe_merges; its rank-1 row is additionally FORCED to equal
    // the argmax of the initial pair table (a training cross-check — a
    // wrong first merge would null the whole encode and go red).
    "q_bpe_encode" ->
      """WITH RECURSIVE
        |m0 AS (SELECT rank, lhs, rhs
        |       FROM read_parquet('__OUT__/_input_bpe_merges/*.parquet')),
        |w0 AS (SELECT list_filter(string_split(
        |         regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '),
        |         x -> x <> '') AS words FROM documents),
        |words AS (SELECT unnest(words) AS w FROM w0),
        |top1 AS (SELECT lhs, rhs FROM (
        |    SELECT substr(w, i, 1) AS lhs, substr(w, i + 1, 1) AS rhs,
        |           COUNT(*) AS c
        |    FROM words, LATERAL (SELECT unnest(range(1, len(w))) AS i) s
        |    GROUP BY 1, 2)
        |  ORDER BY c DESC, lhs, rhs LIMIT 1),
        |m AS (SELECT m0.rank,
        |        CASE WHEN m0.rank = 1 AND NOT EXISTS (SELECT 1 FROM top1
        |          WHERE top1.lhs = m0.lhs AND top1.rhs = m0.rhs)
        |          THEN NULL ELSE m0.lhs END AS lhs,
        |        m0.rhs FROM m0),
        |init AS (SELECT DISTINCT w FROM words),
        |rec AS (
        |  SELECT w, list_transform(range(1, len(w) + 1),
        |           i -> w[i]) AS syms, 1 AS r
        |  FROM init
        |  UNION ALL
        |  SELECT w,
        |    CASE WHEN pos > 0 THEN
        |      syms[1:pos-1] || [syms[pos] || syms[pos+1]]
        |        || syms[pos+2:len(syms)]
        |    ELSE syms END,
        |    CASE WHEN pos > 0 THEN r ELSE r + 1 END
        |  FROM (SELECT rec.w, rec.syms, rec.r,
        |          COALESCE(list_position(
        |            list_transform(range(1, len(rec.syms)),
        |              i -> rec.syms[i] || chr(1) || rec.syms[i + 1]),
        |            m.lhs || chr(1) || m.rhs), 0) AS pos
        |        FROM rec JOIN m ON m.rank = rec.r) s),
        |done AS (SELECT w, CAST(len(syms) AS BIGINT) AS n_tok FROM rec
        |         WHERE r = (SELECT MAX(rank) + 1 FROM m0)),
        |d AS (SELECT doc_id, list_filter(string_split(
        |        regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '),
        |        x -> x <> '') AS ws FROM documents),
        |per AS (SELECT doc_id, unnest(ws) AS w FROM d),
        |agg AS (SELECT per.doc_id, CAST(SUM(done.n_tok) AS BIGINT) AS bpe_tokens
        |        FROM per JOIN done ON done.w = per.w GROUP BY 1)
        |SELECT doc.doc_id, CAST(COALESCE(agg.bpe_tokens, 0) AS BIGINT)
        |  AS bpe_tokens
        |FROM documents doc LEFT JOIN agg USING (doc_id)""".stripMargin,

    // BPE ids: the q_bpe_encode recursive-CTE encode replay, then ids
    // re-derived from scratch — base tokens by alphabet position, fused
    // tokens by 35 + MIN(rank) over the merge primitive (first producer
    // wins) — and flattened per doc in (word, token) order.
    "q_bpe_ids" ->
      """WITH RECURSIVE
        |m0 AS (SELECT rank, lhs, rhs
        |       FROM read_parquet('__OUT__/_input_bpe_merges/*.parquet')),
        |w0 AS (SELECT list_filter(string_split(
        |         regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '),
        |         x -> x <> '') AS words FROM documents),
        |words AS (SELECT unnest(words) AS w FROM w0),
        |top1 AS (SELECT lhs, rhs FROM (
        |    SELECT substr(w, i, 1) AS lhs, substr(w, i + 1, 1) AS rhs,
        |           COUNT(*) AS c
        |    FROM words, LATERAL (SELECT unnest(range(1, len(w))) AS i) s
        |    GROUP BY 1, 2)
        |  ORDER BY c DESC, lhs, rhs LIMIT 1),
        |m AS (SELECT m0.rank,
        |        CASE WHEN m0.rank = 1 AND NOT EXISTS (SELECT 1 FROM top1
        |          WHERE top1.lhs = m0.lhs AND top1.rhs = m0.rhs)
        |          THEN NULL ELSE m0.lhs END AS lhs,
        |        m0.rhs FROM m0),
        |init AS (SELECT DISTINCT w FROM words),
        |rec AS (
        |  SELECT w, list_transform(range(1, len(w) + 1),
        |           i -> w[i]) AS syms, 1 AS r
        |  FROM init
        |  UNION ALL
        |  SELECT w,
        |    CASE WHEN pos > 0 THEN
        |      syms[1:pos-1] || [syms[pos] || syms[pos+1]]
        |        || syms[pos+2:len(syms)]
        |    ELSE syms END,
        |    CASE WHEN pos > 0 THEN r ELSE r + 1 END
        |  FROM (SELECT rec.w, rec.syms, rec.r,
        |          COALESCE(list_position(
        |            list_transform(range(1, len(rec.syms)),
        |              i -> rec.syms[i] || chr(1) || rec.syms[i + 1]),
        |            m.lhs || chr(1) || m.rhs), 0) AS pos
        |        FROM rec JOIN m ON m.rank = rec.r) s),
        |done AS (SELECT w, syms FROM rec
        |         WHERE r = (SELECT MAX(rank) + 1 FROM m0)),
        |toks AS (SELECT w, generate_subscripts(syms, 1) AS tpos,
        |                unnest(syms) AS token FROM done),
        |tids AS (SELECT t.w, t.tpos,
        |    CASE WHEN len(t.token) = 1 THEN CAST(strpos(
        |        '0123456789abcdefghijklmnopqrstuvwxyz', t.token) - 1 AS INT)
        |      ELSE CAST(35 + (SELECT MIN(m0.rank) FROM m0
        |        WHERE m0.lhs || m0.rhs = t.token) AS INT) END AS tid
        |  FROM toks t),
        |d AS (SELECT doc_id, list_filter(string_split(
        |        regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '),
        |        x -> x <> '') AS ws FROM documents),
        |per AS (SELECT doc_id, generate_subscripts(ws, 1) AS wpos,
        |               unnest(ws) AS w FROM d)
        |SELECT per.doc_id,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY per.doc_id
        |    ORDER BY per.wpos, tids.tpos) - 1 AS INT) AS pos,
        |  tids.tid
        |FROM per JOIN tids ON tids.w = per.w""".stripMargin,

    // Fuzzy decontamination: the q_dedup_incremental replay shape with
    // the union side = corpus ∪ offset eval docs and the batch side =
    // corpus; side attribution by the id offset, exact-Jaccard verify,
    // per-doc aggregation.
    "q_fuzzy_decontaminate" ->
      """WITH d AS (SELECT doc_id AS id, sh, sig, bands
        |           FROM read_parquet('__OUT__/_input_docs/*.parquet')),
        |ev AS (SELECT id + 1000000 AS id, sh, sig, bands FROM d
        |       WHERE id % 7 = 0),
        |u AS (SELECT * FROM d UNION ALL SELECT * FROM ev),
        |b AS (SELECT id, sig, unnest(bands, recursive := true) FROM u),
        |ca AS (SELECT id, band_idx, band_hash FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY band_idx, band_hash
        |      ORDER BY id) AS rn FROM b) WHERE rn <= 2048),
        |cb AS (SELECT id, band_idx, band_hash FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY band_idx, band_hash
        |      ORDER BY id) AS rn FROM b WHERE id < 1000000)
        |    WHERE rn <= 2048),
        |cand AS (SELECT DISTINCT LEAST(a.id, b2.id) AS id_a,
        |    GREATEST(a.id, b2.id) AS id_b
        |  FROM ca a JOIN cb b2 USING (band_idx, band_hash)
        |  WHERE a.id <> b2.id),
        |j AS (SELECT id_a, id_b,
        |    CASE WHEN len(list_distinct(ua.sh || ub.sh)) = 0 THEN 1.0
        |         ELSE CAST(len(list_intersect(ua.sh, ub.sh)) AS DOUBLE)
        |              / len(list_distinct(ua.sh || ub.sh)) END AS jaccard
        |  FROM cand JOIN u ua ON cand.id_a = ua.id
        |            JOIN u ub ON cand.id_b = ub.id),
        |x AS (SELECT CASE WHEN id_a >= 1000000 THEN id_b ELSE id_a END
        |        AS doc_id, jaccard
        |      FROM j WHERE jaccard >= 0.5
        |        AND ((id_a >= 1000000) <> (id_b >= 1000000)))
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_eval_matches,
        |       MAX(jaccard) AS max_jaccard
        |FROM x GROUP BY 1""".stripMargin,

    // Paragraph dedup: chunk construction, ownership (MIN doc per
    // paragraph), keep-first, and ordered reassembly replayed on the
    // paragraph strings.
    "q_paragraph_dedup" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents),
        |p0 AS (SELECT doc_id, CAST(i AS INT) AS idx,
        |         trim(array_to_string(
        |           ws[CAST(i*3+1 AS INT) : CAST(i*3+3 AS INT)], ' ')) AS para
        |       FROM w, LATERAL (SELECT unnest(range(
        |         CAST(ceil(len(ws) / 3.0) AS BIGINT))) AS i) s),
        |p AS (SELECT doc_id, idx, para FROM p0 WHERE para <> ''),
        |own AS (SELECT para, MIN(doc_id) AS keep_id FROM p GROUP BY 1),
        |m AS (SELECT p.doc_id, p.idx, p.para, p.doc_id = o.keep_id AS keep
        |      FROM p JOIN own o USING (para)),
        |a AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_paras,
        |        CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n_kept,
        |        COALESCE(string_agg(CASE WHEN keep THEN para END,
        |          chr(10) || chr(10) ORDER BY idx), '') AS clean_text
        |      FROM m GROUP BY 1)
        |SELECT d.doc_id, CAST(COALESCE(a.n_paras, 0) AS BIGINT) AS n_paras,
        |  CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept,
        |  COALESCE(a.clean_text, '') AS clean_text
        |FROM documents d LEFT JOIN a USING (doc_id)""".stripMargin,

    // C4 line filter: the line construction (4-word lines, arithmetic
    // punctuation), all three line rules with FIRST-failing attribution,
    // the ordered reassembly, and the doc-level verdict replayed in SQL.
    "q_c4_lines" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents),
        |l AS (SELECT doc_id, CAST(i AS BIGINT) AS i,
        |        array_to_string(
        |          ws[CAST(i*4+1 AS INT) : CAST(i*4+4 AS INT)], ' ')
        |        || CASE WHEN (doc_id + i) % 3 <> 0 THEN '.' ELSE '' END
        |          AS line
        |      FROM w, LATERAL (SELECT unnest(range((len(ws)+3)//4)) AS i) s),
        |v AS (SELECT doc_id, i, line,
        |        NOT regexp_matches(trim(line), '[.!?"]$') AS no_punct,
        |        len(list_filter(string_split_regex(trim(line), '\s+'),
        |            x -> x <> '')) < 3 AS few_raw,
        |        len(list_filter(string_split_regex(trim(line), '\s+'),
        |            x -> x <> '' AND lower(x) = 'vector')) > 0 AS block_raw
        |      FROM l),
        |f AS (SELECT doc_id, i, line, no_punct,
        |        (NOT no_punct) AND few_raw AS few_words,
        |        (NOT no_punct) AND (NOT few_raw) AND block_raw AS blocked
        |      FROM v),
        |d AS (SELECT doc_id,
        |        lower(string_agg(line, chr(10) ORDER BY i)) AS full_text
        |      FROM f GROUP BY 1),
        |a AS (SELECT doc_id,
        |        CAST(COUNT(*) AS BIGINT) AS n_lines,
        |        CAST(SUM(CASE WHEN NOT (no_punct OR few_words OR blocked)
        |          THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |        CAST(SUM(CASE WHEN no_punct THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n_no_punct,
        |        CAST(SUM(CASE WHEN few_words THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n_few_words,
        |        CAST(SUM(CASE WHEN blocked THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n_blocklist,
        |        COALESCE(string_agg(
        |          CASE WHEN NOT (no_punct OR few_words OR blocked)
        |          THEN line END, chr(10) ORDER BY i), '') AS clean_text
        |      FROM f GROUP BY 1)
        |SELECT a.doc_id, a.n_lines, a.n_kept, a.n_no_punct, a.n_few_words,
        |  a.n_blocklist, a.clean_text,
        |  (NOT (contains(d.full_text, 'lorem ipsum')
        |        OR contains(d.full_text, 'big vector')))
        |    AND a.n_kept >= 3 AS doc_keep
        |FROM a JOIN d USING (doc_id)""".stripMargin,

    // Gopher rules: construction (bullets/ellipses), all 9 exact counts,
    // and all 7 integer-arithmetic flags replayed in SQL.
    "q_gopher_rules" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents),
        |l AS (SELECT doc_id, CAST(i AS BIGINT) AS i,
        |        CASE WHEN (doc_id + i) % 7 = 0 THEN '- ' ELSE '' END
        |        || array_to_string(
        |             ws[CAST(i*4+1 AS INT) : CAST(i*4+4 AS INT)], ' ')
        |        || CASE WHEN (doc_id + i) % 11 = 0 THEN '...'
        |                WHEN (doc_id + i) % 3 <> 0 THEN '.'
        |                ELSE '' END AS line
        |      FROM w, LATERAL (SELECT unnest(range((len(ws)+3)//4)) AS i) s),
        |t2 AS (SELECT doc_id,
        |         string_agg(line, chr(10) ORDER BY i) AS text
        |       FROM l GROUP BY 1),
        |c AS (SELECT doc_id, text,
        |        list_filter(string_split_regex(trim(text), '\s+'),
        |          x -> x <> '') AS lw,
        |        string_split(text, chr(10)) AS ls
        |      FROM t2),
        |m AS (SELECT doc_id,
        |        CAST(len(lw) AS BIGINT) AS n_words,
        |        CAST(COALESCE(list_sum(list_transform(lw, x -> len(x))), 0)
        |          AS BIGINT) AS n_word_chars,
        |        CAST((len(text) - len(replace(text, '#', '')))
        |          + (len(text) - len(replace(text, '...', '')))//3
        |          AS BIGINT) AS n_symbols,
        |        CAST(len(ls) AS BIGINT) AS n_lines,
        |        CAST(len(list_filter(ls,
        |          x -> regexp_matches(trim(x), '^[-*•]')))
        |          AS BIGINT) AS n_bullet,
        |        CAST(len(list_filter(ls,
        |          x -> regexp_matches(trim(x), '(\.\.\.|…)$')))
        |          AS BIGINT) AS n_ellipsis,
        |        CAST(len(list_filter(lw, x -> regexp_matches(x, '[A-Za-z]')))
        |          AS BIGINT) AS n_alpha_words,
        |        CAST(len(list_filter(lw, x -> list_contains(
        |          ['the','be','to','of','and','that','have','with'],
        |          lower(x)))) AS BIGINT) AS n_stop_hits
        |      FROM c)
        |SELECT doc_id, n_words, n_word_chars, n_symbols, n_lines, n_bullet,
        |  n_ellipsis, n_alpha_words, n_stop_hits,
        |  n_words BETWEEN 20 AND 60 AS f_word_count,
        |  n_words > 0 AND n_word_chars >= 3*n_words
        |    AND n_word_chars <= 10*n_words AS f_mean_len,
        |  10*n_symbols <= n_words AS f_symbol,
        |  10*n_bullet <= 9*n_lines AS f_bullet,
        |  10*n_ellipsis <= 3*n_lines AS f_ellipsis,
        |  5*n_alpha_words >= 4*n_words AS f_alpha,
        |  n_stop_hits >= 2 AS f_stop,
        |  (n_words BETWEEN 20 AND 60)
        |    AND (n_words > 0 AND n_word_chars >= 3*n_words
        |         AND n_word_chars <= 10*n_words)
        |    AND 10*n_symbols <= n_words
        |    AND 10*n_bullet <= 9*n_lines
        |    AND 10*n_ellipsis <= 3*n_lines
        |    AND 5*n_alpha_words >= 4*n_words
        |    AND n_stop_hits >= 2 AS keep
        |FROM m""".stripMargin,

    // Temperature mixture: group counts recomputed and cross-checked by
    // the dictionary join; the max-normalized pow is the only import;
    // p_ppm and weight_micro integer divisions replayed exactly.
    "q_temperature_mixture" ->
      """WITH g AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
        |           FROM documents GROUP BY 1),
        |i AS (SELECT g.lang, g.n_docs, t.pow_micro
        |      FROM g JOIN read_parquet('__OUT__/_input_temp/*.parquet') t
        |        ON t.lang = g.lang AND t.n_docs = g.n_docs),
        |s AS (SELECT CAST(SUM(pow_micro) AS BIGINT) AS tot FROM i)
        |SELECT i.lang, i.n_docs, CAST(i.pow_micro AS BIGINT) AS pow_micro,
        |  CAST((i.pow_micro * 1000000) // s.tot AS BIGINT) AS p_ppm,
        |  CAST((((i.pow_micro * 1000000) // s.tot) * 1000) // i.n_docs
        |    AS BIGINT) AS weight_micro
        |FROM i, s""".stripMargin,

    // Sliding chunks: chunk-count arithmetic, window slicing, and the
    // overlap layout replayed in SQL (empty docs emit no rows).
    "q_sliding_chunks" ->
      """WITH w AS (SELECT doc_id,
        |        list_filter(string_split_regex(trim(text), '\s+'),
        |          x -> x <> '') AS lw
        |      FROM documents),
        |c AS (SELECT doc_id, lw, CAST(len(lw) AS BIGINT) AS n,
        |        CASE WHEN len(lw) = 0 THEN 0
        |             WHEN len(lw) <= 12 THEN 1
        |             ELSE (len(lw) - 12 + 7)//8 + 1 END AS nc
        |      FROM w)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
        |  CAST(i*8 AS BIGINT) AS tok_start,
        |  CAST(least(12, n - i*8) AS BIGINT) AS chunk_tokens,
        |  array_to_string(
        |    lw[CAST(i*8+1 AS INT) : CAST(i*8+12 AS INT)], ' ') AS chunk_text
        |FROM c, LATERAL (SELECT unnest(range(nc)) AS i) s""".stripMargin,

    // DSIR: bucket counts, totals, add-one smoothing structure, and the
    // per-doc exact micro-unit sums all recomputed in SQL from the dumped
    // (doc_id, bucket, cnt) primitive; the dict join ON (bucket, c_tgt,
    // c_raw) cross-checks every count while importing only the quantized
    // ln (the _input_bm25 idf convention).
    "q_dsir_weights" -> SparkEntry.dsirWeightsSql,

    "q_dsir_select" ->
      s"""WITH w AS (${SparkEntry.dsirWeightsSql}),
        |r AS (SELECT doc_id, n_ngrams, weight_micro,
        |        CAST(ROW_NUMBER() OVER (ORDER BY weight_micro DESC, doc_id)
        |          AS INT) AS rank
        |      FROM w)
        |SELECT doc_id, n_ngrams, weight_micro, rank
        |FROM r WHERE rank <= 50""".stripMargin,

    "q_mixture_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE (doc_id * 2654435761) % 4294967296 <
        |  CASE lang WHEN 'en' THEN 2147483648
        |            WHEN 'zh' THEN 1073741824
        |            WHEN 'es' THEN 429496730
        |            ELSE 214748365 END""".stripMargin,

    // Leakage-safe split: the q_dedup_clusters recursive-CTE transitive
    // closure, then the split arithmetic applied to the COMPONENT id
    // (thresholds 0.9 → 3865470566, 0.95 → 4080218931, as q_corpus_shards)
    "q_split_leakage" ->
      """WITH RECURSIVE
        |k1 AS (SELECT doc_id, regexp_extract(text, '^(\w+)', 1) AS k FROM documents),
        |e AS (
        |  SELECT a.doc_id AS src, b.doc_id AS dst
        |  FROM k1 a JOIN k1 b ON a.k = b.k AND a.doc_id <> b.doc_id
        |  UNION
        |  SELECT a.doc_id, b.doc_id
        |  FROM documents a JOIN documents b
        |    ON a.n_chars = b.n_chars AND a.doc_id <> b.doc_id
        |),
        |walk(id, comp) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.dst, w.comp FROM walk w JOIN e ON e.src = w.id
        |),
        |cc AS (SELECT CAST(id AS BIGINT) AS doc_id,
        |         CAST(MIN(comp) AS BIGINT) AS comp
        |       FROM walk GROUP BY id)
        |SELECT doc_id, comp,
        |  CASE WHEN (comp * 2654435761) % 4294967296 < 3865470566 THEN 'train'
        |       WHEN (comp * 2654435761) % 4294967296 < 4080218931 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM cc""".stripMargin,

    // Duplicate-span signal: per-position 13-grams, the shared set
    // (n-grams in ≥2 distinct docs), LEFT-join mark, per-doc ratio. The
    // engine joins on xxhash64(ngram); the oracle on the string — counts
    // agree by hash injectivity on this dictionary (CurationSpec pattern).
    "q_dup_spans" ->
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split(
        |    regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '),
        |    x -> x <> '') AS words
        |  FROM documents
        |), cng AS (
        |  SELECT doc_id, array_to_string(words[i:i+12], ' ') AS ng
        |  FROM w, LATERAL (SELECT unnest(range(1, len(words) - 11)) AS i) t
        |  WHERE len(words) >= 13
        |), sh AS (
        |  SELECT ng FROM cng GROUP BY ng HAVING COUNT(DISTINCT doc_id) >= 2
        |), pd AS (
        |  SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows,
        |    CAST(COUNT(s.ng) AS BIGINT) AS n_shared
        |  FROM cng c LEFT JOIN sh s USING (ng) GROUP BY c.doc_id
        |)
        |SELECT d.doc_id, COALESCE(pd.n_windows, 0) AS n_windows,
        |  COALESCE(pd.n_shared, 0) AS n_shared,
        |  CASE WHEN COALESCE(pd.n_windows, 0) = 0 THEN 0.0
        |       ELSE ROUND(CAST(pd.n_shared AS DOUBLE) / pd.n_windows, 4)
        |  END AS dup_span_ratio
        |FROM documents d LEFT JOIN pd USING (doc_id)""".stripMargin,

    // Maximal duplicated runs (n=5): shared windows merged gaps-and-islands
    // style (a new island starts when the previous hit's word interval
    // cannot touch this one's), union coverage per island = max-min+n
    "q_dup_runs" ->
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split(
        |    regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '),
        |    x -> x <> '') AS words
        |  FROM documents
        |), cng AS (
        |  SELECT doc_id, i, array_to_string(words[i:i+4], ' ') AS ng
        |  FROM w, LATERAL (SELECT unnest(range(1, len(words) - 3)) AS i) t
        |  WHERE len(words) >= 5
        |), sh AS (
        |  SELECT ng FROM cng GROUP BY ng HAVING COUNT(DISTINCT doc_id) >= 2
        |), hits AS (
        |  SELECT DISTINCT c.doc_id, c.i FROM cng c JOIN sh USING (ng)
        |), isl AS (
        |  SELECT doc_id, i, CASE WHEN i > COALESCE(
        |      LAG(i) OVER (PARTITION BY doc_id ORDER BY i), -1000000) + 5
        |    THEN 1 ELSE 0 END AS nw
        |  FROM hits
        |), rn AS (
        |  SELECT doc_id, i, SUM(nw) OVER (PARTITION BY doc_id ORDER BY i
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        |  FROM isl
        |), agg AS (
        |  SELECT doc_id, run, MAX(i) - MIN(i) + 5 AS len
        |  FROM rn GROUP BY doc_id, run
        |), pd AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_runs,
        |    CAST(MAX(len) AS BIGINT) AS max_run_words,
        |    CAST(SUM(len) AS BIGINT) AS covered_words
        |  FROM agg GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(pd.n_runs, 0) AS n_runs,
        |  COALESCE(pd.max_run_words, 0) AS max_run_words,
        |  COALESCE(pd.covered_words, 0) AS covered_words
        |FROM documents d LEFT JOIN pd USING (doc_id)""".stripMargin,

    // Exact-substring char spans: the q_dup_runs island replay on RAW
    // split(' ') words (empties kept — removal must round-trip the text),
    // then char offsets rebuilt from word-prefix joins and the substring
    // extracted — any engine hash collision or off-by-one goes red.
    "q_dup_run_spans" ->
      """WITH w AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS words
        |  FROM documents
        |), cng AS (
        |  SELECT doc_id, i, array_to_string(words[i:i+4], ' ') AS ng
        |  FROM w, LATERAL (SELECT unnest(range(1, len(words) - 3)) AS i) t
        |  WHERE len(words) >= 5
        |), sh AS (
        |  SELECT ng FROM cng GROUP BY ng HAVING COUNT(DISTINCT doc_id) >= 2
        |), hits AS (
        |  SELECT DISTINCT c.doc_id, c.i FROM cng c JOIN sh USING (ng)
        |), isl AS (
        |  SELECT doc_id, i, CASE WHEN i > COALESCE(
        |      LAG(i) OVER (PARTITION BY doc_id ORDER BY i), -1000000) + 5
        |    THEN 1 ELSE 0 END AS nw
        |  FROM hits
        |), rn AS (
        |  SELECT doc_id, i, SUM(nw) OVER (PARTITION BY doc_id ORDER BY i
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        |  FROM isl
        |), runs AS (
        |  SELECT doc_id, MIN(i) - 1 AS s, MAX(i) + 3 AS e
        |  FROM rn GROUP BY doc_id, run)
        |SELECT r.doc_id, CAST(r.s AS BIGINT) AS start_word,
        |  CAST(r.e AS BIGINT) AS end_word,
        |  CAST(CASE WHEN r.s = 0 THEN 0
        |    ELSE len(array_to_string(w.words[1:r.s], ' ')) + 1
        |  END AS BIGINT) AS start_char,
        |  CAST(len(array_to_string(w.words[1:r.e+1], ' ')) AS BIGINT)
        |    AS end_char,
        |  CAST(r.e - r.s + 1 AS BIGINT) AS run_words
        |FROM runs r JOIN w USING (doc_id)""".stripMargin,

    // Span REMOVAL: same islands, then the kept-word reassembly — docs
    // with no shared run pass through BYTE-IDENTICAL (empties from double
    // spaces preserved), cut docs rebuild as the ordered join of
    // uncovered words
    "q_dup_span_removal" ->
      """WITH w AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS words
        |  FROM documents
        |), cng AS (
        |  SELECT doc_id, i, array_to_string(words[i:i+4], ' ') AS ng
        |  FROM w, LATERAL (SELECT unnest(range(1, len(words) - 3)) AS i) t
        |  WHERE len(words) >= 5
        |), sh AS (
        |  SELECT ng FROM cng GROUP BY ng HAVING COUNT(DISTINCT doc_id) >= 2
        |), hits AS (
        |  SELECT DISTINCT c.doc_id, c.i FROM cng c JOIN sh USING (ng)
        |), isl AS (
        |  SELECT doc_id, i, CASE WHEN i > COALESCE(
        |      LAG(i) OVER (PARTITION BY doc_id ORDER BY i), -1000000) + 5
        |    THEN 1 ELSE 0 END AS nw
        |  FROM hits
        |), rn AS (
        |  SELECT doc_id, i, SUM(nw) OVER (PARTITION BY doc_id ORDER BY i
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        |  FROM isl
        |), runs AS (
        |  SELECT doc_id, MIN(i) - 1 AS s, MAX(i) + 3 AS e
        |  FROM rn GROUP BY doc_id, run
        |), rstats AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_runs,
        |    CAST(SUM(e - s + 1) AS BIGINT) AS removed_words
        |  FROM runs GROUP BY doc_id
        |), ww AS (
        |  SELECT doc_id, unnest(words) AS word,
        |    unnest(range(0, len(words))) AS idx
        |  FROM w
        |), kw AS (
        |  SELECT ww.doc_id, ww.idx, ww.word FROM ww
        |  WHERE NOT EXISTS (SELECT 1 FROM runs r
        |    WHERE r.doc_id = ww.doc_id AND ww.idx BETWEEN r.s AND r.e)
        |), ct AS (
        |  SELECT doc_id, string_agg(word, ' ' ORDER BY idx) AS clean
        |  FROM kw GROUP BY doc_id)
        |SELECT w.doc_id,
        |  CASE WHEN rstats.doc_id IS NULL THEN w.text
        |       ELSE COALESCE(ct.clean, '') END AS clean_text,
        |  COALESCE(rstats.n_runs, 0) AS n_runs,
        |  COALESCE(rstats.removed_words, 0) AS removed_words
        |FROM w LEFT JOIN rstats USING (doc_id)
        |     LEFT JOIN ct ON w.doc_id = ct.doc_id""".stripMargin,

    // Sequence packing: shard hash (q_corpus_shards arithmetic), per-shard
    // running token offset, 512-token chunk ids
    "q_pack_chunks" ->
      """WITH t AS (SELECT doc_id,
        |    (doc_id * 2654435761) % 4294967296 % 8 AS shard,
        |    CAST(CASE WHEN len(trim(text)) = 0 THEN 0
        |    ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, shard, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
        |  FROM t)
        |SELECT doc_id, CAST(shard AS BIGINT) AS shard, n_tokens,
        |  CAST(start_off AS BIGINT) AS start_off,
        |  CAST(FLOOR(start_off / 512) AS BIGINT) AS first_pack,
        |  CAST(CASE WHEN n_tokens = 0 THEN FLOOR(start_off / 512)
        |       ELSE FLOOR((start_off + n_tokens - 1) / 512)
        |  END AS BIGINT) AS last_pack,
        |  CAST(512 AS INT) AS budget
        |FROM c""".stripMargin,

    // Packed rows: the q_pack_chunks offset replay, then per-pack slice
    // bounds, list slicing, and ordered reassembly — the full
    // trainer-row pipeline independently in SQL.
    "q_pack_rows" ->
      """WITH d AS (SELECT doc_id,
        |    (doc_id * 2654435761) % 4294967296 % 4 AS shard,
        |    list_transform(list_filter(string_split(
        |      regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '),
        |      x -> x <> ''), x -> CAST(len(x) AS INT)) AS ids
        |  FROM documents),
        |c AS (SELECT doc_id, shard, ids, CAST(len(ids) AS BIGINT) AS n,
        |    COALESCE(SUM(CAST(len(ids) AS BIGINT)) OVER (PARTITION BY shard
        |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING), 0) AS start_off
        |  FROM d),
        |x AS (SELECT shard, ids, n, start_off,
        |    unnest(range(CAST(FLOOR(start_off / 64) AS BIGINT),
        |      CAST(FLOOR((start_off + n - 1) / 64) AS BIGINT) + 1)) AS pack
        |  FROM c WHERE n > 0),
        |seg AS (SELECT shard, pack,
        |    GREATEST(start_off - pack * 64, 0) AS begin,
        |    ids[CAST(GREATEST(pack * 64 - start_off, 0) + 1 AS BIGINT):
        |        CAST(LEAST(n, (pack + 1) * 64 - start_off) AS BIGINT)] AS seg
        |  FROM x)
        |SELECT CAST(shard AS BIGINT) AS shard, CAST(pack AS BIGINT) AS pack,
        |  CAST(SUM(len(seg)) AS BIGINT) AS n_ids,
        |  string_agg(array_to_string(seg, ' '), ' ' ORDER BY begin) AS ids_str
        |FROM seg GROUP BY shard, pack""".stripMargin,

    // Seeded packed rows: identical replay with the window (and the
    // assembly's implicit order) keyed by the seeded Knuth rank.
    "q_pack_epoch" ->
      """WITH d AS (SELECT doc_id,
        |    (doc_id * 2654435761) % 4294967296 % 4 AS shard,
        |    ((doc_id + 7) % 2147483648 * 2654435761) % 4294967296 AS rk,
        |    list_transform(list_filter(string_split(
        |      regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '),
        |      x -> x <> ''), x -> CAST(len(x) AS INT)) AS ids
        |  FROM documents),
        |c AS (SELECT doc_id, shard, rk, ids, CAST(len(ids) AS BIGINT) AS n,
        |    COALESCE(SUM(CAST(len(ids) AS BIGINT)) OVER (PARTITION BY shard
        |      ORDER BY rk, doc_id ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING), 0) AS start_off
        |  FROM d),
        |x AS (SELECT shard, ids, n, start_off,
        |    unnest(range(CAST(FLOOR(start_off / 64) AS BIGINT),
        |      CAST(FLOOR((start_off + n - 1) / 64) AS BIGINT) + 1)) AS pack
        |  FROM c WHERE n > 0),
        |seg AS (SELECT shard, pack,
        |    GREATEST(start_off - pack * 64, 0) AS begin,
        |    ids[CAST(GREATEST(pack * 64 - start_off, 0) + 1 AS BIGINT):
        |        CAST(LEAST(n, (pack + 1) * 64 - start_off) AS BIGINT)] AS seg
        |  FROM x)
        |SELECT CAST(shard AS BIGINT) AS shard, CAST(pack AS BIGINT) AS pack,
        |  CAST(SUM(len(seg)) AS BIGINT) AS n_ids,
        |  string_agg(array_to_string(seg, ' '), ' ' ORDER BY begin) AS ids_str
        |FROM seg GROUP BY shard, pack""".stripMargin,

    "q_pack_manifest" ->
      """WITH t AS (SELECT doc_id,
        |    (doc_id * 2654435761) % 4294967296 % 8 AS shard,
        |    CAST(CASE WHEN len(trim(text)) = 0 THEN 0
        |    ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, shard, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
        |  FROM t),
        |ch AS (SELECT doc_id, shard, n_tokens, start_off,
        |    CAST(FLOOR(start_off / 512) AS BIGINT) AS first_pack,
        |    CAST(FLOOR((start_off + n_tokens - 1) / 512) AS BIGINT) AS last_pack
        |  FROM c WHERE n_tokens > 0),
        |x AS (SELECT doc_id, CAST(shard AS BIGINT) AS shard, n_tokens,
        |    start_off, unnest(range(first_pack, last_pack + 1)) AS pack
        |  FROM ch)
        |SELECT doc_id, shard, pack,
        |  CAST(GREATEST(start_off - pack * 512, 0) AS BIGINT) AS begin,
        |  CAST(LEAST(start_off + n_tokens - pack * 512, 512) AS BIGINT) AS "end"
        |FROM x""".stripMargin,

    // Greedy packing: the first-fit fill recurrence replayed row-by-row
    // with a recursive CTE stepping each shard's rank order in lockstep
    "q_pack_greedy" ->
      """WITH RECURSIVE t AS (SELECT doc_id,
        |    (doc_id * 2654435761) % 4294967296 % 8 AS shard,
        |    CAST(CASE WHEN len(trim(text)) = 0 THEN 0
        |    ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_tokens
        |  FROM documents),
        |s AS (SELECT doc_id, shard, n_tokens,
        |    ROW_NUMBER() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
        |  FROM t),
        |g(shard, rn, doc_id, n_tokens, pack, fill) AS (
        |  SELECT shard, rn, doc_id, n_tokens, CAST(0 AS BIGINT), n_tokens
        |  FROM s WHERE rn = 1
        |  UNION ALL
        |  SELECT s.shard, s.rn, s.doc_id, s.n_tokens,
        |    CASE WHEN g.fill > 0 AND s.n_tokens > 0
        |              AND g.fill + s.n_tokens > 512
        |         THEN g.pack + 1 ELSE g.pack END,
        |    CASE WHEN g.fill > 0 AND s.n_tokens > 0
        |              AND g.fill + s.n_tokens > 512
        |         THEN s.n_tokens ELSE g.fill + s.n_tokens END
        |  FROM g JOIN s ON s.shard = g.shard AND s.rn = g.rn + 1
        |)
        |SELECT doc_id, CAST(shard AS BIGINT) AS shard, n_tokens, pack,
        |  fill - n_tokens AS pack_off
        |FROM g""".stripMargin,

    // Range join: the granule bucketing is an implementation detail —
    // the oracle states the semantics directly as a non-equi join
    "q_range_join" ->
      """SELECT p.o_orderkey AS p_key, i.o_orderkey AS i_key
        |FROM orders p JOIN orders i
        |  ON p.o_totalprice >= i.o_totalprice
        | AND p.o_totalprice <= i.o_totalprice + 5000.0
        |WHERE p.o_orderkey % 100 = 0 AND i.o_orderkey % 37 = 0""".stripMargin,

    "q_overlap_join" ->
      """SELECT l.o_orderkey AS l_key, r.o_orderkey AS r_key
        |FROM orders l JOIN orders r
        |  ON l.o_totalprice <= r.o_totalprice + 5000.0
        | AND r.o_totalprice <= l.o_totalprice + 2000.0
        |WHERE l.o_orderkey % 100 = 0 AND r.o_orderkey % 37 = 0""".stripMargin,

    // As-of join oracled by DuckDB's NATIVE ASOF JOIN (an independent
    // implementation of the same inclusive backward-match semantics);
    // both engine strategies share it
    "q_asof_join" -> SparkEntry.asofOracle,
    "q_asof_broadcast" -> SparkEntry.asofOracle,

    // PSL domains: full algorithm replayed relationally over the dumped
    // rule table — candidate suffixes per host via LATERAL k, exception
    // (flag 4) prevails with ps = k-1, else longest of normal (flag 1,
    // ps = k) / arity-checked wildcard (flag 2, ps = k+1) / the implicit
    // '*' rule (ps = 1); registrable = last ps+1 labels, suffix-only
    // hosts pass through.
    "q_url_domain_psl" ->
      """WITH p AS (SELECT sfx, flags
        |  FROM read_parquet('__OUT__/_input_psl/*.parquet')),
        |h AS (SELECT doc_id, CASE doc_id % 11
        |  WHEN 0 THEN 'blog' || CAST(doc_id AS VARCHAR) || '.github.io'
        |  WHEN 1 THEN 'shop' || CAST(doc_id AS VARCHAR) || '.example.co.uk'
        |  WHEN 2 THEN 'www.site' || CAST(doc_id AS VARCHAR) || '.com.au'
        |  WHEN 3 THEN 'a.b.site' || CAST(doc_id AS VARCHAR) || '.co.jp'
        |  WHEN 4 THEN 'site' || CAST(doc_id AS VARCHAR) || '.de'
        |  WHEN 5 THEN 'foo' || CAST(doc_id AS VARCHAR) || '.ck'
        |  WHEN 6 THEN 'www.ck'
        |  WHEN 7 THEN 'x.y.foo' || CAST(doc_id AS VARCHAR) || '.ck'
        |  WHEN 8 THEN 'site' || CAST(doc_id AS VARCHAR) || '.unknowntld'
        |  WHEN 9 THEN 'localhost'
        |  ELSE 's3.amazonaws.com' END AS host
        |  FROM documents),
        |l AS (SELECT doc_id, host, string_split(host, '.') AS labs FROM h),
        |cand AS (SELECT doc_id, len(labs) AS n, t.k,
        |    array_to_string(labs[len(labs)-t.k+1:], '.') AS sfx
        |  FROM l, LATERAL (SELECT unnest(range(1, 9)) AS k) t
        |  WHERE t.k <= len(labs)),
        |m AS (SELECT c.doc_id, c.n, c.k, p.flags
        |  FROM cand c JOIN p USING (sfx)),
        |r AS (SELECT doc_id,
        |    MAX(CASE WHEN flags & 4 != 0 THEN k - 1 END) AS exc,
        |    MAX(CASE WHEN flags & 1 != 0 THEN k END) AS nrm,
        |    MAX(CASE WHEN flags & 2 != 0 AND n >= k + 1 THEN k + 1 END)
        |      AS wld
        |  FROM m GROUP BY doc_id),
        |f AS (SELECT l.doc_id, l.host, l.labs, len(l.labs) AS n,
        |    COALESCE(r.exc,
        |      GREATEST(1, COALESCE(r.nrm, 1), COALESCE(r.wld, 1))) AS ps
        |  FROM l LEFT JOIN r USING (doc_id))
        |SELECT doc_id, host,
        |  CASE WHEN n <= ps THEN host
        |       ELSE array_to_string(labs[n-ps:], '.') END AS domain
        |FROM f""".stripMargin,

    // URL curation: the synthesis, the anchored normalize regex chain,
    // and the registrable-domain CASE all replay verbatim (DuckDB's
    // first-match-only regexp_replace ≡ Spark's replace-all because every
    // pattern is anchored and so matches at most once).
    "q_url_normalize" ->
      (urlSynthSql +
      """SELECT doc_id, url, url_norm, host,
        |  CASE WHEN len(lab) <= 2 THEN host
        |       WHEN lab[-2] IN ('co','com','net','org','ac','gov','edu')
        |            AND len(lab[-1]) = 2
        |         THEN array_to_string(lab[len(lab)-2:], '.')
        |       ELSE array_to_string(lab[len(lab)-1:], '.') END AS domain
        |FROM l""".stripMargin),

    // blocklist + per-domain cap: the deterministic sampleRank pick
    // replays as a window rank (the q_quota_sample convention)
    "q_domain_cap" ->
      (urlSynthSql +
      """, dom AS (
        |  SELECT doc_id,
        |    CASE WHEN len(lab) <= 2 THEN host
        |         WHEN lab[-2] IN ('co','com','net','org','ac','gov','edu')
        |              AND len(lab[-1]) = 2
        |           THEN array_to_string(lab[len(lab)-2:], '.')
        |         ELSE array_to_string(lab[len(lab)-1:], '.') END AS domain
        |  FROM l),
        |f AS (SELECT * FROM dom
        |      WHERE domain NOT IN ('site1.com', 'site2.co.uk')),
        |r AS (SELECT doc_id, domain, ROW_NUMBER() OVER (
        |        PARTITION BY domain
        |        ORDER BY (doc_id * 2654435761) % 4294967296) AS rk
        |      FROM f)
        |SELECT doc_id, domain FROM r WHERE rk <= 5""".stripMargin),

    // the whole RFC 9309 parse grammar replayed relationally
    "q_robots_rules" ->
      (urlSynthSql + robotsParseSql +
      "SELECT host, agent, allow, pattern FROM rules " +
      "WHERE pattern IS NOT NULL"),

    // agent selection + pattern→regex translation (an escape chain of
    // its own; the engine's kernel quotes literal segments) +
    // longest-match/Allow-tie decision replayed; default allow on both
    // the no-robots and no-matching-rule arms
    "q_robots_allowed" ->
      (urlSynthSql + robotsParseSql +
      """, ar AS (SELECT *, (agent = 'graftbot') AS sa FROM rules
        |        WHERE agent IN ('graftbot', '*')),
        |hs AS (SELECT host, MAX(CASE WHEN sa THEN 1 ELSE 0 END) AS has_spec
        |       FROM ar GROUP BY host),
        |eff AS (SELECT ar.host, ar.allow, ar.pattern
        |        FROM ar JOIN hs ON ar.host = hs.host
        |        WHERE (CASE WHEN ar.sa THEN 1 ELSE 0 END) = hs.has_spec),
        |rx AS (SELECT host, allow, len(pattern) AS spec,
        |         '^' || CASE WHEN pattern LIKE '%$'
        |           THEN substr(s2, 1, len(s2) - 2) || '$' ELSE s2 END AS rx
        |       FROM (SELECT *, regexp_replace(regexp_replace(pattern,
        |               '([\\.\[\]{}()+?^$|*])', '\\\1', 'g'),
        |               '\\\*', '.*', 'g') AS s2
        |             FROM eff WHERE pattern IS NOT NULL)),
        |up AS (SELECT doc_id, host,
        |         CASE WHEN p2 = '' THEN '/' ELSE p2 END AS path
        |       FROM (SELECT doc_id, host,
        |               regexp_replace(regexp_replace(regexp_replace(
        |                 trim(url), '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
        |                 '^[^/]*', ''), '#.*$', '') AS p2
        |             FROM l)),
        |cand AS (SELECT u.doc_id, r.allow, r.spec
        |         FROM up u LEFT JOIN rx r
        |           ON u.host = r.host AND regexp_matches(u.path, r.rx)),
        |rk AS (SELECT doc_id, allow, ROW_NUMBER() OVER (
        |         PARTITION BY doc_id ORDER BY spec DESC,
        |           CASE WHEN allow THEN 1 ELSE 0 END DESC) AS rn
        |       FROM cand WHERE spec IS NOT NULL)
        |SELECT u.doc_id, u.host, COALESCE(r.allow, TRUE) AS allowed
        |FROM up u LEFT JOIN (SELECT doc_id, allow FROM rk WHERE rn = 1) r
        |  ON u.doc_id = r.doc_id""".stripMargin),

    // quotaSample's multiplicative-hash rank is plain BIGINT arithmetic,
    // so the deterministic sample replays as a window rank
    "q_quota_sample" ->
      """WITH r AS (
        |  SELECT lang, doc_id, ROW_NUMBER() OVER (PARTITION BY lang
        |    ORDER BY (doc_id * 2654435761) % 4294967296) AS rk
        |  FROM documents
        |)
        |SELECT lang, CAST(doc_id AS BIGINT) AS doc_id FROM r
        |WHERE rk <= 20""".stripMargin,

    // decode stage: the stub codec's payload hash (`base`) is the dumped
    // primitive; the width/height/frame-count arithmetic is replayed
    // entirely in SQL (base >= 0 by construction, so >> ≡ >>> here)
    "q_media_decode" ->
      """SELECT media_id, kind,
        |  CAST(64 + (base % 1920) AS INT) AS width,
        |  CAST(64 + ((base >> 16) % 1080) AS INT) AS height,
        |  CAST(CASE kind WHEN 'image' THEN 1
        |       WHEN 'audio' THEN 1 + ((base >> 24) % 4096)
        |       ELSE 1 + ((base >> 24) % 240) END AS INT) AS n_frames
        |FROM read_parquet('__OUT__/_input_media/*.parquet')""".stripMargin,

    // the REAL header-codec round trip needs no dump at all: the engine
    // must recover the arithmetic dims by PARSING the bytes it encoded
    "q_media_decode_real" ->
      """SELECT media_id,
        |  CASE media_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
        |       ELSE 'gif' END AS format,
        |  CAST(16 + media_id % 1904 AS INT) AS width,
        |  CAST(16 + (media_id * 31) % 1064 AS INT) AS height,
        |  CAST(1 AS INT) AS n_frames
        |FROM range(0, 300) t(media_id)""".stripMargin,

    // downstream media stages verified from the dumped decode output
    // (the codec itself is the documented sandbox stub)
    "q_media_framesample" ->
      """SELECT media_id, n_frames,
        |  CAST(LEAST(8, FLOOR((n_frames - 1) / 10) + 1) AS INT) AS n_sampled
        |FROM read_parquet('__OUT__/_input_media/*.parquet')
        |WHERE kind = 'video'""".stripMargin,

    "q_media_resize" ->
      """SELECT media_id, kind, width, height,
        |  CAST(GREATEST(1, ROUND(width *
        |    LEAST(1.0, 256.0 / GREATEST(width, height)))) AS INT) AS target_w,
        |  CAST(GREATEST(1, ROUND(height *
        |    LEAST(1.0, 256.0 / GREATEST(width, height)))) AS INT) AS target_h
        |FROM read_parquet('__OUT__/_input_media/*.parquet')""".stripMargin,

    // ANN oracles: DuckDB list_cosine_similarity + window top-k replays the
    // exact brute-force semantics (ties broken by id). The embeddings are
    // CAST to DOUBLE[] so DuckDB accumulates in double exactly like
    // Similarity.dot (which casts to array<double>) — the round-2 red rows
    // were DuckDB accumulating in float32 on FLOAT[] input, which shifts
    // every round-6 value; the driver's hash compare sees pre-canon values,
    // so ROUND(...,6) must agree bit-for-bit on both sides.
    // q_ann_ivf probes nProbe == nCells, so it is provably identical to
    // brute force (IvfSpec) and shares the oracle. q_ann_lsh is
    // approximate by design → rows-only.
    // Hybrid fusion: both constituent lists (dense cosine top-5, BM25
    // top-10 with the dumped idf primitive) recomputed from scratch,
    // then the reciprocal-rank quantization, exact integer sums, and
    // fused rank replayed
    "q_rrf_hybrid" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
        |ds AS (SELECT query_id, id,
        |    list_cosine_similarity(CAST(v AS DOUBLE[]), CAST(qv AS DOUBLE[])) AS cos
        |  FROM c, q WHERE id <> query_id),
        |dr AS (SELECT query_id, id, ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY cos DESC, id) AS rank FROM ds),
        |dense AS (SELECT query_id, id, rank FROM dr WHERE rank <= 5),
        |w AS (SELECT doc_id, list_filter(string_split(
        |    regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '),
        |    x -> x <> '') AS words FROM documents),
        |lens AS (SELECT doc_id, CAST(len(words) AS BIGINT) AS len FROM w),
        |stats AS (SELECT CAST(SUM(len) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |    AS avgdl FROM lens),
        |tok AS (SELECT doc_id, unnest(words) AS word FROM w),
        |post AS (SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM tok GROUP BY 1, 2),
        |qt AS (SELECT DISTINCT doc_id AS query_id, word FROM tok
        |  WHERE doc_id < 5),
        |dfq AS (SELECT p.word, CAST(COUNT(*) AS BIGINT) AS df FROM post p
        |  JOIN (SELECT DISTINCT word FROM qt) qq USING (word) GROUP BY 1),
        |idf AS (SELECT d.word, i.idf_micro FROM dfq d
        |  JOIN read_parquet('__OUT__/_input_bm25/*.parquet') i
        |    ON i.word = d.word AND i.df = d.df),
        |bs AS (SELECT qt.query_id, p.doc_id AS id,
        |    SUM(CAST(floor(i.idf_micro * ((p.tf * 2.2) /
        |      (p.tf + 1.2 * (0.25 + (0.75 * l.len) / s.avgdl))) + 0.5)
        |      AS BIGINT)) AS sm
        |  FROM post p JOIN qt USING (word) JOIN idf i USING (word)
        |  JOIN lens l ON l.doc_id = p.doc_id CROSS JOIN stats s
        |  GROUP BY 1, 2),
        |br AS (SELECT query_id, id, ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY sm DESC, id) AS rank FROM bs),
        |sparse AS (SELECT query_id, id, rank FROM br WHERE rank <= 10),
        |u AS (SELECT query_id, id,
        |    CAST(floor(1000000.0 / (60 + rank)) AS BIGINT) AS cc
        |  FROM (SELECT * FROM dense UNION ALL SELECT * FROM sparse)),
        |fs AS (SELECT query_id, id, CAST(SUM(cc) AS BIGINT) AS score_micro
        |  FROM u GROUP BY 1, 2),
        |fr AS (SELECT query_id, id, score_micro,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY score_micro DESC, id) AS INT) AS rank FROM fs)
        |SELECT query_id, id, score_micro, rank FROM fr
        |WHERE rank <= 8""".stripMargin,

    "q_ann_bruteforce" -> SparkEntry.annBruteForceOracle,
    "q_ann_recall" -> SparkEntry.annRecallOracle,
    "q_ann_ivf" -> SparkEntry.annBruteForceOracle,

    // Incremental-index lifecycle: brute force over the EFFECTIVE corpus —
    // ids < 10 carry their re-crawled (id + 490) vectors, everything else
    // its original vector; the engine's append/compact/probe must agree.
    "q_ann_incremental" ->
      """WITH eff AS (SELECT e.vec_id AS id,
        |        CASE WHEN e.vec_id < 10 THEN r.embedding
        |             ELSE e.embedding END AS v
        |      FROM embeddings e
        |      LEFT JOIN embeddings r ON r.vec_id = e.vec_id + 490),
        |q AS (SELECT vec_id AS query_id, embedding AS qv
        |      FROM embeddings WHERE vec_id < 5),
        |s AS (SELECT query_id, id,
        |        list_cosine_similarity(CAST(v AS DOUBLE[]), CAST(qv AS DOUBLE[])) AS cos
        |      FROM eff, q WHERE id <> query_id),
        |r AS (SELECT query_id, id, cos,
        |        CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |          ORDER BY cos DESC, id) AS INT) AS rank
        |      FROM s)
        |SELECT query_id, id, CAST(ROUND(cos, 6) AS DOUBLE) AS cosine, rank
        |FROM r WHERE rank <= 5""".stripMargin,

    // LSH ANN: deterministic, so fully specifiable — buckets are dumped
    // per vector (xxhash-derived, see _input_vecs), and probe expansion
    // (bucket ^ 2^p multiprobe), candidate join, double cosine, and
    // tie-broken top-k are all replayed in SQL.
    "q_ann_lsh" ->
      """WITH v AS (SELECT vec_id, bucket6
        |           FROM read_parquet('__OUT__/_input_vecs/*.parquet')),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |q AS (SELECT vec_id AS query_id, bucket6 AS qb FROM v WHERE vec_id < 5),
        |probes AS (SELECT query_id,
        |    unnest([qb, xor(qb, 1), xor(qb, 2), xor(qb, 4),
        |            xor(qb, 8), xor(qb, 16), xor(qb, 32)]) AS bucket FROM q),
        |cand AS (SELECT p.query_id, v.vec_id AS id
        |         FROM probes p JOIN v ON v.bucket6 = p.bucket
        |         WHERE v.vec_id <> p.query_id),
        |s AS (SELECT query_id, id, list_cosine_similarity(ec.emb, eq.emb) AS cos
        |      FROM cand JOIN e ec ON cand.id = ec.vec_id
        |                JOIN e eq ON cand.query_id = eq.vec_id),
        |r AS (SELECT query_id, id, cos,
        |        CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |          ORDER BY cos DESC, id) AS INT) AS rank
        |      FROM s)
        |SELECT query_id, id, CAST(ROUND(cos, 6) AS DOUBLE) AS cosine, rank
        |FROM r WHERE rank <= 5""".stripMargin,

    // Exact KNN graph: brute-force self-join, window top-k, ties by id.
    "q_knn_graph" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |           FROM embeddings),
        |s AS (SELECT q.vec_id AS query_id, c.vec_id AS id,
        |        list_cosine_similarity(c.emb, q.emb) AS cos
        |      FROM e c, e q WHERE c.vec_id <> q.vec_id),
        |r AS (SELECT query_id, id, cos,
        |        CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |          ORDER BY cos DESC, id) AS INT) AS rank
        |      FROM s)
        |SELECT query_id, id, CAST(ROUND(cos, 6) AS DOUBLE) AS cosine, rank
        |FROM r WHERE rank <= 3""".stripMargin,

    // LSH KNN graph: buckets from the _input_vecs dump; hot-bucket cap
    // (deterministic id order), multiprobe expansion, candidate join,
    // double cosine, and tie-broken top-k replayed relationally. Salt is
    // result-invariant (SimilaritySpec), so the replay is unsalted.
    "q_knn_graph_lsh" ->
      """WITH v AS (SELECT vec_id, bucket6
        |           FROM read_parquet('__OUT__/_input_vecs/*.parquet')),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |capped AS (SELECT vec_id, bucket6 FROM (
        |    SELECT vec_id, bucket6, ROW_NUMBER() OVER (PARTITION BY bucket6
        |      ORDER BY vec_id) AS rn FROM v) WHERE rn <= 2048),
        |probes AS (SELECT vec_id AS query_id,
        |    unnest([bucket6, xor(bucket6, 1), xor(bucket6, 2), xor(bucket6, 4),
        |            xor(bucket6, 8), xor(bucket6, 16), xor(bucket6, 32)])
        |      AS bucket FROM v),
        |cand AS (SELECT p.query_id, c.vec_id AS id
        |         FROM probes p JOIN capped c ON c.bucket6 = p.bucket
        |         WHERE c.vec_id <> p.query_id),
        |s AS (SELECT query_id, id, list_cosine_similarity(ec.emb, eq.emb) AS cos
        |      FROM cand JOIN e ec ON cand.id = ec.vec_id
        |                JOIN e eq ON cand.query_id = eq.vec_id),
        |r AS (SELECT query_id, id, cos,
        |        CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |          ORDER BY cos DESC, id) AS INT) AS rank
        |      FROM s)
        |SELECT query_id, id, CAST(ROUND(cos, 6) AS DOUBLE) AS cosine, rank
        |FROM r WHERE rank <= 3""".stripMargin,

    // PQ ANN: codes and per-query LUTs are dumped primitives (_input_pq,
    // _input_pqlut — exact doubles the engine scores with); the ADC sum
    // (list_reduce = left fold, matching the engine's `aggregate` fold;
    // the 0.0 seed is IEEE-exact under +), cross scoring, and tie-broken
    // top-k are replayed relationally.
    "q_ann_pq" -> SparkEntry.pqOracle(
      "SELECT qq.query_id, v.id, v.codes FROM v CROSS JOIN " +
        "(SELECT query_id FROM q) qq WHERE v.id <> qq.query_id"),

    // IVF-PQ: candidate set additionally filtered to the probed coarse
    // cells (cell16/_input_probes, the q_ann_recall primitives).
    "q_ann_ivfpq" -> SparkEntry.pqOracle(
      """SELECT p.query_id, v.id, v.codes
        |  FROM read_parquet('__OUT__/_input_probes/*.parquet') p
        |  JOIN read_parquet('__OUT__/_input_vecs/*.parquet') cells
        |    ON cells.cell16 = p.probe
        |  JOIN v ON v.id = cells.vec_id
        |  WHERE v.id <> p.query_id""".stripMargin),

    // MinHash near-dup: band hashes dumped per doc; the band self-join,
    // 2048 bucket cap (deterministic id order), distinct pair set,
    // signature-agreement estimate, and exact shingle-Jaccard verify are
    // replayed relationally.
    "q_minhash_neardups" ->
      """WITH d AS (SELECT doc_id AS id, sh, sig, bands
        |           FROM read_parquet('__OUT__/_input_docs/*.parquet')
        |           WHERE doc_id < 200),
        |b AS (SELECT id, sig, unnest(bands, recursive := true) FROM d),
        |capped AS (SELECT id, sig, band_idx, band_hash FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY band_idx, band_hash
        |      ORDER BY id) AS rn FROM b) WHERE rn <= 2048),
        |cand AS (SELECT DISTINCT a.id AS id_a, b2.id AS id_b,
        |    CAST(len(list_filter(list_zip(a.sig, b2.sig),
        |      p -> p[1] = p[2])) AS DOUBLE) / 64 AS jaccard_est
        |  FROM capped a JOIN capped b2 USING (band_idx, band_hash)
        |  WHERE a.id < b2.id),
        |j AS (SELECT id_a, id_b, jaccard_est,
        |    CASE WHEN len(list_distinct(da.sh || db.sh)) = 0 THEN 1.0
        |         ELSE CAST(len(list_intersect(da.sh, db.sh)) AS DOUBLE)
        |              / len(list_distinct(da.sh || db.sh)) END AS jaccard
        |  FROM cand JOIN d da ON cand.id_a = da.id
        |            JOIN d db ON cand.id_b = db.id)
        |SELECT id_a, id_b, jaccard_est, jaccard FROM j
        |WHERE jaccard >= 0.5""".stripMargin,

    // Conversation near-dup: the render (string_agg ORDER BY turn_idx),
    // the clone construction, and the SHINGLES are all recomputed
    // independently from _input_turns; only the minhash sig/band hashes
    // import (_input_convs), and the band join / cap / distinct-pair /
    // estimate / exact-verify logic replays relationally as in
    // q_minhash_neardups. A render divergence would shift the recomputed
    // jaccard values (and the threshold row set) → hash mismatch.
    "q_conv_neardups" ->
      """WITH conv AS (
        |  SELECT conv_id, string_agg(text, ' ' ORDER BY turn_idx) AS text
        |  FROM read_parquet('__OUT__/_input_turns/*.parquet')
        |  GROUP BY conv_id),
        |alld AS (
        |  SELECT conv_id, text FROM conv
        |  UNION ALL
        |  SELECT 'dupe-' || conv_id, text || ' extra closing words here'
        |  FROM conv
        |  WHERE CAST(regexp_extract(conv_id, '(\d+)$', 1) AS BIGINT) % 5 = 0),
        |shr AS (SELECT conv_id AS id,
        |    [array_to_string(ws[i:i+2], ' ') for i in range(1, len(ws) - 1)]
        |      AS shl
        |  FROM (SELECT conv_id, string_split_regex(lower(text), '\s+') AS ws
        |        FROM alld)),
        |d AS (SELECT c.conv_id AS id, c.sig, c.bands,
        |        list_distinct(shr.shl) AS sh
        |      FROM read_parquet('__OUT__/_input_convs/*.parquet') c
        |      JOIN shr ON shr.id = c.conv_id),
        |b AS (SELECT id, sig, unnest(bands, recursive := true) FROM d),
        |capped AS (SELECT id, sig, band_idx, band_hash FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY band_idx, band_hash
        |      ORDER BY id) AS rn FROM b) WHERE rn <= 2048),
        |cand AS (SELECT DISTINCT a.id AS id_a, b2.id AS id_b,
        |    CAST(len(list_filter(list_zip(a.sig, b2.sig),
        |      p -> p[1] = p[2])) AS DOUBLE) / 64 AS jaccard_est
        |  FROM capped a JOIN capped b2 USING (band_idx, band_hash)
        |  WHERE a.id < b2.id),
        |j AS (SELECT id_a, id_b, jaccard_est,
        |    CASE WHEN len(list_distinct(da.sh || db.sh)) = 0 THEN 1.0
        |         ELSE CAST(len(list_intersect(da.sh, db.sh)) AS DOUBLE)
        |              / len(list_distinct(da.sh || db.sh)) END AS jaccard
        |  FROM cand JOIN d da ON cand.id_a = da.id
        |            JOIN d db ON cand.id_b = db.id)
        |SELECT id_a, id_b, jaccard_est, jaccard FROM j
        |WHERE jaccard >= 0.5""".stripMargin,

    // Exact Jaccard join: brute-force all-pairs over the dumped string
    // shingles — fully independent of the engine's prefix-filter candidate
    // generation (a missed pair = hash mismatch).
    "q_jaccard_neardups" ->
      """WITH d AS (SELECT doc_id AS id, sh
        |           FROM read_parquet('__OUT__/_input_docs/*.parquet')
        |           WHERE doc_id < 200 AND len(sh) > 0),
        |p AS (SELECT a.id AS id_a, b.id AS id_b,
        |        CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |          / len(list_distinct(a.sh || b.sh)) AS jaccard
        |      FROM d a JOIN d b ON a.id < b.id)
        |SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= 0.5""".stripMargin,

    // Language ID: char trigrams, seed counts, per-lang totals, and the
    // shared smoothing vocabulary all recomputed in SQL; floor/delta
    // micro-nats import from the dumps cross-checked ON (lang, t_total,
    // v_size) / (lang, g, cnt); the scoring identity
    // floor·n_grams + Σ_seen delta and the (nll, lang) argmin replay
    // relationally, incl. the <n-chars NULL arm.
    "q_langid_ngram" ->
      """WITH t AS (SELECT doc_id, lang, lower(text) AS lt FROM documents),
        |gi AS (SELECT doc_id, lt,
        |         unnest(range(1, greatest(len(lt) - 1, 1))) AS i FROM t),
        |g AS (SELECT doc_id, substr(lt, CAST(i AS INT), 3) AS g FROM gi),
        |sc AS (SELECT t.lang, g.g, COUNT(*) AS cnt
        |       FROM g JOIN t ON g.doc_id = t.doc_id
        |       WHERE g.doc_id % 3 = 0 GROUP BY t.lang, g.g),
        |tt AS (SELECT lang, SUM(cnt) AS t_total FROM sc GROUP BY lang),
        |vs AS (SELECT COUNT(DISTINCT g) AS v_size FROM sc),
        |fl AS (SELECT f.lang, f.floor_micro
        |       FROM read_parquet('__OUT__/_input_langid_floors/*.parquet') f
        |       JOIN tt ON f.lang = tt.lang AND f.t_total = tt.t_total
        |       JOIN vs ON f.v_size = vs.v_size),
        |dc AS (SELECT d.g, d.lang, d.delta_micro
        |       FROM read_parquet('__OUT__/_input_langid/*.parquet') d
        |       JOIN sc ON d.lang = sc.lang AND d.g = sc.g
        |         AND d.cnt = sc.cnt),
        |seen AS (SELECT g.doc_id, dc.lang, SUM(dc.delta_micro) AS sum_delta
        |         FROM g JOIN dc ON g.g = dc.g GROUP BY g.doc_id, dc.lang),
        |ng AS (SELECT doc_id,
        |         CAST(greatest(len(lt) - 2, 0) AS BIGINT) AS n_grams
        |       FROM t),
        |sco AS (SELECT ng.doc_id, fl.lang, ng.n_grams,
        |          CAST(fl.floor_micro * ng.n_grams
        |            + COALESCE(seen.sum_delta, 0) AS BIGINT) AS nll
        |        FROM ng CROSS JOIN fl
        |        LEFT JOIN seen ON seen.doc_id = ng.doc_id
        |          AND seen.lang = fl.lang),
        |rk AS (SELECT doc_id, lang, nll, ROW_NUMBER() OVER (
        |         PARTITION BY doc_id ORDER BY nll, lang) AS rn FROM sco)
        |SELECT ng.doc_id,
        |  CASE WHEN ng.n_grams > 0 THEN r.lang END AS pred_lang,
        |  CASE WHEN ng.n_grams > 0 THEN r.nll END AS nll_micro,
        |  ng.n_grams
        |FROM ng LEFT JOIN (SELECT * FROM rk WHERE rn = 1) r
        |  ON ng.doc_id = r.doc_id""".stripMargin,

    // snapshot diff: identical prev-snapshot synthesis + the full-outer
    // status CASE on raw texts (engine compares xxhash64 digests — a
    // collision would surface here as a hash mismatch)
    "q_snapshot_diff" ->
      """WITH prev AS (
        |  SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN text || ' OLD'
        |           ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 <> 3
        |  UNION ALL
        |  SELECT doc_id + 10000000, 'gone' FROM documents
        |  WHERE doc_id % 11 = 0),
        |j AS (SELECT COALESCE(p.doc_id, c.doc_id) AS doc_id,
        |        p.text AS pt, c.text AS ct,
        |        p.doc_id IS NULL AS pn, c.doc_id IS NULL AS cn
        |      FROM prev p FULL OUTER JOIN documents c
        |        ON p.doc_id = c.doc_id)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CASE WHEN pn THEN 'added' WHEN cn THEN 'removed'
        |       WHEN pt = ct THEN 'unchanged' ELSE 'changed' END AS status
        |FROM j""".stripMargin,

    // Corpus-overlap audit: exact side from the dumped shingle strings
    // (distinct-union arithmetic), estimate side from the per-doc sig
    // arrays (elementwise min per lane, agreement count) — the corpus-min
    // identity (min over docs ≡ min over the shingle union) is what the
    // equality of est/exact derivations exercises.
    "q_corpus_overlap" ->
      """WITH d AS (SELECT doc_id, sh, sig
        |           FROM read_parquet('__OUT__/_input_docs/*.parquet')
        |           WHERE len(sh) > 0),
        |a AS (SELECT DISTINCT unnest(sh) AS s FROM d WHERE doc_id % 2 = 0),
        |b AS (SELECT DISTINCT unnest(sh) AS s FROM d WHERE doc_id % 2 = 1),
        |na AS (SELECT COUNT(*) AS n_a FROM a),
        |nb AS (SELECT COUNT(*) AS n_b FROM b),
        |ni AS (SELECT COUNT(*) AS n_inter FROM a JOIN b USING (s)),
        |sa AS (SELECT generate_subscripts(sig, 1) - 1 AS pos,
        |              unnest(sig) AS h FROM d WHERE doc_id % 2 = 0),
        |ma AS (SELECT pos, MIN(h) AS ma FROM sa GROUP BY pos),
        |sb AS (SELECT generate_subscripts(sig, 1) - 1 AS pos,
        |              unnest(sig) AS h FROM d WHERE doc_id % 2 = 1),
        |mb AS (SELECT pos, MIN(h) AS mb FROM sb GROUP BY pos),
        |ag AS (SELECT CAST(SUM(CASE WHEN ma = mb THEN 1 ELSE 0 END)
        |         AS BIGINT) AS est_agree
        |       FROM ma JOIN mb USING (pos))
        |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  CAST(n_inter AS BIGINT) AS n_inter,
        |  CAST(n_a + n_b - n_inter AS BIGINT) AS n_union,
        |  CAST((1000000 * n_inter) // (n_a + n_b - n_inter) AS BIGINT)
        |    AS jaccard_ppm,
        |  est_agree,
        |  CAST((1000000 * est_agree) // 64 AS BIGINT) AS est_ppm
        |FROM na, nb, ni, ag""".stripMargin,

    // Incremental (index vs new batch) shape: both caps (union side and
    // new side), least/greatest pair ordering, and the verify join replayed.
    "q_dedup_incremental" ->
      """WITH d AS (SELECT doc_id AS id, sh, sig, bands
        |           FROM read_parquet('__OUT__/_input_docs/*.parquet')
        |           WHERE doc_id < 200),
        |b AS (SELECT id, sig, unnest(bands, recursive := true) FROM d),
        |ca AS (SELECT id, sig, band_idx, band_hash FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY band_idx, band_hash
        |      ORDER BY id) AS rn FROM b) WHERE rn <= 2048),
        |cb AS (SELECT id, sig, band_idx, band_hash FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY band_idx, band_hash
        |      ORDER BY id) AS rn FROM b WHERE id >= 150) WHERE rn <= 2048),
        |cand AS (SELECT DISTINCT LEAST(a.id, b2.id) AS id_a,
        |    GREATEST(a.id, b2.id) AS id_b,
        |    CAST(len(list_filter(list_zip(a.sig, b2.sig),
        |      p -> p[1] = p[2])) AS DOUBLE) / 64 AS jaccard_est
        |  FROM ca a JOIN cb b2 USING (band_idx, band_hash)
        |  WHERE a.id <> b2.id),
        |j AS (SELECT id_a, id_b, jaccard_est,
        |    CASE WHEN len(list_distinct(da.sh || db.sh)) = 0 THEN 1.0
        |         ELSE CAST(len(list_intersect(da.sh, db.sh)) AS DOUBLE)
        |              / len(list_distinct(da.sh || db.sh)) END AS jaccard
        |  FROM cand JOIN d da ON cand.id_a = da.id
        |            JOIN d db ON cand.id_b = db.id)
        |SELECT id_a, id_b, jaccard_est, jaccard FROM j
        |WHERE jaccard >= 0.5""".stripMargin,

    // SimHash signatures recomputed INDEPENDENTLY from the word-hash
    // dictionary: per-bit ±1 vote over the word multiset, sign, and 64-bit
    // assembly (bit 63 as the signed minimum) all in SQL.
    "q_simhash_sigs" ->
      s"""WITH ${SparkEntry.simhashSigCtes}
         |SELECT doc_id, sig FROM sig""".stripMargin,

    // SimHash near-dups from the RECOMPUTED signatures: 4×16-bit band
    // extraction (arithmetic shift + mask, matching Spark's shiftright),
    // bucket cap, band join, bit_count(xor) Hamming verify.
    "q_simhash_neardups" ->
      s"""WITH ${SparkEntry.simhashSigCtes},
         |sb AS (SELECT doc_id AS id, sig, b.i AS band_idx,
         |         (sig >> (b.i * 16)) & 65535 AS band_hash
         |       FROM sig CROSS JOIN (SELECT unnest([0,1,2,3]) AS i) b
         |       WHERE doc_id < 300),
         |capped AS (SELECT id, sig, band_idx, band_hash FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY band_idx, band_hash
         |      ORDER BY id) AS rn FROM sb) WHERE rn <= 2048),
         |pairs AS (SELECT DISTINCT a.id AS id_a, b2.id AS id_b,
         |    CAST(bit_count(xor(a.sig, b2.sig)) AS INT) AS dist
         |  FROM capped a JOIN capped b2 USING (band_idx, band_hash)
         |  WHERE a.id < b2.id AND bit_count(xor(a.sig, b2.sig)) <= 3)
         |SELECT id_a, id_b, dist FROM pairs""".stripMargin,

    // Embedding near-dup: LSH bucket imported per vector; cap, in-bucket
    // pair join, and double-cosine threshold replayed.
    "q_embedding_neardups" ->
      """WITH v AS (SELECT vec_id AS id, bucket4 AS bucket
        |           FROM read_parquet('__OUT__/_input_vecs/*.parquet')),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |capped AS (SELECT id, bucket FROM (
        |    SELECT id, bucket, ROW_NUMBER() OVER (PARTITION BY bucket
        |      ORDER BY id) AS rn FROM v) WHERE rn <= 2048),
        |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
        |  FROM capped a JOIN capped b USING (bucket) WHERE a.id < b.id),
        |s AS (SELECT id_a, id_b, list_cosine_similarity(ea.emb, eb.emb) AS cos
        |      FROM cand JOIN e ea ON cand.id_a = ea.vec_id
        |                JOIN e eb ON cand.id_b = eb.vec_id)
        |SELECT id_a, id_b, CAST(ROUND(cos, 6) AS DOUBLE) AS cosine
        |FROM s WHERE cos >= 0.3""".stripMargin,

    // BM25: tokenization (the proven normWords replay), tf, len, avgdl,
    // df, the saturation arithmetic (identical parenthesization — every
    // op is exactly-rounded IEEE), quantization, exact integer sums, and
    // rank ties all computed independently; only idf_micro (ln) joins in
    // from the dump, ON (word, df) so df is cross-checked relationally.
    "q_bm25_topk" -> SparkEntry.bm25Oracle,

    // the build→append→search lifecycle must reproduce the single-shot
    // scoring bit-for-bit, so its oracle IS q_bm25_topk's
    "q_bm25_incremental" -> SparkEntry.bm25Oracle,

    // random projection: quantization (identical IEEE ops), the sign
    // joins from the dumped matrix, and the exact long sums replay
    "q_rp_project" ->
      """WITH e AS (
        |  SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS x,
        |    generate_subscripts(embedding, 1) - 1 AS i
        |  FROM embeddings),
        |q AS (SELECT vec_id, i,
        |        CAST(floor(x * 1000000 + 0.5) AS BIGINT) AS qx FROM e),
        |m AS (SELECT i, j, s FROM read_parquet('__OUT__/_input_rp/*.parquet'))
        |SELECT q.vec_id, m.j, CAST(SUM(q.qx * m.s) AS BIGINT) AS comp_micro
        |FROM q JOIN m USING (i)
        |GROUP BY 1, 2""".stripMargin,

    // SemDeDup: cell assignment imported from the dumped IVF primitive
    // (cell16 — same nCells/iters/seed as the query); per-cell cap,
    // in-cell pair generation, double-cosine threshold, and the
    // connected-component closure (recursive CTE, min reachable id) all
    // replayed independently.
    "q_semantic_dedup" ->
      """WITH RECURSIVE
        |v AS (SELECT vec_id AS id, cell16 AS cell
        |      FROM read_parquet('__OUT__/_input_vecs/*.parquet')),
        |emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |capped AS (SELECT id, cell FROM (
        |    SELECT id, cell, ROW_NUMBER() OVER (PARTITION BY cell
        |      ORDER BY id) AS rn FROM v) WHERE rn <= 2048),
        |cand AS (SELECT a.id AS id_a, b.id AS id_b
        |  FROM capped a JOIN capped b USING (cell) WHERE a.id < b.id),
        |pairs AS (SELECT DISTINCT id_a, id_b FROM cand
        |  JOIN emb ea ON cand.id_a = ea.vec_id
        |  JOIN emb eb ON cand.id_b = eb.vec_id
        |  WHERE list_cosine_similarity(ea.e, eb.e) >= 0.3),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION ALL SELECT id_b, id_a FROM pairs),
        |walk(id, comp) AS (
        |  SELECT id, id FROM v
        |  UNION
        |  SELECT edges.dst, w.comp FROM walk w JOIN edges ON edges.src = w.id
        |)
        |SELECT CAST(v.id AS BIGINT) AS vec_id, v.cell AS cell,
        |  CAST(MIN(w.comp) AS BIGINT) AS comp, MIN(w.comp) = v.id AS keep
        |FROM v JOIN walk w ON w.id = v.id
        |GROUP BY v.id, v.cell""".stripMargin,

    // quality replayed term-by-term (shared CTE); fingerprint imported
    // from the dump (xxhash64 of the normalized token stream)
    "q_quality_fingerprint" ->
      s"""WITH q AS (${SparkEntry.qualityScoreOracle})
         |SELECT q.doc_id, q.quality, f.fingerprint
         |FROM q JOIN read_parquet('__OUT__/_input_docs/*.parquet') f
         |  ON q.doc_id = f.doc_id""".stripMargin,

    // Fully independent: language-ID argmax (stopword hit counts, struct
    // lexicographic max matching Spark's array_max tie semantics) +
    // BPE-ish token counts, aggregated per language.
    "q_text_profile" ->
      """WITH w AS (SELECT doc_id, text,
        |    string_split_regex(lower(text), '\s+') AS words FROM documents),
        |sc AS (SELECT doc_id, text,
        |  len(list_intersect(words, ['der','die','und','das','ist','ein','zu','den','mit','von'])) AS s_de,
        |  len(list_intersect(words, ['the','and','of','to','a','in','is','it','that','for'])) AS s_en,
        |  len(list_intersect(words, ['el','la','de','que','y','en','un','es','se','no'])) AS s_es,
        |  len(list_intersect(words, ['le','la','de','et','un','est','que','en','du','pour'])) AS s_fr
        |  FROM w),
        |best AS (SELECT doc_id, text, list_max([
        |    struct_pack(score := s_de, lang := 'de'),
        |    struct_pack(score := s_en, lang := 'en'),
        |    struct_pack(score := s_es, lang := 'es'),
        |    struct_pack(score := s_fr, lang := 'fr')]) AS b FROM sc),
        |p AS (SELECT CASE WHEN b.score > 0 THEN b.lang ELSE 'und' END AS lang_id,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS nb
        |  FROM best)
        |SELECT lang_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(nb) AS BIGINT) AS sum_tokens
        |FROM p GROUP BY lang_id""".stripMargin,

    // Pipeline oracles replay parse (regexp_extract over text) → route
    // (first-match CASE) → aggregate over the dumped seed-42 corpus.
    "q_pipeline_rollup" ->
      """WITH p AS (
        |  SELECT conv_id, ts,
        |    regexp_extract(text, 'tool=([A-Za-z0-9_]+)', 1) AS tool_invoked,
        |    regexp_extract(text, 'status=([A-Za-z0-9]+)', 1) AS status,
        |    CAST(regexp_extract(text, 'latency=([0-9]+)ms', 1) AS BIGINT) AS latency_ms
        |  FROM read_parquet('__OUT__/_input_turns/*.parquet'))
        |SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_turns,
        |  CAST(SUM(CASE WHEN regexp_matches(status, '^E[0-9]{3}$') THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
        |  CAST(COUNT(DISTINCT CASE WHEN tool_invoked NOT IN ('none', '') THEN tool_invoked END) AS INT) AS n_tools_distinct,
        |  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
        |  strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS last_ts,
        |  CAST(SUM(latency_ms) AS BIGINT) AS sum_latency_ms
        |FROM p GROUP BY conv_id""".stripMargin,

    "q_pipeline_sinkcounts" ->
      """WITH p AS (
        |  SELECT CASE
        |    WHEN regexp_extract(text, 'tool=([A-Za-z0-9_]+)', 1)
        |         IN ('search','browse','fetch') THEN 'tool_search'
        |    WHEN regexp_matches(regexp_extract(text, 'status=([A-Za-z0-9]+)', 1),
        |         '^E5') THEN 'errors'
        |    ELSE 'rest' END AS sink
        |  FROM read_parquet('__OUT__/_input_turns/*.parquet'))
        |SELECT sink, CAST(COUNT(*) AS BIGINT) AS n_turns FROM p GROUP BY sink""".stripMargin,

    // sample_bucket = pmod(xxhash64(conv_id, 22), 16384) precomputed in the
    // dump (DuckDB lacks xxhash64); 1638 = round(10% of 16384 buckets) —
    // verifies threshold math + conversation atomicity of the sampler.
    "q_conv_sample" ->
      """SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_turns
        |FROM read_parquet('__OUT__/_input_turns/*.parquet')
        |WHERE sample_bucket < 1638 GROUP BY conv_id""".stripMargin,

    // transitive closure via recursive CTE — an INDEPENDENT algorithm for
    // the same components the iterative min-label propagation computes
    "q_dedup_clusters" ->
      """WITH RECURSIVE
        |k1 AS (SELECT doc_id, regexp_extract(text, '^(\w+)', 1) AS k FROM documents),
        |e AS (
        |  SELECT a.doc_id AS src, b.doc_id AS dst
        |  FROM k1 a JOIN k1 b ON a.k = b.k AND a.doc_id <> b.doc_id
        |  UNION
        |  SELECT a.doc_id, b.doc_id
        |  FROM documents a JOIN documents b
        |    ON a.n_chars = b.n_chars AND a.doc_id <> b.doc_id
        |),
        |walk(id, comp) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.dst, w.comp FROM walk w JOIN e ON e.src = w.id
        |)
        |SELECT CAST(id AS BIGINT) AS doc_id, CAST(MIN(comp) AS BIGINT) AS comp,
        |  MIN(comp) = id AS keep
        |FROM walk GROUP BY id""".stripMargin,

    // epoch-3 multiplier = (2654435761 · 7) mod 2^32 = 1401181143;
    // rank/shard arithmetic and the per-shard position window replay
    "q_epoch_shuffle" ->
      """WITH r AS (SELECT doc_id,
        |    (doc_id * 1401181143) % 4294967296 AS rk FROM documents),
        |s AS (SELECT doc_id, CAST((rk * 8) // 4294967296 AS INT) AS shard,
        |         rk FROM r)
        |SELECT doc_id, shard,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY rk, doc_id)
        |    AS BIGINT) AS pos
        |FROM s""".stripMargin,

    // Same transitive closure; the winner replay is a window over the
    // closed components ORDER BY (n_chars DESC, id) — an independent
    // algorithm for the same argmax the engine computes as one
    // max(struct(score, -id)) aggregation
    "q_dedup_keepby" ->
      """WITH RECURSIVE
        |k1 AS (SELECT doc_id, regexp_extract(text, '^(\w+)', 1) AS k FROM documents),
        |e AS (
        |  SELECT a.doc_id AS src, b.doc_id AS dst
        |  FROM k1 a JOIN k1 b ON a.k = b.k AND a.doc_id <> b.doc_id
        |  UNION
        |  SELECT a.doc_id, b.doc_id
        |  FROM documents a JOIN documents b
        |    ON a.n_chars = b.n_chars AND a.doc_id <> b.doc_id
        |),
        |walk(id, comp) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.dst, w.comp FROM walk w JOIN e ON e.src = w.id
        |),
        |cc AS (SELECT id, MIN(comp) AS comp FROM walk GROUP BY id),
        |r AS (SELECT cc.id, cc.comp, d.n_chars, ROW_NUMBER() OVER (
        |        PARTITION BY cc.comp ORDER BY d.n_chars DESC, cc.id) AS rn
        |      FROM cc JOIN documents d ON cc.id = d.doc_id)
        |SELECT CAST(id AS BIGINT) AS doc_id, CAST(comp AS BIGINT) AS comp,
        |  rn = 1 AS keep
        |FROM r""".stripMargin,

    // Incremental CC must equal the full recompute — the oracle is the
    // SAME transitive closure over ALL pairs as q_dedup_clusters
    "q_cc_incremental" ->
      """WITH RECURSIVE
        |k1 AS (SELECT doc_id, regexp_extract(text, '^(\w+)', 1) AS k FROM documents),
        |e AS (
        |  SELECT a.doc_id AS src, b.doc_id AS dst
        |  FROM k1 a JOIN k1 b ON a.k = b.k AND a.doc_id <> b.doc_id
        |  UNION
        |  SELECT a.doc_id, b.doc_id
        |  FROM documents a JOIN documents b
        |    ON a.n_chars = b.n_chars AND a.doc_id <> b.doc_id
        |),
        |walk(id, comp) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.dst, w.comp FROM walk w JOIN e ON e.src = w.id
        |)
        |SELECT CAST(id AS BIGINT) AS doc_id, CAST(MIN(comp) AS BIGINT) AS comp,
        |  MIN(comp) = id AS keep
        |FROM walk GROUP BY id""".stripMargin,

    "q_attrs_scoped" ->
      """SELECT event_id,
        |  CASE WHEN event_type = 'error' AND NOT (value > 150)
        |       THEN NULL ELSE json_extract_string(props, '$.k') END AS k_val,
        |  CASE WHEN event_type = 'error' AND NOT (value > 150)
        |       THEN 'prod' END AS env
        |FROM events""".stripMargin,

    "q_batch_flush" ->
      """SELECT event_type, batch_idx, CAST(COUNT(*) AS BIGINT) AS n_rows
        |FROM (
        |  SELECT event_type,
        |    CAST(FLOOR((ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY event_id)
        |          - 1) / 100) AS INT) AS batch_idx
        |  FROM events)
        |GROUP BY event_type, batch_idx""".stripMargin,

    "q_translate_jaeger" ->
      """SELECT conv_id AS trace_id,
        |  conv_id || ':' || CAST(turn_idx AS VARCHAR) AS span_id,
        |  role || '/' || regexp_extract(text, 'tool=([A-Za-z0-9_]+)', 1) AS operation_name,
        |  epoch_us(ts) AS start_time_us,
        |  CAST(regexp_extract(text, 'latency=([0-9]+)ms', 1) AS BIGINT) * 1000 AS duration_us,
        |  'graft-collector' AS service_name,
        |  regexp_matches(regexp_extract(text, 'status=([A-Za-z0-9]+)', 1),
        |    '^E[0-9]{3}$') AS error_tag
        |FROM read_parquet('__OUT__/_input_turns/*.parquet')""".stripMargin,

    // to_attributes first-match rule list: rule 1 only matches error turns
    // (tool= directly followed by status=E###), rule 2 matches every turn.
    "q_span_to_attributes" ->
      """SELECT conv_id, turn_idx,
        |  regexp_extract(text, 'tool=([A-Za-z0-9_]+)', 1) AS tname,
        |  CASE WHEN regexp_matches(text, 'tool=[A-Za-z0-9_]+ status=E[0-9]{3}')
        |    THEN regexp_extract(text,
        |      'tool=[A-Za-z0-9_]+ status=(E[0-9]{3})', 1) END AS stat
        |FROM read_parquet('__OUT__/_input_turns/*.parquet')""".stripMargin,

    // Tail-sampling policy set replayed over the dumped corpus: parse,
    // per-conversation rollup, then each policy as SQL (probabilistic via
    // the precomputed sample_bucket, threshold 1638 = round(10% × 16384)).
    "q_tail_policies" ->
      """WITH p AS (SELECT conv_id, ts, sample_bucket,
        |    regexp_extract(text, 'tool=([A-Za-z0-9_]+)', 1) AS tool_invoked,
        |    CASE WHEN regexp_matches(
        |        regexp_extract(text, 'status=([A-Za-z0-9]+)', 1), '^E[0-9]{3}$')
        |      THEN regexp_extract(text, 'status=([A-Za-z0-9]+)', 1) END AS err_code,
        |    CAST(regexp_extract(text, 'latency=([0-9]+)ms', 1) AS BIGINT) AS latency_ms
        |  FROM read_parquet('__OUT__/_input_turns/*.parquet')),
        |r AS (SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_turns,
        |    CAST(SUM(CASE WHEN err_code IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
        |    CAST(COUNT(DISTINCT CASE WHEN tool_invoked NOT IN ('none', '')
        |      THEN tool_invoked END) AS INT) AS n_tools_distinct,
        |    CAST(SUM(latency_ms) AS BIGINT) AS sum_latency_ms,
        |    epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS span_us,
        |    BOOL_OR(tool_invoked IN ('search','sql')) AS has_tool,
        |    MIN(sample_bucket) AS bucket
        |  FROM p GROUP BY conv_id)
        |SELECT conv_id, n_turns, n_errors, n_tools_distinct, sum_latency_ms,
        |  span_us,
        |  (n_errors > 0 OR sum_latency_ms >= 200000 OR has_tool
        |   OR bucket < 1638) AS sampled
        |FROM r""".stripMargin,

    // rate_limiting: rank kept conversations within their last-turn second
    // (kept-first, conv_id tie-break) and un-keep past the cap of 1.
    "q_tail_ratelimit" ->
      """WITH p AS (SELECT conv_id, ts, sample_bucket,
        |    CASE WHEN regexp_matches(
        |        regexp_extract(text, 'status=([A-Za-z0-9]+)', 1), '^E[0-9]{3}$')
        |      THEN 1 ELSE 0 END AS is_err
        |  FROM read_parquet('__OUT__/_input_turns/*.parquet')),
        |r AS (SELECT conv_id, MAX(ts) AS last_ts,
        |    SUM(is_err) AS n_errors, MIN(sample_bucket) AS bucket
        |  FROM p GROUP BY conv_id),
        |d AS (SELECT conv_id, last_ts,
        |    (n_errors > 0 OR bucket < 1638) AS sampled0 FROM r),
        |rk AS (SELECT conv_id, last_ts, sampled0,
        |    ROW_NUMBER() OVER (PARTITION BY date_trunc('second', last_ts)
        |      ORDER BY sampled0 DESC, conv_id) AS rk FROM d)
        |SELECT conv_id, strftime(last_ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
        |  (sampled0 AND rk <= 1) AS sampled
        |FROM rk""".stripMargin,

    // Chat-template render fully replayed: offsets from window prefix sums
    // over exact header/text/footer character counts (header = role+5,
    // footer = 8), the whole rendered string rebuilt by an ordered
    // string_agg and compared via md5, the span content via piece = text.
    // DuckDB SUM(BIGINT) → HUGEINT, hence the final CASTs.
    "q_sft_render" ->
      """WITH t AS (SELECT conv_id, turn_idx, role, text,
        |    length(role) + 5 AS hlen, length(text) AS tlen
        |  FROM read_parquet('__OUT__/_input_turns/*.parquet')),
        |o AS (SELECT conv_id, turn_idx, role, text, hlen, tlen,
        |    COALESCE(SUM(hlen + tlen + 8) OVER (PARTITION BY conv_id
        |      ORDER BY turn_idx
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior,
        |    SUM(hlen + tlen + 8) OVER (PARTITION BY conv_id) AS rlen
        |  FROM t),
        |r AS (SELECT conv_id,
        |    md5(string_agg('<|' || role || '|>' || chr(10) || text ||
        |      '<|end|>' || chr(10), '' ORDER BY turn_idx)) AS rhash
        |  FROM t GROUP BY conv_id)
        |SELECT o.conv_id, o.turn_idx, o.role,
        |  CAST(o.prior + o.hlen + 1 AS BIGINT) AS start,
        |  CAST(o.tlen AS BIGINT) AS len,
        |  CAST(o.rlen AS BIGINT) AS rendered_len,
        |  o.text AS piece, r.rhash
        |FROM o JOIN r ON o.conv_id = r.conv_id""".stripMargin,

    // Loss spans: assistant rows of the same offset replay, span length
    // extended through the 8-char end marker, ordinals dense by turn_idx.
    "q_sft_lossmask" ->
      """WITH t AS (SELECT conv_id, turn_idx, role,
        |    length(role) + 5 AS hlen, length(text) AS tlen
        |  FROM read_parquet('__OUT__/_input_turns/*.parquet')),
        |o AS (SELECT conv_id, turn_idx, role, hlen, tlen,
        |    COALESCE(SUM(hlen + tlen + 8) OVER (PARTITION BY conv_id
        |      ORDER BY turn_idx
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior,
        |    SUM(hlen + tlen + 8) OVER (PARTITION BY conv_id) AS rlen
        |  FROM t)
        |SELECT conv_id,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY conv_id
        |    ORDER BY turn_idx) AS INT) AS span_ord,
        |  turn_idx,
        |  CAST(prior + hlen + 1 AS BIGINT) AS start,
        |  CAST(tlen + 8 AS BIGINT) AS len,
        |  CAST(rlen AS BIGINT) AS rendered_len
        |FROM o WHERE role = 'assistant'""".stripMargin,

    // Token spans: ws token counts (empty-text CASE) prefix-summed in
    // turn order; 1-based half-open ranges.
    "q_sft_token_spans" ->
      """WITH t AS (SELECT conv_id, turn_idx, role,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END AS nt
        |  FROM read_parquet('__OUT__/_input_turns/*.parquet'))
        |SELECT conv_id, turn_idx, role,
        |  CAST(nt AS BIGINT) AS n_toks,
        |  CAST(COALESCE(SUM(nt) OVER (PARTITION BY conv_id
        |    ORDER BY turn_idx
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1
        |    AS BIGINT) AS tok_start,
        |  role = 'assistant' AS is_loss
        |FROM t""".stripMargin,

    // Whole-turn suffix truncation: ws token counts (with the empty-text
    // CASE the engine's tokenCountWs uses) cumulated from the LAST turn.
    "q_sft_truncate" ->
      """WITH t AS (SELECT conv_id, turn_idx,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens
        |  FROM read_parquet('__OUT__/_input_turns/*.parquet')),
        |c AS (SELECT conv_id, turn_idx, CAST(n_tokens AS BIGINT) AS n_tokens,
        |    CAST(SUM(n_tokens) OVER (PARTITION BY conv_id
        |      ORDER BY turn_idx DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum_tokens
        |  FROM t)
        |SELECT conv_id, turn_idx, n_tokens, cum_tokens
        |FROM c WHERE cum_tokens <= 64""".stripMargin,

    // Preference pairs: chosen = fastest assistant turn (tie → smallest
    // turn_idx), rejected = slowest (tie → largest), strict margin only.
    "q_sft_pairs" ->
      """WITH a AS (SELECT conv_id, turn_idx, text,
        |    CAST(regexp_extract(text, 'latency=([0-9]+)ms', 1)
        |      AS BIGINT) AS ms
        |  FROM read_parquet('__OUT__/_input_turns/*.parquet')
        |  WHERE role = 'assistant'),
        |c AS (SELECT conv_id, turn_idx, text, ms,
        |    ROW_NUMBER() OVER (PARTITION BY conv_id
        |      ORDER BY ms ASC, turn_idx ASC) AS rc,
        |    ROW_NUMBER() OVER (PARTITION BY conv_id
        |      ORDER BY ms DESC, turn_idx DESC) AS rr
        |  FROM a)
        |SELECT ch.conv_id, ch.turn_idx AS chosen_idx,
        |  rj.turn_idx AS rejected_idx, ch.ms AS chosen_ms,
        |  rj.ms AS rejected_ms, rj.ms - ch.ms AS margin_ms,
        |  ch.text AS chosen_text, rj.text AS rejected_text
        |FROM (SELECT * FROM c WHERE rc = 1) ch
        |JOIN (SELECT * FROM c WHERE rr = 1) rj USING (conv_id)
        |WHERE rj.ms > ch.ms""".stripMargin,

    // Transcript structure rollup: contiguity from 0, empties, consecutive
    // same-role repeats, assistant presence.
    "q_sft_validate" ->
      """WITH t AS (SELECT conv_id, turn_idx, role, text,
        |    LAG(role) OVER (PARTITION BY conv_id
        |      ORDER BY turn_idx) AS prev_role
        |  FROM read_parquet('__OUT__/_input_turns/*.parquet'))
        |SELECT conv_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_turns,
        |  CAST(SUM(CASE WHEN role = prev_role THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_role_repeats,
        |  CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_empty,
        |  BOOL_OR(role = 'assistant') AS has_assistant,
        |  (MIN(turn_idx) = 0 AND MAX(turn_idx) = COUNT(*) - 1
        |   AND COUNT(DISTINCT turn_idx) = COUNT(*)) AS contiguous,
        |  (MIN(turn_idx) = 0 AND MAX(turn_idx) = COUNT(*) - 1
        |   AND COUNT(DISTINCT turn_idx) = COUNT(*)
        |   AND BOOL_OR(role = 'assistant')
        |   AND SUM(CASE WHEN length(trim(text)) = 0 THEN 1 ELSE 0 END) = 0)
        |    AS valid
        |FROM t GROUP BY conv_id""".stripMargin
  )

  /** Shared CTE chain recomputing SimHash signatures in DuckDB from the
    * dumped word-hash dictionary (__OUT__/_input_vocab): explode the word
    * multiset, join hashes, ±1 vote per bit, sign, assemble the 64-bit
    * signature (bit 63 = the sign bit, added as Long.MinValue so the sum
    * stays in BIGINT range). Ends with CTE `sig(doc_id, sig)`.
    */
  private val simhashSigCtes: String =
    """wv AS (SELECT doc_id,
      |    unnest(string_split_regex(lower(text), '\s+')) AS word
      |  FROM documents),
      |hv AS (SELECT wv.doc_id, v.h
      |  FROM wv JOIN read_parquet('__OUT__/_input_vocab/*.parquet') v
      |    ON wv.word = v.word),
      |bits AS (SELECT doc_id, b.i AS i,
      |    SUM(CASE WHEN ((h >> b.i) & 1) = 1 THEN 1 ELSE -1 END) AS cnt
      |  FROM hv CROSS JOIN (SELECT unnest(range(0, 64)) AS i) b
      |  GROUP BY doc_id, b.i),
      |sig AS (SELECT doc_id, CAST(SUM(CASE WHEN cnt > 0 THEN
      |      CASE WHEN i = 63 THEN -9223372036854775807 - 1
      |           ELSE (1::BIGINT << i) END
      |    ELSE 0 END) AS BIGINT) AS sig
      |  FROM bits GROUP BY doc_id)""".stripMargin

  /** DuckDB replay of Classifier.scoreJoin/scoreNarrow over the dumped
    * word→milli-weight dictionary (__OUT__/_input_cls, built from the same
    * corpus, so the inner token join is lossless): tokenize with the
    * normWords formula, integer-sum the weights, decide the label on the
    * integer numerator, round the sigmoid to the engine's 4 dp. bias =
    * −25 milli, matching both queries.
    */
  private val classifierOracle: String =
    """WITH w AS (
      |  SELECT doc_id, list_filter(string_split(
      |    regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '),
      |    x -> x <> '') AS words
      |  FROM documents
      |), tok AS (
      |  SELECT doc_id, unnest(words) AS word FROM w
      |), s AS (
      |  SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |    CAST(SUM(v.wgt) AS BIGINT) AS feat_sum
      |  FROM tok t
      |  JOIN read_parquet('__OUT__/_input_cls/*.parquet') v USING (word)
      |  GROUP BY 1
      |), f AS (
      |  SELECT d.doc_id, COALESCE(s.n_tokens, 0) AS n_tokens,
      |    COALESCE(s.feat_sum, 0) AS feat_sum,
      |    GREATEST(COALESCE(s.n_tokens, 0), 1) AS n1
      |  FROM documents d LEFT JOIN s USING (doc_id)
      |)
      |SELECT doc_id, n_tokens, feat_sum,
      |  ROUND(1.0 / (1.0 + exp(-CAST(-25 * n1 + feat_sum AS DOUBLE)
      |    / (1000.0 * n1))), 4) AS score,
      |  (-25 * n1 + feat_sum >= 0) AS label
      |FROM f""".stripMargin

  /** Shared DuckDB replay of Pq ADC top-k over the dumped codes/LUT
    * primitives (_input_pq, _input_pqlut). `candSql` yields
    * (query_id, id, codes) candidate rows — exhaustive cross for
    * q_ann_pq, probed-cell-filtered for q_ann_ivfpq. The ADC sum is a
    * left fold (list_reduce), matching Pq.adcScore's `aggregate` fold
    * bit-for-bit (its 0.0 seed is IEEE-exact under +); rank ties break
    * score DESC, id ASC like Similarity.topKPerQuery.
    */
  /** Shared CTE prefix of the URL-curation oracles: the arithmetic URL
    * synthesis (≡ [[urlDocs]]), the anchored normalize chain, host
    * extraction, and the host-label split. Ends after the `l` CTE so each
    * oracle appends its own final SELECT (or further CTEs).
    */
  private val urlSynthSql: String =
    """WITH u AS (
      |  SELECT doc_id,
      |    (['https://','HTTP://','ftp://',''])[(doc_id % 4) + 1] ||
      |    CASE WHEN doc_id % 11 = 3 THEN 'User:Pw@' ELSE '' END ||
      |    CASE WHEN doc_id % 3 = 0 THEN 'www.'
      |         WHEN doc_id % 9 = 1 THEN 'www2.' ELSE '' END ||
      |    CASE WHEN doc_id % 4 = 0 THEN 'blog.'
      |         WHEN doc_id % 4 = 1 THEN 'Shop.' ELSE '' END ||
      |    'site' || CAST(doc_id % 7 AS VARCHAR) ||
      |    (['.com','.org','.co.uk','.de','.ac.jp','.net'])[(doc_id % 6) + 1] ||
      |    CASE WHEN doc_id % 5 = 0 THEN ':8080' ELSE '' END ||
      |    '/Docs/' || CAST(doc_id AS VARCHAR) ||
      |    CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END ||
      |    CASE WHEN doc_id % 6 = 0
      |         THEN '?utm=x&id=' || CAST(doc_id AS VARCHAR) ELSE '' END ||
      |    CASE WHEN doc_id % 7 = 0 THEN '#Section-2' ELSE '' END AS url
      |  FROM documents),
      |n1 AS (SELECT doc_id, url,
      |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |    regexp_replace(regexp_replace(lower(trim(url)),
      |    '^[a-z][a-z0-9+.-]*://', ''),
      |    '#.*$', ''), '\?.*$', ''), '^[^/?#]*@', ''), '^www\d*\.', ''),
      |    '/+$', '') AS url_norm
      |  FROM u),
      |h AS (SELECT *, regexp_replace(regexp_extract(url_norm, '^([^/]+)', 1),
      |        ':\d+$', '') AS host FROM n1),
      |l AS (SELECT *, string_split(host, '.') AS lab FROM h)
      |""".stripMargin

  /** robots.txt synthesis + full RFC-grammar parse replay, continuing
    * from [[urlSynthSql]]'s `l` CTE (doc_id, url, host). Ends with the
    * `rules` CTE: (host, agent, allow, pattern) — the exact output of
    * `RobotsTxt.parseRules` over the identical synthesized bodies.
    */
  private val robotsParseSql: String =
    """, robots AS (
      |  SELECT host, CASE len(host) % 4
      |    WHEN 0 THEN 'User-Agent: *' || chr(10) || 'Disallow: /Docs/' ||
      |      chr(10) || 'Allow: /Docs/2' || chr(10) || '# tail' || chr(10)
      |    WHEN 1 THEN 'User-agent: GraftBot' || chr(10) ||
      |      'User-agent: otherbot' || chr(10) || 'Disallow: /Docs/*4$' ||
      |      chr(10) || chr(10) || 'User-agent: *' || chr(10) ||
      |      'Disallow: /' || chr(10)
      |    WHEN 2 THEN 'User-agent: otherbot' || chr(10) || 'Disallow: /' ||
      |      chr(10) || chr(10) || 'User-agent: *' || chr(10) ||
      |      'Allow: /Docs' || chr(10) || 'Disallow: /Docs/*?utm=' || chr(10)
      |    ELSE 'Disallow: /' || chr(10) || 'User-agent: *' || chr(10) ||
      |      'Disallow:' || chr(10) END AS txt
      |  FROM (SELECT DISTINCT host FROM l)),
      |sp AS (SELECT host,
      |         string_split_regex(txt, '\r?\n') AS ls FROM robots),
      |rlines AS (SELECT host, unnest(ls) AS raw,
      |             generate_subscripts(ls, 1) AS line_idx FROM sp),
      |fv AS (SELECT host, line_idx,
      |         lower(trim(regexp_extract(cl, '^([^:]+):', 1))) AS field,
      |         trim(regexp_extract(cl, '^[^:]+:(.*)$', 1)) AS value
      |       FROM (SELECT host, line_idx,
      |               trim(regexp_replace(raw, '#.*$', '')) AS cl
      |             FROM rlines)),
      |kept AS (SELECT * FROM fv
      |         WHERE field IN ('user-agent', 'allow', 'disallow')),
      |g AS (SELECT *, CASE WHEN field = 'user-agent' AND
      |        COALESCE(LAG(field) OVER (PARTITION BY host ORDER BY line_idx),
      |          'x') <> 'user-agent' THEN 1 ELSE 0 END AS ng
      |      FROM kept),
      |g2 AS (SELECT *, SUM(ng) OVER (PARTITION BY host ORDER BY line_idx
      |         ROWS UNBOUNDED PRECEDING) AS grp FROM g),
      |agents AS (SELECT DISTINCT host, grp, lower(value) AS agent
      |           FROM g2 WHERE field = 'user-agent'),
      |rr AS (SELECT host, grp, (field = 'allow') AS allow, value AS pattern
      |       FROM g2 WHERE field <> 'user-agent' AND value <> ''),
      |rules AS (SELECT a.host, a.agent, r.allow, r.pattern
      |          FROM agents a LEFT JOIN rr r
      |            ON a.host = r.host AND a.grp = r.grp)
      |""".stripMargin

  /** The exact-BM25 replay (shared by q_bm25_topk and the
    * q_bm25_incremental lifecycle, which must reproduce it bit-for-bit).
    */
  private val bm25Oracle: String =
    """WITH w AS (
      |  SELECT doc_id, list_filter(string_split(
      |    regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '),
      |    x -> x <> '') AS words
      |  FROM documents
      |), lens AS (
      |  SELECT doc_id, CAST(len(words) AS BIGINT) AS len FROM w
      |), stats AS (
      |  SELECT CAST(SUM(len) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
      |  FROM lens
      |), tok AS (
      |  SELECT doc_id, unnest(words) AS word FROM w
      |), post AS (
      |  SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf
      |  FROM tok GROUP BY 1, 2
      |), qt AS (
      |  SELECT DISTINCT doc_id AS query_id, word FROM tok WHERE doc_id < 5
      |), dfq AS (
      |  SELECT p.word, CAST(COUNT(*) AS BIGINT) AS df
      |  FROM post p JOIN (SELECT DISTINCT word FROM qt) q USING (word)
      |  GROUP BY 1
      |), idf AS (
      |  SELECT d.word, i.idf_micro
      |  FROM dfq d JOIN read_parquet('__OUT__/_input_bm25/*.parquet') i
      |    ON i.word = d.word AND i.df = d.df
      |), scored AS (
      |  SELECT qt.query_id, p.doc_id AS id,
      |    SUM(CAST(floor(i.idf_micro * ((p.tf * 2.2) /
      |      (p.tf + 1.2 * (0.25 + (0.75 * l.len) / s.avgdl))) + 0.5)
      |      AS BIGINT)) AS score_micro
      |  FROM post p
      |  JOIN qt USING (word)
      |  JOIN idf i USING (word)
      |  JOIN lens l ON l.doc_id = p.doc_id
      |  CROSS JOIN stats s
      |  GROUP BY 1, 2
      |), r AS (
      |  SELECT query_id, id, score_micro,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY score_micro DESC, id) AS INT) AS rank
      |  FROM scored
      |)
      |SELECT query_id, id, CAST(score_micro AS BIGINT) AS score_micro,
      |  rank FROM r WHERE rank <= 10""".stripMargin

  private def pqOracle(candSql: String): String =
    s"""WITH v AS (SELECT id, codes
       |           FROM read_parquet('__OUT__/_input_pq/*.parquet')),
       |q AS (SELECT query_id, lut
       |      FROM read_parquet('__OUT__/_input_pqlut/*.parquet')),
       |cand AS ($candSql),
       |s AS (SELECT cand.query_id, cand.id,
       |        list_reduce(list_transform(list_zip(cand.codes, q.lut),
       |          p -> p[2][p[1] + 1]), (a, b) -> a + b) AS score
       |      FROM cand JOIN q USING (query_id)),
       |r AS (SELECT query_id, id, score,
       |        CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |          ORDER BY score DESC, id) AS INT) AS rank FROM s)
       |SELECT query_id, id, CAST(ROUND(score, 6) AS DOUBLE) AS score, rank
       |FROM r WHERE rank <= 5""".stripMargin

  /** Term-by-term DuckDB replay of TextAnalysis.qualityScore (distinct
    * stopword union of the 4 language lists inlined); shared by
    * q_quality_score and q_quality_fingerprint.
    */
  private val qualityScoreOracle: String =
    """WITH b AS (SELECT doc_id, trim(text) AS t FROM documents),
      |m AS (SELECT doc_id, t, CAST(len(t) AS DOUBLE) AS n_chars,
      |        string_split_regex(lower(t), '\s+') AS words FROM b),
      |r AS (SELECT doc_id, len(words) AS n_words,
      |  CAST(len(regexp_replace(t, '[^A-Za-z ]', '', 'g')) AS DOUBLE)
      |    / GREATEST(n_chars, 1.0) AS alpha_ratio,
      |  CAST(len(list_intersect(list_distinct(words),
      |    ['the','and','of','to','a','in','is','it','that','for',
      |     'el','la','de','que','y','en','un','es','se','no',
      |     'der','die','und','das','ist','ein','zu','den','mit','von',
      |     'le','et','est','du','pour'])) AS DOUBLE)
      |    / GREATEST(CAST(len(words) AS DOUBLE), 1.0) AS stop_ratio,
      |  n_chars / GREATEST(CAST(len(words) AS DOUBLE), 1.0) AS mean_word_len
      |  FROM m)
      |SELECT doc_id, ROUND(
      |  (CASE WHEN n_words BETWEEN 5 AND 5000 THEN 1.0
      |        WHEN n_words BETWEEN 2 AND 10000 THEN 0.5 ELSE 0.0 END) * 0.3
      |  + alpha_ratio * 0.3
      |  + LEAST(stop_ratio * 3.0, 1.0) * 0.2
      |  + (CASE WHEN mean_word_len BETWEEN 3.0 AND 12.0 THEN 1.0
      |          ELSE 0.3 END) * 0.2, 4) AS quality
      |FROM r""".stripMargin

  private val asofOracle: String =
    """WITH c AS (SELECT user_id, ts, MAX(event_id) AS click_id,
      |    ROUND(arg_max(value, event_id), 4) AS click_value
      |  FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
      |SELECT e.event_id, e.user_id, c.click_id, c.click_value
      |FROM events e ASOF LEFT JOIN c
      |  ON e.user_id = c.user_id AND e.ts >= c.ts""".stripMargin

  /** 3 full power-iteration rounds of the exact micro-unit recurrence in
    * chained CTEs; shared verbatim by q_pagerank (one-shot) and
    * q_pagerank_resume (cold 1 round + warm-resumed 2 — bit-equal by the
    * resume contract).
    */
  private val pagerankOracle: String =
    """WITH e0 AS (
      |  SELECT 'd' || CAST(doc_id % 53 AS VARCHAR) AS src,
      |         'd' || CAST((doc_id*7+3) % 53 AS VARCHAR) AS dst
      |  FROM documents
      |  UNION ALL
      |  SELECT 'd' || CAST(doc_id % 53 AS VARCHAR),
      |         'd' || CAST((doc_id*11+5) % 53 AS VARCHAR)
      |  FROM documents),
      |e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
      |nodes AS (SELECT src AS node FROM e UNION SELECT dst AS node FROM e),
      |od AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
      |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank_micro FROM nodes),
      |s1 AS (SELECT e.dst,
      |         CAST(SUM((850000 * r.rank_micro) // 1000000 // od.outdeg)
      |              AS BIGINT) AS infl
      |       FROM e JOIN r0 r ON e.src = r.node JOIN od ON e.src = od.src
      |       GROUP BY e.dst),
      |r1 AS (SELECT n.node,
      |         CAST(150000 + COALESCE(s1.infl, 0) AS BIGINT) AS rank_micro
      |       FROM nodes n LEFT JOIN s1 ON n.node = s1.dst),
      |s2 AS (SELECT e.dst,
      |         CAST(SUM((850000 * r.rank_micro) // 1000000 // od.outdeg)
      |              AS BIGINT) AS infl
      |       FROM e JOIN r1 r ON e.src = r.node JOIN od ON e.src = od.src
      |       GROUP BY e.dst),
      |r2 AS (SELECT n.node,
      |         CAST(150000 + COALESCE(s2.infl, 0) AS BIGINT) AS rank_micro
      |       FROM nodes n LEFT JOIN s2 ON n.node = s2.dst),
      |s3 AS (SELECT e.dst,
      |         CAST(SUM((850000 * r.rank_micro) // 1000000 // od.outdeg)
      |              AS BIGINT) AS infl
      |       FROM e JOIN r2 r ON e.src = r.node JOIN od ON e.src = od.src
      |       GROUP BY e.dst),
      |r3 AS (SELECT n.node,
      |         CAST(150000 + COALESCE(s3.infl, 0) AS BIGINT) AS rank_micro
      |       FROM nodes n LEFT JOIN s3 ON n.node = s3.dst)
      |SELECT node, rank_micro FROM r3""".stripMargin

  private val annRecallOracle: String =
    """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
      |           FROM embeddings WHERE vec_id < 5),
      |c AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
      |bf AS (SELECT query_id, id FROM (
      |    SELECT query_id, id, ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY list_cosine_similarity(CAST(v AS DOUBLE[]),
      |        CAST(qv AS DOUBLE[])) DESC, id) AS rank
      |    FROM c, q WHERE id <> query_id) WHERE rank <= 5),
      |cells AS (SELECT vec_id, cell16
      |          FROM read_parquet('__OUT__/_input_vecs/*.parquet')),
      |probes AS (SELECT query_id, probe
      |           FROM read_parquet('__OUT__/_input_probes/*.parquet')),
      |cand AS (SELECT p.query_id, ce.vec_id AS id
      |         FROM probes p JOIN cells ce ON ce.cell16 = p.probe),
      |ivf AS (SELECT query_id, id FROM (
      |    SELECT ca.query_id, ca.id, ROW_NUMBER() OVER (PARTITION BY ca.query_id
      |      ORDER BY list_cosine_similarity(CAST(c.v AS DOUBLE[]),
      |        CAST(q.qv AS DOUBLE[])) DESC, ca.id) AS rank
      |    FROM cand ca JOIN c ON c.id = ca.id
      |      JOIN q ON q.query_id = ca.query_id
      |    WHERE ca.id <> ca.query_id) WHERE rank <= 5),
      |hits AS (SELECT i.query_id, CAST(COUNT(*) AS BIGINT) AS n_hits
      |         FROM ivf i JOIN bf b ON b.query_id = i.query_id AND b.id = i.id
      |         GROUP BY i.query_id)
      |SELECT q.query_id, COALESCE(h.n_hits, 0) AS n_hits,
      |  ROUND(COALESCE(h.n_hits, 0) / 5.0, 4) AS recall_at_5
      |FROM q LEFT JOIN hits h USING (query_id)""".stripMargin

  private val annBruteForceOracle: String =
    """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
      |           FROM embeddings WHERE vec_id < 5),
      |c AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
      |s AS (SELECT query_id, id,
      |        list_cosine_similarity(CAST(v AS DOUBLE[]), CAST(qv AS DOUBLE[])) AS cos
      |      FROM c, q WHERE id <> query_id),
      |r AS (SELECT query_id, id, cos,
      |        CAST(ROW_NUMBER() OVER (PARTITION BY query_id
      |          ORDER BY cos DESC, id) AS INT) AS rank
      |      FROM s)
      |SELECT query_id, id, CAST(ROUND(cos, 6) AS DOUBLE) AS cosine, rank
      |FROM r WHERE rank <= 5""".stripMargin

  /** DSIR weight replay, shared by q_dsir_weights (verbatim) and
    * q_dsir_select (wrapped with the top-k rank). Bucket counts, totals,
    * and per-doc sums recomputed from the _input_dsir primitive; the
    * count-cross-checking dict join imports only the quantized ln.
    * The dict lookup is a LEFT join with a 2^62 poison sentinel: a raw
    * bucket MISSING from the dumped dictionary (a coverage regression —
    * e.g. logRatioDict losing its full_outer) would make the engine drop
    * that bucket's contributions while an inner-join oracle silently
    * dropped the same rows; the sentinel forces the oracle's sums wildly
    * off instead, so the row goes red.
    */
  private val dsirWeightsSql: String =
    """WITH d AS (SELECT doc_id, bucket, CAST(cnt AS BIGINT) AS cnt
      |           FROM read_parquet('__OUT__/_input_dsir/*.parquet')),
      |tgt AS (SELECT bucket, CAST(SUM(cnt) AS BIGINT) AS c_tgt FROM d
      |        WHERE doc_id % 7 = 0 GROUP BY 1),
      |raw AS (SELECT bucket, CAST(SUM(cnt) AS BIGINT) AS c_raw FROM d
      |        GROUP BY 1),
      |lr AS (SELECT r.bucket,
      |         COALESCE(i.logratio_micro, 4611686018427387904)
      |           AS logratio_micro
      |       FROM raw r LEFT JOIN tgt t USING (bucket)
      |       LEFT JOIN read_parquet('__OUT__/_input_dsir_dict/*.parquet') i
      |         ON i.bucket = r.bucket AND i.c_tgt = COALESCE(t.c_tgt, 0)
      |        AND i.c_raw = r.c_raw),
      |sums AS (SELECT d.doc_id, CAST(SUM(d.cnt) AS BIGINT) AS n_ngrams,
      |           CAST(SUM(d.cnt * lr.logratio_micro) AS BIGINT)
      |             AS weight_micro
      |         FROM d JOIN lr USING (bucket) GROUP BY 1)
      |SELECT doc.doc_id,
      |  CAST(COALESCE(s.n_ngrams, 0) AS BIGINT) AS n_ngrams,
      |  CAST(COALESCE(s.weight_micro, 0) AS BIGINT) AS weight_micro
      |FROM documents doc LEFT JOIN sums s USING (doc_id)""".stripMargin
}
