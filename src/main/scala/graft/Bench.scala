package graft

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: headline queries on SPARK_GRAFT_SF_DIR + the
  * end-to-end transcript pipeline. Prints exactly ONE JSON line. A row
  * that throws is reported under `errors` and left out of `total`.
  */
object Bench {

  /** Headline subset: the shapes that dominate 100 TB cost. */
  val headline: Seq[String] = Seq(
    "q_agg_groupby", "q_join_3way", "q_window_lag", "q_json_extract",
    "q_regex_extract", "q_grok_extract", "q_dedup_normalized",
    "q_text_profile", "q_minhash_neardups", "q_ann_bruteforce",
    "q_case_route", "q_agg_countdistinct", "q_decontaminate",
    "q_dup_spans", "q_asof_join", "q_pack_chunks", "q_range_join",
    "q_overlap_join", "q_simhash_sigs", "q_dup_runs", "q_jaccard_neardups",
    "q_semantic_dedup", "q_bm25_topk", "q_knn_graph_lsh",
    "q_paragraph_dedup",
    // round-4 crawl-entry surface: graph rank join + the WET round trip
    "q_rank_docs", "q_wet_read")

  /** Headline rows timed under FULL materialization (all output columns
    * hashed) instead of count(): these queries' expensive work is per-row
    * computed columns (clean-text reassembly, per-doc scores, rendered
    * strings) that do not change the row count, so count() would let
    * Catalyst prune exactly the work the row claims to time — the
    * documented bench trap. Kept separate from [[headline]] so the
    * original rows' semantics stay comparable across rounds.
    */
  val headlineForced: Seq[String] = Seq(
    "q_c4_lines", "q_gopher_rules", "q_lm_score", "q_lm2_score",
    "q_lm3_score", "q_dsir_weights", "q_bloom_decontaminate",
    "q_fuzzy_decontaminate", "q_sft_render", "q_corpus_report",
    "q_bpe_ids", "q_pack_rows",
    // round-4 close: robots decision, NB language ID, corpus overlap
    "q_robots_allowed", "q_langid_ngram", "q_corpus_overlap",
    // round-5: exact-substring span removal (clean-text reassembly is
    // the cost center) and PSL registrable-domain resolution
    "q_dup_span_removal", "q_url_domain_psl")

  /** The rows part of the JSON line: `"value"` is the total of the rows
    * that ran, `"queries"` their seconds, `"errors"` the rows that threw,
    * each with its exception. A failed row has no time, so it adds nothing
    * to the total.
    */
  private[graft] def rowsJson(rows: Seq[(String, Try[Double])]): String = {
    val timed = rows.collect { case (k, Success(v)) => k -> v }
    val qs = timed.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val errors = rows.collect { case (k, Failure(e)) => s""""$k":${jsonString(e.toString)}""" }
      .mkString("{", ",", "}")
    f""""value":${timed.map(_._2).sum}%.3f,"queries":$qs,"errors":$errors"""
  }

  /** `s` as a JSON string literal. */
  private def jsonString(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def time[A](f: => A): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** Full-materialization action over EVERY output column — the shared
    * forcing idiom of the bench mains (count() would let Catalyst prune
    * computed columns that don't change the row count, the documented
    * bench trap). [[sftRunFrom]] inlines a fused variant because it also
    * needs the turn count from the same single action.
    */
  private[graft] def forceAll(df: org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.functions.{bit_xor, col, xxhash64}
    df.select(xxhash64(df.columns.map(col): _*).as("h"))
      .agg(bit_xor(col("h"))).head()
    ()
  }

  /** Transcript pipeline throughput: nConvs conversations (~3.45 turns/conv
    * at the Zipf default) through `Pipeline.runBatch`. Returns
    * (seconds, turns).
    */
  def pipelineRun(spark: SparkSession, nConvs: Long): (Double, Long) =
    pipelineRunFrom(spark, TranscriptGen.turnsDs(spark, nConvs).toDF())

  /** `Pipeline.runBatch` over a caller-supplied turns frame (e.g. a parquet
    * scan — the production shape), commit included, into a scratch output
    * directory deleted afterwards. `convClustered`: pass true for a
    * conv-bucketed scan, as `runBatch` expects. Returns (seconds, turns
    * routed).
    */
  def pipelineRunFrom(spark: SparkSession, turns: org.apache.spark.sql.DataFrame,
                      convClustered: Boolean = false): (Double, Long) = {
    val out = java.nio.file.Files.createTempDirectory("graft-bench-pipeline")
    val obs = new ObsMetrics(spark)
    try {
      val sec = time(Pipeline.runBatch(spark, turns, out.toString,
        obs = Some(obs), convClustered = convClustered))
      (sec, obs.sent("route").value)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(out.toFile)
  }

  /** SFT render job for the scaling bench: [[graft.ops.SftPrep.chatTemplate]]
    * over the corpus with EVERY output column (the rendered string and the
    * span array included) forced through the all-columns hash — count()
    * would let Catalyst prune the render itself, the documented bench
    * trap. Returns (seconds, turns rendered). On the conv-bucketed layout
    * the conversation groupBy is exchange-free (the bucketing satisfies
    * the aggregation's distribution), so the stage measures pure
    * scan+render compute scaling; on the scattered layout the ENTIRE
    * corpus shuffles on conv_id — the same bucketed-vs-scattered contrast
    * the routing rows quantify.
    */
  def sftRunFrom(spark: SparkSession,
                 turns: org.apache.spark.sql.DataFrame): (Double, Long) = {
    import org.apache.spark.sql.functions._
    val r = graft.ops.SftPrep.chatTemplate(turns)
    var n = 0L
    val sec = time {
      n = r.select(xxhash64(r.columns.map(col): _*).as("h"),
          col("n_turns").cast("long").as("nt"))
        .agg(bit_xor(col("h")).as("x"), sum(col("nt")).as("n"))
        .head().getLong(1)
    }
    (sec, n)
  }

  /** The REST of the SFT family for the scaling bench — token-span
    * alignment, whole-turn truncation, preference pairs, and structural
    * validation, each forced through the all-columns hash. All four are
    * one window/aggregation on the conversation key (zero exchange on
    * the bucketed layout), so together with [[sftRunFrom]] this times
    * the complete turns→trainer-input pass. Returns (seconds, turns
    * validated).
    */
  def sftPrepRunFrom(spark: SparkSession,
                     turns: org.apache.spark.sql.DataFrame): (Double, Long) = {
    import org.apache.spark.sql.functions._
    var n = 0L
    val sec = time {
      forceAll(graft.ops.SftPrep.tokenSpans(turns))
      forceAll(graft.ops.SftPrep.truncateToBudget(turns, budget = 64))
      val cands = turns.where(col("role") === "assistant")
        .select(col("conv_id"), col("turn_idx"), col("text"),
          (lit(0L) - coalesce(nullif(regexp_extract(col("text"),
            "latency=([0-9]+)ms", 1), lit("")).cast("long"), lit(0L)))
            .as("score"))
      forceAll(graft.ops.SftPrep.preferencePairs(cands, "conv_id",
        "turn_idx", "score", "text"))
      val v = graft.ops.SftPrep.validateTranscripts(turns)
      n = v.select(xxhash64(v.columns.map(col): _*).as("h"),
          col("n_turns"))
        .agg(bit_xor(col("h")).as("x"), sum(col("n_turns")).as("n"))
        .head().getLong(1)
    }
    (sec, n)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir",
        sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/graft-spark-local"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // JVM/codegen warmup outside the timed region: run every headline
    // query once at sf0.001 (tiny) so generated-code compilation and
    // classloading don't bill the first timed call — the bench measures
    // steady-state throughput (the 100 TB regime), not JIT startup.
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    headline.foreach { name =>
      SparkEntry.queries.get(name).foreach { fn =>
        try fn(spark, warmDir).count() catch { case _: Throwable => () }
      }
    }
    headlineForced.foreach { name =>
      SparkEntry.queries.get(name).foreach { fn =>
        try forceAll(fn(spark, warmDir)) catch { case _: Throwable => () }
      }
    }

    // best-of-2 per query: the sandbox VM has multi-minute hypervisor-steal
    // windows that inflate single runs up to 4×
    val results: Seq[(String, Try[Double])] = headline.flatMap { name =>
      SparkEntry.queries.get(name).map { fn =>
        name -> Try(math.min(time(fn(spark, sfDir).count()),
                             time(fn(spark, sfDir).count())))
      }
    } ++ headlineForced.flatMap { name =>
      SparkEntry.queries.get(name).map { fn =>
        name -> Try(math.min(time(forceAll(fn(spark, sfDir))),
                             time(forceAll(fn(spark, sfDir)))))
      }
    }

    // IoListener: every pipeline row carries its measured input/shuffle
    // bytes, so a timing anomaly (hypervisor steal inflated the round-2
    // pipeline_bucketed row 20×) is distinguishable from a plan
    // regression — the bytes don't lie even when the clock does.
    val io = new IoListener
    spark.sparkContext.addSparkListener(io)
    def measured(run: => (Double, Long)): (Double, Long, (Long, Long, Long)) = {
      io.reset()
      val (s1, n) = run
      org.apache.spark.sql.GraftBridge.waitListenerBusEmpty(spark.sparkContext)
      val bytes = (io.input.get, io.shufWrite.get, io.shufRead.get)
      // best-of-3: single-shot timings are steal-exposed (observed 7×
      // swings between back-to-back bench invocations on this VM), and
      // these two rows are the headline artifact
      val (s2, _) = run
      val (s3, _) = run
      (math.min(s1, math.min(s2, s3)), n, bytes)
    }

    // pipeline throughput at bench scale (~600k turns); warm codegen first
    pipelineRun(spark, 2000L)
    val (pipeSec, pipeTurns, pipeIo) = measured(pipelineRun(spark, 145000L))
    val turnsPerSec = pipeTurns / pipeSec

    // production shape: same pipeline over a conv-bucketed table scan
    // (shuffle-free aggregation — the 100 TB layout; corpus written once,
    // untimed). Guarded: a failure here (e.g. no /dev/shm) must not sink
    // the whole bench artifact — the row reports an error instead.
    val bkt = Try {
      val bktDir = sys.env.getOrElse("SPARK_GRAFT_BENCH_BKT_DIR",
        "/dev/shm/graft-bench-bkt")
      if (!new java.io.File(s"$bktDir/_SUCCESS").exists())
        BucketedCorpus.write(TranscriptGen.turnsDs(spark, 145000L).toDF(),
          bktDir, "graft_bench_corpus", buckets = 32)
      def bkt = BucketedCorpus.open(spark, bktDir, "graft_bench_corpus", 32)
      pipelineRunFrom(spark, bkt, convClustered = true) // warm
      val (s, _, b) = measured(pipelineRunFrom(spark, bkt, convClustered = true))
      (s, b)
    }

    // corpus-curation end-to-end: dedup → clusters → decontamination →
    // quality → mixture → redaction → shard/split, one survivor filter
    // pass + one attrition aggregation (CurationPipeline's design claim,
    // timed here as a whole)
    def curationRun(): Double = {
      import org.apache.spark.sql.functions.{bit_xor, col, xxhash64}
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      time {
        val (curated, _) = graft.ops.CurationPipeline.curate(
          docs, "doc_id", "text", "lang",
          evalSet = Some(docs.where(col("doc_id") % 7 === 0)))
        // hash EVERY output column, not count(): count() lets Catalyst
        // prune every computed column that doesn't feed the survivor
        // filter (the PII redaction projection, shard/split assignment) —
        // the known count()-pruning bench trap. The xxhash64-over-all-
        // columns aggregate forces full materialization of the frame the
        // row claims to time.
        curated.select(xxhash64(curated.columns.map(col): _*).as("h"))
          .agg(bit_xor(col("h"))).head()
      }
    }
    val curSec = Try {
      curationRun() // warm
      math.min(curationRun(), curationRun())
    }

    val all = results :+ ("curation_e2e" -> curSec) :+
      ("pipeline_e2e" -> Success(pipeSec)) :+
      ("pipeline_bucketed" -> bkt.map(_._1))
    def ioJson(b: (Long, Long, Long)): String =
      s"""{"input_bytes":${b._1},"shuffle_write_bytes":${b._2},"shuffle_read_bytes":${b._3}}"""
    val ioRows = (("pipeline_e2e" -> pipeIo) +: bkt.toOption.map("pipeline_bucketed" -> _._2).toSeq)
      .map { case (k, b) => s""""$k":${ioJson(b)}""" }.mkString("{", ",", "}")
    println(f"""{"metric":"total",${rowsJson(all)},"unit":"sec","sf":"$sfDir","pipeline_turns":$pipeTurns,"pipeline_turns_per_sec":$turnsPerSec%.0f,"io":$ioRows}""")
    spark.stop()
  }
}
