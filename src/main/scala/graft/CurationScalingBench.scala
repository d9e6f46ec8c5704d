package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling-efficiency evidence for the CURATION/DEDUP family — the same
  * two-parallelism-level protocol as [[ScalingBench]] (BASELINE.md), over
  * a multi-million-document [[DocGen]] corpus instead of transcript
  * routing: the 100 TB design claims on `ops/Dedup` / `ops/Curation` were
  * previously argued from plan shape but only ever MEASURED at 5k docs,
  * where `curation_e2e` is scheduler-overhead-bound.
  *
  * Stages timed independently (IoListener bytes reset per stage):
  *  - minhash: [[graft.ops.Dedup.minhashNearDups]] over the full corpus —
  *    shingle → signature → banded LSH self-join → exact-Jaccard verify.
  *  - curation: [[graft.ops.CurationPipeline.curate]] end-to-end (exact
  *    dedup → near-dup CC → decontamination → quality → PII → shard/split)
  *    with the full-materialization hash (count() would let Catalyst prune
  *    the redaction/shard projections — the documented bench trap).
  *
  * Protocol notes carried from ScalingBench: corpus written ONCE (untimed)
  * to tmpfs and scanned by the timed job (production shape); fresh JVM per
  * parallelism level (lo == hi single-level mode) is the honest protocol —
  * pair levels within one calm window, best-of-2 warm runs per level.
  */
object CurationScalingBench {

  /** Shuffle partitions sized to DATA, identical at every parallelism
    * level (a real cluster fixes the dataset's partitioning and varies
    * executor count). Sizing to cores — right for the routing bench,
    * whose one shuffle is 30 KB — made each dedup reduce task own
    * shuffle-GB/cores: at 1M docs the 8-core level's ~600 MB sort/join
    * tasks went memory-pressure-superlinear (97.7 s at partitions=8 vs
    * 57.8 s at 32, identical shuffle bytes). ~30 MB of shuffle per task.
    */
  private def partitionsFor(nDocs: Long, cores: Int): Int =
    math.max(cores, (nDocs / 31250L).toInt)

  private def session(cores: Int, parts: Int): SparkSession = {
    // SPARK_GRAFT_MASTER: run the SAME stages under spark-submit
    // --master local-cluster[N,c,mem] — real separate executor JVMs (the
    // ScalingBench multi-executor protocol); pass `cores` matching the
    // cluster's total cores so data-sized partitions stay comparable
    val s = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cores]"))
      .appName(s"graft-curation-scaling-$cores")
      .config("spark.sql.shuffle.partitions", parts.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.local.dir",
        sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/graft-spark-local"))
      .config("spark.sql.files.maxPartitionBytes", (16 * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def time[A](f: => A): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** Full-materialization action over every output column (no pruning). */
  private def forceAll(df: DataFrame): Unit = Bench.forceAll(df)

  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(1000000L)
    val lo = args.lift(1).map(_.toInt).getOrElse(8)
    val hi = args.lift(2).map(_.toInt).getOrElse(lo)
    // optional 4th arg: comma-separated stage subset (default: all)
    val stageSet: Set[String] =
      args.lift(3).map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty)
    val corpusDir = sys.env.getOrElse("SPARK_GRAFT_DOCS_DIR",
      s"/dev/shm/graft-docs-$nDocs")

    def run(cores: Int): Map[String, (Double, (Long, Long, Long))] = {
      val spark = session(cores, partitionsFor(nDocs, cores))
      try {
        if (!new java.io.File(s"$corpusDir/_SUCCESS").exists())
          DocGen.docs(spark, nDocs).repartition(128)
            .write.mode("overwrite").parquet(corpusDir)
        def docs = spark.read.parquet(corpusDir)

        def minhashRun(): Unit = {
          // count() is NOT pruning-prone here: the jaccard threshold
          // filter forces signatures, band join, and verify regardless
          val n = graft.ops.Dedup.minhashNearDups(
            docs, "doc_id", "text", threshold = 0.8).count()
          require(n > 0, "scaling corpus produced no near-dup pairs")
        }
        def jaccardRun(): Unit = {
          // the EXACT similarity join (prefix filtering) — a different
          // shuffle shape than minhash: df aggregation + per-doc rank
          // window + rare-key prefix self-join instead of banded LSH
          val n = graft.ops.Dedup.jaccardNearDups(
            docs, "doc_id", "text", threshold = 0.8).count()
          require(n > 0, "scaling corpus produced no exact-jaccard pairs")
        }
        def bm25Run(): Unit = {
          // sparse retrieval over the full corpus: 8 query docs, k=10;
          // count() cannot prune — scores only exist after the postings
          // shuffle, idf/query joins, and the TopK aggregation all run
          val n = graft.ops.Bm25.topK(docs, "doc_id", "text",
            docs.where(col("doc_id") < 8), "doc_id", "text", k = 10).count()
          require(n > 0, "bm25 stage returned no rows")
        }
        def curationRun(): Unit = {
          val (curated, report) = graft.ops.CurationPipeline.curate(
            docs, "doc_id", "text", "lang",
            evalSet = Some(docs.where(col("doc_id") % 997 === 0)))
          forceAll(curated)
          require(report.head._2 == nDocs, s"attrition input != corpus: $report")
        }
        def paragraphRun(): Unit = {
          // paragraph-level dedup over a 3-word chunk layout (the flat
          // word-stream corpus has no newlines — the q_paragraph_dedup
          // construction). Template-derived docs share chunks massively,
          // so the winner aggregation + ownership join see genuinely hot
          // paragraph keys — the skew shape the op is designed for.
          // forceAll: clean_text reassembly must materialize, not just
          // the counts.
          val w = split(col("text"), " ")
          val chunked = docs.select(col("doc_id"),
            array_join(transform(
              sequence(lit(0), floor((size(w) + 2) / 3).cast("int") - 1),
              i => array_join(slice(w, i * 3 + 1, lit(3)), " ")), "\n\n")
              .as("text"))
          forceAll(graft.ops.Dedup.paragraphDedup(chunked, "doc_id", "text"))
        }

        def spanRemovalRun(): Unit = {
          // char-level exact-substring span removal (Lee et al.) over the
          // full corpus: DocGen's template clusters (~10% exact + ~10%
          // 1-in-50-mutated near-dups) share long raw runs, so the
          // shared-ngram set, per-doc island merge, and kept-word
          // reassembly all do real work. forceAll: clean_text must
          // materialize, not just the run counts.
          forceAll(graft.ops.Curation.removeDupSpans(docs, "doc_id",
            "text"))
        }

        def qualityRun(): Unit = {
          // the three narrow pre-dedup filters (C4 lines, Gopher rules,
          // sliding chunks) over the q_c4_lines-style constructed line
          // layout — zero-exchange per-row plans, so this stage measures
          // pure scan+compute scaling (the shape the 100 TB first pass
          // runs before any shuffle is spent). forceAll: clean_text /
          // chunk_text reassembly must materialize, not just counts.
          val w = split(col("text"), " ")
          val nl = floor((size(w) + 3) / lit(4)).cast("int")
          val lined = docs.select(col("doc_id"),
            array_join(transform(sequence(lit(0), nl - 1),
              i => concat(array_join(slice(w, i * 4 + 1, lit(4)), " "),
                when((col("doc_id") + i) % 3 =!= 0, ".").otherwise(""))),
              "\n").as("text"))
          forceAll(graft.ops.QualityRules.c4LineFilter(lined, "doc_id",
            "text", lineBlocklist = Seq("vector"),
            docBlocklist = Seq("lorem ipsum")))
          forceAll(graft.ops.QualityRules.gopherRules(lined, "doc_id",
            "text"))
          forceAll(graft.ops.Packing.slidingChunks(docs, "doc_id", "text",
            window = 64, stride = 48))
        }

        def dsirRun(): Unit = {
          // DSIR importance weights for the full corpus against a ~1/997
          // target sample, then the top-k selection — the weights frame
          // is eagerly materialized ONCE (localCheckpoint, every doc's
          // exact weight — the production persist-then-select shape) and
          // the TakeOrderedAndProject selection reads the materialized
          // frame instead of recomputing the pipeline
          val w = graft.ops.Dsir.importanceWeights(docs, "doc_id", "text",
              docs.where(col("doc_id") % 997 === 0), "text",
              n = 2, bucketBits = 16)
            .localCheckpoint(true)
          try {
            val k = graft.ops.Dsir.selectTopK(w, 10000).count()
            require(k == 10000L, s"dsir top-k rows: $k")
          } finally w.unpersist(blocking = true)
        }

        // per-corpus tokenizer artifact: trained ONCE (driver-local over
        // the collapsed vocab, deterministic so both levels get the same
        // list) OUTSIDE the timing, like the persisted IVF/BM25 index
        // builds — the recurring production cost is the encode pass
        lazy val bpeRules =
          graft.ops.Bpe.trainLocal(docs, "text", nMerges = 32768)
        def bpeRun(): Unit = {
          // tokenizer application over the full corpus: one BpeDocIds
          // map stage (normalize + memoized per-word encode + flatten),
          // zero exchange. forceAll: the ids arrays must materialize,
          // not just the group count.
          forceAll(graft.ops.Bpe.encodeIds(docs, "doc_id", "text", bpeRules))
        }
        def packRun(): Unit = {
          // the COMPLETE trainer-feed pass: tokenize every doc to ids
          // (zero-exchange BpeDocIds) and assemble fixed-budget packed
          // rows (2048 ids, data-sized shard count). The one exchange
          // ships each pack's slices — the output's intrinsic bytes;
          // forceAll materializes the assembled id arrays.
          forceAll(graft.ops.Packing.packedRows(
            graft.ops.Bpe.encodeIds(docs, "doc_id", "text", bpeRules),
            "doc_id", "ids", budget = 2048,
            nShards = math.max(64, (nDocs / 31250L).toInt)))
        }

        def classifierRun(): Unit = {
          // the model-filter scoring pass (fastText-shaped quality
          // classifier) at a production feature dim: 2^20 features ≈ a
          // 16 MB broadcast weight table. Explode → broadcast join →
          // per-doc exact integer sums; the only shuffle is the
          // map-side-collapsed per-doc partial rows (≈ corpus row count,
          // not token count). forceAll: score/label must materialize.
          forceAll(graft.ops.Classifier.scoreJoin(docs, "doc_id", "text",
            graft.ops.Classifier.syntheticWeights(spark, 1 << 20),
            1 << 20))
        }
        def urlRun(): Unit = {
          // the URL-provenance stage over the full corpus: synthesize a
          // crawl URL per doc (arithmetic — an ODD site-name modulus so
          // the CRT makes every site pair with all 4 TLDs, and every 7th
          // doc forced onto ONE mega-domain, site0.com, so the cap meets
          // genuine 1/7-of-corpus skew), then blocklist + per-domain cap
          // with the domain derived ONCE and passed through (the
          // precomputed seam — re-deriving the normalize chain per stage
          // multiplies the family's measured per-row cost center). The
          // TopK partials collapse hot domains map-side; the restore
          // join is keyed on (domain, id) so the mega-domain spreads
          // across reducers.
          import spark.implicits._
          val id = col("doc_id")
          val mega = id % 7 === 0
          val nSites = math.max(3L, nDocs / 250L) | 1L
          val site = when(mega, lit(0L)).otherwise(id % nSites)
          val tld = when(mega, lit(".com")).otherwise(
            element_at(array(lit(".com"), lit(".org"), lit(".co.uk"),
              lit(".de")), (id % 4 + 1).cast("int")))
          val urls = docs.select(id, concat(
            lit("https://"), when(id % 3 === 0, "www.").otherwise(""),
            lit("site"), site.cast("string"), tld,
            lit("/p/"), id.cast("string"),
            when(id % 6 === 0, "?utm=1").otherwise("")).as("url"))
            .withColumn("dom",
              graft.ops.UrlCuration.urlDomain(col("url")))
          val blocked = Seq("site1.com", "site2.co.uk").toDF("domain")
          val afterBlock = graft.ops.UrlCuration.blockDomains(urls, "url",
            blocked, precomputed = Some("dom"))
          val n = graft.ops.UrlCuration.domainCap(afterBlock,
            "url", "doc_id", cap = 100, precomputed = Some("dom")).count()
          // nSites odd ⇒ CRT guarantees site1.com / site2.co.uk exist in
          // the input, so the blocklist provably removes rows; the cap
          // binds on the mega-domain — together n must be well inside
          // (0, nDocs)
          require(n > 0 && n < nDocs - nDocs / 8,
            s"url stage: cap/blocklist did not bind ($n of $nDocs kept)")
        }

        // fetch-permission decision over the full corpus: same URL
        // synthesis as the url stage (odd site modulus, the every-7th
        // mega-host), robots bodies per HOST in 3 variants — two
        // literal-rule files (the kernel's startsWith probes, the
        // real-world majority) and one wildcard/$ file (its regex
        // path). Host count scales with the corpus at the real
        // web's ~250 docs/host ratio by default; SPARK_GRAFT_ROBOTS_HOSTS
        // pins it (the decomposition knob).
        object robotsFix {
          val id = col("doc_id")
          val mega = id % 7 === 0
          // |1 applies to the DEFAULT only — a pinned value is used
          // verbatim (an even pin silently becoming odd was a review
          // finding); site's TLD derives from the SITE id on both the
          // URL and the robots side, so every URL host has a robots row
          // (the first cut derived the URL TLD from doc_id%4 and
          // silently measured 75% no-robots default-allow lookups)
          val nSites = sys.env.get("SPARK_GRAFT_ROBOTS_HOSTS")
            .map(_.toLong)
            .getOrElse(math.max(3L, nDocs / 250L) | 1L)
          require(nSites >= 1, s"SPARK_GRAFT_ROBOTS_HOSTS: $nSites")
          val site = when(mega, lit(0L)).otherwise(id % nSites)
          val tld = when(mega, lit(".com")).otherwise(
            element_at(array(lit(".com"), lit(".org"), lit(".co.uk"),
              lit(".de")), (site % 4 + 1).cast("int")))
          val path = concat(lit("/p/"), id.cast("string"),
            when(id % 6 === 0, "?utm=1").otherwise(""))
          def urls = docs.select(id, concat(
            lit("https://"), when(id % 3 === 0, "www.").otherwise(""),
            lit("site"), site.cast("string"), tld, path).as("url"),
            // robots_pre's columns: host/path by ARITHMETIC — what a
            // pipeline that already ran the URL stage carries, vs
            // re-deriving the regex chains per row
            concat(lit("site"), site.cast("string"), tld).as("host_pre"),
            path.as("path_pre"))
          def hosts = spark.range(nSites).select(concat(lit("site"),
              col("id"), element_at(array(lit(".com"), lit(".org"),
                lit(".co.uk"), lit(".de")), (col("id") % 4 + 1).cast("int")))
              .as("host"))
          def robots = hosts.withColumn("robots_txt",
            when(pmod(length(col("host")), lit(3)) === 0, lit(
              "User-agent: *\nDisallow: /p/1\nAllow: /p/12\n"))
              .when(pmod(length(col("host")), lit(3)) === 1, lit(
                "User-agent: graftbot\nDisallow: /p/*3$\n\n" +
                  "User-agent: *\nDisallow: /\n"))
              .otherwise(lit(
                "User-agent: *\nDisallow: /p/*?utm=1\n")))
          def rules = graft.ops.RobotsTxt.parseRules(robots)
          // The steady-state artifact: robots tables change on crawl
          // cadence, so a production pass parses + collects + compiles
          // ONCE per job, then applies the table to the 100 TB corpus.
          // lazy ⇒ built on the warmup call, outside every timed region
          // (the BpeEncode trained-merge-list precedent).
          lazy val table = graft.ops.RobotsTxt.ruleTable(rules, "graftbot")
        }
        def robotsCheck(out: DataFrame): Unit = {
          val chk = out.agg(count(lit(1)).as("n"),
            sum(when(col("allowed"), 1L).otherwise(0L)).as("ok")).head()
          require(chk.getLong(0) == nDocs, "robots: row count off")
          require(chk.getLong(1) > 0 && chk.getLong(1) < nDocs,
            s"robots: decision did not bind (${chk.getLong(1)} of $nDocs)")
        }
        def robotsRun(): Unit =
          // e2e: parse + agent selection + derivation + decision per
          // call — what a one-shot compliance audit pays
          robotsCheck(graft.ops.RobotsTxt.isAllowed(robotsFix.urls, "url",
            robotsFix.rules, "graftbot"))
        def robotsPreRun(): Unit =
          // steady state: prepared rule table + precomputed host/path —
          // the corpus-proportional work ONLY (scan → one codegen'd
          // projection, no join; RobotsTxtSpec plan gate)
          robotsCheck(robotsFix.urls.withColumn("allowed",
            graft.expr.RobotsDecide.robots_decide(col("path_pre"),
              col("host_pre"), robotsFix.table)))

        def pagerankRun(): Unit = {
          // domain-centrality power iteration over a synthesized link
          // graph: one site per ~10 docs (node count grows with the
          // corpus — the production regime where the ranks frame is NOT
          // a broadcastable dimension), three deterministic out-links
          // per doc, and every 7th doc's second link aimed at ONE
          // mega-hub (s0) so the per-iteration dst-keyed sum sees
          // genuine 1/7-of-corpus in-degree skew — the map-side partial
          // collapse is what keeps that from becoming a reducer funnel.
          // 5 iterations ⇒ the timed job is dominated by the iteration
          // joins, not the one-off edge/node/outdeg preparation.
          val id = col("doc_id")
          val nSites = math.max(1000L, nDocs / 10L) | 1L
          def site(c: org.apache.spark.sql.Column) =
            concat(lit("s"), (c % nSites).cast("string"))
          val e = docs.select(site(id).as("src"),
              site(id * 37 + 11).as("dst"))
            .unionByName(docs.select(site(id).as("src"),
              when(id % 7 === 0, lit("s0"))
                .otherwise(site(id * 53 + 29)).as("dst")))
            .unionByName(docs.select(site(id).as("src"),
              site(id * 101 + 67).as("dst")))
          // SPARK_GRAFT_PR_ITERS: diagnostic knob — pairing runs at two
          // iteration counts separates the one-off prepare phase from the
          // per-round cost (t = prep + iters × round) per parallelism level
          val iters = sys.env.get("SPARK_GRAFT_PR_ITERS")
            .map(_.toInt).getOrElse(5)
          val ranks = graft.ops.LinkGraph.pageRank(e, "src", "dst", iters)
          try {
            val n = ranks.count()
            require(n >= nSites - 1 && n <= nSites,
              s"pagerank: node count $n outside [${nSites - 1}, $nSites]")
          } finally ranks.unpersist(blocking = true)
        }

        def crawlRun(): Unit = {
          // the complete CRAWL ENTRY pass, composed end-to-end: synthetic
          // HTML pages (doc text wrapped in markup + a script block + a
          // comment + THREE anchors) → htmlToText extraction with the
          // density signal → href → registrable-domain link graph →
          // 3-round exact-integer PageRank → domain-rank LEFT join back
          // onto every extracted doc. Skew is two-sided and DECORRELATED
          // (the url-bench lesson — correlated moduli silently kill a
          // skew population): every 7th doc LIVES on the mega-domain
          // site0.com (1/7 of the corpus behind one registrable domain —
          // the rankDocs probe-side hot key), while every 5th doc LINKS
          // to site0.com (the in-degree hub the inflow partials must
          // collapse). One action forces every output column (the hash)
          // and proves no doc lost its rank (all page domains appear as
          // link sources, so NULL ranks would be a join bug).
          val id = col("doc_id")
          val nSites = math.max(1000L, nDocs / 10L) | 1L
          val site = when(id % 7 === 0, lit(0L)).otherwise(id % nSites)
          def target(mult: Long, add: Long) = concat(lit("https://site"),
            ((id * mult + add) % nSites).cast("string"),
            lit(".com/p/"), id.cast("string"))
          val url = concat(lit("https://site"), site.cast("string"),
            lit(".com/p/"), id.cast("string"))
          val html = concat(
            lit("<html><head><title>d</title><script>var x=1;</script>" +
              "</head><body><p>"),
            col("text"),
            lit("</p><a href=\""), target(37, 11),
            lit("\">a</a><a href=\""),
            when(id % 5 === 0, lit("https://site0.com/hub"))
              .otherwise(target(53, 29)),
            lit("\">b</a><a href=\""), target(101, 67),
            lit("\">c</a><!-- nav chrome --></body></html>"))
          val pages = docs.select(id, url.as("url"), html.as("html"))
          val txt = graft.ops.TextExtract.htmlExtract(
            pages, "doc_id", "html", keep = Seq("url"))
          val edges = graft.ops.LinkGraph.domainEdges(pages, "url", "html")
          val ranks = graft.ops.LinkGraph.pageRank(edges, "src", "dst",
            iters = 3)
          val enriched = graft.ops.LinkGraph.rankDocs(txt, "url", ranks)
          val chk = enriched.select(
              xxhash64(enriched.columns.map(col): _*).as("h"),
              col("rank_micro"))
            .agg(bit_xor(col("h")).as("x"), count(lit(1)).as("n"),
              sum(when(col("rank_micro").isNull, 1L).otherwise(0L))
                .as("unranked"))
            .head()
          require(chk.getLong(1) == nDocs && chk.getLong(2) == 0L,
            s"crawl: ${chk.getLong(1)} rows, ${chk.getLong(2)} unranked")
        }

        def warcRun(): Unit = {
          // the TRUE-format entry: a real on-disk WARC corpus (64 files —
          // the Common Crawl execution model, parallelism per FILE) parsed
          // by the all-relational record/envelope split, then the full
          // htmlToText extraction. The fixture is written ONCE, untimed
          // (imperative per-partition file writes are fixture plumbing,
          // not the operator — the reader under test is pure DataFrame).
          val dir = s"$corpusDir-warc"
          if (!new java.io.File(s"$dir/_SUCCESS").exists()) {
            new java.io.File(dir).mkdirs()
            val id = col("doc_id")
            val rec = graft.sources.WetSource.renderResponse(
              concat(lit("https://site"), (id % 9973L).cast("string"),
                lit(".com/p/"), id.cast("string")),
              lit("2024-03-01 00:00:00").cast("timestamp"),
              concat(lit("<html><head><script>var x=1;</script></head>" +
                "<body><p>"), col("text"),
                lit("</p><!-- chrome --></body></html>")))
            docs.select(rec.as("r")).repartition(64)
              .selectExpr("r").as(org.apache.spark.sql.Encoders.STRING)
              .foreachPartition { (it: Iterator[String]) =>
                val p = java.nio.file.Paths.get(dir,
                  f"part-${org.apache.spark.TaskContext.getPartitionId()}%05d.warc")
                val w = java.nio.file.Files.newBufferedWriter(p,
                  java.nio.charset.StandardCharsets.UTF_8)
                try it.foreach(w.write) finally w.close()
              }
            java.nio.file.Files.createFile(
              java.nio.file.Paths.get(dir, "_SUCCESS"))
          }
          val parsed = graft.sources.WetSource.readWarcHtml(spark, dir)
          val ext = graft.ops.TextExtract.htmlExtract(parsed,
            "record_idx", "html", keep = Seq("source_file", "url",
              "http_status", "length_ok"))
          val chk = ext.select(
              xxhash64(ext.columns.map(col): _*).as("h"),
              col("length_ok"), col("http_status"))
            .agg(count(lit(1)).as("n"),
              sum(when(col("length_ok") && col("http_status") === 200,
                0L).otherwise(1L)).as("bad"),
              bit_xor(col("h")).as("x"))
            .head()
          require(chk.getLong(0) == nDocs && chk.getLong(1) == 0L,
            s"warc: ${chk.getLong(0)} rows, ${chk.getLong(1)} bad records")
        }

        // boilerplate-injected corpus for the heavy-hitters stages: every
        // 20th doc gains a constant nav/cookie sentence — the population
        // topNgrams exists to find (and the skew the Misra-Gries proof
        // needs: ~50k occurrences vs the N/(m+1) ≈ 1.7k error bound)
        def boiler = docs.withColumn("text",
          when(col("doc_id") % 20 === 0, concat(col("text"),
            lit(" accept all cookies to continue reading this site" +
              " subscribe to our newsletter for daily updates follow" +
              " us on social media all rights reserved terms of" +
              " service privacy policy contact the editorial team")))
            .otherwise(col("text")))
        def hotNgramsRun(): Unit = {
          // two bounded scans: Misra-Gries sketch partials (≤ capacity
          // entries per task cross the wire — NEVER the distinct-trigram
          // key space) + the exact recount of ≤ capacity candidates,
          // with the completeness proof (refuses rather than return an
          // unprovable top-k)
          val top = graft.ops.Curation.topNgramsSketch(boiler, "text",
            n = 3, k = 20, capacity = 65536, minCount = 2)
          require(top.count() == 20, "hotngrams: expected a full top-20")
        }
        def hotNgramsExactRun(): Unit = {
          // the contrast row: the brute-force groupBy ships one row per
          // DISTINCT trigram — the key-space shuffle the sketch avoids
          val top = graft.ops.Curation.topNgrams(boiler, "text",
            n = 3, k = 20, minCount = 2)
          require(top.count() == 20, "hotngrams_exact: expected a top-20")
        }

        val io = new IoListener
        spark.sparkContext.addSparkListener(io)
        // jaccard/bm25 are OPT-IN (same rationale as AnnScalingBench's
        // semdedup): the published minhash/curate table was measured on
        // the 2-stage default, and extra stages between them would change
        // JVM/page-cache state for the curation timing and double the
        // calm-window length this box's protocol depends on
        // degenerate hot-bucket cap stress (opt-in): 5/6 of the rows in
        // ONE bucket — the population the cap exists to defuse. The
        // sort-free threshold cap must finish with bounded per-task work.
        val nCap = sys.env.get("SPARK_GRAFT_CAPSTRESS_ROWS").map(_.toLong)
          .getOrElse(12000000L)
        def capDf = spark.range(nCap).select(
          when(col("id") % 6 =!= 0, lit(0L))
            .otherwise(pmod(xxhash64(col("id")), lit(1000000L)) + 1L)
            .as("bucket"),
          xxhash64(col("id"), lit(7)).as("rid"),
          col("id").as("payload"))
        def capCheck(kept: DataFrame): Unit = {
          val a = kept.agg(count(lit(1)).as("n"),
            count_if(col("bucket") === 0L).as("hot")).head()
          require(a.getLong(1) == 2048L,
            s"hot bucket kept ${a.getLong(1)} rows, expected cap 2048")
          require(a.getLong(0) < nCap, "cap did not drop anything")
        }
        def capstressRun(): Unit =
          capCheck(graft.ops.Dedup.capBucketsBy(
            capDf, Seq("bucket"), "rid", 2048, None))
        def capstressShuffleRun(): Unit = {
          // bandwidth control: the SAME rows through a uniform-key
          // exchange with no cap logic at all — isolates the box's
          // shuffle-bandwidth floor from the cap's own work
          val a = capDf.repartition(col("rid"))
            .agg(count(lit(1)).as("n"), sum(col("payload")).as("s")).head()
          require(a.getLong(0) == nCap, "control lost rows")
        }

        val default = Set("minhash", "curation")
        val stages = Seq("minhash" -> (() => minhashRun()),
          "jaccard" -> (() => jaccardRun()),
          "bm25" -> (() => bm25Run()),
          "curation" -> (() => curationRun()),
          "paragraph" -> (() => paragraphRun()),
          "spanremoval" -> (() => spanRemovalRun()),
          "quality" -> (() => qualityRun()),
          "dsir" -> (() => dsirRun()),
          "bpe" -> (() => bpeRun()),
          "pack" -> (() => packRun()),
          "classifier" -> (() => classifierRun()),
          "url" -> (() => urlRun()),
          "robots" -> (() => robotsRun()),
          "robots_pre" -> (() => robotsPreRun()),
          "pagerank" -> (() => pagerankRun()),
          "crawl" -> (() => crawlRun()),
          "warc" -> (() => warcRun()),
          "hotngrams" -> (() => hotNgramsRun()),
          "hotngrams_exact" -> (() => hotNgramsExactRun()),
          "capstress" -> (() => capstressRun()),
          "capstress_shuffle" -> (() => capstressShuffleRun()))
          .filter { case (name, _) =>
            if (stageSet.isEmpty) default(name) else stageSet(name) }
        require(stages.nonEmpty, s"no stage matches $stageSet")
        stages.map { case (name, f) =>
          f() // full-size warm: codegen + classloading outside the timing
          // release the finished run's shuffle files NOW (ContextCleaner
          // acts on GC): at 10M docs each minhash/curation execution
          // leaves tens of GB of shuffle files that otherwise accumulate
          // until the app exits — measured OOM-killing the paired 10M run
          // when spark.local.dir sat on tmpfs
          System.gc()
          io.reset()
          val s1 = time(f())
          org.apache.spark.sql.GraftBridge.waitListenerBusEmpty(spark.sparkContext)
          val bytes = (io.input.get, io.shufWrite.get, io.shufRead.get)
          System.gc()
          val s2 = time(f())
          name -> (math.min(s1, s2), bytes)
        }.toMap
      } finally spark.stop()
    }

    def fmt(cores: Int, r: Map[String, (Double, (Long, Long, Long))]): String =
      r.toSeq.sortBy(_._1).map { case (name, (sec, (in, sw, sr))) =>
        f""""$name":{"sec":$sec%.2f,"docs_per_sec":${nDocs / sec}%.0f,"input_bytes":$in,"shuffle_write_bytes":$sw,"shuffle_read_bytes":$sr}"""
      }.mkString(s"""{"cores":$cores,""", ",", "}")

    if (lo == hi) {
      // single-level mode: one parallelism level per (fresh) JVM — see
      // ScalingBench for why measuring both levels in one JVM is dishonest
      println(s"""{"metric":"curation_throughput","docs":$nDocs,"level":${fmt(lo, run(lo))}}""")
    } else {
      val rLo = run(lo)
      val rHi = run(hi)
      val effs = rLo.keys.map { k =>
        val e = (rLo(k)._1 / rHi(k)._1) / (hi.toDouble / lo)
        f""""$k":$e%.3f"""
      }.mkString("{", ",", "}")
      println(s"""{"metric":"curation_scaling","docs":$nDocs,"eff":$effs,"lo":${fmt(lo, rLo)},"hi":${fmt(hi, rHi)}}""")
    }
  }
}
