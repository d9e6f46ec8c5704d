package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph construction + PageRank centrality — the provenance-quality
  * signal the published crawl pipelines compute BETWEEN extraction and
  * filtering: Common Crawl publishes host/domain-level rank tables, and
  * URL-quality stages (RefinedWeb-style) threshold on them. Two pieces:
  *
  *  - [[extractLinks]]: pull `<a href=…>` targets out of raw HTML with the
  *    same RE2-compatible, codegen'd regex discipline as
  *    [[TextExtract.htmlToText]] (zero exchanges, oracle replays the
  *    pattern verbatim). [[domainEdges]] lifts hrefs to the registrable-
  *    domain graph via [[UrlCuration.urlDomain]].
  *
  *  - [[pageRank]]: power iteration in EXACT integer micro-units — the
  *    library's quantization convention — so ranks are long sums +
  *    integer divisions: order-independent, partitioning-invariant, and
  *    bit-replayable in the SQL oracle (a float PageRank could never
  *    hash-compare across engines). Per iteration, with damping d in
  *    micro-units (default 850000 = the canonical 0.85):
  *
  *      share(u)  = (d · r(u)) div 1e6 div outdeg(u)
  *      r'(v)     = (1e6 − d) + Σ_{u→v} share(u)
  *
  *    Fixed-point flavor notes (all deliberate, all replayed by the
  *    oracle): floor division leaks ≤ outdeg(u) micro-units per node per
  *    round (exactness beats conservation for a replayable rank);
  *    dangling nodes (outdeg 0) keep receiving but forward nothing —
  *    their mass leaves the system rather than being redistributed (the
  *    truncated-sink convention; redistribution would add an all-nodes
  *    broadcast term per round for a signal used only ordinally).
  *
  * Scale shape (100 TB crawl → 10^8–10^9 domains, 10^10+ edges): the
  * edge set is clustered by `src` ONCE, the node set by `node`, and
  * out-degrees inherit the edge clustering for free — all three are
  * localCheckpointed (which preserves their `outputPartitioning`), so
  * every per-iteration join is CO-PARTITIONED: ranks(node)⋈outdeg(src),
  * edges(src)⋈shares(src), and nodes(node)⋈inflow(dst) all run with
  * zero exchange, and the 10^10-edge frame is NEVER re-shuffled. The
  * one exchange per round is the dst-keyed inflow sum, whose map-side
  * partials collapse hot in-degree hubs before the wire — never a
  * per-node funnel. The iteration joins carry SHUFFLE_HASH hints
  * because every frame in the loop is node-scale (grows with the
  * graph): letting Catalyst broadcast them is exactly wrong at scale,
  * and was the measured 2→8-core scaling limiter at bench scale (eff
  * 0.45 at 4M docs / 400k nodes — 5 rounds × 3 driver-side broadcast
  * builds that grow with the node count; see BASELINE.md). A
  * mega-OUT-degree hub clusters its edges into one partition — one
  * task streams them through the hash lookup, linear and spill-free;
  * mega-IN-degree skew never travels (partials). Each round's ranks
  * frame is checkpointed so the plan stays flat at any iteration count
  * (the [[Dedup.connectedComponentsStar]] lesson). O(iters) passes over
  * the edge list is the canonical distributed PageRank — no driver-side
  * state beyond loop control.
  *
  * Exactness bound: shares multiply the rank by d ≤ 1e6 before dividing,
  * so a node's rank must stay ≤ Long.MaxValue/1e6 ≈ 9.2e12 micro-units
  * (≈ 9.2M fully-concentrated nodes' worth of mass on ONE node — beyond
  * any real link graph). The iteration raise_errors rather than silently
  * overflowing, per the library's fail-on-data-bugs convention.
  */
object LinkGraph {

  /** Micro-unit scale: initial rank of every node. */
  val RankUnit: Long = 1000000L

  /** Largest rank the exact share arithmetic can damp without overflow. */
  val MaxSafeRank: Long = Long.MaxValue / RankUnit

  /** `<a href=…>` target extraction: case-insensitive, both quote styles,
    * attributes before href allowed, capture stops at the closing quote
    * OR a `#` (fragments never reach the URL key — fragment-only anchors
    * like `href="#top"` therefore don't match at all and are dropped,
    * exactly the rows a link graph should not contain). Lazy `[^>]*?` and
    * no backreferences/lookaround — RE2-compatible, so the DuckDB oracle
    * replays the pattern verbatim. Output: one `(idCol, href)` row per
    * anchor occurrence (duplicates preserved — weighting is the caller's
    * call; [[domainEdges]] collapses them).
    */
  val HrefPattern: String =
    "(?i)<a\\b[^>]*?\\bhref\\s*=\\s*[\"']([^\"'#]+)"

  def extractLinks(df: DataFrame, idCol: String, htmlCol: String): DataFrame = {
    require(df.columns.contains(idCol), s"missing input column: $idCol")
    require(df.columns.contains(htmlCol), s"missing input column: $htmlCol")
    df.select(col(idCol),
      explode(regexp_extract_all(col(htmlCol), lit(HrefPattern), lit(1)))
        .as("href"))
  }

  /** `<a href=…>TEXT</a>` pairs: like [[HrefPattern]] (case-insensitive,
    * both quote styles, fragment truncated from the capture) but the
    * whole element must close, and group 2 is the PLAIN inner text —
    * `[^<]*`, so anchors wrapping nested markup (`<a><b>x</b></a>`) are
    * NOT extracted (their text is chrome more often than signal; the
    * conservative miss is documented and spec-pinned). RE2-compatible,
    * replayed verbatim by the oracle.
    */
  val AnchorPattern: String =
    "(?i)<a\\b[^>]*?\\bhref\\s*=\\s*[\"']([^\"'#]+)[^\"']*[\"'][^>]*>([^<]*)</a>"

  /** Anchor-TEXT profile per target domain — the classic off-page
    * relevance/quality signal (what OTHER sites call a domain; the
    * published anchor-text datasets over Common Crawl are exactly this
    * rollup): `(domain, term, cnt)` over the normalized words of every
    * EXTERNAL anchor pointing at the domain. Self-domain anchors (site
    * navigation — the overwhelming majority, and pure boilerplate) are
    * dropped, same rule as [[domainEdges]].
    *
    * Scale shape: extraction is a narrow codegen'd projection (two
    * `regexp_extract_all` passes over the same pattern — group 1 and
    * group 2 — zipped positionally, so href/text alignment is by the
    * regex engine, not a parse); the ONE exchange is the (domain, term)
    * partial aggregation — repeated boilerplate anchors ("click here")
    * collapse map-side before shipping. For a bounded corpus-wide top-k
    * instead of the full profile, feed this through
    * [[Curation.topNgramsSketch]]'s Misra-Gries machinery.
    */
  def anchorTerms(df: DataFrame, urlCol: String, htmlCol: String): DataFrame = {
    require(df.columns.contains(urlCol), s"missing input column: $urlCol")
    require(df.columns.contains(htmlCol), s"missing input column: $htmlCol")
    val hrefs = regexp_extract_all(col(htmlCol), lit(AnchorPattern), lit(1))
    val texts = regexp_extract_all(col(htmlCol), lit(AnchorPattern), lit(2))
    df.select(UrlCuration.urlDomain(col(urlCol)).as("_at_src"),
        explode(zip_with(hrefs, texts, (h, a) =>
          struct(h.as("href"), a.as("anchor")))).as("_at_a"))
      // Only an href with a scheme names another site: a RELATIVE href is
      // same-site navigation ("/x" derives domain "", "page.html" a bogus
      // host-shaped one), and a protocol-relative "//host/…" href is
      // excluded too (`urlDomain` strips only "scheme://"; so does the
      // DuckDB oracle).
      .where(col("_at_a.href").rlike("^(?i)[a-z][a-z0-9+.-]*://"))
      .select(col("_at_src"),
        UrlCuration.urlDomain(col("_at_a.href")).as("domain"),
        col("_at_a.anchor").as("_at_anchor"))
      .where(col("domain").isNotNull && col("domain") =!= "" &&
        col("domain") =!= col("_at_src"))
      .select(col("domain"),
        explode(Curation.normWords(col("_at_anchor"))).as("term"))
      .groupBy("domain", "term").agg(count(lit(1)).as("cnt"))
  }

  /** Registrable-domain edge set from documents carrying their own URL and
    * raw HTML: `(src, dst)` distinct, self-links (intra-domain navigation
    * — the overwhelming majority of anchors on a real page) dropped.
    * Relative hrefs (no scheme, no dot in the first path segment) resolve
    * to the SOURCE domain and are therefore self-links too; they fall out
    * of the same filter without special-casing.
    */
  def domainEdges(df: DataFrame, urlCol: String, htmlCol: String): DataFrame = {
    require(df.columns.contains(urlCol), s"missing input column: $urlCol")
    val links = extractLinks(df.select(col(urlCol), col(htmlCol)),
      urlCol, htmlCol)
    links.select(
        UrlCuration.urlDomain(col(urlCol)).as("src"),
        UrlCuration.urlDomain(col("href")).as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
  }

  /** Exact-integer PageRank over an edge LIST (deduped + self-loops
    * dropped internally, so callers may pass raw extraction output).
    * Returns `(node, rank_micro)` for every node that appears as a source
    * or target. Node column keeps its input type (string domains, long
    * ids — both fine; the arithmetic never touches it).
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int, dampingMicro: Long = 850000L): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    require(dampingMicro >= 0L && dampingMicro <= RankUnit,
      s"dampingMicro must be in [0, $RankUnit]: $dampingMicro")
    val (e, nodes, outdeg) = prepare(edges, srcCol, dstCol)
    iterate(e, nodes, outdeg,
      nodes.select(col("node"), lit(RankUnit).as("rank_micro")),
      iters, dampingMicro)
  }

  /** Warm-started refresh — the lifecycle op a continuously-crawled graph
    * runs instead of a cold restart (the incremental-index convention:
    * [[Dedup.minhashNearDupsAgainst]], [[Bm25]]/[[Ivf]] append+compact):
    * continue the power iteration from a stored `(node, rank_micro)`
    * frame over the CURRENT edge set. Semantics are exact and composable:
    * with an unchanged edge set, `pageRankFrom(e, pageRank(e, a), b)`
    * is bit-equal to `pageRank(e, a + b)` (spec-gated; `q_pagerank_resume`
    * hash-compares the composition against the one-shot oracle). With
    * appended edges, nodes NEW to the graph enter at the cold-start
    * rank ([[RankUnit]]), nodes no longer present drop out (the node set
    * is always derived from the current edges), and the iteration count
    * states exactly how many rounds the old mass has relaxed toward the
    * new topology — a deliberate warm START, not a claim that k rounds
    * from stale ranks equal a full recompute.
    *
    * Scale shape: identical to [[pageRank]] (the alignment join is ONE
    * extra node-scale co-partitioned join before the loop; `ranks0` is
    * hinted SHUFFLE_HASH like every node-scale frame here).
    */
  def pageRankFrom(edges: DataFrame, srcCol: String, dstCol: String,
                   ranks0: DataFrame, iters: Int,
                   dampingMicro: Long = 850000L): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    require(dampingMicro >= 0L && dampingMicro <= RankUnit,
      s"dampingMicro must be in [0, $RankUnit]: $dampingMicro")
    require(ranks0.columns.contains("node") &&
      ranks0.columns.contains("rank_micro"),
      s"ranks0 must be a pageRank output (node, rank_micro): got ${ranks0.columns.mkString(", ")}")
    val (e, nodes, outdeg) = prepare(edges, srcCol, dstCol)
    val warm = withAqeOff(edges) {
      nodes.join(guardedRankTable(ranks0, "pageRankFrom").hint("shuffle_hash"),
          Seq("node"), "left")
        .select(col("node"),
          coalesce(col("rank_micro"), lit(RankUnit)).as("rank_micro"))
        .localCheckpoint(true)
    }
    iterate(e, nodes, outdeg, warm, iters, dampingMicro)
  }

  /** Stored-rank-table hygiene, in-plan (no extra action; the aggregate
    * rides the exchange the consuming SHUFFLE_HASH join needs anyway): a
    * duplicate `node` would silently DOUBLE that node's mass in
    * [[pageRankFrom]] and silently duplicate matched doc rows in
    * [[rankDocs]] — poisonous exactly where the table feeds dedup — and a
    * NULL rank would silently read as a cold start. Both raise instead,
    * per the fail-on-data-bugs convention ([[AsOfJoin]]'s duplicate
    * snapshot instants).
    */
  private def guardedRankTable(ranks: DataFrame, op: String): DataFrame =
    ranks.select(col("node"), col("rank_micro"))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("_n"), min(col("rank_micro")).as("_r"))
      .select(col("node"),
        when(col("_n") > 1L, raise_error(concat(
            lit(s"$op: duplicate node in the rank table: "),
            col("node").cast("string"))))
          .when(col("_r").isNull, raise_error(concat(
            lit(s"$op: NULL rank_micro in the rank table at node: "),
            col("node").cast("string"))))
          .otherwise(col("_r")).as("rank_micro"))

  private def iterate(e: DataFrame, nodes: DataFrame, outdeg: DataFrame,
                      ranks0: DataFrame, iters: Int,
                      dampingMicro: Long): DataFrame = {
    var ranks = ranks0
    var i = 0
    while (i < iters) {
      ranks = withAqeOff(e) {
        step(ranks, e, outdeg, nodes, dampingMicro).localCheckpoint(true)
      }
      i += 1
    }
    ranks
  }

  /** Attach the domain-centrality rank to a document corpus — the
    * provenance prior the published crawl pipelines threshold on (Common
    * Crawl ships exactly this domain-rank table; RefinedWeb-style URL
    * stages consume it): derive the registrable domain from `urlCol` via
    * the [[UrlCuration.urlDomain]] chain (or take an existing column via
    * `precomputed`, the [[UrlCuration.blockDomains]] convention — derive
    * once, pass it through a composed pipeline), then LEFT-join the
    * (node, rank_micro) [[pageRank]] output on it. Documents whose domain
    * never entered the link graph keep a NULL `rank_micro`: absence is
    * information (unknown provenance), and fabricating the dangling-floor
    * value would make unknown domains indistinguishable from real sinks.
    * Output: the input columns + `domain` (only when derived here) +
    * `rank_micro`.
    *
    * Scale shape: doc-scale ⋈ node-scale on the domain key. At crawl
    * scale the rank table (10^8–10^9 domains × ~30 B) is past any sane
    * broadcast budget, so the join carries a SHUFFLE_HASH hint with the
    * rank table as build side (plan-gated in LinkGraphSpec). Mega-domains
    * (the bench corpus puts 1/7 of all docs behind ONE registrable
    * domain) put all their PROBE rows in one partition, where they
    * stream through the hash lookup linearly — build-side entries per
    * key stay 1, so the hot key costs scan time, never memory — and
    * AQE's skew-join split applies on top when enabled.
    */
  def rankDocs(docs: DataFrame, urlCol: String, ranks: DataFrame,
               precomputed: Option[String] = None): DataFrame = {
    require(ranks.columns.contains("node") &&
      ranks.columns.contains("rank_micro"),
      s"ranks must be a pageRank output (node, rank_micro): got ${ranks.columns.mkString(", ")}")
    require(!docs.columns.contains("rank_micro"),
      "input may not contain the output column rank_micro")
    require(!docs.columns.contains("_rk_node"),
      "input may not contain the internal column _rk_node")
    precomputed.foreach(c => require(docs.columns.contains(c),
      s"missing precomputed domain column: $c"))
    val withDom = precomputed match {
      case Some(_) => docs
      case None =>
        require(docs.columns.contains(urlCol),
          s"missing input column: $urlCol")
        require(!docs.columns.contains("domain"),
          "input already has a domain column — pass precomputed = Some(\"domain\")")
        docs.withColumn("domain", UrlCuration.urlDomain(col(urlCol)))
    }
    val domCol = precomputed.getOrElse("domain")
    withDom.join(
        guardedRankTable(ranks, "rankDocs")
          .withColumnRenamed("node", "_rk_node")
          .hint("shuffle_hash"),
        col(domCol) === col("_rk_node"), "left")
      .drop("_rk_node")
  }

  /** `Dataset.localCheckpoint` snapshots `physicalPlan.outputPartitioning`
    * into the checkpointed frame — but under AQE the plan root is an
    * AdaptiveSparkPlanExec, which reports UnknownPartitioning, so the
    * clustering the iteration depends on silently vanishes and every
    * round re-shuffles all three frames (verified by the LinkGraphSpec
    * plan gate). Fix: plan the checkpoint queries with AQE off —
    * save/restore around the eager materialization. Nothing is lost:
    * these plans have at most ONE exchange and their skew collapses in
    * map-side partials, which is not AQE territory.
    */
  private def withAqeOff[A](df: DataFrame)(body: => A): A = {
    val conf = df.sparkSession.conf
    val key = "spark.sql.adaptive.enabled"
    val prev = conf.get(key, "true")
    conf.set(key, "false")
    try body finally conf.set(key, prev)
  }

  /** One-off iteration inputs, each clustered by its per-round join key
    * and localCheckpointed (preserving the partitioning — the whole
    * point): edges by `src` (the repartition feeds the dedup aggregate,
    * which reuses the clustering — one exchange, not two — and keeps
    * it), nodes by `node` (the distinct's own exchange), out-degrees by
    * `src` (zero exchange — computed on the clustered edge frame).
    */
  private[ops] def prepare(edges: DataFrame, srcCol: String,
                           dstCol: String): (DataFrame, DataFrame, DataFrame) =
      withAqeOff(edges) {
    val e = edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .repartition(col("src"))
      .distinct()
      .localCheckpoint(true)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint(true)
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      .localCheckpoint(true)
    (e, nodes, outdeg)
  }



  /** One power-iteration round, exposed so the spec can drive it with a
    * poisoned ranks frame (the overflow guard is unreachable from real
    * small-graph inputs). `ranks`/`nodes` are (node[, …]) frames, `e` the
    * cleaned edge set, `outdeg` keyed by `src`.
    */
  private[ops] def step(ranks: DataFrame, e: DataFrame, outdeg: DataFrame,
                        nodes: DataFrame, dampingMicro: Long): DataFrame = {
    val guarded = when(col("rank_micro") > MaxSafeRank,
      raise_error(concat(
        lit(s"pageRank: rank exceeds the exact-arithmetic bound ($MaxSafeRank micro-units) at node "),
        col("node").cast("string"))))
      .otherwise(col("rank_micro"))
    // node-scale co-partitioned join (node≡src clustering): rank +
    // out-degree per SOURCE node (dangling nodes drop out here — they
    // forward nothing). SHUFFLE_HASH: node-scale frames must never
    // broadcast (see the scale-shape note above).
    val shares = ranks.select(col("node"), guarded.as("rank_micro"))
      .join(outdeg.hint("shuffle_hash"), col("node") === col("src"))
      .select(col("src"),
        expr(s"${dampingMicro}L * rank_micro div ${RankUnit}L div outdeg")
          .as("share"))
    // edge-scale co-partitioned join (both clustered by src) + the
    // round's ONE exchange: the map-side-combining sum keyed by target
    val inflow = e.join(shares.hint("shuffle_hash"), "src")
      .groupBy(col("dst")).agg(sum(col("share")).as("inflow"))
    nodes.join(inflow.hint("shuffle_hash"), col("node") === col("dst"), "left")
      .select(col("node"),
        (lit(RankUnit - dampingMicro) + coalesce(col("inflow"), lit(0L)))
          .as("rank_micro"))
  }
}
