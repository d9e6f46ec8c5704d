package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Link graph + exact-integer PageRank — exactness vs an independent
  * plain-Scala replay of the micro-unit recurrence, partitioning
  * invariance, edge-cleaning semantics, hand-checked dangling-node
  * arithmetic, href extraction branch coverage, the overflow guard, and
  * a no-cartesian plan gate.
  */
class LinkGraphSpec extends SparkTestBase {
  import spark.implicits._

  /** seeded deterministic multigraph: 40 nodes, 160 raw edge draws
    * (duplicates + self-loops on purpose — pageRank must clean them).
    */
  private def rawEdges(seed: Long): Seq[(String, String)] =
    (0 until 160).map { i =>
      val a = ((seed + i) * 6364136223846793005L + 1442695040888963407L) >>> 33
      val b = (a * 6364136223846793005L + 1442695040888963407L) >>> 33
      (s"n${(a % 40).toInt}", s"n${(b % 40).toInt}")
    }

  /** independent plain-Scala replay of the documented recurrence. */
  private def replay(raw: Seq[(String, String)], iters: Int,
                     d: Long): Map[String, Long] = {
    val e = raw.filter { case (s, t) => s != t }.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val outdeg = e.groupBy(_._1).map { case (s, es) => (s, es.size.toLong) }
    var r = nodes.map(n => (n, 1000000L)).toMap
    for (_ <- 1 to iters) {
      val inflow = e.groupBy(_._2).map { case (t, es) =>
        (t, es.map { case (s, _) =>
          d * r(s) / 1000000L / outdeg(s)
        }.sum)
      }
      r = nodes.map(n => (n, (1000000L - d) + inflow.getOrElse(n, 0L))).toMap
    }
    r
  }

  test("pageRank ≡ plain-Scala replay (4 iters, duplicates + self-loops cleaned)") {
    val raw = rawEdges(7L)
    val got = LinkGraph.pageRank(raw.toDF("src", "dst"), "src", "dst", iters = 4)
      .as[(String, Long)].collect().toMap
    assert(got === replay(raw, 4, 850000L))
  }

  test("pageRank is partitioning-invariant") {
    val raw = rawEdges(13L)
    val a = LinkGraph.pageRank(raw.toDF("src", "dst").repartition(7),
      "src", "dst", iters = 3).as[(String, Long)].collect().sortBy(_._1)
    val b = LinkGraph.pageRank(raw.toDF("src", "dst").coalesce(1),
      "src", "dst", iters = 3).as[(String, Long)].collect().sortBy(_._1)
    assert(a === b)
  }

  test("dangling node: receives but forwards nothing (hand arithmetic)") {
    // a -> b, b dangling. iter1: a = 150000 (no inflow); b = 150000 +
    // 850000*1000000/1e6/1 = 1000000. iter2: b = 150000 + 850000*150000
    // /1e6/1 = 150000 + 127500 = 277500; a stays 150000.
    val e = Seq(("a", "b")).toDF("src", "dst")
    val r1 = LinkGraph.pageRank(e, "src", "dst", iters = 1)
      .as[(String, Long)].collect().toMap
    assert(r1 === Map("a" -> 150000L, "b" -> 1000000L))
    val r2 = LinkGraph.pageRank(e, "src", "dst", iters = 2)
      .as[(String, Long)].collect().toMap
    assert(r2 === Map("a" -> 150000L, "b" -> 277500L))
  }

  test("long node ids work unchanged and hubs outrank leaves") {
    // star: 0..9 all -> 10
    val e = (0L until 10L).map(i => (i, 10L)).toDF("src", "dst")
    val r = LinkGraph.pageRank(e, "src", "dst", iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(r(10L) > r(0L))
    assert((0L until 10L).forall(i => r(i) === 150000L))
  }

  test("overflow guard raises instead of silently wrapping") {
    val e = Seq(("a", "b")).toDF("src", "dst")
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val nodes = Seq("a", "b").toDF("node")
    val poisoned = Seq(("a", LinkGraph.MaxSafeRank + 1L), ("b", 1000000L))
      .toDF("node", "rank_micro")
    val ex = intercept[Exception] {
      LinkGraph.step(poisoned, e, outdeg, nodes, 850000L).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause).toList)
    assert(msgs(ex).exists(m =>
      m != null && m.contains("exact-arithmetic bound")))
  }

  test("extractLinks: quote styles, case, attribute order, fragments") {
    val html =
      """<html><body>
        |<a href="https://x.com/a">one</a>
        |<A CLASS="big" HREF='https://y.org/b'>two</A>
        |<a data-k="v" href="https://z.net/c#frag">three</a>
        |<a href="#top">fragment-only is dropped</a>
        |<a name="anchor">no href at all</a>
        |<a href="https://x.com/a">duplicate preserved</a>
        |</body></html>""".stripMargin
    val got = LinkGraph.extractLinks(Seq((1L, html)).toDF("id", "html"),
      "id", "html").as[(Long, String)].collect().toSeq
    assert(got === Seq(
      (1L, "https://x.com/a"),
      (1L, "https://y.org/b"),
      (1L, "https://z.net/c"),
      (1L, "https://x.com/a")))
    assert(LinkGraph.extractLinks(
      Seq((2L, "<p>no links</p>")).toDF("id", "html"), "id", "html")
      .isEmpty)
  }

  test("domainEdges: registrable-domain lift, self-links dropped, distinct") {
    val rows = Seq(
      ("https://www.blog.site1.com/p/1",
        """<a href="https://shop.site1.com/x">self</a>
          |<a href="https://site2.co.uk/y">cross</a>
          |<a href="https://site2.co.uk/z">same pair twice</a>""".stripMargin),
      ("https://site2.co.uk/p/2",
        """<a href="https://site1.com/q">back</a>""".stripMargin))
      .toDF("url", "html")
    val got = LinkGraph.domainEdges(rows, "url", "html")
      .as[(String, String)].collect().toSet
    assert(got === Set(
      ("site1.com", "site2.co.uk"),
      ("site2.co.uk", "site1.com")))
  }

  test("plan gate: an iteration is joins + aggregates, never a cartesian") {
    val plan = LinkGraph.pageRank(rawEdges(3L).toDF("src", "dst"),
      "src", "dst", iters = 1).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("plan gate: a co-partitioned iteration is ONE exchange, no broadcast") {
    // prepare() clusters edges/outdeg by src and nodes by node, and
    // localCheckpoint preserves those partitionings — so every join in
    // step() must be a zero-exchange ShuffledHashJoin and the round's
    // only exchange the dst-keyed inflow sum. Broadcasting node-scale
    // frames (what Catalyst picks unhinted) was the measured 2→8-core
    // scaling limiter: 3 driver-side builds per round that grow with
    // the node count.
    val (e, nodes, outdeg) = LinkGraph.prepare(
      rawEdges(5L).toDF("src", "dst"), "src", "dst")
    val ranks = nodes.select(col("node"), lit(1000000L).as("rank_micro"))
    val plan = LinkGraph.step(ranks, e, outdeg, nodes, 850000L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"), plan.take(4000))
    assert(!plan.contains("BroadcastHashJoin"), plan.take(4000))
    val nExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(nExchanges === 1, plan.take(4000))
  }

  test("guards: bad iters / damping / missing columns") {
    val e = Seq(("a", "b")).toDF("src", "dst")
    intercept[IllegalArgumentException] {
      LinkGraph.pageRank(e, "src", "dst", iters = 0)
    }
    intercept[IllegalArgumentException] {
      LinkGraph.pageRank(e, "src", "dst", iters = 1, dampingMicro = 1000001L)
    }
    intercept[IllegalArgumentException] {
      LinkGraph.extractLinks(e, "nope", "src")
    }
  }

  test("pageRankFrom: resume ≡ one-shot, bit-equal, on an unchanged graph") {
    val raw = rawEdges(21L).toDF("src", "dst")
    val warm = LinkGraph.pageRank(raw, "src", "dst", iters = 2)
    val resumed = LinkGraph.pageRankFrom(raw, "src", "dst", warm, iters = 2)
      .as[(String, Long)].collect().toMap
    assert(resumed === replay(rawEdges(21L), 4, 850000L))
  }

  test("pageRankFrom: appended edges — new node enters cold (hand arithmetic)") {
    // e1 is the symmetric 2-cycle, so pageRank fixes every rank at 1e6.
    val e1 = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val r1 = LinkGraph.pageRank(e1, "src", "dst", iters = 3)
    assert(r1.as[(String, Long)].collect().toMap ===
      Map("a" -> 1000000L, "b" -> 1000000L))
    // append b→c: outdeg a=1, b=2; warm start a=b=1e6, c enters at 1e6.
    // One round: share_a = 850000, share_b = 425000 →
    //   a' = 150000 + share_b = 575000
    //   b' = 150000 + share_a = 1000000
    //   c' = 150000 + share_b = 575000
    val e2 = e1.union(Seq(("b", "c")).toDF("src", "dst"))
    val got = LinkGraph.pageRankFrom(e2, "src", "dst", r1, iters = 1)
      .as[(String, Long)].collect().toMap
    assert(got === Map("a" -> 575000L, "b" -> 1000000L, "c" -> 575000L))
    intercept[IllegalArgumentException] { // not a pageRank output
      LinkGraph.pageRankFrom(e2, "src", "dst", e1, iters = 1)
    }
  }

  test("rank-table hygiene: duplicate node and NULL rank raise in-plan") {
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause).toList)
    val e = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val docs = Seq((1L, "https://a.com/x")).toDF("doc_id", "url")
    val dup = Seq(("a", 1000000L), ("a", 2000000L), ("b", 1000000L))
      .toDF("node", "rank_micro")
    val ex1 = intercept[Exception] {
      LinkGraph.pageRankFrom(e, "src", "dst", dup, iters = 1).collect()
    }
    assert(msgs(ex1).exists(m => m != null && m.contains("duplicate node")))
    val ex2 = intercept[Exception] {
      LinkGraph.rankDocs(docs, "url",
        Seq(("a.com", 1L), ("a.com", 2L)).toDF("node", "rank_micro"))
        .collect()
    }
    assert(msgs(ex2).exists(m => m != null && m.contains("duplicate node")))
    val ex3 = intercept[Exception] {
      LinkGraph.pageRankFrom(e, "src", "dst",
        Seq(("a", None: Option[Long]), ("b", Some(1000000L)))
          .toDF("node", "rank_micro"), iters = 1).collect()
    }
    assert(msgs(ex3).exists(m => m != null && m.contains("NULL rank_micro")))
  }

  test("rankDocs: domain derive + left join, NULL for off-graph domains") {
    val ranks = LinkGraph.pageRank(
      Seq(("a.com", "b.com"), ("b.com", "a.com"), ("a.com", "c.com"))
        .toDF("src", "dst"), "src", "dst", iters = 2)
    val docs = Seq(
      (1L, "https://www.a.com/x"), (2L, "https://b.com/y?q=1"),
      (3L, "https://unranked.com/z")).toDF("doc_id", "url")
    val got = LinkGraph.rankDocs(docs, "url", ranks)
      .select(col("doc_id"), col("domain"),
        col("rank_micro")).as[(Long, String, Option[Long])]
      .collect().sortBy(_._1)
    val rk = ranks.as[(String, Long)].collect().toMap
    assert(got === Array(
      (1L, "a.com", Some(rk("a.com"))),
      (2L, "b.com", Some(rk("b.com"))),
      (3L, "unranked.com", None)))
  }

  test("rankDocs: precomputed passthrough ≡ derived; guards") {
    val ranks = LinkGraph.pageRank(
      Seq(("a.com", "b.com"), ("b.com", "a.com")).toDF("src", "dst"),
      "src", "dst", iters = 1)
    val docs = Seq((1L, "https://a.com/x"), (2L, "https://q.org/y"))
      .toDF("doc_id", "url")
    val derived = LinkGraph.rankDocs(docs, "url", ranks)
    val pre = LinkGraph.rankDocs(
      docs.withColumn("domain", UrlCuration.urlDomain(col("url"))),
      "url", ranks, precomputed = Some("domain"))
    assert(derived.columns === pre.columns)
    assert(derived.collect().sortBy(_.getLong(0)) ===
      pre.collect().sortBy(_.getLong(0)))
    intercept[IllegalArgumentException] { // not a pageRank output
      LinkGraph.rankDocs(docs, "url", docs)
    }
    intercept[IllegalArgumentException] { // output-name collision
      LinkGraph.rankDocs(docs.withColumn("rank_micro", lit(1L)),
        "url", ranks)
    }
    intercept[IllegalArgumentException] { // domain present but not declared
      LinkGraph.rankDocs(docs.withColumn("domain", lit("a.com")),
        "url", ranks)
    }
    intercept[IllegalArgumentException] { // missing precomputed column
      LinkGraph.rankDocs(docs, "url", ranks, precomputed = Some("dom"))
    }
  }

  test("anchorTerms: pair extraction, self-domain drop, nested-markup " +
    "miss, fragment handling, term rollup ≡ driver replay") {
    import spark.implicits._
    val rows = Seq(
      // external anchor, double quotes; + self-link (dropped); + nested
      // markup (not extracted, documented); + fragment-only (dropped)
      (1L, "https://me.com/a",
        "<a href=\"https://other.org/p\">Great Tool docs</a>" +
          "<a href=\"https://me.com/b\">home</a>" +
          "<a href=\"https://x.net/y\"><b>bold</b></a>" +
          "<a href=\"#top\">skip</a>"),
      // single quotes, uppercase tag, attr before href, #frag truncated
      (2L, "https://me.com/c",
        "<A CLASS='z' HREF='https://other.org/q#frag'>great TOOL!</A>"),
      // no anchors at all
      (3L, "https://me.com/d", "<p>nothing</p>"),
      // relative + scheme-less hrefs derive an empty target domain —
      // same-site navigation by construction, must NOT accumulate terms
      // under domain ""
      (4L, "https://me.com/e",
        "<a href=\"/rel/path\">relative nav</a>" +
          "<a href=\"page.html\">bare nav</a>"))
    val df = rows.toDF("doc_id", "url", "html")
    val got = LinkGraph.anchorTerms(df, "url", "html")
      .as[(String, String, Long)].collect().toSet
    assert(got == Set(
      ("other.org", "great", 2L), ("other.org", "tool", 2L),
      ("other.org", "docs", 1L)))
  }

  test("anchorTerms: a protocol-relative href makes no edge") {
    import spark.implicits._
    val df = Seq((1L, "https://me.com/a",
        "<a href=\"//other.example/x\">protocol relative</a>" +
          "<a href=\"https://other.org/p\">kept</a>"))
      .toDF("doc_id", "url", "html")
    val got = LinkGraph.anchorTerms(df, "url", "html")
      .as[(String, String, Long)].collect().toSet
    assert(got == Set(("other.org", "kept", 1L)))
  }

  test("rankDocs plan gate: the rank table never broadcasts") {
    // the rank table grows with the graph (10^8–10^9 domains at crawl
    // scale) — Catalyst would happily broadcast the toy-sized frame here,
    // which is exactly the plan that dies at 100×; the hint must hold.
    val ranks = LinkGraph.pageRank(
      Seq(("a.com", "b.com"), ("b.com", "a.com")).toDF("src", "dst"),
      "src", "dst", iters = 1)
    val docs = Seq((1L, "https://a.com/x")).toDF("doc_id", "url")
    val plan = LinkGraph.rankDocs(docs, "url", ranks)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"), plan.take(4000))
    assert(!plan.contains("BroadcastHashJoin"), plan.take(4000))
  }
}
