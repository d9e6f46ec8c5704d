package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** RobotsTxt vs an independent plain-Scala RFC 9309 evaluator, plus the
  * targeted grammar/matching cases and the join-free kernel plan gate.
  */
class RobotsTxtSpec extends SparkTestBase {
  import spark.implicits._

  // ---- independent reference implementation (plain Scala, no Spark) ----
  private case class RefRule(allow: Boolean, pattern: String)

  /** Groups: (agents, rules) — a rule-less group is kept (it must still
    * win agent selection per RFC 9309).
    */
  private def refParse(txt: String): Seq[(Set[String], Seq[RefRule])] = {
    val kept = txt.split("\r?\n", -1).toSeq
      .map(l => l.replaceAll("#.*$", "").trim)
      .map { l =>
        val i = l.indexOf(':')
        if (i < 0) ("", "")
        else (l.substring(0, i).trim.toLowerCase, l.substring(i + 1).trim)
      }
      .filter(fv => Set("user-agent", "allow", "disallow")(fv._1))
    // group formation: consecutive user-agent lines share a group
    var grp = 0; var prevUa = false
    val rows = kept.map { case (f, v) =>
      val isUa = f == "user-agent"
      if (isUa && !prevUa) grp += 1
      prevUa = isUa
      (grp, f, v)
    }
    (1 to grp).map { g =>
      (rows.collect { case (`g`, "user-agent", v) => v.toLowerCase }.toSet,
        rows.collect {
          case (`g`, f, v) if f != "user-agent" && v.nonEmpty =>
            RefRule(f == "allow", v)
        })
    }
  }

  private def refMatch(path: String, pattern: String): Boolean = {
    val hadDollar = pattern.endsWith("$")
    val core = if (hadDollar) pattern.dropRight(1) else pattern
    val rx = "^" + core.split("\\*", -1).map(java.util.regex.Pattern.quote)
      .mkString(".*") + (if (hadDollar) "$" else "")
    java.util.regex.Pattern.compile(rx).matcher(path).find()
  }

  private def refAllowed(txt: Option[String], path: String,
                         agent: String): Boolean = txt match {
    case None => true
    case Some(t) =>
      val groups = refParse(t)
      val mine0 = groups.filter(_._1.contains(agent.toLowerCase))
      val mine = if (mine0.nonEmpty) mine0 else groups.filter(_._1("*"))
      val matched = mine.flatMap(_._2).filter(r => refMatch(path, r.pattern))
      if (matched.isEmpty) true
      else {
        val best = matched.maxBy(r =>
          (r.pattern.codePointCount(0, r.pattern.length), r.allow))
        best.allow
      }
  }

  /** Host key and match target of a URL, in plain Scala: the host is
    * `UrlCuration.urlHost`'s key (lowercased; scheme, fragment, query,
    * userinfo, leading `www.` and port stripped), the path keeps case and
    * query, drops the fragment, and is "/" when empty. A NULL url has no
    * host.
    */
  private def refHostPath(url: String): (Option[String], String) =
    if (url == null) (None, "/")
    else {
      val host = url.trim.toLowerCase
        .replaceFirst("^[a-z][a-z0-9+.-]*://", "")
        .replaceFirst("#.*$", "").replaceFirst("\\?.*$", "")
        .replaceFirst("^[^/?#]*@", "").replaceFirst("^www\\d*\\.", "")
        .takeWhile(_ != '/').replaceFirst(":\\d+$", "")
      val path = url.trim.replaceFirst("^[A-Za-z][A-Za-z0-9+.-]*://", "")
        .replaceFirst("^[^/]*", "").replaceFirst("#.*$", "")
      (Some(host), if (path.isEmpty) "/" else path)
    }

  /** Runs [[RobotsTxt.isAllowed]] and asserts every decision equals
    * [[refAllowed]]'s before returning, so every fixture matrix in this
    * suite is checked against the independent evaluator.
    */
  private def decide(urls: Seq[(Long, String)],
                     robots: Seq[(String, String)],
                     agent: String): Map[Long, Boolean] = {
    val rules = RobotsTxt.parseRules(
      robots.toDF("host", "robots_txt"))
    val got = RobotsTxt.isAllowed(urls.toDF("id", "url"), "url", rules, agent)
      .select("id", "allowed").as[(Long, Boolean)].collect().toMap
    assert(got.keySet == urls.map(_._1).toSet)
    val byHost = robots.toMap
    for ((id, u) <- urls) {
      val (host, path) = refHostPath(u)
      assert(got(id) == refAllowed(host.flatMap(byHost.get), path, agent),
        s"url $u: engine ${got(id)}")
    }
    got
  }

  private val robotsA =
    """User-Agent: GraftBot
      |User-agent: otherbot
      |Disallow: /private/*.html$
      |Allow: /private/pub   # inline comment
      |
      |User-agent: *
      |Disallow: /
      |""".stripMargin
  private val robotsB =
    """# only a star group
      |Disallow: /orphan-ignored
      |User-agent: *
      |Allow: /docs/a
      |Disallow: /docs/
      |Disallow:
      |""".stripMargin

  test("engine ≡ independent reference evaluator on a matrix of paths") {
    val robots = Seq("a.com" -> robotsA, "b.com" -> robotsB)
    val paths = Seq("/", "/private/x.html", "/private/x.htmlz",
      "/private/pub/x.html", "/private/puB", "/docs/a/b", "/docs/b",
      "/Docs/a", "/orphan-ignored", "/docs/a?q=1")
    val urls = for ((p, i) <- paths.zipWithIndex; h <- Seq("a.com", "b.com", "c.com"))
      yield ((i * 3 + (if (h == "a.com") 0 else if (h == "b.com") 1 else 2)).toLong,
        s"https://$h$p")
    // decide checks every url against refAllowed; the matrix must
    // exercise both verdicts
    val got = decide(urls, robots, "graftbot")
    assert(got.values.toSet == Set(true, false))
  }

  test("grammar: consecutive UA merge, orphan rules dropped, empty Disallow no-op") {
    val rules = RobotsTxt.parseRules(
      Seq("a.com" -> robotsA, "b.com" -> robotsB).toDF("host", "robots_txt"))
      .as[(String, String, Boolean, String, Int)].collect()
    // both graftbot and otherbot got BOTH rules of the merged group
    assert(rules.count(r => r._1 == "a.com" && r._2 == "graftbot") == 2)
    assert(rules.count(r => r._1 == "a.com" && r._2 == "otherbot") == 2)
    // orphan rule (before any UA) and the empty Disallow are gone
    assert(!rules.exists(_._4.contains("orphan")))
    assert(rules.forall(_._4.nonEmpty))
  }

  test("matching: longest wins, Allow breaks ties, $ anchors, * spans, case-sensitive paths") {
    val robots = Seq("a.com" -> robotsA)
    val got = decide(Seq(
      1L -> "https://a.com/private/deep/x.html", // *.html$ disallow (spec 16)
      2L -> "https://a.com/private/pub.html",    // allow /private/pub (12) < disallow (16) → blocked
      3L -> "https://a.com/private/pubx",        // allow rule longest match → allowed
      4L -> "https://a.com/private/x.html?y=1",  // $ anchor: query breaks the match → allowed (no rule)
      5L -> "https://a.com/Private/x.html"       // path case-sensitive → no match → allowed
    ).map { case (i, u) => (i, u) }, robots, "GRAFTBOT")
    assert(got == Map(1L -> false, 2L -> false, 3L -> true,
      4L -> true, 5L -> true))
  }

  test("agent selection: specific group beats *, unknown agent falls back to *, no robots → allow") {
    val robots = Seq("a.com" -> robotsA)
    // graftbot has its own group → the star Disallow:/ does NOT apply
    assert(decide(Seq(1L -> "https://a.com/anything"), robots, "graftbot")(1L))
    // a crawler with no group falls to * → blocked everywhere
    assert(!decide(Seq(1L -> "https://a.com/anything"), robots, "strangerbot")(1L))
    // host with no robots row → allow
    assert(decide(Seq(1L -> "https://nowhere.com/x"), robots, "graftbot")(1L))
  }

  test("host keying: www/scheme/port variants of the URL hit the same robots row") {
    val robots = Seq("a.com" -> "User-agent: *\nDisallow: /x\n")
    val got = decide(Seq(
      1L -> "https://WWW.a.com/x", 2L -> "http://a.com:8080/x",
      3L -> "a.com/x", 4L -> "https://a.com/y"), robots, "bot")
    assert(got == Map(1L -> false, 2L -> false, 3L -> false, 4L -> true))
  }

  test("kernel path: no join node, stays in whole-stage codegen, " +
    "interpreted ≡ codegen") {
    val rules = RobotsTxt.parseRules(
      Seq("a.com" -> robotsA, "b.com" -> robotsB).toDF("host", "robots_txt"))
    val urls = spark.range(500).select(col("id"),
      concat(lit("https://a.com/private/"), col("id"), lit(".html"))
        .as("url"))
    val out = RobotsTxt.isAllowed(urls, "url", rules, "graftbot")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Exchange"), plan)
    // "*(1)" node prefixes = the whole chain is inside one codegen stage
    assert(plan.trim.startsWith("*(1)"), plan)
    // interpreted eval (RobotsDecide.compute) agrees with codegen
    val table = RobotsTxt.ruleTable(rules, "graftbot").value
    val got = out.select("id", "allowed")
      .as[(Long, Boolean)].collect().toMap
    // an executor gets the table through Java serialization, which
    // writes the (host, pattern, allow) rows and rebuilds them on read
    val bytes = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bytes)
    oos.writeObject(table); oos.close()
    val shipped = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bytes.toByteArray)).readObject()
      .asInstanceOf[graft.expr.RobotsDecide.Table]
    for (i <- 0L until 500L; t <- Seq(table, shipped)) {
      val p = org.apache.spark.unsafe.types.UTF8String
        .fromString(s"/private/$i.html")
      val h = org.apache.spark.unsafe.types.UTF8String.fromString("a.com")
      assert(graft.expr.RobotsDecide.compute(p, h, t) == got(i))
    }
    assert(Seq("a.com", "b.com").forall(h =>
      shipped.rules(h).map(r => (r.pattern, r.allow)).toSet ==
        table.rules(h).map(r => (r.pattern, r.allow)).toSet))
  }

  test("RFC corners: CRLF files parse, a rule-less specific group still " +
    "wins selection, code-point specificity ties (review findings)") {
    // CRLF + a graftbot group whose only directive is the empty Disallow
    // (= no restriction): graftbot must get ITS group (allow all), not
    // fall through to the star Disallow-all
    val robots = Seq("a.com" ->
      "User-agent: graftbot\r\nDisallow:\r\n\r\nUser-agent: *\r\nDisallow: /\r\n")
    assert(decide(Seq(1L -> "https://a.com/x"), robots, "graftbot")(1L))
    assert(!decide(Seq(1L -> "https://a.com/x"), robots, "otherbot")(1L))
    // CRLF patterns must not keep a trailing \r (it would unmatch
    // everything): the star rule above DID match, q.e.d.; and specificity
    // counts code points — "/a*" (3) ties "/a😀" (3 cp, 4 UTF-16 units),
    // tie → Allow (decide checks it against refAllowed)
    val emoji = Seq("b.com" -> "User-agent: *\nAllow: /a*\nDisallow: /a😀\n")
    assert(decide(Seq(1L -> "https://b.com/a😀x"), emoji, "bot")(1L))
  }

  test("a NULL or empty url has no host, so no robots: allowed, never NULL") {
    // a star Disallow-all: any url that reached a robots row would block
    val robots = Seq("a.com" -> "User-agent: *\nDisallow: /\n")
    val got = decide(Seq(1L -> null, 2L -> "", 3L -> "https://a.com/x"),
      robots, "graftbot")
    assert(got == Map(1L -> true, 2L -> true, 3L -> false))
    // the interpreted path agrees, and the column is declared non-null
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.StringType
    val table = RobotsTxt.ruleTable(RobotsTxt.parseRules(
      robots.toDF("host", "robots_txt")), "graftbot")
    val e = graft.expr.RobotsDecide(Literal(null, StringType),
      Literal(null, StringType), table)
    assert(e.eval() == true && !e.nullable)
  }

  test("partitioning invariance") {
    val robots = Seq("a.com" -> robotsA, "b.com" -> robotsB)
    val urls = (0L until 200L).map(i =>
      (i, s"https://${if (i % 2 == 0) "a" else "b"}.com/docs/${i}"))
    val a = decide(urls, robots, "graftbot")
    val rules = RobotsTxt.parseRules(
      robots.toDF("host", "robots_txt").repartition(7))
    val b = RobotsTxt.isAllowed(urls.toDF("id", "url").repartition(5),
      "url", rules, "graftbot")
      .select("id", "allowed").as[(Long, Boolean)].collect().toMap
    assert(a == b)
  }
}
