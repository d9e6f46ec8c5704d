package graft.ops

import graft.expr.RobotsDecide
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** robots.txt compliance — the fetch-level crawl opt-out (RFC 9309),
  * complementing the page-level `<meta name=robots>` signal
  * ([[TextExtract.htmlMetaRobots]]). Published pipelines honor BOTH: a
  * crawl corpus carries each host's robots.txt alongside its captures
  * (Common Crawl ships them as robotstxt WARCs), and a curation pass must
  * be able to answer "was this URL even allowed to be fetched?" corpus-
  * wide, after the fact.
  *
  * Scale shapes (100 TB corpus, host-scale robots set):
  *  - [[parseRules]]: relational, no UDFs. The per-host line windows
  *    (group formation needs line order) partition by HOST over the
  *    robots frame — a frame whose size is the number of hosts, not
  *    documents, and whose per-partition work is bounded by the 500 KiB
  *    robots.txt size cap crawlers apply (RFC 9309 §2.4). The corpus
  *    never enters this stage.
  *  - [[isAllowed]]: the effective rules for one agent collect to the
  *    driver ([[ruleTable]], host-scale) and are broadcast to ONE
  *    codegen'd kernel ([[graft.expr.RobotsDecide]]):
  *    literal rules (no `*`, no trailing `$` — the real-world majority)
  *    are raw `startsWith` probes, wildcard rules compile their regex
  *    once per JVM. The corpus plan is scan → one projection: no join,
  *    no exchange (plan-gated in RobotsTxtSpec).
  *
  * Semantics implemented (RFC 9309 + the Google parser's documented
  * choices, which the RFC blessed):
  *  - Groups: consecutive `User-agent:` lines share one group; the
  *    group's rules apply to all of them. Rules before any User-agent
  *    line are ignored. Blank lines do NOT end a group (only a new
  *    User-agent run does). `#` starts a comment. Field names and agent
  *    tokens match case-insensitively; PATHS match case-sensitively.
  *  - Agent selection: a host's groups naming `agent` exactly
  *    (case-insensitive) win; only if none exist does the `*` group
  *    apply; no robots / no group ⇒ allow.
  *  - Rule evaluation: patterns are path prefixes (matched against
  *    path + '?' + query, fragment stripped), `*` matches any char run,
  *    trailing `$` anchors the end. The most specific (longest pattern)
  *    matching rule wins; on a tie Allow beats Disallow; no matching
  *    rule ⇒ allow. Empty-pattern rules (`Disallow:` = "no restriction",
  *    RFC 9309 §2.3.1.2) are no-ops and are dropped at parse.
  */
object RobotsTxt {

  /** Parse raw robots.txt bodies into one row per (host, agent, rule):
    * `(host, agent, allow: boolean, pattern, rule_idx)`. `rule_idx` is
    * the source line number (diagnostics / deterministic ordering).
    */
  def parseRules(robots: DataFrame, hostCol: String = "host",
                 txtCol: String = "robots_txt"): DataFrame = {
    require(robots.columns.contains(hostCol), s"missing column: $hostCol")
    require(robots.columns.contains(txtCol), s"missing column: $txtCol")
    import org.apache.spark.sql.expressions.Window
    // \r?\n: CRLF robots.txt files are the common real-world case, and
    // Spark's trim() strips only spaces — an unsplit \r would corrupt
    // every agent token and pattern (review finding; CRLF spec fixture)
    val lines = robots
      .select(col(hostCol).as("host"),
        posexplode(split(col(txtCol), "\r?\n")).as(Seq("line_idx", "raw")))
      .withColumn("clean", trim(regexp_replace(col("raw"), "#.*$", "")))
      .withColumn("field",
        lower(trim(regexp_extract(col("clean"), "^([^:]+):", 1))))
      .withColumn("value",
        trim(regexp_extract(col("clean"), "^[^:]+:(.*)$", 1)))
      .where(col("field").isin("user-agent", "allow", "disallow"))
    // Group formation: a User-agent line OPENS a group unless the
    // previous kept line was also User-agent (consecutive UA lines
    // merge). Window is per host, ordered by source line — bounded by
    // the robots-file size cap, never by corpus size.
    val w = Window.partitionBy("host").orderBy("line_idx")
    val grouped = lines
      .withColumn("is_ua", col("field") === "user-agent")
      .withColumn("ng",
        (col("is_ua") && !coalesce(lag("is_ua", 1).over(w), lit(false)))
          .cast("int"))
      .withColumn("grp", sum("ng").over(w))
    val agents = grouped.where(col("is_ua"))
      .select(col("host"), col("grp"), lower(col("value")).as("agent"))
      .distinct()
    val ruleRows = grouped
      .where(!col("is_ua") && col("value") =!= "")
      .select(col("host"), col("grp"),
        (col("field") === "allow").as("allow"),
        col("value").as("pattern"), col("line_idx").as("rule_idx"))
    // LEFT join: orphan rules (grp 0, before any UA run) still drop per
    // the RFC, but a group with NO rules must SURVIVE as one
    // (agent, NULL-pattern) marker row — RFC 9309: a matched group with
    // no applicable rules means ALLOW, so the group must still win agent
    // selection in [[effectiveRules]] (a rule-less specific group that
    // vanished here would wrongly hand its crawler to the `*` group —
    // review finding). Null-pattern markers never match anything
    // downstream; callers listing rules filter `pattern IS NOT NULL`.
    agents.join(ruleRows, Seq("host", "grp"), "left")
      .select("host", "agent", "allow", "pattern", "rule_idx")
  }

  /** The rules that govern `agent` on each host: its exact
    * (case-insensitive) groups when any exist for that host, else the
    * `*` groups. All frames here are host-scale.
    */
  def effectiveRules(rules: DataFrame, agent: String): DataFrame = {
    val a = agent.toLowerCase
    require(a != "*", "agent must be a product token, not '*'")
    val mine = rules.where(col("agent").isin(a, "*"))
      .withColumn("_rb_spec_agent", col("agent") === a)
    val hasSpec = mine.groupBy("host")
      .agg(max(col("_rb_spec_agent")).as("_rb_has_spec"))
    mine.join(hasSpec, Seq("host"))
      .where(col("_rb_spec_agent") === col("_rb_has_spec"))
      .drop("_rb_spec_agent", "_rb_has_spec")
  }

  /** The match target: path + query of the RAW url (case preserved —
    * robots paths are case-sensitive), fragment stripped, empty → "/".
    */
  def urlPath(url: Column): Column = {
    val afterScheme =
      regexp_replace(trim(url), "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    val afterAuth = regexp_replace(afterScheme, "^[^/]*", "")
    val noFrag = regexp_replace(afterAuth, "#.*$", "")
    when(noFrag === "", "/").otherwise(noFrag)
  }

  /** The effective rule table `agent` is decided against, compiled for
    * [[graft.expr.RobotsDecide]] and broadcast. Agent selection runs on
    * the FULL frame (rule-less marker rows must count); the markers
    * themselves match nothing and are dropped before the collect.
    * Host-scale: the table lives on the heap (~100 B/rule) — fine
    * through ~10^6 hosts.
    */
  def ruleTable(rules: DataFrame,
                agent: String): Broadcast[RobotsDecide.Table] =
    rules.sparkSession.sparkContext.broadcast(RobotsDecide.buildTable(
      effectiveRules(rules, agent)
        .where(col("pattern").isNotNull)
        .select("host", "pattern", "allow").collect()
        .map(r => (r.getString(0), r.getString(1), r.getBoolean(2))).toSeq))

  /** Decide fetch permission for every URL: adds `allowed: boolean`.
    * `rules` is [[parseRules]] output (any agents); the decision is for
    * `agent`. A URL with no host (NULL or empty) has no robots file and
    * is allowed.
    */
  def isAllowed(urls: DataFrame, urlCol: String, rules: DataFrame,
                agent: String): DataFrame = {
    require(urls.columns.contains(urlCol), s"missing column: $urlCol")
    urls.withColumn("allowed", RobotsDecide.robots_decide(
      urlPath(col(urlCol)), UrlCuration.urlHost(col(urlCol)),
      ruleTable(rules, agent)))
  }
}
