package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class TextAnalysisSpec extends SparkTestBase {
  import spark.implicits._

  test("langId picks the dominant stopword language") {
    val df = Seq(
      ("the cat and the dog went to the park", "en"),
      ("el perro y la casa de que en un", "es"),
      ("der hund und die katze ist ein tier", "de"),
      ("zzz qqq xxx", "und")
    ).toDF("text", "expected")
    val bad = df.where(TextAnalysis.langId($"text") =!= $"expected").count()
    assert(bad === 0)
  }

  test("token counts: whitespace and BPE-ish") {
    val r = Seq("Hello, world! 42 tokens?").toDF("text")
      .select(TextAnalysis.tokenCountWs($"text").as("ws"),
        TextAnalysis.tokenCountBpe($"text").as("bpe"))
      .head()
    assert(r.getInt(0) === 4)
    // Hello , world ! 4 2 tokens ? → 8
    assert(r.getInt(1) === 8)
    assert(Seq("").toDF("text")
      .select(TextAnalysis.tokenCountWs($"text")).head().getInt(0) === 0)
  }

  test("quality score orders garbage below prose") {
    val r = Seq(
      ("q1", "The quick brown fox jumps over the lazy dog and runs to the forest for a while."),
      ("q2", "@@@@ #### $$$$ %%%% ^^^^ &&&&")
    ).toDF("id", "text")
      .select($"id", TextAnalysis.qualityScore($"text").as("q"))
      .as[(String, Double)].collect().toMap
    assert(r("q1") > r("q2"))
    assert(r("q1") >= 0.0 && r("q1") <= 1.0)
  }

  test("fingerprint is invariant to case/punct/extra whitespace") {
    val fps = Seq(
      "Hello,   World! This is   GREAT.",
      "hello world this is great",
      "hello world this is different"
    ).toDF("text").select(TextAnalysis.fingerprint($"text")).as[Long].collect()
    assert(fps(0) === fps(1))
    assert(fps(0) !== fps(2))
  }

  test("profile runs over the real documents table") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val p = TextAnalysis.profile(docs, "text")
    assert(p.count() === docs.count())
    assert(p.where($"n_tokens_ws" <= 0).count() === 0)
  }

  test("bpePairCounts: hand corpus — adjacent char pairs weighted by word freq") {
    val df = Seq("ab ab abc", "x").toDF("text")
    val pairs = TextAnalysis.bpePairCounts(df, "text", k = 10, minCount = 1)
      .as[(String, String, Long)].collect().toSeq
    // ab×2 + abc×1 → (a,b)=3; abc → (b,c)=1; "x" has no pair
    assert(pairs === Seq(("a", "b", 3L), ("b", "c", 1L)))
  }

  test("bpePairCounts: vocab-collapsed ≡ naive corpus explode on real docs") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val fast = TextAnalysis.bpePairCounts(docs, "text", k = 40)
      .as[(String, String, Long)].collect().toSeq
    // naive baseline: explode every word OCCURRENCE, pair per position
    val naive = docs
      .select(explode(Curation.normWords($"text")).as("w"))
      .where(length($"w") >= 2)
      .select(explode(transform(sequence(lit(1), length($"w") - 1),
        i => struct($"w".substr(i, lit(1)).as("lhs"),
          $"w".substr(i + 1, lit(1)).as("rhs")))).as("p"))
      .groupBy($"p.lhs".as("lhs"), $"p.rhs".as("rhs"))
      .agg(count(lit(1)).as("pair_count"))
      .where($"pair_count" >= 2)
      .orderBy($"pair_count".desc, $"lhs", $"rhs")
      .limit(40)
      .as[(String, String, Long)].collect().toSeq
    assert(fast === naive)
    assert(fast.nonEmpty)
  }

  test("bpePairCounts plan: top-k is TakeOrderedAndProject, never a full sort") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val q = TextAnalysis.bpePairCounts(docs, "text", k = 40)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  /** Driver replay of the char-n-gram Naive-Bayes formulation, ln
    * quantization included: trains on `seed` (lang, text) and maps a doc
    * text to (pred_lang, nll_micro, n_grams). Grams are CODE-POINT
    * n-grams of the lowercased text; ties go to the smaller lang (the
    * langs here are ASCII, where String order is byte order).
    */
  private def langIdReplay(seed: Seq[(String, String)], n: Int = 3)
      : String => (Option[String], Option[Long], Long) = {
    def grams(s: String): Seq[String] = {
      val cps = s.toLowerCase.codePoints().toArray
      (0 to cps.length - n).map(i => new String(cps, i, n))
    }
    val counts = seed.flatMap { case (l, t) => grams(t).map(l -> _) }
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val totals = counts.groupBy(_._1._1)
      .map { case (l, m) => l -> m.values.sum }
    val vocab = counts.keySet.map(_._2).size
    def q(p: Double): Long = math.floor(-math.log(p) * 1e6 + 0.5).toLong
    def floorL(l: String): Long = q(1.0 / (totals(l) + vocab))
    def nllOf(l: String, gs: Seq[String]): Long =
      floorL(l) * gs.length + gs.map { g =>
        counts.get(l -> g)
          .map(c => q((c + 1).toDouble / (totals(l) + vocab)) - floorL(l))
          .getOrElse(0L)
      }.sum
    txt => {
      val gs = if (txt == null) Seq.empty else grams(txt)
      if (gs.isEmpty) (None, None, 0L)
      else {
        val (nll, lang) = totals.keys.toSeq.map(l => (nllOf(l, gs), l)).min
        (Some(lang), Some(nll), gs.length.toLong)
      }
    }
  }

  test("langIdNgram ≡ driver NB replay; distinct-alphabet langs classified " +
    "correctly; short doc → NULL; tie broken by lang; partitioning-" +
    "invariant") {
    // two hand languages with disjoint character distributions
    val seedRows = Seq(
      ("aa", "abba baab abab abba baba"), ("aa", "aabb bbaa abba baab"),
      ("zz", "zyzzy yzzyz zzyzy yzyzy"), ("zz", "zzyy yyzz zyzy yzyz"))
    val seed = seedRows.toDF("lang", "text")
    val texts = Seq(
      0L -> "abba abab",          // clearly aa
      1L -> "zyzzy zyzy",         // clearly zz
      2L -> "ab",                 // < 3 chars → NULL
      3L -> "qqqq qqqq")          // all grams unseen → pure floor, tie
    val docs = texts.toDF("doc_id", "text")
    val got = TextAnalysis.langIdNgram(docs, "doc_id", "text", seed, "lang")
      .as[(Long, Option[String], Option[Long], Long)].collect()
      .map(r => r._1 -> r).toMap
    val replay = langIdReplay(seedRows)
    for ((id, txt) <- texts) {
      val (lang, nll, nGrams) = replay(txt)
      assert(got(id) == ((id, lang, nll, nGrams)), s"doc $id")
    }
    assert(got(0L)._2.contains("aa") && got(1L)._2.contains("zz"))
    assert(got(2L) == ((2L, None, None, 0L)))
    // doc 3: every gram unseen in both langs → score = floor·n_grams for
    // each; the replay's (nll, lang) minimum is the deterministic winner
    assert(got(3L)._2.isDefined)
    // partitioning invariance
    val got7 = TextAnalysis.langIdNgram(docs.repartition(7), "doc_id",
      "text", seed.repartition(3), "lang")
      .as[(Long, Option[String], Option[Long], Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got7 == got)
    // one codegen'd projection: no join, no aggregation
    val plan = TextAnalysis.langIdNgram(docs, "doc_id", "text",
      seed, "lang").queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Aggregate"), plan)
  }

  test("langIdNgram ≡ driver NB replay on the five-language unicode slice") {
    val texts = Seq(
      0L -> "the quick brown fox jumps over the lazy dog",
      1L -> "der schnelle braune fuchs springt",
      2L -> null.asInstanceOf[String],
      3L -> "ab",
      4L -> "数据 查询 引擎 the query engine 日本語テキスト",
      5L -> "El rápido zorro marrón salta sobre el perro")
    val seedRows = Seq(
      ("en", "the quick brown fox and the lazy dog run"),
      ("de", "der schnelle braune fuchs und der faule hund"),
      ("es", "el zorro marrón rápido y el perro perezoso"),
      ("zh", "数据 查询 引擎 表 行 列"),
      ("ja", "日本語 テキスト 解析 処理"))
    val got = TextAnalysis.langIdNgram(texts.toDF("doc_id", "text"),
        "doc_id", "text", seedRows.toDF("lang", "text"), "lang")
      .as[(Long, Option[String], Option[Long], Long)].collect()
      .map(r => r._1 -> r).toMap
    val replay = langIdReplay(seedRows)
    for ((id, txt) <- texts) {
      val (lang, nll, nGrams) = replay(txt)
      assert(got(id) == ((id, lang, nll, nGrams)), s"doc $id")
    }
    assert(got(0L)._2.contains("en") && got(1L)._2.contains("de") &&
      got(5L)._2.contains("es"))
    assert(got(2L)._2.isEmpty && got(3L)._2.isEmpty)
  }

  test("lmScore ≡ driver replay (exact micro-nat sums + integer-div " +
    "mean); rare words score above common; empty doc zeros; " +
    "partitioning-invariant") {
    val c = Seq(
      (0L, "common common common common rare"),
      (1L, "common common common common common"),
      (2L, ""),
      (3L, "rare unique common")
    ).toDF("doc_id", "text")
    // independent replay: counts + Math.log quantization + exact sums
    val words = c.select($"text").as[String].collect().flatMap(
      _.toLowerCase.replaceAll("[^a-z0-9 ]", " ").split(" ")
        .filter(_.nonEmpty))
    val cnt = words.groupBy(identity).map { case (w, ws) => w -> ws.size }
    val t = words.length.toDouble
    def nll(w: String): Long =
      math.floor(-math.log(cnt(w) / t) * 1e6 + 0.5).toLong
    val expected = c.select($"doc_id", $"text").as[(Long, String)].collect()
      .map { case (id, txt) =>
        val ws = txt.toLowerCase.replaceAll("[^a-z0-9 ]", " ").split(" ")
          .filter(_.nonEmpty)
        val s = ws.map(nll).sum
        id -> ((id, ws.length.toLong, s, if (ws.isEmpty) 0L else s / ws.length))
      }.toMap
    def run(parts: Int) =
      TextAnalysis.lmScore(c.repartition(parts), "doc_id", "text")
        .as[(Long, Long, Long, Long)].collect().toSet
    val got = run(3)
    assert(got === run(1))
    got.foreach { case r @ (id, _, _, _) => assert(r === expected(id)) }
    // the rare-word doc has strictly higher mean NLL than the all-common doc
    val byId = got.map(r => r._1 -> r._4).toMap
    assert(byId(0L) > byId(1L) && byId(3L) > byId(0L))
    assert(byId(2L) === 0L)
  }

  test("lmScoreBigram ≡ driver Stupid-Backoff replay (seen bigram, " +
    "backoff, OOV, first-token paths all fire); partitioning-invariant") {
    val ref = Seq(
      (0L, "the cat sat"), (2L, "the cat ran"), (4L, "a dog sat")
    ).toDF("doc_id", "text")
    val corpus = Seq(
      (0L, "the cat sat"),   // every bigram in the dictionary
      (1L, "the cat zebra"), // unseen bigram whose w2 is also OOV
      (2L, ""),              // empty doc → (0, 0, 0)
      (3L, "sat the cat"),   // unseen bigram over SEEN unigrams → backoff
      (5L, "zebra")          // single OOV token → first-token OOV floor
    ).toDF("doc_id", "text")
    // independent replay
    def toks(s: String): Array[String] =
      s.toLowerCase.replaceAll("[^a-z0-9 ]", " ").split(" ").filter(_.nonEmpty)
    val refToks = ref.select($"text").as[String].collect().map(toks)
    val c1 = refToks.flatten.groupBy(identity).map { case (w, o) => w -> o.size }
    val c12 = refToks.flatMap(ws => ws.zip(ws.drop(1)))
      .groupBy(identity).map { case (p, o) => p -> o.size }
    val t = refToks.map(_.length).sum
    def q(x: Double): Long = math.floor(x * 1e6 + 0.5).toLong
    val oov = q(math.log(t.toDouble))
    def uniNll(w: String): Long =
      c1.get(w).map(c => q(-math.log(c.toDouble / t.toDouble)))
        .getOrElse(oov)
    def tokNll(prev: Option[String], w: String): Long = prev match {
      case None => uniNll(w)
      case Some(p) => c12.get((p, w))
        .map(c => q(-math.log(c.toDouble / c1(p))))
        .getOrElse(916291L + uniNll(w))
    }
    val expected = corpus.as[(Long, String)].collect().map { case (id, s) =>
      val ws = toks(s)
      val nll = ws.zipWithIndex.map { case (w, i) =>
        tokNll(if (i == 0) None else Some(ws(i - 1)), w) }.sum
      id -> ((id, ws.length.toLong, nll,
        if (ws.isEmpty) 0L else nll / ws.length))
    }.toMap
    def run(parts: Int) =
      TextAnalysis.lmScoreBigram(corpus.repartition(parts), "doc_id", "text",
          ref, "text")
        .as[(Long, Long, Long, Long)].collect().toSet
    val got = run(3)
    assert(got === run(1))
    got.foreach { case r @ (id, _, _, _) => assert(r === expected(id)) }
    // self-scoring default: dictionary = corpus, no OOV path
    val self = TextAnalysis.lmScoreBigram(ref, "doc_id", "text")
      .as[(Long, Long, Long, Long)].collect()
    assert(self.length === 3 && self.forall(_._3 > 0))
    // the constant really is round(-ln(0.4) * 1e6)
    assert(TextAnalysis.BackoffNllMicro === q(-math.log(0.4)))
    // an all-empty reference fails fast with the documented message, not
    // an NPE on the null SUM cell
    val emptyRef = Seq((0L, ""), (1L, "!!!")).toDF("doc_id", "text")
    val err = intercept[IllegalArgumentException] {
      TextAnalysis.lmScoreBigram(corpus, "doc_id", "text", emptyRef, "text")
    }
    assert(err.getMessage.contains("no tokens"))
  }

  test("lmScoreTrigram ≡ driver replay (seen trigram, single and double " +
    "backoff, first/second-token, OOV paths all fire); " +
    "partitioning-invariant") {
    val ref = Seq(
      (0L, "the cat sat on the mat"), (2L, "the cat sat on a mat"),
      (4L, "a dog sat")
    ).toDF("doc_id", "text")
    val corpus = Seq(
      (0L, "the cat sat on the mat"), // every trigram seen
      (1L, "cat sat on"),             // seen trigram mid-corpus
      (2L, "on a dog"),               // unseen trigram, seen pair → 1×BO
      (3L, "the cat zebra"),          // unseen trigram, unseen pair, OOV
      (4L, "the cat"),                // 1st = unigram, 2nd = bigram path
      (5L, ""),                       // empty
      (6L, "zebra")                   // single OOV token
    ).toDF("doc_id", "text")
    def toks(s: String): Array[String] =
      s.toLowerCase.replaceAll("[^a-z0-9 ]", " ").split(" ").filter(_.nonEmpty)
    val refToks = ref.select($"text").as[String].collect().map(toks)
    val c1 = refToks.flatten.groupBy(identity).map { case (w, o) => w -> o.size }
    val c12 = refToks.flatMap(ws => ws.zip(ws.drop(1)))
      .groupBy(identity).map { case (p, o) => p -> o.size }
    val c123 = refToks.flatMap(ws =>
        ws.indices.dropRight(2).map(i => (ws(i), ws(i + 1), ws(i + 2))))
      .groupBy(identity).map { case (t, o) => t -> o.size }
    val t = refToks.map(_.length).sum
    def q(x: Double): Long = math.floor(x * 1e6 + 0.5).toLong
    val oov = q(math.log(t.toDouble))
    val bo = 916291L
    def uniNll(w: String): Long =
      c1.get(w).map(c => q(-math.log(c.toDouble / t.toDouble))).getOrElse(oov)
    def biNll(p: String, w: String): Long =
      c12.get((p, w)).map(c => q(-math.log(c.toDouble / c1(p))))
        .getOrElse(bo + uniNll(w))
    def triNll(p2: Option[String], p1: Option[String], w: String): Long =
      (p2, p1) match {
        case (None, None) => uniNll(w)
        case (None, Some(p)) => biNll(p, w)
        case (Some(a), Some(p)) => c123.get((a, p, w))
          .map(c => q(-math.log(c.toDouble / c12((a, p)))))
          .getOrElse(bo + biNll(p, w))
        case _ => fail("impossible context")
      }
    val expected = corpus.as[(Long, String)].collect().map { case (id, s) =>
      val ws = toks(s)
      val nll = ws.indices.map { i =>
        triNll(if (i >= 2) Some(ws(i - 2)) else None,
          if (i >= 1) Some(ws(i - 1)) else None, ws(i)) }.sum
      id -> ((id, ws.length.toLong, nll,
        if (ws.isEmpty) 0L else nll / ws.length))
    }.toMap
    def run(parts: Int) =
      TextAnalysis.lmScoreTrigram(corpus.repartition(parts), "doc_id",
          "text", ref, "text")
        .as[(Long, Long, Long, Long)].collect().toSet
    val got = run(3)
    assert(got === run(1))
    got.foreach { case r @ (id, _, _, _) => assert(r === expected(id)) }
    // self-scoring default runs and covers every doc
    assert(TextAnalysis.lmScoreTrigram(ref, "doc_id", "text")
      .count() === 3)
  }
}
