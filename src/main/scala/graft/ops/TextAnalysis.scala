package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis primitives for training-data curation: language ID,
  * quality scoring, token counting, document fingerprinting. All narrow,
  * codegen'd Column expressions — per-row cost only, embarrassingly
  * parallel at 100 TB.
  */
object TextAnalysis {

  /** Tiny per-language stopword profiles for the n-gram/stopword heuristic
    * language ID. Deliberately small: the point is the Spark shape
    * (argmax over per-language match scores), not lexicography.
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "it", "that", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es", "se", "no"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein", "zu", "den", "mit", "von"),
    "fr" -> Seq("le", "la", "de", "et", "un", "est", "que", "en", "du", "pour"))

  /** Language ID: argmax of stopword hit-counts; "und" (undetermined) when
    * nothing matches.
    */
  def langId(text: Column): Column = {
    val words = split(lower(text), "\\s+")
    val scores = stopwords.toSeq.sortBy(_._1).map { case (lang, sw) =>
      struct(
        size(array_intersect(words, array(sw.map(lit): _*))).as("score"),
        lit(lang).as("lang"))
    }
    val best = array_max(array(scores: _*))
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Whitespace token count. */
  def tokenCountWs(text: Column): Column =
    when(length(trim(text)) === 0, 0).otherwise(size(split(trim(text), "\\s+")))

  /** BPE-ish token count: word pieces + digits + punctuation as separate
    * tokens (regex approximation of a byte-pair tokenizer's pre-tokenizer).
    */
  def tokenCountBpe(text: Column): Column =
    size(regexp_extract_all(text,
      lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0)))

  /** Heuristic quality score in [0,1]: mixes length band, alpha ratio,
    * stopword ratio, and mean word length band — the usual cheap filters
    * before expensive dedup/training.
    */
  def qualityScore(text: Column): Column = {
    val t = trim(text)
    val nChars = length(t).cast("double")
    val words = split(lower(t), "\\s+")
    val nWords = size(words).cast("double")
    val alphaRatio = (length(regexp_replace(t, "[^A-Za-z ]", "")).cast("double") /
      greatest(nChars, lit(1.0)))
    val allStop = array_distinct(flatten(array(
      stopwords.values.toSeq.map(sw => array(sw.map(lit): _*)): _*)))
    val stopRatio = size(array_intersect(words, allStop)).cast("double") /
      greatest(nWords, lit(1.0))
    val meanWordLen = nChars / greatest(nWords, lit(1.0))
    val lenScore = when(nWords.between(5, 5000), 1.0)
      .when(nWords.between(2, 10000), 0.5).otherwise(0.0)
    val wordLenScore = when(meanWordLen.between(3.0, 12.0), 1.0).otherwise(0.3)
    round((lenScore * 0.3 + alphaRatio * 0.3 +
      least(stopRatio * lit(3.0), lit(1.0)) * 0.2 + wordLenScore * 0.2), 4)
  }

  /** Content fingerprint: hash of the normalized token sequence
    * (lowercase, punctuation stripped, whitespace collapsed) — a rolling-
    * hash-style canonical id; equal fingerprints ⇒ same normalized content.
    */
  def fingerprint(text: Column): Column =
    xxhash64(array_join(
      filter(split(regexp_replace(lower(text), "[^a-z0-9\\s]", " "), "\\s+"),
        w => w =!= ""), " "))

  /** BPE merge-step statistics — the inner loop of byte-pair-encoding
    * tokenizer training: the corpus-wide frequency of every ADJACENT
    * symbol pair, where the initial symbol sequence of a word is its
    * characters (the classic Sennrich et al. setup before any merge).
    * The highest-count pair is the next merge a BPE trainer would apply;
    * the top-k frame is the trainer's candidate table. Output at most k
    * rows (lhs, rhs, pair_count), count desc, ties by (lhs, rhs) —
    * a total order, so the k-boundary is deterministic across engines.
    *
    * Scale shape (the reason this is corpus-size-robust): pairs are NOT
    * exploded from the corpus. The first aggregation collapses the corpus
    * to the (word, freq) vocabulary — map-side partials absorb hot words,
    * and the vocabulary is bounded by the language, not the corpus (a
    * 100 TB crawl still has ~10^7-10^8 distinct normalized words). The
    * per-character pair explode then runs over DISTINCT words only,
    * weighted by freq; the second aggregation is over the tiny pair
    * dimension (≤ alphabet²·avg-word-len groups) and the final top-k
    * plans as TakeOrderedAndProject — bounded per-partition k, single
    * driver merge, never a full sort.
    */
  def bpePairCounts(df: DataFrame, textCol: String, k: Int,
                    minCount: Long = 2L): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(minCount >= 1, s"minCount must be >= 1: $minCount")
    val vocab = df
      .select(explode(Curation.normWords(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    vocab
      .select(col("freq"), explode(
        when(length(col("w")) >= 2,
          transform(sequence(lit(1), length(col("w")) - 1),
            i => struct(col("w").substr(i, lit(1)).as("lhs"),
              col("w").substr(i + 1, lit(1)).as("rhs"))))
          .otherwise(array().cast("array<struct<lhs:string,rhs:string>>")))
        .as("p"))
      .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
      .agg(sum(col("freq")).as("pair_count"))
      .where(col("pair_count") >= minCount)
      .orderBy(col("pair_count").desc, col("lhs"), col("rhs"))
      .limit(k)
  }

  /** Unigram LM negative-log-likelihood dictionary over a reference
    * corpus: (w, cnt, nll_micro) with nll = −ln(cnt / T), quantized ONCE
    * per dictionary row (the [[Bm25]] idf_micro convention — `ln` runs
    * per distinct word, never per token; exact counts ride along so an
    * oracle's join ON (w, cnt) cross-checks the counting while importing
    * only the quantized transcendental).
    */
  /** −ln(p) in integer micro-nats — the ONE quantization every LM
    * dictionary row goes through (engine paths, Verify dumps, and the
    * oracles' imports must stay bit-identical, so the formula lives
    * exactly once).
    */
  private def nllMicro(p: Column): Column =
    floor(-log(p) * 1e6 + 0.5d).cast("long")

  def unigramNllDict(ref: DataFrame, textCol: String): DataFrame = {
    val counts = ref
      .select(explode(Curation.normWords(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val tot = counts.agg(sum(col("cnt")).as("_t"))
    counts.crossJoin(broadcast(tot))
      .select(col("w"), col("cnt"),
        nllMicro(col("cnt").cast("double") / col("_t")).as("nll_micro"))
  }

  /** Perplexity-style quality scoring (the CCNet / Wenzek et al. LM
    * filter, scale-shaped: CCNet scores with a KenLM 5-gram — the Spark
    * side is IDENTICAL for any order (broadcast token→score dictionary,
    * exact integer sums per document); the n-gram table itself is a
    * documented model seam, like the Multimodal codec). Scores every
    * document by total and mean token NLL in integer micro-nats:
    * (doc_id, n_tokens, nll_micro, mean_nll_micro) — exact long sums and
    * an exact integer division, so ranking/thresholding on the score is
    * partitioning-invariant and bit-replayable in SQL. Documents with no
    * tokens score (0, 0, 0). Scoring corpus = dictionary corpus (the
    * self-scoring setup), so every token is in the dictionary.
    */
  def lmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val dict = unigramNllDict(df, textCol)
    df.select(col(idCol).as("doc_id"),
        explode_outer(Curation.normWords(col(textCol))).as("w"))
      .join(broadcast(dict.select(col("w"),
        col("nll_micro").as("_nll"))), Seq("w"), "left")
      .transform(scoreTail(_, "w"))
  }

  /** Stupid-Backoff score of −ln(0.4) in micro-nats: the backoff factor
    * is a spec CONSTANT (Brants et al. 2007 fix α = 0.4), so both the
    * engine and any SQL replay carry the same integer literal — it is
    * not a per-row transcendental import.
    */
  val BackoffNllMicro: Long = 916291L // round(-ln(0.4) * 1e6)

  /** OOV floor −ln(1/T) = ln(T) in micro-nats, quantized once per corpus
    * — the ONE definition shared by both backoff scorers and the Verify
    * dump (a drifted copy would silently desynchronize the engine from
    * the dumped `_input_lm2tot` import).
    */
  private[graft] def oovFloorMicro(tot: Long): Long =
    math.floor(math.log(tot.toDouble) * 1e6 + 0.5d).toLong

  /** The per-document scoring tail every LM scorer shares: exact long
    * sums + exact integer-division mean; empty docs score (0, 0, 0).
    */
  private def scoreTail(toks: DataFrame, tokCol: String): DataFrame =
    toks.groupBy(col("doc_id"))
      .agg(count(col(tokCol)).as("n_tokens"),
        coalesce(sum(col("_nll")), lit(0L)).as("nll_micro"))
      .withColumn("mean_nll_micro",
        when(col("n_tokens") === 0, lit(0L))
          .otherwise(expr("nll_micro div n_tokens"))) // exact integer div

  /** The bigram-dictionary join over (w1, w2, c12) pair counts and
    * (w1, c1) context counts — shared by [[bigramNllDictFrom]] and the
    * trigram scorer's backoff level so the quantized rows cannot drift.
    */
  private def bigramNllJoin(c12: DataFrame, c1: DataFrame): DataFrame =
    c12.join(c1, Seq("w1"))
      .select(col("w1"), col("w2"), col("c12"), col("c1"),
        nllMicro(col("c12").cast("double") / col("c1")).as("nll_micro"))

  /** Bigram conditional-NLL dictionary over a reference corpus:
    * (w1, w2, c12, c1, nll_micro) with nll = −ln(c12 / c1), quantized
    * ONCE per dictionary row (the [[unigramNllDict]] / [[Bm25]]
    * convention — both exact counts ride along so an oracle's join
    * ON (w1, w2, c12, c1) cross-checks the counting while importing only
    * the quantized transcendental). The dictionary is bounded by the
    * OBSERVED bigram vocabulary, not the corpus: broadcastable to ~10^7
    * rows; past that the scale path is the [[Bm25]]-style durable
    * hash-range-clustered dictionary join.
    */
  def bigramNllDict(ref: DataFrame, textCol: String): DataFrame =
    bigramNllDictFrom(pairCountRows(ref, textCol).localCheckpoint(true))

  /** The dictionary select over a (computed-once) pair-count frame — the
    * engine's scoring path and the Verify dump both route through here,
    * so their quantized rows are bit-identical by construction.
    */
  private def bigramNllDictFrom(pc: DataFrame): DataFrame =
    bigramNllJoin(pc.where(col("w2").isNotNull),
      pc.groupBy(col("w1")).agg(sum(col("c12")).as("c1")))

  /** (w1, w2 = following word or NULL at document end, c12): every token
    * contributes exactly one row as w1, so `SUM(c12) GROUP BY w1` is the
    * corpus unigram count — the bigram AND unigram dictionaries both
    * derive from this ONE corpus scan (the [[Bm25]] single-scan lesson).
    */
  private def pairCountRows(ref: DataFrame, textCol: String): DataFrame = {
    val words = Curation.normWords(col(textCol))
    ref.select(explode(when(size(words) >= 1,
        zip_with(words,
          concat(slice(words, lit(2), size(words) - 1),
            array(lit(null).cast("string"))),
          (a, b) => struct(a.as("w1"), b.as("w2"))))
      .otherwise(array()
        .cast("array<struct<w1:string,w2:string>>"))).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("c12"))
  }

  /** Trigram conditional-NLL dictionary: (w1, w2, w3, c123, c12,
    * nll_micro) with nll = −ln(c123 / c12) — the order-3 extension of
    * [[bigramNllDict]], same conventions (counts ride along, one
    * quantization per row).
    */
  def trigramNllDict(ref: DataFrame, textCol: String): DataFrame = {
    val pc3 = tripleCountRows(ref, textCol).localCheckpoint(true)
    trigramNllDictFrom(pc3, pairCountsOf(pc3))
  }

  /** (w1, w2, c12) pair-context counts folded from the triple frame. */
  private def pairCountsOf(pc3: DataFrame): DataFrame =
    pc3.where(col("w2").isNotNull)
      .groupBy(col("w1"), col("w2")).agg(sum(col("c")).as("c12"))

  private def trigramNllDictFrom(pc3: DataFrame,
                                 c12: DataFrame): DataFrame =
    pc3.where(col("w3").isNotNull)
      .withColumnRenamed("c", "c123")
      .join(c12, Seq("w1", "w2"))
      .select(col("w1"), col("w2"), col("w3"), col("c123"), col("c12"),
        nllMicro(col("c123").cast("double") / col("c12")).as("nll_micro"))

  /** (w1, w2-or-null, w3-or-null, c): position i of each document
    * contributes (w_i, w_{i+1}, w_{i+2}) with nulls past the end — so
    * unigram counts are Σ c BY w1, bigram counts Σ over non-null-w2 rows
    * BY (w1, w2), and trigram counts the non-null-w3 rows: ONE corpus
    * scan carries all three dictionaries (the [[pairCountRows]] trick,
    * one order higher). The word array materializes BEFORE the transform
    * so the lambda captures an attribute, not the normWords tree (the
    * ngramsFromWords lesson).
    */
  private def tripleCountRows(ref: DataFrame, textCol: String): DataFrame = {
    val ws = col("_ws")
    val n = size(ws)
    ref.select(Curation.normWords(col(textCol)).as("_ws"))
      .select(explode(when(n >= 1,
          transform(sequence(lit(1), n), i => struct(
            element_at(ws, i).as("w1"),
            when(i + 1 <= n, element_at(ws, i + 1)).as("w2"),
            when(i + 2 <= n, element_at(ws, i + 2)).as("w3"))))
        .otherwise(array()
          .cast("array<struct<w1:string,w2:string,w3:string>>"))).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"),
        col("p.w3").as("w3"))
      .agg(count(lit(1)).as("c"))
  }

  /** Trigram LM scoring with the two-level Stupid Backoff chain — the
    * order-3 instance proving the [[lmScoreBigram]] shape composes to
    * ANY order (each additional order is one more dictionary from the
    * SAME single corpus scan plus one more broadcast join):
    *
    *   −ln( c123/c12 )                      seen trigram,
    *   −ln(0.4) + bigram score              unseen trigram,
    *   (first token scores as a unigram, the second as a bigram — no
    *    backoff charge where no conditioning context exists)
    *
    * with the bigram score itself backing off to 0.4·unigram and the
    * OOV floor exactly as in [[lmScoreBigram]]. Every `ln` quantizes per
    * dictionary row; per-doc scores are exact long sums. Output:
    * (doc_id, n_tokens, nll_micro, mean_nll_micro).
    */
  def lmScoreTrigram(df: DataFrame, idCol: String, textCol: String,
                     ref: DataFrame = null, refTextCol: String = null)
      : DataFrame = {
    val refDf = Option(ref).getOrElse(df)
    val refText = Option(refTextCol).getOrElse(textCol)
    val pc3 = tripleCountRows(refDf, refText).localCheckpoint(true)
    // the (w1, w2, c12) frame is computed ONCE and feeds both the trigram
    // dictionary's denominator and the backoff level's numerator
    val c12 = pairCountsOf(pc3).localCheckpoint(true)
    val tri = trigramNllDictFrom(pc3, c12)
      .select(col("w1").as("p2"), col("w2").as("p1"), col("w3").as("w"),
        col("nll_micro").as("_t3"))
    val c1 = pc3.groupBy(col("w1")).agg(sum(col("c")).as("c1"))
    val bi = bigramNllJoin(c12, c1)
      .select(col("w1").as("p1"), col("w2").as("w"),
        col("nll_micro").as("_b"))
    val totRow = c1.agg(sum(col("c1"))).head()
    require(!totRow.isNullAt(0) && totRow.getLong(0) > 0,
      "lmScoreTrigram: reference corpus has no tokens")
    val tot = totRow.getLong(0)
    val oovMicro = oovFloorMicro(tot)
    val uni = c1.select(col("w1").as("w"),
      nllMicro(col("c1").cast("double") / tot.toDouble).as("_u"))
    val words = Curation.normWords(col(textCol))
    val toks = df.select(col(idCol).as("doc_id"), words.as("_ws"))
      .select(col("doc_id"), explode_outer(when(size(col("_ws")) >= 1,
          transform(sequence(lit(1), size(col("_ws"))), i => struct(
            when(i >= 3, element_at(col("_ws"), i - 2)).as("p2"),
            when(i >= 2, element_at(col("_ws"), i - 1)).as("p1"),
            element_at(col("_ws"), i).as("w"))))
        .otherwise(array()
          .cast("array<struct<p2:string,p1:string,w:string>>"))).as("t"))
      .select(col("doc_id"), col("t.p2").as("p2"), col("t.p1").as("p1"),
        col("t.w").as("w"))
    val uniOrOov = coalesce(col("_u"), lit(oovMicro))
    val biChain = when(col("_b").isNotNull, col("_b"))
      .otherwise(lit(BackoffNllMicro) + uniOrOov)
    toks
      .join(broadcast(tri), Seq("p2", "p1", "w"), "left")
      .join(broadcast(bi), Seq("p1", "w"), "left")
      .join(broadcast(uni), Seq("w"), "left")
      .withColumn("_nll",
        when(col("w").isNull, lit(null).cast("long"))  // empty doc
          .when(col("_t3").isNotNull, col("_t3"))      // seen trigram
          .when(col("p2").isNull && col("p1").isNull, uniOrOov) // 1st tok
          .when(col("p2").isNull, biChain)             // 2nd token
          .otherwise(lit(BackoffNllMicro) + biChain))  // trigram backoff
      .transform(scoreTail(_, "w"))
  }

  /** Bigram LM quality scoring with Stupid Backoff (Brants et al. 2007 —
    * the published WEB-SCALE distributed n-gram LM: no normalization
    * pass, so the dictionary build stays one aggregation): closes the
    * [[lmScore]] doc's "KenLM-style n-gram table" seam at order 2. Each
    * token scores
    *
    *   −ln( c(w1,w2)/c(w1) )          seen bigram,
    *   −ln(0.4) + −ln( c(w2)/T )      unseen bigram, seen unigram,
    *   −ln(0.4) + −ln( 1/T )          out-of-vocabulary token,
    *
    * and a document's FIRST token scores as a plain unigram (no backoff
    * charge — there is no conditioning context to back off from). Every
    * `ln` is quantized once per dictionary row; the backoff charge is the
    * integer spec constant [[BackoffNllMicro]]; the OOV floor −ln(1/T)
    * quantizes once per CORPUS (one tiny dictionary-total collect, like
    * the BPE trainer's 1-row argmax). Per-doc scores are therefore exact
    * long sums + one exact integer division — partitioning-invariant,
    * rankable, bit-replayable in SQL.
    *
    * `ref` is the dictionary corpus (defaults to `df`, the self-scoring
    * setup); pass a CLEAN reference (the Wenzek et al. usage) to score a
    * raw corpus against it — unseen bigrams then genuinely back off and
    * unknown words pay the OOV floor. Output: (doc_id, n_tokens,
    * nll_micro, mean_nll_micro); empty docs score (0, 0, 0).
    *
    * Scale shape: both dictionaries broadcast; the corpus explodes to one
    * row per token (narrow), takes two broadcast hash joins, and
    * collapses back to one row per doc in a single partial-agg'd
    * exchange — the [[lmScore]] plan plus one join, no new shuffle.
    */
  def lmScoreBigram(df: DataFrame, idCol: String, textCol: String,
                    ref: DataFrame = null, refTextCol: String = null)
      : DataFrame = {
    val refDf = Option(ref).getOrElse(df)
    val refText = Option(refTextCol).getOrElse(textCol)
    // ONE reference-corpus scan: the (w1, w2-or-null) pair counts carry
    // both dictionaries (the Bm25 single-scan lesson); the frame is
    // bounded by the observed bigram vocabulary, so the eager
    // localCheckpoint is small and every consumer below reuses it.
    val pc = pairCountRows(refDf, refText).localCheckpoint(true)
    val c1 = pc.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val bi = bigramNllDictFrom(pc)
      .select(col("w1"), col("w2"), col("nll_micro").as("_b"))
    // OOV floor: -ln(1/T) = ln(T), quantized once per corpus (T is the
    // reference token total — one tiny scalar action, like the BPE
    // trainer's per-iteration argmax). head() on SUM of an empty frame
    // yields a NULL cell, so check it before getLong.
    val totRow = c1.agg(sum(col("c1"))).head()
    require(!totRow.isNullAt(0) && totRow.getLong(0) > 0,
      "lmScoreBigram: reference corpus has no tokens")
    val tot = totRow.getLong(0)
    val oovMicro = oovFloorMicro(tot)
    val uni = c1.select(col("w1").as("w2"),
      nllMicro(col("c1").cast("double") / tot.toDouble).as("_u"))
    val words = Curation.normWords(col(textCol))
    // one row per token: (w1 = previous word or null-at-doc-start, w2)
    val toks = df.select(col(idCol).as("doc_id"),
        explode_outer(when(size(words) >= 1,
          zip_with(
            concat(array(lit(null).cast("string")),
              slice(words, lit(1), size(words) - 1)),
            words,
            (a, b) => struct(a.as("w1"), b.as("w2"))))
          .otherwise(array()
            .cast("array<struct<w1:string,w2:string>>"))).as("t"))
      .select(col("doc_id"), col("t.w1").as("w1"), col("t.w2").as("w2"))
    toks
      .join(broadcast(bi), Seq("w1", "w2"), "left")
      .join(broadcast(uni), Seq("w2"), "left")
      .withColumn("_nll",
        when(col("w2").isNull, lit(null).cast("long")) // empty doc
          .when(col("_b").isNotNull, col("_b"))        // seen bigram
          .when(col("w1").isNull, coalesce(col("_u"), lit(oovMicro)))
          .otherwise(lit(BackoffNllMicro) +
            coalesce(col("_u"), lit(oovMicro))))
      .transform(scoreTail(_, "w2"))
  }

  /** One-stop profile frame used by tests and SparkEntry queries. */
  def profile(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("lang_id", langId(col(textCol)))
      .withColumn("n_tokens_ws", tokenCountWs(col(textCol)))
      .withColumn("n_tokens_bpe", tokenCountBpe(col(textCol)))
      .withColumn("quality", qualityScore(col(textCol)))
      .withColumn("fingerprint", fingerprint(col(textCol)))

  // --------------- character-n-gram language ID (TextCat / fastText-lid
  // shaped): add-one-smoothed Naive Bayes over char n-gram profiles
  // trained from a labeled seed — the upgrade of the stopword-argmax
  // heuristic in [[textProfile]] to the published technique (Cavnar &
  // Trenkle 1994 profiles; the NB scoring is the langid.py formulation).

  /** Character n-grams of the LOWERCASED text (case is not a language
    * signal), overlapping, order preserved; fewer than `n` chars → empty.
    */
  def charNgrams(text: Column, n: Int = 3): Column = {
    require(n >= 1, s"n must be >= 1: $n")
    val t = lower(text)
    when(length(t) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), length(t) - (n - 1)),
        i => t.substr(i, lit(n))))
  }

  /** Train the classifier dictionaries from a labeled seed:
    * `(dict, floors)` where dict = (g, lang, cnt, delta_micro) and
    * floors = (lang, t_total, v_size, floor_micro).
    *
    * Scoring identity that shapes everything: with add-one smoothing over
    * the seed's SHARED gram vocabulary V,
    * `nll(doc | lang) = floor(lang)·|grams(doc)| + Σ_seen delta(lang, g)`
    * where floor(lang) = −ln(1/(T_lang+|V|)) is the unseen-gram cost and
    * delta = nll(seen) − floor ≤ 0 — so scoring only ever looks up the
    * grams a language has actually seen instead of pricing every
    * doc-gram against every language. Every `ln` quantizes ONCE per
    * dictionary row into integer micro-nats (the Bm25 idf convention),
    * so per-doc scores are exact long sums: order-independent,
    * partitioning-invariant, and the oracle recomputes every count
    * relationally, importing only the two quantized-ln columns
    * (cross-checked by joining ON the counts).
    */
  def langIdDicts(seed: DataFrame, langCol: String, textCol: String,
                  n: Int = 3): (DataFrame, DataFrame) = {
    require(seed.columns.contains(langCol), s"missing column: $langCol")
    require(seed.columns.contains(textCol), s"missing column: $textCol")
    // unlabeled seed rows train nothing (a NULL lang would otherwise
    // become a NULL "language" in the profile set). localCheckpoint: the
    // totals / vocab-size / delta branches AND both driver collects in
    // langIdNgram consume this frame — without it the seed gram
    // explode+aggregation recomputes per consumer (the
    // bigramNllDict/pairCountRows convention).
    val counts = seed.where(col(langCol).isNotNull)
      .select(col(langCol).as("lang"),
        explode(charNgrams(col(textCol), n)).as("g"))
      .groupBy("lang", "g").agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val totals = counts.groupBy("lang").agg(sum("cnt").as("t_total"))
    val vsize = counts.select("g").distinct()
      .agg(count(lit(1)).as("v_size"))
    val floors = totals.crossJoin(broadcast(vsize))
      .select(col("lang"), col("t_total"), col("v_size"),
        nllMicro(lit(1.0) / (col("t_total") + col("v_size")))
          .as("floor_micro"))
    val dict = counts.join(broadcast(floors), Seq("lang"))
      .select(col("g"), col("lang"), col("cnt"),
        (nllMicro((col("cnt") + 1).cast("double") /
          (col("t_total") + col("v_size"))) - col("floor_micro"))
          .as("delta_micro"))
    (dict, floors)
  }

  /** Classify every document: `(doc_id, pred_lang, nll_micro, n_grams)` —
    * argmin total NLL, ties broken by lang ascending (a total order, so
    * the prediction is deterministic and engine-replayable); documents
    * with fewer than `n` characters, or NULL text, predict NULL with
    * `n_grams` 0.
    *
    * Scale shape: the trained dictionaries collect to the driver
    * (seed-scale — V×L rows, the trained-artifact precedent) and ride as
    * the reference object of one codegen'd pass
    * ([[graft.expr.LangIdScore]]): every document scores in one
    * code-point sweep with no explode, join or aggregation — zero
    * shuffle at any corpus size. TextAnalysisSpec checks it against a
    * driver replay of the NB formulation; the q_langid_ngram oracle
    * replays it in SQL.
    */
  def langIdNgram(df: DataFrame, idCol: String, textCol: String,
                  seed: DataFrame, seedLangCol: String,
                  n: Int = 3): DataFrame = {
    require(df.columns.contains(idCol), s"missing column: $idCol")
    require(df.columns.contains(textCol), s"missing column: $textCol")
    val (dict, floors) = langIdDicts(seed, seedLangCol, textCol, n)
    val floorRows = floors.select("lang", "floor_micro").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    require(floorRows.nonEmpty, "language-ID seed trained no languages " +
      "(empty, unlabeled, or every text shorter than the gram size)")
    val deltaRows = dict.select("g", "lang", "delta_micro").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    val d = graft.expr.LangIdScore.buildDict(floorRows, deltaRows)
    // coalesce: a NULL text scores like a too-short one (pred NULL,
    // n_grams 0) instead of nulling the whole struct
    df.select(col(idCol).as("doc_id"),
        graft.expr.LangIdScore.langid_score(
          coalesce(col(textCol), lit("")), n, d).as("_s"))
      .select(col("doc_id"), col("_s.pred_lang").as("pred_lang"),
        col("_s.nll_micro").as("nll_micro"),
        col("_s.n_grams").as("n_grams"))
  }
}
