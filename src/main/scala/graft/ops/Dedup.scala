package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Large-scale deduplication for training-data pipelines.
  *
  * All variants are pure DataFrame/Column compositions — deterministic
  * (hash-derived "randomness", no rand()), shuffle-aware:
  *
  *  - exact: one hash-groupBy shuffle on the content key.
  *  - MinHash+LSH: shingle → per-row minhash signature (narrow) → explode
  *    bands → bucket self-join (shuffle on band key only; never all-pairs)
  *    → exact Jaccard verify on candidates.
  *  - SimHash: 64-bit signature (narrow) → 4×16-bit band join (Hamming ≤ 3
  *    guarantee via pigeonhole) → exact Hamming verify.
  *  - n-gram Jaccard: exact verify path shared with MinHash candidates.
  *  - embedding cosine: random-hyperplane LSH buckets → in-bucket verify,
  *    plus a brute-force baseline in [[Similarity]].
  *
  * At 100 TB the only all-to-all operations are bucket joins whose key
  * cardinality is tuned by (numHashes, bands) / planes — the classic
  * LSH trade; candidate verification touches only colliding pairs.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact dedup on a content key: keep the smallest id per key. */
  def exact(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_dupes"))

  /** Rows to KEEP after exact dedup (first id wins). NOT a
    * row_number-over-key window: that plan funnels every row of a hot
    * content key through ONE window task — and a corpus of millions of
    * byte-identical boilerplate docs is exactly the population an
    * exact-dedup pass exists for. Instead the winner set comes from
    * [[exact]] (a hash aggregate whose map-side partials collapse hot keys
    * before the shuffle) and a semi-join on the COMPOSITE (key, id): both
    * join sides are unique on that key, so no partition ever concentrates
    * a duplicated value. Semantics identical (first id wins).
    */
  def exactKeep(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame = {
    val winners = exact(df, idCol, keyCols).select((keyCols :+ idCol).map(col): _*)
    df.join(winners, keyCols :+ idCol, "left_semi")
      .select(df.columns.map(col): _*) // using-join reorders; restore input order
  }

  /** PARAGRAPH-level exact dedup (the RefinedWeb / CCNet line-dedup pass —
    * boilerplate paragraphs repeat across millions of pages while the
    * documents containing them are unique, so document-level dedup never
    * sees them): split each document on `sepRegex`, trim, drop empty
    * segments, and keep each distinct paragraph ONLY in the smallest
    * doc_id containing it (keep-first, the [[exact]] convention). Returns
    * every corpus row: (doc_id, n_paras, n_kept, clean_text) with
    * clean_text = the surviving paragraphs re-joined by `joinSep` in
    * original document order ("" when everything was dropped).
    *
    * Scale shape: paragraphs explode narrowly (doc_id, idx, para); the
    * winner-per-paragraph frame is a partial-agg'd groupBy on the 8-byte
    * xxhash64 of the paragraph — map-side combine collapses a boilerplate
    * paragraph shared by 10^7 docs before the shuffle (never a
    * row_number-over-content window, same reasoning as [[exactKeep]]).
    * The ownership join back is keyed on that hash; a mega-hot paragraph
    * makes a skewed join partition, which AQE's skew-join split handles
    * (the build side is one row per hash). Reassembly is one per-doc
    * aggregation: collect kept (idx, para) structs, array_sort (struct
    * order = idx order), join — bounded by one document's length, never
    * by key frequency. Matching is on xxhash64 (8-byte keys through the
    * exchanges); DedupSpec cross-checks against string-keyed replay.
    */
  def paragraphDedup(corpus: DataFrame, idCol: String, textCol: String,
                     sepRegex: String = "\\n{2,}",
                     joinSep: String = "\n\n"): DataFrame = {
    val paras = corpus
      .select(col(idCol).as("doc_id"),
        posexplode(filter(transform(split(col(textCol), sepRegex),
          p => trim(p)), p => p =!= "")).as(Seq("idx", "para")))
      .withColumn("_h", xxhash64(col("para")))
    val owners = paras.groupBy(col("_h")).agg(min(col("doc_id")).as("_keep_id"))
    val marked = paras.join(owners, Seq("_h"))
      .withColumn("_keep", col("doc_id") === col("_keep_id"))
    val agg = marked.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_paras"),
        count_if(col("_keep")).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("_keep"),
            struct(col("idx"), col("para"))))),
          s => s("para")), joinSep).as("clean_text"))
    corpus.select(col(idCol).as("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_paras"), lit(0L)).as("n_paras"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  // ------------------------------------------------------------- shingles

  /** Word k-shingles of a text column (lowercased), distinct. Implemented
    * as the codegen'd [[graft.expr.WordShingles]] expression; the HOF
    * formula it replaced is kept as [[wordShinglesHof]], MinHashSpec's
    * independent cross-check (bit-identical output, element order
    * included).
    */
  def wordShingles(text: Column, k: Int = 3): Column =
    graft.expr.WordShingles.word_shingles(text, k)

  /** The original HOF shingling formula — kept ONLY as the cross-check
    * implementation. The split-words array is bound as a LAMBDA VARIABLE
    * (a one-element outer `transform`), not captured from the enclosing
    * scope: a captured subtree is re-evaluated by the interpreted HOF path
    * once per inner-lambda invocation — i.e. the `split` would re-run once
    * per shingle position (~word-count× per doc, the same trap measured
    * at 13.7× on the Curation n-gram path) — while a lambda variable is
    * a per-row value read.
    */
  private[ops] def wordShinglesHof(text: Column, k: Int = 3): Column =
    array_distinct(flatten(transform(array(split(lower(text), "\\s+")), w =>
      filter(
        transform(sequence(lit(0), greatest(size(w) - k, lit(0))),
          i => when(i + k <= size(w),
            array_join(slice(w, i + 1, lit(k)), " "))),
        s => s.isNotNull))))

  // ------------------------------------------------------------- minhash

  /** MinHash signature: array of `numHashes` min-over-shingles hashes,
    * hash_j(s) = xxhash64(xxhash64(s), j) — deterministic family.
    * Implemented as the custom codegen'd [[graft.expr.MinHashSig]]
    * expression: one pass, one flat minima array per row. The HOF formula
    * it replaced ([[minhashSignatureHof]]) is kept as the independent
    * cross-check — MinHashSpec proves them bit-identical, which is what
    * keeps the Verify dump and the DuckDB band-join oracles valid.
    */
  def minhashSignature(shingles: Column, numHashes: Int = 64): Column =
    graft.expr.MinHashSig.minhash_sig(shingles, numHashes)

  /** The original Column-formula signature (interpreted HOF path), kept
    * ONLY as MinHashSpec's independent implementation of the same hash
    * family. Loop structure note preserved: ONE `aggregate` over the
    * shingles maintaining all minima — the transposed form
    * `transform(0..n-1, j => array_min(transform(shingles, s => xxhash64(s, j))))`
    * re-evaluates (re-hashes) every shingle string once per hash function
    * (measured 64× slowdown); and vs [[MinHashSig]] this still allocates a
    * fresh `numHashes`-long accumulator per shingle (measured ≈14× slower
    * on the signature math at bench scale — 1.00 s vs 0.07 s for 5k docs).
    */
  private[ops] def minhashSignatureHof(shingles: Column,
                                       numHashes: Int = 64): Column =
    aggregate(
      transform(shingles, s => xxhash64(s)),
      array_repeat(lit(Long.MaxValue), numHashes),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(numHashes - 1)),
        (m, j) => least(m, xxhash64(h, j))))

  /** Default per-(band,bucket) candidate cap. A degenerate bucket (mass-
    * duplicated boilerplate all hashing to one band value) makes the LSH
    * self-join quadratic IN-BUCKET; capping bounds any bucket's pair count
    * to C(cap,2). Run [[exactKeep]] first so the cap only ever drops
    * genuinely near-identical survivors, and count overflow via `obsTag`.
    */
  val DefaultBucketCap = 2048

  /** Candidate pairs via banded LSH over minhash signatures.
    * Output: (id_a, id_b, jaccard_est) with id_a < id_b, distinct.
    *
    * Cache lifecycle: [[minhashCandidatesFromSig]] `localCheckpoint(eager)`s
    * the signature frame — computed once, read by both self-join sides
    * and both estimate joins, and its blocks are
    * released by the ContextCleaner when the result frame is dropped
    * (plain `persist` would pin blocks in the CacheManager until an
    * explicit unpersist, leaking across calls in a long-lived session).
    * At real scale the signature frame is the durable index artifact —
    * write it to a table and reuse it across dedup runs.
    */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 64, bands: Int = 16,
                        shingleK: Int = 3,
                        bucketCap: Int = DefaultBucketCap,
                        obsTag: Option[String] = None): DataFrame =
    minhashCandidatesFromSig(
      df.select(col(idCol).as("id"),
        minhashSignature(wordShingles(col(textCol), shingleK), numHashes).as("sig")),
      numHashes, bands, bucketCap, obsTag)

  /** LSH band array of a minhash signature column:
    * `array<struct<band_idx, band_hash>>`. ONE shared implementation —
    * [[bandExplode]] (batch self-join + incremental index path) and the
    * Verify correctness dump must produce byte-identical band hashes, or
    * cross pairs silently vanish / the DuckDB band-join oracle diverges.
    */
  def minhashBandsCol(sig: Column, numHashes: Int = 64,
                      bands: Int = 16): Column = {
    val rows = numHashes / bands
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band_idx"),
        xxhash64(concat_ws(",",
          slice(sig, b * rows + 1, lit(rows)).cast("array<string>")).cast("string")).as("band_hash")))
  }

  /** Band-explode a `(id, sig, …)` frame: one row per (band_idx,
    * band_hash), extra columns carried through.
    */
  private def bandExplode(sigs: DataFrame, numHashes: Int,
                          bands: Int): DataFrame =
    sigs.withColumn("band",
        explode(minhashBandsCol(col("sig"), numHashes, bands)))
      .withColumn("band_idx", col("band.band_idx"))
      .withColumn("band_hash", col("band.band_hash"))
      .drop("band")

  /** Hot-bucket guard, generalized over the bucket key: cap rows per key
    * group (NULL keys included) in deterministic id order, optionally
    * reporting rows/dropped through an observe tag. ONE definition of the
    * drop-accounting contract (rows = pre-cap total, dropped = the rows
    * the cap removes) shared by the minhash band join and
    * [[Similarity.knnGraphLsh]] — ObsMetrics harvesting and the spec
    * suites depend on it not drifting.
    *
    * SORT-FREE: the retained set is "the `bucketCap` smallest ids per
    * bucket" (in an overflowing bucket: plus every id tied with the
    * cap-th, minus any NULL id), computed as a bounded [[graft.expr.MinKThreshold]]
    * aggregate (partial buffers ≤ cap longs, so the hottest bucket never
    * concentrates in one task) joined back co-partitioned on the bucket
    * key and applied as a filter. The earlier
    * `row_number().over(partitionBy(bucket).orderBy(id))` form kept the
    * IDENTICAL rows but sorted the whole bucket in a single task first —
    * the cap's own defense became an O(n log n) single-task stall on
    * exactly the degenerate bucket it exists to defuse. Cost of the new
    * shape: the input is scanned twice (threshold pass + join pass);
    * every call site feeds either a localCheckpoint or a cheap
    * projection/explode of a persisted signature frame, so the second
    * scan is bounded while the removed per-bucket sort was not. The join
    * shuffles on the same key as the downstream self-join, which reuses
    * its partitioning.
    */
  private[graft] def capBucketsBy(df: DataFrame, keyCols: Seq[String],
                                  idCol: String, bucketCap: Int,
                                  obsTag: Option[String]): DataFrame = {
    // threshold key: integral ids rank by value (bit-identical retained
    // set vs the old orderBy(id) window); other types (string conv ids)
    // rank by xxhash64 — a different but equally arbitrary deterministic
    // overflow policy, chosen because the bounded heap needs longs
    import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType, LongType}
    val idKey = df.schema(idCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        col(idCol).cast("long")
      case _ => when(col(idCol).isNotNull, xxhash64(col(idCol)))
    }
    val th = df.groupBy(keyCols.map(col): _*).agg(
      graft.expr.MinKThreshold.mink_threshold(idKey, bucketCap)
        .as("_cap_th"),
      count(lit(1)).as("_cap_n"))
    // Join ONLY the overflowing buckets (rare by the cap's premise): AQE
    // sizes the build side at runtime — small (≤ rows/cap buckets even
    // adversarially) converts to broadcast and the corpus side never
    // concentrates; a flood of overflow buckets falls back to a shuffled
    // join. A co-partitioned cut shipped EVERY row to the hot bucket's one
    // reducer: flat in cores (5.9→5.3 s, 8→32) on a 12M-row stress bucket.
    val over = th.where(col("_cap_n") > bucketCap)
      .select(keyCols.indices.map(i => col(keyCols(i)).as(s"_cap_k$i")) :+
        col("_cap_th"): _*)
    val joined = df.join(over, keyCols.indices
      .map(i => col(keyCols(i)) <=> col(s"_cap_k$i")).reduce(_ && _), "left")
    // Null-safe on the key: a NULL bucket is capped like any other. Ids
    // tied at the threshold all survive (an exact cap needs a per-bucket
    // sort) and a NULL id has no rank (dropped only from an overflowing
    // bucket), so `dropped` counts the rows this filter removes.
    val kept = col("_cap_th").isNull || coalesce(idKey <= col("_cap_th"), lit(false))
    obsTag.fold(joined)(t => joined.observe(t,
        count(lit(1)).as("rows"), count_if(!kept).as("dropped")))
      .where(kept)
      .drop(over.columns.toSeq: _*)
  }

  private def capBuckets(banded: DataFrame, idCol: String, bucketCap: Int,
                         obsTag: Option[String]): DataFrame =
    capBucketsBy(banded, Seq("band_idx", "band_hash"), idCol, bucketCap,
      obsTag)

  /** Candidates from an `(id, sig)` frame — at real scale the signature
    * frame is a durable index table reused across dedup runs. This
    * function owns the one checkpoint of the frame it is given, so
    * callers pass the signature frame unmaterialized.
    *
    * WIRE SHAPE (the 10M-doc scale row's finding): the banded self-join
    * ships ONLY (id, band_idx, band_hash) — the numHashes-long signature
    * array (the dominant bytes, ~8·numHashes per row × bands copies)
    * stays out of the exchange. The agreement estimate is computed AFTER
    * pair dedup by two id-keyed joins back to the signature frame: pairs
    * are orders of magnitude fewer than banded rows, so the sig bytes
    * cross the wire O(pairs) times instead of O(docs × bands). The
    * sig-carrying form measured ~17 bytes/row → ~550 bytes/row on a 10M
    * corpus — ~170 GB of banded shuffle that exhausted both tmpfs and
    * disk; this shape ships ~13 GB. The signature frame is eagerly
    * localCheckpointed because three consumers read it (band explode +
    * both estimate joins) — recomputing shingle→signature per consumer
    * would triple the family's dominant compute (and a persisted index
    * caller pays only a cheap re-materialization).
    */
  def minhashCandidatesFromSig(sig0: DataFrame,
                               numHashes: Int = 64, bands: Int = 16,
                               bucketCap: Int = DefaultBucketCap,
                               obsTag: Option[String] = None): DataFrame = {
    val sigs = sig0.select(col("id"), col("sig")).localCheckpoint(true)
    val banded = bandExplode(sigs, numHashes, bands)
      .select(col("id"), col("band_idx"), col("band_hash"))
    val capped = capBuckets(banded, "id", bucketCap, obsTag)
    val a = capped.select(col("id").as("id_a"), col("band_idx"),
      col("band_hash"))
    val b = capped.select(col("id").as("id_b"), col("band_idx"),
      col("band_hash"))
    val pairs = a.join(b, Seq("band_idx", "band_hash"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    pairs
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")),
        Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        sigAgreementEst(col("sig_a"), col("sig_b"), numHashes).as("jaccard_est"))
  }

  /** Signature-agreement Jaccard estimate (matching positions /
    * numHashes) — the codegen'd [[graft.expr.SigAgreement]] expression;
    * runs once per pre-distinct banded candidate row, where the
    * interpreted HOF form it replaced ([[sigAgreementEstHof]], the
    * MinHashSpec cross-check) dominated the band join at million-doc
    * scale.
    */
  private def sigAgreementEst(a: Column, b: Column, numHashes: Int): Column =
    graft.expr.SigAgreement.sig_agreement(a, b).cast("double") / numHashes

  /** The original HOF estimate formula — kept ONLY as the cross-check. */
  private[ops] def sigAgreementEstHof(a: Column, b: Column,
                                      numHashes: Int): Column =
    aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast("double") / numHashes

  /** Near-dup pairs: LSH candidates verified with EXACT n-gram Jaccard.
    *
    * The shingles are computed ONCE and immediately reduced to their
    * xxhash64 values — the checkpointed frame, the signature build
    * ([[graft.expr.MinHashSigFromHashes]], bit-equal to hashing the
    * strings), and BOTH verify-join sides all work on `array<long>`.
    * Rationale: beyond the broadcast-lucky small-corpus regime the verify
    * join must ship the shingle frame through two id-keyed exchanges, and
    * 8-byte hashes are ~10× less exchange/checkpoint volume (and GC churn)
    * than the shingle strings. Jaccard counts over the hashes equal the
    * string counts unless two distinct shingles of one compared pair
    * collide in 64 bits (~n²/2⁶⁴ per pair — negligible; the DuckDB oracle
    * replays the STRING form and stays bit-equal on the harness corpora).
    */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      threshold: Double = 0.8, numHashes: Int = 64,
                      bands: Int = 16, shingleK: Int = 3,
                      bucketCap: Int = DefaultBucketCap): DataFrame = {
    val shh = df.select(col(idCol).as("id"),
        transform(wordShingles(col(textCol), shingleK), s => xxhash64(s)).as("shh"))
      .localCheckpoint(true)
    val sig = shh.select(col("id"),
      graft.expr.MinHashSigFromHashes.minhash_sig_hashed(col("shh"), numHashes)
        .as("sig"))
    val cands = minhashCandidatesFromSig(sig, numHashes, bands, bucketCap)
    cands
      .join(shh.select(col("id").as("id_a"), col("shh").as("sh_a")), "id_a")
      .join(shh.select(col("id").as("id_b"), col("shh").as("sh_b")), "id_b")
      .withColumn("jaccard", ngramJaccardCol(col("sh_a"), col("sh_b")))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard_est", "jaccard")
  }

  /** Render each conversation as ONE document: turn texts concatenated in
    * `orderCol` order, space-separated. One shuffle on the conversation
    * key; per-group state is a conversation's own turns (bounded by
    * conversation length, not corpus size), collected once and sorted
    * in-memory per group — collect_list's arrival order is
    * non-deterministic, the array_sort on (orderCol, text) structs makes
    * the result partitioning-invariant. `orderCol` must be unique within
    * a conversation (the transcript contract).
    */
  def renderConv(turns: DataFrame, convCol: String, orderCol: String,
                 textCol: String): DataFrame =
    turns.groupBy(col(convCol))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col(orderCol), col(textCol)))),
        t => t.getField(textCol)), " ").as("text"))

  /** Conversation-level near-dup: [[renderConv]] each conversation to one
    * document, then the standard banded-minhash machinery — the dedup
    * pass an SFT corpus needs BEFORE training (near-identical
    * conversations differing in a greeting or a timestamp line). Same
    * scale shape as [[minhashNearDups]] plus one conversation-key shuffle
    * for the render.
    */
  def convNearDups(turns: DataFrame, convCol: String, orderCol: String,
                   textCol: String, threshold: Double = 0.8,
                   numHashes: Int = 64, bands: Int = 16, shingleK: Int = 3,
                   bucketCap: Int = DefaultBucketCap): DataFrame =
    minhashNearDups(renderConv(turns, convCol, orderCol, textCol),
      convCol, "text", threshold, numHashes, bands, shingleK, bucketCap)

  // ------------------------------------------------------- n-gram jaccard

  /** Exact Jaccard between two DISTINCT shingle arrays ([[wordShingles]]
    * output is always distinct). The union size is derived as
    * |a| + |b| − |a∩b| instead of materializing `array_union` — the
    * verify join runs this per candidate pair, and the union array was
    * pure allocation (its only use was its size). Identical values for
    * distinct inputs, including both-empty → 1.0.
    */
  def ngramJaccardCol(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(a).cast("double") + size(b).cast("double") - inter
    when(union === 0, lit(1.0)).otherwise(inter / union)
  }

  /** Exact all-pairs n-gram Jaccard above a threshold — O(n²) verify path;
    * only for tests/small frames (the scale paths are [[minhashNearDups]]
    * — probabilistic — and [[jaccardNearDups]] — exact via prefix
    * filtering). JaccardSpec uses this as the brute-force oracle.
    */
  def ngramJaccardAllPairs(df: DataFrame, idCol: String, textCol: String,
                           threshold: Double, k: Int = 3): DataFrame = {
    val sh = df.select(col(idCol).as("id"), wordShingles(col(textCol), k).as("sh"))
    val a = sh.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val b = sh.select(col("id").as("id_b"), col("sh").as("sh_b"))
    a.crossJoin(b).where(col("id_a") < col("id_b"))
      .withColumn("jaccard", ngramJaccardCol(col("sh_a"), col("sh_b")))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** EXACT n-gram Jaccard similarity join via prefix filtering (the
    * SSJoin/PPJoin family — Chaudhuri et al. ICDE'06, Xiao et al.
    * WWW'08): every pair with Jaccard ≥ `threshold` is returned, with NO
    * false negatives — the guarantee [[minhashNearDups]]' banded LSH
    * trades away — and still never an all-pairs join.
    *
    * How the candidate set stays subquadratic: each doc's distinct
    * shingle hashes are ranked by a GLOBAL rarest-first order
    * (document frequency asc, hash asc — a total order, df ties broken
    * by the hash value), and only the first
    * `len − ⌈threshold·len⌉ + 1` of them (the "prefix") are indexed.
    * Two docs with Jaccard ≥ t must share ≥ ⌈t·len⌉ shingles with
    * either side (size filter: t·len_a ≤ len_b ≤ len_a/t), and the
    * classic prefix lemma then forces their prefixes to intersect — so
    * an equi-join of prefixes on the shingle hash finds every
    * qualifying pair. Rarest-first ordering is what makes it cheap: the
    * corpus-hot shingles (the quadratic-blowup keys) sort to the END of
    * every doc and are almost never indexed; a shared hot shingle alone
    * never makes a candidate.
    *
    * Shuffle shape at 100 TB: one explode + hash-agg for document
    * frequencies (map-side partials collapse hot shingles), one
    * per-doc window for intra-doc ranks (partitioned by the UNIQUE doc
    * id — bounded by doc length, no hot-key funnel), one equi-join of
    * the prefix index with itself (keys are by construction rare), and
    * an id-keyed verify join computing exact Jaccard on candidates
    * only. Degenerate corpora (millions of byte-identical docs) make
    * the TRUE answer quadratic, so run [[exactKeep]] first — same note
    * as [[DefaultBucketCap]], but here there is deliberately no cap:
    * exactness is the contract.
    *
    * The ⌈t·len⌉ in the prefix length is computed as
    * `ceil(t·len − 1e-9)`: double rounding of t·len can land an ulp
    * ABOVE an exactly-integer true product (e.g. 0.8·5), and a raw ceil
    * would then shorten the prefix below the lemma's bound — the nudge
    * can only lengthen a prefix (more candidates, never fewer), so
    * exactness survives any rounding direction. Docs with ZERO shingles
    * are excluded (they cannot share a shingle; byte-near-empty docs
    * are [[exactKeep]] territory, and the all-empty-pair convention
    * stays with [[ngramJaccardCol]]'s verify path).
    *
    * Output: (id_a, id_b, jaccard) with id_a < id_b, Jaccard computed
    * on the xxhash64'd shingles (same negligible-collision note as
    * [[minhashNearDups]]).
    */
  def jaccardNearDups(df: DataFrame, idCol: String, textCol: String,
                      threshold: Double = 0.8, shingleK: Int = 3): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1]: $threshold")
    import org.apache.spark.sql.expressions.Window
    val shh = df.select(col(idCol).as("id"),
        transform(wordShingles(col(textCol), shingleK), s => xxhash64(s)).as("shh"))
      .where(size(col("shh")) > 0)
      .localCheckpoint(true)
    val tok = shh.select(col("id"), size(col("shh")).as("len"),
      explode(col("shh")).as("h"))
    val dfreq = tok.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val prefLen = col("len") - ceil(col("len") * threshold - lit(1e-9)) + 1
    val prefix = tok.join(dfreq, "h")
      .withColumn("_pos", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("df"), col("h"))))
      .where(col("_pos") <= prefLen)
      .select(col("id"), col("len"), col("h"))
    // size filter with a lenient epsilon: it may only PRUNE pairs that
    // provably fail J >= t, never drop a boundary pair to an ulp
    val cands = prefix.select(col("id").as("id_a"), col("len").as("len_a"), col("h"))
      .join(prefix.select(col("id").as("id_b"), col("len").as("len_b"), col("h")), "h")
      .where(col("id_a") < col("id_b") &&
        col("len_b") >= col("len_a") * threshold - lit(1e-9) &&
        col("len_a") >= col("len_b") * threshold - lit(1e-9))
      .select(col("id_a"), col("id_b")).distinct()
    cands
      .join(shh.select(col("id").as("id_a"), col("shh").as("sh_a")), "id_a")
      .join(shh.select(col("id").as("id_b"), col("shh").as("sh_b")), "id_b")
      .withColumn("jaccard", ngramJaccardCol(col("sh_a"), col("sh_b")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  // -------------------------------------------------------------- simhash

  /** 64-bit SimHash of the word multiset: bit i = sign of Σ_words ±1
    * depending on bit i of xxhash64(word). Implemented as the codegen'd
    * [[graft.expr.SimHash64]] expression (one byte scan + one 64-int
    * counter array per row); the HOF formula it replaced is kept as
    * [[simhashHof]], DedupSpec's independent cross-check (bit-identical —
    * the `q_simhash_*` oracles recompute signatures in SQL from the
    * dumped word-hash dictionary, so the hash family must not move).
    */
  def simhash(text: Column): Column = graft.expr.SimHash64.simhash(text)

  /** The original HOF signature formula — kept ONLY as the cross-check
    * implementation (the interpreted HOF path allocates a fresh 64-slot
    * accumulator per word, the measured ~14× churn that motivated the
    * MinHashSig port).
    */
  private[ops] def simhashHof(text: Column): Column = {
    val words = split(lower(text), "\\s+")
    val hashes = transform(words, w => xxhash64(w))
    val acc = aggregate(
      hashes,
      array_repeat(lit(0), 64),
      (a, h) => zip_with(a, sequence(lit(0), lit(63)),
        (cnt, i) => cnt + when(call_function("shiftright", h, i.cast("int")).bitwiseAND(1) === 1, 1).otherwise(-1)))
    aggregate(
      zip_with(acc, sequence(lit(0), lit(63)),
        (cnt, i) => when(cnt > 0, call_function("shiftleft", lit(1L), i.cast("int"))).otherwise(lit(0L))),
      lit(0L), (s, v) => s.bitwiseOR(v))
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs with Hamming ≤ maxDist, via 4×16-bit band join
    * (pigeonhole: any pair with ≤3 differing bits shares ≥1 exact band).
    */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxDist: Int = 3,
                      bucketCap: Int = DefaultBucketCap,
                      obsTag: Option[String] = None): DataFrame = {
    // localCheckpoint: computed once for both join sides, blocks released
    // on GC of the result (see minhashCandidates). Band key reuses the
    // shared (band_idx, band_hash) naming so capBuckets applies — the
    // 4×16-bit bands collapse to ONE bucket per band on mass-identical
    // docs, the same quadratic degeneracy as minhash LSH.
    val sig0 = df.select(col(idCol).as("id"), simhash(col(textCol)).as("sig"))
      .localCheckpoint(true)
      .withColumn("band", explode(transform(sequence(lit(0), lit(3)),
        b => struct(b.as("band_idx"),
          call_function("shiftright", col("sig"), (b * 16).cast("int")).bitwiseAND(0xFFFFL).as("band_hash")))))
      .select(col("id"), col("sig"), col("band.band_idx"), col("band.band_hash"))
    val sig = capBuckets(sig0, "id", bucketCap, obsTag)
    val a = sig.select(col("id").as("id_a"), col("sig").as("sig_a"),
      col("band_idx"), col("band_hash"))
    val b = sig.select(col("id").as("id_b"), col("sig").as("sig_b"),
      col("band_idx"), col("band_hash"))
    a.join(b, Seq("band_idx", "band_hash"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), hamming(col("sig_a"), col("sig_b")).as("dist"))
      // Hamming filter BEFORE distinct: the reject ratio never reaches the
      // dedup exchange (distance-64 collisions would otherwise shuffle)
      .where(col("dist") <= maxDist)
      .distinct()
  }

  // --------------------------------------------- embedding cosine near-dup

  /** Near-duplicate pairs by embedding cosine ≥ threshold, using
    * random-hyperplane LSH buckets (deterministic planes) to avoid the
    * all-pairs join; exact cosine verify inside buckets.
    */
  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
                        threshold: Double = 0.95, planes: Int = 12,
                        seed: Long = 7L,
                        bucketCap: Int = DefaultBucketCap,
                        obsTag: Option[String] = None): DataFrame = {
    // hot-bucket guard (same rationale as minhashCandidates), with the
    // same rows/dropped observability so overflow is never silent; the
    // sort-free capBucketsBy re-scans the frame, which the checkpoint
    // makes a local block read
    val assigned = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("bucket", Similarity.hyperplaneBucket(col("v"), planes, seed))
      .localCheckpoint(true) // both join sides; blocks released on GC
    // norms hoisted per side (bit-identical values — cosinePre's note);
    // the naive per-pair cosine recomputes both norms per candidate
    val bucketed = capBucketsBy(assigned, Seq("bucket"), "id", bucketCap,
        obsTag)
      .withColumn("_nv", Similarity.norm(col("v")))
    val a = bucketed.select(col("id").as("id_a"), col("v").as("v_a"),
      col("_nv").as("_na"), col("bucket"))
    val b = bucketed.select(col("id").as("id_b"), col("v").as("v_b"),
      col("_nv").as("_nb"), col("bucket"))
    a.join(b, "bucket")
      .where(col("id_a") < col("id_b"))
      .withColumn("cosine", Similarity.cosinePre(col("v_a"), col("v_b"),
        col("_na"), col("_nb")))
      .where(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
      .distinct()
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): k-means-cluster the embedding space coarsely,
    * then prune within each cluster — in-cell pairs at cosine ≥
    * `threshold` form ε-ball groups resolved to connected components,
    * and only each component's min-id representative is kept. Differs
    * from [[embeddingNearDups]] in candidate generation: data-adaptive
    * centroids concentrate true semantic neighbors into one cell
    * (higher recall at equal candidate volume than data-oblivious
    * hyperplane buckets), at the cost of training the quantizer — which
    * is the same [[Ivf.kmeansCentroids]] artifact the ANN index already
    * maintains, so a production pipeline trains once and shares it.
    *
    * Scale shape: the quantizer is tiny and rides a literal expression
    * ([[Ivf.assignCells]] — cell assignment is a NARROW codegen'd kernel
    * column, no shuffle); the in-cell self-join is capped per cell with
    * observe-counted overflow (same guard as [[DefaultBucketCap]]);
    * component resolution is the O(log n)-round
    * [[connectedComponentsStar]]. No all-pairs stage anywhere.
    *
    * Output: one row per input id — (idCol long, cell, comp, keep),
    * keep true iff the id is its component's min-id representative.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    nCells: Int, threshold: Double = 0.95,
                    kmeansIters: Int = 2, seed: Long = 11L,
                    cellCap: Int = DefaultBucketCap,
                    obsTag: Option[String] = None): DataFrame = {
    val cents = Ivf.kmeansCentroids(df, idCol, vecCol, nCells, kmeansIters,
      seed)
    // computed once, feeds the capped self-join AND the output join back
    val assigned = Ivf.assignCells(
        df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v")),
        "id", "v", cents)
      .localCheckpoint(true)
    // norms hoisted per SIDE (Similarity.cosinePre): the in-cell join
    // evaluates O(members²/2) cosines per cell, and the naive form would
    // recompute both row norms per PAIR — 3× the dot products for the
    // same bit-identical values (the IEEE sequence is unchanged; see
    // cosinePre's note). Cell cap is the shared sort-free capBucketsBy —
    // a dominant kmeans cell must not become a single-task sort.
    val capped = capBucketsBy(assigned, Seq("cell"), "id", cellCap, obsTag)
      .withColumn("_nv", Similarity.norm(col("v")))
    val a = capped.select(col("id").as("id_a"), col("v").as("v_a"),
      col("_nv").as("_na"), col("cell"))
    val b = capped.select(col("id").as("id_b"), col("v").as("v_b"),
      col("_nv").as("_nb"), col("cell"))
    // no distinct: each id lives in exactly ONE cell (unlike the
    // multi-bucket LSH join in embeddingNearDups), so the self-join can
    // emit a pair at most once — a dedup exchange here would be a whole
    // wasted shuffle of the largest intermediate, and
    // connectedComponentsStar dedups edges internally anyway
    val pairs = a.join(b, "cell")
      .where(col("id_a") < col("id_b"))
      .where(Similarity.cosinePre(col("v_a"), col("v_b"),
        col("_na"), col("_nb")) >= threshold)
      .select("id_a", "id_b")
    assigned.select(col("id"), col("cell"))
      .join(clusters(assigned.select(col("id")), "id", pairs), Seq("id"))
      .select(col("id").as(idCol), col("cell"), col("comp"), col("keep"))
  }

  /** Minhash signature frame `(id, sig, sh)` for [[minhashNearDupsAgainst]]
    * — at scale this is a durable table maintained across ingest batches.
    */
  def minhashIndex(df: DataFrame, idCol: String, textCol: String,
                   numHashes: Int = 64, shingleK: Int = 3): DataFrame = {
    val sh = df.select(col(idCol).as("id"),
      wordShingles(col(textCol), shingleK).as("sh"))
    sh.select(col("id"), minhashSignature(col("sh"), numHashes).as("sig"),
      col("sh"))
  }

  /** Incremental near-dup detection: pairs between a NEW batch and an
    * existing signature index (plus within the new batch itself) — the
    * daily-ingest shape: band-join new signatures against the stored index
    * instead of re-self-joining the whole corpus. Output as
    * [[minhashNearDups]]: (id_a, id_b, jaccard_est, jaccard), id_a < id_b.
    */
  def minhashNearDupsAgainst(index: DataFrame, newDocs: DataFrame,
                             idCol: String, textCol: String,
                             threshold: Double = 0.8, numHashes: Int = 64,
                             bands: Int = 16, shingleK: Int = 3,
                             bucketCap: Int = DefaultBucketCap,
                             obsTag: Option[String] = None): DataFrame =
    minhashNearDupsAgainstSigs(index,
      minhashIndex(newDocs, idCol, textCol, numHashes, shingleK)
        .localCheckpoint(true),
      threshold, numHashes, bands, bucketCap, obsTag)

  /** [[minhashNearDupsAgainst]] over an ALREADY-COMPUTED new-batch
    * signature frame `(id, sig, sh)` (shape of [[minhashIndex]], ideally
    * localCheckpointed by the caller). Callers that also persist the
    * signatures — the streaming ingest path — use this to shingle and
    * sign each batch exactly once instead of once per consumer.
    */
  def minhashNearDupsAgainstSigs(index: DataFrame, newSigs: DataFrame,
                                 threshold: Double = 0.8, numHashes: Int = 64,
                                 bands: Int = 16,
                                 bucketCap: Int = DefaultBucketCap,
                                 obsTag: Option[String] = None): DataFrame = {
    // candidate pairs: (new × index) ∪ (new × new); the index side is the
    // big one — it is only shuffled on the band key, never self-joined.
    // BOTH sides are capped: a boilerplate-heavy NEW batch is exactly the
    // degenerate case the cap exists for (an uncapped b side would make
    // each capped index bucket × the whole new bucket quadratic again).
    // Band-explode carries (id, sig) ONLY — the heavy shingle arrays are
    // joined back onto the (tiny) candidate pair set afterwards, exactly
    // as the batch path does; exploding them would replicate every
    // shingle array ×bands through the cap-window shuffle and band join.
    // A re-submitted id (re-crawl of a doc already in the index) must not
    // appear on both union sides: a duplicated id band-joins every one of
    // its candidate pairs twice (with conflicting sigs/shingles if the
    // text changed), duplicating output rows. The NEW batch is
    // authoritative — anti-join the index against the (small, broadcast)
    // new-id set so each id contributes exactly one sig and one shingle
    // array.
    val indexFresh = index
      .join(broadcast(newSigs.select(col("id"))), Seq("id"), "left_anti")
    val a = capBuckets(
        bandExplode(indexFresh.select(col("id"), col("sig"))
            .unionByName(newSigs.select(col("id"), col("sig"))),
          numHashes, bands),
        "id", bucketCap, obsTag)
      .select(col("id").as("id_a"), col("sig").as("sig_a"),
        col("band_idx"), col("band_hash"))
    val b = capBuckets(
        bandExplode(newSigs.select(col("id"), col("sig")), numHashes, bands),
        "id", bucketCap, obsTag = None)
      .select(col("id").as("id_b"), col("sig").as("sig_b"),
        col("band_idx"), col("band_hash"))
    // the b side holds only NEW ids, so order the output pair with
    // least/greatest (a plain id_a < id_b would silently drop
    // (index_i, new_j) pairs where i > j); jaccard is symmetric, as is
    // the signature-agreement estimate
    val cands = a.join(b, Seq("band_idx", "band_hash"))
      .where(col("id_a") =!= col("id_b"))
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        sigAgreementEst(col("sig_a"), col("sig_b"), numHashes).as("jaccard_est"))
      .distinct()
    val allSh = indexFresh.select(col("id"), col("sh"))
      .unionByName(newSigs.select(col("id"), col("sh")))
    cands
      .join(allSh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(allSh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jaccard", ngramJaccardCol(col("sh_a"), col("sh_b")))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard_est", "jaccard")
  }

  // ------------------------------------------- cluster resolution (CC)

  /** Connected components over an undirected pair list by iterative
    * min-label propagation: label(x) ← min(label(x), min over neighbors)
    * to fixpoint. Each round is one join + one aggregate, checkpointed so
    * the plan does not grow with iterations. Converges in O(component
    * diameter) rounds — near-dup graphs are shallow (chains of rewrites),
    * so a handful of rounds; at extreme scale swap in large-star/small-star
    * (same per-round plan shape, O(log n) rounds).
    * Output: (id, comp) with comp = min id of the component.
    */
  def connectedComponents(pairs: DataFrame, aCol: String = "id_a",
                          bCol: String = "id_b",
                          maxIter: Int = 25): DataFrame = {
    val e = pairs.select(col(aCol).cast("long").as("src"),
      col(bCol).cast("long").as("dst"))
    val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint(true)
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id")).localCheckpoint(true)
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      val nbrMin = sym
        .join(labels.select(col("id").as("dst"), col("comp").as("dst_comp")), "dst")
        .groupBy(col("src").as("id")).agg(min(col("dst_comp")).as("nbr_comp"))
      val next = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("comp"))
        .localCheckpoint(true)
      changed = next.join(labels.select(col("id"), col("comp").as("old")), "id")
        .where(col("comp") =!= col("old")).count()
      labels = next
      i += 1
    }
    require(changed == 0, s"connectedComponents did not converge in $maxIter rounds")
    labels
  }

  /** Connected components by the alternating large-star/small-star
    * algorithm (Kiveris et al., "Connected Components in MapReduce and
    * Beyond") — O(log n) rounds regardless of component DIAMETER, where
    * min-label propagation needs O(diameter) rounds (a 300-doc rewrite
    * chain = 300 full-data joins). Each round is two groupBy+join passes
    * over the current edge set, which only shrinks. This is the default
    * scale path; [[connectedComponents]] remains as the simpler
    * independent implementation the specs cross-check against.
    */
  def connectedComponentsStar(pairs: DataFrame, aCol: String = "id_a",
                              bCol: String = "id_b",
                              maxIter: Int = 50): DataFrame = {
    // order-independent edge-set fingerprint (bit_xor: no ANSI overflow)
    def ck(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)), bit_xor(xxhash64(col("u"), col("v")))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    // large-star: connect every neighbor v > u to m = min(Γ(u) ∪ {u})
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val m = sym.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      sym.join(m, "u").where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v")).distinct()
    }
    // small-star: orient u ≥ v; connect every smaller neighbor (and u
    // itself) to m = min of u's smaller neighborhood
    def smallStar(e: DataFrame): DataFrame = {
      val oriented = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v")).where(col("u") =!= col("v")).distinct()
      val m = oriented.groupBy("u").agg(min(col("v")).as("m"))
      oriented.union(m.select(col("u"), col("u").as("v")))
        .join(m, "u")
        .where(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v")).distinct()
    }
    var e = pairs.select(col(aCol).cast("long").as("u"),
        col(bCol).cast("long").as("v"))
      .where(col("u") =!= col("v")).distinct().localCheckpoint(true)
    var last = ck(e)
    var done = e.isEmpty
    var i = 0
    while (!done && i < maxIter) {
      e = smallStar(largeStar(e)).localCheckpoint(true)
      val now = ck(e)
      done = now == last
      last = now
      i += 1
    }
    require(done, s"connectedComponentsStar did not converge in $maxIter rounds")
    // converged edge set is a star forest: u → component minimum
    e.select(col("u").as("id"), col("v").as("comp"))
      .union(e.select(col("v").as("id"), col("v").as("comp")))
      .groupBy("id").agg(min(col("comp")).as("comp"))
  }

  /** Incremental connected-components maintenance — the continuously-
    * ingesting corpus shape: `existing` is the current `(id, comp)`
    * assignment (comp = component min id, the output of
    * [[connectedComponentsStar]] / a previous ccUpdate), `newPairs` the
    * batch's fresh near-dup edges. Only components TOUCHED by a new edge
    * are recomputed: untouched assignments pass through without a join
    * beyond the one membership probe, so the per-batch cost scales with
    * the touched subgraph, not the corpus.
    *
    * Correctness: an `(id, comp)` assignment is a star forest that
    * preserves connectivity, so CC(star(existing) ∪ newPairs) ≡
    * CC(originalPairs ∪ newPairs) — the star edges of touched components
    * plus the new edges are rerun through the O(log n)
    * large-star/small-star rounds, and relabeled components keep the
    * global min-id convention (every member of a touched component rides
    * along via its star edge, so the minimum is over the full merged
    * component exactly as a full recompute would find). StreamingDedupSpec
    * proves ccUpdate ≡ full recompute on randomly grown pair streams.
    *
    * Ids in `newPairs` unseen by `existing` join as their own singletons
    * (they simply appear only in the new edges). Output: (id, comp) for
    * every id in `existing` ∪ endpoints(newPairs).
    */
  def ccUpdate(existing: DataFrame, newPairs: DataFrame,
               aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val (untouched, relabeled) = ccUpdateParts(existing, newPairs, aCol, bCol)
    untouched.select(col("id"), col("comp"))
      .unionByName(relabeled.select(col("id"), col("comp")))
  }

  /** The CHANGED slice of [[ccUpdate]] alone: (id, comp) for every member
    * of a component touched by a new pair (new ids included), nothing for
    * untouched components — the per-batch label DELTA a continuously-
    * maintained assignment table stores (see
    * [[StreamingDedup.updateLabels]]): storage per batch scales with the
    * touched subgraph, and last-writer-wins over the deltas reconstructs
    * the full assignment.
    */
  def ccUpdateDelta(existing: DataFrame, newPairs: DataFrame,
                    aCol: String = "id_a", bCol: String = "id_b"): DataFrame =
    ccUpdateParts(existing, newPairs, aCol, bCol)._2
      .select(col("id"), col("comp"))

  private def ccUpdateParts(existing: DataFrame, newPairs: DataFrame,
                            aCol: String, bCol: String)
      : (DataFrame, DataFrame) = {
    val eNew = newPairs.select(col(aCol).cast("long").as("u"),
        col(bCol).cast("long").as("v"))
      .where(col("u") =!= col("v")).distinct()
      .localCheckpoint(true) // read by touched-set and subgraph union
    val ex = existing.select(col("id").cast("long").as("id"),
      col("comp").cast("long").as("comp"))
    val touchedIds = eNew.select(col("u").as("id"))
      .union(eNew.select(col("v").as("id"))).distinct()
    val touchedComps = ex.join(touchedIds, "id")
      .select(col("comp")).distinct().localCheckpoint(true)
    val untouched = ex.join(touchedComps, Seq("comp"), "left_anti")
    val subEdges = ex.join(touchedComps, Seq("comp"), "left_semi")
      .where(col("id") =!= col("comp")) // singleton self-edges drop out
      .select(col("id").as("u"), col("comp").as("v"))
      .unionByName(eNew)
    (untouched, connectedComponentsStar(subEdges, "u", "v"))
  }

  /** Resolve near-dup pairs to keep/drop sets: every row of `df` gets its
    * component id (singletons form their own) and `keep` = is the
    * component's minimum id — the canonical representative a training-data
    * pipeline retains.
    */
  def clusters(df: DataFrame, idCol: String, pairs: DataFrame,
               aCol: String = "id_a", bCol: String = "id_b"): DataFrame =
    df.select(col(idCol).cast("long").as("id"))
      .join(connectedComponentsStar(pairs, aCol, bCol), Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("comp"), col("id")).as("comp"),
        (coalesce(col("comp"), col("id")) === col("id")).as("keep"))

  /** [[clusters]] with a QUALITY-WEIGHTED representative: keep the
    * component member with the highest `scoreCol` (ties → smallest id) —
    * the survivor rule real pipelines want (keep the longest / highest-
    * quality / most-recent member of a near-dup cluster, not an
    * arbitrary min id; RefinedWeb keeps by quality, CCNet by length).
    *
    * Skew shape (the exactKeep lesson): the winner per component is ONE
    * partial-combining hash aggregation — `max(struct(score, -id))` —
    * so a degenerate million-member cluster collapses map-side instead
    * of funneling through a per-component window sort. `scoreCol` must
    * be numeric (the negated-id tie-break rides in the same struct);
    * a non-numeric column fails at analysis.
    */
  def clustersKeepBy(df: DataFrame, idCol: String, scoreCol: String,
                     pairs: DataFrame, aCol: String = "id_a",
                     bCol: String = "id_b"): DataFrame = {
    require(df.columns.contains(idCol), s"missing column: $idCol")
    require(df.columns.contains(scoreCol), s"missing column: $scoreCol")
    val labeled = df
      .select(col(idCol).cast("long").as("id"), col(scoreCol).as("_kb_s"))
      .join(connectedComponentsStar(pairs, aCol, bCol), Seq("id"), "left")
      .withColumn("comp", coalesce(col("comp"), col("id")))
    val winners = labeled.groupBy("comp")
      .agg(max(struct(col("_kb_s").as("s"), (-col("id")).as("negid")))
        .as("_kb_w"))
      .select(col("comp"), (-col("_kb_w.negid")).as("_kb_win"))
    labeled.join(winners, Seq("comp"))
      .select(col("id").as(idCol), col("comp"),
        (col("id") === col("_kb_win")).as("keep"))
  }

  /** The full dedup story: exact-dedup survivors → minhash near-dup pairs
    * → connected components → canonical keep set.
    */
  def nearDupClusters(df: DataFrame, idCol: String, textCol: String,
                      threshold: Double = 0.8, numHashes: Int = 64,
                      bands: Int = 16, shingleK: Int = 3): DataFrame = {
    val pairs = minhashNearDups(df, idCol, textCol, threshold, numHashes,
      bands, shingleK)
    clusters(df, idCol, pairs)
  }

  /** CORPUS-level minhash signature as rows `(pos, minv)`. The elementwise
    * minimum over every document's signature IS the signature of the UNION
    * of their shingle sets (min over docs of per-doc minima = min over the
    * union), so two corpora can be compared without ever materializing
    * their n-gram key spaces.
    *
    * Scale shape: one narrow codegen'd projection (shingle + signature per
    * row) feeding ONE aggregation whose key space is `numHashes` — map-side
    * partials collapse every task to ≤ numHashes rows, so a 100 TB corpus
    * ships a few KB. Empty-shingle docs are excluded (their signature is
    * the all-MaxValue identity; dropping them keeps a lane from "agreeing"
    * on the init value when one side has only empty docs).
    */
  def corpusSigRows(df: DataFrame, textCol: String, shingleK: Int = 3,
                    numHashes: Int = 64): DataFrame = {
    require(df.columns.contains(textCol), s"missing column: $textCol")
    df.select(wordShingles(col(textCol), shingleK).as("_co_sh"))
      .where(size(col("_co_sh")) > 0)
      .select(posexplode(minhashSignature(col("_co_sh"), numHashes))
        .as(Seq("pos", "h")))
      .groupBy("pos").agg(min("h").as("minv"))
  }

  /** Dataset-overlap audit: how much does corpus `b` (e.g. a crawl
    * refresh, a candidate training mix, an eval suite) overlap corpus `a`
    * at the n-gram-set level? One row:
    * `(n_a, n_b, n_inter, n_union, jaccard_ppm, est_agree, est_ppm)` —
    * exact distinct-shingle counts + exact set Jaccard in integer ppm,
    * alongside the corpus-minhash ESTIMATE (agreeing lanes / numHashes).
    *
    * The two sides have opposite scale shapes, deliberately: the exact
    * side is the diagnostic — it shuffles the distinct n-gram KEY SPACE
    * (itself TB-scale on a web corpus; fine at audit-sample scale), while
    * the [[corpusSigRows]] estimate is the production path — ≤ numHashes
    * rows shipped per corpus at any size, with the exact side available to
    * validate the estimate wherever it is affordable. Deduplication
    * within each corpus does not change either answer (set semantics).
    */
  def corpusOverlap(a: DataFrame, b: DataFrame, textCol: String,
                    shingleK: Int = 3, numHashes: Int = 64): DataFrame = {
    val shA = a.select(explode(wordShingles(col(textCol), shingleK)).as("s"))
      .distinct()
    val shB = b.select(explode(wordShingles(col(textCol), shingleK)).as("s"))
      .distinct()
    val na = shA.agg(count("*").as("n_a"))
    val nb = shB.agg(count("*").as("n_b"))
    val ni = shA.join(shB, Seq("s")).agg(count("*").as("n_inter"))
    val est = corpusSigRows(a, textCol, shingleK, numHashes)
      .withColumnRenamed("minv", "ma")
      .join(corpusSigRows(b, textCol, shingleK, numHashes)
        .withColumnRenamed("minv", "mb"), Seq("pos"))
      .agg(sum(when(col("ma") === col("mb"), 1L).otherwise(0L))
        .as("est_agree"))
    na.crossJoin(nb).crossJoin(ni).crossJoin(est)
      .withColumn("n_union",
        col("n_a") + col("n_b") - col("n_inter"))
      .withColumn("jaccard_ppm", when(col("n_union") > 0,
        expr("(1000000 * n_inter) div n_union")))
      .withColumn("est_ppm",
        expr(s"(1000000 * est_agree) div $numHashes"))
  }
}
