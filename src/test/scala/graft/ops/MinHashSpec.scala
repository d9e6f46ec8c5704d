package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The custom MinHashSig expression must be BIT-IDENTICAL to the HOF
  * Column formula it replaced: every committed signature dump, band hash,
  * and DuckDB oracle depends on the exact hash family values.
  */
class MinHashSpec extends SparkTestBase {
  import spark.implicits._

  test("MinHashSig ≡ HOF formula on real documents (bit-exact)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", Dedup.wordShingles($"text", 3).as("sh"))
    val both = docs.select($"doc_id",
      Dedup.minhashSignature($"sh", 64).as("fast"),
      Dedup.minhashSignatureHof($"sh", 64).as("hof"))
    assert(both.where($"fast" =!= $"hof").isEmpty)
    assert(both.count() > 0)
    // and a non-default width
    val w5 = docs.select(
      Dedup.minhashSignature($"sh", 5).as("fast"),
      Dedup.minhashSignatureHof($"sh", 5).as("hof"))
    assert(w5.where($"fast" =!= $"hof").isEmpty)
  }

  test("one checkpoint per signature frame: minhashCandidates " +
    "materializes 1 frame, minhashNearDups 2 (shingle hashes + signatures)") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog again"),
      (3L, "an unrelated sentence about something else entirely")
    ).toDF("id", "text")
    val sc = spark.sparkContext
    // the checkpoints are eager, so they exist when the call returns; the
    // returned frame references them, so none is cleaned before the count
    def materialized[A](f: => A): (A, Int) = {
      val before = sc.getPersistentRDDs.keySet
      val out = f
      (out, (sc.getPersistentRDDs.keySet -- before).size)
    }
    val (cands, nCands) = materialized(
      Dedup.minhashCandidates(docs, "id", "text"))
    assert(nCands === 1)
    val (near, nNear) = materialized(
      Dedup.minhashNearDups(docs, "id", "text", threshold = 0.5))
    assert(nNear === 2)
    assert(cands.select("id_a", "id_b").as[(Long, Long)].collect().toSeq
      === Seq((1L, 2L)))
    assert(near.select("id_a", "id_b").as[(Long, Long)].collect().toSeq
      === Seq((1L, 2L)))
  }

  test("WordShingles ≡ HOF formula on real documents (order included)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for (k <- Seq(1, 3, 5)) {
      val both = docs.select($"doc_id",
        Dedup.wordShingles($"text", k).as("fast"),
        Dedup.wordShinglesHof($"text", k).as("hof"))
      assert(both.where($"fast" =!= $"hof").isEmpty, s"k=$k")
    }
    // edge cases: leading/trailing whitespace (split keeps the leading
    // empty word), repeated shingles (distinct, first-occurrence order),
    // unicode case mapping, short/empty text
    val edge = Seq(
      "  leading space text here",
      "trailing space text here  ",
      "a b c a b c a b c",
      "ÉCOLE Straße ΣΙΓΜΑ mixed case",
      "two words",
      "",
      "one")
    val e = edge.toDF("text").select(
      Dedup.wordShingles($"text", 3).as("fast"),
      Dedup.wordShinglesHof($"text", 3).as("hof"))
    e.collect().foreach(r =>
      assert(r.getSeq[String](0) === r.getSeq[String](1), r.toString))
  }

  test("interpreted and codegen paths agree") {
    val data = Seq(
      "alpha beta gamma delta epsilon zeta",
      "one two three",
      "alpha beta gamma",
      "short",
      "")
    // wholeStage must ALSO be disabled for the interpreted leg:
    // factoryMode only governs projection factories, and WSCG calls
    // doGenCode regardless — without this the test compares codegen
    // against codegen and nullSafeEval never runs
    def run(mode: String, wholeStage: Boolean) = {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      try data.toDF("text")
        .select(Dedup.minhashSignature(Dedup.wordShingles($"text", 3), 16))
        .collect().map(_.getSeq[Long](0)).toSeq
      finally {
        spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
        spark.conf.set("spark.sql.codegen.wholeStage", true)
      }
    }
    assert(run("NO_CODEGEN", wholeStage = false) ===
      run("CODEGEN_ONLY", wholeStage = true))
  }

  test("edge cases: empty shingles, null array, null element ≡ HOF") {
    val df = Seq(
      (0L, Seq("a b c")),
      (1L, Seq.empty[String]),
      (2L, null.asInstanceOf[Seq[String]]),
      (3L, Seq("a b c", null))
    ).toDF("id", "sh")
    val got = df.select($"id",
      Dedup.minhashSignature($"sh", 8).as("fast"),
      Dedup.minhashSignatureHof($"sh", 8).as("hof"))
      .orderBy("id").collect()
    got.foreach { r =>
      assert(r.isNullAt(1) === r.isNullAt(2), s"null mismatch: $r")
      if (!r.isNullAt(1)) assert(r.getSeq[Long](1) === r.getSeq[Long](2), s"$r")
    }
    // empty shingle set → identity signature (all MaxValue)
    assert(got(1).getSeq[Long](1) === Seq.fill(8)(Long.MaxValue))
    // null array → null signature
    assert(got(2).isNullAt(1))
  }

  test("MinHashSigFromHashes(xxhash64(sh)) ≡ MinHashSig(sh), bit-identical") {
    // the batch near-dup path signs the HASHED shingle frame — the two
    // family derivations must agree to the bit or the band join and every
    // committed oracle diverge
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val got = docs.select(
      Dedup.minhashSignature(Dedup.wordShingles(col("text"), 3), 16).as("s"),
      graft.expr.MinHashSigFromHashes.minhash_sig_hashed(
        transform(Dedup.wordShingles(col("text"), 3), x => xxhash64(x)), 16).as("h"))
    assert(got.where(col("s") =!= col("h")).count() === 0L)
    // empty input → identity signature, like the string form
    import spark.implicits._
    val empty = Seq(Seq.empty[Long]).toDF("shh")
      .select(graft.expr.MinHashSigFromHashes.minhash_sig_hashed($"shh", 4))
      .head().getSeq[Long](0)
    assert(empty === Seq.fill(4)(Long.MaxValue))
  }

  test("SigAgreement ≡ HOF agreement formula on real signature pairs") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(60)
    val sigs = docs.select(col("doc_id"),
      Dedup.minhashSignature(Dedup.wordShingles(col("text"), 3), 16).as("sig"))
    val pairs = sigs.select(col("doc_id").as("ia"), col("sig").as("sa"))
      .crossJoin(sigs.select(col("doc_id").as("ib"), col("sig").as("sb")))
      .where(col("ia") < col("ib"))
    val got = pairs.select(
      graft.expr.SigAgreement.sig_agreement(col("sa"), col("sb")).as("e"),
      (Dedup.sigAgreementEstHof(col("sa"), col("sb"), 16) * 16)
        .cast("int").as("h"))
    assert(got.where(col("e") =!= col("h")).count() === 0L)
    // unequal lengths agree only over the common prefix
    val uneven = Seq((Seq(1L, 2L, 3L), Seq(1L, 9L))).toDF("a", "b")
      .select(graft.expr.SigAgreement.sig_agreement(col("a"), col("b")))
      .head().getInt(0)
    assert(uneven === 1)
  }
}
