package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based tests (SURVEY.md §5.3 — the goldendataset/PICT analog):
  * generated inputs over the component alphabets, invariants asserted
  * against independent JVM oracles. ScalaCheck generators with fixed seeds
  * (deterministic — no wall-clock randomness in CI).
  */
class PropertySpec extends SparkTestBase {

  private def samples[A](gen: Gen[A], n: Int, seed: Long = 42L): Seq[A] =
    (0 until n).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(seed + i)))

  private val word = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)

  test("GrokExtract agrees with a JVM-regex oracle on generated texts") {
    import spark.implicits._
    val pat = "tool=(?<tool_name>[A-Za-z0-9_]+) status=(?<code>[A-Za-z0-9]+)"
    val textGen: Gen[String] = Gen.oneOf(
      for { t <- word; s <- word } yield s"call tool=$t status=$s tail",
      for { t <- word } yield s"tool=$t missing-status",
      Gen.listOf(word).map(_.mkString(" ")),                 // noise
      for { t <- word; s <- word } yield s"x tool=$t status=$s tool=zz status=qq")
    val texts = samples(textGen, 300)

    val got = texts.toDF("text")
      .withColumn("g", graft.expr.GrokExtract.grok_extract(col("text"), pat))
      .select(col("text"), col("g.tool_name"), col("g.code"))
      .collect()
      .map(r => (r.getString(0), Option(r.getString(1)), Option(r.getString(2))))

    val (oraclePat, _, idxs) = graft.expr.GrokExtract.compilePattern(pat)
    got.foreach { case (text, tool, code) =>
      val m = oraclePat.matcher(text)
      if (m.find()) {
        assert(tool === Option(m.group(idxs(0))), s"text=$text")
        assert(code === Option(m.group(idxs(1))), s"text=$text")
      } else {
        assert(tool.isEmpty && code.isEmpty, s"text=$text")
      }
    }
  }

  test("AttrActions semantics match a Scala Map oracle on generated maps") {
    import spark.implicits._
    val keyGen = Gen.oneOf("a", "b", "c", "d", "e")
    val mapGen: Gen[Map[String, String]] =
      Gen.mapOf(Gen.zip(keyGen, word)).map(_.take(4))
    val maps = samples(mapGen, 200)

    val actions = Seq(
      AttrActions.Insert("a", "ins"),   // only if absent
      AttrActions.Update("b", "upd"),   // only if present
      AttrActions.Upsert("c", "ups"),   // always
      AttrActions.Delete("d"))          // remove

    def oracle(m: Map[String, String]): Map[String, String] = {
      var r = m
      if (!r.contains("a")) r = r + ("a" -> "ins")
      if (r.contains("b")) r = r + ("b" -> "upd")
      r = r + ("c" -> "ups")
      r - "d"
    }

    val got = AttrActions.process(
        maps.zipWithIndex.map { case (m, i) => (i, m) }.toDF("i", "attrs"),
        "attrs", actions)
      .orderBy("i").collect()
      .map(_.getAs[Map[String, String]]("attrs"))

    maps.zip(got).foreach { case (in, out) =>
      assert(out === oracle(in), s"in=$in")
    }
  }

  test("sampler keeps conversations atomically at any percentage") {
    import spark.implicits._
    val pcts = samples(Gen.choose(0.0, 100.0), 5)
    val turns = TranscriptGen.turns(spark, 300, seed = 42).drop("_truth").cache()
    pcts.foreach { pct =>
      val kept = Sampler.sampleConversations(turns, pct)
      // atomic: every kept conversation is fully kept
      val perConv = kept.groupBy("conv_id").count()
        .join(turns.groupBy("conv_id").count()
          .withColumnRenamed("count", "total"), "conv_id")
      assert(perConv.where(col("count") =!= col("total")).count() === 0,
        s"pct=$pct")
      // deterministic: same predicate, same result
      assert(kept.count() === Sampler.sampleConversations(turns, pct).count())
    }
    turns.unpersist()
  }

  test("route always assigns exactly one sink for generated predicate lists") {
    val turns = Parse.parseGrok(
      TranscriptGen.turns(spark, 150, seed = 42).drop("_truth")).cache()
    val predPool = Seq(
      SinkSpec("p_lat", col("latency_ms") > 2500),
      SinkSpec("p_err", col("err_code").isNotNull),
      SinkSpec("p_tool", col("tool_invoked") =!= "none"),
      SinkSpec("p_role", col("role") === "assistant"),
      SinkSpec("p_all", lit(true)))
    val subsets = samples(Gen.someOf(predPool).map(_.toSeq), 6)
      .filter(_.nonEmpty)
    subsets.foreach { sinks =>
      val routed = Route.assign(turns.toDF(), sinks)
      assert(routed.where(col(Route.SinkCol).isNull).count() === 0)
      assert(routed.count() === turns.count())
      val assigned = routed.select(Route.SinkCol).distinct()
        .collect().map(_.getString(0)).toSet
      assert(assigned.subsetOf(sinks.map(_.name).toSet + Route.RestSink))
    }
    turns.unpersist()
  }
}
