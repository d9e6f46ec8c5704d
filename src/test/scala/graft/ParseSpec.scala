package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The regexp-only parse: one built-in `regexp_extract` per field, no custom
  * expression. Ground-truth and parity reference for [[Parse.parseGrok]].
  */
object RegexpParse {
  def parse(turns: DataFrame): DataFrame =
    turns
      .withColumn("tool_invoked", regexp_extract(col("text"), "tool=([A-Za-z0-9_]+)", 1))
      .withColumn("status", regexp_extract(col("text"), "status=([A-Za-z0-9]+)", 1))
      .withColumn("err_code",
        when(col("status").rlike("^E[0-9]{3}$"), col("status")))
      // regexp_extract returns "" on miss; nullif before cast avoids
      // NumberFormatException under ANSI
      .withColumn("latency_ms", coalesce(
        nullif(regexp_extract(col("text"), "latency=([0-9]+)ms", 1), lit("")).cast("long"),
        lit(-1L)))
}

class ParseSpec extends SparkTestBase {

  test("datagen is deterministic and Zipf-skewed") {
    val a = TranscriptGen.turns(spark, 200, seed = 42)
    val b = TranscriptGen.turns(spark, 200, seed = 42)
    assert(a.drop("_truth").exceptAll(b.drop("_truth")).isEmpty)
    assert(b.drop("_truth").exceptAll(a.drop("_truth")).isEmpty)
    val sizes = a.groupBy("conv_id").count()
      .agg(max("count").as("mx"), min("count").as("mn")).head()
    assert(sizes.getLong(0) > 20 * sizes.getLong(1),
      "expected heavy skew in conversation sizes")
    // turn_idx dense & unique per conversation
    val dup = a.groupBy("conv_id", "turn_idx").count().where(col("count") > 1).count()
    assert(dup === 0)
  }

  test("ts is monotone within a conversation") {
    val t = TranscriptGen.turns(spark, 100, seed = 42)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("conv_id").orderBy("turn_idx")
    val bad = t.withColumn("prev", lag(col("ts"), 1).over(w))
      .where(col("prev").isNotNull && col("ts") <= col("prev")).count()
    assert(bad === 0)
  }

  test("parse recovers generator ground truth (built-ins path)") {
    val t = TranscriptGen.turns(spark, 300, seed = 42)
    val parsed = RegexpParse.parse(t)
    val bad = parsed.where(
      col("tool_invoked") =!= col("_truth.tool_invoked") ||
      col("status") =!= col("_truth.status") ||
      col("latency_ms") =!= col("_truth.latency_ms") ||
      !(col("err_code") <=> col("_truth.err_code"))).count()
    assert(bad === 0)
  }

  test("parseGrok ≡ parse (one-pass custom expression path)") {
    val t = TranscriptGen.turns(spark, 300, seed = 42).drop("_truth")
    val cols = Seq("conv_id", "turn_idx", "tool_invoked", "status", "err_code", "latency_ms")
    val a = RegexpParse.parse(t).select(cols.map(col): _*)
    val b = Parse.parseGrok(t).select(cols.map(col): _*)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }
}
