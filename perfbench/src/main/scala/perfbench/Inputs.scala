package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{BucketedCorpus, TranscriptGen}

/** Workload inputs, all derived from the benchmark seed. The program only
  * ever sees the files written here. */
object Inputs {

  val Table = "bench_turns"

  /** The TranscriptGen Zipf corpus cut to its first conversations that
    * together hold at most `turns` turns, so that every seed gives an input
    * of the same size. Conversations average more than two turns, so
    * `turns / 2` of them are always enough. */
  private def corpus(spark: SparkSession, turns: Long, seed: Long): DataFrame = {
    val all = TranscriptGen.turns(spark, turns / 2, seed, maxTurns = Main.MaxTurns)
      .drop("_truth")
    val upTo = Window.orderBy("conv_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val keep = all.groupBy("conv_id").count()
      .withColumn("_upto", sum("count").over(upTo))
      .where(col("_upto") <= turns).select("conv_id")
    all.join(keep, Seq("conv_id"), "left_semi")
  }

  /** route_bucketed: the Zipf corpus as a conv-bucketed table. */
  def bucketed(spark: SparkSession, seed: Long, turns: Long, dir: String,
               buckets: Int): Unit =
    BucketedCorpus.write(corpus(spark, turns, seed), dir, Table, buckets)

  def openBucketed(spark: SparkSession, dir: String, buckets: Int): DataFrame =
    BucketedCorpus.open(spark, dir, Table, buckets)

  /** route_skew_config: scattered parquet of `turns` turns plus one
    * conversation of `hotTurns` turns, and ~20% of turns that miss the grok
    * pattern (empty, NULL and non-ASCII free text in equal shares). The hot
    * conversation is a second corpus folded onto one conv_id; turn_idx
    * stays unique because no source conversation exceeds MaxTurns turns. */
  def skewed(spark: SparkSession, seed: Long, turns: Long, hotTurns: Long, dir: String,
             files: Int): Unit = {
    val base = corpus(spark, turns, seed)
    val hot = corpus(spark, hotTurns, seed + 1)
      .withColumn("turn_idx",
        (substring(col("conv_id"), 6, 16).cast("int") * Main.MaxTurns + col("turn_idx")).cast("int"))
      .withColumn("conv_id", lit("conv-hot"))
    val freeText = array(
      lit("résumé naïve — übermäßig café"),
      lit("日本語のテキストです、ツールなし"),
      lit("Привет, это просто текст без инструмента"),
      lit("¿Dónde está la señal? ✓ ✗ ☂"))
    val miss = pmod(xxhash64(lit(seed), lit("miss"), col("conv_id"), col("turn_idx")), lit(15L))
    base.unionByName(hot)
      .withColumn("text",
        when(miss === 0, lit(""))
          .when(miss === 1, lit(null).cast("string"))
          .when(miss === 2, element_at(freeText,
            (pmod(xxhash64(lit(seed), col("turn_idx")), lit(4L)) + 1).cast("int")))
          .otherwise(col("text")))
      .repartition(files, xxhash64(lit(seed), col("conv_id"), col("turn_idx")))
      .write.mode("overwrite").parquet(dir)
  }
}

object Dirs {
  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }
}
