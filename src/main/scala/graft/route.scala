package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Route stage — filterprocessor predicates + fanout connector
  * (SURVEY.md §2.4, §2.10; ref `processor/filterprocessor/filter_processor.go`,
  * `processor/fanoutconnector.go`).
  *
  * Semantics: FIRST-MATCH-WINS over an ordered sink list, with an implicit
  * terminal catch-all. This guarantees the routed outputs PARTITION the input
  * (disjoint + complete) even when user predicates overlap — the parity
  * invariant "routed union == input" holds by construction.
  *
  * Scale: `assign` is a single narrow `CASE WHEN` projection (whole-stage
  * codegen). Writing is ONE pass with `partitionBy("sink", ...)`: N
  * filtered re-scans (the collector's literal fanout, one exporter per
  * sink) would read the batch N times; a partitioned single write reads it
  * once.
  */
final case class SinkSpec(name: String, pred: Column)

object Route {

  val SinkCol = "sink"
  val RestSink = "rest"

  /** The partition keys of [[writePartitioned]], in directory order. */
  val PartitionCols: Seq[String] = Seq(SinkCol, "tool_invoked", "role")

  /** Add a `sink` column: first matching spec, else "rest". */
  def assign(df: DataFrame, sinks: Seq[SinkSpec]): DataFrame = {
    require(sinks.nonEmpty, "need at least one sink spec")
    val expr = sinks.foldLeft(org.apache.spark.sql.functions.when(lit(false), lit(""))) {
      (acc, s) => acc.when(s.pred, lit(s.name))
    }.otherwise(lit(RestSink))
    df.withColumn(SinkCol, expr)
  }

  /** Default sink topology for the transcript pipeline (FIXTURES.md §3):
    * retrieval-tool turns, server-error turns, everything else.
    */
  def defaultSinks: Seq[SinkSpec] = Seq(
    SinkSpec("tool_search", col("tool_invoked").isin("search", "browse", "fetch")),
    SinkSpec("errors", col("err_code").rlike("^E5"))
  )

  /** Single-pass partitioned fanout write. Keyed by
    * sink/tool/role per the north rule ("per-sink tables keyed by tool and
    * role"). `sortWithinPartitions` gives reproducible file contents without
    * a global sort (SURVEY.md §7.4).
    */
  def writePartitioned(routed: DataFrame, outDir: String,
                       format: String = "parquet"): Unit =
    routed
      .sortWithinPartitions(col("conv_id"), col("turn_idx"))
      .write.format(format).mode("overwrite")
      .partitionBy(PartitionCols: _*)
      .save(outDir)
}
