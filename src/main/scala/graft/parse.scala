package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Parse stage — the attributesprocessor `extract` action (SURVEY.md §2.3,
  * ref `internal/processor/attraction/attraction.go: extractAttributes`):
  * regex named-capture groups over the text column become typed fields,
  * in one pass with the custom [[graft.expr.GrokExtract]] Catalyst
  * expression. It stays inside whole-stage codegen; no UDFs anywhere.
  */
object Parse {

  /** tool=<word> status=<token> latency=<n>ms — the grok-able layout
    * emitted by TranscriptGen / FIXTURES.md §1.
    */
  val DefaultPattern =
    "tool=(?<tool_invoked>[A-Za-z0-9_]+) status=(?<status>[A-Za-z0-9]+) latency=(?<latency_ms>[0-9]+)ms"

  /** ParsedTurn-shaped output. `pattern` must name the groups
    * `tool_invoked`, `status` and `latency_ms`; a miss gives
    * `tool_invoked` = "", `status` = "", `err_code` = null and
    * `latency_ms` = -1.
    */
  def parseGrok(turns: DataFrame, pattern: String = DefaultPattern): DataFrame =
    turns
      .withColumn("_g", graft.expr.GrokExtract.grok_extract(col("text"), pattern))
      .withColumn("tool_invoked", coalesce(col("_g.tool_invoked"), lit("")))
      .withColumn("status", coalesce(col("_g.status"), lit("")))
      .withColumn("err_code",
        when(col("_g.status").rlike("^E[0-9]{3}$"), col("_g.status")))
      .withColumn("latency_ms",
        coalesce(col("_g.latency_ms").cast("long"), lit(-1L)))
      .drop("_g")
}
