package graft

import org.apache.spark.sql.types._

/** Core row types for the transcript pipeline.
  *
  * Mirrors the reference collector's item model (SURVEY.md §1.4):
  * a LogRecord-like row per turn — `consumer/pdata/log.go` maps
  * `trace_id→conv_id`, `body→text`, attrs→`role`/`tool`, `timestamp→ts`.
  * Shape is fixed by BASELINE.json `input_hint`.
  */
final case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: java.sql.Timestamp
)

/** Output of the Parse stage (§2.3 attributesprocessor `extract` action):
  * structured fields recovered from `text` plus the original envelope.
  */
final case class ParsedTurn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: java.sql.Timestamp,
    tool_invoked: String,
    status: String,
    err_code: String, // null when status is OK
    latency_ms: Long
)

/** Enrich dimensions (broadcast side, SURVEY.md §2.13-joins). */
final case class RoleDim(role: String, role_kind: String, is_human: Boolean)
final case class ToolDim(tool: String, tool_family: String, owner: String)

object Schemas {
  /** Explicit StructType for streaming reads (readStream needs a schema).
    *
    * Every field is nullable because that is what readers see: the
    * streaming file source forces a user schema nullable, and a batch
    * read takes the file's (nullable) schema. NULL `text` is part of the
    * contract, not an error: it parses as a grok miss (see
    * [[Parse.parseGrok]]) and routes to the same sink on every path —
    * `runBatch`, `StreamingPipeline.start` and `startStreamsShared`
    * (ParitySpec's NULL-text row).
    */
  val turn: StructType = StructType(Seq(
    StructField("conv_id", StringType),
    StructField("turn_idx", IntegerType),
    StructField("role", StringType),
    StructField("text", StringType),
    StructField("tool", StringType),
    StructField("ts", TimestampType)
  ))
}
