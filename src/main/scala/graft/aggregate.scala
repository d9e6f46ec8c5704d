package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Aggregate stage — per-sink turn counts + per-conversation rollups with
  * explicit skew handling (SURVEY.md §2.7; north rule "salted repartitioning
  * to defuse hot-conversation skew").
  *
  * Skew story: conversation sizes are Zipf — a handful of conv_ids own a
  * large share of rows. Plain `groupBy(conv_id)` puts each hot key on ONE
  * reduce task. For count/min/max/sum Spark's map-side partial aggregation
  * already collapses most of that, but `collect_set`/`count_distinct` force
  * full rows to the reducer. The salted two-phase plan bounds any single
  * task's share of a hot key to 1/SALT:
  *
  *   phase 1: groupBy(conv_id, salt = pmod(xxhash64(conv_id, turn_idx), SALT))
  *            → partial count/min/max/sum + collect_set(tool)  (set ≤ 13)
  *   phase 2: groupBy(conv_id) → merge partials; distinct tools =
  *            size(array_distinct(flatten(collect_list(partial sets))))
  *
  * The salt is DETERMINISTIC (xxhash64 of row keys, never rand()) so retries
  * and recomputations route rows identically (SURVEY.md §7.4). AQE skew
  * handling stays on as the safety net.
  */
object Aggregate {

  val DefaultSalt = 16

  /** THE salt-by-layout rule, in one place: conv-clustered input
    * (a [[BucketedCorpus]] scan) aggregates shuffle-free, so there is no
    * shuffle skew to defuse and salting only multiplies the aggregate's
    * group cardinality (measured: ~1.7× extra scan from partials-cache
    * pressure, BASELINE.md round 2). Unclustered input shuffles → keep
    * the skew defense.
    */
  def saltFor(convClustered: Boolean): Int =
    if (convClustered) 1 else DefaultSalt

  /** Per-sink turn counts (batchprocessor-style counters, §2.5). */
  def sinkCounts(routed: DataFrame): DataFrame =
    routed.groupBy(col(Route.SinkCol)).agg(count(lit(1)).as("n_turns"))

  /** The tool a turn counts toward `n_tools_distinct`: null for "none" and
    * for a grok miss (""), as in [[toolMask]], whose vocabulary holds neither.
    */
  private def countedTool(toolInvoked: Column): Column =
    when(!toolInvoked.isin("none", ""), toolInvoked)

  /** Per-conversation rollup, salted two-phase. Output:
    * (conv_id, n_turns, n_errors, n_tools_distinct, first_ts, last_ts,
    *  sum_latency_ms)
    */
  def convRollup(parsed: DataFrame, salt: Int = DefaultSalt): DataFrame = {
    val partial = parsed
      .withColumn("_salt", pmod(xxhash64(col("conv_id"), col("turn_idx")), lit(salt.toLong)))
      .groupBy(col("conv_id"), col("_salt"))
      .agg(
        count(lit(1)).as("p_turns"),
        sum(when(col("err_code").isNotNull, 1L).otherwise(0L)).as("p_errors"),
        min(col("ts")).as("p_first"),
        max(col("ts")).as("p_last"),
        sum(col("latency_ms")).as("p_lat"),
        collect_set(countedTool(col("tool_invoked"))).as("p_tools"))
    partial
      .groupBy(col("conv_id"))
      .agg(
        sum(col("p_turns")).as("n_turns"),
        sum(col("p_errors")).as("n_errors"),
        size(array_distinct(flatten(collect_list(col("p_tools"))))).as("n_tools_distinct"),
        min(col("p_first")).as("first_ts"),
        max(col("p_last")).as("last_ts"),
        sum(col("p_lat")).as("sum_latency_ms"))
  }

  /** ONE-PASS partials for the whole aggregate stage: a single salted
    * shuffle over the full data keyed by (conv_id, salt, sink); both
    * per-sink counts and per-conversation rollups derive from this small
    * frame with near-free final aggregations.
    *
    * This is the 100 TB shape: the alternative (separate
    * `sinkCounts(routed)` + `convRollup(routed)`) either shuffles the full
    * data twice or persists the full routed frame — both non-scaling. Here
    * map-side partial aggregation collapses each task's rows to its
    * distinct (conv, salt, sink) keys before the only full-data shuffle,
    * and the salt bounds any hot conversation's share of a reduce task.
    */
  /** Distinct-tool bitmask: the tool vocabulary is small and known (the
    * broadcast tool_dim), so per-group distinct tools is `bit_or` of a
    * one-hot long — a FIXED-WIDTH aggregate that stays in codegen'd
    * HashAggregate. `collect_set` at this cardinality forces
    * ObjectHashAggregate with per-group java sets, whose sort-based
    * spill fallback collapses under memory pressure (measured: 210 s vs
    * 14 s on the same 20M-turn corpus). Bitmask = the 100 TB shape for
    * small-vocabulary distinct counting; [[convRollup]] keeps the
    * set-based variant for unbounded vocabularies.
    */
  def toolMask(toolInvoked: Column,
               vocab: Seq[String] = TranscriptGen.toolNames): Column = {
    // shiftleft wraps mod 64 — a larger vocab would silently alias bits;
    // callers with unbounded vocabularies must use the set-based rollup.
    require(vocab.size <= 64, s"toolMask vocab too large (${vocab.size} > 64)")
    val pos = array_position(typedLit(vocab), toolInvoked)
    when(toolInvoked =!= "none" && pos > 0,
      call_function("shiftleft", lit(1L), (pos - 1).cast("int")))
      .otherwise(lit(0L))
  }

  def partials(routed: DataFrame, salt: Int = DefaultSalt,
               vocab: Seq[String] = TranscriptGen.toolNames): DataFrame =
    routed
      .withColumn("_salt",
        pmod(xxhash64(col("conv_id"), col("turn_idx")), lit(salt.toLong)))
      .groupBy(col("conv_id"), col("_salt"), col(Route.SinkCol))
      .agg(
        count(lit(1)).as("p_turns"),
        sum(when(col("err_code").isNotNull, 1L).otherwise(0L)).as("p_errors"),
        min(col("ts")).as("p_first"),
        max(col("ts")).as("p_last"),
        sum(col("latency_ms")).as("p_lat"),
        bit_or(toolMask(col("tool_invoked"), vocab)).as("p_toolmask"))

  /** Per-sink counts from [[partials]] — tiny final aggregation. */
  def sinkCountsFromPartials(partials: DataFrame): DataFrame =
    partials.groupBy(col(Route.SinkCol)).agg(sum(col("p_turns")).as("n_turns"))

  /** Per-conversation rollup from [[partials]] — tiny final aggregation. */
  def convRollupFromPartials(partials: DataFrame): DataFrame =
    partials
      .groupBy(col("conv_id"))
      .agg(
        sum(col("p_turns")).as("n_turns"),
        sum(col("p_errors")).as("n_errors"),
        bit_count(bit_or(col("p_toolmask"))).cast("int").as("n_tools_distinct"),
        min(col("p_first")).as("first_ts"),
        max(col("p_last")).as("last_ts"),
        sum(col("p_lat")).as("sum_latency_ms"))

  /** Unsalted single-phase rollup — correctness oracle for the salted plan
    * (results must be identical; asserted in AggregateSpec).
    */
  def convRollupUnsalted(parsed: DataFrame): DataFrame =
    parsed.groupBy(col("conv_id")).agg(
      count(lit(1)).as("n_turns"),
      sum(when(col("err_code").isNotNull, 1L).otherwise(0L)).as("n_errors"),
      count_distinct(countedTool(col("tool_invoked"))).cast("int").as("n_tools_distinct"),
      min(col("ts")).as("first_ts"),
      max(col("ts")).as("last_ts"),
      sum(col("latency_ms")).as("sum_latency_ms"))
}
