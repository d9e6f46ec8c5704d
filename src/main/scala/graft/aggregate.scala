package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Aggregate stage — per-sink turn counts + per-conversation rollups with
  * explicit skew handling (SURVEY.md §2.7; north rule "salted repartitioning
  * to defuse hot-conversation skew").
  *
  * Skew story: conversation sizes are Zipf — a handful of conv_ids own a
  * large share of rows. Plain `groupBy(conv_id)` puts each hot key on ONE
  * reduce task. The salted plan bounds any single task's share of a hot key
  * to 1/SALT, and keeping the tool in the grouping key makes distinct-tool
  * counting a plain count over groups, so every phase is a fixed-width,
  * codegen'd `HashAggregate` with map-side partial aggregation, exact for
  * any tool vocabulary:
  *
  *   phase 1: groupBy(conv_id, salt = pmod(xxhash64(conv_id, turn_idx), SALT),
  *            tool_invoked) → partial count/sum/min/max
  *   phase 2: groupBy(conv_id, tool_invoked) → merge the salts
  *   phase 3: groupBy(conv_id) → merge the tools; distinct tools =
  *            count of the counted tools, one row each
  *
  * Per-group object sets (`collect_set`) would force ObjectHashAggregate,
  * whose sort-based spill fallback collapses under memory pressure
  * (measured: 210 s vs 14 s on the same 20M-turn corpus, BASELINE.md).
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
    * the skew defense, at `unclustered` ways (a topology's `salt`).
    */
  def saltFor(convClustered: Boolean, unclustered: Int = DefaultSalt): Int =
    if (convClustered) 1 else unclustered

  /** Per-sink turn counts (batchprocessor-style counters, §2.5). */
  def sinkCounts(routed: DataFrame): DataFrame =
    routed.groupBy(col(Route.SinkCol)).agg(count(lit(1)).as("n_turns"))

  /** The tool a turn counts toward `n_tools_distinct`: null for "none" and
    * for a grok miss (""). Shared with [[TailSample.decideBatch]].
    */
  private[graft] def countedTool(toolInvoked: Column): Column =
    when(!toolInvoked.isin("none", ""), toolInvoked)

  /** Phase 1: salted partials keyed by (conv_id, _salt, keys…, tool_invoked). */
  private def salted(df: DataFrame, salt: Int, keys: Column*): DataFrame =
    df.withColumn("_salt", pmod(xxhash64(col("conv_id"), col("turn_idx")), lit(salt.toLong)))
      .groupBy(Seq(col("conv_id"), col("_salt")) ++ keys :+ col("tool_invoked"): _*)
      .agg(
        count(lit(1)).as("p_turns"),
        sum(when(col("err_code").isNotNull, 1L).otherwise(0L)).as("p_errors"),
        min(col("ts")).as("p_first"),
        max(col("ts")).as("p_last"),
        sum(col("latency_ms")).as("p_lat"))

  /** Per-conversation rollup, salted. Output:
    * (conv_id, n_turns, n_errors, n_tools_distinct, first_ts, last_ts,
    *  sum_latency_ms)
    */
  def convRollup(parsed: DataFrame, salt: Int = DefaultSalt): DataFrame =
    convRollupFromPartials(salted(parsed, salt))

  /** Phase 1 with the sink in the key, so one frame feeds both
    * [[sinkCountsFromPartials]] and [[convRollupFromPartials]]. Only
    * perfbench's traced replay aggregates this way; every run aggregates
    * [[sinkCounts]] and [[convRollup]] over the routed frame.
    */
  def partials(routed: DataFrame, salt: Int = DefaultSalt): DataFrame =
    salted(routed, salt, col(Route.SinkCol))

  /** Per-sink counts from [[partials]] — tiny final aggregation. */
  def sinkCountsFromPartials(partials: DataFrame): DataFrame =
    partials.groupBy(col(Route.SinkCol)).agg(sum(col("p_turns")).as("n_turns"))

  /** Phases 2 and 3 of the rollup, over any phase-1 frame: the rollup's own
    * or [[partials]] (its sink key is merged away with the salt).
    */
  def convRollupFromPartials(partials: DataFrame): DataFrame =
    partials
      .groupBy(col("conv_id"), col("tool_invoked"))
      .agg(
        sum(col("p_turns")).as("p_turns"),
        sum(col("p_errors")).as("p_errors"),
        min(col("p_first")).as("p_first"),
        max(col("p_last")).as("p_last"),
        sum(col("p_lat")).as("p_lat"))
      .groupBy(col("conv_id"))
      .agg(
        sum(col("p_turns")).as("n_turns"),
        sum(col("p_errors")).as("n_errors"),
        count(countedTool(col("tool_invoked"))).cast("int").as("n_tools_distinct"),
        min(col("p_first")).as("first_ts"),
        max(col("p_last")).as("last_ts"),
        sum(col("p_lat")).as("sum_latency_ms"))
}
