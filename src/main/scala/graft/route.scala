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
  * once. Every output file has a fixed open/close cost (the collector's
  * reason for batching exports), so the write first range-partitions the
  * rows in directory order: each write task covers a contiguous slice of
  * directories and writes one file per directory it covers, at most
  * dirs + P − 1 files per call instead of up to one per task and directory.
  */
final case class SinkSpec(name: String, pred: Column)

object Route {

  val SinkCol = "sink"
  val RestSink = "rest"

  /** The partition keys of [[writePartitioned]], in directory order. */
  val PartitionCols: Seq[String] = Seq(SinkCol, "tool_invoked", "role")

  /** Row order of [[writePartitioned]]: directory, then row within it. */
  private val WriteOrder = (PartitionCols ++ Seq("conv_id", "turn_idx")).map(col)

  /** Add a `sink` column: first matching spec, else "rest". */
  def assign(df: DataFrame, sinks: Seq[SinkSpec]): DataFrame = {
    require(sinks.nonEmpty, "need at least one sink spec")
    val expr = sinks.foldLeft(org.apache.spark.sql.functions.when(lit(false), lit(""))) {
      (acc, s) => acc.when(s.pred, lit(s.name))
    }.otherwise(lit(RestSink))
    df.withColumn(SinkCol, expr)
  }

  /** Single-pass partitioned fanout write. Keyed by
    * sink/tool/role per the north rule ("per-sink tables keyed by tool and
    * role"). Each file is sorted by `(conv_id, turn_idx)`, which gives
    * reproducible file contents without a global sort (SURVEY.md §7.4). The
    * local sort leads with the directory keys because the write sorts by
    * them anyway: a sort on `(conv_id, turn_idx)` alone is replaced by the
    * write's own sort on the directory keys, leaving rows within a
    * directory in arrival order.
    *
    * Before the write the rows are range-partitioned into
    * P = `defaultParallelism` tasks on the directory keys followed by
    * `(conv_id, turn_idx)`. Each task gets a contiguous ~1/P of the rows in
    * directory order, so a small directory is written by one task and a hot
    * one is split over about ⌈share·P⌉ tasks: at most dirs + P − 1 files,
    * with no hot-key straggler. Rejected: hashing the directory keys puts a
    * hot directory on one task; the `rebalance` hint lets AQE coalesce a
    * small batch to one or two tasks; a range on the directory keys alone
    * cannot split a hot directory. The cost is one range exchange of the
    * rows plus Spark's sampling pass over them; the production callers
    * (`Pipeline.runBatch` and the streaming micro-batch commit) persist
    * `routed` first, so that pass reads the cache.
    */
  def writePartitioned(routed: DataFrame, outDir: String,
                       format: String = "parquet"): Unit =
    routed
      .repartitionByRange(routed.sparkSession.sparkContext.defaultParallelism,
        WriteOrder: _*)
      .sortWithinPartitions(WriteOrder: _*)
      .write.format(format).mode("overwrite")
      .partitionBy(PartitionCols: _*)
      .save(outDir)
}
