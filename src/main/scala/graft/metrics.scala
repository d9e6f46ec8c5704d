package graft

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.LongAccumulator

/** obsreport-style pipeline observability (SURVEY.md §2.12; ref
  * `obsreport/obsreport.go`). Counter taxonomy copied verbatim:
  * accepted / refused / dropped / sent / failed, tagged by stage name.
  *
  * Three mechanisms, none a second pass over the data:
  *  - [[ObsMetrics]]: named `LongAccumulator`s (cluster-wide, cheap, survive
  *    into the driver) — the counters.
  *  - [[Obs.observed]]: `Dataset.observe` row counts per stage — exact
  *    per-action numbers.
  *  - [[Obs.countRouted]]: the one count of every routed commit (batch and
  *    micro-batch). A collected (partition, sink) aggregate writes the
  *    per-partition lineage table (north rule: "per-partition lineage")
  *    and `sink_counts`, and fills `route/sent` and `parse/accepted`.
  */
final class ObsMetrics(spark: SparkSession) extends Serializable {
  private val accs = TrieMap.empty[String, LongAccumulator]

  def counter(stage: String, kind: String): LongAccumulator =
    accs.getOrElseUpdate(s"$stage/$kind",
      spark.sparkContext.longAccumulator(s"graft.$stage.$kind"))

  def accepted(stage: String): LongAccumulator = counter(stage, "accepted")
  def refused(stage: String): LongAccumulator  = counter(stage, "refused")
  def dropped(stage: String): LongAccumulator  = counter(stage, "dropped")
  def sent(stage: String): LongAccumulator     = counter(stage, "sent")
  def failed(stage: String): LongAccumulator   = counter(stage, "failed")

  def snapshot: Map[String, Long] =
    accs.iterator.map { case (k, a) => (k, a.value.longValue()) }.toMap
}

/** Harvests `Dataset.observe` metrics into [[ObsMetrics]] counters after
  * each batch query — the obsreport listener glue (SURVEY.md §2.12): an
  * `observe("graft_<stage>", count(*) as rows, ...)` tag on a frame becomes
  * `<stage>/accepted` (and `<stage>/dropped` for null keys) without a second
  * pass over the data. Register with
  * `spark.listenerManager.register(new ObsQueryListener(metrics))`.
  */
final class ObsQueryListener(metrics: ObsMetrics)
    extends org.apache.spark.sql.util.QueryExecutionListener {

  override def onSuccess(funcName: String,
      qe: org.apache.spark.sql.execution.QueryExecution,
      durationNs: Long): Unit =
    qe.observedMetrics.foreach { case (name, row) =>
      Obs.harvest(metrics, name, row)
    }

  override def onFailure(funcName: String,
      qe: org.apache.spark.sql.execution.QueryExecution,
      exception: Exception): Unit =
    metrics.failed("query").add(1L)
}

/** Streaming twin of [[ObsQueryListener]]: harvests `observe` tags from
  * each micro-batch's progress AND counts rows the watermark dropped
  * (the §2.12 `dropped` taxonomy for late data — the reference counts
  * these in the processor's dropped_spans). Register with
  * `spark.streams.addListener(new ObsStreamingListener(metrics))`.
  */
final class ObsStreamingListener(metrics: ObsMetrics)
    extends org.apache.spark.sql.streaming.StreamingQueryListener {
  import org.apache.spark.sql.streaming.StreamingQueryListener._

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    e.progress.observedMetrics.forEach { (name, row) =>
      Obs.harvest(metrics, name, row)
    }
    e.progress.stateOperators.foreach { s =>
      if (s.numRowsDroppedByWatermark > 0)
        metrics.dropped("watermark").add(s.numRowsDroppedByWatermark)
    }
  }

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
    if (e.exception.isDefined) metrics.failed("stream").add(1L)
}

object Obs {

  /** Shared harvest: map a `graft_<stage>` observe row's fields onto the
    * counter taxonomy — `rows` → accepted, `null_keys`/`dropped` →
    * dropped (e.g. the LSH hot-bucket cap reports its overflow that way).
    */
  private[graft] def harvest(metrics: ObsMetrics, name: String, row: Row): Unit =
    if (name.startsWith("graft_")) {
      val stage = name.stripPrefix("graft_")
      val r = row.schema.fieldNames.indexOf("rows")
      if (r >= 0 && !row.isNullAt(r)) metrics.accepted(stage).add(row.getLong(r))
      val i = row.schema.fieldNames.indexOf("null_keys")
      if (i >= 0 && !row.isNullAt(i)) metrics.dropped(stage).add(row.getLong(i))
      val d = row.schema.fieldNames.indexOf("dropped")
      if (d >= 0 && !row.isNullAt(d)) metrics.dropped(stage).add(row.getLong(d))
    }

  /** Tag a frame with an `observe` aggregate; harvest with a
    * QueryExecutionListener or `observedMetrics` on streaming progress.
    */
  def observed(df: DataFrame, stage: String): DataFrame =
    df.observe(s"graft_$stage",
      count(lit(1)).as("rows"),
      count_if(col("conv_id").isNull).as("null_keys"))

  /** The per-sink counts [[countRouted]] hands on: [[Aggregate.sinkCounts]]'s layout. */
  val SinkCountsSchema: StructType =
    StructType.fromDDL(s"${Route.SinkCol} STRING NOT NULL, n_turns BIGINT NOT NULL")

  private val LineageSchema = StructType.fromDDL("batch_id BIGINT NOT NULL, " +
    "partition_id INT NOT NULL, stage STRING NOT NULL, rows BIGINT NOT NULL")

  /** The one count of a committed batch: `groupBy(spark_partition_id(),
    * keys…)` over `df`, collected (≤ partitions × key values rows). Writes
    * the per-partition sums to `_lineage/stage=<stage>/batch_id=<batchId>`
    * while `keyed` consumes the rows ([[Commit.all]]: one failed write does
    * not stop the other); returns the total. The partitions are
    * those of `df`: for the routed frame, the routed (pre-write) ones, not
    * the range-partitioned tasks of [[Route.writePartitioned]].
    */
  private def countBatch(df: DataFrame, batchId: Long, stage: String, outDir: String,
                         keys: Column*)(keyed: Array[Row] => Unit): Long = {
    val rows = df.groupBy(spark_partition_id() +: keys: _*).count().collect()
    val perPartition = rows.groupMapReduce(_.getInt(0))(_.getLong(keys.size + 1))(_ + _)
    Commit.all(
      () => df.sparkSession.createDataFrame(perPartition.toSeq
          .map { case (p, n) => Row(batchId, p, stage, n) }.asJava, LineageSchema)
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/_lineage/stage=$stage/batch_id=$batchId"),
      () => keyed(rows))
    perPartition.values.sum
  }

  /** Write the lineage table for one batch and return its row count. */
  def writeLineage(df: DataFrame, batchId: Long, stage: String,
                   outDir: String): Long =
    countBatch(df, batchId, stage, outDir)(_ => ())

  /** How a routed commit counts its rows, batch and micro-batch alike:
    * one [[countBatch]] keyed by sink writes the lineage under stage
    * `route`, hands the per-sink sums to `writeSinkCounts` as a local frame
    * of [[SinkCountsSchema]], and adds the total to `route/sent` and
    * `parse/accepted` of `obs` once both writes succeed.
    */
  def countRouted(routed: DataFrame, batchId: Long, outDir: String,
                  obs: Option[ObsMetrics])(writeSinkCounts: DataFrame => Unit): Unit = {
    val n = countBatch(routed, batchId, "route", outDir, col(Route.SinkCol)) { rows =>
      writeSinkCounts(routed.sparkSession.createDataFrame(
        rows.groupMapReduce(_.getString(1))(_.getLong(2))(_ + _)
          .toSeq.map { case (sink, c) => Row(sink, c) }.asJava, SinkCountsSchema))
    }
    obs.foreach { m => m.sent("route").add(n); m.accepted("parse").add(n) }
  }
}
