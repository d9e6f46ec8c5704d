package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

/** obsreport-style pipeline observability (SURVEY.md §2.12; ref
  * `obsreport/obsreport.go`). Counter taxonomy copied verbatim:
  * accepted / refused / dropped / sent / failed, tagged by stage name.
  *
  * Two mechanisms, matching the reference's metrics vs spans split:
  *  - [[ObsMetrics]]: named `LongAccumulator`s (cluster-wide, cheap, survive
  *    into the driver) — the counters.
  *  - [[Obs.observed]]: `Dataset.observe` row counts per stage — exact
  *    per-action numbers without a second pass over the data.
  *  - [[Obs.lineage]]: per-partition row counts, written as a small lineage
  *    table per batch (north rule: "per-partition lineage").
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
  private[graft] def harvest(metrics: ObsMetrics, name: String,
                             row: org.apache.spark.sql.Row): Unit =
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

  /** Per-partition lineage frame for one batch:
    * (batch_id, partition_id, stage, rows). A `groupBy(spark_partition_id())`
    * — no mapPartitions, stays declarative. The partitions are those of
    * `df` as the caller passes it: for the routed frame these are the
    * routed (pre-write) partitions, not the tasks of
    * [[Route.writePartitioned]], which range-partitions the rows again.
    */
  def lineage(df: DataFrame, batchId: Long, stage: String): DataFrame =
    df.groupBy(spark_partition_id().as("partition_id"))
      .agg(count(lit(1)).as("rows"))
      .withColumn("batch_id", lit(batchId))
      .withColumn("stage", lit(stage))
      .select("batch_id", "partition_id", "stage", "rows")

  /** Write the lineage table for one batch and return the total row count.
    * The aggregated frame is ≤ #partitions rows, so it is collected once
    * and re-emitted locally — callers get the exact sent-row count WITHOUT
    * a second pass over `df` (round-2 ran an extra `count()` action per
    * micro-batch just for the `sent` counter).
    */
  def writeLineage(df: DataFrame, batchId: Long, stage: String,
                   outDir: String): Long = {
    val lin = lineage(df, batchId, stage)
    val rows = lin.collect()
    val spark = df.sparkSession
    spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), lin.schema)
      .coalesce(1)
      .write.mode("overwrite")
      .parquet(s"$outDir/_lineage/stage=$stage/batch_id=$batchId")
    rows.iterator.map(_.getAs[Long]("rows")).sum
  }
}
