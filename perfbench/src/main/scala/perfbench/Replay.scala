package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft._

/** The traced run: replays the calls of `Pipeline.runBatch` as cumulative
  * prefixes, each forced by the all-columns hash or by its write, one span
  * per prefix.
  * scan, parse, enrich and route fuse into one codegen stage, so each of
  * those prefixes re-runs from the scan and a layer's self time is the
  * difference between consecutive prefixes; from persist on, every step
  * reads the cached frames of the steps before it, as `runBatch` does, so a
  * span's own time is its self time (the table writes excepted). */
final class Replay(spark: SparkSession, runId: String, cfg: Option[PipelineConfig],
                   convClustered: Boolean) {

  private val tr = new Tracer(spark, runId)
  private val roleDim = TranscriptGen.roleDim(spark).toDF()
  private val toolDim = TranscriptGen.toolDim(spark).toDF()

  /** scan; +parse; +enrich; +route. The config topology keeps the coded
    * grok pattern, so `Parse.parseGrok` is its parse prefix too. */
  private def narrow(turns: DataFrame): DataFrame = {
    tr.span("scan")(Force(turns))
    val parsed = Parse.parseGrok(turns)
    tr.span("parse")(Force(parsed, "hits" -> (col("tool_invoked") =!= "")))
    val enriched = Enrich.enrich(parsed, roleDim, toolDim)
    tr.span("enrich")(Force(enriched,
      "defaulted" -> (col("tool_family") === "none" || col("role_kind") === "unknown")))
    val routed = cfg.map(c => PipelineConfig.transform(spark, turns, c))
      .getOrElse(Pipeline.transform(turns, roleDim, toolDim))
    tr.span("route")(Force(routed, Seq("tool_search", "errors", Route.RestSink)
      .map(s => s"sink.$s" -> (col(Route.SinkCol) === s)): _*))
    routed
  }

  /** `Pipeline.runBatch`, one layer at a time. */
  def batch(turns: DataFrame, outDir: String): Map[String, Any] = {
    val routed0 = narrow(turns)
    tr.span("commit_chain") {
      val routed = routed0.persist()
      tr.span("persist", "commit_chain")(Force(routed))
      val partials =
        if (cfg.isEmpty) Some(Aggregate.partials(routed,
          salt = Aggregate.saltFor(convClustered)).persist())
        else None
      partials.foreach(p => tr.span("partials", "commit_chain")(Force(p)))
      val counts = partials.map(Aggregate.sinkCountsFromPartials)
        .getOrElse(Aggregate.sinkCounts(routed))
      val rollup = partials.map(Aggregate.convRollupFromPartials)
        .getOrElse(Aggregate.convRollup(routed,
          salt = cfg.map(_.salt).getOrElse(Aggregate.DefaultSalt)))
      tr.span("final", "commit_chain")(
        Force(counts).map { case (k, v) => s"counts.$k" -> v } ++
          Force(rollup).map { case (k, v) => s"rollup.$k" -> v })
      tr.span("routed_write", "commit_chain") {
        Route.writePartitioned(routed, s"$outDir/routed")
        Map.empty
      }
      // the table writes aggregate again, as in runBatch: their self time
      // is this span minus the final-aggregates span
      tr.span("tables", "commit_chain") {
        counts.write.mode("overwrite").parquet(s"$outDir/sink_counts")
        rollup.write.mode("overwrite").parquet(s"$outDir/conv_rollup")
        Map.empty
      }
      tr.span("lineage", "commit_chain") {
        Map("sent" -> Obs.writeLineage(routed, 0L, "route", outDir))
      }
      // what runBatch does after the lineage: the obsreport count and the
      // result frames
      tr.span("readback", "commit_chain") {
        val n = spark.read.parquet(s"$outDir/sink_counts")
          .agg(coalesce(sum("n_turns"), lit(0L))).head().getLong(0)
        Seq("routed", "sink_counts", "conv_rollup").foreach(t => spark.read.parquet(s"$outDir/$t"))
        Map("sent" -> n)
      }
      partials.foreach(_.unpersist())
      routed.unpersist()
      Map.empty
    }
    tr.detach()
    Map("spans" -> tr.spans.map(_.toMap).toSeq)
  }
}
