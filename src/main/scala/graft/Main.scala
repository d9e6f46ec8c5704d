package graft

import org.apache.spark.sql.functions._

/** CLI entry: run the full batch pipeline on a synthetic corpus and print
  * what it did. Usage: runMain graft.Main [nConvs] [outDir] [configJsonPath]
  * With a config path, the topology (grok pattern, sinks, sampling) comes
  * from JSON instead of `PipelineConfig.default` — the
  * reference's YAML-driven service startup (SURVEY.md §3.1).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val nConvs = args.headOption.map(_.toLong).getOrElse(2000L)
    val outDir = args.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("graft-out").toString)
    val cfgJson = args.lift(2).map(p =>
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)),
        "UTF-8"))
    val spark = Pipeline.defaultSession(
      master = sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]"))
    spark.sparkContext.setLogLevel("WARN")
    // config-driven sink predicates may call the library's SQL functions
    // (grok_extract, topk_by_score); on a cluster the same registration
    // comes from --conf spark.sql.extensions=graft.GraftExtensions
    GraftFunctions.registerAll(spark)

    // a config with a "pipelines" object is a multi-pipeline service
    // topology (reference: service/builder); run it and exit
    cfgJson.filter(ServiceConfig.detect).foreach { j =>
      val svc = ServiceConfig.fromJson(j)
      val turns0 = TranscriptGen.turnsDs(spark, nConvs).toDF()
      val t0 = System.nanoTime()
      val results = ServiceConfig.runBatch(spark, turns0, outDir, svc)
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"== graft service: ${results.size} pipelines in $secs%.2f s → $outDir")
      results.toSeq.sortBy(_._1).foreach { case (name, r) =>
        println(s"== pipeline '$name' per-sink counts:")
        r.sinkCounts.orderBy("sink").show(truncate = false)
      }
      spark.stop()
      return
    }
    val cfg = cfgJson.map(PipelineConfig.fromJson)

    val obs = new ObsMetrics(spark)
    val turns = TranscriptGen.turnsDs(spark, nConvs).toDF()
    val t0 = System.nanoTime()
    val res = Pipeline.runBatch(spark, turns, outDir, obs = Some(obs),
      config = cfg)
    val secs = (System.nanoTime() - t0) / 1e9

    val total = res.routed.count()
    println(f"== graft pipeline: $total rows routed in $secs%.2f s (${total / secs}%.0f turns/s) → $outDir")
    println("== per-sink counts:")
    res.sinkCounts.orderBy("sink").show(truncate = false)
    println("== top conversations by turns:")
    res.convRollup.orderBy(desc("n_turns")).show(5, truncate = false)
    println(s"== obsreport counters: ${obs.snapshot}")
    println("== routed physical plan:")
    PipelineConfig.transform(spark, turns, cfg.getOrElse(PipelineConfig.default))
      .explain("formatted")
    spark.stop()
  }
}
