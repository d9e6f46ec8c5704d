package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One topology, every path: a batch run, a stream and a shared-scan
  * service stream of the same [[PipelineConfig]] over the same files must
  * route the same rows to the same sinks and count them the same (lineage,
  * `sink_counts` and the obs counters), on a
  * corpus with hostile rows (a grok miss, NULL, empty and non-ASCII text,
  * a tool outside `TranscriptGen.toolNames`).
  */
class ParitySpec extends SparkTestBase {

  /** A non-default topology: half the conversations, a catch-all tool
    * sink ahead of the error sink. A grok miss has `tool_invoked` = "",
    * so it lands in `tools`.
    */
  private val sampled = PipelineConfig.default.copy(
    samplePct = 50.0,
    sinks = Seq(
      SinkConfig("tools", "tool_invoked <> 'none'"),
      SinkConfig("errors", "err_code RLIKE '^E5'")))

  /** Writes the corpus under a fresh directory and returns it with the id
    * of the conversation holding the hostile rows; `sampled` keeps that
    * conversation, so its rows reach every output of both topologies.
    */
  private def hostileInput(): (String, String) = {
    import spark.implicits._
    val hostile = Seq("hostile-0", "hostile-1", "hostile-2", "hostile-3")
      .toDF("conv_id")
      .where(Sampler.keepPredicate(col("conv_id"), sampled.samplePct))
      .head().getString(0)
    val ts = Timestamp.valueOf("2024-01-01 00:00:00")
    val rows = Seq(
      Turn(hostile, 0, "assistant", "no tool token here", "", ts),
      Turn(hostile, 1, "user", null, "", ts),
      Turn(hostile, 2, "user", "", "", ts),
      Turn(hostile, 3, "assistant", "tool=search status=E503 latency=4ms — ünïcödé 日本語", "search", ts),
      Turn(hostile, 4, "assistant", "tool=my_tool status=OK latency=7ms", "my_tool", ts),
      Turn(hostile, 5, "assistant", "näive 日本語 text, no tool", "", ts)).toDF()
    val dir = tmpDir("parity-in")
    TranscriptGen.turnsDs(spark, 120).toDF().unionByName(rows)
      .repartition(3).write.mode("append").parquet(dir)
    (dir, hostile)
  }

  private def drain(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    q.processAllAvailable()
    q.stop()
  }

  /** What a run committed under `out`: routed rows without `batch_id`, in
    * one column order, and the per-sink counts summed over micro-batches.
    */
  private def committed(out: String, streamed: Boolean): (DataFrame, Map[String, Long]) = {
    val routed =
      if (streamed) StreamingPipeline.readRouted(spark, out).drop("batch_id")
      else spark.read.parquet(s"$out/routed")
    val counts = spark.read.parquet(s"$out/sink_counts" + (if (streamed) "/batch_id=*" else ""))
      .groupBy(Route.SinkCol).agg(sum("n_turns"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    (routed.select(routed.columns.sorted.map(col): _*), counts)
  }

  private def assertSame(name: String, a: (DataFrame, Map[String, Long]),
                         b: (DataFrame, Map[String, Long])): Unit = {
    assert(a._1.columns.toSeq === b._1.columns.toSeq, name)
    assert(a._1.exceptAll(b._1).isEmpty && b._1.exceptAll(a._1).isEmpty, name)
    assert(a._2 === b._2, name)
  }

  /** Rows the lineage of the run under `out` counts, over all batches. */
  private def lineageRows(out: String): Long =
    spark.read.parquet(s"$out/_lineage/stage=route/batch_id=*")
      .agg(sum("rows")).head().getLong(0)

  private def sinkOf(routed: DataFrame, conv: String, turn: Int): Seq[String] =
    routed.where(col("conv_id") === conv && col("turn_idx") === turn)
      .select(Route.SinkCol).collect().map(_.getString(0)).toSeq

  test("default topology: runBatch and start commit the same rows and counts on hostile input") {
    val (in, hostile) = hostileInput()
    val nIn = spark.read.parquet(in).count()
    val batchOut = tmpDir("parity-a-batch")
    val batchObs = new ObsMetrics(spark)
    Pipeline.runBatch(spark, spark.read.parquet(in), batchOut, obs = Some(batchObs))
    val streamOut = tmpDir("parity-a-stream")
    val streamObs = new ObsMetrics(spark)
    drain(StreamingPipeline.start(spark, in, streamOut, tmpDir("parity-a-ckpt"),
      maxFilesPerTrigger = 1, obs = Some(streamObs)))

    val batch = committed(batchOut, streamed = false)
    val stream = committed(streamOut, streamed = true)
    assert(batch._1.count() === nIn)
    assert(batch._2.values.sum === nIn)
    assertSame("start", batch, stream)
    // one count per commit: lineage, sink_counts and both counters agree
    Seq("runBatch" -> (batchOut, batchObs), "start" -> (streamOut, streamObs)).foreach {
      case (name, (out, obs)) =>
        assert(lineageRows(out) === nIn, name)
        assert(obs.snapshot.get("route/sent") === Some(nIn), name)
        assert(obs.snapshot.get("parse/accepted") === Some(nIn), name)
    }
    Seq(batch, stream).foreach { case (routed, _) =>
      assert(sinkOf(routed, hostile, 0) === Seq(Route.RestSink))
      assert(routed.where(col("conv_id") === hostile).count() === 6L)
    }
  }

  test("a non-default config routes alike through runBatch, start and startStreamsShared") {
    val (in, hostile) = hostileInput()
    val batchOut = tmpDir("parity-b-batch")
    Pipeline.runBatch(spark, spark.read.parquet(in), batchOut, config = Some(sampled))
    val streamOut = tmpDir("parity-b-stream")
    drain(StreamingPipeline.start(spark, in, streamOut, tmpDir("parity-b-ckpt"),
      cfg = sampled, maxFilesPerTrigger = 1))
    val sharedOut = tmpDir("parity-b-shared")
    drain(ServiceConfig.startStreamsShared(spark, in, sharedOut, tmpDir("parity-b-sckpt"),
      ServiceConfig(Seq("p" -> sampled)), maxFilesPerTrigger = 1))

    val batch = committed(batchOut, streamed = false)
    val nSampled = Sampler.sampleConversations(spark.read.parquet(in), sampled.samplePct).count()
    assert(nSampled < spark.read.parquet(in).count())
    assert(batch._1.count() === nSampled)
    assert(batch._2.values.sum === nSampled)
    assert(batch._2.contains("tools") && !batch._2.contains("tool_search"))
    assertSame("start", batch, committed(streamOut, streamed = true))
    assertSame("startStreamsShared", batch, committed(s"$sharedOut/p", streamed = true))
    Seq(batchOut -> false, streamOut -> true, s"$sharedOut/p" -> true).foreach {
      case (out, streamed) =>
        val routed = committed(out, streamed)._1
        assert(sinkOf(routed, hostile, 0) === Seq("tools"), out)
        assert(routed.where(col("conv_id") === hostile).count() === 6L, out)
        assert(lineageRows(out) === nSampled, out)
    }
  }
}
