package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** The concurrent commit ([[Commit.all]]) and how `Pipeline.runBatch` uses
  * it: schema-supplied read-backs, job properties on the commit threads,
  * and failure handling.
  */
class CommitSpec extends SparkTestBase {

  private def withMiss: DataFrame = {
    import spark.implicits._
    val ts = Timestamp.valueOf("2024-01-01 00:00:00")
    Seq(
      Turn("c1", 0, "assistant", "tool=search status=OK latency=5ms", "search", ts),
      Turn("c1", 1, "assistant", "no tool token here", "", ts),
      Turn("c2", 0, "user", "tool=none status=E503 latency=9ms", "", ts))
      .toDS().toDF()
  }

  private def scansCache(p: SparkPlan): Boolean = p match {
    case _: InMemoryTableScanExec => true
    case a: AdaptiveSparkPlanExec => scansCache(a.executedPlan)
    case q: QueryStageExec => scansCache(q.plan)
    case o => o.children.exists(scansCache)
  }

  /** How many of the queries `f` runs scan a cached frame. */
  private def cacheScans(f: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new QueryExecutionListener {
      def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        if (scansCache(qe.executedPlan)) n.incrementAndGet()
      def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try f finally {
      org.apache.spark.sql.GraftBridge.waitListenerBusEmpty(spark.sparkContext)
      spark.listenerManager.unregister(l)
    }
    n.get
  }

  test("one count per commit: runBatch scans the routed cache 3 times, a micro-batch 2") {
    val turns = TranscriptGen.turnsDs(spark, 60).toDF()
    // the routed write, the rollup and the one (partition, sink) count
    assert(cacheScans(Pipeline.runBatch(spark, turns, tmpDir("commit-scans"))) === 3)
    // the routed write and the count; no rollup in the streaming layout
    val batch = Pipeline.transform(turns, TranscriptGen.roleDim(spark).toDF(),
      TranscriptGen.toolDim(spark).toDF())
    assert(cacheScans(StreamingPipeline.commitMicroBatch(batch, 0L,
      tmpDir("commit-scans-mb"), None)) === 2)
  }

  test("Commit.all attempts every write, waits for all, rethrows the first failure") {
    val slowDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Commit.all(
        () => throw new IllegalStateException("first"),
        () => { Thread.sleep(400); slowDone.set(true) },
        () => { Thread.sleep(100); throw new IllegalArgumentException("second") })
    }
    assert(e.getMessage === "first")
    assert(slowDone.get, "returned before every write ended")
    assert(e.getSuppressed.map(_.getMessage).toSeq === Seq("second"))
  }

  test("runBatch read-backs carry the schema a footer read infers; a grok miss reads back NULL") {
    Seq("default" -> None, "config" -> Some(PipelineSpec.toolsSalted))
        .foreach { case (name, config) =>
      val dir = tmpDir(s"commit-schema-$name")
      val res = Pipeline.runBatch(spark, withMiss, dir, config = config)
      Seq("routed" -> res.routed, "sink_counts" -> res.sinkCounts,
          "conv_rollup" -> res.convRollup).foreach { case (out, df) =>
        assert(df.schema === spark.read.parquet(s"$dir/$out").schema, s"$name $out")
      }
      def missTool(df: DataFrame): Boolean =
        df.where(col("conv_id") === "c1" && col("turn_idx") === 1)
          .select("tool_invoked").head().isNullAt(0)
      assert(missTool(res.routed), name)
      assert(missTool(spark.read.parquet(s"$dir/routed")), name)
    }
  }

  test("a job group set by the caller is on every job the commit runs") {
    val groups = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(
          Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    val turns = TranscriptGen.turnsDs(spark, 60).toDF()
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup("graft-commit-group", "commit job group")
    try Pipeline.runBatch(spark, turns, tmpDir("commit-group"))
    finally {
      sc.clearJobGroup()
      org.apache.spark.sql.GraftBridge.waitListenerBusEmpty(sc)
      sc.removeSparkListener(listener)
    }
    val seen = groups.asScala.toSeq
    // the routed write, two table writes, the lineage collect and write
    assert(seen.size >= 5, seen)
    assert(seen.forall(_ == "graft-commit-group"), seen)
  }

  test("runBatch rethrows a failed write after the others end and unpersists") {
    val dir = tmpDir("commit-fail")
    // the lineage goes under $dir/_lineage/...; a plain file there fails it
    Files.write(Paths.get(dir, "_lineage"), "not a directory".getBytes("UTF-8"))
    // the session is shared: start from an empty cache whatever ran before
    spark.catalog.clearCache()
    val cached = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    val e = intercept[Exception] {
      Pipeline.runBatch(spark, TranscriptGen.turnsDs(spark, 60).toDF(), dir)
    }
    val trace = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.toString).mkString("\n")
    assert(trace.contains("_lineage"), trace)
    Seq("routed", "sink_counts", "conv_rollup").foreach { out =>
      assert(Files.exists(Paths.get(dir, out, "_SUCCESS")), out)
    }
    assert(cached.isEmpty)
  }
}
