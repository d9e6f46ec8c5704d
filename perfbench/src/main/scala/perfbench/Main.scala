package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

import graft._

/** The benchmark's JVM side. run.py launches it once per run, in a fresh
  * JVM: it times its own set-up from `--t0-ns`, writes the workload's input,
  * runs the workload on it and writes `run.json` to `--work`; run.py then
  * checks the outputs left there against an independent reference.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --work DIR --cores N --t0-ns EPOCH_NS
  */
object Main {

  // Input sizes. They are fixed, not derived from the machine, so that two
  // commits are always measured on the same inputs. A call's cost is
  // dominated by the files the routed write creates (one per task and
  // sink/tool/role value), so there is one input file per core of a
  // 4-core machine rather than many small ones.
  val BucketedTurns = 28000L
  val Buckets = 4
  val SkewTurns = 20000L
  val HotTurns = 8500L       // the hot conversation: 30% of the input
  val SkewFiles = 4
  val MaxTurns = 100         // per source conversation
  val WarmupCalls = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val t0 = a("t0-ns").toLong
    val work = a("work")
    val spark = session(a("cores").toInt)
    val setupS = (epochNs() - t0) / 1e9
    val w = a("workload") match {
      case n @ ("route_bucketed" | "route_skew_config") =>
        new BatchWorkload(n, a("seed").toLong, work)
      case n => throw new IllegalArgumentException(s"unknown workload $n")
    }
    val out = mutable.LinkedHashMap[String, Any]("setup_s" -> setupS)
    val heap = new HeapWatch
    try {
      val g0 = System.nanoTime()
      val inputRows = w.generate(spark)
      out ++= Seq("gen_s" -> (System.nanoTime() - g0) / 1e9, "input_rows" -> inputRows)
      try out ++= w.run(spark, inputRows, a("seconds").toDouble, a("trace") == "1", heap)
      finally out("peak_heap_mb") = heap.stop()
    } finally {
      Json.write(Paths.get(work, "run.json"), out.toMap)
      SparkSession.getActiveSession.foreach(_.stop())
    }
  }

  def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  /** The session graft.Main builds, plus the two dimensions built. */
  def session(cores: Int): SparkSession = {
    val spark = Pipeline.defaultSession(master = s"local[$cores]", appName = "perfbench")
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.registerAll(spark)
    TranscriptGen.roleDim(spark).toDF().collect()
    TranscriptGen.toolDim(spark).toDF().collect()
    spark
  }

  def restart(spark: SparkSession, cores: Int): SparkSession = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    session(cores)
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Time one call; a call that throws is recorded as failed, untimed. */
  def call(phase: String)(f: => Unit): Map[String, Any] = {
    val g0 = gcSeconds()
    val t0 = System.nanoTime()
    Try(f) match {
      case Success(_) =>
        Map("phase" -> phase, "ok" -> true, "s" -> (System.nanoTime() - t0) / 1e9,
          "gc_s" -> (gcSeconds() - g0))
      case Failure(e) =>
        Map("phase" -> phase, "ok" -> false, "error" -> e.toString)
    }
  }

  /** Normalized physical plans of every query `f` runs: operator names
    * only, so expression ids, paths and sizes do not change them. */
  def plans(spark: SparkSession)(f: => Unit): Seq[String] = {
    val seen = mutable.ArrayBuffer.empty[String]
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(fn: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    ns: Long): Unit = seen.synchronized(seen += sig(qe.executedPlan, 0))
      def onFailure(fn: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try f finally {
      org.apache.spark.sql.GraftBridge.waitListenerBusEmpty(spark.sparkContext)
      spark.listenerManager.unregister(l)
    }
    seen.synchronized(seen.toSeq)
  }

  private def sig(p: SparkPlan, d: Int): String = p match {
    case a: AdaptiveSparkPlanExec => sig(a.executedPlan, d)
    case q: QueryStageExec => sig(q.plan, d)
    case o =>
      val self = ("  " * d) + o.nodeName.split(' ').head
      (self +: o.children.map(sig(_, d + 1))).mkString("\n")
  }

  def obsDelta(before: Map[String, Long], after: Map[String, Long]): Map[String, Long] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }
}

/** Peak heap occupancy right after a collection (live data plus what
  * survived), sampled every 10 ms while measuring; in MB. */
final class HeapWatch {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
      p.isCollectionUsageThresholdSupported)
  @volatile private var peak = 0L
  @volatile private var on = false
  private val t = new Thread(() => {
    var seen = -1L
    while (true) {
      val n = gcs.map(_.getCollectionCount).sum
      if (on && n != seen) {
        peak = peak max pools.map(_.getCollectionUsage.getUsed).sum
        seen = n
      }
      Thread.sleep(10)
    }
  })
  t.setDaemon(true)
  t.start()
  def measuring[A](f: => A): A = { on = true; try f finally on = false }
  def stop(): Double = peak / 1048576.0
}

/** route_bucketed and route_skew_config: `Pipeline.runBatch` as graft.Main
  * calls it, cold and then warm for the run's seconds. A traced run then
  * replays its calls one layer at a time, drains the same input through
  * `StreamingPipeline.start` and repeats the call at one core. */
final class BatchWorkload(name: String, seed: Long, work: String) {
  private val bucketed = name == "route_bucketed"
  private val inputDir = s"$work/input"
  private val cfg =
    if (bucketed) None
    else Some(PipelineConfig.fromJson(new String(
      Files.readAllBytes(Paths.get("configs", "pipeline.json")), "UTF-8")))

  private def open(spark: SparkSession): DataFrame =
    if (bucketed) Inputs.openBucketed(spark, inputDir, Main.Buckets)
    else spark.read.parquet(inputDir)

  private def runBatch(spark: SparkSession, turns: DataFrame, outDir: String,
                       obs: ObsMetrics): Unit =
    Pipeline.runBatch(spark, turns, outDir, obs = Some(obs), config = cfg,
      convClustered = bucketed)

  /** Writes the input under the work directory; returns its row count. */
  def generate(spark: SparkSession): Long = {
    if (bucketed) Inputs.bucketed(spark, seed, Main.BucketedTurns, inputDir, Main.Buckets)
    else Inputs.skewed(spark, seed, Main.SkewTurns, Main.HotTurns, inputDir, Main.SkewFiles)
    open(spark).count()
  }

  def run(spark0: SparkSession, inputRows: Long, seconds: Double, traced: Boolean,
          heap: HeapWatch): Map[String, Any] = {
    var spark = spark0
    var turns = open(spark)
    val obs = new ObsMetrics(spark)
    val calls = mutable.ArrayBuffer.empty[Map[String, Any]]
    var lastOk = ""
    def timed(phase: String, i: Int): Unit = {
      val dir = s"$work/out/$phase-$i"
      val c = Main.call(phase)(runBatch(spark, turns, dir, obs))
      calls += c
      if (c("ok") == true) {
        if (lastOk.nonEmpty && lastOk != dir) Dirs.delete(Paths.get(lastOk))
        lastOk = dir
      }
    }
    val res = mutable.LinkedHashMap[String, Any]("input" -> inputDir)
    heap.measuring {
      timed("cold", 0)
      // the JIT keeps speeding the call up for several calls after the cold
      // one; the first of them are not measured
      (1 to Main.WarmupCalls).foreach(j => timed("warmup", j))
      val warmEnd = System.nanoTime() + (seconds * 1e9).toLong
      var i = 0
      while (i < 3 || System.nanoTime() < warmEnd) {
        i += 1
        if (i == 1) {
          val before = obs.snapshot
          res("plan") = Main.plans(spark)(timed("warm", i))
          res("obs") = Main.obsDelta(before, obs.snapshot)
        } else timed("warm", i)
      }
      if (traced) {
        // the first pass compiles and warms the replay's own queries, as the
        // warm calls did for runBatch's; the second is the one measured, and
        // the untraced calls right after it are what its ledger is compared with
        Seq("replay-1", "replay-2").foreach(id =>
          res(id) = new Replay(spark, id, cfg, bucketed).batch(turns, s"$work/out/$id"))
        (1 to 2).foreach(j => timed("after_replay", j))
        val inputFiles = Files.list(Paths.get(inputDir)).iterator.asScala
          .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sorted
        res("drain") = Stream.drain(spark, inputFiles, inputRows, s"$work/drain", obs).toMap
      }
    }
    res("output") = lastOk
    if (traced) {
      // scaling_eff: the same calls in a one-core session of this JVM
      spark = Main.restart(spark, 1)
      turns = open(spark)
      val obs1 = new ObsMetrics(spark)
      (1 to 2).foreach { j =>
        calls += Main.call("one_core")(runBatch(spark, turns, s"$work/out/one_core-$j", obs1))
        Dirs.delete(Paths.get(s"$work/out/one_core-$j"))
      }
    }
    res("calls") = calls.toSeq
    res.toMap
  }
}
