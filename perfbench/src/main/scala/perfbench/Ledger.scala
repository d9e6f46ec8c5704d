package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Spark task metrics summed over the jobs of one job group. */
final class GroupMetrics {
  var tasks = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var shuffleReadBytes = 0L
  var diskSpill = 0L
  var outputBytes = 0L
  var outputRecords = 0L
  /** per stage: task durations (ms), whether it read shuffle input,
    * submission and completion times (epoch ms) */
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]

  def toMap: Map[String, Any] = {
    val st = stages.values.toSeq
    Map(
      "tasks" -> tasks, "input_bytes" -> inputBytes,
      "input_records" -> inputRecords,
      "shuffle_write_bytes" -> shuffleWriteBytes,
      "shuffle_write_records" -> shuffleWriteRecords,
      "shuffle_read_bytes" -> shuffleReadBytes, "disk_spill_bytes" -> diskSpill,
      "output_bytes" -> outputBytes, "output_records" -> outputRecords,
      "stages" -> st.map(_.toMap))
  }
}

final class StageRec {
  val taskMs = mutable.ArrayBuffer.empty[Long]
  var readsShuffle = false
  var shuffleWriteRecords = 0L
  var submitted = 0L
  var completed = 0L
  def toMap: Map[String, Any] = Map(
    "task_ms" -> taskMs.toSeq, "reads_shuffle" -> readsShuffle,
    "shuffle_write_records" -> shuffleWriteRecords,
    "wall_s" -> math.max(0L, completed - submitted) / 1e3)
}

/** Attributes every finished task to the job group of the job that ran it.
  * Each traced span runs its Spark actions under its own job group. */
final class TaskLedger extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val groups = mutable.Map.empty[String, GroupMetrics]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach(id => e.stageIds.foreach(s => stageGroup(s) = id))
  }

  private def rec(stageId: Int): Option[StageRec] =
    stageGroup.get(stageId).map(g =>
      groups.getOrElseUpdate(g, new GroupMetrics).stages
        .getOrElseUpdate(stageId, new StageRec))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    rec(e.stageInfo.stageId).foreach(_.submitted = e.stageInfo.submissionTime.getOrElse(0L))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    rec(e.stageInfo.stageId).foreach(_.completed = e.stageInfo.completionTime.getOrElse(0L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val gm = groups.getOrElseUpdate(g, new GroupMetrics)
      gm.tasks += 1
      gm.inputBytes += m.inputMetrics.bytesRead
      gm.inputRecords += m.inputMetrics.recordsRead
      gm.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      gm.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      gm.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      gm.diskSpill += m.diskBytesSpilled
      gm.outputBytes += m.outputMetrics.bytesWritten
      gm.outputRecords += m.outputMetrics.recordsWritten
      val s = gm.stages.getOrElseUpdate(e.stageId, new StageRec)
      s.taskMs += e.taskInfo.duration
      s.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      if (m.shuffleReadMetrics.totalBlocksFetched > 0 ||
          m.shuffleReadMetrics.recordsRead > 0) s.readsShuffle = true
    }
  }

  def take(group: String): GroupMetrics = synchronized {
    groups.remove(group).getOrElse(new GroupMetrics)
  }
}

/** One traced span: name, start, end, parent and run id, with the task
  * metrics of the Spark jobs it ran and the counts its action returned. */
final case class Span(name: String, parent: String, runId: String,
                      startNs: Long, endNs: Long,
                      counts: Map[String, Long], tasks: GroupMetrics) {
  def seconds: Double = (endNs - startNs) / 1e9
  def toMap: Map[String, Any] = Map(
    "name" -> name, "parent" -> parent, "run" -> runId,
    "start_ns" -> startNs, "end_ns" -> endNs, "s" -> seconds,
    "counts" -> counts, "tasks" -> tasks.toMap)
}

/** Keeps spans in memory; [[Main]] writes them out when the run ends. */
final class Tracer(spark: SparkSession, val runId: String) {
  private val ledger = new TaskLedger
  spark.sparkContext.addSparkListener(ledger)
  val spans = mutable.ArrayBuffer.empty[Span]

  /** Run `f` as span `name`; `f` returns the counts to record with it. */
  def span(name: String, parent: String = "")(f: => Map[String, Long]): Span = {
    val sc = spark.sparkContext
    val group = s"$runId/$name"
    sc.setJobGroup(group, group, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val counts = try f finally sc.clearJobGroup()
    val t1 = System.nanoTime()
    org.apache.spark.sql.GraftBridge.waitListenerBusEmpty(sc)
    val s = Span(name, parent, runId, t0, t1, counts, ledger.take(group))
    spans += s
    s
  }

  def detach(): Unit = spark.sparkContext.removeSparkListener(ledger)
}

object Force {

  /** Materialize every column of `df` through one all-columns hash (the
    * idiom of `graft.Bench.forceAll`: `count()` would let Catalyst prune
    * computed columns) and return the row count plus any extra counts
    * `extra` asks for, computed in the same action. */
  def apply(df: DataFrame, extra: (String, org.apache.spark.sql.Column)*): Map[String, Long] = {
    val all = xxhash64(df.columns.map(c => col(s"`$c`")): _*)
    val aggs = Seq(bit_xor(all).as("_x"), count(lit(1)).as("rows")) ++
      extra.map { case (n, c) => count_if(c).as(n) }
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    (Seq("rows") ++ extra.map(_._1)).zipWithIndex.map { case (n, i) =>
      n -> r.getLong(i + 1)
    }.toMap
  }
}
