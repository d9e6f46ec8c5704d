package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.{ObsMetrics, StreamingPipeline}

/** One micro-batch as its progress event reported it; `atNs` is when the
  * event arrived, after the batch committed. */
final case class Batch(id: Long, atNs: Long, rows: Long, durations: Map[String, Long]) {
  def toMap: Map[String, Any] = Map("id" -> id, "at_ns" -> atNs, "rows" -> rows,
    "duration_ms" -> durations)
}

final class ProgressLog extends StreamingQueryListener {
  private val batches = mutable.ArrayBuffer.empty[Batch]
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    batches += Batch(p.batchId, System.nanoTime(), p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
  }
  def snapshot: Seq[Batch] = synchronized(batches.toSeq)
  def rows: Long = synchronized(batches.map(_.rows).sum)
}

object Stream {

  /** Files each micro-batch takes, so that a drain has several batches. */
  val FilesPerTrigger = 2

  final case class Drain(files: Int, startNs: Long, batches: Seq[Batch],
                         failed: Option[String]) {
    def toMap: Map[String, Any] = Map("files" -> files, "start_ns" -> startNs,
      "batches" -> batches.map(_.toMap), "error" -> failed.orNull)
  }

  /** Drain `files` (holding `rows` rows) through `StreamingPipeline.start`:
    * all of them are in its input directory when the query starts, and the
    * query stops once every row is committed. One span per micro-batch
    * comes from the progress events. */
  def drain(spark: SparkSession, files: Seq[Path], rows: Long, root: String,
            obs: ObsMetrics): Drain = {
    val in = Paths.get(root, "in")
    Files.createDirectories(in)
    files.foreach(f => Files.copy(f, in.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING))
    val log = new ProgressLog
    spark.streams.addListener(log)
    val t0 = System.nanoTime()
    val q = StreamingPipeline.start(spark, in.toString, s"$root/out", s"$root/checkpoint",
      maxFilesPerTrigger = FilesPerTrigger, obs = Some(obs))
    val deadline = t0 + 120L * 1000000000L
    try {
      while (q.isActive && log.rows < rows && System.nanoTime() < deadline) Thread.sleep(5)
    } finally {
      q.stop()
      spark.streams.removeListener(log)
    }
    val failed =
      if (log.rows >= rows) None
      else Some(q.exception.map(_.getMessage)
        .getOrElse(s"timed out: ${log.rows} of $rows rows committed"))
    Drain(files.size, t0, log.snapshot.filter(_.rows > 0), failed)
  }
}
