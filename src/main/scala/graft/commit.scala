package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

/** Commit stage — the fanout connector's export step (SURVEY.md §2.10):
  * the collector hands each batch to every exporter and each exporter
  * sends without waiting for the others. Here a batch's independent
  * writes (routed rows, tables, lineage) run as concurrent Spark jobs, so
  * the commit costs its slowest write instead of the sum of all of them;
  * the small writes fill executor slots the big one leaves idle while the
  * driver plans, commits and lists.
  */
object Commit {

  /** Run every write on its own fresh thread and wait for all of them,
    * then rethrow the first failure (later ones are attached as
    * suppressed). Every write is attempted, even after another has
    * failed; each output is an idempotent overwrite, so a retry of the
    * whole commit heals a partial one.
    *
    * The threads are created here, per call, so they inherit the caller's
    * Spark local properties (job group, description, scheduler pool) and
    * active session: `cancelJobGroup` and `StreamingQuery.stop()` reach
    * every job the commit runs. A long-lived pool would carry the
    * properties of whichever thread created its workers.
    *
    * An interrupt of the caller does not abandon the writes: it is
    * restored on the caller's thread once they have all ended.
    */
  def all(writes: (() => Unit)*): Unit = {
    val failures = new ConcurrentLinkedQueue[Throwable]
    val threads = writes.zipWithIndex.map { case (w, i) =>
      val t = new Thread(() => try w() catch { case e: Throwable => failures.add(e) },
        s"graft-commit-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    var interrupted = false
    threads.foreach { t =>
      while (t.isAlive)
        try t.join() catch { case _: InterruptedException => interrupted = true }
    }
    if (interrupted) Thread.currentThread().interrupt()
    failures.asScala.toList match {
      case first :: rest =>
        rest.foreach(first.addSuppressed)
        throw first
      case Nil => ()
    }
  }
}
