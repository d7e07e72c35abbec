package graft.operators

import java.util.concurrent.{CompletableFuture, CompletionException, ExecutorService, Executors}

import scala.util.Try

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution

/** Writes started on driver threads beside the caller's own work: the
  * stream's near-dup index append and contamination screen, the merge's
  * stats-only writes, the index append's two table chains. Each runs on a
  * [[SideWrites.pool]] thread that carries the caller's thread-locals (active
  * session, local properties: job group, job tags, SQL execution id), so the
  * stream's cancellation reaches their jobs as it reaches the caller's.
  *
  * Not thread-safe: one caller starts, awaits and drains. */
private[graft] final class SideWrites(spark: SparkSession) {
  private var running: List[CompletableFuture[Unit]] = Nil

  /** Start `writes`, each on its own pool thread. */
  def start(writes: Seq[() => Unit]): this.type = {
    running ++= writes.map(w => SQLExecution.withThreadLocalCaptured(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], SideWrites.pool)(w()))
    this
  }

  /** Wait for every started write; rethrow the first failure. */
  def await(): Unit = {
    val failures = running.flatMap(f => Try(f.join()).failed.toOption.map {
      case c: CompletionException if c.getCause != null => c.getCause
      case e => e
    })
    failures.headOption.foreach { e => failures.tail.foreach(e.addSuppressed); throw e }
  }

  /** Wait for every started write, ignoring failures: none outlives its
    * caller. `join` is uninterruptible, and a stopped stream cancels the
    * writes' jobs through the job group they carry. */
  def drain(): Unit = running.foreach(f => Try(f.join()))
}

private[graft] object SideWrites {
  /** Daemon driver threads, created on demand and reaped when idle, so
    * concurrency follows the writes actually started; unbounded, so a write
    * that starts writes of its own never waits for a free thread. */
  private lazy val pool: ExecutorService = Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "graft-side-write")
    t.setDaemon(true)
    t
  }

  /** Run `writes` concurrently and return once all have finished; the first
    * failure is rethrown after every write has stopped. */
  def runAll(spark: SparkSession, writes: (() => Unit)*): Unit = {
    val s = new SideWrites(spark).start(writes)
    try s.await() finally s.drain()
  }
}
