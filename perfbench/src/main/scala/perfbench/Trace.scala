package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed public call on the driver. `cause` names what caused it: an
  * epoch (`epoch=3`), a query (`query=q_simhash`) or a read-phase step
  * (`read=state`). */
final case class Span(name: String, cause: String, startNs: Long, durNs: Long)

/** One Spark SQL execution as the listeners saw it. */
final case class Exec(id: Long, cause: String, kind: String, durNs: Long,
                      planningNs: Long, ok: Boolean)

/** One Spark job's task counters (tasks, shuffle, spill, CPU, GC). */
final class TaskCounters {
  val tasks = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong
}

/** In-memory tracing from outside the engine. Spans come from wrappers
  * around the public calls the benchmark makes, and from three listeners
  * the benchmark registers itself:
  *  - a StreamingQueryListener for per-trigger progress durations;
  *  - a QueryExecutionListener for every Spark SQL execution, classified
  *    into an engine layer by what it writes or returns;
  *  - a SparkListener for job, task, shuffle, spill, CPU and GC counts, and
  *    for the start time that says which epoch, query or read step caused a
  *    job or an execution.
  * Nothing is recorded when `enabled` is false, and no listener is
  * registered: that is the untraced run. */
final class Tracer(val enabled: Boolean) {

  val spans = new ConcurrentLinkedQueue[Span]()
  private val windows = new ConcurrentLinkedQueue[(String, Long, Long)]()
  // keyed by the QueryExecution's identity hash, linked to an execution id
  // through execOfQe
  private val execs = new ConcurrentHashMap[Int, (String, Long, Long, Boolean)]()
  private val execOfQe = new ConcurrentHashMap[Int, Long]()
  private val execStart = new ConcurrentHashMap[Long, (Long, Boolean)]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val jobCounters = new ConcurrentHashMap[Int, TaskCounters]()
  val progress = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  private val events = new AtomicLong

  /** Time `f` as a span when tracing; otherwise just run it. */
  def span[T](name: String, cause: String)(f: => T): T =
    if (!enabled) f
    else {
      val t0 = System.nanoTime()
      try f finally spans.add(Span(name, cause, t0, System.nanoTime() - t0))
    }

  /** Run `f` as the only work in flight and charge every Spark job and SQL
    * execution that starts meanwhile to `cause`. The benchmark is one
    * closed-loop client, so its windows never overlap; Spark's own event
    * times (wall-clock milliseconds) decide which window an event falls in. */
  def within[T](cause: String)(f: => T): T =
    if (!enabled) f
    else {
      val t0 = System.currentTimeMillis()
      try f finally windows.add((cause, t0, System.currentTimeMillis()))
    }

  private lazy val sortedWindows = windows.asScala.toSeq.sortBy(_._2).toArray

  private def causeAt(ms: Long): String = {
    val w = sortedWindows
    var lo = 0
    var hi = w.length - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (w(mid)._3 < ms) lo = mid + 1
      else if (w(mid)._2 > ms) hi = mid - 1
      else return w(mid)._1
    }
    "other"
  }

  private val sparkListener = new SparkListener {
    override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
      case e: SparkListenerSQLExecutionStart =>
        events.incrementAndGet()
        execStart.put(e.executionId, (e.time, e.rootExecutionId.forall(_ == e.executionId)))
      case e: SparkListenerSQLExecutionEnd =>
        // the end event carries the QueryExecution the QueryExecutionListener
        // was handed; Spark exposes it only to its own package, so it is read
        // reflectively to link the two listeners' records
        events.incrementAndGet()
        scala.util.Try(e.getClass.getMethod("qe").invoke(e)).toOption.filter(_ != null)
          .foreach(qe => execOfQe.put(System.identityHashCode(qe), e.executionId))
      case _ =>
    }

    override def onJobStart(js: SparkListenerJobStart): Unit = {
      events.incrementAndGet()
      jobStart.put(js.jobId, js.time)
      js.stageIds.foreach(s => stageJob.put(s, js.jobId))
    }

    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      events.incrementAndGet()
      val c = jobCounters.computeIfAbsent(stageJob.getOrDefault(te.stageId, -1),
        _ => new TaskCounters)
      c.tasks.incrementAndGet()
      Option(te.taskMetrics).foreach { m =>
        c.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.spillBytes.addAndGet(m.diskBytesSpilled)
        c.cpuNs.addAndGet(m.executorCpuTime)
        c.gcMs.addAndGet(m.jvmGCTime)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution, durNs: Long, ok: Boolean): Unit = {
      events.incrementAndGet()
      val planningMs = qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
      execs.put(System.identityHashCode(qe),
        (Tracer.classify(qe), durNs, planningMs * 1000000L, ok))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe, durationNs, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe, 0L, ok = false)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      events.incrementAndGet()
      progress.add(e.progress)
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def install(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(spark: SparkSession): Unit = if (enabled) {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Listener callbacks arrive asynchronously: wait until no new event has
    * arrived for a short while before reading what they recorded. */
  def drain(): Unit = if (enabled) {
    var last = -1L
    var stable = 0
    while (stable < 3) {
      Thread.sleep(50)
      val now = events.get()
      if (now == last) stable += 1 else { stable = 0; last = now }
    }
  }

  /** Every finished execution with the window it started in. */
  def executions: Seq[Exec] = {
    drain()
    execs.asScala.toSeq.map { case (qe, (kind, dur, plan, ok)) =>
      val id = Option(execOfQe.get(qe)).map(_.longValue).getOrElse(-1L)
      val (startMs, root) = Option(execStart.get(id)).getOrElse((-1L, true))
      val cause = causeAt(startMs)
      // a streaming batch's own execution wraps the whole foreachBatch call;
      // its time is stream.add_batch, not a layer of its own
      Exec(id, cause, if (root && kind == "spark.other" && cause.startsWith("epoch="))
        "stream.batch" else kind, dur, plan, ok)
    }.sortBy(_.id)
  }

  /** Task counters of every job that started in a window whose cause
    * satisfies `pred`, one entry a job. */
  def countersFor(pred: String => Boolean): Seq[TaskCounters] = {
    drain()
    jobStart.asScala.toSeq.collect { case (job, ms) if pred(causeAt(ms)) =>
      jobCounters.computeIfAbsent(job, _ => new TaskCounters)
    }
  }

  /** Write every span and execution as one JSON object a line. */
  def dump(path: java.nio.file.Path): Unit = if (enabled) {
    val lines = spans.asScala.toSeq.sortBy(_.startNs).map { s =>
      Json.render(Map("type" -> "span", "name" -> s.name, "cause" -> s.cause,
        "start_ns" -> s.startNs, "dur_ns" -> s.durNs))
    } ++ executions.map { e =>
      Json.render(Map("type" -> "execution", "id" -> e.id, "name" -> e.kind,
        "cause" -> e.cause, "dur_ns" -> e.durNs, "planning_ns" -> e.planningNs,
        "ok" -> e.ok))
    } ++ progress.asScala.toSeq.map { p =>
      Json.render(Map("type" -> "progress", "batch" -> p.batchId,
        "rows" -> p.numInputRows,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {

  /** The engine layer a Spark SQL execution belongs to, from the path it
    * writes or, for an action that returns rows, from the columns it
    * returns. The benchmark cannot see inside the engine, so these rules
    * follow the engine's public table layout (`_lineage`, `_rejects`,
    * `_contam`, `_tmp_e<version>` for data files) and its documented result
    * columns. */
  def classify(qe: QueryExecution): String = {
    val written = Seq(qe.logical, qe.analyzed).iterator.flatMap(_.collectFirst {
      case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
    }).nextOption()
    written match {
      case Some(p) if p.contains("/_tmp_e") => "merge.data_write"
      case Some(p) if p.contains("/_lineage/") => "merge.lineage_write"
      case Some(p) if p.contains("/_rejects/") => "merge.rejects_write"
      case Some(p) if p.contains("/_contam/") => "contam.screen"
      case Some(p) if p.contains(s"/$indexDirName/") => "neardup.append"
      case Some(p) if p.contains("/staging/") => "gen.write"
      case Some(_) => "write.other"
      case None =>
        val out = qe.analyzed.output.map(_.name)
        if (out.contains("rows_applied") && out.contains("conflicts")) "merge.dedup_stats"
        else if (out == Seq("mx", "tot")) "merge.skew_sample"
        else if (out.contains("doc_id")) "neardup.append"
        else "spark.other"
    }
  }

  val indexDirName = "ndidx"
}
