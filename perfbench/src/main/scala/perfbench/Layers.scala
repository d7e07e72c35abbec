package perfbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, computed from the tracer's spans,
  * executions, progress events and task counters. Every name is filled on
  * every workload; a layer the workload does not reach reads 0. Names and
  * the end-to-end metric each should move are listed in perfbench/README.md. */
object Layers {

  val streamNames = Seq("stream.offsets_s", "stream.add_batch_s", "stream.commit_log_s",
    "stream.batch_latency_p50_s", "stream.batch_latency_tail_s")
  val mergeTimeNames = Seq("merge.skew_sample_s", "merge.dedup_stats_s",
    "merge.rejects_write_s", "merge.data_write_s", "merge.lineage_write_s",
    "merge.driver_self_s")
  val mergeCountNames = Seq("merge.rows_in", "merge.rows_applied", "merge.conflicts",
    "merge.rejects", "merge.salted_share", "dedup.survivor_ratio")
  val lakeNames = Seq("lake.files_written", "lake.bytes_written", "lake.manifest_bytes_written")
  val indexNames = Seq("neardup.append_s", "neardup.files_written", "contam.screen_s",
    "contam.rows_flagged")
  val sparkNames = Seq("spark.jobs", "spark.tasks", "spark.shuffle_write_bytes",
    "spark.spill_bytes", "spark.executor_cpu_s", "spark.gc_s")
  val readNames = Seq("read.state_s", "changefeed.read_s", "compact.run_s",
    "read.state_compacted_s", "storage.bytes_per_live_row", "read.files_scanned",
    "read.amplification", "read.planning_s", "changefeed.rows_out", "compact.files_before",
    "compact.files_after", "compact.bytes_rewritten", "vacuum.files_deleted")
  val traceNames = Seq("trace.overhead_share")
  val suiteNames = Seq("suite.planning_s", "suite.codegen_compile_s", "suite.execution_s",
    "suite.jobs", "suite.shuffle_write_bytes")

  def all: Seq[String] = streamNames ++ mergeTimeNames ++ mergeCountNames ++ lakeNames ++
    indexNames ++ sparkNames ++ readNames ++ traceNames ++ suiteNames ++
    Suite.names.map(n => s"query.${n}_s")

  private def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def fill(ctx: Ctx, rec: Record): Unit = {
    val tr = ctx.tracer
    val execs = tr.executions
    val layer = rec.layer
    // defaults: the layer did no work in this workload
    all.foreach(n => layer.getOrElseUpdate(n, 0.0))

    val timed: Set[Long] = rec.info.get("timed_batches")
      .map(_.asInstanceOf[Seq[Long]].toSet).getOrElse(Set.empty)
    if (timed.nonEmpty) {
      val runId = rec.info.get("stream_run_id").map(_.toString)
      val prog = tr.progress.asScala.toSeq.filter(p =>
        runId.contains(p.runId.toString) && timed.contains(p.batchId) && p.numInputRows > 0)
      def d(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
        Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L) / 1000.0
      layer("stream.offsets_s") =
        mean(prog.map(p => d(p, "latestOffset") + d(p, "getBatch") + d(p, "walCommit")))
      layer("stream.add_batch_s") = mean(prog.map(d(_, "addBatch")))
      layer("stream.commit_log_s") = mean(prog.map(d(_, "commitOffsets")))
      if (rec.latencies.nonEmpty) {
        layer("stream.batch_latency_p50_s") = Stats.median(rec.latencies)
        layer("stream.batch_latency_tail_s") =
          Stats.quantile(rec.latencies, Stats.tailP(rec.latencies.size))
      }
      rec.info("batch_latency_tail_p") = Stats.tailP(rec.latencies.size)

      val n = timed.size.toDouble
      def batchOf(cause: String): Option[Long] =
        if (cause.startsWith("epoch=")) cause.stripPrefix("epoch=").toLongOption else None
      val inEpochs = execs.filter(e => batchOf(e.cause).exists(timed.contains) &&
        e.kind != "stream.batch")
      def perBatch(kind: String): Double =
        inEpochs.filter(_.kind == kind).map(_.durNs).sum / 1e9 / n
      Seq("merge.skew_sample" -> "merge.skew_sample_s", "merge.dedup_stats" -> "merge.dedup_stats_s",
        "merge.rejects_write" -> "merge.rejects_write_s", "merge.data_write" -> "merge.data_write_s",
        "merge.lineage_write" -> "merge.lineage_write_s", "neardup.append" -> "neardup.append_s",
        "contam.screen" -> "contam.screen_s").foreach { case (k, name) => layer(name) = perBatch(k) }

      // add-batch time no Spark execution covers: footer reads, file moves,
      // manifest commit, index ledger
      val accounting = prog.sortBy(_.batchId).map { p =>
        val spans = inEpochs.filter(e => batchOf(e.cause).contains(p.batchId)).map(_.durNs).sum / 1e9
        val add = d(p, "addBatch")
        Map("batch" -> p.batchId, "add_batch_s" -> add, "spans_s" -> spans,
          "driver_self_s" -> (add - spans))
      }
      layer("merge.driver_self_s") = mean(accounting.map(_("driver_self_s").asInstanceOf[Double]))
      rec.info("add_batch_accounting") = accounting
      rec.info("unclassified_execution_s") =
        inEpochs.filter(_.kind == "spark.other").map(_.durNs).sum / 1e9
      // per-batch sums are whole milliseconds (the progress events' unit)
      rec.info("add_batch_accounted") =
        accounting.forall(a => a("driver_self_s").asInstanceOf[Double] >= -0.002)

      val cs = tr.countersFor(c => batchOf(c).exists(timed.contains))
      layer("spark.jobs") = cs.size / n
      layer("spark.tasks") = cs.map(_.tasks.get).sum / n
      layer("spark.shuffle_write_bytes") = cs.map(_.shuffleWriteBytes.get).sum / n
      layer("spark.spill_bytes") = cs.map(_.spillBytes.get).sum / n
      layer("spark.executor_cpu_s") = cs.map(_.cpuNs.get).sum / 1e9 / n
      layer("spark.gc_s") = cs.map(_.gcMs.get).sum / 1e3 / n
      layer("read.planning_s") =
        execs.filter(_.cause == "read=state").map(_.planningNs).sum / 1e9
    }

    rec.reads.foreach {
      case ("state_read_s", v) => layer("read.state_s") = v
      case ("changefeed_s", v) => layer("changefeed.read_s") = v
      case ("compact_s", v) => layer("compact.run_s") = v
      case ("state_read_compacted_s", v) => layer("read.state_compacted_s") = v
      case _ =>
    }

    if (rec.queryTimes.nonEmpty || rec.failures.exists(_._1.startsWith("query "))) {
      val q = execs.filter(_.cause.startsWith("query="))
      layer("suite.planning_s") = q.map(_.planningNs).sum / 1e9
      layer("suite.execution_s") = q.map(_.durNs).sum / 1e9
      val cs = tr.countersFor(_.startsWith("query="))
      layer("suite.jobs") = cs.size.toDouble
      layer("suite.shuffle_write_bytes") = cs.map(_.shuffleWriteBytes.get).sum.toDouble
      rec.queryTimes.foreach { case (name, s) => layer(s"query.${name}_s") = s }
    }
  }
}
