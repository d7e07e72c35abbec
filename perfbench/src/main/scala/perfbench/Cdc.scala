package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.{ChangeGen, Oracle, Schemas}
import graft.functions.SimOps
import graft.operators.{CdcMerge, ChangeFeed, Maintain}
import graft.sources.LakeTable
import graft.streaming.CdcStream

/** The two CDC workloads: change-event epochs go through `CdcStream` one
  * microbatch at a time, then (trickle only) a read phase runs against the
  * table the stream built.
  *
  * Load model: one closed-loop client. The benchmark generates an epoch
  * into a staging directory (untimed), publishes it into the stream's
  * source directory with one atomic directory rename, and waits until the
  * stream has committed it; only then does it generate and publish the
  * next. A microbatch's latency is publish → commit, timed from outside. */
object Cdc {

  final case class Shape(
      eventsPerEpoch: Long,
      warmupEvents: Long,
      timedEpochs: Int,
      numConvs: Int,
      maxTurns: Int,
      hotShare: Double,
      pDelete: Double,
      filesPerEpoch: Int,
      // injected rows per thousand events, for each of the three dirty kinds:
      // null conv_id, an op outside I/U/D, a role outside knownRoles
      dirtyPerMille: Int,
      withIndex: Boolean,
      withScreen: Boolean,
      knownRoles: Option[Seq[String]],
      readPhase: Boolean,
      segmentThreshold: Option[Int] = None)

  val queryId = "perfbench"
  val buckets = 64
  val roles: Seq[String] = Seq("user", "assistant", "tool", "system")

  /** Backfill: large epochs over a 10^7-key space, 5% hot conversation
    * (below the 0.2 salt threshold, so the default two-phase dedup runs),
    * no index, no screen, no dirty rows. Epoch count follows `seconds`:
    * about one epoch per two seconds of the nominal run. */
  def bulk(seconds: Int, smoke: Boolean, cores: Int): Shape =
    if (smoke) Shape(20000L, 5000L, 2, 2000, 50, 0.05, 0.05, 2, 0, false, false, None, false)
    else {
      val epochs = math.max(2, seconds / 2)
      Shape(200000L, 50000L, if (cores == 1) math.max(1, epochs / 3) else epochs,
        200000, 50, 0.05, 0.05, 8, 0, false, false, None, false)
    }

  /** Small microbatches over 50k keys with a 30% hot conversation (the
    * salted path runs; the engine takes its skew sample on the warmup
    * microbatch and then every 8 epochs), the near-dup index and
    * the contamination screen on, the known-role guard on and dirty rows
    * injected; then the read phase. A microbatch writes one file per touched
    * bucket (64 here), so with a segmented-manifest threshold of 64 files the
    * warmup commit already switches the table to segmented manifests, and
    * every timed commit is a steady-state segmented commit; the default 512
    * would need nine or more microbatches. Epoch count follows `seconds`: one
    * timed microbatch per five seconds of the nominal run, at least two. */
  def trickle(seconds: Int, smoke: Boolean): Shape =
    if (smoke) Shape(2000L, 2000L, 2, 100, 50, 0.3, 0.05, 1, 5, true, true, Some(roles), true,
      segmentThreshold = Some(64))
    else Shape(10000L, 10000L, math.max(2, seconds / 5), 1000, 50, 0.3, 0.05, 2, 1,
      true, true, Some(roles), true, segmentThreshold = Some(64))

  /** The benchmark's own validity rule for a change event, written
    * independently of the engine's reject split. */
  def valid(known: Option[Seq[String]]): org.apache.spark.sql.Column = {
    val base = col("conv_id").isNotNull && col("turn_idx").isNotNull &&
      col("op").isNotNull && col("op").isin("I", "U", "D")
    known.fold(base)(rs => base && (col("role").isNull || col("role").isin(rs: _*)))
  }

  final case class Epoch(dir: String, events: Long, batchId: Long)

  /** One stream over fresh directories under `root`. */
  final class Run(val ctx: Ctx, val shape: Shape, val root: Path, val seed: Long) {
    val spark: SparkSession = ctx.spark
    val src: String = root.resolve("src").toString
    val staging: String = root.resolve("staging").toString
    val table: String = root.resolve("table").toString
    val ckpt: String = root.resolve("ckpt").toString
    val index: String = root.resolve(Tracer.indexDirName).toString
    val grams: String = root.resolve("grams").toString
    val epochs = scala.collection.mutable.ArrayBuffer[Epoch]()
    private var lsn = 0L
    private var query: StreamingQuery = _
    var runId = ""

    /** Generate epoch `e` into staging; returns its directory and size. */
    def generate(e: Int, n: Long): (String, Long) = ctx.tracer.within("gen") {
      ctx.tracer.span("ChangeGen.events", s"epoch=$e") {
        var df = ChangeGen.events(spark, n, shape.numConvs, shape.maxTurns,
          shape.hotShare, shape.pDelete, seed = seed * 1000003L + e, lsnStart = lsn)
        if (shape.dirtyPerMille > 0) {
          val d = pmod(xxhash64(lit(seed), col("lsn"), lit(977)), lit(1000))
          val k = shape.dirtyPerMille
          df = df
            .withColumn("conv_id", when(d < k, lit(null).cast("string")).otherwise(col("conv_id")))
            .withColumn("op", when(d >= k && d < 2 * k, lit("X")).otherwise(col("op")))
            .withColumn("role", when(d >= 2 * k && d < 3 * k, lit("robot")).otherwise(col("role")))
        }
        val dir = f"e$e%05d"
        df.repartition(shape.filesPerEpoch).write.mode("overwrite").parquet(s"$staging/$dir")
        lsn += n
        (dir, n)
      }
    }

    /** Bench grams from a sample of texts generated like the stream's own. */
    def buildGrams(): Unit = {
      val sample = ChangeGen.events(spark, 200L, shape.numConvs, shape.maxTurns,
        shape.hotShare, shape.pDelete, seed = seed * 1000003L + 999983L)
        .select(col("lsn").as("id"), col("text"))
      ctx.tracer.span("SimOps.benchGrams", "setup") {
        SimOps.benchGrams(sample, "id", "text", 3).write.mode("overwrite").parquet(grams)
      }
    }

    def start(): Unit = {
      Files.createDirectories(Path.of(src))
      query = ctx.tracer.span("CdcStream.start", "setup") {
        CdcStream.start(spark, CdcStream.Config(
          sourceDir = src, tableDir = table, checkpointDir = ckpt, queryId = queryId,
          numBuckets = buckets, availableNow = false, processingTimeMs = 0L,
          mergeMode = "mor", knownRoles = shape.knownRoles,
          neardupIndexDir = if (shape.withIndex) Some(index) else None,
          contamBenchDir = if (shape.withScreen) Some(grams) else None))
      }
      runId = query.runId.toString
    }

    /** Publish a staged epoch and block until the stream commits it. */
    def publish(dir: String, events: Long): Unit = {
      val batchId = epochs.size.toLong
      ctx.tracer.within(s"epoch=$batchId")(ctx.tracer.span("epoch", s"epoch=$batchId") {
        Files.move(Path.of(s"$staging/$dir"), Path.of(s"$src/$dir"),
          StandardCopyOption.ATOMIC_MOVE)
        def committed = query.recentProgress.exists(p =>
          p.batchId == batchId && p.numInputRows > 0)
        while (!committed) {
          if (!query.isActive)
            throw query.exception.getOrElse(new IllegalStateException("stream stopped"))
          query.processAllAvailable()
        }
      })
      // which rows went into which microbatch is checked against _lineage
      // later; a progress event's numInputRows counts every re-scan of the
      // batch inside foreachBatch, so it cannot be compared to the epoch size
      epochs += Epoch(dir, events, batchId)
    }

    def stop(): Unit = if (query != null) { query.stop(); query = null }

    def lake: LakeTable = LakeTable.load(spark, table)

    /** Valid events, tagged with the epoch directory they were published in. */
    def sourceEvents: DataFrame =
      spark.read.schema(Schemas.change).option("recursiveFileLookup", "true").parquet(src)
        .withColumn("_dir", regexp_extract(col("_metadata.file_path"), "/(e\\d{5})/", 1))
  }

  /** Bootstrap a stream: the bench grams (when the screen is on), the
    * table, and the running stream. Returns seconds spent. */
  def bootstrap(run: Run): Double = {
    val t0 = System.nanoTime()
    if (run.shape.withScreen) run.buildGrams()
    run.start()
    (System.nanoTime() - t0) / 1e9
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = scala.util.Using.resource(Files.walk(p))(_.iterator().asScala.toList)
    all.reverse.foreach(Files.deleteIfExists)
  }

  private def dirStats(dir: String, pred: Path => Boolean = _ => true): (Long, Long) = {
    val p = Path.of(dir)
    if (!Files.exists(p)) (0L, 0L)
    else scala.util.Using.resource(Files.walk(p)) { s =>
      val files = s.iterator().asScala.filter(f => Files.isRegularFile(f) && pred(f)).toList
      (files.size.toLong, files.map(Files.size).sum)
    }
  }

  private def parquetFile(p: Path): Boolean = p.getFileName.toString.endsWith(".parquet")

  /** Full read of a table's current state, as timed work; returns
    * (seconds, live rows). */
  private def readState(ctx: Ctx, rec: Record, t: LakeTable, step: String): (Double, Long) = {
    val obs = new Observation(s"state_$step")
    val (_, secs) = rec.timed(ctx.tracer.within(s"read=$step") {
      ctx.tracer.span("CdcMerge.state", s"read=$step") {
        CdcMerge.state(t).observe(obs, count(lit(1)).as("n"))
          .write.format("noop").mode("overwrite").save()
      }
    })
    (secs, obs.get("n").asInstanceOf[Long])
  }

  /** Run one CDC workload leg and fill `rec`. */
  def run(ctx: Ctx, shape: Shape, rec: Record, reps: Int): Unit = {
    shape.segmentThreshold.foreach(n =>
      ctx.spark.conf.set("spark.graft.manifest.segmentThreshold", n.toLong))
    // set-up: bootstrap several times (all but the last stream are thrown
    // away), then one warmup microbatch on the stream that carries on
    val setups = (1 to reps).map { r =>
      val run = new Run(ctx, shape, ctx.work.resolve(s"rep$r"), ctx.seed)
      val s = bootstrap(run)
      if (r < reps) { run.stop(); deleteTree(run.root) }
      (s, run)
    }
    rec.setupRepsS = setups.map(_._1)
    val run = setups.last._2
    val (warmDir, warmN) = run.generate(0, shape.warmupEvents)
    rec.warmupS = rec.timed(run.publish(warmDir, warmN))._2
    val warmupEpochs = run.epochs.size
    HeapWatch.settle()

    // timed ingest
    var genS = 0.0
    val lake0 = (dirStats(s"${run.table}/data", parquetFile),
      dirStats(s"${run.table}/_manifests"), dirStats(run.index, parquetFile))
    val timed = scala.collection.mutable.ArrayBuffer[Double]()
    try {
      (1 to shape.timedEpochs).foreach { e =>
        val g0 = System.nanoTime()
        val (dir, n) = run.generate(e, shape.eventsPerEpoch)
        genS += (System.nanoTime() - g0) / 1e9
        rec.attempted += 1
        timed += rec.timed(run.publish(dir, n))._2
        HeapWatch.settle()
      }
    } catch {
      case ex: Throwable =>
        rec.fail(s"microbatch ${run.epochs.size}", ex)
    } finally run.stop()
    rec.genS = genS
    rec.latencies = timed.toSeq
    rec.timedEvents = run.epochs.drop(warmupEpochs).map(_.events).sum
    val lake1 = (dirStats(s"${run.table}/data", parquetFile),
      dirStats(s"${run.table}/_manifests"), dirStats(run.index, parquetFile))
    rec.layer("lake.files_written") = (lake1._1._1 - lake0._1._1).toDouble
    rec.layer("lake.bytes_written") = (lake1._1._2 - lake0._1._2).toDouble
    rec.layer("lake.manifest_bytes_written") = (lake1._2._2 - lake0._2._2).toDouble
    rec.layer("neardup.files_written") = (lake1._3._1 - lake0._3._1).toDouble
    val timedBatches = run.epochs.drop(warmupEpochs).map(_.batchId).toSet
    rec.info("timed_batches") = timedBatches.toSeq.sorted
    rec.info("stream_run_id") = run.runId

    val t = run.lake
    rec.info("segmented_manifest") = t.snapshot.segments.isDefined
    rec.info("table_files") = t.snapshot.files.size

    // read phase
    if (shape.readPhase && rec.failures.isEmpty) readPhase(ctx, run, rec)

    // verification, untimed
    verify(ctx, run, rec, timedBatches)
  }

  private def readPhase(ctx: Ctx, run: Run, rec: Record): Unit = {
    def step[T](name: String)(f: => T): Option[T] = {
      rec.attempted += 1
      try Some(f) catch { case ex: Throwable => rec.fail(name, ex); None }
      finally HeapWatch.settle()
    }
    def call[T](cause: String, api: String)(f: => T): (T, Double) =
      rec.timed(ctx.tracer.within(cause)(ctx.tracer.span(api, cause)(f)))
    val t = run.lake
    def bytes(files: Seq[graft.sources.FileEntry]): Long =
      files.map(f => Files.size(Path.of(s"${t.dir}/${f.path}"))).sum
    val filesBefore = t.snapshot.files.size
    val bytesBefore = bytes(t.snapshot.files)
    step("state_read") {
      val (s, live) = readState(ctx, rec, t, "state")
      rec.reads("state_read_s") = s
      rec.layer("read.files_scanned") = filesBefore.toDouble
      rec.layer("read.amplification") = t.physicalRows.toDouble / math.max(1L, live)
      rec.layer("storage.bytes_per_live_row") = bytesBefore.toDouble / math.max(1L, live)
      rec.liveRows = live
    }
    // the state the stream left must equal the oracle before maintenance runs
    rec.check("state equals Oracle.expectedState before compaction",
      diffAgainstOracle(ctx, run))
    step("changefeed") {
      val obs = new Observation("feed")
      rec.reads("changefeed_s") = call("read=changefeed", "ChangeFeed.betweenVersions") {
        ChangeFeed.betweenVersions(t, 1L, t.snapshot.version)
          .observe(obs, count(lit(1)).as("n"))
          .write.format("noop").mode("overwrite").save()
      }._2
      rec.layer("changefeed.rows_out") = obs.get("n").asInstanceOf[Long].toDouble
    }
    step("compact") {
      rec.reads("compact_s") = call("read=compact", "Maintain.compact")(Maintain.compact(t))._2
      rec.layer("compact.files_before") = filesBefore.toDouble
      rec.layer("compact.files_after") = t.snapshot.files.size.toDouble
      rec.layer("compact.bytes_rewritten") = bytes(t.snapshot.files).toDouble
    }
    step("state_read_compacted") {
      val (s, live) = readState(ctx, rec, t, "state_compacted")
      rec.reads("state_read_compacted_s") = s
      rec.check(s"live rows unchanged by compaction ($live vs ${rec.liveRows})",
        if (live == rec.liveRows) None else Some(s"$live != ${rec.liveRows}"))
    }
    rec.check("state equals Oracle.expectedState after compaction",
      diffAgainstOracle(ctx, run))
    step("vacuum") {
      val (n, s) = call("read=vacuum", "Maintain.vacuum")(Maintain.vacuum(t))
      rec.reads("vacuum_s") = s
      rec.layer("vacuum.files_deleted") = n.toDouble
    }
  }

  /** Count and decimal sum of one hash per row over its JSON rendering
    * (which keeps nulls apart), as an order-insensitive fingerprint. */
  private def fingerprint(df: DataFrame, cols: Seq[String]): (Long, java.math.BigDecimal) = {
    val r = df.select(xxhash64(to_json(struct(cols.map(col): _*))).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum("h")).head()
    (r.getLong(0), r.getDecimal(1))
  }

  /** None when `actual` holds exactly the rows of `expected`. Equal
    * fingerprints settle it in one pass per side; otherwise Oracle.diff
    * says how they differ. */
  def sameRows(actual: DataFrame, expected: DataFrame): Option[String] = {
    val cols = expected.columns.sorted.toSeq
    if (fingerprint(actual, cols) == fingerprint(expected, cols)) None
    else Oracle.diff(actual, expected).orElse(Some("row fingerprints differ"))
  }

  private def diffAgainstOracle(ctx: Ctx, run: Run): Option[String] =
    ctx.tracer.within("verify") {
      val events = run.sourceEvents.filter(valid(run.shape.knownRoles)).drop("_dir")
      val expected = Oracle.expectedState(events)
      val actual = ctx.corrupt match {
        // smoke self-test: one state row altered must be caught
        case Some("state") =>
          val s = CdcMerge.state(run.lake)
          val victim = s.orderBy("conv_id", "turn_idx").limit(1)
            .withColumn("text", concat(col("text"), lit(" (altered)")))
          s.join(victim.select("conv_id", "turn_idx"), Schemas.keyCols, "left_anti")
            .unionByName(victim)
        case _ => CdcMerge.state(run.lake)
      }
      sameRows(actual, expected)
    }

  private def verify(ctx: Ctx, run: Run, rec: Record, timedBatches: Set[Long]): Unit = {
    val spark = ctx.spark
    ctx.tracer.within("verify") {
      if (!run.shape.readPhase)
        rec.check("state equals Oracle.expectedState", diffAgainstOracle(ctx, run))

      val known = run.shape.knownRoles
      val src = run.sourceEvents
      val perDir = src.groupBy("_dir").agg(
        count(lit(1)).as("events"),
        sum(when(valid(known), 0L).otherwise(1L)).as("dirty"),
        count_distinct(when(valid(known), struct(Schemas.keyCols.map(col): _*))).as("keys"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      val injected = perDir.values.map(_._2).sum
      val rejectsPath = Path.of(s"${run.table}/_rejects")
      val rejected =
        if (Files.exists(rejectsPath)) CdcMerge.rejects(run.lake, queryId).count() else 0L
      rec.check(s"rejects equal injected dirty rows ($rejected vs $injected)",
        if (rejected == injected) None else Some(s"$rejected rejects, $injected injected"))

      val lineage = CdcMerge.lineage(run.lake, queryId).groupBy("epoch_id")
        .agg(sum("rows_applied").as("applied"), sum("conflicts").as("conflicts"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val mismatches = run.epochs.flatMap { e =>
        val (events, dirty, keys) = perDir.getOrElse(e.dir, (0L, 0L, 0L))
        val want = (keys, events - dirty - keys)
        val got = lineage.getOrElse(e.batchId, (0L, 0L))
        if (got == want) None
        else Some(s"epoch ${e.batchId}: lineage (applied, conflicts) $got, expected $want")
      }
      rec.check("per-epoch _lineage sums match the applied rows",
        if (mismatches.isEmpty) None else Some(mismatches.mkString("; ")))

      // counts for the per-layer record, over the timed epochs only
      val timedDirs = run.epochs.filter(e => timedBatches.contains(e.batchId)).map(_.dir).toSet
      val rowsIn = run.epochs.filter(e => timedDirs.contains(e.dir)).map(_.events).sum
      val applied = run.epochs.filter(e => timedDirs.contains(e.dir))
        .map(e => lineage.getOrElse(e.batchId, (0L, 0L))._1).sum
      val conflicts = run.epochs.filter(e => timedDirs.contains(e.dir))
        .map(e => lineage.getOrElse(e.batchId, (0L, 0L))._2).sum
      val rejects = timedDirs.toSeq.map(d => perDir.get(d).map(_._2).getOrElse(0L)).sum
      rec.layer("merge.rows_in") = rowsIn.toDouble
      rec.layer("merge.rows_applied") = applied.toDouble
      rec.layer("merge.conflicts") = conflicts.toDouble
      rec.layer("merge.rejects") = rejects.toDouble
      rec.layer("dedup.survivor_ratio") = applied.toDouble / math.max(1L, rowsIn - rejects)
      val salted = LakeTable.history(run.table).filter { s =>
        s.summary.get("graft.operation").contains("merge") &&
          s.summary.get("graft.epoch").exists(e => timedBatches.contains(e.toLong))
      }.map(_.summary.get("graft.salted").contains("true"))
      rec.layer("merge.salted_share") =
        if (salted.isEmpty) 0.0 else salted.count(identity).toDouble / salted.size
      rec.layer("contam.rows_flagged") =
        if (!run.shape.withScreen) 0.0
        else spark.read.option("basePath", s"${run.table}/_contam/q=$queryId")
          .parquet(s"${run.table}/_contam/q=$queryId/e=*")
          .filter(col("e").isin(timedBatches.toSeq: _*)).count().toDouble
    }
  }
}
