package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types.StructType

import graft.Schemas
import graft.operators.CdcMerge
import graft.sources.LakeTable

/** Structured-Streaming driver: tail a WAL/binlog-style directory of change-event
  * Parquet files and apply each microbatch to the lake table via CdcMerge.
  *
  * Reference analog: one Protempa run = start → handleQueryResult× → finish
  * (reference dest/I2b2QueryResultsHandler.java:318,419,465) is exactly one
  * microbatch; the checkpointed offset log + epoch ledger replaces its assume-no-crash
  * single run with resumable exactly-once.
  *
  * Per microbatch, the near-dup index append and the contamination screen
  * (when configured) run BESIDE the merge: on driver threads, concurrently with
  * CdcMerge's dedup and data write, and the manifest commit waits for both
  * (see [[sideWrites]]). Most of a small microbatch is fixed per-job Spark
  * cost, so the overlap, not the data, is what shortens it.
  */
object CdcStream {

  final case class Config(
      sourceDir: String,
      tableDir: String,
      checkpointDir: String,
      queryId: String = "graft",
      schema: StructType = Schemas.change,
      // WAL encoding: "parquet" (default), "json" (one change event per line —
      // the common binlog-tail export shape, e.g. Debezium-style feeds), or
      // "csv" (headerless, columns in schema order). The schema is always
      // enforced explicitly — a malformed line yields nulls which the reject
      // path dead-letters with a REASON, never a dropped row.
      sourceFormat: String = "parquet",
      numBuckets: Int = 64,
      availableNow: Boolean = true,
      processingTimeMs: Long = 1000L,
      maxFilesPerTrigger: Option[Int] = None,
      mergeMode: String = "mor",
      knownRoles: Option[Seq[String]] = None, // P6 guard (see CdcMerge.rejectReason)
      // maintain a near-dup LSH index of ingested turn texts (see NeardupIndex):
      // appended beside the merge and BEFORE its commit, so a crash between
      // the two redelivers the append — absorbed by the index's epoch-keyed
      // overwrite (the redelivered epoch rewrites its own e=<id> directories)
      neardupIndexDir: Option[String] = None,
      neardupCfg: graft.operators.NeardupIndex.Config =
        graft.operators.NeardupIndex.Config(),
      // fold the index every N applied epochs (None = manual `Replay
      // compactIndex` only): a tail that never stops otherwise accumulates a
      // few files per microbatch forever. Compaction is crash-safe and skips
      // the newest epoch by design, so running it inline is always safe.
      neardupCompactEvery: Option[Int] = None,
      // screen ingested text against a benchmark gram set (decontamination at
      // ingest): a parquet of `_h` hashes (SimOps.benchGrams); flagged events
      // land in the `_contam` sibling table, keyed (conv_id, turn_idx, lsn)
      contamBenchDir: Option[String] = None,
      contamN: Int = 3
  )

  def start(spark: SparkSession, cfg: Config): StreamingQuery = {
    // Reject bad config UP FRONT: a zero/negative fold period would otherwise
    // surface as an ArithmeticException (epochId % 0) INSIDE foreachBatch,
    // killing the stream mid-replay instead of failing at start.
    cfg.neardupCompactEvery.foreach(n => require(n > 0,
      s"neardupCompactEvery must be positive, got $n (omit it for manual-only compaction)"))
    // Bootstrap the target before streaming so every batch sees a table.
    LakeTable.loadOrCreate(spark, cfg.tableDir,
      CdcMerge.physicalSchema(Schemas.payloadOf(cfg.schema)), cfg.numBuckets)
    var reader = spark.readStream.schema(cfg.schema)
    cfg.maxFilesPerTrigger.foreach(n => reader = reader.option("maxFilesPerTrigger", n))
    reader = reader.option("recursiveFileLookup", "true")
    val src = cfg.sourceFormat match {
      case "parquet" => reader.parquet(cfg.sourceDir)
      case "json" => reader.json(cfg.sourceDir)
      case "csv" => reader.csv(cfg.sourceDir)
      case other => throw new IllegalArgumentException(
        s"unknown sourceFormat '$other' (parquet | json | csv)")
    }
    // The benchmark gram set is static for the life of the stream: load and
    // persist it ONCE here, not inside foreachBatch — per-batch re-reads pay
    // a file listing + parquet scan + broadcast build per epoch (thousands of
    // times under maxFilesPerTrigger=1). Released when the query terminates.
    val benchGrams = cfg.contamBenchDir.map(d => spark.read.parquet(d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val writer = src.writeStream
      .queryName(cfg.queryId)
      .option("checkpointLocation", cfg.checkpointDir)
      .trigger(if (cfg.availableNow) Trigger.AvailableNow()
               else Trigger.ProcessingTime(cfg.processingTimeMs))
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        val table = LakeTable.loadOrCreate(
          batch.sparkSession, cfg.tableDir,
          CdcMerge.physicalSchema(Schemas.payloadOf(batch.schema)), cfg.numBuckets)
        CdcMerge.applyBatch(table, batch, epochId, cfg.queryId, mode = cfg.mergeMode,
          knownRoles = cfg.knownRoles, sideWrites = sideWrites(cfg, batch, epochId, benchGrams))
        ()
      }
    val query = try writer.start()
      catch { case e: Throwable => benchGrams.foreach(_.unpersist()); throw e }
    benchGrams.foreach(unpersistOnTermination(spark, query, _))
    query
  }

  /** The near-dup index append and the `_contam` screen of one microbatch.
    * They run BESIDE the merge ([[CdcMerge.applyBatch]]'s `sideWrites`): only
    * for an epoch the ledger has not committed, concurrently with the dedup
    * and data write, and all of them land before the manifest commit. A crash
    * or failure before the commit redelivers the epoch, which rewrites the
    * same epoch-keyed directories (the index's `e=<epoch>`, `_contam`'s
    * per-epoch overwrite — the `_rejects`/`_lineage` sibling-table pattern)
    * and then merges; once the merge committed, the ledger skips the epoch —
    * and its side writes necessarily already happened. */
  private def sideWrites(cfg: Config, batch: DataFrame, epochId: Long,
                         benchGrams: Option[DataFrame]): Seq[() => Unit] = {
    val index = cfg.neardupIndexDir.map { dir => () =>
      graft.operators.NeardupIndex.appendBatch(dir, batch, cfg.neardupCfg,
        epoch = Some(epochId))
      // periodic fold: bounded file count without stopping the tail.
      // Re-running after a crash-redelivery is harmless (second compact
      // with no new foldable epochs is a GC-only no-op).
      cfg.neardupCompactEvery.foreach { n =>
        if (epochId > 0 && epochId % n == 0) {
          val (before, after) = graft.operators.NeardupIndex
            .compact(batch.sparkSession, dir)
          System.err.println(
            s"[graft] epoch $epochId: compacted near-dup index $before -> $after files")
        }
      }
    }
    // decontamination at ingest
    val contam = benchGrams.map { grams => () =>
      graft.functions.SimOps
        .contaminationAgainst(batch.filter(batch("text").isNotNull),
          grams, Seq("conv_id", "turn_idx", "lsn"), "text", cfg.contamN)
        .write.mode("overwrite")
        .parquet(s"${cfg.tableDir}/_contam/q=${cfg.queryId}/e=$epochId")
    }
    index.toSeq ++ contam.toSeq
  }

  /** Unpersist `df` once `query` terminates, stopped or failed. */
  private def unpersistOnTermination(spark: SparkSession, query: StreamingQuery,
                                     df: DataFrame): Unit = {
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    lazy val listener: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (e.id == query.id) once()
    }
    def once(): Unit = if (done.compareAndSet(false, true)) {
      df.unpersist()
      spark.streams.removeListener(listener)
    }
    spark.streams.addListener(listener)
    // the query may have ended before the listener was added
    if (!query.isActive) once()
  }

  /** Run to completion over currently available input (replay mode). */
  def runAvailable(spark: SparkSession, cfg: Config): Unit = {
    val q = start(spark, cfg.copy(availableNow = true))
    q.awaitTermination()
  }
}
