package graft.operators

import java.util.concurrent.{CompletionException, ExecutorService, Executors}

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Schemas
import graft.plans.SchemaEvolution
import graft.sources.{FileEntry, LakeTable}

/** One applied (or skipped) microbatch. */
final case class BatchResult(
    epochId: Long,
    applied: Boolean,
    keysTouched: Long,
    deletes: Long,
    conflicts: Long,
    rejects: Long,
    bucketsRewritten: Int
)

/** The MERGE-apply heart of the engine: per microbatch —
  * validate → dedup (LWW by max LSN, salted under skew) → evolve schema →
  * copy-on-write merge of only the touched buckets → lineage → atomic commit.
  *
  * Reference semantics being reproduced (SURVEY.md §2.1 S8, §7.2):
  *  - staged rows merged with insert/update/logical-delete resolution in one pass
  *    (reference dest/I2b2QueryResultsHandler.java:147-153, EK_UPDATE_OBSERVATION_FACT);
  *  - rejected rows diverted with a reason, never failing the load
  *    (reference dest/table/FactHandler.java:176-187, RejectedFactHandler.java:34);
  *  - upload-id idempotence → epoch ledger in the snapshot manifest
  *    (reference dest/I2b2QueryResultsHandler.java:169-170, 516);
  *  - post-apply verification counts → per-bucket lineage rows
  *    (reference dest/I2b2QueryResultsHandler.java:705-837).
  *
  * Scale design: the target side is NEVER shuffled — survivors come from a
  * file-pruned scan of touched buckets anti-joined against the (usually broadcast)
  * batch key set; only the rewritten data moves, partitioned by bucket. The batch
  * side is reduced map-side by the aggregate-based dedup before any shuffle.
  */
object CdcMerge {

  val validOps: Seq[String] = Seq("I", "U", "D")

  /** System columns stored in the lake but hidden from `state()`: the winning LSN
    * per key and the logical-delete tombstone flag. Without them, a merge would be
    * blind-overwrite and the final state would depend on microbatch boundaries —
    * an OLDER event arriving in a LATER batch (file sources don't order by LSN
    * across files) could clobber a newer row or resurrect a deleted key. The
    * reference keeps the same information as DELETE_DATE / UPDATE_DATE on live rows
    * (reference i2b2-data-schema-changelog.xml:81-235; test-schema.sql:58-60).
    */
  val sysCols: Seq[String] = Seq("_lsn", "_deleted")

  def physicalSchema(payload: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(payload.fields.toSeq
      :+ org.apache.spark.sql.types.StructField("_lsn", org.apache.spark.sql.types.LongType)
      :+ org.apache.spark.sql.types.StructField("_deleted", org.apache.spark.sql.types.BooleanType))

  private def payloadSchema(physical: org.apache.spark.sql.types.StructType) =
    org.apache.spark.sql.types.StructType(physical.fields.filterNot(f => sysCols.contains(f.name)))

  /** LWW-resolve raw lake rows: one row per key, max `_lsn` wins. Under
    * merge-on-read a key may have one version per appended file; under
    * copy-on-write this is a semantic no-op. */
  def resolve(raw: DataFrame): DataFrame =
    Dedup.lww(raw, Schemas.keyCols, "_lsn").drop("n_events", "_lsn_min")

  /** The user-visible current table state: LWW-resolved, tombstones filtered,
    * system cols dropped. */
  def state(table: LakeTable): DataFrame =
    resolve(table.read()).filter(!col("_deleted")).drop(sysCols: _*)

  /** User-visible state AS OF a committed snapshot version (time travel):
    * the same LWW-resolve + tombstone filter over that version's files. */
  def stateAsOf(table: LakeTable, version: Long): DataFrame =
    resolve(table.readAsOf(version)).filter(!col("_deleted")).drop(sysCols: _*)

  /** Rows that can never be merged (null key parts / null or unknown op /
    * unknown role when a known-role guard is configured) and why.
    *
    * `op.isNull` gets its own branch: `!isin(...)` evaluates to NULL for a null
    * op, which would neither reject nor apply the row — it would flow through
    * dedup with `_deleted = (op === "D")` = NULL and be silently dropped by
    * state()'s `!_deleted` filter (invisible data loss, no dead-letter entry).
    *
    * `knownRoles` is the concept-existence guard (SURVEY §2.2 P6; reference
    * dest/table/PropositionFactHandler.java:145-149 skips facts whose concept
    * is missing from the metadata cache): a small broadcast-able membership set
    * — rows outside it divert to the dead-letter table instead of polluting the
    * target. */
  def rejectReason(df: DataFrame,
                   knownRoles: Option[Seq[String]] = None): org.apache.spark.sql.Column = {
    val base = when(col("conv_id").isNull, "null conv_id")
      .when(col("turn_idx").isNull, "null turn_idx")
      .when(col("op").isNull, "null op")
      .when(!col("op").isin(validOps.map(lit): _*), "invalid op")
    knownRoles match {
      case Some(roles) =>
        base.when(col("role").isNotNull && !col("role").isin(roles.map(lit): _*),
          "unknown role")
      case None => base
    }
  }

  /** Warn-once ledger for the concept-existence guard: distinct unknown values
    * already logged this JVM (reference analog: the warn-once set in
    * PropositionFactHandler.java:147). */
  private val warnedUnknown: java.util.Set[String] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private[graft] def warnedUnknownValues: Set[String] = {
    import scala.jdk.CollectionConverters._
    warnedUnknown.asScala.toSet
  }

  /** How many epochs a skew sample stays fresh. */
  val skewSampleEvery: Int = 8
  private val skewCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Double)]()

  private val debug = sys.env.contains("SPARK_GRAFT_MERGE_DEBUG")
  private def timed[T](label: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    if (debug) System.err.println(f"[merge-timing] $label: ${(System.nanoTime() - t0) / 1e9}%.2fs")
    r
  }

  /** Driver threads for [[applyBatch]]'s side writes: daemon, created on
    * demand and reaped when idle, so concurrency follows the side writes
    * actually submitted. */
  private lazy val sidePool: ExecutorService = Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "graft-side-write")
    t.setDaemon(true)
    t
  }

  /** The side writes of one batch, started on [[sidePool]] threads that carry
    * the caller's thread-locals (active session, local properties: job group,
    * job tags, SQL execution id), so the stream's cancellation reaches their
    * jobs as it reaches the merge's own. */
  private final class SideWrites(spark: SparkSession, writes: Seq[() => Unit]) {
    private val running = writes.map(w => SQLExecution.withThreadLocalCaptured(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], sidePool)(w()))

    /** Wait for every side write; rethrow the first failure. */
    def await(): Unit = {
      val failures = running.flatMap(f => Try(f.join()).failed.toOption.map {
        case c: CompletionException if c.getCause != null => c.getCause
        case e => e
      })
      failures.headOption.foreach { e => failures.tail.foreach(e.addSuppressed); throw e }
    }

    /** Wait for every side write, ignoring failures: none outlives its batch.
      * `join` is uninterruptible, and a stopped stream cancels the side
      * writes' jobs through the job group they carry. */
    def drain(): Unit = running.foreach(f => Try(f.join()))
  }

  /** Apply one microbatch. `sideWrites` (the stream's near-dup index append
    * and contamination screen) run CONCURRENTLY with the dedup and data write
    * and only for an epoch this call applies; every one has finished before
    * any manifest commit, the empty-batch commit included. A side-write
    * failure fails the batch with nothing committed, so a redelivered epoch
    * redoes its side writes (each is an epoch-keyed overwrite) before the
    * ledger can skip it. */
  def applyBatch(
      table: LakeTable,
      batch: DataFrame,
      epochId: Long,
      queryId: String,
      broadcastKeyLimit: Long = 1000000L,
      saltThreshold: Double = 0.2,
      saltBuckets: Int = 16,
      mode: String = "mor", // "mor" (append winners, resolve on read) | "cow"
      knownRoles: Option[Seq[String]] = None, // P6 concept-existence guard
      sideWrites: Seq[() => Unit] = Nil
  ): BatchResult = {
    require(mode == "mor" || mode == "cow", s"unknown merge mode: $mode")
    val spark = table.spark
    // 1. Exactly-once: skip epochs already in the committed ledger (foreachBatch may
    //    redeliver a batch after crash-restart; the checkpoint replays it, we no-op).
    if (epochId <= table.appliedEpoch(queryId))
      return BatchResult(epochId, applied = false, 0, 0, 0, 0, 0)

    val snap = table.snapshot

    // 2. Dead-letter split (reference: EK_REJECTED_OBSERVATION_FACT with REASON).
    //    The reject COUNT rides along the dedup scan as a CollectMetrics
    //    observation — a clean batch pays zero extra jobs/scans; only a dirty
    //    batch pays a second scan to materialize the dead-letter rows.
    val reason = rejectReason(batch, knownRoles)
    val rejectsPath = s"${table.dir}/_rejects/q=$queryId/e=$epochId"
    val rejectObs = new org.apache.spark.sql.Observation()
    // collect_set of guard-failing values rides the same observation: its
    // cardinality is bounded by the distinct unknown roles (small by
    // construction), and it feeds the warn-once log without a second job.
    val observed = batch.observe(rejectObs,
      sum(when(reason.isNotNull, 1L).otherwise(0L)).as("n_rejects"),
      collect_set(when(reason === "unknown role", col("role"))).as("unknown_roles"))
    val good = observed.filter(rejectReason(observed, knownRoles).isNull)

    // 3. Schema evolution: widen/extend the target schema to accept this batch.
    val incomingPayload = Schemas.payloadOf(good.schema)
    val evolved = physicalSchema(
      SchemaEvolution.evolve(payloadSchema(snap.schema), incomingPayload))
    val schemaChanged = evolved != snap.schema
    val schemaId = if (schemaChanged) snap.schemas.keys.map(_.toInt).max + 1
                   else snap.currentSchemaId
    val schemas = if (schemaChanged) snap.schemas + (schemaId.toString -> evolved.json)
                  else snap.schemas

    // 4. LWW dedup — salted two-phase when a sampled hot key exceeds the threshold
    //    (north rule: salt hot conv_ids before the key-partitioned shuffle).
    //    The sample is re-taken only every `skewSampleEvery` epochs per (table,
    //    query): skew drifts slowly, and a per-batch sampling job is pure serial
    //    overhead in the stream's critical path.
    val skewKey = s"${table.dir}|$queryId"
    // METRICS-FREE twin of `good`: an Observation resolves with the FIRST
    // action over its plan, and any extra action (the skew sample) — or a
    // DUPLICATED CollectMetrics node (the two-phase dedup's self-join) —
    // would resolve rejectObs with wrong counts (bug class caught by the
    // malformed-json-line StreamSpec case). Everything except the one
    // aggregate branch that legitimately scans each row once must use the
    // twin, never the observed plan.
    val goodNoObs = batch.filter(rejectReason(batch, knownRoles).isNull)
    val hotShare = timed("skew-sample") {
      Option(skewCache.get(skewKey)) match {
        case Some((sampledAt, share)) if epochId - sampledAt < skewSampleEvery => share
        case _ =>
          val share = Skew.topKeyShare(goodNoObs, "conv_id")
          skewCache.put(skewKey, (epochId, share))
          share
      }
    }
    // Strategy (measured, BASELINE.md round 5): the two-phase fixed-width
    // form beat max(struct(...)) by ~24% at the 10⁸-event grounding scale
    // (both ABBA arms), so it is the DEFAULT. A hot batch still takes the
    // salted struct path: two-phase's join-back funnels ALL of a hot key's
    // payload rows through one reducer, exactly the case salting exists for.
    // spark.graft.dedup.strategy=struct|twophase forces either.
    val deduped = batch.sparkSession.conf.getOption("spark.graft.dedup.strategy") match {
      case Some("twophase") =>
        Dedup.lwwTwoPhase(good, Schemas.keyCols, "lsn", joinSide = Some(goodNoObs))
      case Some("struct") =>
        if (hotShare >= saltThreshold) Dedup.lwwSalted(good, Schemas.keyCols, "lsn", saltBuckets)
        else Dedup.lww(good, Schemas.keyCols, "lsn")
      case _ =>
        if (hotShare >= saltThreshold) Dedup.lwwSalted(good, Schemas.keyCols, "lsn", saltBuckets)
        else Dedup.lwwTwoPhase(good, Schemas.keyCols, "lsn", joinSide = Some(goodNoObs))
    }
    val changes = deduped
      .withColumn("_gbucket", LakeTable.bucketCol(col("conv_id"), snap.numBuckets))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // side writes start once the plan is built: they overlap the dedup, stats
    // and data write below, and the finally waits for them whatever happens
    val side = new SideWrites(spark, sideWrites)
    try {
      // 5. Per-bucket lineage stats in ONE aggregation (also yields touched buckets).
      val stats = timed("dedup+stats")(changes.groupBy("_gbucket").agg(
        min("_lsn_min").as("lsn_min"), max("lsn").as("lsn_max"),
        count(lit(1)).as("rows_applied"),
        sum(when(col("op") === "D", 1L).otherwise(0L)).as("deletes"),
        sum(col("n_events") - 1L).as("conflicts")
      ).collect())

      // the observation resolved with the stats job (same scan)
      val nRejects = timed("rejects") {
        val metrics = rejectObs.get
        val n = metrics.get("n_rejects").flatMap(Option(_))
          .map(_.asInstanceOf[Long]).getOrElse(0L)
        // warn ONCE per distinct unknown guard value per JVM (reference analog:
        // PropositionFactHandler.java:145-149's warn-once on missing concepts)
        metrics.get("unknown_roles").flatMap(Option(_)).foreach { vs =>
          vs.asInstanceOf[scala.collection.Seq[String]].foreach { v =>
            if (warnedUnknown.add(v))
              System.err.println(s"[graft] WARN unknown role '$v' diverted to dead-letter (warn-once)")
          }
        }
        if (n > 0)
          batch.withColumn("reason", rejectReason(batch, knownRoles))
            .filter(col("reason").isNotNull)
            .write.mode(SaveMode.Overwrite).parquet(rejectsPath)
        n
      }

      if (stats.isEmpty) {
        // Empty batch still advances the ledger so redelivery is skipped.
        side.await()
        table.commit(snap.files, schemas, schemaId,
          snap.applied + (queryId -> epochId),
          Map("graft.operation" -> "merge", "graft.epoch" -> epochId.toString,
              "graft.query" -> queryId))
        return BatchResult(epochId, applied = true, 0, 0, 0, nRejects, 0)
      }

      val touched = stats.map(_.getInt(0)).toSet
      val keysTouched = stats.map(_.getLong(3)).sum
      val deletes = stats.map(_.getLong(4)).sum
      val conflicts = stats.map(_.getLong(5)).sum

      // 6. The merge itself. LWW is enforced ACROSS batches by the stored _lsn, and
      //    deletes persist as tombstones, so an out-of-order older upsert can never
      //    clobber or resurrect a key.
      //
      //    mode="mor" (merge-on-read, the streaming-ingest default): ONLY the batch
      //    winners are appended — no target read, no write amplification; readers
      //    resolve max-_lsn per key (Iceberg MoR analog; reference analog: the
      //    append-on-update flag, dest/I2b2QueryResultsHandler.java:678).
      //    Maintain.compact folds versions back to one row per key.
      //
      //    mode="cow" (copy-on-write): touched buckets are rewritten fully
      //    resolved — unmatched old rows pass through an anti-join against the
      //    (usually broadcast) batch key set so the target side is never shuffled;
      //    matched rows re-enter the LWW aggregation with the batch winners.
      val changePhysical = LakeTable.align(
        changes.withColumn("_lsn", col("lsn"))
          .withColumn("_deleted", col("op") === "D"),
        evolved)
      // Pinned partition count for the pre-write shuffle: without it AQE coalesces
      // this exchange to ~64MB partitions and the parquet write serializes onto
      // 1-2 tasks — measured as flat N→4N scaling.
      // = shuffle.partitions, NOT max(·, touched buckets): partitionBy splits each
      // task's output per bucket anyway, so file count stays ~|touched| while task
      // count tracks the cluster size (64 tasks on 2 cores is pure overhead).
      val writeParallelism = spark.conf.get("spark.sql.shuffle.partitions").toInt
      val (merged, kept) = mode match {
        case "mor" =>
          val m = changePhysical
            .withColumn("_gbucket", LakeTable.bucketCol(col("conv_id"), snap.numBuckets))
            .repartition(writeParallelism, col("_gbucket"))
          (m, snap.files)
        case "cow" =>
          val old = LakeTable.align(table.readBuckets(touched), evolved)
          val keys = changes.select(Schemas.keyCols.map(col): _*)
          val keyedKeys = if (keysTouched <= broadcastKeyLimit) broadcast(keys) else keys
          val untouchedRows = old.join(keyedKeys, Schemas.keyCols, "left_anti")
          val matchedOld = old.join(keyedKeys, Schemas.keyCols, "left_semi")
          val winners = Dedup.lww(matchedOld.unionByName(changePhysical),
              Schemas.keyCols, "_lsn")
            .drop("n_events", "_lsn_min")
          val m = untouchedRows.unionByName(winners)
            .withColumn("_gbucket", LakeTable.bucketCol(col("conv_id"), snap.numBuckets))
            .repartition(writeParallelism, col("_gbucket"))
          (m, snap.files.filterNot(f => touched.contains(f.bucket)))
      }

      val newFiles = timed("merge+write")(table.writeDataFiles(merged, snap.version + 1, schemaId))

      // 7. Lineage BEFORE the commit: a crash in between re-runs the epoch and
      //    rewrites the same path deterministically.
      import spark.implicits._
      val lineage = stats.toSeq.map { r =>
        graft.LineageRow(queryId, epochId, r.getInt(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))
      }.toDF()
      timed("lineage")(lineage.coalesce(1).write.mode(SaveMode.Overwrite)
        .parquet(s"${table.dir}/_lineage/q=$queryId/e=$epochId"))

      // 8. Atomic snapshot commit carrying the epoch ledger — once every
      //    side write has landed.
      side.await()
      table.commit(kept ++ newFiles, schemas, schemaId,
        snap.applied + (queryId -> epochId),
        Map("graft.operation" -> "merge", "graft.mode" -> mode,
            "graft.epoch" -> epochId.toString,
            "graft.query" -> queryId, "graft.hotKeyShare" -> f"$hotShare%.3f",
            "graft.salted" -> (hotShare >= saltThreshold).toString))

      BatchResult(epochId, applied = true, keysTouched, deletes, conflicts, nRejects,
        touched.size)
    } finally {
      side.drain()
      changes.unpersist()
    }
  }

  /** Lineage metrics table for a query (reference analog: verification counts). */
  def lineage(table: LakeTable, queryId: String): DataFrame =
    table.spark.read.parquet(s"${table.dir}/_lineage/q=$queryId/e=*")

  /** Dead-letter table (reference analog: EK_REJECTED_OBSERVATION_FACT). */
  def rejects(table: LakeTable, queryId: String): DataFrame =
    table.spark.read.parquet(s"${table.dir}/_rejects/q=$queryId/e=*")

  /** Ingest-time contamination flags (CdcStream.Config.contamBenchDir):
    * one row per event whose text overlapped the benchmark gram set. */
  def contamination(table: LakeTable, queryId: String): DataFrame =
    table.spark.read.parquet(s"${table.dir}/_contam/q=$queryId/e=*")
}
