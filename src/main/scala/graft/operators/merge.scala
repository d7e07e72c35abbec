package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Schemas
import graft.plans.SchemaEvolution
import graft.sources.LakeTable

/** One applied (or skipped) microbatch. */
final case class BatchResult(
    epochId: Long,
    applied: Boolean,
    keysTouched: Long,
    deletes: Long,
    conflicts: Long,
    rejects: Long,
    bucketsTouched: Int
)

/** The MERGE-apply heart of the engine: per microbatch —
  * validate → dedup (LWW by max LSN, salted under skew) → evolve schema →
  * merge (merge-on-read: append the batch winners, readers resolve) → lineage →
  * atomic commit.
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
  * Scale design: the target side is NEVER read — only the written data moves,
  * partitioned by bucket, and `Maintain.compact` folds the appended versions
  * back to one row per key. The batch side is reduced map-side by the
  * aggregate-based dedup before any shuffle.
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

  /** LWW-resolve raw lake rows: one row per key, max `_lsn` wins. A key may
    * have one version per appended file until `Maintain.compact` folds them. */
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
  /** Salt width of the hot-key dedup. */
  private val saltBuckets: Int = 16
  private val skewCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Double)]()

  /** Apply one microbatch. `sideWrites` (the stream's near-dup index append
    * and contamination screen) run CONCURRENTLY with the dedup and data write
    * and only for an epoch this call applies; every one has finished before
    * any manifest commit, the empty-batch commit included. A side-write
    * failure fails the batch with nothing committed, so a redelivered epoch
    * redoes its side writes (each is an epoch-keyed overwrite) before the
    * ledger can skip it. The merge's own dead-letter and lineage writes start
    * once the stats are in and likewise land before the commit. */
  def applyBatch(
      table: LakeTable,
      batch: DataFrame,
      epochId: Long,
      queryId: String,
      saltThreshold: Double = 0.2,
      knownRoles: Option[Seq[String]] = None, // P6 concept-existence guard
      sideWrites: Seq[() => Unit] = Nil
  ): BatchResult = {
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

    // 4. LWW dedup — one max(struct(lsn, …)) aggregate per key; salted two-level
    //    when a sampled hot key reaches the threshold (north rule: salt hot
    //    conv_ids before the key-partitioned shuffle). The sample is re-taken
    //    only every `skewSampleEvery` epochs per (table, query): skew drifts
    //    slowly, and a per-batch sampling job is pure serial overhead in the
    //    stream's critical path. A sample from a LATER epoch is stale (a table
    //    recreated at the same path restarts its epochs), never reused.
    val skewKey = s"${table.dir}|$queryId"
    // METRICS-FREE twin of `good` for the skew sample: an Observation
    // resolves with the FIRST action over its plan, so sampling the observed
    // plan would resolve rejectObs with the sample's counts.
    val goodNoObs = batch.filter(rejectReason(batch, knownRoles).isNull)
    val hotShare = Option(skewCache.get(skewKey)) match {
      case Some((sampledAt, share))
          if epochId - sampledAt >= 0 && epochId - sampledAt < skewSampleEvery => share
      case _ =>
        val share = Skew.topKeyShare(goodNoObs, "conv_id")
        skewCache.put(skewKey, (epochId, share))
        share
    }
    val deduped =
      if (hotShare >= saltThreshold) Dedup.lwwSalted(good, Schemas.keyCols, "lsn", saltBuckets)
      else Dedup.lww(good, Schemas.keyCols, "lsn")
    val changes = deduped.persist(StorageLevel.MEMORY_AND_DISK)

    // side writes start once the plan is built: they overlap the dedup, stats
    // and data write below, and the finally waits for them whatever happens
    val side = new SideWrites(spark).start(sideWrites)
    try {
      // 5. Per-bucket lineage stats in ONE aggregation (also yields touched buckets).
      val stats = changes.groupBy(table.bucketOf(col("conv_id")).as("bucket")).agg(
        min("_lsn_min").as("lsn_min"), max("lsn").as("lsn_max"),
        count(lit(1)).as("rows_applied"),
        sum(when(col("op") === "D", 1L).otherwise(0L)).as("deletes"),
        sum(col("n_events") - 1L).as("conflicts")
      ).collect()

      // the observation resolved with the stats job (same scan)
      val metrics = rejectObs.get
      val nRejects = metrics.get("n_rejects").flatMap(Option(_))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      // warn ONCE per distinct unknown guard value per JVM (reference analog:
      // PropositionFactHandler.java:145-149's warn-once on missing concepts)
      metrics.get("unknown_roles").flatMap(Option(_)).foreach { vs =>
        vs.asInstanceOf[scala.collection.Seq[String]].foreach { v =>
          if (warnedUnknown.add(v))
            System.err.println(s"[graft] WARN unknown role '$v' diverted to dead-letter (warn-once)")
        }
      }

      // The stats-only writes: the dead-letter rows (a dirty batch only) and
      // the lineage rows need nothing but the stats, so they start now and run
      // BESIDE the data write below; the commit waits for them. Lineage lands
      // BEFORE the commit: a crash in between re-runs the epoch and rewrites
      // the same paths deterministically.
      val rejectsWrite = if (nRejects == 0) None else Some { () =>
        batch.withColumn("reason", rejectReason(batch, knownRoles))
          .filter(col("reason").isNotNull)
          .write.mode(SaveMode.Overwrite).parquet(rejectsPath)
      }
      val lineageWrite = if (stats.isEmpty) None else {
        import spark.implicits._
        val lineage = stats.toSeq.map { r =>
          graft.LineageRow(queryId, epochId, r.getInt(0), r.getLong(1), r.getLong(2),
            r.getLong(3), r.getLong(4), r.getLong(5))
        }.toDF()
        Some { () =>
          lineage.coalesce(1).write.mode(SaveMode.Overwrite)
            .parquet(s"${table.dir}/_lineage/q=$queryId/e=$epochId")
        }
      }
      side.start(rejectsWrite.toSeq ++ lineageWrite.toSeq)

      if (stats.isEmpty) {
        // Empty batch still advances the ledger so redelivery is skipped.
        side.await()
        table.commit(snap.files, schemas, schemaId,
          snap.applied + (queryId -> epochId),
          Map("graft.operation" -> "merge", "graft.epoch" -> epochId.toString,
              "graft.query" -> queryId))
        return BatchResult(epochId, applied = true, 0, 0, 0, nRejects, 0)
      }

      val keysTouched = stats.map(_.getLong(3)).sum
      val deletes = stats.map(_.getLong(4)).sum
      val conflicts = stats.map(_.getLong(5)).sum

      // 6. The merge itself. LWW is enforced ACROSS batches by the stored _lsn, and
      //    deletes persist as tombstones, so an out-of-order older upsert can never
      //    clobber or resurrect a key.
      //
      //    Merge-on-read: ONLY the batch winners are appended — no target read,
      //    no write amplification; readers resolve max-_lsn per key (Iceberg MoR
      //    analog; reference analog: the append-on-update flag,
      //    dest/I2b2QueryResultsHandler.java:678). Maintain.compact folds
      //    versions back to one row per key. A bucket's appended rows are its
      //    `rows_applied`, so the stats give the new files' row counts.
      //    LakeTable.writeDataFiles buckets the rows and shuffles them to their
      //    writing tasks.
      val changePhysical = LakeTable.align(
        changes.withColumn("_lsn", col("lsn"))
          .withColumn("_deleted", col("op") === "D"),
        evolved)
      val newFiles = table.writeDataFiles(changePhysical, snap.version + 1, schemaId,
        bucketRows = stats.map(r => r.getInt(0) -> r.getLong(3)).toMap)

      // 7. Atomic snapshot commit carrying the epoch ledger — once every
      //    side write and stats-only write has landed.
      side.await()
      table.commit(snap.files ++ newFiles, schemas, schemaId,
        snap.applied + (queryId -> epochId),
        Map("graft.operation" -> "merge", "graft.epoch" -> epochId.toString,
            "graft.query" -> queryId, "graft.hotKeyShare" -> f"$hotShare%.3f",
            "graft.salted" -> (hotShare >= saltThreshold).toString))

      BatchResult(epochId, applied = true, keysTouched, deletes, conflicts, nRejects,
        stats.length)
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
