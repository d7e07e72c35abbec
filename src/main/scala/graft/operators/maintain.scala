package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.CdcMerge
import graft.sources.LakeTable

/** Maintenance operators mirroring the reference's REPLACE-vs-UPDATE query modes and
  * post-load housekeeping (SURVEY.md §2.1 S7, S9).
  */
object Maintain {

  /** REPLACE mode, full reset: `TRUNCATE TABLE` analog
    * (reference dest/I2b2QueryResultsHandler.java:991-1026, RemoveMethod.TRUNCATE). */
  def truncate(table: LakeTable): Unit = {
    val s = table.snapshot
    table.commit(Nil, s.schemas, s.currentSchemaId, applied = Map.empty,
      summary = Map("graft.operation" -> "truncate"))
  }

  /** Scoped delete: remove only rows matching `pred` — the multi-tenant-safe
    * `DELETE FROM t WHERE SOURCESYSTEM_CD IN (...)` analog
    * (reference dest/I2b2QueryResultsHandler.java:1045-1093, RemoveMethod.DELETE).
    * Copy-on-write: only files that actually contain matching rows are rewritten.
    */
  def deleteWhere(table: LakeTable, pred: Column): Long = {
    // Normalize NULL predicates ONCE (SQL DELETE semantics: NULL = no match, row
    // kept) and use the same normalized form for bucket selection and the kept
    // filter — otherwise a NULL-pred row is deleted only when it shares a bucket
    // with a true match (inconsistent, bucket-dependent results).
    val p = coalesce(pred, lit(false))
    val s = table.snapshot
    val cur = CdcMerge.resolve(table.read())
    val hit = cur.filter(p && !col("_deleted"))
      .select(table.bucketOf(col("conv_id")).as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
    if (hit.isEmpty) return 0L
    // resolve first (under merge-on-read a key may have stale versions in older
    // files — rewriting unresolved rows would resurrect them), keep tombstones
    val live = sum(when(!col("_deleted"), 1L).otherwise(0L))
    val beforeObs = new org.apache.spark.sql.Observation()
    val keptObs = new org.apache.spark.sql.Observation()
    val before = CdcMerge.resolve(table.readBuckets(hit))
      .observe(beforeObs, live.as("live"))
    val kept = before.filter(col("_deleted") || !p).observe(keptObs, live.as("live"))
    val newFiles = table.writeDataFiles(kept, s.version + 1, s.currentSchemaId)
    // both observations resolved by the write job — no extra count() scans
    def liveOf(o: org.apache.spark.sql.Observation): Long =
      o.get.get("live").flatMap(Option(_)).map(_.asInstanceOf[Long]).getOrElse(0L)
    val removed = liveOf(beforeObs) - liveOf(keptObs)
    val carried = s.files.filterNot(f => hit.contains(f.bucket))
    table.commit(carried ++ newFiles, s.schemas, s.currentSchemaId, s.applied,
      Map("graft.operation" -> "delete", "graft.rowsDeleted" -> removed.toString))
    removed
  }

  /** Compaction: rewrite every bucket into few files on the CURRENT schema, purging
    * delete tombstones whose `_lsn` is below `purgeTombstonesBelow` (safe once no
    * change event with a smaller LSN can still arrive — e.g. the source's retention
    * watermark). Reference analog: rebuild-indexes-after-bulk-load housekeeping
    * (reference dest/I2b2QueryResultsHandler.java:1116-1139); Iceberg analog:
    * rewrite_data_files.
    */
  def compact(table: LakeTable, purgeTombstonesBelow: Long = Long.MinValue): Unit =
    rewrite(table, table.numBuckets, purgeTombstonesBelow,
      Map("graft.operation" -> "compact",
          "graft.purgeBelow" -> purgeTombstonesBelow.toString))

  /** Rebucket: rewrite the table under a NEW bucket count and commit it
    * atomically — the 100-TB growth migration (more buckets → one bucket's
    * rewrite stays executor-sized; see lake.scala scale notes). Resolves
    * version chains like compact and optionally purges old tombstones; the
    * epoch ledger carries over, so streaming resumes exactly-once against the
    * rebucketed table. */
  def rebucket(table: LakeTable, newBuckets: Int,
               purgeTombstonesBelow: Long = Long.MinValue): Unit = {
    require(newBuckets > 0, s"newBuckets must be positive: $newBuckets")
    rewrite(table, newBuckets, purgeTombstonesBelow,
      Map("graft.operation" -> "rebucket", "graft.numBuckets" -> newBuckets.toString))
  }

  /** Rewrite the whole table LWW-resolved, one file per bucket under
    * `numBuckets`, dropping tombstones below `purgeBelow`; the epoch ledger
    * carries over. */
  private def rewrite(table: LakeTable, numBuckets: Int, purgeBelow: Long,
                      summary: Map[String, String]): Unit = {
    val s = table.snapshot
    val all = CdcMerge.resolve(table.read())
      .filter(!(col("_deleted") && col("_lsn") < purgeBelow))
    val newFiles = table.writeDataFiles(all, s.version + 1, s.currentSchemaId, numBuckets)
    table.commit(newFiles, s.schemas, s.currentSchemaId, s.applied, summary,
      newNumBuckets = Some(numBuckets))
  }

  /** Garbage-collect data files referenced by NO snapshot (crash orphans) or only by
    * snapshots older than the latest `keepSnapshots`, plus segment manifests
    * (`seg_*.json`) those kept snapshots no longer reference — expired
    * snapshots stay listed in history but their vacuumed segments read as
    * empty. Returns deleted file count (data + segment manifests). */
  def vacuum(table: LakeTable, keepSnapshots: Int = 3): Int = {
    val fs = table.fs
    val kept = LakeTable.newest(table.dir, keepSnapshots, fs)
    val live = kept.flatMap(_.files.map(_.path)).toSet
    val dataDir = s"${table.dir}/data"
    val data = if (fs.isDirectory(dataDir)) fs.list(dataDir).map(_.getPath) else Nil
    val liveSegs = kept.flatMap(_.segments.toList.flatten.map(_.path)).toSet
    // listings leave out `.crc` sidecars and a delete removes a file's own:
    // the count is data files and segment manifests
    val dead = data.filterNot(p => live.contains(s"data/${p.getName}")) ++
      fs.list(s"${table.dir}/_manifests").map(_.getPath)
        .filter(p => p.getName.startsWith("seg_") && !liveSegs.contains(p.getName))
    dead.foreach(p => fs.delete(p.toString))
    dead.size
  }
}
