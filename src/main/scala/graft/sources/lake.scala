package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Options, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata,
  HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** The lake's driver-side file operations: manifest commits, data-file
  * moves, the near-dup index ledger and vacuum's deletes. Executors write the
  * data files through Spark's own Hadoop IO; these run on the driver, through
  * the Hadoop FileSystem of each path, built from the session's Hadoop conf —
  * the FileSystem Spark's writes use ([[GraftLocalFileSystem]] on a local
  * session, HDFS, ABFS or GCS elsewhere). The checksummed local FileSystem
  * writes a `.crc` sidecar beside each file, moves it with a rename and
  * removes it with a delete; listings leave sidecars out.
  *
  * S3 note: S3 has no atomic rename — there, the commit point should move to
  * a conditional PUT (If-None-Match) of the manifest object or a small
  * catalog/DynamoDB lock, exactly the Iceberg catalog pattern;
  * [[writeStringAtomic]] is the only call that needs swapping. */
private[graft] final class HadoopLakeIO(val conf: Configuration) {
  private def fs(p: HPath): FileSystem = p.getFileSystem(conf)
  def mkdirs(dir: String): Unit = { val p = new HPath(dir); fs(p).mkdirs(p); () }
  def isDirectory(path: String): Boolean = status(path).exists(_.isDirectory)
  def exists(path: String): Boolean = status(path).isDefined
  def status(path: String): Option[FileStatus] = {
    val p = new HPath(path)
    try Some(fs(p).getFileStatus(p)) catch { case _: java.io.FileNotFoundException => None }
  }
  /** The directory's direct children (not recursive). Their paths are full
    * URIs: a child resolved against the default filesystem instead would be
    * moved or deleted on the wrong one. */
  def list(dir: String): Seq[FileStatus] = { val p = new HPath(dir); fs(p).listStatus(p).toSeq }
  /** The file's content, or None if it does not exist. */
  def readString(path: String): Option[String] = {
    val p = new HPath(path)
    val in = try fs(p).open(p) catch { case _: java.io.FileNotFoundException => return None }
    try Some(new String(in.readAllBytes(), UTF_8)) finally in.close()
  }
  private def writeTemp(target: HPath, content: String): HPath = {
    val tmp = new HPath(target.getParent, "." + target.getName + ".tmp")
    val out = fs(tmp).create(tmp, true)
    try out.write(content.getBytes(UTF_8)) finally out.close()
    tmp
  }
  /** Write via a temp sibling + atomic rename; fails if `path` exists (the
    * optimistic-concurrency commit point). */
  def writeStringAtomic(path: String, content: String): Unit = {
    val target = new HPath(path)
    if (exists(path)) throw new IllegalStateException(s"concurrent commit: $target already exists")
    val tmp = writeTemp(target, content)
    if (!fs(target).rename(tmp, target))
      throw new IllegalStateException(s"commit rename failed: $tmp -> $target")
  }
  /** Write via a temp sibling + atomic rename, REPLACING any existing file —
    * for single-writer pointers (the near-dup index ledger) where the newest
    * value wins; manifests keep the fail-if-exists commit point. */
  def replaceStringAtomic(path: String, content: String): Unit = {
    val target = new HPath(path)
    val tmp = writeTemp(target, content)
    // a local rename replaces the target atomically; HDFS and most object
    // store drivers refuse an existing target, and FileContext's OVERWRITE
    // rename is their atomic replace
    if (!fs(target).rename(tmp, target))
      FileContext.getFileContext(target.toUri, conf).rename(tmp, target, Options.Rename.OVERWRITE)
  }
  def move(src: String, dst: String): Unit = {
    val (s, d) = (new HPath(src), new HPath(dst))
    if (!fs(s).rename(s, d)) throw new IllegalStateException(s"rename failed: $src -> $dst")
  }
  def delete(path: String): Unit = { val p = new HPath(path); fs(p).delete(p, false); () }
  def deleteRecursively(path: String): Unit = { val p = new HPath(path); fs(p).delete(p, true); () }
}

private[graft] object HadoopLakeIO {
  def apply(spark: SparkSession): HadoopLakeIO =
    new HadoopLakeIO(spark.sessionState.newHadoopConf())
}

/** One committed data file. `path` is relative to the table root; `bucket` is the
  * hash bucket of every `conv_id` in the file (file-level pruning key); `schemaId`
  * indexes into the snapshot's schema registry (files written before a schema
  * evolution keep their original physical schema — evolution never rewrites data);
  * `rows` is the file's physical row count (from its parquet footer at commit
  * time, or from the merge-on-read merge's per-bucket stats — includes
  * tombstones and superseded merge-on-read versions, so it is a file-size
  * statistic, not the table's live-row count). */
final case class FileEntry(path: String, bucket: Int, schemaId: Int, rows: Long)

/** Reference to one immutable SEGMENT manifest: the file list of one bucket
  * range, stored as its own JSON (`_manifests/seg_v<ver>_<segId>.json`) and
  * REUSED by later snapshots whose commits did not touch that range — the
  * Iceberg manifest-list pattern that keeps commit IO O(touched ranges), not
  * O(all files). */
final case class SegmentRef(path: String, segId: Int)

/** An immutable table snapshot, stored as one JSON manifest per version.
  *
  * `applied` maps streaming query-id → highest epoch already merged: the
  * exactly-once ledger. Reference analog: `UPLOAD_ID` stamped on every staged row and
  * passed to every merge procedure (reference dest/I2b2QueryResultsHandler.java:169-170, 516);
  * Iceberg analog: snapshot summary properties.
  *
  * Below [[LakeTable.DefaultSegmentThreshold]] files, `files` is inlined in the
  * snapshot JSON (one read, simplest to debug). Above it, the snapshot JSON
  * carries `segments` refs instead (files = Nil on disk) and the loader
  * reconstitutes `files` from the segment manifests — in memory the two forms
  * are identical, and `segments` stays populated so the next commit can reuse
  * untouched segment files by reference.
  */
final case class Snapshot(
    version: Long,
    numBuckets: Int,
    currentSchemaId: Int,
    schemas: Map[String, String], // schemaId (as string) -> StructType.json
    files: List[FileEntry],
    applied: Map[String, Long],
    summary: Map[String, String],
    segments: Option[List[SegmentRef]] = None
) {
  def schema: StructType =
    DataType.fromJson(schemas(currentSchemaId.toString)).asInstanceOf[StructType]
  def schemaFor(id: Int): StructType =
    DataType.fromJson(schemas(id.toString)).asInstanceOf[StructType]
}

/** The file list of one scan, taken from a snapshot manifest: the
  * [[FileIndex]] behind every [[LakeTable]] read. Nothing is listed — the
  * statuses come from per-file `getFileStatus` calls — and nothing is
  * partition-discovered (data file paths carry no `k=v` directories). Equal
  * by file set, as `InMemoryFileIndex` is by root paths, so two reads of one
  * snapshot plan to equal relations: a `persist()`ed read is found by the
  * cache manager and repeated scans share exchanges. */
private[sources] final class ManifestFileIndex(files: Seq[FileStatus]) extends FileIndex {
  private val paths: Set[HPath] = files.map(_.getPath).toSet
  def rootPaths: Seq[HPath] = files.map(_.getPath)
  def listFiles(partitionFilters: Seq[Expression],
                dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty, files.map(FileStatusWithMetadata(_))))
  def inputFiles: Array[String] = files.map(_.getPath.toString).toArray
  def refresh(): Unit = () // a manifest's file set never changes
  def sizeInBytes: Long = files.map(_.getLen).sum
  def partitionSchema: StructType = new StructType()
  override def equals(other: Any): Boolean = other match {
    case m: ManifestFileIndex => paths == m.paths
    case _ => false
  }
  override def hashCode(): Int = paths.hashCode()
  override def toString: String = s"ManifestFileIndex(${files.size} files)"
}

/** Minimal Iceberg-style table: Parquet data files + atomically committed JSON
  * manifests (snapshot isolation, time travel, schema evolution, idempotent-commit
  * ledger). Built because no Iceberg runtime jar ships in /opt/spark/jars; the
  * surface mirrors what the engine needs from Iceberg (SURVEY.md §7.3.5).
  *
  * Layout:
  * {{{
  *   <dir>/_manifests/v00000001.json      // one per snapshot; latest = max version
  *   <dir>/data/e<ver>_b<bucket>_<n>.parquet
  *   <dir>/_lineage/..., <dir>/_rejects/...   // sibling metric tables (CdcMerge)
  * }}}
  *
  * Commit = write temp manifest + atomic rename; readers only ever see fully
  * committed versions, and a read is PLANNED FROM THE MANIFEST, never listed:
  * the snapshot names every file, so a scan is built from one `getFileStatus`
  * per named file ([[ManifestFileIndex]]) with no directory listing and no
  * Spark file-listing job; crash mid-write leaves orphan data files that no manifest
  * references (harmless; compaction may GC them). Single-writer, like one streaming
  * query per table — matching the reference's one-load-at-a-time design
  * (reference dest/I2b2QueryResultsHandler.java:318-703).
  *
  * The table owns its file layout: [[writeDataFiles]] is the one writer of
  * data files (the merge, `deleteWhere`, `compact` and `rebucket` hand it
  * rows, it buckets and partitions them), and callers name a row's bucket
  * only through [[bucketOf]].
  *
  * Scale notes: `bucket = pmod(xxhash64(conv_id), numBuckets)` gives file-level
  * pruning for the MERGE (only buckets present in a batch are read/rewritten);
  * at 100 TB raise `numBuckets` (e.g. 4096) so a bucket rewrite fits an executor.
  * Driver-side file operations go through [[HadoopLakeIO]]. Manifests are two-level
  * above [[LakeTable.DefaultSegmentThreshold]] files: the snapshot JSON refs
  * per-bucket-range SEGMENT manifests and untouched ranges carry over by
  * reference, keeping commit IO O(touched ranges), not O(files) — the
  * Iceberg manifest-list pattern (see README "Commit path & object stores").
  */
final class LakeTable(val spark: SparkSession, val dir: String) {
  import LakeTable._

  private[graft] val fs: HadoopLakeIO = HadoopLakeIO(spark)

  private var snap: Snapshot = loadLatest(dir, fs).getOrElse(
    throw new IllegalStateException(s"no manifest under $dir"))

  def snapshot: Snapshot = snap
  def refresh(): Snapshot = { snap = loadLatest(dir, fs).get; snap }
  def schema: StructType = snap.schema
  def numBuckets: Int = snap.numBuckets
  def appliedEpoch(queryId: String): Long = snap.applied.getOrElse(queryId, -1L)

  /** The bucket [[writeDataFiles]] files a `conv_id` under, at the current
    * bucket count. */
  def bucketOf(c: Column): Column = bucketCol(c, snap.numBuckets)

  /** Read the current snapshot, aligned to the current schema. */
  def read(): DataFrame = readFiles(snap, snap.files)

  /** Read only the given buckets' files (file-level pruning for MERGE). */
  def readBuckets(buckets: Set[Int]): DataFrame =
    readFiles(snap, snap.files.filter(f => buckets.contains(f.bucket)))

  /** TIME-TRAVEL read: the table exactly as committed at `version`, aligned to
    * THAT snapshot's current schema (a reader at commit time saw this frame,
    * including columns a later evolution renamed away). Snapshot isolation
    * makes this free — a committed manifest is immutable and its data files
    * are never rewritten in place — until `Maintain.vacuum` expires the old
    * version, after which this throws (segment manifest or data files GC'd). */
  def readAsOf(version: Long): DataFrame = {
    val s = snapshotAt(version)
    readFiles(s, s.files)
  }

  /** One-scan CHANGE-FEED read: every row of the two snapshots' file-set
    * union, each file read ONCE and its rows tagged with boolean `_in1` /
    * `_in2` membership columns — a row from a file both manifests list
    * belongs to both generations (under merge-on-read v1's files are mostly a
    * prefix of v2's, which a two-readAsOf union would scan twice). The union
    * is three file groups — only in v1, in both, only in v2 — each read with
    * the tags as literals and aligned to v2's current schema. Evolution only
    * appends nullable columns and widens numbers (plans/evolve.scala), so a
    * v1 row aligned to v2's schema carries the values it had at v1: the same
    * frame as aligning each generation to its own schema, then unioning. */
  def readVersionsTagged(v1: Long, v2: Long): DataFrame = {
    val s1 = snapshotAt(v1)
    val s2 = snapshotAt(v2)
    s1.files.map(_.schemaId).distinct.foreach { id =>
      require(s2.schemas.get(id.toString) == s1.schemas.get(id.toString),
        s"v$v2 does not define schema $id as v$v1 does, which v$v1's files use")
    }
    val in1 = s1.files.map(_.path).toSet
    val in2 = s2.files.map(_.path).toSet
    Seq((s1.files.filterNot(f => in2(f.path)), true, false),
        (s2.files.filter(f => in1(f.path)), true, true),
        (s2.files.filterNot(f => in1(f.path)), false, true))
      .map { case (files, a, b) =>
        readFiles(s2, files).withColumn("_in1", lit(a)).withColumn("_in2", lit(b))
      }.reduce(_.unionByName(_))
  }

  /** The committed snapshot metadata at `version` (strict: every segment
    * manifest must still exist). */
  def snapshotAt(version: Long): Snapshot =
    loadVersion(dir, version, fs).getOrElse(throw new IllegalStateException(
      s"no committed snapshot v$version under $dir (never committed, or vacuumed)"))

  private def readFiles(s: Snapshot, files: List[FileEntry]): DataFrame = {
    val cur = s.schema
    if (files.isEmpty) return spark.createDataFrame(List.empty[org.apache.spark.sql.Row].asJava, cur)
    val statuses = fileStatuses(files, s"v${s.version}")
    // Files are grouped by physical schema and each group is read with its EXACT
    // written schema, then cast/realigned — old int32 files stay readable after a
    // widen-to-long evolution without relying on reader-side type promotion.
    files.groupBy(_.schemaId).map { case (sid, group) =>
      align(scan(s.schemaFor(sid), group.map(f => statuses(f.path))), cur)
    }.reduce(_.unionByName(_))
  }

  /** Status of every listed file, keyed by manifest path: one driver-side
    * `getFileStatus` per file, run CONCURRENTLY like [[writeDataFiles]]' footer
    * reads. Reads are planned from the manifest, never listed — the snapshot
    * already names every file, so no directory listing and no Spark
    * file-listing job runs (`spark.read.parquet(paths)` starts one task per
    * path above `spark.sql.sources.parallelPartitionDiscovery.threshold`).
    * Fails loudly if any file is gone (vacuum expired the snapshot under this
    * reader): a scan-time path error — or, under
    * spark.sql.files.ignoreMissingFiles=true, a silently PARTIAL state — would
    * be worse. */
  private def fileStatuses(files: List[FileEntry], tag: String): Map[String, FileStatus] = {
    import scala.collection.parallel.CollectionConverters._
    val found = files.map(_.path).distinct.par.map(rel => rel -> fs.status(s"$dir/$rel")).toList
    val missing = found.count(_._2.isEmpty)
    if (missing > 0) throw new IllegalStateException(
      s"snapshot $tag references $missing data file(s) already vacuumed")
    found.map { case (rel, st) => rel -> st.get }.toMap
  }

  /** A parquet scan of exactly `files`, read with `schema`: the relation
    * `spark.read.schema(schema).parquet(paths)` would build, over a
    * [[ManifestFileIndex]] instead of a listing one. */
  private def scan(schema: StructType, files: Seq[FileStatus]): DataFrame =
    spark.baseRelationToDataFrame(HadoopFsRelation(new ManifestFileIndex(files),
      new StructType(), nullable(schema).asInstanceOf[StructType], None,
      new ParquetFileFormat, Map.empty)(spark))

  /** Write `rows` as new data files under `numBuckets`; returns their
    * FileEntry list. Not yet committed. The table owns the layout: every row
    * goes to bucket [[LakeTable.bucketCol]] of its `conv_id` (a `_gbucket`
    * column already in `rows` is replaced), and each bucket is written by
    * exactly one task, so a call writes one file per bucket it holds rows
    * for. `bucketRows` is the caller's count of `rows` per bucket, when it
    * already has one (the merge-on-read merge's stats): a bucket written as
    * exactly one file takes its `rows` from there; every other file's
    * `rows` comes from its parquet footer. */
  def writeDataFiles(rows: DataFrame, version: Long, schemaId: Int,
                     numBuckets: Int = snap.numBuckets,
                     bucketRows: Map[Int, Long] = Map.empty): List[FileEntry] = {
    val tmp = s"$dir/_tmp_e$version"
    // Pinned partition count for the pre-write shuffle: without it AQE
    // coalesces this exchange to ~64MB partitions and the parquet write
    // serializes onto 1-2 tasks — measured as flat N→4N scaling.
    // = shuffle.partitions, NOT max(·, buckets): partitionBy splits each
    // task's output per bucket anyway, so file count stays one per bucket
    // while task count tracks the cluster size (64 tasks on 2 cores is pure
    // overhead).
    val parallelism = spark.conf.get("spark.sql.shuffle.partitions").toInt
    rows.withColumn("_gbucket", bucketCol(col("conv_id"), numBuckets))
      .repartition(parallelism, col("_gbucket"))
      .write.mode("overwrite").partitionBy("_gbucket").parquet(tmp)
    fs.mkdirs(s"$dir/data")
    val entries = scala.collection.mutable.ListBuffer[FileEntry]()
    fs.list(tmp)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("_gbucket="))
      .foreach { bdir =>
        val bucket = bdir.getPath.getName.stripPrefix("_gbucket=").toInt
        val files = fs.list(bdir.getPath.toString).map(_.getPath)
          .filter(_.getName.endsWith(".parquet"))
        val known = if (files.size == 1) bucketRows.getOrElse(bucket, -1L) else -1L
        files.zipWithIndex.foreach { case (f, i) =>
          val name = f"data/e${version}_b${bucket}_$i%05d.parquet"
          // a file already at this name is an orphan of a failed attempt at
          // this uncommitted version (a redelivered epoch reuses it); HDFS
          // and object stores refuse to rename onto it
          fs.delete(s"$dir/$name")
          fs.move(f.toString, s"$dir/$name")
          entries += FileEntry(name, bucket, schemaId, known)
        }
      }
    fs.deleteRecursively(tmp)
    // footer reads run CONCURRENTLY (one small metadata read per file): done
    // serially they would add O(files) driver latency to every commit — a
    // fixed per-epoch cost that taxes high-parallelism replay epochs hardest
    import scala.collection.parallel.CollectionConverters._
    entries.toList.par.map { e =>
      if (e.rows >= 0) e else e.copy(rows = parquetRows(s"$dir/${e.path}"))
    }.toList
  }

  /** Physical row count from the parquet footer (one small metadata read per
    * committed file — the same stat Iceberg carries per data file; lets readers
    * size buckets and plan compaction without opening data pages). */
  private def parquetRows(path: String): Long = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val in = HadoopInputFile.fromPath(new HPath(path), fs.conf)
    scala.util.Using.resource(ParquetFileReader.open(in))(_.getRecordCount)
  }

  /** Sum of committed files' physical rows (tombstones + superseded versions
    * included — see [[FileEntry.rows]]). */
  def physicalRows: Long = snap.files.map(_.rows).sum

  /** Atomically commit a new snapshot. `newNumBuckets` changes the table's
    * bucket count (rebucketing — every committed file must already be written
    * under the new bucketing; see Maintain.rebucket). Above the segmentation
    * threshold the file list is split into bucket-range SEGMENT manifests and
    * untouched segments are carried by reference — commit IO stays O(touched
    * ranges + segments), not O(files). */
  def commit(files: List[FileEntry], schemas: Map[String, String], currentSchemaId: Int,
             applied: Map[String, Long], summary: Map[String, String],
             newNumBuckets: Option[Int] = None): Snapshot = {
    val next = snap.copy(
      version = snap.version + 1,
      numBuckets = newNumBuckets.getOrElse(snap.numBuckets),
      currentSchemaId = currentSchemaId,
      schemas = schemas,
      files = files,
      applied = applied,
      summary = summary,
      segments = None)
    val threshold = spark.conf.getOption("spark.graft.manifest.segmentThreshold")
      .map(_.toInt).getOrElse(LakeTable.DefaultSegmentThreshold)
    snap = writeManifest(dir, next, fs, prev = Some(snap), segmentThreshold = threshold)
    snap
  }
}

object LakeTable {
  import org.json4s._
  import org.json4s.jackson.Serialization
  private implicit val fmts: Formats = Serialization.formats(NoTypeHints)

  def bucketCol(c: Column, numBuckets: Int): Column = pmod(xxhash64(c), lit(numBuckets)).cast("int")

  private def manifestDir(dir: String): String = s"$dir/_manifests"

  /** A snapshot manifest is committed under `dir` (none is read). */
  def exists(spark: SparkSession, dir: String): Boolean =
    versionFiles(dir, HadoopLakeIO(spark)).nonEmpty

  def create(spark: SparkSession, dir: String, schema: StructType,
             numBuckets: Int = 64): LakeTable = {
    val fs = HadoopLakeIO(spark)
    fs.mkdirs(manifestDir(dir))
    val snap = Snapshot(1L, numBuckets, 0, Map("0" -> schema.json), Nil, Map.empty,
      Map("graft.operation" -> "create"))
    writeManifest(dir, snap, fs)
    new LakeTable(spark, dir)
  }

  def load(spark: SparkSession, dir: String): LakeTable = new LakeTable(spark, dir)

  def loadOrCreate(spark: SparkSession, dir: String, schema: StructType,
                   numBuckets: Int = 64): LakeTable =
    if (exists(spark, dir)) load(spark, dir) else create(spark, dir, schema, numBuckets)

  /** Below this many files the file list inlines into the snapshot JSON; at or
    * above it, commits write bucket-range segment manifests and reuse
    * untouched ones by reference (override per session with
    * `spark.graft.manifest.segmentThreshold`). 512 keeps small tables
    * single-read while capping any one commit's manifest IO at roughly
    * (files/64 + 64) JSON entries. */
  val DefaultSegmentThreshold: Int = 512

  /** Bucket-range segment count: 64 ranges (or one per bucket below 64). */
  private def segCount(numBuckets: Int): Int = math.min(64, math.max(1, numBuckets))
  private def segOf(bucket: Int, numBuckets: Int): Int =
    bucket * segCount(numBuckets) / math.max(1, numBuckets)

  /** Write a snapshot manifest; returns the snapshot AS LOADED (segments
    * populated when segmented, full `files` either way) so the caller can keep
    * it in memory for the next commit's segment reuse. Segment manifests are
    * written BEFORE the snapshot rename (the commit point); a crash in between
    * leaves orphan seg files that vacuum GCs. */
  private def writeManifest(dir: String, snap: Snapshot, fs: HadoopLakeIO,
                            prev: Option[Snapshot] = None,
                            segmentThreshold: Int = DefaultSegmentThreshold): Snapshot = {
    val md = manifestDir(dir)
    val enriched = if (snap.files.size < segmentThreshold) snap
    else {
      val grouped = snap.files.groupBy(f => segOf(f.bucket, snap.numBuckets))
      // previous snapshot's per-segment composition — reusable only while the
      // bucket count (and so the range partitioning) is unchanged
      val prevSegs: Map[Int, (SegmentRef, Set[FileEntry])] = prev match {
        case Some(p) if p.numBuckets == snap.numBuckets && p.segments.isDefined =>
          val byId = p.files.groupBy(f => segOf(f.bucket, p.numBuckets))
          p.segments.get.map(r => r.segId ->
            ((r, byId.getOrElse(r.segId, Nil).toSet))).toMap
        case _ => Map.empty
      }
      val refs = grouped.toList.sortBy(_._1).map { case (segId, files) =>
        prevSegs.get(segId) match {
          case Some((ref, prevSet)) if prevSet == files.toSet => ref
          case _ =>
            val name = f"seg_v${snap.version}%08d_$segId%04d.json"
            // a file already at this name is a CRASH ORPHAN: its version was
            // never committed (loadLatest would have returned it otherwise),
            // so the retried commit may overwrite it — fail-if-exists is the
            // SNAPSHOT manifest's contract (the commit point), not a segment's
            fs.delete(s"$md/$name")
            fs.writeStringAtomic(s"$md/$name", Serialization.write(files.sortBy(_.path)))
            SegmentRef(name, segId)
        }
      }
      snap.copy(segments = Some(refs))
    }
    val onDisk = if (enriched.segments.isDefined) enriched.copy(files = Nil) else enriched
    fs.writeStringAtomic(f"$md/v${snap.version}%08d.json", Serialization.write(onDisk))
    enriched
  }

  /** Reconstitute a snapshot's file list from its segment manifests. `strict`
    * loads must find every segment; lenient loads (history over vacuumed
    * snapshots) skip missing ones. */
  private def reconstitute(dir: String, s: Snapshot, fs: HadoopLakeIO,
                           strict: Boolean): Snapshot = s.segments match {
    case None => s
    case Some(refs) =>
      val md = manifestDir(dir)
      val files = refs.flatMap { r =>
        val p = s"$md/${r.path}"
        fs.readString(p) match {
          case Some(json) => Serialization.read[List[FileEntry]](json)
          case None if strict => throw new IllegalStateException(s"missing segment manifest $p")
          case None => Nil
        }
      }
      s.copy(files = files)
  }

  /** The snapshot manifest `name` under `dir`, if it exists, with its file
    * list reconstituted. */
  private def readSnapshot(dir: String, name: String, fs: HadoopLakeIO,
                           strict: Boolean): Option[Snapshot] =
    fs.readString(s"${manifestDir(dir)}/$name")
      .map(json => reconstitute(dir, Serialization.read[Snapshot](json), fs, strict))

  /** One specific committed version, strictly reconstituted. */
  private def loadVersion(dir: String, version: Long, fs: HadoopLakeIO): Option[Snapshot] =
    readSnapshot(dir, f"v$version%08d.json", fs, strict = true)

  /** Names of the committed snapshot manifests under `dir`, oldest first. */
  private def versionFiles(dir: String, fs: HadoopLakeIO): Seq[String] = {
    val md = manifestDir(dir)
    if (!fs.isDirectory(md)) Nil
    else fs.list(md).map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".json")).sorted
  }

  private def loadLatest(dir: String, fs: HadoopLakeIO): Option[Snapshot] =
    versionFiles(dir, fs).lastOption.flatMap(readSnapshot(dir, _, fs, strict = true))

  /** All snapshots, oldest first (time travel / audit), read through the
    * active session's Hadoop conf. Lenient on segment manifests vacuum
    * already GC'd (expired snapshots list what remains). */
  def history(dir: String): Seq[Snapshot] =
    newest(dir, Int.MaxValue, HadoopLakeIO(SparkSession.active))

  /** The newest `n` snapshots of [[history]], oldest first; no older
    * manifest is read. */
  private[graft] def newest(dir: String, n: Int, fs: HadoopLakeIO): Seq[Snapshot] =
    versionFiles(dir, fs).takeRight(n).flatMap(readSnapshot(dir, _, fs, strict = false))

  /** `t` with every field, element and value nullable — what a file read
    * with a user schema sees (`DataSource` relaxes the schema the same way:
    * a parquet file's declared nullability is not trusted). */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** Cast/realign `df` to `to`: missing columns become typed nulls, common columns
    * are cast (the Catalyst-driven column mapping of the north rule). */
  def align(df: DataFrame, to: StructType): DataFrame = {
    val have = df.columns.toSet
    df.select(to.fields.toSeq.map { f =>
      if (have.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
  }
}
