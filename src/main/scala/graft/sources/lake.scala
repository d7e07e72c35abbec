package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata,
  HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Driver-side filesystem operations the lake's commit protocol needs. Executors
  * read/write data files through Spark's own Hadoop IO; only the MANIFEST
  * protocol (list, atomic rename, small JSON reads/writes) and data-file moves
  * run on the driver, and those are what this trait abstracts.
  *
  * Implementations: [[NioLakeIO]] (local filesystem, the sandbox default) and
  * [[HadoopLakeIO]] (any Hadoop FileSystem — HDFS, ABFS, GCS; rename is atomic
  * on HDFS). S3 note: S3 has no atomic rename — there, the commit point should
  * move to a conditional PUT (If-None-Match) of the manifest object or a small
  * catalog/DynamoDB lock, exactly the Iceberg catalog pattern; the single
  * `writeStringAtomic` call below is the only place that needs swapping. */
trait LakeIO {
  def mkdirs(dir: String): Unit
  def isDirectory(path: String): Boolean
  def exists(path: String): Boolean
  /** Absolute paths of the directory's direct children (not recursive). */
  def listDir(dir: String): Seq[String]
  def readString(path: String): String
  /** Write via a temp sibling + atomic rename; MUST fail if `path` exists
    * (the optimistic-concurrency commit point). */
  def writeStringAtomic(path: String, content: String): Unit
  /** Write via a temp sibling + atomic rename, REPLACING any existing file —
    * for single-writer pointers (e.g. the near-dup index ledger) where the
    * newest value wins; manifests keep the fail-if-exists commit point. */
  def replaceStringAtomic(path: String, content: String): Unit
  def move(src: String, dst: String): Unit
  def delete(path: String): Unit
  def deleteRecursively(path: String): Unit
}

/** java.nio implementation — local disks (the sandbox default). */
object NioLakeIO extends LakeIO {
  private def listPaths(p: Path): List[Path] =
    scala.util.Using.resource(Files.list(p))(_.iterator().asScala.toList)
  def mkdirs(dir: String): Unit = Files.createDirectories(Paths.get(dir))
  def isDirectory(path: String): Boolean = Files.isDirectory(Paths.get(path))
  def exists(path: String): Boolean = Files.exists(Paths.get(path))
  def listDir(dir: String): Seq[String] = listPaths(Paths.get(dir)).map(_.toString)
  def readString(path: String): String = Files.readString(Paths.get(path))
  def writeStringAtomic(path: String, content: String): Unit = {
    val target = Paths.get(path)
    if (Files.exists(target))
      throw new IllegalStateException(s"concurrent commit: $target already exists")
    val tmp = target.resolveSibling("." + target.getFileName + ".tmp")
    Files.writeString(tmp, content)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
  }
  def replaceStringAtomic(path: String, content: String): Unit = {
    val target = Paths.get(path)
    val tmp = target.resolveSibling("." + target.getFileName + ".tmp")
    Files.writeString(tmp, content)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }
  def move(src: String, dst: String): Unit =
    Files.move(Paths.get(src), Paths.get(dst), StandardCopyOption.ATOMIC_MOVE)
  def delete(path: String): Unit = Files.deleteIfExists(Paths.get(path))
  def deleteRecursively(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.isDirectory(p)) listPaths(p).foreach(c => deleteRecursively(c.toString))
    Files.deleteIfExists(p)
  }
}

/** Hadoop-FileSystem implementation — the object-store/HDFS migration path.
  * Uses the same FS drivers Spark itself writes the parquet through. */
class HadoopLakeIO(conf: org.apache.hadoop.conf.Configuration) extends LakeIO {
  import org.apache.hadoop.fs.FileSystem
  private def fs(p: String): FileSystem = new HPath(p).getFileSystem(conf)
  def mkdirs(dir: String): Unit = fs(dir).mkdirs(new HPath(dir))
  def isDirectory(path: String): Boolean = {
    val f = fs(path)
    f.exists(new HPath(path)) && f.getFileStatus(new HPath(path)).isDirectory
  }
  def exists(path: String): Boolean = fs(path).exists(new HPath(path))
  // full URI strings, NOT toUri.getPath: stripping the scheme+authority would
  // make callers (writeDataFiles' move, vacuum's delete) resolve the children
  // against the DEFAULT filesystem — wrong-FS moves/deletes on abfs/gs/s3a/HDFS
  def listDir(dir: String): Seq[String] =
    fs(dir).listStatus(new HPath(dir)).toSeq.map(_.getPath.toString)
  def readString(path: String): String = {
    val in = fs(path).open(new HPath(path))
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }
  def writeStringAtomic(path: String, content: String): Unit = {
    val f = fs(path)
    val target = new HPath(path)
    if (f.exists(target))
      throw new IllegalStateException(s"concurrent commit: $target already exists")
    val tmp = new HPath(target.getParent, "." + target.getName + ".tmp")
    val out = f.create(tmp, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (!f.rename(tmp, target))
      throw new IllegalStateException(s"commit rename failed: $tmp -> $target")
  }
  def replaceStringAtomic(path: String, content: String): Unit = {
    val f = fs(path)
    val target = new HPath(path)
    val tmp = new HPath(target.getParent, "." + target.getName + ".tmp")
    val out = f.create(tmp, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // FileContext.rename(OVERWRITE) is the atomic-replace primitive on HDFS
    // (FileSystem.rename refuses existing targets on most drivers)
    org.apache.hadoop.fs.FileContext.getFileContext(target.toUri, conf)
      .rename(tmp, target, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }
  def move(src: String, dst: String): Unit =
    if (!fs(src).rename(new HPath(src), new HPath(dst)))
      throw new IllegalStateException(s"rename failed: $src -> $dst")
  def delete(path: String): Unit = { fs(path).delete(new HPath(path), false); () }
  def deleteRecursively(path: String): Unit = { fs(path).delete(new HPath(path), true); () }
}

/** One committed data file. `path` is relative to the table root; `bucket` is the
  * hash bucket of every `conv_id` in the file (file-level pruning key); `schemaId`
  * indexes into the snapshot's schema registry (files written before a schema
  * evolution keep their original physical schema — evolution never rewrites data);
  * `rows` is the file's physical row count (from its parquet footer at commit
  * time — includes tombstones and superseded merge-on-read versions, so it is a
  * file-size statistic, not the table's live-row count). */
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
  * Scale notes: `bucket = pmod(xxhash64(conv_id), numBuckets)` gives file-level
  * pruning for the MERGE (only buckets present in a batch are read/rewritten);
  * at 100 TB raise `numBuckets` (e.g. 4096) so a bucket rewrite fits an executor.
  * Driver-side IO is abstracted behind [[LakeIO]]. Manifests are two-level
  * above [[LakeTable.DefaultSegmentThreshold]] files: the snapshot JSON refs
  * per-bucket-range SEGMENT manifests and untouched ranges carry over by
  * reference, keeping commit IO O(touched ranges), not O(files) — the
  * Iceberg manifest-list pattern (see README "Commit path & object stores").
  */
final class LakeTable(val spark: SparkSession, val dir: String,
                      val io: LakeIO = NioLakeIO) {
  import LakeTable._

  private var snap: Snapshot = loadLatest(dir, io).getOrElse(
    throw new IllegalStateException(s"no manifest under $dir"))

  def snapshot: Snapshot = snap
  def refresh(): Snapshot = { snap = loadLatest(dir, io).get; snap }
  def schema: StructType = snap.schema
  def numBuckets: Int = snap.numBuckets
  def appliedEpoch(queryId: String): Long = snap.applied.getOrElse(queryId, -1L)

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

  /** One-scan CHANGE-FEED read (round-6 optimization, guide §1.2 "remove
    * passes"): the UNION of two snapshots' file sets is read ONCE, each row
    * tagged with boolean `_in1` / `_in2` membership columns derived from its
    * file's presence in the respective manifest. Under merge-on-read v1's
    * files are typically a shared prefix of v2's, which the old two-readAsOf
    * union scanned TWICE. File names are unique table-wide
    * (`data/e<version>_b<bucket>_<n>.parquet`), so membership keys on the
    * basename via a broadcast (name, _in1, _in2) table — no extra shuffle.
    * Returns None when a schema evolution lies between the versions
    * (different current schema, or a schema id whose definition changed) —
    * callers then fall back to the two-read union, which aligns each
    * generation to its own snapshot schema. */
  def readVersionsTagged(v1: Long, v2: Long): Option[DataFrame] = {
    val s1 = snapshotAt(v1)
    val s2 = snapshotAt(v2)
    val compatible = s1.currentSchemaId == s2.currentSchemaId &&
      s1.schemas.forall { case (k, v) => s2.schemas.get(k).contains(v) }
    if (!compatible) return None
    val f1 = s1.files.map(_.path).toSet
    val f2 = s2.files.map(_.path).toSet
    val union = s1.files ++ s2.files.filterNot(f => f1.contains(f.path))
    if (union.isEmpty) return Some(
      align(spark.createDataFrame(List.empty[org.apache.spark.sql.Row].asJava,
          s2.schema), s2.schema)
        .withColumn("_in1", lit(false)).withColumn("_in2", lit(false)))
    val statuses = fileStatuses(union, s"v$v1/v$v2")
    def base(p: String) = p.split('/').last
    val names = spark.createDataFrame(union.map(f =>
      org.apache.spark.sql.Row(base(f.path), f1.contains(f.path), f2.contains(f.path))).asJava,
      StructType(Seq(
        org.apache.spark.sql.types.StructField("_gfile", org.apache.spark.sql.types.StringType, false),
        org.apache.spark.sql.types.StructField("_in1", org.apache.spark.sql.types.BooleanType, false),
        org.apache.spark.sql.types.StructField("_in2", org.apache.spark.sql.types.BooleanType, false))))
    val cur = s2.schema
    val tagged = union.groupBy(_.schemaId).map { case (sid, group) =>
      val g = scan(s2.schemaFor(sid), group.map(f => statuses(f.path)))
      val have = g.columns.toSet
      // align to the current schema INLINE so the _metadata file column can
      // ride along (the align() helper projects it away)
      g.select(cur.fields.toSeq.map { fl =>
        if (have.contains(fl.name)) col(fl.name).cast(fl.dataType).as(fl.name)
        else lit(null).cast(fl.dataType).as(fl.name)
      } :+ element_at(split(col("_metadata.file_path"), "/"), -1).as("_gfile"): _*)
    }.reduce(_.unionByName(_))
    Some(tagged.join(broadcast(names), "_gfile").drop("_gfile"))
  }

  /** The committed snapshot metadata at `version` (strict: every segment
    * manifest must still exist). */
  def snapshotAt(version: Long): Snapshot =
    loadVersion(dir, version, io).getOrElse(throw new IllegalStateException(
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
    val conf = spark.sessionState.newHadoopConf() // once, outside the par loop
    val found = files.map(_.path).distinct.par.map { rel =>
      val p = new HPath(s"$dir/$rel")
      rel -> (try Some(p.getFileSystem(conf).getFileStatus(p))
              catch { case _: java.io.FileNotFoundException => None })
    }.toList
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

  /** Write `df` (which must contain a `_gbucket` int column) as new data files;
    * returns the FileEntry list. Not yet committed. */
  def writeDataFiles(df: DataFrame, version: Long, schemaId: Int): List[FileEntry] = {
    val tmp = s"$dir/_tmp_e$version"
    df.write.mode("overwrite").partitionBy("_gbucket").parquet(tmp)
    io.mkdirs(s"$dir/data")
    val entries = scala.collection.mutable.ListBuffer[FileEntry]()
    io.listDir(tmp)
      .filter(p => io.isDirectory(p) && baseName(p).startsWith("_gbucket="))
      .foreach { bdir =>
        val bucket = baseName(bdir).stripPrefix("_gbucket=").toInt
        io.listDir(bdir)
          .filter(f => baseName(f).endsWith(".parquet")).zipWithIndex
          .foreach { case (f, i) =>
            val name = f"data/e${version}_b${bucket}_$i%05d.parquet"
            io.move(f, s"$dir/$name")
            entries += FileEntry(name, bucket, schemaId, -1L)
          }
      }
    io.deleteRecursively(tmp)
    // footer reads run CONCURRENTLY (one small metadata read per file): done
    // serially they would add O(files) driver latency to every commit — a
    // fixed per-epoch cost that taxes high-parallelism replay epochs hardest
    import scala.collection.parallel.CollectionConverters._
    val conf = spark.sessionState.newHadoopConf() // once, outside the par loop
    entries.toList.par.map(e => e.copy(rows = parquetRows(conf, s"$dir/${e.path}"))).toList
  }

  /** Physical row count from the parquet footer (one small metadata read per
    * committed file — the same stat Iceberg carries per data file; lets readers
    * size buckets and plan compaction without opening data pages). */
  private def parquetRows(conf: org.apache.hadoop.conf.Configuration,
                          path: String): Long = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val in = HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(path), conf)
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
    snap = writeManifest(dir, next, io, prev = Some(snap), segmentThreshold = threshold)
    snap
  }
}

object LakeTable {
  import org.json4s._
  import org.json4s.jackson.Serialization
  private implicit val fmts: Formats = Serialization.formats(NoTypeHints)

  private def baseName(p: String): String = p.split('/').last

  def bucketCol(c: Column, numBuckets: Int): Column = pmod(xxhash64(c), lit(numBuckets)).cast("int")

  private def manifestDir(dir: String): String = s"$dir/_manifests"

  def exists(dir: String, io: LakeIO = NioLakeIO): Boolean =
    io.isDirectory(manifestDir(dir)) && loadLatest(dir, io).isDefined

  def create(spark: SparkSession, dir: String, schema: StructType,
             numBuckets: Int = 64, io: LakeIO = NioLakeIO): LakeTable = {
    io.mkdirs(manifestDir(dir))
    val snap = Snapshot(1L, numBuckets, 0, Map("0" -> schema.json), Nil, Map.empty,
      Map("graft.operation" -> "create"))
    writeManifest(dir, snap, io)
    new LakeTable(spark, dir, io)
  }

  def load(spark: SparkSession, dir: String, io: LakeIO = NioLakeIO): LakeTable =
    new LakeTable(spark, dir, io)

  def loadOrCreate(spark: SparkSession, dir: String, schema: StructType,
                   numBuckets: Int = 64, io: LakeIO = NioLakeIO): LakeTable =
    if (exists(dir, io)) load(spark, dir, io) else create(spark, dir, schema, numBuckets, io)

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
  private[sources] def writeManifest(dir: String, snap: Snapshot, io: LakeIO,
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
      val refs = grouped.toList.sortBy(_._1).map { case (segId, fs) =>
        prevSegs.get(segId) match {
          case Some((ref, prevSet)) if prevSet == fs.toSet => ref
          case _ =>
            val name = f"seg_v${snap.version}%08d_$segId%04d.json"
            // a file already at this name is a CRASH ORPHAN: its version was
            // never committed (loadLatest would have returned it otherwise),
            // so the retried commit may overwrite it — fail-if-exists is the
            // SNAPSHOT manifest's contract (the commit point), not a segment's
            io.delete(s"$md/$name")
            io.writeStringAtomic(s"$md/$name", Serialization.write(fs.sortBy(_.path)))
            SegmentRef(name, segId)
        }
      }
      snap.copy(segments = Some(refs))
    }
    val onDisk = if (enriched.segments.isDefined) enriched.copy(files = Nil) else enriched
    io.writeStringAtomic(f"$md/v${snap.version}%08d.json", Serialization.write(onDisk))
    enriched
  }

  /** Reconstitute a snapshot's file list from its segment manifests. `strict`
    * loads must find every segment; lenient loads (history over vacuumed
    * snapshots) skip missing ones. */
  private def reconstitute(dir: String, s: Snapshot, io: LakeIO,
                           strict: Boolean): Snapshot = s.segments match {
    case None => s
    case Some(refs) =>
      val md = manifestDir(dir)
      val files = refs.flatMap { r =>
        val p = s"$md/${r.path}"
        if (io.exists(p)) Serialization.read[List[FileEntry]](io.readString(p))
        else if (strict) throw new IllegalStateException(s"missing segment manifest $p")
        else Nil
      }
      s.copy(files = files)
  }

  /** One specific committed version, strictly reconstituted. */
  private[sources] def loadVersion(dir: String, version: Long,
                                   io: LakeIO = NioLakeIO): Option[Snapshot] = {
    val p = f"${manifestDir(dir)}/v$version%08d.json"
    if (!io.exists(p)) None
    else Some(reconstitute(dir, Serialization.read[Snapshot](io.readString(p)), io,
      strict = true))
  }

  private[sources] def loadLatest(dir: String, io: LakeIO = NioLakeIO): Option[Snapshot] = {
    val md = manifestDir(dir)
    if (!io.isDirectory(md)) return None
    io.listDir(md).map(baseName)
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
      .sorted.lastOption
      .map(n => reconstitute(dir,
        Serialization.read[Snapshot](io.readString(s"$md/$n")), io, strict = true))
  }

  /** All snapshots, oldest first (time travel / audit). Lenient on segment
    * manifests vacuum already GC'd (expired snapshots list what remains). */
  def history(dir: String, io: LakeIO = NioLakeIO): Seq[Snapshot] = {
    val md = manifestDir(dir)
    if (!io.isDirectory(md)) return Nil
    io.listDir(md).map(baseName)
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
      .sorted
      .map(n => reconstitute(dir,
        Serialization.read[Snapshot](io.readString(s"$md/$n")), io, strict = false))
  }

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
