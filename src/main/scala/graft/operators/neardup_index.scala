package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.SimOps
import graft.sources.{LakeIO, NioLakeIO}

/** Persisted near-dup index — the sibling-table pattern (`_lineage`,
  * `_rejects`) applied to similarity. Three parquet tables under `dir`
  * (`bands/`, `shingles/`, `sizes/`) hold the LSH band buckets, distinct
  * 64-bit shingle hashes, and per-doc shingle-set sizes of everything
  * ingested so far, so each CDC microbatch can
  *
  *  1. find its near-dups against the WHOLE corpus without re-shingling it
  *     ([[batchPairs]] — an equi-join against the index's band buckets,
  *     index side bucket-capped), then
  *  2. [[append]] its own rows, keeping the index current — [[CdcStream]]
  *     does this automatically when `neardupIndexDir` is configured, beside
  *     the merge (concurrently with its dedup and data write), and the merge's
  *     manifest commit waits for the append to land.
  *
  * EXACTLY-ONCE BY EPOCH-KEYED OVERWRITES: each append lands in a
  * deterministic `e=<epoch>` subdirectory of all three tables with OVERWRITE
  * semantics, so a crash-redelivered microbatch (structured streaming replays
  * at most the last uncommitted epoch, under its original epoch id) rewrites
  * the same directories instead of duplicating rows — the `_contam`
  * per-epoch-overwrite pattern, applied to the index. Because rows are
  * duplicate-free AT REST, [[load]] is a pure scan+union: no full-index
  * `distinct()`, no per-batch size re-aggregation (sizes are STORED at write
  * time) — per-batch index-read cost is O(files touched), independent of how
  * many documents the index holds (StreamSpec pins the aggregate-free read
  * plan).
  *
  * UPDATE semantics: the stream stamps ids as `conv#turn#lsn`, so an updated
  * turn indexes as a NEW document and the superseded version remains listed —
  * near-dup hits are advisory training-data metadata; pruning superseded
  * versions is a compaction-style offline job (filter ids against the table's
  * LWW state), not a per-batch obligation.
  *
  * This composes the engine's two halves: the corpus-at-rest dedup family
  * (SimOps.neardupPairs) and the incremental CDC ingest (CdcMerge). The
  * reference has no analog — it dedups per-load batch only (UPLOAD_ID
  * scoping, reference dest/I2b2QueryResultsHandler.java:169-170); a
  * training-data pipeline needs cross-batch near-dup, which at 10⁹ documents
  * is only feasible against a persisted index.
  *
  * COMPACTION ([[compact]]) bounds the per-epoch file accumulation: all
  * epochs except the newest (the only one the stream can still redeliver)
  * fold into a `compacted/g=<gen>` generation; a tiny atomically-renamed
  * `ledger.json` records `(gen, compactedThrough)` and [[load]] reads the
  * current generation plus epochs above the ledger mark. Crash-safe at every
  * step: before the ledger rename the new generation is invisible; after it,
  * the superseded epoch dirs are ignored whether or not the GC deletes got to
  * run (the next compaction re-collects them). CAVEAT: GC deletion races LIVE
  * readers — a query that resolved the ledger before a compaction commits can
  * lose its input files mid-scan and must retry; crash consistency is
  * guaranteed, reader isolation during compaction is not (take the index
  * offline or retry failed queries around compaction windows).
  *
  * All driver-side file ops go through [[LakeIO]] (local nio by default,
  * Hadoop FileSystem for object stores) — same abstraction as the lake
  * manifests.
  *
  * Scale notes (round 5 layout): `bands/` is partitioned by `_p` — the
  * bucket-hash range `pmod(xxhash64(bucket), 16)` — within each epoch and
  * each compacted generation, so a batch probe statically prunes its index
  * scan to the partitions its own buckets occupy; and per-bucket membership
  * counts are a fourth sibling table (`counts/`, maintained at append and
  * SUMMED at compaction), so the query-path bucket cap reads stored partials
  * (rows ∝ buckets touched) instead of re-aggregating the full bands table.
  * With [[SimOps.incrementalPairsAgainst]]'s broadcast-join shape the index
  * side never shuffles at query time; the only per-query term that grows with
  * the index is the pruned columnar scan of the slim (id, band, bucket)
  * partitions themselves.
  */
object NeardupIndex {

  final case class Config(idCol: String = "doc_id", textCol: String = "text",
                          shingleN: Int = 3, k: Int = 32, bands: Int = 8,
                          rowsPerBand: Int = 4, maxBucket: Int = 200)

  private val tableNames = Seq("bands", "shingles", "sizes", "counts")

  private final case class Ledger(gen: Long, compactedThrough: Long)
  private val emptyLedger = Ledger(-1L, -1L)

  private def ledgerPath(dir: String) = s"$dir/ledger.json"

  private def readLedger(io: LakeIO, dir: String): Ledger =
    if (!io.exists(ledgerPath(dir))) emptyLedger
    else {
      val s = io.readString(ledgerPath(dir))
      def num(k: String): Long =
        s""""$k"\\s*:\\s*(-?\\d+)""".r.findFirstMatchIn(s)
          .getOrElse(throw new IllegalStateException(
            s"near-dup index ledger ${ledgerPath(dir)} missing '$k': $s"))
          .group(1).toLong
      Ledger(num("gen"), num("compactedThrough"))
    }

  private def writeLedger(io: LakeIO, dir: String, l: Ledger): Unit =
    // atomic REPLACE: the ledger is a single-writer newest-wins pointer, not
    // an optimistic-concurrency manifest — each compaction supersedes it
    io.replaceStringAtomic(ledgerPath(dir),
      s"""{"gen":${l.gen},"compactedThrough":${l.compactedThrough}}""")

  /** Epoch numbers present on disk — the UNION across all three tables, so a
    * partially-deleted epoch (crash mid-GC) is still seen and re-collected. */
  private def liveEpochs(io: LakeIO, dir: String): Seq[Long] =
    tableNames.flatMap { t =>
      val root = s"$dir/$t"
      if (!io.isDirectory(root)) Nil
      else io.listDir(root).flatMap { p =>
        val name = p.stripSuffix("/").split('/').last
        if (name.startsWith("e=")) name.stripPrefix("e=").toLongOption else None
      }
    }.distinct.sorted

  private def walkParquet(io: LakeIO, path: String): Seq[String] =
    if (io.isDirectory(path)) io.listDir(path).flatMap(walkParquet(io, _))
    else if (path.endsWith(".parquet")) Seq(path)
    else Nil

  /** Create (or replace) the index from an initial corpus as epoch 0. */
  def write(dir: String, docs: DataFrame, cfg: Config = Config(),
            io: LakeIO = NioLakeIO): Unit = {
    io.deleteRecursively(dir)
    append(dir, docs, cfg, epoch = Some(0L), io = io)
  }

  /** Append a batch under `epoch` (the stream's microbatch id). Re-appending
    * the SAME epoch overwrites its own directories — crash-redelivery is
    * idempotent by the write path (see class docs). Without an explicit epoch
    * the next free number is assigned; such manual appends must carry ids and
    * content not already indexed (redelivery absorption is epoch-keyed). */
  def append(dir: String, docs: DataFrame, cfg: Config = Config(),
             epoch: Option[Long] = None, io: LakeIO = NioLakeIO): Unit = {
    val led = readLedger(io, dir)
    val e = epoch.getOrElse(
      (liveEpochs(io, dir) :+ led.compactedThrough :+ -1L).max + 1)
    val t = SimOps.neardupIndexTables(docs, cfg.idCol, cfg.textCol,
      cfg.shingleN, cfg.k, cfg.bands, cfg.rowsPerBand)
    val (bandsDir, shinglesDir) = (s"$dir/bands/e=$e", s"$dir/shingles/e=$e")
    t.bands.write.mode("overwrite").partitionBy("_p").parquet(bandsDir)
    t.shingles.write.mode("overwrite").parquet(shinglesDir)
    // each table computed ONCE: `sizes` and `counts` derive from the band rows
    // and shingle hashes just written, read back, instead of re-running the
    // shingle distinct and the MinHash aggregate. Persisting the two would
    // save the same work, but a cached plan is planned without AQE's
    // partition coalescing, so the bands and shingles writes would land in
    // several times more files. The read-back carries the written schemas: a
    // batch with no tokens writes no band file, and must read back empty.
    val spark = docs.sparkSession
    val d = SimOps.NeardupIndexTables.derive(
      spark.read.schema(t.bands.schema).parquet(bandsDir),
      spark.read.schema(t.shingles.schema).parquet(shinglesDir), cfg.idCol)
    d.sizes.write.mode("overwrite").parquet(s"$dir/sizes/e=$e")
    d.counts.write.mode("overwrite").parquet(s"$dir/counts/e=$e")
    refresh(spark, dir)
  }

  /** Drop cached file listings under `dir`: an epoch overwrite (redelivery) or
    * compaction GC replaces files in place, and a session-cached InMemoryFileIndex
    * would otherwise serve the deleted paths (FAILED_READ_FILE on next query). */
  private def refresh(spark: SparkSession, dir: String): Unit =
    spark.catalog.refreshByPath(dir) // prefix-invalidates all three tables + gens

  /** Load the logical index: current compacted generation ∪ epochs above the
    * ledger mark. A pure scan — no distinct, no aggregation (duplicate-freedom
    * is a WRITE-side invariant; sizes are stored, not derived). */
  def load(spark: SparkSession, dir: String,
           io: LakeIO = NioLakeIO): SimOps.NeardupIndexTables = {
    val led = readLedger(io, dir)
    val hasLive = liveEpochs(io, dir).exists(_ > led.compactedThrough)
    def table(name: String): DataFrame = {
      val live = if (hasLive)
        Some(spark.read.parquet(s"$dir/$name")
          .filter(col("e") > led.compactedThrough).drop("e"))
      else None
      val comp = if (led.gen >= 0)
        Some(spark.read.parquet(s"$dir/compacted/g=${led.gen}/$name"))
      else None
      (live.toSeq ++ comp.toSeq).reduceOption(_.unionByName(_)).getOrElse(
        throw new IllegalStateException(s"near-dup index $dir is empty ($name)"))
    }
    // counts carries PER-EPOCH partials; the query path sums them (rows ∝
    // buckets touched, never docs × bands — compaction folds them exactly)
    SimOps.NeardupIndexTables(table("bands"), table("shingles"), table("sizes"),
      table("counts"))
  }

  /** Near-dup pairs (new_id, old_id, jaccard) of `batch` against the persisted
    * index. Batch-internal dups are the caller's SimOps.neardupPairs. */
  def batchPairs(spark: SparkSession, dir: String, batch: DataFrame,
                 cfg: Config = Config(), io: LakeIO = NioLakeIO): DataFrame =
    SimOps.incrementalPairsAgainst(load(spark, dir, io), batch, cfg.idCol,
      cfg.textCol, cfg.shingleN, cfg.k, cfg.bands, cfg.rowsPerBand, cfg.maxBucket)

  /** Fold every epoch except the newest (the only one the stream can still
    * redeliver) plus the previous generation into a new compacted generation,
    * commit it via the atomic ledger rename, then GC superseded directories.
    * A long-running stream appends a few files per epoch forever; compaction
    * bounds the file count. Returns (parquetFilesBefore, parquetFilesAfter).
    * See class docs for the crash-safety argument and the live-reader caveat. */
  def compact(spark: SparkSession, dir: String,
              io: LakeIO = NioLakeIO): (Long, Long) = {
    val led = readLedger(io, dir)
    def files(): Long = walkParquet(io, dir).size.toLong
    val before = files()
    val live = liveEpochs(io, dir).filter(_ > led.compactedThrough)
    // the newest epoch stays out of the fold: structured streaming may replay
    // it (under its own id) after a crash, and a redelivered epoch must land
    // in its own directory, not duplicate rows already folded into a gen
    val foldable = if (live.isEmpty) Nil else live.init
    if (foldable.isEmpty) { gc(io, dir, led); refresh(spark, dir) } // just re-GC
    else {
      val newGen = led.gen + 1
      def mergedRaw(name: String): DataFrame = {
        val fold = if (foldable.nonEmpty)
          Some(spark.read.parquet(s"$dir/$name")
            .filter(col("e").isin(foldable: _*)).drop("e"))
        else None
        val prev = if (led.gen >= 0)
          Some(spark.read.parquet(s"$dir/compacted/g=${led.gen}/$name"))
        else None
        (fold.toSeq ++ prev.toSeq).reduce(_.unionByName(_))
      }
      // distinct is belt-and-braces (epochs are id-disjoint by contract);
      // it runs HERE, offline at compaction, not per batch query
      def merged(name: String): DataFrame = mergedRaw(name).distinct()
      val out = s"$dir/compacted/g=$newGen"
      // one file per partition / one file per table: bounding counts is the point
      merged("bands").repartition(1, col("_p")).write.mode("overwrite")
        .partitionBy("_p").parquet(s"$out/bands")
      merged("shingles").coalesce(1).write.mode("overwrite").parquet(s"$out/shingles")
      merged("sizes").coalesce(1).write.mode("overwrite").parquet(s"$out/sizes")
      // counts fold by SUM (per-epoch partials), not distinct — this offline
      // aggregation is what keeps the per-batch query path aggregation-light
      mergedRaw("counts").groupBy("band", "bucket")
        .agg(sum(col("_n")).as("_n"))
        .coalesce(1).write.mode("overwrite").parquet(s"$out/counts")
      val committed = Ledger(newGen,
        (foldable :+ led.compactedThrough).max)
      writeLedger(io, dir, committed) // the commit point (atomic rename)
      gc(io, dir, committed)
      refresh(spark, dir)
    }
    (before, files())
  }

  /** Delete directories the ledger has superseded: epochs ≤ compactedThrough
    * and non-current generations. Pure garbage collection — a crash that
    * skips it leaves dirs [[load]] already ignores, re-collected next time. */
  private def gc(io: LakeIO, dir: String, led: Ledger): Unit = {
    // snapshot the epoch list BEFORE deleting: liveEpochs lists the bands dir,
    // and deleting bands/e=* first would hide those epochs from the
    // shingles/sizes delete passes
    val stale = liveEpochs(io, dir).filter(_ <= led.compactedThrough)
    for (t <- tableNames; e <- stale)
      io.deleteRecursively(s"$dir/$t/e=$e")
    val compRoot = s"$dir/compacted"
    if (io.isDirectory(compRoot)) io.listDir(compRoot).foreach { p =>
      val name = p.stripSuffix("/").split('/').last
      if (name.startsWith("g=") && name != s"g=${led.gen}")
        io.deleteRecursively(p)
    }
  }

  /** The CDC hook: index a change-event microbatch's upsert texts, ids stamped
    * `conv#turn#lsn` (updates index as new documents — see class docs). Rows
    * with null keys/text or non-upsert ops carry nothing to index. Pass the
    * stream's epoch id so crash-redelivery overwrites rather than duplicates. */
  def appendBatch(dir: String, changeBatch: DataFrame, cfg: Config = Config(),
                  epoch: Option[Long] = None, io: LakeIO = NioLakeIO): Unit = {
    val docs = changeBatch
      .filter(col("op").isin("I", "U") && col("conv_id").isNotNull &&
        col("turn_idx").isNotNull && col("text").isNotNull)
      .select(concat_ws("#", col("conv_id"), col("turn_idx"), col("lsn"))
        .as(cfg.idCol), col("text").as(cfg.textCol))
    // an all-rejected/delete-only batch has nothing to index; skipping also
    // avoids creating a zero-file parquet dir that a later read can't infer
    if (!docs.isEmpty) append(dir, docs, cfg, epoch, io)
  }
}
