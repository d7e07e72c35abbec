package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.SimOps
import graft.sources.HadoopLakeIO

/** Persisted near-dup index — the sibling-table pattern (`_lineage`,
  * `_rejects`) applied to similarity. Two parquet tables under `dir`
  * (`bands/`, `shingles/`) hold the LSH band buckets and distinct 64-bit
  * shingle hashes of everything ingested so far, so each CDC microbatch can
  *
  *  1. find its near-dups against the WHOLE corpus without re-shingling it
  *     ([[batchPairs]] — an equi-join against the index's band buckets,
  *     index side bucket-capped), then
  *  2. [[append]] its own rows, keeping the index current — [[CdcStream]]
  *     does this automatically when `neardupIndexDir` is configured, beside
  *     the merge (concurrently with its dedup and data write), and the merge's
  *     manifest commit waits for the append to land. A batch with nothing to
  *     index (delete-only, all rejected) appends an empty epoch.
  *
  * EXACTLY-ONCE BY EPOCH-KEYED OVERWRITES: each append lands in a
  * deterministic `e=<epoch>` subdirectory of both tables with OVERWRITE
  * semantics, so a crash-redelivered microbatch (structured streaming replays
  * at most the last uncommitted epoch, under its original epoch id) rewrites
  * the same directories instead of duplicating rows — the `_contam`
  * per-epoch-overwrite pattern, applied to the index. Because rows are
  * duplicate-free AT REST, [[load]] is a pure scan+union: no full-index
  * `distinct()` — per-batch index-read cost is O(files touched), independent
  * of how many documents the index holds (StreamSpec pins the aggregate-free
  * read plan). Nothing derivable is stored: the query path counts bucket
  * members and shingle-set sizes over the rows it reads anyway (see
  * [[SimOps.incrementalPairsAgainst]]).
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
  * Driver-side file ops (the ledger, epoch listing, GC) go through
  * [[HadoopLakeIO]]: the Hadoop FileSystem of the index's path, which Spark
  * writes the index tables through — as for the lake manifests.
  *
  * Scale notes: `bands/` is partitioned by `_p` — the bucket-hash range
  * `pmod(xxhash64(bucket), 16)` — within each epoch and each compacted
  * generation, so a batch probe statically prunes its index scan to the
  * partitions its own buckets occupy. All rows of one bucket share one `_p`,
  * so the query-path bucket cap counts complete buckets over that pruned scan
  * (only the buckets the batch touches; a map-side partial count, never a
  * full-bands aggregate). With [[SimOps.incrementalPairsAgainst]]'s
  * broadcast-join shape the index side never shuffles at query time; the only
  * per-query term that grows with the index is the pruned columnar scan of the
  * slim (id, band, bucket) partitions themselves.
  */
object NeardupIndex {

  final case class Config(idCol: String = "doc_id", textCol: String = "text",
                          shingleN: Int = 3, k: Int = 32, bands: Int = 8,
                          rowsPerBand: Int = 4, maxBucket: Int = 200)

  private val tableNames = Seq("bands", "shingles")

  private final case class Ledger(gen: Long, compactedThrough: Long)
  private val emptyLedger = Ledger(-1L, -1L)

  private def ledgerPath(dir: String) = s"$dir/ledger.json"

  private def readLedger(fs: HadoopLakeIO, dir: String): Ledger =
    fs.readString(ledgerPath(dir)).fold(emptyLedger) { s =>
      def num(k: String): Long =
        s""""$k"\\s*:\\s*(-?\\d+)""".r.findFirstMatchIn(s)
          .getOrElse(throw new IllegalStateException(
            s"near-dup index ledger ${ledgerPath(dir)} missing '$k': $s"))
          .group(1).toLong
      Ledger(num("gen"), num("compactedThrough"))
    }

  private def writeLedger(fs: HadoopLakeIO, dir: String, l: Ledger): Unit =
    // atomic REPLACE: the ledger is a single-writer newest-wins pointer, not
    // an optimistic-concurrency manifest — each compaction supersedes it
    fs.replaceStringAtomic(ledgerPath(dir),
      s"""{"gen":${l.gen},"compactedThrough":${l.compactedThrough}}""")

  /** Epoch numbers present on disk — the UNION across both tables, so a
    * partially-deleted epoch (crash mid-GC) is still seen and re-collected. */
  private def liveEpochs(fs: HadoopLakeIO, dir: String): Seq[Long] =
    tableNames.flatMap { t =>
      val root = s"$dir/$t"
      if (!fs.isDirectory(root)) Nil
      else fs.list(root).flatMap { st =>
        val name = st.getPath.getName
        if (name.startsWith("e=")) name.stripPrefix("e=").toLongOption else None
      }
    }.distinct.sorted

  /** The tables' schemas, as [[append]] writes them, around the index's id
    * field (name and type as the appended docs carried them). Reads use these
    * instead of inferring a schema from the files: an epoch whose texts have
    * no tokens writes no band file to infer from. */
  private def schemas(id: StructField): Map[String, StructType] = {
    val (band, bucket) = (StructField("band", IntegerType), StructField("bucket", LongType))
    Map(
      "bands" -> StructType(Seq(id, band, bucket, StructField("_p", IntegerType))),
      "shingles" -> StructType(Seq(id, StructField("_s", LongType))))
  }

  /** Reads the index's tables with their fixed schemas. The id field comes
    * from `shingles` under `idFrom`: not partitioned, so every append writes a
    * file there, empty or not. */
  private final class Tables(spark: SparkSession, dir: String, idFrom: String) {
    private val schema = schemas(spark.read.parquet(s"$idFrom/shingles").schema.head)
    /** All per-epoch directories of `name`, with their `e` column. */
    def epochs(name: String): DataFrame =
      spark.read.schema(schema(name).add("e", LongType)).parquet(s"$dir/$name")
    def generation(gen: Long, name: String): DataFrame =
      spark.read.schema(schema(name)).parquet(s"$dir/compacted/g=$gen/$name")
  }

  private def parquetFiles(fs: HadoopLakeIO, dir: String): Long =
    if (!fs.isDirectory(dir)) 0L
    else fs.list(dir).map { st =>
      if (st.isDirectory) parquetFiles(fs, st.getPath.toString)
      else if (st.getPath.getName.endsWith(".parquet")) 1L
      else 0L
    }.sum

  /** Create (or replace) the index from an initial corpus as epoch 0. */
  def write(dir: String, docs: DataFrame, cfg: Config = Config()): Unit = {
    HadoopLakeIO(docs.sparkSession).deleteRecursively(dir)
    append(dir, docs, cfg, epoch = Some(0L))
  }

  /** Append a batch under `epoch` (the stream's microbatch id). Re-appending
    * the SAME epoch overwrites its own directories — crash-redelivery is
    * idempotent by the write path (see class docs). Without an explicit epoch
    * the next free number is assigned; such manual appends must carry ids and
    * content not already indexed (redelivery absorption is epoch-keyed). */
  def append(dir: String, docs: DataFrame, cfg: Config = Config(),
             epoch: Option[Long] = None): Unit = {
    val spark = docs.sparkSession
    val fs = HadoopLakeIO(spark)
    val led = readLedger(fs, dir)
    val e = epoch.getOrElse(
      (liveEpochs(fs, dir) :+ led.compactedThrough :+ -1L).max + 1)
    val t = SimOps.neardupIndexTables(docs, cfg.idCol, cfg.textCol,
      cfg.shingleN, cfg.k, cfg.bands, cfg.rowsPerBand)
    // the two writes share only the shingle rows `neardupIndexTables` already
    // materialized, so they run concurrently
    def path(name: String) = s"$dir/$name/e=$e"
    SideWrites.runAll(spark,
      () => t.bands.write.mode("overwrite").partitionBy("_p").parquet(path("bands")),
      () => t.shingles.write.mode("overwrite").parquet(path("shingles")))
    refresh(spark, dir)
  }

  /** Drop cached file listings under `dir`: an epoch overwrite (redelivery) or
    * compaction GC replaces files in place, and a session-cached InMemoryFileIndex
    * would otherwise serve the deleted paths (FAILED_READ_FILE on next query). */
  private def refresh(spark: SparkSession, dir: String): Unit =
    spark.catalog.refreshByPath(dir) // prefix-invalidates both tables + gens

  /** Load the logical index: current compacted generation ∪ epochs above the
    * ledger mark. A pure scan — no distinct, no aggregation (duplicate-freedom
    * is a WRITE-side invariant). */
  def load(spark: SparkSession, dir: String): SimOps.NeardupIndexTables = {
    val fs = HadoopLakeIO(spark)
    val led = readLedger(fs, dir)
    val hasLive = liveEpochs(fs, dir).exists(_ > led.compactedThrough)
    if (!hasLive && led.gen < 0)
      throw new IllegalStateException(s"near-dup index $dir is empty")
    val tables = new Tables(spark, dir,
      if (hasLive) dir else s"$dir/compacted/g=${led.gen}")
    def table(name: String): DataFrame = {
      val live = if (hasLive)
        Some(tables.epochs(name).filter(col("e") > led.compactedThrough).drop("e"))
      else None
      val comp = if (led.gen >= 0) Some(tables.generation(led.gen, name)) else None
      (live.toSeq ++ comp.toSeq).reduce(_.unionByName(_))
    }
    SimOps.NeardupIndexTables(table("bands"), table("shingles"))
  }

  /** Near-dup pairs (new_id, old_id, jaccard) of `batch` against the persisted
    * index. Batch-internal dups are the caller's SimOps.neardupPairs. */
  def batchPairs(spark: SparkSession, dir: String, batch: DataFrame,
                 cfg: Config = Config()): DataFrame =
    SimOps.incrementalPairsAgainst(load(spark, dir), batch, cfg.idCol,
      cfg.textCol, cfg.shingleN, cfg.k, cfg.bands, cfg.rowsPerBand, cfg.maxBucket)

  /** Fold every epoch except the newest (the only one the stream can still
    * redeliver) plus the previous generation into a new compacted generation,
    * commit it via the atomic ledger rename, then GC superseded directories.
    * A long-running stream appends a few files per epoch forever; compaction
    * bounds the file count. Returns (parquetFilesBefore, parquetFilesAfter).
    * See class docs for the crash-safety argument and the live-reader caveat. */
  def compact(spark: SparkSession, dir: String): (Long, Long) = {
    val fs = HadoopLakeIO(spark)
    val led = readLedger(fs, dir)
    val before = parquetFiles(fs, dir)
    val live = liveEpochs(fs, dir).filter(_ > led.compactedThrough)
    // the newest epoch stays out of the fold: structured streaming may replay
    // it (under its own id) after a crash, and a redelivered epoch must land
    // in its own directory, not duplicate rows already folded into a gen
    val foldable = if (live.isEmpty) Nil else live.init
    if (foldable.isEmpty) { gc(fs, dir, led); refresh(spark, dir) } // just re-GC
    else {
      val newGen = led.gen + 1
      val tables = new Tables(spark, dir, dir)
      // distinct is belt-and-braces (epochs are id-disjoint by contract);
      // it runs HERE, offline at compaction, not per batch query
      def merged(name: String): DataFrame = {
        val fold = tables.epochs(name).filter(col("e").isin(foldable: _*)).drop("e")
        val prev = if (led.gen >= 0) Some(tables.generation(led.gen, name)) else None
        (fold +: prev.toSeq).reduce(_.unionByName(_)).distinct()
      }
      val out = s"$dir/compacted/g=$newGen"
      // one file per partition / one file per table: bounding file counts is the point
      merged("bands").repartition(1, col("_p")).write.mode("overwrite")
        .partitionBy("_p").parquet(s"$out/bands")
      merged("shingles").coalesce(1).write.mode("overwrite").parquet(s"$out/shingles")
      val committed = Ledger(newGen,
        (foldable :+ led.compactedThrough).max)
      writeLedger(fs, dir, committed) // the commit point (atomic rename)
      gc(fs, dir, committed)
      refresh(spark, dir)
    }
    (before, parquetFiles(fs, dir))
  }

  /** Delete directories the ledger has superseded: epochs ≤ compactedThrough
    * and non-current generations. Pure garbage collection — a crash that
    * skips it leaves dirs [[load]] already ignores, re-collected next time. */
  private def gc(fs: HadoopLakeIO, dir: String, led: Ledger): Unit = {
    // snapshot the epoch list BEFORE deleting: liveEpochs lists both tables,
    // so an epoch a crashed GC left in only one of them is still collected
    val stale = liveEpochs(fs, dir).filter(_ <= led.compactedThrough)
    for (t <- tableNames; e <- stale)
      fs.deleteRecursively(s"$dir/$t/e=$e")
    val compRoot = s"$dir/compacted"
    if (fs.isDirectory(compRoot)) fs.list(compRoot).map(_.getPath).foreach { p =>
      if (p.getName.startsWith("g=") && p.getName != s"g=${led.gen}")
        fs.deleteRecursively(p.toString)
    }
  }

  /** The CDC hook: index a change-event microbatch's upsert texts, ids stamped
    * `conv#turn#lsn` (updates index as new documents — see class docs). Rows
    * with null keys/text or non-upsert ops carry nothing to index. Pass the
    * stream's epoch id so crash-redelivery overwrites rather than duplicates. */
  def appendBatch(dir: String, changeBatch: DataFrame, cfg: Config = Config(),
                  epoch: Option[Long] = None): Unit = {
    val docs = changeBatch
      .filter(col("op").isin("I", "U") && col("conv_id").isNotNull &&
        col("turn_idx").isNotNull && col("text").isNotNull)
      .select(concat_ws("#", col("conv_id"), col("turn_idx"), col("lsn"))
        .as(cfg.idCol), col("text").as(cfg.textCol))
    // an all-rejected/delete-only batch has nothing to index and appends an
    // empty epoch, which [[load]] reads like any other: checking for it first
    // would cost a job on every batch
    append(dir, docs, cfg, epoch)
  }
}
