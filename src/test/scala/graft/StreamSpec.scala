package graft

import org.apache.spark.sql.functions._

import graft.operators.CdcMerge
import graft.sources.LakeTable
import graft.streaming.CdcStream

/** Structured-Streaming scenarios: multi-batch replay, resume-with-new-data from
  * the same checkpoint, crash-orphan tolerance (FIXTURES.md §2.3 crash-resume). */
class StreamSpec extends SparkSpec {

  test("replay: AvailableNow stream over epoch dirs equals the oracle") {
    val src = tmpDir("st-src"); val tbl = tmpDir("st-tbl"); val ckpt = tmpDir("st-ck")
    ChangeGen.writeEpochs(spark, src, epochs = 3, eventsPerEpoch = 2000L,
      numConvs = 40, maxTurns = 8, pDelete = 0.1)
    CdcStream.runAvailable(spark, CdcStream.Config(src, tbl, ckpt,
      queryId = "s1", numBuckets = 16, maxFilesPerTrigger = Some(3)))
    val t = LakeTable.load(spark, tbl)
    val all = (0 until 3).map(e => ChangeGen.events(spark, 2000L, 40, 8, 0.0, 0.1,
      seed = 42L + e, lsnStart = e * 2000L)).reduce(_.unionByName(_))
    assert(Oracle.diff(CdcMerge.state(t), Oracle.expectedState(all)).isEmpty)
    assert(t.appliedEpoch("s1") >= 0L)
  }

  test("resume: new epochs arriving after a completed run are picked up from the same checkpoint") {
    val src = tmpDir("rs-src"); val tbl = tmpDir("rs-tbl"); val ckpt = tmpDir("rs-ck")
    ChangeGen.writeEpochs(spark, src, epochs = 2, eventsPerEpoch = 1500L,
      numConvs = 30, maxTurns = 6, pDelete = 0.1)
    val cfg = CdcStream.Config(src, tbl, ckpt, queryId = "s2", numBuckets = 16)
    CdcStream.runAvailable(spark, cfg)
    val t = LakeTable.load(spark, tbl)
    val epochAfterFirst = t.appliedEpoch("s2")

    // two more epochs land; same checkpoint picks up ONLY the new files
    (2 until 4).foreach { e =>
      ChangeGen.events(spark, 1500L, 30, 6, 0.0, 0.1, seed = 42L + e,
        lsnStart = e * 1500L).repartition(4)
        .write.mode("overwrite").parquet(f"$src/e$e%05d")
    }
    CdcStream.runAvailable(spark, cfg)
    t.refresh()
    assert(t.appliedEpoch("s2") > epochAfterFirst)
    val all = (0 until 4).map(e => ChangeGen.events(spark, 1500L, 30, 6, 0.0, 0.1,
      seed = 42L + e, lsnStart = e * 1500L)).reduce(_.unionByName(_))
    assert(Oracle.diff(CdcMerge.state(t), Oracle.expectedState(all)).isEmpty)
  }

  test("json WAL tail: a line-feed export replays to the same state as the parquet feed") {
    // the common binlog-export shape (one JSON change event per line,
    // Debezium-style): identical events written as json and parquet must
    // replay to identical final table state under the same explicit schema
    val ev = ChangeGen.events(spark, 1200L, 25, 6, 0.0, 0.1)
    val (jsrc, csrc, psrc) = (tmpDir("jw-jsrc"), tmpDir("jw-csrc"), tmpDir("jw-psrc"))
    ev.repartition(2).write.mode("overwrite").json(s"$jsrc/e0")
    // the CSV WRITER trims leading/trailing whitespace by default (the reader
    // does not) — disable so a text field ending in a space survives the trip
    ev.repartition(2).write.mode("overwrite")
      .option("ignoreLeadingWhiteSpace", false)
      .option("ignoreTrailingWhiteSpace", false)
      .csv(s"$csrc/e0")
    ev.repartition(2).write.mode("overwrite").parquet(s"$psrc/e0")
    val (jt, ct, pt) = (tmpDir("jw-jtbl"), tmpDir("jw-ctbl"), tmpDir("jw-ptbl"))
    CdcStream.runAvailable(spark, CdcStream.Config(jsrc, jt, tmpDir("jw-jck"),
      queryId = "jw", numBuckets = 8, sourceFormat = "json"))
    CdcStream.runAvailable(spark, CdcStream.Config(csrc, ct, tmpDir("jw-cck"),
      queryId = "jw", numBuckets = 8, sourceFormat = "csv"))
    CdcStream.runAvailable(spark, CdcStream.Config(psrc, pt, tmpDir("jw-pck"),
      queryId = "jw", numBuckets = 8))
    val js = CdcMerge.state(LakeTable.load(spark, jt))
    val cs = CdcMerge.state(LakeTable.load(spark, ct))
    val ps = CdcMerge.state(LakeTable.load(spark, pt))
    assert(Oracle.diff(js, ps).isEmpty, "json-fed state != parquet-fed state")
    assert(Oracle.diff(cs, ps).isEmpty, "csv-fed state != parquet-fed state")
    assert(js.count() > 0)
  }

  test("tail mode: ProcessingTime trigger picks up files arriving while the stream runs") {
    val src = tmpDir("tl-src"); val tbl = tmpDir("tl-tbl"); val ckpt = tmpDir("tl-ck")
    ChangeGen.events(spark, 500L, 10, 5, 0.0, 0.0).repartition(2)
      .write.mode("overwrite").parquet(s"$src/e0")
    val q = CdcStream.start(spark, CdcStream.Config(src, tbl, ckpt, queryId = "tail",
      numBuckets = 8, availableNow = false, processingTimeMs = 500L))
    try {
      q.processAllAvailable()
      // new data lands while the stream is live
      ChangeGen.events(spark, 300L, 10, 5, 0.0, 0.0, seed = 7L, lsnStart = 1000L)
        .repartition(2).write.mode("overwrite").parquet(s"$src/e1")
      q.processAllAvailable()
    } finally q.stop()
    val t = LakeTable.load(spark, tbl)
    val all = ChangeGen.events(spark, 500L, 10, 5, 0.0, 0.0).unionByName(
      ChangeGen.events(spark, 300L, 10, 5, 0.0, 0.0, seed = 7L, lsnStart = 1000L))
    assert(Oracle.diff(CdcMerge.state(t), Oracle.expectedState(all)).isEmpty)
  }

  test("incremental near-dup: microbatch loop over the persisted index equals full-corpus dedup") {
    import graft.functions.SimOps
    import graft.operators.NeardupIndex
    // three arriving "microbatches" over the sf0.001 corpus (split by doc_id % 3);
    // each batch (1) self-dedups, (2) joins the persisted index for cross-batch
    // pairs, (3) appends itself to the index — the loop a CDC training-data
    // pipeline runs per trigger. The union of all emitted pairs must equal the
    // one-shot full-corpus near-dup (maxBucket large so caps cannot differ).
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val cfg = NeardupIndex.Config(shingleN = 2, maxBucket = 1000000)
    val dir = tmpDir("ndidx")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map { r =>
        val (x, y) = (r.getLong(0), r.getLong(1))
        ((math.min(x, y), math.max(x, y)), BigDecimal(r.getDouble(2)).setScale(6,
          BigDecimal.RoundingMode.HALF_UP))
      }.toSet
    var emitted = Set.empty[((Long, Long), BigDecimal)]
    (0 until 3).foreach { i =>
      val batch = docs.filter(col("doc_id") % 3 === i)
      emitted ++= norm(SimOps.neardupPairs(batch, "doc_id", "text",
        shingleN = 2, maxBucket = 1000000))
      if (i > 0)
        emitted ++= norm(NeardupIndex.batchPairs(spark, dir, batch, cfg))
      if (i == 0) NeardupIndex.write(dir, batch, cfg)
      else NeardupIndex.append(dir, batch, cfg)
    }
    val full = norm(SimOps.neardupPairs(docs, "doc_id", "text",
      shingleN = 2, maxBucket = 1000000))
    assert(emitted === full,
      s"incremental != full: only-incr=${emitted -- full}, only-full=${full -- emitted}")
    assert(full.nonEmpty)
  }

  test("stream-maintained near-dup index: exactly-once via idempotent reads, rejects excluded") {
    import graft.operators.NeardupIndex
    val src = tmpDir("ndi-src"); val tbl = tmpDir("ndi-tbl"); val ckpt = tmpDir("ndi-ck")
    val idx = tmpDir("ndi-idx")
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    def ev(conv: String, turn: Int, text: String, op: String, lsn: Long) =
      (conv, turn, "user", text, null: String,
        java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), op, lsn)
    val cols = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts", "op", "lsn")
    Seq(ev("c1", 0, base, "I", 1L), ev("c2", 0, "completely unrelated words in this one", "I", 2L))
      .toDF(cols: _*).repartition(1).write.parquet(s"$src/e0")
    Seq(ev("c3", 0, base + " tail", "I", 3L),      // near-dup of c1#0
        ev("c1", 0, null, "D", 4L),                // delete: not indexed
        ev(null, 0, "null key never indexed", "I", 5L)) // reject: not indexed
      .toDF(cols: _*).repartition(1).write.parquet(s"$src/e1")
    val ncfg = NeardupIndex.Config(shingleN = 2)
    val cfg = CdcStream.Config(src, tbl, ckpt, queryId = "ndi", numBuckets = 8,
      maxFilesPerTrigger = Some(1), neardupIndexDir = Some(idx), neardupCfg = ncfg)
    CdcStream.runAvailable(spark, cfg)
    val loaded = NeardupIndex.load(spark, idx)
    val ids = loaded.shingles.select("doc_id").distinct()
      .collect().map(_.getString(0)).toSet
    assert(ids === Set("c1#0#1", "c2#0#2", "c3#0#3"), s"indexed ids: $ids")
    // the index READ path is aggregation-free: duplicate-freedom is a
    // write-side invariant, so per-batch query cost does not include a
    // full-index distinct()/groupBy (round-3 verdict nit)
    Seq(loaded.bands, loaded.shingles).foreach { df =>
      val plan = df.queryExecution.optimizedPlan.toString
      assert(!plan.contains("Aggregate") && !plan.contains("Deduplicate"),
        s"index load must be a pure scan, not re-aggregate the corpus:\n$plan")
    }
    // a new batch's text finds its near-dups across ALL past microbatches
    val probe = Seq((("p1"), base + " probe")).toDF("doc_id", "text")
    def probePairs() = NeardupIndex.batchPairs(spark, idx, probe, ncfg)
      .filter(col("jaccard") >= 0.5)
      .collect().map(r => (r.getString(1), r.getDouble(2))).toMap
    val hits = probePairs()
    assert(hits.keySet === Set("c1#0#1", "c3#0#3"), s"probe hits: $hits")
    // crash redelivery: structured streaming replays an uncommitted microbatch
    // under its ORIGINAL epoch id, and the index's epoch-keyed overwrite
    // absorbs it (same ids, same shingle hashes, same jaccards). e1's file
    // was microbatch 1 under maxFilesPerTrigger=1. Values are captured BEFORE
    // the overwrite: an epoch rewrite invalidates in-flight readers of that
    // epoch (crash-consistency, not reader isolation — see NeardupIndex docs).
    def indexedShingles(l: graft.functions.SimOps.NeardupIndexTables) =
      l.shingles.collect().map(_.toString).sorted.toSeq
    val shinglesBefore = indexedShingles(loaded)
    NeardupIndex.appendBatch(idx, spark.read.parquet(s"$src/e1"), ncfg,
      epoch = Some(1L))
    assert(indexedShingles(NeardupIndex.load(spark, idx)) === shinglesBefore)
    assert(probePairs() === hits)
    // resume with a new epoch from the same checkpoint: only the new doc lands
    Seq(ev("c4", 1, base + " more tail", "I", 6L)).toDF(cols: _*)
      .repartition(1).write.parquet(s"$src/e2")
    CdcStream.runAvailable(spark, cfg)
    val ids2 = NeardupIndex.load(spark, idx).shingles.select("doc_id").distinct()
      .collect().map(_.getString(0)).toSet
    assert(ids2 === ids + "c4#1#6")

    // COMPACTION: bounds the append-only file count without changing the
    // logical index, and a crash mid-compaction (old + new coexisting) is
    // absorbed by the same idempotent reads that absorb append redelivery
    def indexState() =
      NeardupIndex.load(spark, idx).shingles.orderBy("doc_id", "_s").collect().toSeq
    val before = indexState()
    val hitsAfterResume = probePairs() // baseline includes c4 from the resume
    // epoch-keyed redelivery right before compaction is invisible
    NeardupIndex.appendBatch(idx, spark.read.parquet(s"$src/e1"), ncfg,
      epoch = Some(1L))
    NeardupIndex.appendBatch(idx, spark.read.parquet(s"$src/e2"), ncfg,
      epoch = Some(2L))
    assert(indexState() === before) // redelivery invisible, as always
    val (filesBefore, filesAfter) = NeardupIndex.compact(spark, idx)
    assert(filesAfter < filesBefore, s"$filesBefore -> $filesAfter")
    assert(indexState() === before, "compaction changed the logical index")
    assert(probePairs() === hitsAfterResume, "probe results changed after compaction")
    // the crash window compaction must survive: the NEWEST epoch (2) stays out
    // of the fold precisely because the stream may still redeliver it — replay
    // it now, post-compaction, and the logical index must not change
    NeardupIndex.appendBatch(idx, spark.read.parquet(s"$src/e2"), ncfg,
      epoch = Some(2L))
    assert(indexState() === before)
    // a second compaction with no new epochs is a no-op on the logical index
    NeardupIndex.compact(spark, idx)
    assert(indexState() === before)
  }

  test("index query path: no aggregate over the raw bands table; probe prunes by bucket-hash partition") {
    import graft.operators.NeardupIndex
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Window}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import spark.implicits._
    // the per-batch query's bucket cap counts only the buckets the batch
    // touches, after a join to them, so NO aggregate or window on the query
    // path consumes the raw bands relation (the round-4 shape ran a full-bands
    // groupBy per batch — O(index docs × bands) every microbatch), whatever
    // form the cap takes; and the probe's bands scan carries a _p bucket-hash
    // partition filter so the lake layout prunes it
    val dir = tmpDir("qp-idx")
    val docs = (0 until 50).map(i =>
      (s"d$i", s"some shared words plus unique token$i tail $i")).toDF("doc_id", "text")
    val cfg = NeardupIndex.Config(shingleN = 2)
    NeardupIndex.write(dir, docs, cfg)
    NeardupIndex.append(dir,
      Seq(("x1", "some shared words plus extra")).toDF("doc_id", "text"), cfg)
    val plans = scala.collection.mutable.ArrayBuffer.empty[LogicalPlan]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        plans.synchronized { plans += qe.optimizedPlan; () }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val probe = Seq(("p1", "some shared words plus probe")).toDF("doc_id", "text")
      val hits = NeardupIndex.batchPairs(spark, dir, probe, cfg).collect()
      assert(hits.nonEmpty, "probe must still find its near-dups")
      Thread.sleep(1000) // QueryExecutionListener delivery is async
      def bandsRel(p: LogicalPlan): Boolean = p match {
        case l: LogicalRelation => l.relation match {
          case f: HadoopFsRelation =>
            f.location.rootPaths.exists(_.toString.contains("/bands"))
          case _ => false
        }
        case _ => false
      }
      // true iff the subtree reaches a bands file relation without crossing a
      // Join — i.e. the node directly consumes the raw index bands table
      def rawBandsBelow(p: LogicalPlan): Boolean =
        if (bandsRel(p)) true
        else p match {
          case _: Join => false
          case other => other.children.exists(rawBandsBelow)
        }
      val snapshot = plans.synchronized { plans.toList }
      val offending = snapshot.flatMap(_.collect {
        case a: Aggregate if rawBandsBelow(a.child) => a
        case w: Window if rawBandsBelow(w.child) => w
      })
      assert(offending.isEmpty,
        s"full-index count over the raw bands table on the query path:\n${offending.headOption}")
      val pruned = snapshot.exists(_.collect {
        case f: Filter if f.condition.toString.contains("_p") &&
          rawBandsBelow(f.child) => f
      }.nonEmpty)
      assert(pruned, "probe did not filter the bands scan by _p bucket-hash partitions")
    } finally spark.listenerManager.unregister(listener)
  }

  test("malformed json WAL lines dead-letter with a reason instead of dropping") {
    // the sourceFormat=json contract: a corrupt line null-fills under the
    // explicit schema and flows into _rejects, never silently vanishing
    val src = tmpDir("mj-src"); val tbl = tmpDir("mj-tbl"); val ckpt = tmpDir("mj-ck")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$src/e0"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$src/e0/part-000.json"),
      """{"conv_id":"c1","turn_idx":0,"role":"user","text":"good row","tool":null,"ts":"2024-01-01T10:00:00.000Z","op":"I","lsn":1}
        |this line is not json at all {{{
        |{"conv_id":"c2","turn_idx":0,"role":"user","text":"also good","tool":null,"ts":"2024-01-01T10:00:01.000Z","op":"I","lsn":2}
        |""".stripMargin)
    CdcStream.runAvailable(spark, CdcStream.Config(src, tbl, ckpt,
      queryId = "mj", numBuckets = 4, sourceFormat = "json"))
    val t = LakeTable.load(spark, tbl)
    val state = CdcMerge.state(t)
    assert(state.count() === 2) // both good rows applied
    val rejects = spark.read.parquet(s"$tbl/_rejects/q=mj/e=*")
    assert(rejects.count() === 1, "corrupt line must land in _rejects")
    assert(rejects.select("reason").collect()(0).getString(0).nonEmpty)
  }

  test("stream-inline index compaction bounds files and preserves the logical index") {
    import graft.operators.NeardupIndex
    import spark.implicits._
    val src = tmpDir("ic-src")
    val cols = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts", "op", "lsn")
    (0 until 5).foreach { e =>
      Seq((s"c$e", 0, "user", s"epoch $e words shared across batches plus tail$e",
          null: String, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), "I",
          e.toLong + 1))
        .toDF(cols: _*).repartition(1).write.parquet(f"$src/e$e%02d")
    }
    val ncfg = NeardupIndex.Config(shingleN = 2)
    val (ia, ib) = (tmpDir("ic-a"), tmpDir("ic-b"))
    def run(idxDir: String, every: Option[Int]): Unit =
      CdcStream.runAvailable(spark, CdcStream.Config(src, tmpDir("ic-t"),
        tmpDir("ic-k"), queryId = "ic", numBuckets = 4,
        maxFilesPerTrigger = Some(1), neardupIndexDir = Some(idxDir),
        neardupCfg = ncfg, neardupCompactEvery = every))
    run(ia, Some(2)); run(ib, None)
    assert(new java.io.File(s"$ia/ledger.json").exists(),
      "inline compaction never committed a generation")
    def state(dir: String) =
      NeardupIndex.load(spark, dir).shingles.orderBy("doc_id", "_s").collect().toSeq
    assert(state(ia) === state(ib), "compacting stream diverged from plain stream")
    def files(dir: String) = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir)).count(_.getName.endsWith(".parquet"))
    }
    assert(files(ia) < files(ib), s"${files(ia)} !< ${files(ib)}")
    // bad fold period is rejected AT START, not as an ArithmeticException
    // (epochId % 0) inside foreachBatch mid-replay
    val e = intercept[IllegalArgumentException] { run(tmpDir("ic-z"), Some(0)) }
    assert(e.getMessage.contains("neardupCompactEvery"), e.getMessage)
  }

  test("streaming decontamination guard: flagged events equal the batch recompute") {
    import graft.functions.SimOps
    val src = tmpDir("ct-src"); val tbl = tmpDir("ct-tbl"); val ckpt = tmpDir("ct-ck")
    val bdir = tmpDir("ct-bench")
    import spark.implicits._
    def ev(conv: String, turn: Int, text: String, op: String, lsn: Long) =
      (conv, turn, "user", text, null: String,
        java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), op, lsn)
    val cols = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts", "op", "lsn")
    // benchmark = one eval doc; its 3-gram hashes persist once as the gram set
    val bench = Seq((1L, "held out eval answer about spark shuffles")).toDF("doc_id", "text")
    SimOps.benchGrams(bench, "doc_id", "text", n = 3)
      .write.mode("overwrite").parquet(bdir)
    Seq(ev("c1", 0, "prefix held out eval answer embedded here", "I", 1L), // overlaps
        ev("c2", 0, "totally clean conversation text with no overlap", "I", 2L))
      .toDF(cols: _*).repartition(1).write.parquet(s"$src/e0")
    Seq(ev("c3", 0, "the eval answer about spark shuffles verbatim", "I", 3L), // overlaps
        ev("c1", 0, null, "D", 4L)) // delete (null text) must not crash the guard
      .toDF(cols: _*).repartition(1).write.parquet(s"$src/e1")
    CdcStream.runAvailable(spark, CdcStream.Config(src, tbl, ckpt, queryId = "ct",
      numBuckets = 8, maxFilesPerTrigger = Some(1), contamBenchDir = Some(bdir)))
    val t = LakeTable.load(spark, tbl)
    val flagged = CdcMerge.contamination(t, "ct")
      .select("conv_id", "turn_idx", "lsn", "overlap_ngrams")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)) -> r.getLong(3)).toMap
    // the stream's per-epoch flags equal one batch pass over all events
    val all = spark.read.parquet(s"$src/e0", s"$src/e1").filter(col("text").isNotNull)
    val batchFlags = SimOps.contaminationAgainst(all,
        spark.read.parquet(bdir), Seq("conv_id", "turn_idx", "lsn"), "text", n = 3)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)) -> r.getLong(3)).toMap
    assert(flagged === batchFlags)
    assert(flagged.keySet.map(_._1) === Set("c1", "c3"), s"flagged: $flagged")
    // redelivered epoch (crash before the merge commit): the per-epoch
    // overwrite absorbs the rewrite — flags unchanged
    SimOps.contaminationAgainst(
        spark.read.parquet(s"$src/e1").filter(col("text").isNotNull),
        spark.read.parquet(bdir), Seq("conv_id", "turn_idx", "lsn"), "text", n = 3)
      .write.mode("overwrite").parquet(s"$tbl/_contam/q=ct/e=1")
    val again = CdcMerge.contamination(t, "ct")
      .select("conv_id", "turn_idx", "lsn", "overlap_ngrams")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)) -> r.getLong(3)).toMap
    assert(again === flagged)
  }

  test("crash orphans: data files written without a manifest commit are invisible and harmless") {
    val dir = tmpDir("orph")
    val t = LakeTable.create(spark, dir, CdcMerge.physicalSchema(Schemas.transcript), 8)
    val ev = ChangeGen.events(spark, 1000L, numConvs = 20, maxTurns = 5, pDelete = 0.0)
    // simulate a crash between data write and manifest commit: orphan files exist
    val orphan = ev.filter(col("op") =!= "D")
      .withColumn("_lsn", col("lsn")).withColumn("_deleted", lit(false))
      .drop("op", "lsn")
      .withColumn("_gbucket", LakeTable.bucketCol(col("conv_id"), 8))
    t.writeDataFiles(orphan, version = 99L, schemaId = 0)
    assert(CdcMerge.state(t).count() === 0L) // uncommitted → invisible
    // the epoch re-runs (as the checkpoint would) and commits normally
    CdcMerge.applyBatch(t, ev, 0L, "q")
    assert(Oracle.diff(CdcMerge.state(t), Oracle.expectedState(ev)).isEmpty)
  }

  test("out-of-order across batches: older events in later batches cannot clobber or resurrect") {
    val dir = tmpDir("ooo")
    val t = LakeTable.create(spark, dir, CdcMerge.physicalSchema(Schemas.transcript), 8)
    val ev = ChangeGen.events(spark, 4000L, numConvs = 30, maxTurns = 6, pDelete = 0.15)
    // split by lsn parity — each "batch" holds an interleaved, non-contiguous LSN set
    CdcMerge.applyBatch(t, ev.filter(col("lsn") % 2 === 1), 0L, "q") // odd (includes max)
    CdcMerge.applyBatch(t, ev.filter(col("lsn") % 2 === 0), 1L, "q") // even arrive later
    assert(Oracle.diff(CdcMerge.state(t), Oracle.expectedState(ev)).isEmpty)
  }

  test("side writes land before the commit: a failed index append commits nothing, the retry is exact") {
    import graft.functions.SimOps
    import graft.operators.NeardupIndex
    import java.nio.file.{Files, Paths}
    val src = tmpDir("sw-src"); val bdir = tmpDir("sw-bench")
    val evs = (0 until 2).map(e => ChangeGen.events(spark, 1500L, numConvs = 30,
      maxTurns = 6, pDelete = 0.1, seed = 11L + e, lsnStart = e * 1500L))
    def publish(e: Int): Unit =
      evs(e).repartition(1).write.parquet(s"$src/e$e")
    // bench grams from a sample of epoch-1 texts, so the screen flags rows
    SimOps.benchGrams(evs(1).limit(20).select(col("lsn").as("id"), col("text")),
      "id", "text", 3).write.mode("overwrite").parquet(bdir)
    def cfg(tbl: String, ckpt: String, idx: String) = CdcStream.Config(src, tbl, ckpt,
      queryId = "sw", numBuckets = 8, maxFilesPerTrigger = Some(1),
      neardupIndexDir = Some(idx), contamBenchDir = Some(bdir))
    val (tbl, ckpt, idx) = (tmpDir("sw-tbl"), tmpDir("sw-ck"), tmpDir("sw-idx"))
    publish(0)
    CdcStream.runAvailable(spark, cfg(tbl, ckpt, idx))
    val t = LakeTable.load(spark, tbl)
    assert(t.appliedEpoch("sw") === 0L)
    val failedVersion = t.snapshot.version + 1 // the version epoch 1 would commit
    // obstacle: an unreadable index ledger fails epoch 1's index append (on
    // its side-write thread) while the merge's dedup and data write proceed
    val ledger = Paths.get(idx, "ledger.json")
    Files.writeString(ledger, "not a ledger")
    publish(1)
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      CdcStream.runAvailable(spark, cfg(tbl, ckpt, idx))
    }
    assert(err.getMessage.contains("ledger"), err.getMessage)
    t.refresh()
    assert(t.appliedEpoch("sw") === 0L, "a failed side write must not commit the epoch")
    val prefix = s"data/e${failedVersion}_"
    val orphans = new java.io.File(s"$tbl/data").list().count(n => s"data/$n".startsWith(prefix))
    assert(orphans > 0, "the data write ran beside the failing side write")
    assert(LakeTable.history(tbl).forall(_.files.forall(!_.path.startsWith(prefix))),
      s"a snapshot references epoch 1's data files ($prefix*)")
    // obstacle removed: the restart redelivers epoch 1 and completes it
    Files.delete(ledger)
    CdcStream.runAvailable(spark, cfg(tbl, ckpt, idx))
    t.refresh()
    assert(t.appliedEpoch("sw") === 1L)
    assert(Oracle.diff(CdcMerge.state(t), Oracle.expectedState(evs.reduce(_.unionByName(_))))
      .isEmpty)
    def epochDirs(table: String) = new java.io.File(s"$tbl/$table/q=sw").list()
      .count(_ == "e=1")
    assert(epochDirs("_lineage") === 1 && epochDirs("_contam") === 1)
    val lin1 = CdcMerge.lineage(t, "sw").filter(col("epoch_id") === 1)
    assert(lin1.count() === lin1.select("bucket").distinct().count(),
      "epoch 1 lineage holds one row per bucket")
    assert(CdcMerge.contamination(t, "sw").filter(col("lsn") >= 1500L).count() > 0)
    // the retried index equals an uninterrupted run's
    val idx2 = tmpDir("sw-idx2")
    CdcStream.runAvailable(spark, cfg(tmpDir("sw-tbl2"), tmpDir("sw-ck2"), idx2))
    def tables(dir: String) = {
      val l = NeardupIndex.load(spark, dir)
      Seq(l.bands.select("doc_id", "band", "bucket", "_p"), l.shingles.select("doc_id", "_s"))
        .map(df => df.collect().map(_.toString).sorted.toSeq)
    }
    assert(tables(idx) === tables(idx2))
  }

  test("bench grams: the stream's cached gram set is released when the query stops") {
    import graft.functions.SimOps
    val src = tmpDir("bg-src"); val bdir = tmpDir("bg-bench")
    ChangeGen.events(spark, 200L, numConvs = 10, maxTurns = 4)
      .repartition(1).write.parquet(s"$src/e0")
    SimOps.benchGrams(ChangeGen.events(spark, 10L, numConvs = 10, maxTurns = 4)
      .select(col("lsn").as("id"), col("text")), "id", "text", 3).write.mode("overwrite").parquet(bdir)
    def cached = spark.sharedState.cacheManager.lookupCachedData(
      spark.read.parquet(bdir).asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
    val listeners = spark.streams.listListeners().length
    val cfg = CdcStream.Config(src, tmpDir("bg-tbl"), tmpDir("bg-ck"),
      queryId = "bg", numBuckets = 4, availableNow = false, processingTimeMs = 0L,
      contamBenchDir = Some(bdir))
    val q = CdcStream.start(spark, cfg)
    try {
      q.processAllAvailable()
      assert(cached.isDefined, "the running stream caches its gram set")
    } finally q.stop()
    org.apache.spark.GraftTestBridge.drainListenerBus(spark.sparkContext)
    assert(cached.isEmpty, "gram set still cached after stop()")
    assert(spark.streams.listListeners().length === listeners)
    // a replay with nothing new may end before its release hook is
    // registered: the hook still runs, and still removes itself
    CdcStream.runAvailable(spark, cfg.copy(availableNow = true))
    org.apache.spark.GraftTestBridge.drainListenerBus(spark.sparkContext)
    assert(cached.isEmpty, "gram set still cached after an empty replay")
    assert(spark.streams.listListeners().length === listeners, "release hook left registered")
  }

  test("near-dup index append: MinHash aggregate and shingle distinct run once; tables unchanged") {
    import graft.functions.SimOps
    import graft.operators.NeardupIndex
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Final, Min}
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import spark.implicits._
    val docs = (0 until 60).map(i =>
      (s"d$i", s"shared words across docs plus token$i and tail ${i % 7}")).toDF("doc_id", "text")
    val cfg = NeardupIndex.Config(shingleN = 2)
    val dir = tmpDir("nd-once")
    val (_, plans) = executedPlans(NeardupIndex.append(dir, docs, cfg, epoch = Some(0L)))
    def distinctNodes(pred: BaseAggregateExec => Boolean): Seq[BaseAggregateExec] = {
      val seen = new java.util.IdentityHashMap[SparkPlan, Unit]()
      plans.flatMap(planNodes).collect {
        case a: BaseAggregateExec if pred(a) && !seen.containsKey(a) => seen.put(a, ()); a
      }
    }
    def rowsOut(as: Seq[BaseAggregateExec]) = as.map(_.metrics("numOutputRows").value).sum
    val minhash = distinctNodes(a => a.aggregateExpressions.count(e =>
      e.mode == Final && e.aggregateFunction.isInstanceOf[Min]) >= cfg.k)
    val shingleDistinct = distinctNodes(a => a.aggregateExpressions.isEmpty &&
      a.requiredChildDistributionExpressions.isDefined &&
      a.groupingExpressions.map(_.name) == Seq("doc_id", "_s"))
    val loaded = NeardupIndex.load(spark, dir)
    assert(minhash.size === 1, s"MinHash aggregate planned ${minhash.size} times")
    assert(rowsOut(minhash) === docs.count(), "MinHash aggregate ran more than once")
    assert(shingleDistinct.size === 1, s"shingle distinct planned ${shingleDistinct.size} times")
    assert(rowsOut(shingleDistinct) === loaded.shingles.count(),
      "shingle distinct ran more than once")
    // the two written tables equal the index derived directly from the docs
    val expect = SimOps.neardupIndexTables(docs, cfg.idCol, cfg.textCol, cfg.shingleN,
      cfg.k, cfg.bands, cfg.rowsPerBand)
    def rows(df: org.apache.spark.sql.DataFrame, cols: String*) =
      df.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
    assert(rows(loaded.bands, "doc_id", "band", "bucket", "_p") ===
      rows(expect.bands, "doc_id", "band", "bucket", "_p"))
    assert(rows(loaded.shingles, "doc_id", "_s") === rows(expect.shingles, "doc_id", "_s"))
  }

  test("near-dup index append: a batch whose texts have no tokens appends an empty epoch") {
    import graft.operators.NeardupIndex
    import spark.implicits._
    val dir = tmpDir("nd-blank")
    // non-null I/U texts, so appendBatch does append, but zero tokens (the
    // shingler splits on spaces): the epoch's band and shingle tables are empty
    val blank = Seq((1L, "", "I"), (2L, "   ", "U"))
      .toDF("lsn", "text", "op")
      .select(lit("c").as("conv_id"), col("lsn").cast("int").as("turn_idx"),
        col("lsn"), col("text"), col("op"))
    NeardupIndex.appendBatch(dir, blank, epoch = Some(0L))
    // a later epoch appends as usual; the blank epoch adds no index rows
    val docs = Seq(("d1", "one two three four five"), ("d2", "one two three four six"))
      .toDF("doc_id", "text")
    NeardupIndex.append(dir, docs, epoch = Some(1L))
    // a delete-only batch has nothing to index: it appends an empty epoch too,
    // with no job to find that out — the shingle checkpoint and two writes
    val deletes = blank.withColumn("op", lit("D")).withColumn("text", lit("one two three"))
    val (_, executions) = sqlExecutions(NeardupIndex.appendBatch(dir, deletes, epoch = Some(2L)))
    assert(executions === 3, "an append runs the checkpoint and one write per table")
    assert(new java.io.File(s"$dir/shingles/e=2").isDirectory, "no epoch appended")
    val l = NeardupIndex.load(spark, dir)
    val cfg = NeardupIndex.Config()
    assert(l.shingles.select("doc_id").distinct().as[String].collect().sorted.toSeq ===
      Seq("d1", "d2"))
    assert(l.bands.count() === 2L * cfg.bands)
  }

  test("near-dup index load: live epochs that wrote no band file read back empty") {
    import graft.operators.NeardupIndex
    import org.apache.spark.sql.types.StringType
    import spark.implicits._
    val dir = tmpDir("nd-blank-load")
    // non-null I/U texts with zero tokens: appendBatch appends, but the
    // epoch's band table has no file to infer a schema from
    def blank(lsn: Long) = Seq((lsn, ""), (lsn + 1, "   "))
      .toDF("lsn", "text")
      .select(lit("c").as("conv_id"), col("lsn").cast("int").as("turn_idx"),
        col("lsn"), col("text"), lit("I").as("op"))
    val probe = Seq(("p1", "one two three four five")).toDF("doc_id", "text")
    def assertEmpty(): Unit = {
      val l = NeardupIndex.load(spark, dir)
      Seq(l.bands, l.shingles).foreach(t => assert(t.isEmpty))
      assert(l.bands.schema("doc_id").dataType === StringType)
      assert(NeardupIndex.batchPairs(spark, dir, probe).isEmpty)
    }
    NeardupIndex.appendBatch(dir, blank(1L), epoch = Some(0L))
    assertEmpty()
    // compaction folds the blank epoch 0 into a generation with no band file
    NeardupIndex.appendBatch(dir, blank(3L), epoch = Some(1L))
    NeardupIndex.compact(spark, dir)
    assertEmpty()
  }

  test("near-dup index query: a bucket over maxBucket only across epochs is capped, before and after compaction") {
    import graft.functions.SimOps
    import graft.operators.NeardupIndex
    import spark.implicits._
    val dir = tmpDir("nd-cap")
    // every band bucket of `capped` holds 2 members per epoch and 6 in all,
    // over maxBucket = 4; compaction folds epochs 0-1 into a generation of 4
    // and leaves epoch 2 live, so only the total is ever over the cap
    val capped = "alpha beta gamma delta epsilon zeta"
    val other = "completely different words over here now"
    val epochs = Seq(
      Seq(("a1", capped), ("a2", capped), ("c1", other)),
      Seq(("a3", capped), ("a4", capped)),
      Seq(("a5", capped), ("a6", capped)))
    val cfg = NeardupIndex.Config(shingleN = 2, maxBucket = 4)
    epochs.zipWithIndex.foreach { case (docs, e) =>
      NeardupIndex.append(dir, docs.toDF("doc_id", "text"), cfg, epoch = Some(e.toLong))
    }
    val probe = Seq(("p1", capped), ("p2", other)).toDF("doc_id", "text")
    val whole = SimOps.neardupIndexTables(epochs.flatten.toDF("doc_id", "text"),
      cfg.idCol, cfg.textCol, cfg.shingleN, cfg.k, cfg.bands, cfg.rowsPerBand)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    def onePiece(c: NeardupIndex.Config) = rows(SimOps.incrementalPairsAgainst(whole, probe,
      c.idCol, c.textCol, c.shingleN, c.k, c.bands, c.rowsPerBand, c.maxBucket))
    def check(): Unit = {
      val pairs = NeardupIndex.batchPairs(spark, dir, probe, cfg)
      assert(pairs.select("new_id", "old_id").as[(String, String)].collect().toSeq ===
        Seq(("p2", "c1")), "the over-cap bucket produced pairs")
      assert(rows(pairs) === onePiece(cfg))
      // at maxBucket = 6 the same bucket is in: the cap, not the probe, drops it
      val loose = cfg.copy(maxBucket = 6)
      val all = NeardupIndex.batchPairs(spark, dir, probe, loose)
      assert(all.filter(col("new_id") === "p1").count() === 6L)
      assert(rows(all) === onePiece(loose))
    }
    check()
    NeardupIndex.compact(spark, dir)
    assert(new java.io.File(dir).list().toSet ===
      Set("bands", "shingles", "compacted", "ledger.json", ".ledger.json.crc"))
    check()
  }
}
