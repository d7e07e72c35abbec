package graft

import org.apache.spark.sql.functions._

import graft.operators.{CdcMerge, Maintain}
import graft.sources.LakeTable

class MaintainSpec extends SparkSpec {

  private def loaded(name: String): (LakeTable, org.apache.spark.sql.DataFrame) = {
    val t = LakeTable.create(spark, tmpDir(name), CdcMerge.physicalSchema(Schemas.transcript), 8)
    val ev = ChangeGen.events(spark, 3000L, numConvs = 30, maxTurns = 6, pDelete = 0.1)
    CdcMerge.applyBatch(t, ev, 0L, "q")
    (t, ev)
  }

  /** Every file in `files` holds only rows of its own bucket under `numBuckets`. */
  private def assertBucketed(t: LakeTable, files: Seq[graft.sources.FileEntry],
                             numBuckets: Int): Unit = {
    assert(files.nonEmpty)
    files.groupBy(_.schemaId).foreach { case (sid, group) =>
      val bucketByName = group.map(f => f.path.split('/').last -> f.bucket).toMap
      spark.read.schema(t.snapshot.schemaFor(sid))
        .parquet(group.map(f => s"${t.dir}/${f.path}"): _*)
        .select(element_at(split(col("_metadata.file_path"), "/"), -1),
          LakeTable.bucketCol(col("conv_id"), numBuckets))
        .distinct().collect().foreach { r =>
          assert(bucketByName(r.getString(0)) === r.getInt(1),
            s"${r.getString(0)} holds rows of bucket ${r.getInt(1)}")
        }
    }
  }

  test("file layout: merges, deleteWhere, compact and rebucket file rows by bucket") {
    val t = LakeTable.create(spark, tmpDir("layout"),
      CdcMerge.physicalSchema(Schemas.transcript), 8)
    // each write files one bucket per file: the files of one version carry
    // distinct buckets
    def check(): Unit = {
      val s = t.snapshot
      assertBucketed(t, s.files, s.numBuckets)
      val written = s.files.filter(_.path.startsWith(s"data/e${s.version}_"))
      assert(written.nonEmpty && written.map(_.bucket).distinct.size === written.size)
      // every entry's rows is its file's footer count, so physicalRows is too
      val footers = s.files.map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(s"${t.dir}/${f.path}"), spark.sparkContext.hadoopConfiguration)
        scala.util.Using.resource(org.apache.parquet.hadoop.ParquetFileReader.open(in))(
          _.getRecordCount)
      }
      assert(s.files.map(_.rows) === footers)
      assert(t.physicalRows === footers.sum)
    }
    val e0 = ChangeGen.events(spark, 2000L, numConvs = 30, maxTurns = 6, pDelete = 0.1)
    assert(CdcMerge.applyBatch(t, e0, 0L, "q").applied)
    check()
    val e1 = ChangeGen.events(spark, 300L, numConvs = 30, maxTurns = 6, pDelete = 0.1,
      seed = 5L, lsnStart = 5000L)
    assert(CdcMerge.applyBatch(t, e1, 1L, "q").applied)
    check()
    val victim = CdcMerge.state(t).select("conv_id").head().getString(0)
    assert(Maintain.deleteWhere(t, col("conv_id") === victim) > 0L)
    check()
    Maintain.compact(t)
    check()
    assert(t.snapshot.files.map(_.bucket).distinct.size === t.snapshot.files.size)
    Maintain.rebucket(t, newBuckets = 16)
    check()
    assert(Oracle.diff(CdcMerge.state(t), Oracle.expectedState(e0.unionByName(e1))
      .filter(col("conv_id") =!= victim)).isEmpty)
  }

  test("writeDataFiles buckets a frame that carries no bucket column") {
    val (t, _) = loaded("layout-raw")
    val rows = CdcMerge.state(t).withColumn("_lsn", lit(0L)).withColumn("_deleted", lit(false))
    assert(!rows.columns.contains("_gbucket"))
    val files = t.writeDataFiles(rows, version = 999L, schemaId = t.snapshot.currentSchemaId)
    assertBucketed(t, files, t.numBuckets)
    assert(files.map(_.bucket).distinct.size === files.size)
    assert(files.map(_.rows).sum === rows.count())
  }

  test("rebucket: state survives, new bucket layout prunes, streaming ledger carries over") {
    val (t, ev) = loaded("rebucket")
    val before = CdcMerge.state(t).orderBy("conv_id", "turn_idx").collect().toSeq
    Maintain.rebucket(t, newBuckets = 32)
    assert(t.numBuckets === 32)
    assert(t.appliedEpoch("q") === 0L) // exactly-once ledger preserved
    assert(CdcMerge.state(t).orderBy("conv_id", "turn_idx").collect().toSeq === before)
    // every committed file's bucket tag matches the NEW bucketing of its rows
    t.snapshot.files.foreach { f =>
      assert(f.bucket >= 0 && f.bucket < 32)
      val bad = spark.read.schema(t.snapshot.schemaFor(f.schemaId))
        .parquet(s"${t.dir}/${f.path}")
        .filter(LakeTable.bucketCol(col("conv_id"), 32) =!= f.bucket).count()
      assert(bad === 0L, s"file ${f.path} holds rows outside bucket ${f.bucket}")
    }
    // a merge after rebucketing files its rows on the new layout and stays correct
    val ev2 = ChangeGen.events(spark, 200L, numConvs = 2, maxTurns = 6,
      pDelete = 0.0, seed = 9L, lsnStart = 10000L)
    val r = CdcMerge.applyBatch(t, ev2, 1L, "q")
    assert(r.applied && r.bucketsTouched <= 2) // ≤ numConvs distinct buckets
    assert(Oracle.diff(CdcMerge.state(t),
      Oracle.expectedState(ev.unionByName(ev2))).isEmpty)
  }

  test("rebucket after schema evolution: multi-schema files rewrite onto the current schema") {
    val dir = tmpDir("rebucket-evo")
    val t = LakeTable.create(spark, dir, CdcMerge.physicalSchema(Schemas.transcript), 8)
    val e0 = ChangeGen.events(spark, 1000L, numConvs = 20, maxTurns = 5, pDelete = 0.0)
    CdcMerge.applyBatch(t, e0, 0L, "q")
    // epoch 1 evolves the schema (new payload column) on a few conversations,
    // leaving most rows on old-schema files
    val e1 = ChangeGen.events(spark, 100L, numConvs = 3, maxTurns = 5, pDelete = 0.0,
      lsnStart = 5000L).withColumn("tool_version", concat(lit("v"), col("lsn") % 3))
    CdcMerge.applyBatch(t, e1, 1L, "q")
    assert(t.snapshot.files.map(_.schemaId).distinct.size === 2) // mixed-schema table
    val before = CdcMerge.state(t).orderBy("conv_id", "turn_idx").collect().toSeq
    Maintain.rebucket(t, newBuckets = 32)
    // all files now carry the CURRENT schema id; state unchanged
    assert(t.numBuckets === 32)
    assert(t.snapshot.files.map(_.schemaId).distinct === List(t.snapshot.currentSchemaId))
    assert(CdcMerge.state(t).orderBy("conv_id", "turn_idx").collect().toSeq === before)
  }

  test("truncate (REPLACE mode): table empties, ledger resets, history keeps the old snapshot") {
    val (t, _) = loaded("trunc")
    val vBefore = t.snapshot.version
    val stateBefore = CdcMerge.state(t).orderBy("conv_id", "turn_idx").collect().toSeq
    Maintain.truncate(t)
    assert(CdcMerge.state(t).count() === 0L)
    assert(t.appliedEpoch("q") === -1L)
    // time travel: previous snapshot still lists the data files, and a
    // readAsOf reconstructs the exact pre-truncate user-visible state
    assert(LakeTable.history(t.dir).exists(s => s.version == vBefore && s.files.nonEmpty))
    assert(CdcMerge.stateAsOf(t, vBefore).orderBy("conv_id", "turn_idx")
      .collect().toSeq === stateBefore)
  }

  test("time travel: every committed version reads back as its own LWW state") {
    val dir = tmpDir("timetravel")
    val t = LakeTable.create(spark, dir, CdcMerge.physicalSchema(Schemas.transcript), 8)
    val epochs = (0 until 3).map { e =>
      val ev = ChangeGen.events(spark, 800L, numConvs = 10, maxTurns = 5, pDelete = 0.1,
        seed = e + 1L, lsnStart = e * 10000L)
      // epoch 2 EVOLVES the schema, so historical reads must show the old shape
      if (e == 2) ev.withColumn("tool_version", concat(lit("v"), col("lsn") % 3)) else ev
    }
    val versionAfter = epochs.zipWithIndex.map { case (ev, e) =>
      CdcMerge.applyBatch(t, ev, e.toLong, "q"); t.snapshot.version
    }
    // each historical version equals the LWW oracle over its event prefix
    versionAfter.zipWithIndex.foreach { case (v, e) =>
      val prefix = epochs.take(e + 1)
        .reduce(_.unionByName(_, allowMissingColumns = true))
      assert(Oracle.diff(CdcMerge.stateAsOf(t, v), Oracle.expectedState(prefix)).isEmpty,
        s"time-travel state at v$v diverges from the epoch-${e} oracle")
    }
    // schema OF THE DAY: pre-evolution versions read without the late column,
    // today's table has it
    assert(!t.snapshotAt(versionAfter(1)).schema.fieldNames.contains("tool_version"))
    assert(!t.readAsOf(versionAfter(1)).columns.contains("tool_version"))
    assert(t.schema.fieldNames.contains("tool_version"))
    // a never-committed version fails loudly, not with a silent empty frame
    intercept[IllegalStateException] { t.readAsOf(9999L) }
  }

  test("curate: state minus contaminated minus low-quality, split appended") {
    import spark.implicits._
    import graft.functions.SimOps
    import graft.operators.Curate
    val dir = tmpDir("curate")
    val t = LakeTable.create(spark, dir, CdcMerge.physicalSchema(Schemas.transcript), 8)
    def ev(conv: String, turn: Int, text: String, lsn: Long) =
      (conv, turn, "user", text, null: String,
        java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), "I", lsn)
    val rich = ("the quick brown fox jumps over the lazy dog and some more words " * 3).trim
    val events = Seq(
      ev("c1", 0, rich, 1L),                              // high quality, clean
      ev("c2", 0, "held out eval answer about spark", 2L), // contaminated
      ev("c3", 0, "tiny", 3L),                            // low quality (0.2)
      ev("c4", 0, rich + " extra tail tokens here", 4L),  // high quality, clean
      ev("c5", 0, null, 5L))                              // contentless: never curated
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts", "op", "lsn")
    CdcMerge.applyBatch(t, events, 0L, "q")
    val grams = SimOps.benchGrams(
      Seq((1L, "held out eval answer about spark shuffles")).toDF("doc_id", "text"),
      "doc_id", "text")
    val cur = Curate.curated(t, Some(grams), minQuality = 0.5)
    // the lake is resolved ONCE: the state feeds both sides of the decontam
    // anti-join via a materialization boundary, so the executed plan must not
    // contain one parquet scan of the table per branch (≤1 mention of the
    // table's data dir; the materialized branch shows as an ExistingRDD /
    // InMemoryRelation instead)
    val planScans = cur.queryExecution.executedPlan.toString
      .linesIterator.count(l => l.contains("FileScan") && l.contains(dir))
    assert(planScans <= 1, s"curate plan resolves the lake $planScans times")
    val kept = cur.select("conv_id").collect().map(_.getString(0)).toSet
    assert(kept === Set("c1", "c4")) // c2 contaminated out, c3 quality-gated out
    // quality and split columns equal their operator recomputes
    cur.collect().foreach { r =>
      val text = r.getAs[String]("text")
      val expect = spark.range(1).select(
        graft.functions.TextOps.qualityScore(lit(text)).as("q"),
        graft.functions.TextOps.splitName(
          graft.functions.TextOps.splitBucket(lit(text))).as("s")).collect()(0)
      assert(r.getAs[Double]("quality") === expect.getDouble(0))
      assert(r.getAs[String]("split") === expect.getString(1))
    }
    // no benchmark and no gate → the resolved state minus contentless rows
    // (null text has no quality sample and no content hash to split on)
    assert(Curate.curated(t).count() ===
      CdcMerge.state(t).filter(col("text").isNotNull).count())
    assert(!Curate.curated(t).select("conv_id").collect()
      .map(_.getString(0)).contains("c5"))
    // near-dup cluster dedup inside the export: c1 and c4 are near-dups
    // (shared long prefix) → exactly one of the cluster survives; c2/c3 are
    // judged on their own merits as before
    val nd = Curate.curated(t, Some(grams), minQuality = 0.5,
      neardupThreshold = Some(0.5))
    val ndKept = nd.select("conv_id").collect().map(_.getString(0)).toSet
    assert(ndKept.size === 1 && ndKept.subsetOf(Set("c1", "c4")),
      s"expected one canonical of the c1/c4 cluster, got $ndKept")
    // deterministic: same input → same canonical
    assert(Curate.curated(t, Some(grams), minQuality = 0.5,
      neardupThreshold = Some(0.5))
      .select("conv_id").collect().map(_.getString(0)).toSet === ndKept)
  }

  test("curate redact: PII scrubbed before quality and split are computed") {
    import spark.implicits._
    import graft.operators.Curate
    import graft.functions.TextOps
    val dir = tmpDir("curate-redact")
    val t = LakeTable.create(spark, dir, CdcMerge.physicalSchema(Schemas.transcript), 8)
    val rich = ("the quick brown fox jumps over the lazy dog and more words " * 3).trim
    val events = Seq(
      ("c1", 0, "user", s"$rich mail bob@corp.example.org now", null: String,
        java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), "I", 1L))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts", "op", "lsn")
    CdcMerge.applyBatch(t, events, 0L, "q")
    val r = Curate.curated(t, redact = true).collect().head
    val red = r.getAs[String]("text")
    assert(red.contains("<EMAIL>") && !red.contains("@corp"),
      s"text not redacted: $red")
    // quality and split derive from the REDACTED text (what is exported),
    // not the original — otherwise PII-only variants leak across splits
    val expect = spark.range(1).select(
      TextOps.qualityScore(lit(red)).as("q"),
      TextOps.splitName(TextOps.splitBucket(lit(red))).as("s")).collect()(0)
    assert(r.getAs[Double]("quality") === expect.getDouble(0))
    assert(r.getAs[String]("split") === expect.getString(1))
    // redact=false leaves the text byte-identical
    assert(Curate.curated(t).collect().head.getAs[String]("text")
      .contains("bob@corp.example.org"))
  }

  test("scoped deleteWhere removes only matching rows, copy-on-write") {
    val (t, ev) = loaded("scoped")
    val before = CdcMerge.state(t).count()
    val target = CdcMerge.state(t).filter(col("role") === "tool").count()
    val removed = Maintain.deleteWhere(t, col("role") === "tool" && !col("_deleted"))
    assert(removed === target)
    assert(CdcMerge.state(t).count() === before - target)
    assert(CdcMerge.state(t).filter(col("role") === "tool").count() === 0L)
  }

  test("compact purges old tombstones and preserves state") {
    val (t, ev) = loaded("cmp")
    val stateBefore = CdcMerge.state(t).orderBy("conv_id", "turn_idx").collect().toSeq
    val tombsBefore = t.read().filter(col("_deleted")).count()
    assert(tombsBefore > 0)
    Maintain.compact(t, purgeTombstonesBelow = Long.MaxValue)
    assert(t.read().filter(col("_deleted")).count() === 0L)
    val stateAfter = CdcMerge.state(t).orderBy("conv_id", "turn_idx").collect().toSeq
    assert(stateBefore === stateAfter)
    // compaction bounds file count to ~one per non-empty bucket
    assert(t.snapshot.files.size <= t.numBuckets)
    // manifest row stats are populated from parquet footers and sum to the
    // physical table (post-compaction: no tombstones, so physical == state)
    assert(t.snapshot.files.forall(_.rows > 0L))
    assert(t.physicalRows === t.read().count())
    assert(t.physicalRows === stateAfter.size.toLong)
  }

  test("segmented manifests: commits reuse untouched bucket-range segments by reference") {
    // force segmentation at a tiny threshold so a ~100-file table exercises it
    spark.conf.set("spark.graft.manifest.segmentThreshold", "4")
    try {
      val dir = tmpDir("seg")
      val t = LakeTable.create(spark, dir, CdcMerge.physicalSchema(Schemas.transcript), 64)
      val e0 = ChangeGen.events(spark, 3000L, numConvs = 60, maxTurns = 6, pDelete = 0.1)
      CdcMerge.applyBatch(t, e0, 0L, "q")
      val s1 = t.snapshot
      assert(s1.segments.isDefined && s1.files.nonEmpty,
        "snapshot must be segmented with files reconstituted in memory")
      // the on-disk snapshot JSON must NOT inline the file list
      val raw = org.json4s.jackson.JsonMethods.parse(
        java.nio.file.Files.readString(java.nio.file.Paths.get(
          f"$dir/_manifests/v${s1.version}%08d.json")))
      assert((raw \ "files").children.isEmpty && (raw \ "segments").children.nonEmpty)
      // a reload agrees with the in-memory view
      val reloaded = LakeTable.load(spark, dir)
      assert(reloaded.snapshot.files.toSet === s1.files.toSet)
      assert(Oracle.diff(CdcMerge.state(reloaded), Oracle.expectedState(e0)).isEmpty)
      // a one-conversation merge touches ≤ a few buckets: every untouched
      // bucket range must carry the SAME segment ref (reused, not rewritten)
      val e1 = ChangeGen.events(spark, 50L, numConvs = 1, maxTurns = 6,
        pDelete = 0.0, seed = 7L, lsnStart = 9000L)
      CdcMerge.applyBatch(t, e1, 1L, "q")
      val s2 = t.snapshot
      val refs1 = s1.segments.get.map(r => r.segId -> r.path).toMap
      val refs2 = s2.segments.get.map(r => r.segId -> r.path).toMap
      val changed = refs2.count { case (id, p) => refs1.get(id) match {
        case Some(p1) => p1 != p
        case None => true
      }}
      assert(changed >= 1 && changed <= 2,
        s"a 1-conversation merge must rewrite at most its own ranges, rewrote $changed")
      assert(refs2.exists { case (id, p) => refs1.get(id).contains(p) },
        "untouched segments must be reused by reference")
      assert(Oracle.diff(CdcMerge.state(t),
        Oracle.expectedState(e0.unionByName(e1))).isEmpty)
      // crash-retry: a segment file orphaned by a crash BETWEEN segment writes
      // and the snapshot rename carries the next version's name; the retried
      // commit must overwrite it, not wedge (only the snapshot manifest is the
      // fail-if-exists commit point)
      val nextV = t.snapshot.version + 1
      val orphan = f"${t.dir}/_manifests/seg_v$nextV%08d_0000.json"
      java.nio.file.Files.writeString(java.nio.file.Paths.get(orphan), "[]")
      val e2 = ChangeGen.events(spark, 60L, numConvs = 60, maxTurns = 6,
        pDelete = 0.0, seed = 11L, lsnStart = 20000L)
      CdcMerge.applyBatch(t, e2, 2L, "q") // must not throw on the orphan
      assert(Oracle.diff(CdcMerge.state(t),
        Oracle.expectedState(e0.unionByName(e1).unionByName(e2))).isEmpty)
      // vacuum GCs segment manifests no kept snapshot references, state intact
      Maintain.compact(t)
      val before = CdcMerge.state(t).orderBy("conv_id", "turn_idx").collect().toSeq
      val n = Maintain.vacuum(t, keepSnapshots = 1)
      assert(n > 0)
      assert(CdcMerge.state(LakeTable.load(spark, dir))
        .orderBy("conv_id", "turn_idx").collect().toSeq === before)
    } finally spark.conf.unset("spark.graft.manifest.segmentThreshold")
  }

  test("vacuum removes crash orphans but never live files") {
    val (t, ev) = loaded("vac")
    // orphan: written but never committed
    val orphan = CdcMerge.state(t).limit(10)
      .withColumn("_lsn", lit(0L)).withColumn("_deleted", lit(false))
      .withColumn("_gbucket", LakeTable.bucketCol(col("conv_id"), 8))
    t.writeDataFiles(orphan, version = 999L, schemaId = 0)
    val stateBefore = CdcMerge.state(t).orderBy("conv_id", "turn_idx").collect().toSeq
    val n = Maintain.vacuum(t, keepSnapshots = 1)
    assert(n > 0)
    assert(CdcMerge.state(t).orderBy("conv_id", "turn_idx").collect().toSeq === stateBefore)
  }
}
