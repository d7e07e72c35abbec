package graft

import org.apache.spark.sql.functions._

import graft.operators.{CdcMerge, ChangeFeed}
import graft.sources.LakeTable

/** Change-data-feed read side: watermark diff semantics, version diff vs a
  * naive per-key classification over resolved states (incl. deletes), and the
  * one-shuffle plan shape. */
class ChangeFeedSpec extends SparkSpec {

  test("byWatermark: insert/update/unchanged/beyond-horizon classification") {
    import spark.implicits._
    val ev = Seq(
      ("A", 1L, "a1"),                  // only before t1        -> unchanged
      ("B", 1L, "b1"), ("B", 5L, "b5"), // advanced across t1,t2 -> update
      ("C", 4L, "c4"),                  // born in (t1, t2]      -> insert
      ("D", 9L, "d9"),                  // born after t2         -> absent
      ("E", 2L, "e2"), ("E", 3L, "e3")  // churn entirely <= t1  -> unchanged
    ).toDF("k", "lsn", "v")
    val got = ChangeFeed.byWatermark(ev, Seq("k"), "lsn", Seq("v"), t1 = 3L, t2 = 7L)
      .collect().map(r => (r.getString(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getLong(3), r.getString(4))).toSet
    assert(got === Set(
      ("B", "update", 1L, 5L, "b5"),
      ("C", "insert", -1L, 4L, "c4")))
  }

  test("betweenVersions matches a naive per-key classification, deletes included") {
    val t = LakeTable.create(spark, tmpDir("cfeed"),
      CdcMerge.physicalSchema(Schemas.transcript), 8)
    val e0 = ChangeGen.events(spark, 1200L, numConvs = 25, maxTurns = 6,
      pDelete = 0.05, seed = 7L, lsnStart = 0L)
    assert(CdcMerge.applyBatch(t, e0, 0L, "q").applied)
    val v1 = t.snapshot.version
    val e1 = ChangeGen.events(spark, 1200L, numConvs = 25, maxTurns = 6,
      pDelete = 0.3, seed = 8L, lsnStart = 1200L)
    assert(CdcMerge.applyBatch(t, e1, 1L, "q").applied)
    val v2 = t.snapshot.version

    def winners(v: Long): Map[(String, Int), (Long, Boolean, String)] =
      CdcMerge.resolve(t.readAsOf(v))
        .select("conv_id", "turn_idx", "_lsn", "_deleted", "text").collect()
        .map(r => (r.getString(0), r.getInt(1)) ->
          ((r.getLong(2), r.getBoolean(3), if (r.isNullAt(4)) null else r.getString(4))))
        .toMap
    val (w1, w2) = (winners(v1), winners(v2))
    val expected = (w1.keySet ++ w2.keySet).flatMap { k =>
      val o = w1.get(k).filterNot(_._2) // live at v1
      val n = w2.get(k).filterNot(_._2) // live at v2
      (o, n) match {
        case (None, Some(nw)) => Some((k, "insert", None, nw._1, nw._3))
        case (Some(ow), None) => Some((k, "delete", Some(ow._1), w2(k)._1, ow._3))
        case (Some(ow), Some(nw)) if nw._1 > ow._1 =>
          Some((k, "update", Some(ow._1), nw._1, nw._3))
        case _ => None
      }
    }
    val got = ChangeFeed.betweenVersions(t, v1, v2)
      .select("conv_id", "turn_idx", ChangeFeed.changeCol, "_old_lsn", "_new_lsn", "text")
      .collect().map(r => ((r.getString(0), r.getInt(1)), r.getString(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getLong(4),
        if (r.isNullAt(5)) null else r.getString(5))).toSet
    assert(got === expected, s"feed mismatch: extra=${got -- expected} missing=${expected -- got}")
    assert(got.exists(_._2 == "delete"), "scenario must exercise deletes")
    assert(got.exists(_._2 == "update"))
  }

  test("betweenVersions one-scan: equals the two-read union, shared files read once") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val t = LakeTable.create(spark, tmpDir("cfeed1scan"),
      CdcMerge.physicalSchema(Schemas.transcript), 8)
    val e0 = ChangeGen.events(spark, 900L, numConvs = 20, maxTurns = 6,
      pDelete = 0.05, seed = 21L, lsnStart = 0L)
    assert(CdcMerge.applyBatch(t, e0, 0L, "q").applied)
    val v1 = t.snapshot.version
    val e1 = ChangeGen.events(spark, 900L, numConvs = 20, maxTurns = 6,
      pDelete = 0.3, seed = 22L, lsnStart = 900L)
    assert(CdcMerge.applyBatch(t, e1, 1L, "q").applied)
    val v2 = t.snapshot.version

    val fast = ChangeFeed.betweenVersions(t, v1, v2)
    // the pre-round-6 two-readAsOf union, inlined
    val payload = t.schema.fieldNames.toSeq
      .filterNot(c => CdcMerge.sysCols.contains(c) || Schemas.keyCols.contains(c))
    val slow = ChangeFeed.diffTagged(
      t.readAsOf(v1).withColumn("_gen", lit(1))
        .unionByName(t.readAsOf(v2).withColumn("_gen", lit(2)), true),
      Schemas.keyCols, payload)
    assert(fast.exceptAll(slow).isEmpty && slow.exceptAll(fast).isEmpty,
      "one-scan feed must be row-identical to the two-read union")

    // files-read pin: every data file of the two manifests' union appears in
    // exactly ONE scan relation exactly once (the old form read the shared
    // merge-on-read prefix twice)
    def scanFiles(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case l: LogicalRelation => l.relation match {
          case fs: HadoopFsRelation => fs.location.inputFiles.toSeq
          case _ => Seq.empty
        }
      }.flatten
    val fastFiles = scanFiles(fast)
    val expected =
      (t.snapshotAt(v1).files.map(_.path) ++ t.snapshotAt(v2).files.map(_.path)).distinct
    assert(fastFiles.size === fastFiles.distinct.size, "a file is scanned twice")
    assert(fastFiles.size === expected.size,
      s"scan must cover the union once: got ${fastFiles.size}, want ${expected.size}")
    assert(scanFiles(slow).size > expected.size,
      "control: the two-read union does scan the shared prefix twice")
  }

  /** Over every pair of `versions`, betweenVersions equals diffTagged over the
    * two time-travel reads, with the to-version's payload columns. */
  private def assertFeedsMatchTwoReads(t: LakeTable, versions: Seq[Long]): Unit =
    versions.combinations(2).foreach { case Seq(from, to) =>
      val payload = t.snapshotAt(to).schema.fieldNames.toSeq
        .filterNot(c => CdcMerge.sysCols.contains(c) || Schemas.keyCols.contains(c))
      val expected = ChangeFeed.diffTagged(
        t.readAsOf(from).withColumn("_gen", lit(1))
          .unionByName(t.readAsOf(to).withColumn("_gen", lit(2)), true),
        Schemas.keyCols, payload)
      val feed = ChangeFeed.betweenVersions(t, from, to)
      assert(feed.schema.map(f => (f.name, f.dataType)) ===
        expected.schema.map(f => (f.name, f.dataType)), s"feed($from, $to) columns")
      assert(expected.count() > 0, s"feed($from, $to) is empty: nothing is compared")
      assert(feed.exceptAll(expected).isEmpty && expected.exceptAll(feed).isEmpty,
        s"feed($from, $to) differs from the two-read union")
    }

  test("betweenVersions across column adds: each feed carries its to-version's columns") {
    val t = LakeTable.create(spark, tmpDir("cfevo"),
      CdcMerge.physicalSchema(Schemas.transcript), 8)
    def epoch(e: Int, n: Long, convs: Int, pDelete: Double) =
      ChangeGen.events(spark, n, numConvs = convs, maxTurns = 5, pDelete = pDelete,
        seed = 30L + e, lsnStart = e * 10000L)
    assert(CdcMerge.applyBatch(t, epoch(0, 800L, 20, 0.05), 0L, "q").applied)
    val v1 = t.snapshot.version
    assert(CdcMerge.applyBatch(t, epoch(1, 200L, 6, 0.2)
      .withColumn("tool_version", concat(lit("v"), col("lsn") % 3)), 1L, "q").applied)
    val v2 = t.snapshot.version
    assert(CdcMerge.applyBatch(t, epoch(2, 200L, 6, 0.2)
      .withColumn("tool_version", concat(lit("w"), col("lsn") % 3))
      .withColumn("score", (col("lsn") % 7).cast("double")), 2L, "q").applied)
    val v3 = t.snapshot.version
    assert(t.snapshot.files.map(_.schemaId).distinct.size === 3)
    assertFeedsMatchTwoReads(t, Seq(v1, v2, v3))
    val cols12 = ChangeFeed.betweenVersions(t, v1, v2).columns.toSet
    assert(cols12.contains("tool_version") && !cols12.contains("score"))
    assert(ChangeFeed.betweenVersions(t, v1, v3)
      .filter(col("score").isNotNull).limit(1).count() === 1L)
  }

  test("betweenVersions across an int→long widen and a later column add") {
    val t = LakeTable.create(spark, tmpDir("cfwiden"),
      CdcMerge.physicalSchema(Schemas.transcript), 8)
    def epoch(e: Int, n: Long, convs: Int, pDelete: Double) =
      ChangeGen.events(spark, n, numConvs = convs, maxTurns = 5, pDelete = pDelete,
        seed = 40L + e, lsnStart = e * 10000L)
    assert(CdcMerge.applyBatch(t, epoch(0, 800L, 15, 0.05), 0L, "q").applied)
    val v1 = t.snapshot.version
    assert(CdcMerge.applyBatch(t, epoch(1, 200L, 4, 0.2)
      .withColumn("turn_idx", col("turn_idx").cast("long")), 1L, "q").applied)
    val v2 = t.snapshot.version
    assert(CdcMerge.applyBatch(t, epoch(2, 200L, 4, 0.2)
      .withColumn("turn_idx", col("turn_idx").cast("long"))
      .withColumn("tool_version", concat(lit("v"), col("lsn") % 3)), 2L, "q").applied)
    val v3 = t.snapshot.version
    assert(t.schema("turn_idx").dataType === org.apache.spark.sql.types.LongType)
    assertFeedsMatchTwoReads(t, Seq(v1, v2, v3))
  }

  test("squash(feed(v0,v1), feed(v1,v2)) equals feed(v0,v2): classification and LSNs exact, payloads exact except squashed-delete") {
    val t = LakeTable.create(spark, tmpDir("cfsq"),
      CdcMerge.physicalSchema(Schemas.transcript), 8)
    // seed the table first: against an EMPTY v0 no key can classify as a
    // delete (nothing was live), which would leave the delete paths untested
    assert(CdcMerge.applyBatch(t, ChangeGen.events(spark, 900L, numConvs = 20,
      maxTurns = 6, pDelete = 0.05, seed = 10L, lsnStart = 0L), 0L, "q").applied)
    val v0 = t.snapshot.version
    assert(CdcMerge.applyBatch(t, ChangeGen.events(spark, 900L, numConvs = 20,
      maxTurns = 6, pDelete = 0.2, seed = 11L, lsnStart = 900L), 1L, "q").applied)
    val v1 = t.snapshot.version
    assert(CdcMerge.applyBatch(t, ChangeGen.events(spark, 900L, numConvs = 20,
      maxTurns = 6, pDelete = 0.3, seed = 12L, lsnStart = 1800L), 2L, "q").applied)
    val v2 = t.snapshot.version
    val payload = Seq("role", "text", "tool", "ts")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("conv_id", "turn_idx", ChangeFeed.changeCol, "_old_lsn", "_new_lsn", "text")
      .collect().map(r => ((r.getString(0), r.getInt(1)), r.getString(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getLong(4),
        if (r.isNullAt(5)) None else Some(r.getString(5)))).toSet
    val squashed = rows(ChangeFeed.squash(
      ChangeFeed.betweenVersions(t, v0, v1), ChangeFeed.betweenVersions(t, v1, v2),
      Schemas.keyCols, payload))
    val direct = rows(ChangeFeed.betweenVersions(t, v0, v2))
    // delete rows: the direct feed carries the v0 payload image and the
    // NEWEST tombstone LSN at v2, neither of which the input feeds contain
    // (tombstone-advance events emit no feed row) — squash documents payload
    // NULL and a possibly-earlier tombstone LSN; mask both on both sides
    def mask(s: Set[((String, Int), String, Option[Long], Long, Option[String])]) =
      s.map { case r @ (k, c, o, _, _) => if (c == "delete") (k, c, o, -1L, None) else r }
    assert(mask(squashed) === mask(direct),
      s"extra=${mask(squashed) -- mask(direct)} missing=${mask(direct) -- mask(squashed)}")
    // and insert/update payloads must be EXACT (unmasked)
    assert(squashed.filter(_._2 != "delete") === direct.filter(_._2 != "delete"))
    assert(direct.exists(_._2 == "delete") && direct.exists(_._2 == "update"))
  }

  test("streaming CDF: per-epoch feeds over a replayed stream squash-fold to the whole-replay feed") {
    // the streaming change-data-feed costs the WRITE path nothing: each
    // microbatch's feed is derived lazily from the committed snapshots it
    // already produced, and consumers that missed windows squash-fold
    val src = tmpDir("cdf-src"); val tbl = tmpDir("cdf-tbl")
    ChangeGen.writeEpochs(spark, src, epochs = 4, eventsPerEpoch = 1500L,
      numConvs = 30, maxTurns = 6, pDelete = 0.2)
    graft.streaming.CdcStream.runAvailable(spark, graft.streaming.CdcStream.Config(
      src, tbl, tmpDir("cdf-ck"), queryId = "cdf", numBuckets = 8,
      maxFilesPerTrigger = Some(1))) // several microbatches -> several commits
    val t = LakeTable.load(spark, tbl)
    val versions = LakeTable.history(tbl).map(_.version).sorted
    assert(versions.size >= 4, s"expected one commit per epoch, got $versions")
    val payload = Seq("role", "text", "tool", "ts")
    val feeds = versions.sliding(2)
      .map { case Seq(a, b) => ChangeFeed.betweenVersions(t, a, b) }.toSeq
    val folded = feeds.reduce((x, y) => ChangeFeed.squash(x, y, Schemas.keyCols, payload))
    val direct = ChangeFeed.betweenVersions(t, versions.head, versions.last)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("conv_id", "turn_idx", ChangeFeed.changeCol, "_old_lsn", "_new_lsn", "text")
      .collect().map { r =>
        val del = r.getString(2) == "delete"
        ((r.getString(0), r.getInt(1)), r.getString(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          if (del) -1L else r.getLong(4),
          if (del || r.isNullAt(5)) None else Some(r.getString(5)))
      }.toSet
    assert(rows(folded) === rows(direct))
    // versions.head is GENESIS (empty table), so the direct feed can never
    // classify a delete — mid-stream deletes must appear in the per-epoch
    // feeds and ANNIHILATE (insert+delete) or fold (update+delete→delete,
    // itself annihilating against the key's original insert) during squash
    assert(feeds.exists(
      _.filter(col(ChangeFeed.changeCol) === "delete").limit(1).count() > 0),
      "scenario must exercise mid-stream deletes")
  }

  test("one-shuffle plan: a single hash aggregate exchange, no join") {
    import spark.implicits._
    val ev = Seq(("A", 1L, "x"), ("B", 4L, "y")).toDF("k", "lsn", "v")
    val plan = ChangeFeed.byWatermark(ev, Seq("k"), "lsn", Seq("v"), 1L, 5L)
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1, plan)
    assert(!plan.contains("Join"), plan)
  }
}
