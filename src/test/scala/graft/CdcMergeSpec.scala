package graft

import org.apache.spark.sql.functions._

import graft.operators.{CdcMerge, Dedup}
import graft.sources.LakeTable

/** Batch-mode merge scenarios (FIXTURES.md §2.3): tiny-insert, upsert-mix with
  * delete absence, dup-LSN replay idempotence, rejects routing, hot-key salting. */
class CdcMergeSpec extends SparkSpec {

  private def freshTable(name: String, buckets: Int = 16): LakeTable =
    LakeTable.create(spark, tmpDir(name), CdcMerge.physicalSchema(Schemas.transcript), buckets)

  test("tiny-insert: one epoch of inserts equals the oracle state") {
    val t = freshTable("tiny")
    val ev = ChangeGen.events(spark, 1000L, numConvs = 30, maxTurns = 10, pDelete = 0.0)
    val r = CdcMerge.applyBatch(t, ev, epochId = 0L, queryId = "q")
    assert(r.applied && r.rejects == 0)
    assert(Oracle.diff(CdcMerge.state(t), Oracle.expectedState(ev)).isEmpty)
  }

  test("upsert-mix: LWW resolution and delete absence across 5 epochs") {
    val t = freshTable("mix")
    val perEpoch = 2000L
    val all = (0 until 5).map { e =>
      ChangeGen.events(spark, perEpoch, numConvs = 40, maxTurns = 8, pDelete = 0.1,
        seed = 42L + e, lsnStart = e * perEpoch)
    }
    all.zipWithIndex.foreach { case (ev, e) =>
      assert(CdcMerge.applyBatch(t, ev, e.toLong, "q").applied)
    }
    val union = all.reduce(_.unionByName(_))
    assert(Oracle.diff(CdcMerge.state(t), Oracle.expectedState(union)).isEmpty)
    // a key whose max-LSN op is D must be absent
    val expected = Oracle.expectedState(union)
    assert(CdcMerge.state(t).count() === expected.count())
  }

  test("dup-lsn-replay: re-applying an epoch with a NEW epoch id but identical rows is a no-op on state") {
    val t = freshTable("dup")
    val ev = ChangeGen.events(spark, 1500L, numConvs = 25, maxTurns = 6, pDelete = 0.1)
    CdcMerge.applyBatch(t, ev, 0L, "q")
    val before = CdcMerge.state(t).orderBy("conv_id", "turn_idx").collect().toSeq
    CdcMerge.applyBatch(t, ev, 1L, "q") // verbatim redelivery under a fresh epoch
    val after = CdcMerge.state(t).orderBy("conv_id", "turn_idx").collect().toSeq
    assert(before === after)
  }

  test("epoch ledger: re-applying the SAME epoch id is skipped entirely") {
    val t = freshTable("ledger")
    val ev = ChangeGen.events(spark, 500L, numConvs = 10, maxTurns = 5)
    assert(CdcMerge.applyBatch(t, ev, 7L, "q").applied)
    val v = t.snapshot.version
    val r2 = CdcMerge.applyBatch(t, ev, 7L, "q")
    assert(!r2.applied)
    assert(t.snapshot.version === v) // no new snapshot committed
  }

  test("rejects: null-key and invalid-op rows divert with a reason; batch still commits") {
    val t = freshTable("rej")
    val ok = ChangeGen.events(spark, 300L, numConvs = 10, maxTurns = 5, pDelete = 0.0)
    val bad = ok.limit(10)
      .withColumn("conv_id", lit(null).cast("string"))
      .withColumn("lsn", col("lsn") + 1000000L)
    val badOp = ok.limit(5)
      .withColumn("op", lit("X"))
      .withColumn("lsn", col("lsn") + 2000000L)
    val r = CdcMerge.applyBatch(t, ok.unionByName(bad).unionByName(badOp), 0L, "q")
    assert(r.applied && r.rejects === 15L)
    val rej = CdcMerge.rejects(t, "q")
    assert(rej.count() === 15L)
    assert(rej.filter(col("reason") === "null conv_id").count() === 10L)
    assert(rej.filter(col("reason") === "invalid op").count() === 5L)
    assert(Oracle.diff(CdcMerge.state(t), Oracle.expectedState(ok)).isEmpty)
  }

  test("rejects: NULL op diverts to dead-letter instead of silently vanishing") {
    val t = freshTable("nullop")
    val ok = ChangeGen.events(spark, 200L, numConvs = 10, maxTurns = 5, pDelete = 0.0)
    val nullOp = ok.limit(7)
      .withColumn("op", lit(null).cast("string"))
      .withColumn("lsn", col("lsn") + 1000000L)
    val r = CdcMerge.applyBatch(t, ok.unionByName(nullOp), 0L, "q")
    assert(r.applied && r.rejects === 7L)
    assert(CdcMerge.rejects(t, "q").filter(col("reason") === "null op").count() === 7L)
    // the good rows still landed — nothing was silently dropped
    assert(Oracle.diff(CdcMerge.state(t), Oracle.expectedState(ok)).isEmpty)
  }

  test("P6 guard: unknown roles divert with reason and warn exactly once per value") {
    val t = freshTable("guard")
    val known = Seq("user", "assistant", "tool", "system")
    val ok = ChangeGen.events(spark, 300L, numConvs = 10, maxTurns = 5, pDelete = 0.0)
    val alien = ok.limit(9)
      .withColumn("role", lit("alien"))
      .withColumn("lsn", col("lsn") + 1000000L)
    val r = CdcMerge.applyBatch(t, ok.unionByName(alien), 0L, "q",
      knownRoles = Some(known))
    assert(r.applied && r.rejects === 9L)
    assert(CdcMerge.rejects(t, "q").filter(col("reason") === "unknown role").count() === 9L)
    assert(CdcMerge.warnedUnknownValues.contains("alien"))
    assert(Oracle.diff(CdcMerge.state(t), Oracle.expectedState(ok)).isEmpty)
    // without the guard the same rows flow through (role is payload, not key)
    val t2 = freshTable("noguard")
    val r2 = CdcMerge.applyBatch(t2, ok.unionByName(alien), 0L, "q")
    assert(r2.rejects === 0L)
  }

  test("skew sample: a hot key living ONLY in the last (smallest) file is detected and salted") {
    // The old `limit(100000)` sample read the FIRST partitions — Spark packs
    // files largest-first, so a hot key concentrated in a small tail file was
    // invisible. `sample(fraction)` draws from every file.
    val dir = tmpDir("skewtail")
    val normal = ChangeGen.events(spark, 150000L, numConvs = 5000, maxTurns = 10,
      pDelete = 0.0)
    val hot = ChangeGen.events(spark, 50000L, numConvs = 1, maxTurns = 10,
      pDelete = 0.0, lsnStart = 200000L)
      .withColumn("conv_id", lit("conv-hot"))
    normal.coalesce(3).write.parquet(s"$dir/n")
    hot.coalesce(1).write.parquet(s"$dir/h")
    val batch = spark.read.parquet(s"$dir/n", s"$dir/h")
    val share = graft.operators.Skew.topKeyShare(batch, "conv_id")
    assert(share > 0.15, s"sampled hot-key share $share must see the tail file")
    val t = freshTable("skewtail")
    val r = CdcMerge.applyBatch(t, batch, 0L, "q", saltThreshold = 0.15)
    assert(r.applied)
    assert(t.snapshot.summary("graft.salted") === "true")
  }

  test("hot-key: 30% skew takes the salted path and matches the unsalted result") {
    val t = freshTable("hot")
    val ev = ChangeGen.events(spark, 20000L, numConvs = 50, maxTurns = 10,
      hotShare = 0.3, pDelete = 0.05)
    val r = CdcMerge.applyBatch(t, ev, 0L, "q", saltThreshold = 0.2)
    assert(r.applied)
    assert(t.snapshot.summary("graft.salted") === "true")
    assert(Oracle.diff(CdcMerge.state(t), Oracle.expectedState(ev)).isEmpty)
    // salted and unsalted dedup agree row-for-row (incl. the
    // duplicate-lsn redelivery tie-break: union the batch with itself)
    val evDup = ev.unionByName(ev.limit(500))
    val a = Dedup.lww(evDup).orderBy("conv_id", "turn_idx").collect().toSeq
    val b = Dedup.lwwSalted(evDup).orderBy("conv_id", "turn_idx").collect().toSeq
    assert(a === b)
  }

  test("skew cache: a table recreated at the same path does not inherit a later epoch's sample") {
    val dir = tmpDir("skewreuse")
    def create() = LakeTable.create(spark, dir, CdcMerge.physicalSchema(Schemas.transcript), 16)
    val hot = ChangeGen.events(spark, 20000L, numConvs = 50, maxTurns = 10,
      hotShare = 0.3, pDelete = 0.05)
    val old = create()
    assert(CdcMerge.applyBatch(old, hot, 5L, "q", saltThreshold = 0.2).applied)
    assert(old.snapshot.summary("graft.salted") === "true")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    // the new table's stream restarts at epoch 0, below the cached sample's 5
    val t = create()
    val uniform = ChangeGen.events(spark, 20000L, numConvs = 2000, maxTurns = 10,
      pDelete = 0.05)
    assert(CdcMerge.applyBatch(t, uniform, 0L, "q", saltThreshold = 0.2).applied)
    assert(t.snapshot.summary("graft.salted") === "false")
    assert(Oracle.diff(CdcMerge.state(t), Oracle.expectedState(uniform)).isEmpty)
  }

  test("unsalted dedup is one aggregate: no executed plan of the merge joins") {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val t = freshTable("onejoinless")
    val ev = ChangeGen.events(spark, 5000L, numConvs = 200, maxTurns = 10, pDelete = 0.1)
    // dirty rows, so the reject count the dedup scan observes is not zero
    val bad = ev.limit(15).withColumn("op", lit("X")).withColumn("lsn", col("lsn") + 1000000L)
    val (r, plans) = executedPlans(CdcMerge.applyBatch(t, ev.unionByName(bad), 0L, "q"))
    assert(r.applied && t.snapshot.summary("graft.salted") === "false")
    val executed = plans.flatMap(planNodes)
    assert(executed.exists(_.isInstanceOf[InMemoryTableScanExec]), "the dedup plan was not seen")
    val joins = executed.collect { case j: BaseJoinExec => j.nodeName }
    assert(joins.isEmpty, s"joins in the merge's plans: $joins")
    // the reject observation and the conflict count still resolve exactly
    val keys = ev.select("conv_id", "turn_idx").distinct().count()
    assert(r.rejects === 15L)
    assert(r.keysTouched === keys && r.conflicts === 5000L - keys)
    assert(Oracle.diff(CdcMerge.state(t), Oracle.expectedState(ev)).isEmpty)
  }

  test("lineage: per-bucket LSN ranges, applied rows, deletes and conflicts are emitted") {
    val t = freshTable("lin")
    val ev = ChangeGen.events(spark, 5000L, numConvs = 20, maxTurns = 5, pDelete = 0.1)
    val r = CdcMerge.applyBatch(t, ev, 0L, "q")
    val lin = CdcMerge.lineage(t, "q")
    val agg = lin.agg(
      sum("rows_applied").as("rows"), sum("deletes").as("d"), sum("conflicts").as("c"),
      min("lsn_min").as("lo"), max("lsn_max").as("hi")).collect()(0)
    assert(agg.getLong(0) === r.keysTouched)
    assert(agg.getLong(1) === r.deletes)
    assert(agg.getLong(2) === r.conflicts)
    assert(agg.getLong(3) === 0L && agg.getLong(4) === 4999L)
    // conflicts = raw events - surviving keys
    assert(r.conflicts === 5000L - r.keysTouched)
  }

  test("a merge never reads the target: no executed plan scans the table's data files") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val t = freshTable("noread")
    val e0 = ChangeGen.events(spark, 2000L, numConvs = 40, maxTurns = 8, pDelete = 0.1)
    assert(CdcMerge.applyBatch(t, e0, 0L, "q").applied && t.snapshot.files.nonEmpty)
    // the batch comes from parquet, so the merge's plans do hold a file scan
    val src = tmpDir("noread-src")
    ChangeGen.events(spark, 500L, numConvs = 40, maxTurns = 8, pDelete = 0.1,
      seed = 3L, lsnStart = 5000L).write.mode("overwrite").parquet(src)
    val e1 = spark.read.parquet(src)
    def scanned(plans: Seq[org.apache.spark.sql.execution.SparkPlan]): Seq[String] =
      plans.flatMap(planNodes).collect { case s: FileSourceScanExec => s }
        .flatMap(_.relation.location.rootPaths.map(_.toUri.getPath))
    val dataDir = s"${new java.io.File(t.dir).getCanonicalPath}/data/"
    val (r, plans) = executedPlans(CdcMerge.applyBatch(t, e1, 1L, "q"))
    assert(r.applied)
    val paths = scanned(plans)
    assert(paths.exists(_.startsWith(new java.io.File(src).getCanonicalPath)),
      s"the batch's scan was not seen: $paths")
    assert(!paths.exists(_.startsWith(dataDir)), s"the merge read target files: $paths")
    // the same probe does see a read of the target
    val (_, reads) = executedPlans(CdcMerge.state(t).count())
    assert(scanned(reads).exists(_.startsWith(dataDir)))
    assert(Oracle.diff(CdcMerge.state(t), Oracle.expectedState(e0.unionByName(e1))).isEmpty)
  }

  test("CdcStream.start rejects a merge mode other than mor before any query starts") {
    import graft.streaming.CdcStream
    val dir = tmpDir("mergemode")
    val src = s"$dir/src"
    ChangeGen.events(spark, 100L, numConvs = 5, maxTurns = 4).write.parquet(s"$src/e0")
    val ckpt = s"$dir/ckpt"
    val active = spark.streams.active.length
    val cfg = CdcStream.Config(sourceDir = src, tableDir = s"$dir/table",
      checkpointDir = ckpt, queryId = "mm", mergeMode = "cow")
    val e = intercept[IllegalArgumentException](CdcStream.start(spark, cfg))
    assert(e.getMessage.contains("mergeMode"), e.getMessage)
    assert(spark.streams.active.length === active)
    assert(!new java.io.File(s"$ckpt/offsets").exists(), "the rejected stream wrote offsets")
    assert(!new java.io.File(s"$dir/table").exists(), "the rejected stream created the table")
  }
}
