package graft

import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FilterFileSystem, Path => HPath}

import graft.operators.{CdcMerge, Maintain}
import graft.sources.{GraftLocalFileSystem, HadoopLakeIO, LakeTable}
import graft.streaming.CdcStream

/** The commit protocol through the lake's one driver-side IO path,
  * [[HadoopLakeIO]] — the Hadoop FileSystem Spark writes the data files
  * through: manifests, the applied ledger, time travel, vacuum and the
  * optimistic-concurrency failure on a duplicate version, and a re-run epoch
  * after a rename that failed under HDFS's rename contract. */
class LakeIoSpec extends SparkSpec {

  private def sorted(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("conv_id", "turn_idx").collect().toSeq

  test("merge + history + state through HadoopLakeIO equals the oracle") {
    val ev0 = ChangeGen.events(spark, 2000L, numConvs = 40, maxTurns = 8, pDelete = 0.1)
    val ev1 = ChangeGen.events(spark, 2000L, numConvs = 40, maxTurns = 8, pDelete = 0.1,
      seed = 7L, lsnStart = 2000L)
    val t = LakeTable.create(spark, tmpDir("lakeio"),
      CdcMerge.physicalSchema(Schemas.transcript), numBuckets = 16)
    CdcMerge.applyBatch(t, ev0, 0L, "q")
    CdcMerge.applyBatch(t, ev1, 1L, "q")
    assert(LakeTable.history(t.dir).size === 3) // create + 2 merges
    assert(t.snapshot.applied("q") === 1L)
    assert(LakeTable.load(spark, t.dir).appliedEpoch("q") === 1L)
    assert(Oracle.diff(CdcMerge.state(t), Oracle.expectedState(ev0.unionByName(ev1))).isEmpty)
  }

  test("time travel through HadoopLakeIO equals the oracle per version") {
    val ev0 = ChangeGen.events(spark, 1500L, numConvs = 25, maxTurns = 6, pDelete = 0.1)
    val ev1 = ChangeGen.events(spark, 1500L, numConvs = 25, maxTurns = 6, pDelete = 0.1,
      seed = 11L, lsnStart = 5000L)
    val t = LakeTable.create(spark, tmpDir("lakeio-tt"),
      CdcMerge.physicalSchema(Schemas.transcript), numBuckets = 8)
    CdcMerge.applyBatch(t, ev0, 0L, "q")
    val vMid = t.snapshot.version
    CdcMerge.applyBatch(t, ev1, 1L, "q")
    assert(Oracle.diff(CdcMerge.stateAsOf(t, vMid), Oracle.expectedState(ev0)).isEmpty)
    assert(Oracle.diff(CdcMerge.state(t), Oracle.expectedState(ev0.unionByName(ev1))).isEmpty)
    // the mid version is genuinely older
    assert(sorted(CdcMerge.stateAsOf(t, vMid)) !== sorted(CdcMerge.state(t)))
  }

  test("HadoopLakeIO commit point rejects a duplicate manifest version") {
    val t = LakeTable.create(spark, tmpDir("lakeio-dup"),
      CdcMerge.physicalSchema(Schemas.transcript), numBuckets = 4)
    val s = t.snapshot
    intercept[IllegalStateException] {
      // same content re-written under the SAME version must fail (optimistic
      // concurrency: the v-file already exists)
      t.fs.writeStringAtomic(s"${t.dir}/_manifests/v${"%08d".format(s.version)}.json", "{}")
    }
  }

  test("replaceStringAtomic overwrites in place") {
    val io = HadoopLakeIO(spark)
    val p = s"${tmpDir("replace")}/ptr.json"
    assert(io.readString(p) === None)
    io.replaceStringAtomic(p, "v1")        // create
    assert(io.readString(p) === Some("v1"))
    io.replaceStringAtomic(p, "v2")        // replace (newest-wins pointer)
    assert(io.readString(p) === Some("v2"))
    // the fail-if-exists commit point is untouched by the replacing write
    intercept[IllegalStateException] { io.writeStringAtomic(p, "v3") }
    assert(io.readString(p) === Some("v2"))
  }

  test("vacuum works through HadoopLakeIO") {
    // a low segment threshold, so vacuum also collects segment manifests
    spark.conf.set("spark.graft.manifest.segmentThreshold", "4")
    try {
      val t = LakeTable.create(spark, tmpDir("lakeio-vac"),
        CdcMerge.physicalSchema(Schemas.transcript), numBuckets = 8)
      (0 until 4).foreach { e =>
        val ev = ChangeGen.events(spark, 500L, numConvs = 10, maxTurns = 5,
          seed = e.toLong, lsnStart = e * 500L)
        CdcMerge.applyBatch(t, ev, e.toLong, "q")
      }
      Maintain.compact(t)
      def names(d: String) = Files.list(Paths.get(t.dir, d)).iterator().asScala
        .map(_.getFileName.toString).toSet
      def counted() = names("data").count(_.endsWith(".parquet")) +
        names("_manifests").count(_.startsWith("seg_"))
      val before = sorted(CdcMerge.state(t))
      val countedBefore = counted()
      // vacuum reads only the kept snapshots' manifests: an expired one may
      // be unreadable
      Files.writeString(Paths.get(t.dir, "_manifests", "v00000001.json"), "not a manifest")
      Files.deleteIfExists(Paths.get(t.dir, "_manifests", ".v00000001.json.crc"))
      val removed = Maintain.vacuum(t, keepSnapshots = 1)
      assert(removed > 0) // compaction leaves the merges' appended files to GC
      // the count is data files and segment manifests; sidecars go uncounted
      assert(removed === countedBefore - counted())
      assert(sorted(CdcMerge.state(t)) === before)
      // a data file's .crc sidecar moved in with it and leaves with it
      val data = names("data")
      val parquet = data.filter(_.endsWith(".parquet"))
      assert(parquet === t.snapshot.files.map(_.path.stripPrefix("data/")).toSet)
      assert(data -- parquet === parquet.map(n => s".$n.crc"),
        s"data/ sidecars do not match its parquet files: ${data -- parquet}")
    } finally spark.conf.unset("spark.graft.manifest.segmentThreshold")
  }

  test("a failed rename into data/ or onto the snapshot manifest: the re-run epoch commits once") {
    import HdfsLikeFileSystem.failNextRenameInto
    val ev0 = ChangeGen.events(spark, 1500L, numConvs = 30, maxTurns = 6, pDelete = 0.1)
    val ev1 = ChangeGen.events(spark, 1500L, numConvs = 30, maxTurns = 6, pDelete = 0.1,
      seed = 5L, lsnStart = 1500L)
    val expected = Oracle.expectedState(ev0.unionByName(ev1))
    def causes(e: Throwable): Seq[Throwable] =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq
    spark.conf.set("fs.file.impl", classOf[HdfsLikeFileSystem].getName)
    spark.conf.set("fs.file.impl.disable.cache", "true")
    try Seq[(String, HPath => Boolean)](
      "data" -> (_.getParent.getName == "data"),
      "manifest" -> (p => p.getParent.getName == "_manifests" &&
        p.getName.matches("v\\d+\\.json"))
    ).foreach { case (tag, target) =>
      val dir = tmpDir(s"lakeio-crash-$tag")
      val t = LakeTable.create(spark, dir, CdcMerge.physicalSchema(Schemas.transcript),
        numBuckets = 8)
      CdcMerge.applyBatch(t, ev0, 0L, "q")
      failNextRenameInto(target)
      val err = intercept[Exception](CdcMerge.applyBatch(LakeTable.load(spark, dir), ev1, 1L, "q"))
      assert(causes(err).exists(c => Option(c.getMessage).exists(_.startsWith("injected"))), err)
      val retry = LakeTable.load(spark, dir)
      assert(retry.appliedEpoch("q") === 0L, s"$tag: the failed epoch committed")
      // after a failed manifest rename, the re-run moves its data files onto
      // the failed attempt's orphans
      CdcMerge.applyBatch(retry, ev1, 1L, "q")
      assert(retry.appliedEpoch("q") === 1L, tag)
      assert(LakeTable.load(spark, dir).appliedEpoch("q") === 1L, tag)
      assert(Oracle.diff(CdcMerge.state(retry), expected).isEmpty, tag)
      val lin1 = CdcMerge.lineage(retry, "q").filter(col("epoch_id") === 1)
      assert(lin1.count() > 0 && lin1.count() === lin1.select("bucket").distinct().count(),
        s"$tag: epoch 1 lineage is not one row per bucket")
    } finally {
      failNextRenameInto(null)
      spark.conf.unset("fs.file.impl")
      spark.conf.unset("fs.file.impl.disable.cache")
    }
  }

  /** The command line of every process the JVM starts while `body` runs. */
  private def processes(body: => Unit): Seq[String] = {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("graft-procs", ".jfr")
    try {
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.map(_.getString("command")).toSeq
    } finally { rec.close(); Files.delete(dump) }
  }

  test("reads are planned from the manifest: no listing job above 32 files, cacheable, loud on vacuumed files") {
    import graft.operators.ChangeFeed
    import org.apache.spark.GraftTestBridge.drainListenerBus
    val t = LakeTable.create(spark, tmpDir("lakeio-plan"),
      CdcMerge.physicalSchema(Schemas.transcript), numBuckets = 64)
    (0 until 2).foreach { e =>
      CdcMerge.applyBatch(t, ChangeGen.events(spark, 3000L, numConvs = 400, maxTurns = 4,
        pDelete = 0.1, seed = 21L + e, lsnStart = e * 3000L), e.toLong, "q")
    }
    val files = t.snapshot.files
    assert(files.size > 32, s"only ${files.size} files: the listing threshold is not crossed")
    val (v1, v2) = (t.snapshot.version - 1, t.snapshot.version)
    // building a read starts no Spark job (a listing job would be one)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    drainListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val (cur, old, feed) = try {
      val frames = (t.read(), t.readAsOf(v1), ChangeFeed.betweenVersions(t, v1, v2))
      drainListenerBus(spark.sparkContext)
      frames
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get === 0, s"${jobs.get} Spark job(s) ran while planning reads")
    // the plans still read every manifest file, _metadata tagging included
    val paths = cur.select(col("_metadata.file_path")).distinct().collect()
      .map(_.getString(0).split('/').last).toSet
    assert(paths === files.map(_.path.split('/').last).toSet)
    assert(old.count() === t.snapshotAt(v1).files.map(_.rows).sum)
    val expected = ChangeFeed.diffTagged(
      t.readAsOf(v1).withColumn("_gen", lit(1))
        .unionByName(t.readAsOf(v2).withColumn("_gen", lit(2))),
      Schemas.keyCols, Seq("role", "text", "tool", "ts"))
    assert(feed.count() > 0 && feed.exceptAll(expected).isEmpty &&
      expected.exceptAll(feed).isEmpty)
    // two reads of one snapshot plan to the same relation: the cache finds it
    val cached = cur.persist()
    try {
      cached.count()
      val again = LakeTable.load(spark, t.dir).read()
      assert(spark.sharedState.cacheManager.lookupCachedData(
        again.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isDefined,
        "a second read of the snapshot missed the persisted plan")
    } finally cached.unpersist(blocking = true)
    // a manifest naming a vacuumed file fails loudly
    Maintain.compact(t)
    Maintain.vacuum(t, keepSnapshots = 1)
    val e = intercept[IllegalStateException](t.readAsOf(v2))
    assert(e.getMessage.contains("already vacuumed"), e.getMessage)
    assert(CdcMerge.state(t).count() > 0)
  }

  test("local session file:// FileSystem: no chmod fork, Hadoop's permission bits, .crc sidecars kept") {
    import java.nio.file.attribute.PosixFilePermissions
    import org.apache.hadoop.fs.FileSystem
    import org.apache.hadoop.fs.permission.FsPermission
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FsPermission.getUMask(conf) === new FsPermission("022"))
    assert(processes(new ProcessBuilder("true").start().waitFor()).exists(_.contains("true")),
      "the recording misses started processes")
    // a merge with dead-letter rows: Hadoop writes the data, rejects and lineage
    val t = LakeTable.create(spark, tmpDir("lakeio-fs"),
      CdcMerge.physicalSchema(Schemas.transcript), numBuckets = 8)
    val ev = ChangeGen.events(spark, 2000L, numConvs = 40, maxTurns = 8, pDelete = 0.1)
    val batch = ev.unionByName(ev.limit(5).withColumn("op", lit("X")))
    val started = processes(assert(CdcMerge.applyBatch(t, batch, 0L, "q").rejects >= 5L))
    assert(!started.exists(_.contains("chmod")), started.mkString("forked:\n", "\n", ""))
    // the bits Hadoop's shell path sets under umask 022; sidecars still written
    def mode(p: Path): String = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    Seq("_rejects", "_lineage").map(d => Paths.get(t.dir, d, "q=q", "e=0")).foreach { d =>
      assert(mode(d) === "rwxr-xr-x", d)
      val files = Files.list(d).iterator().asScala.toSeq
      assert(files.exists(_.getFileName.toString.endsWith(".parquet.crc")), s"no .crc in $d")
      files.foreach(f => assert(mode(f) === "rw-r--r--", f))
    }
    t.snapshot.files.foreach(f => assert(mode(Paths.get(t.dir, f.path)) === "rw-r--r--", f))
    // explicit bits land as asked, less the umask
    val fs = FileSystem.get(new java.net.URI("file:///"), conf)
    val d = new HPath(tmpDir("lakeio-fs-bits"), "d")
    assert(fs.mkdirs(d, new FsPermission("770")))
    fs.create(new HPath(d, "f"), new FsPermission("660"), true, 4096, 1.toShort, 1L << 20, null)
      .close()
    val (dp, fp) = (Paths.get(d.toUri.getPath), Paths.get(d.toUri.getPath, "f"))
    assert(mode(dp) === "rwxr-x---" && mode(fp) === "rw-r-----")
    assert(Files.exists(Paths.get(d.toUri.getPath, ".f.crc")))
    // the sticky bit has no nio form: Hadoop's own path sets it
    fs.setPermission(d, new FsPermission("1750"))
    val m = Files.getAttribute(dp, "unix:mode").asInstanceOf[Int]
    assert((m & Integer.parseInt("7777", 8)) === Integer.parseInt("1750", 8))
  }

  test("a stream's checkpoint, index ledger and commits start no chmod or readlink process") {
    import spark.implicits._
    val src = tmpDir("lakeio-fc-src")
    val cols = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts", "op", "lsn")
    (0 until 3).foreach { e =>
      Seq((s"c$e", 0, "user", s"epoch $e words shared across batches plus tail$e",
          null: String, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), "I", e + 1L))
        .toDF(cols: _*).repartition(1).write.parquet(f"$src/e$e%02d")
    }
    val (tbl, idx) = (tmpDir("lakeio-fc-t"), tmpDir("lakeio-fc-i"))
    // three microbatches, the index folded after the second and the third:
    // the ledger is written, then replaced
    val started = processes(CdcStream.runAvailable(spark, CdcStream.Config(src, tbl,
      tmpDir("lakeio-fc-k"), queryId = "fc", numBuckets = 4, maxFilesPerTrigger = Some(1),
      neardupIndexDir = Some(idx), neardupCfg = graft.operators.NeardupIndex.Config(shingleN = 2),
      neardupCompactEvery = Some(1))))
    assert(LakeTable.load(spark, tbl).appliedEpoch("fc") === 2L)
    assert(Files.exists(Paths.get(idx, "ledger.json")), "no compaction committed a ledger")
    val forks = started.filter(c => c.contains("chmod") || c.contains("readlink"))
    assert(forks.isEmpty, forks.take(5).mkString(s"${forks.size} forked, e.g.:\n", "\n", ""))
  }
}

/** [[GraftLocalFileSystem]] under HDFS's rename contract: a rename onto an
  * existing file returns false. It throws on the first rename whose target
  * [[HdfsLikeFileSystem.failNextRenameInto]] armed it for. */
class HdfsLikeFileSystem extends FilterFileSystem(new GraftLocalFileSystem) {
  override def rename(src: HPath, dst: HPath): Boolean = {
    val armed = HdfsLikeFileSystem.armed.get
    if (armed != null && armed(dst) && HdfsLikeFileSystem.armed.compareAndSet(armed, null))
      throw new java.io.IOException(s"injected rename failure: $src -> $dst")
    if (exists(dst) && getFileStatus(dst).isFile) false else super.rename(src, dst)
  }
}

object HdfsLikeFileSystem {
  private val armed = new AtomicReference[HPath => Boolean]()
  /** Fail the next rename whose target matches; `null` disarms. */
  def failNextRenameInto(target: HPath => Boolean): Unit = armed.set(target)
}
