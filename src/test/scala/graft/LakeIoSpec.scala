package graft

import org.apache.spark.sql.functions._

import graft.operators.CdcMerge
import graft.sources.{HadoopLakeIO, LakeTable, NioLakeIO}

/** The commit protocol through the Hadoop-FileSystem IO implementation — the
  * object-store/HDFS migration path — must behave identically to the local-NIO
  * default: same manifests, same data files, same resolved state, same
  * optimistic-concurrency failure on a duplicate version. */
class LakeIoSpec extends SparkSpec {

  private def hio = new HadoopLakeIO(spark.sparkContext.hadoopConfiguration)

  test("merge + history + state through HadoopLakeIO equals NioLakeIO") {
    val ev0 = ChangeGen.events(spark, 2000L, numConvs = 40, maxTurns = 8, pDelete = 0.1)
    val ev1 = ChangeGen.events(spark, 2000L, numConvs = 40, maxTurns = 8, pDelete = 0.1,
      seed = 7L, lsnStart = 2000L)
    val states = Seq(("nio", NioLakeIO: graft.sources.LakeIO), ("hdp", hio)).map {
      case (tag, io) =>
        val t = LakeTable.create(spark, tmpDir(s"lakeio-$tag"),
          CdcMerge.physicalSchema(Schemas.transcript), numBuckets = 16, io = io)
        CdcMerge.applyBatch(t, ev0, 0L, "q")
        CdcMerge.applyBatch(t, ev1, 1L, "q")
        assert(LakeTable.history(t.dir, io).size === 3) // create + 2 merges
        assert(t.snapshot.applied("q") === 1L)
        CdcMerge.state(t).orderBy("conv_id", "turn_idx").collect().toSeq
    }
    assert(states(0) === states(1))
  }

  test("time travel through HadoopLakeIO equals NioLakeIO per version") {
    val ev0 = ChangeGen.events(spark, 1500L, numConvs = 25, maxTurns = 6, pDelete = 0.1)
    val ev1 = ChangeGen.events(spark, 1500L, numConvs = 25, maxTurns = 6, pDelete = 0.1,
      seed = 11L, lsnStart = 5000L)
    val perVersion = Seq(("nio", NioLakeIO: graft.sources.LakeIO), ("hdp", hio)).map {
      case (tag, io) =>
        val t = LakeTable.create(spark, tmpDir(s"lakeio-tt-$tag"),
          CdcMerge.physicalSchema(Schemas.transcript), numBuckets = 8, io = io)
        CdcMerge.applyBatch(t, ev0, 0L, "q")
        val vMid = t.snapshot.version
        CdcMerge.applyBatch(t, ev1, 1L, "q")
        (CdcMerge.stateAsOf(t, vMid).orderBy("conv_id", "turn_idx").collect().toSeq,
          CdcMerge.state(t).orderBy("conv_id", "turn_idx").collect().toSeq)
    }
    assert(perVersion(0) === perVersion(1))
    assert(perVersion(0)._1 !== perVersion(0)._2) // the mid version is genuinely older
  }

  test("HadoopLakeIO commit point rejects a duplicate manifest version") {
    val io = hio
    val t = LakeTable.create(spark, tmpDir("lakeio-dup"),
      CdcMerge.physicalSchema(Schemas.transcript), numBuckets = 4, io = io)
    val s = t.snapshot
    intercept[IllegalStateException] {
      // same content re-written under the SAME version must fail (optimistic
      // concurrency: the v-file already exists)
      io.writeStringAtomic(s"${t.dir}/_manifests/v${"%08d".format(s.version)}.json", "{}")
    }
  }

  test("replaceStringAtomic overwrites in place on both IO implementations") {
    Seq(("nio", NioLakeIO: graft.sources.LakeIO), ("hdp", hio)).foreach {
      case (tag, io) =>
        val p = s"${tmpDir(s"replace-$tag")}/ptr.json"
        io.replaceStringAtomic(p, "v1")        // create
        assert(io.readString(p) === "v1")
        io.replaceStringAtomic(p, "v2")        // replace (newest-wins pointer)
        assert(io.readString(p) === "v2")
        // the fail-if-exists commit point is untouched by the new primitive
        intercept[IllegalStateException] { io.writeStringAtomic(p, "v3") }
        assert(io.readString(p) === "v2")
    }
  }

  test("vacuum works through HadoopLakeIO") {
    val io = hio
    val t = LakeTable.create(spark, tmpDir("lakeio-vac"),
      CdcMerge.physicalSchema(Schemas.transcript), numBuckets = 8, io = io)
    (0 until 4).foreach { e =>
      val ev = ChangeGen.events(spark, 500L, numConvs = 10, maxTurns = 5,
        seed = e.toLong, lsnStart = e * 500L)
      CdcMerge.applyBatch(t, ev, e.toLong, "q")
    }
    graft.operators.Maintain.compact(t)
    val before = CdcMerge.state(t).orderBy("conv_id", "turn_idx").collect().toSeq
    val removed = graft.operators.Maintain.vacuum(t, keepSnapshots = 1)
    assert(removed > 0) // compaction leaves the merges' appended files to GC
    assert(CdcMerge.state(t).orderBy("conv_id", "turn_idx").collect().toSeq === before)
  }

  test("reads are planned from the manifest: no listing job above 32 files, cacheable, loud on vacuumed files") {
    import graft.operators.{ChangeFeed, Maintain}
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
    import java.nio.file.{Files, Path, Paths}
    import java.nio.file.attribute.PosixFilePermissions
    import scala.jdk.CollectionConverters._
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}
    import org.apache.hadoop.fs.permission.FsPermission
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FsPermission.getUMask(conf) === new FsPermission("022"))
    /** The command line of every process the JVM starts while `body` runs. */
    def processes(body: => Unit): Seq[String] = {
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
}
