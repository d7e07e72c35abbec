package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.operators.CdcMerge
import graft.sources.LakeTable
import graft.streaming.CdcStream

/** spark-submit entrypoint of the engine (north rule: "run via spark-submit").
  *
  * {{{
  *   Replay gen  <srcDir> <epochs> <eventsPerEpoch> [numConvs] [hotShare] [pDelete]
  *   Replay run  <srcDir> <tableDir> <ckptDir> [queryId] [numBuckets] [maxFilesPerTrigger] [neardupIndexDir] [contamBenchDir]
  *   Replay show <tableDir> [n]
  *   Replay showAt <tableDir> <version> [n]   // time travel
  *   Replay compact <tableDir> [purgeTombstonesBelowLsn]
  *   Replay rebucket <tableDir> <numBuckets> [purgeTombstonesBelowLsn]
  *   Replay truncate <tableDir>
  *   Replay vacuum <tableDir> [keepSnapshots]
  *   Replay curate <tableDir> <outDir> [minQuality] [benchGramsDir] [neardupTheta] [redact]
  *   Replay compactIndex <neardupIndexDir>
  *   Replay changes <tableDir> <fromVersion> <toVersion> [n]   // change-data-feed read
  *   Replay lineage <tableDir> <queryId>
  * }}}
  * Local testing uses `local[N]` via SPARK_GRAFT_CPUS; under spark-submit the
  * master comes from the cluster config.
  */
object Replay {
  private def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    GraftSession.local(cpus)
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "gen" :: src :: epochs :: per :: rest =>
      val spark = session()
      val numConvs = rest.headOption.map(_.toInt).getOrElse(1000)
      val hotShare = rest.lift(1).map(_.toDouble).getOrElse(0.0)
      val pDelete = rest.lift(2).map(_.toDouble).getOrElse(0.05)
      val dirs = ChangeGen.writeEpochs(spark, src, epochs.toInt, per.toLong,
        numConvs = numConvs, hotShare = hotShare, pDelete = pDelete)
      println(s"wrote ${dirs.size} epoch dirs under $src")
      spark.stop()

    case "run" :: src :: table :: ckpt :: rest =>
      val spark = session()
      // "" for any optional positional means "skip it" (lets a caller set a
      // later option without the earlier ones — an empty index dir otherwise
      // writes the index at the filesystem root)
      def opt(i: Int): Option[String] = rest.lift(i).filter(_.nonEmpty)
      val queryId = opt(0).getOrElse("graft")
      val buckets = opt(1).map(_.toInt).getOrElse(64)
      val mft = opt(2).map(_.toInt)
      val ndIdx = opt(3) // optional: maintain a near-dup LSH index here
      val contam = opt(4) // optional: benchmark gram parquet → _contam flags
      val t0 = System.nanoTime()
      CdcStream.runAvailable(spark, CdcStream.Config(
        sourceDir = src, tableDir = table, checkpointDir = ckpt,
        queryId = queryId, numBuckets = buckets, maxFilesPerTrigger = mft,
        // WAL encoding override (parquet | json | csv) for line-feed exports
        sourceFormat = sys.env.getOrElse("SPARK_GRAFT_SOURCE_FORMAT", "parquet"),
        neardupIndexDir = ndIdx, contamBenchDir = contam,
        // fold the near-dup index every N epochs while tailing
        neardupCompactEvery = sys.env.get("SPARK_GRAFT_ND_COMPACT_EVERY")
          .map(_.toInt)))
      val secs = (System.nanoTime() - t0) / 1e9
      val t = LakeTable.load(spark, table)
      println(f"replay done in $secs%.1fs; table rows=${CdcMerge.state(t).count()} " +
        s"snapshot=v${t.snapshot.version} appliedEpoch=${t.appliedEpoch(queryId)}")
      spark.stop()

    case "show" :: table :: rest =>
      val spark = session()
      val t = LakeTable.load(spark, table)
      println(s"schema: ${t.schema.simpleString}")
      println(s"rows: ${CdcMerge.state(t).count()}  physicalRows: ${t.physicalRows}  " +
        s"files: ${t.snapshot.files.size}  " +
        s"snapshot: v${t.snapshot.version}  summary: ${t.snapshot.summary}")
      CdcMerge.state(t).orderBy("conv_id", "turn_idx").show(rest.headOption.map(_.toInt).getOrElse(10), false)
      spark.stop()

    case "showAt" :: table :: version :: rest =>
      val spark = session()
      val t = LakeTable.load(spark, table)
      val v = version.toLong
      val s = t.snapshotAt(v)
      val st = CdcMerge.stateAsOf(t, v).persist() // count + show: resolve once
      println(s"schema@v$v: ${s.schema.simpleString}")
      println(s"rows@v$v: ${st.count()}  files: ${s.files.size}  " +
        s"summary: ${s.summary}  (latest is v${t.snapshot.version})")
      st.orderBy("conv_id", "turn_idx")
        .show(rest.headOption.map(_.toInt).getOrElse(10), false)
      spark.stop()

    case "compact" :: table :: rest =>
      val spark = session()
      val t = LakeTable.load(spark, table)
      val purgeBelow = rest.headOption.map(_.toLong).getOrElse(Long.MinValue)
      graft.operators.Maintain.compact(t, purgeBelow)
      println(s"compacted: files=${t.snapshot.files.size} rows=${CdcMerge.state(t).count()}")
      spark.stop()

    case "rebucket" :: table :: n :: rest =>
      val spark = session()
      val t = LakeTable.load(spark, table)
      graft.operators.Maintain.rebucket(t, n.toInt,
        rest.headOption.map(_.toLong).getOrElse(Long.MinValue))
      println(s"rebucketed to ${t.numBuckets} buckets: files=${t.snapshot.files.size} " +
        s"rows=${CdcMerge.state(t).count()}")
      spark.stop()

    case "truncate" :: table :: Nil =>
      val spark = session()
      val t = LakeTable.load(spark, table)
      graft.operators.Maintain.truncate(t)
      println(s"truncated: rows=${CdcMerge.state(t).count()} snapshot=v${t.snapshot.version}")
      spark.stop()

    case "vacuum" :: table :: rest =>
      val spark = session()
      val t = LakeTable.load(spark, table)
      val n = graft.operators.Maintain.vacuum(t, rest.headOption.map(_.toInt).getOrElse(3))
      println(s"vacuumed $n orphan/expired files")
      spark.stop()

    case "curate" :: table :: out :: rest =>
      // The engine's end product in one command: LWW-resolved state →
      // decontaminate (optional benchmark gram parquet) → quality gate →
      // deterministic split → parquet partitioned by split. Every stage is
      // the same operator the queries/specs verify; this just composes them.
      val spark = session()
      // same convention as `run`: "" for an optional positional means skip
      val minQuality = rest.headOption.filter(_.nonEmpty).map(_.toDouble).getOrElse(0.0)
      val grams = rest.lift(1).filter(_.nonEmpty)
      // optional 4th positional: near-dup jaccard threshold → cluster-level
      // dedup (connected components) rides inside the export
      val ndTheta = rest.lift(2).filter(_.nonEmpty).map(_.toDouble)
      // optional 5th positional: "redact" scrubs PII before every other stage
      val redact = rest.lift(3).contains("redact")
      val t = LakeTable.load(spark, table)
      graft.operators.Curate
        .curated(t, grams.map(g => spark.read.parquet(g)), minQuality,
          neardupThreshold = ndTheta, redact = redact)
        .write.mode("overwrite").partitionBy("split").parquet(out)
      val counts = spark.read.parquet(out).groupBy("split").count()
        .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" ")
      println(s"curated ${out}: $counts (from ${CdcMerge.state(t).count()} resolved " +
        s"rows; minQuality=$minQuality decontam=${grams.isDefined} " +
        s"neardup=${ndTheta.fold("off")(_.toString)} redact=$redact)")
      spark.stop()

    case "compactIndex" :: idxDir :: Nil =>
      val spark = session()
      val (before, after) = graft.operators.NeardupIndex.compact(spark, idxDir)
      println(s"compacted near-dup index $idxDir: $before -> $after files")
      spark.stop()

    case "changes" :: table :: from :: to :: rest =>
      // CHANGE-DATA-FEED between two committed versions (operators/changefeed.scala):
      // one scan + one aggregate; insert/update/delete rows with old/new LSNs
      val spark = session()
      val t = LakeTable.load(spark, table)
      val feed = graft.operators.ChangeFeed
        .betweenVersions(t, from.toLong, to.toLong).persist()
      val byKind = feed.groupBy(graft.operators.ChangeFeed.changeCol).count()
        .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" ")
      println(s"changes v$from -> v$to: $byKind")
      // keys derived from Schemas.keyCols, like betweenVersions above — a
      // hardcoded column list would silently break if the key schema changed
      feed.orderBy(Schemas.keyCols.map(col): _*)
        .show(rest.headOption.map(_.toInt).getOrElse(10), false)
      spark.stop()

    case "lineage" :: table :: queryId :: Nil =>
      val spark = session()
      val t = LakeTable.load(spark, table)
      CdcMerge.lineage(t, queryId).orderBy("epoch_id", "bucket").show(100, false)
      spark.stop()

    case other =>
      System.err.println(s"unknown args: $other — see Replay scaladoc")
      sys.exit(2)
  }
}
