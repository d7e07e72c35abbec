package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** Core row shapes of the CDC/incremental-ingest engine.
  *
  * Reference semantics: every change-tracked source row in aiw-i2b2-etl carries the CDC
  * triple CREATE_DATE/UPDATE_DATE/DELETE_DATE (reference src/test/resources/test-schema.sql:58-60)
  * and flows through staging tables with a DELETE_DATE logical-delete marker
  * (reference src/main/resources/dbmigration/i2b2-data-schema-changelog.xml:81,97,...).
  * Our envelope compresses that triple into `op` ∈ {I,U,D} plus a strictly-increasing `lsn`
  * (the WAL position); last-writer-wins by max LSN is the analog of the reference's
  * max-UPDATE_DATE resolution (reference dest/table/ProviderDimensionFactory.java:153-183).
  */
final case class ChangeEvent(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: java.sql.Timestamp,
    op: String, // I | U | D
    lsn: Long
)

/** Target table row (the Iceberg-style `transcripts` table, BASELINE.json input_hint). */
final case class TranscriptRow(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: java.sql.Timestamp
)

/** Per-partition lineage emitted at every commit.
  * Reference analog: the post-apply verification counts
  * (reference dest/I2b2QueryResultsHandler.java:705-837).
  */
final case class LineageRow(
    query_id: String,
    epoch_id: Long,
    bucket: Int,
    lsn_min: Long,
    lsn_max: Long,
    rows_applied: Long,
    deletes: Long,
    conflicts: Long
)

object Schemas {
  /** Key of the target table: (conv_id, turn_idx). Reference analog: the 7-column
    * OBSERVATION_FACT logical key (reference i2b2-data-schema-changelog.xml:345-353). */
  val keyCols: Seq[String] = Seq("conv_id", "turn_idx")

  val change: StructType = StructType(Seq(
    StructField("conv_id", StringType, nullable = true),
    StructField("turn_idx", IntegerType, nullable = true),
    StructField("role", StringType, nullable = true),
    StructField("text", StringType, nullable = true),
    StructField("tool", StringType, nullable = true),
    StructField("ts", TimestampType, nullable = true),
    StructField("op", StringType, nullable = true),
    StructField("lsn", LongType, nullable = false)
  ))

  val transcript: StructType = StructType(Seq(
    StructField("conv_id", StringType, nullable = true),
    StructField("turn_idx", IntegerType, nullable = true),
    StructField("role", StringType, nullable = true),
    StructField("text", StringType, nullable = true),
    StructField("tool", StringType, nullable = true),
    StructField("ts", TimestampType, nullable = true)
  ))

  /** Columns of the CDC envelope that never land in the target table. */
  val envelopeCols: Seq[String] = Seq("op", "lsn")

  /** Project a change schema down to its payload (target) schema. */
  def payloadOf(changeSchema: StructType): StructType =
    StructType(changeSchema.fields.filterNot(f => envelopeCols.contains(f.name)))
}

/** Session factory used by tests/mains: local mode tuned for the sandbox but with the
  * settings we would ship to a 1000-executor cluster (AQE on, skew-join on, small
  * shuffle-partition count here standing in for `spark.sql.shuffle.partitions` sized
  * to cluster cores at scale).
  */
object GraftSession {
  /** Parse "k=v;k=v" conf strings (SPARK_GRAFT_SPARK_CONF). Empty segments are
    * skipped (trailing ';' etc.); a non-empty segment without '=' is a loud
    * error naming the bad entry, not an opaque MatchError. */
  def parseConf(s: String): Seq[(String, String)] =
    s.split(";").toSeq.map(_.trim).filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => (k, v)
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_SPARK_CONF entry '$kv' is not of the form k=v")
      }
    }

  def local(cores: Int = 32, extra: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.compression.codec", "snappy")
      // file:// through a LocalFileSystem that sets permissions via java.nio,
      // not a forked `chmod` per created file (sources/localfs.scala); FileContext
      // (the streaming checkpoint) reaches it through the delegating GraftLocalFs
      .config("spark.hadoop.fs.file.impl", classOf[graft.sources.GraftLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.sources.GraftLocalFs].getName)
    extra.foreach { case (k, v) => b.config(k, v) }
    // ops escape hatch: arbitrary session confs via SPARK_GRAFT_SPARK_CONF
    // ("k=v;k=v"), e.g. a low manifest segmentThreshold for a CLI probe
    sys.env.get("SPARK_GRAFT_SPARK_CONF").foreach(parseConf(_).foreach {
      case (k, v) => b.config(k, v)
    })
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
