package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.util.chaining._

import graft.SparkEntry

/** `SparkEntry.queries` that reach graft's own code, over a fixed
  * scale-factor directory, in a fixed order. The inputs do not depend on the
  * seed: a query's first-run cost depends on which queries warmed shared
  * code before it, so a seed-dependent order would only add noise. */
object Suite {

  /** Render floating-point values to 6 significant digits, at any depth, so
    * a result's hash does not depend on the order Spark summed doubles in. */
  private def normalize(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      when(isnan(c), lit("NaN")).otherwise(format_string("%.6g", c.cast(DoubleType)))
    case ArrayType(et, _) => transform(c, x => normalize(x, et))
    case StructType(fs) =>
      when(c.isNull, lit(null)).otherwise(
        struct(fs.toSeq.map(f => normalize(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(_, vt, _) =>
      array_sort(map_entries(transform_values(c, (_, v) => normalize(v, vt))))
    case _ => c
  }

  /** Order-insensitive hash of a query result: one xxhash64 per row over its
    * normalized JSON rendering, sorted, then SHA-256 with the schema. Runs the
    * query once; the collect is the query's execution. */
  def resultHash(df: DataFrame): String = {
    val row = struct(df.schema.fields.toSeq.map(f =>
      normalize(col(s"`${f.name}`"), f.dataType).as(f.name)): _*)
    val hashes = df.select(xxhash64(to_json(row)).as("h")).collect().map(_.getLong(0)).sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(df.schema.simpleString.getBytes("UTF-8"))
    val buf = java.nio.ByteBuffer.allocate(8)
    hashes.foreach { h => buf.clear(); buf.putLong(h); md.update(buf.array()) }
    md.digest().take(12).map(b => f"$b%02x").mkString + s":${hashes.length}"
  }

  /** The queries whose code calls graft's own functions (SimOps, TextOps,
    * PortableHash) or operators (as-of, range, bloom and skew joins, scan
    * specs, the change feed). The other 43 of the 79 `SparkEntry.queries`
    * are plain Spark SQL: they measure Spark rather than graft, and running
    * them too would take a run past the benchmark's time budget. */
  val names: Seq[String] = Seq(
    "q_ann_ivf", "q_ann_lsh", "q_ann_topk", "q_asof_fwd", "q_asof_join", "q_bigram_coverage",
    "q_bloom_semi", "q_decontam", "q_distinct_sketch", "q_editdist_neardup", "q_embed_neardup",
    "q_fingerprint", "q_interval_overlap", "q_lang_id", "q_minhash_lsh", "q_neardup_groups",
    "q_neardup_incr", "q_neardup_resolve", "q_ngram_jaccard", "q_ngram_topk", "q_quality",
    "q_range_join", "q_redact", "q_repetition", "q_rolling_fp", "q_sample_strat", "q_simhash",
    "q_simhash_neardup", "q_skew_join", "q_spec_fk_chain", "q_spec_scan", "q_split_assign",
    "q_subword", "q_tfidf", "q_token_stats", "q_version_diff")

  /** Warm the session up the way a user's first query would: one query,
    * `reps` times, each with a cleared cache. Returns each repetition's
    * seconds. */
  def setUp(ctx: Ctx, dataDir: String, reps: Int): Seq[Double] =
    (1 to reps).map { _ =>
      ctx.spark.catalog.clearCache()
      val t0 = System.nanoTime()
      ctx.tracer.within("setup") {
        SparkEntry.queries("q1_agg")(ctx.spark, dataDir)
          .write.format("noop").mode("overwrite").save()
      }
      (System.nanoTime() - t0) / 1e9
    }.tap(_ => HeapWatch.settle())

  /** Run every query once; a query that throws or whose hash differs from
    * its pinned hash is a failure and contributes no time. */
  def run(ctx: Ctx, rec: Record, dataDir: String, pinned: Map[String, String],
          only: Option[Set[String]]): Unit = {
    val spark = ctx.spark
    val order = names.filter(n => only.forall(_(n)))
    val compileNs = scala.collection.mutable.Map[String, Long]()
    val hashes = scala.collection.mutable.LinkedHashMap[String, String]()
    order.foreach { name =>
      spark.catalog.clearCache()
      rec.attempted += 1
      val c0 = CodeGenerator.compileTime
      try {
        val (h, secs) = rec.timed(ctx.tracer.within(s"query=$name") {
          ctx.tracer.span(s"query.$name", s"query=$name") {
            resultHash(SparkEntry.queries(name)(spark, dataDir))
          }
        })
        compileNs(name) = CodeGenerator.compileTime - c0
        val want = pinned.getOrElse(name, "(none pinned)")
        val got = if (ctx.corrupt.contains("hash") && name == order.head) "altered:" + h else h
        hashes(name) = h
        if (got == want) rec.queryTimes(name) = secs
        else rec.fail(s"query $name", new IllegalStateException(
          s"result hash $got differs from pinned $want"))
      } catch {
        case ex: Throwable => rec.fail(s"query $name", ex)
      }
      if (rec.attempted % 12 == 0) HeapWatch.settle()
    }
    HeapWatch.settle()
    rec.check("every query's result hash matches its pinned hash",
      if (rec.failures.isEmpty) None else Some(s"${rec.failures.size} queries failed"))
    rec.hashes = hashes.toMap
    rec.layer("suite.codegen_compile_s") = compileNs.values.sum / 1e9
  }
}
