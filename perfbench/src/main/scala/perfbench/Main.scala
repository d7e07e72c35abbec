package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** What one JVM of the benchmark knows about its run. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: Path,
                val seed: Long, val corrupt: Option[String])

/** Everything one workload leg measured and checked. */
final class Record(val workload: String) {
  var attempted = 0
  val failures = mutable.ArrayBuffer[(String, String)]()
  val checks = mutable.ArrayBuffer[(String, Option[String])]()
  val layer = mutable.LinkedHashMap[String, Double]()
  val reads = mutable.LinkedHashMap[String, Double]()
  val queryTimes = mutable.LinkedHashMap[String, Double]()
  val info = mutable.LinkedHashMap[String, Any]()
  var bootS = 0.0
  var setupRepsS: Seq[Double] = Nil
  var warmupS = 0.0
  var genS = 0.0
  var latencies: Seq[Double] = Nil
  var timedEvents = 0L
  var liveRows = 0L
  var hashes: Map[String, String] = Map.empty

  def fail(what: String, ex: Throwable): Unit = {
    System.err.println(s"[perfbench] FAILED $what: $ex")
    failures += what -> String.valueOf(ex.getMessage).linesIterator.take(3).mkString(" ")
  }

  def check(name: String, result: => Option[String]): Unit = {
    val r = try result catch { case ex: Throwable => Some(s"check threw: $ex") }
    r.foreach(why => System.err.println(s"[perfbench] CHECK FAILED $name: $why"))
    checks += name -> r
  }

  def correct: Boolean = failures.isEmpty && checks.nonEmpty && checks.forall(_._2.isEmpty)

  def workS: Double = latencies.sum + reads.values.sum + queryTimes.values.sum

  /** Run `f` as timed work; returns its result and wall seconds. */
  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolation quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "empty sample")
    val s = xs.sorted
    val h = (s.size - 1) * p
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  /** The highest percentile with at least ten samples beyond it, and never
    * below the median. */
  def tailP(n: Int): Double = math.max(0.5, 1.0 - 10.0 / n)
}

/** Largest old-generation occupancy right after a full collection. The
  * benchmark asks for one (`settle()`) between timed operations, never inside
  * one, so the figure is the peak heap the engine still holds at those
  * points; young collections, whose old-generation reading depends on when
  * the collector last ran, are not counted. */
object HeapWatch {
  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
  @volatile var peakBytes = 0L

  /** The first collection lets Spark's cleaner thread release what became
    * unreachable (broadcasts, shuffle state); the second one is read. */
  def settle(): Unit = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    val used = oldGen.map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L)).sum
    if (used > peakBytes) peakBytes = used
  }

  def peakMb: Double = peakBytes / (1024.0 * 1024.0)
}

/** One JVM of the benchmark: one leg of one workload.
  *
  * {{{
  *   perfbench.Main <bulk_replay|trickle_mixed|query_suite> --seed N --seconds S
  *     --trace 0|1 --cores C --work DIR --out FILE [--data DIR] [--pins FILE]
  *     [--spans FILE] [--smoke] [--corrupt state|hash] [--reps K] [--only q1,q2]
  * }}}
  * Writes one JSON record to `--out`; `run.py` turns the records into the
  * benchmark's output. */
object Main {

  def main(argv: Array[String]): Unit = {
    val t00 = System.nanoTime()
    val workload = argv.head
    def parse(xs: List[String]): Map[String, String] = xs match {
      case "--smoke" :: rest => parse(rest) + ("smoke" -> "1")
      case k :: v :: rest if k.startsWith("--") => parse(rest) + (k.stripPrefix("--") -> v)
      case Nil => Map.empty
      case other => sys.error(s"cannot parse arguments: ${other.mkString(" ")}")
    }
    val opts = parse(argv.tail.toList)
    def opt(k: String): Option[String] = opts.get(k)
    val seed = opt("seed").getOrElse("1").toLong
    val seconds = opt("seconds").getOrElse("10").toInt
    val traced = opt("trace").contains("1")
    val cores = opt("cores").getOrElse("4").toInt
    val smoke = opts.contains("smoke")
    val reps = opt("reps").map(_.toInt).getOrElse(3)
    val work = Path.of(opt("work").getOrElse(sys.error("--work is required"))).toAbsolutePath
    val out = Path.of(opt("out").getOrElse(sys.error("--out is required"))).toAbsolutePath
    Files.createDirectories(work)
    // a run cut short (time cap, SIGTERM) leaves no work directory behind
    Runtime.getRuntime.addShutdownHook(new Thread(() => Cdc.deleteTree(work)))

    val rec = new Record(workload)
    val spark = GraftSession.local(cores, Map(
      "spark.sql.warehouse.dir" -> work.resolve("warehouse").toString,
      "spark.local.dir" -> work.resolve("local").toString,
      "spark.sql.streaming.checkpointLocation" -> work.resolve("ckpt-default").toString))
    rec.bootS = (System.nanoTime() - t00) / 1e9
    val tracer = new Tracer(traced)
    tracer.install(spark)
    val ctx = new Ctx(spark, tracer, work, seed, opt("corrupt"))
    try {
      workload match {
        case "bulk_replay" => Cdc.run(ctx, Cdc.bulk(seconds, smoke, cores), rec, reps)
        case "trickle_mixed" => Cdc.run(ctx, Cdc.trickle(seconds, smoke), rec, reps)
        case "query_suite" =>
          val data = opt("data").getOrElse(sys.error("--data is required"))
          val pins = opt("pins").map(p => Json.parseStringMap(Files.readString(Path.of(p))))
            .getOrElse(Map.empty)
          rec.setupRepsS = Suite.setUp(ctx, data, reps)
          Suite.run(ctx, rec, data, pins, opt("only").map(_.split(",").toSet))
        case other => sys.error(s"unknown workload $other")
      }
    } catch {
      case ex: Throwable => rec.fail(s"$workload leg", ex)
    }
    if (traced) Layers.fill(ctx, rec)
    opt("spans").foreach(p => tracer.dump(Path.of(p)))
    tracer.uninstall(spark)
    spark.stop()
    Files.createDirectories(out.getParent)
    Files.writeString(out, Json.render(summary(rec)))
  }

  def summary(rec: Record): Map[String, Any] = Map(
    "workload" -> rec.workload,
    "correct" -> rec.correct,
    "attempted" -> rec.attempted,
    "failed" -> rec.failures.size,
    "failures" -> rec.failures.map { case (w, e) => Map("what" -> w, "error" -> e) },
    "checks" -> rec.checks.map { case (n, r) => Map("check" -> n, "ok" -> r.isEmpty,
      "detail" -> r.getOrElse("")) },
    "boot_s" -> rec.bootS,
    "setup_reps_s" -> rec.setupRepsS,
    "warmup_s" -> rec.warmupS,
    "gen_s" -> rec.genS,
    "latencies_s" -> rec.latencies,
    "timed_events" -> rec.timedEvents,
    "reads_s" -> rec.reads,
    "query_s" -> rec.queryTimes,
    "work_s" -> rec.workS,
    "heap_peak_mb" -> HeapWatch.peakMb,
    "layer" -> rec.layer,
    "hashes" -> rec.hashes,
    "info" -> rec.info)
}
