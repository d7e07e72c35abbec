package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._

/** Physical-plan assertions: the optimizations we rely on at 100 TB must actually
  * appear in the plan — filter/column pushdown to the parquet scan, broadcast for
  * small dimensions, and map-side partial aggregation for the LWW dedup. That
  * the merge never reads its target is pinned in CdcMergeSpec. */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def executedPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("date-bound scan pushes filters and prunes columns at the parquet source") {
    val df = SparkEntry.queries("q_date_bound")(spark, sf)
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PushedFilters") &&
      (scan.contains("GreaterThanOrEqual(l_shipdate") || scan.contains("IsNotNull(l_shipdate")),
      s"filters not pushed:\n$scan")
    assert(scan.contains("ReadSchema") && !scan.contains("l_extendedprice"),
      s"column pruning failed (l_extendedprice read for a 4-col projection):\n$scan")
  }

  test("fk chain broadcasts the small dimension side") {
    val p = executedPlan(SparkEntry.queries("q_fk_chain")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
  }

  test("semi and anti joins compile to hash joins, not nested loops") {
    val semi = executedPlan(SparkEntry.queries("q_semi_keyset")(spark, sf))
    val anti = executedPlan(SparkEntry.queries("q_anti_orphans")(spark, sf))
    assert(semi.contains("LeftSemi") && !semi.contains("NestedLoop"), semi)
    assert(anti.contains("LeftAnti") && !anti.contains("NestedLoop"), anti)
  }

  test("LWW dedup aggregates with map-side partial aggregation (no window sort)") {
    val ev = ChangeGen.events(spark, 100L)
    val plan = graft.operators.Dedup.lww(ev).queryExecution.executedPlan.toString
    assert(plan.contains("partial_max") || plan.contains("HashAggregate"),
      s"expected partial hash aggregation:\n$plan")
    assert(!plan.contains("Window"), s"dedup must not fall back to a window sort:\n$plan")
  }

  test("relational minhash compiles to codegen'd aggregates over an explode") {
    import spark.implicits._
    val sh = Seq((1L, Seq("a b", "b c"))).toDF("doc_id", "sh")
    val plan = graft.functions.SimOps.minhashSignaturesFromRows(
        sh.select(col("doc_id"), explode(col("sh")).as("_sh")), "doc_id", 8)
      .queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate") && plan.contains("Generate"), plan)
  }

  test("without broadcast joins both sides of the band self-join read one (band, bucket) shuffle") {
    // the at-scale shape, where no side fits the broadcast threshold: the
    // bucket-cap window's (band, bucket) exchange is the partitioning the
    // pair self-join needs, so its second side is a ReusedExchange of the
    // first — the shingle → minhash → band pipeline shuffles once
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.ShuffleQueryStageExec
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    def names(es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
      es.collect { case a: Attribute => a.name }
    // the first shuffle below a join side (a unary chain down to it)
    def shuffleOf(p: SparkPlan): SparkPlan = p match {
      case s: ShuffleQueryStageExec => s.plan
      case e @ (_: ShuffleExchangeExec | _: ReusedExchangeExec) => e
      case other => shuffleOf(other.children.head)
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("q_ngram_jaccard")(spark, sf)
      df.collect() // the reuse is decided as AQE creates the query stages
      val joins = planNodes(df.queryExecution.executedPlan).collect {
        case j: SortMergeJoinExec if names(j.leftKeys) == Seq("band", "bucket") => j
      }
      assert(joins.size === 1, s"expected one band self-join:\n${df.queryExecution.executedPlan}")
      val Seq(l, r) = Seq(joins.head.left, joins.head.right).map(shuffleOf)
      val (reused, first) = (l, r) match {
        case (x: ReusedExchangeExec, y) => (x, y)
        case (y, x: ReusedExchangeExec) => (x, y)
        case _ => fail(s"neither self-join side reuses the other's exchange:\n${joins.head}")
      }
      assert(reused.child.canonicalized === first.canonicalized)
      first.outputPartitioning match {
        case h: HashPartitioning => assert(names(h.expressions) === Seq("band", "bucket"))
        case other => fail(s"expected a (band, bucket) hash exchange, got $other")
      }
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("code-mapping decode broadcasts the mapping dimension") {
    val p = executedPlan(SparkEntry.queries("q_code_decode")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"mapping dim must broadcast:\n$p")
  }

  test("near-dup and ANN plans never fall back to a cartesian product") {
    val nd = executedPlan(SparkEntry.queries("q_neardup_resolve")(spark, sf))
    val ann = executedPlan(SparkEntry.queries("q_ann_lsh")(spark, sf))
    assert(!nd.contains("CartesianProduct") && !nd.contains("BroadcastNestedLoop"),
      s"near-dup must stay equi-join shaped:\n$nd")
    assert(!ann.contains("CartesianProduct"),
      s"ANN candidate join must be an equi-join on the probe bucket:\n$ann")
    val incr = executedPlan(SparkEntry.queries("q_neardup_incr")(spark, sf))
    assert(!incr.contains("CartesianProduct") && !incr.contains("BroadcastNestedLoop"),
      s"incremental near-dup must stay equi-join shaped:\n$incr")
  }

  test("exact dedup hash-aggregates on the fingerprint, never sorting or shuffling raw text") {
    val p = executedPlan(SparkEntry.queries("q_dedup_exact")(spark, sf))
    assert(p.contains("HashAggregate") && !p.contains("SortAggregate"),
      s"fingerprint dedup must stay a hash aggregate:\n$p")
    assert(!p.contains("hashpartitioning(text"), s"raw text must not be the shuffle key:\n$p")
  }

  test("split assignment is a shuffle-free map-side projection") {
    val p = executedPlan(SparkEntry.queries("q_split_assign")(spark, sf))
    assert(!p.contains("Exchange"), s"content-hash split routing must not shuffle:\n$p")
  }

  test("decontamination broadcasts the benchmark gram set, never joining documents") {
    val p = executedPlan(SparkEntry.queries("q_decontam")(spark, sf))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"bench grams must broadcast into a semi join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"decontamination must stay equi-join shaped:\n$p")
  }

  test("scan-spec compiled queries are plan-identical to their hand-written twins") {
    // the declarative layer (plans/scanspec.scala) must add ZERO plan cost:
    // the optimized plans of the compiled and hand-written forms are the same
    // (sameResult = canonicalized-plan equality, Spark's own reuse criterion)
    def opt(name: String) =
      SparkEntry.queries(name)(spark, sf).queryExecution.optimizedPlan
    assert(opt("q_spec_scan").sameResult(opt("q_date_bound")),
      "spec-compiled scan diverged from the hand-written plan")
    assert(opt("q_spec_fk_chain").sameResult(opt("q_fk_chain")),
      "spec-compiled FK chain diverged from the hand-written plan")
  }

  test("prefix-hierarchy equi-join form never nested-loops") {
    val p = executedPlan(SparkEntry.queries("q_prefix_equi")(spark, sf))
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"),
      s"materialized-prefix join must be an equi-join:\n$p")
  }

  test("hierarchical rollup is one explode + one aggregate — no nested loop, no per-level scans") {
    val p = executedPlan(SparkEntry.queries("q_hier_rollup")(spark, sf))
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"),
      s"rollup must never nested-loop:\n$p")
    // every hierarchy level rolls up in ONE aggregate pass over the exploded
    // prefixes (a per-level implementation would show one agg per level)
    val aggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(aggs <= 2, s"expected one partial+final aggregate pair, got $aggs:\n$p")
    assert(p.contains("Generate explode") || p.contains("Generate"), s"no explode:\n$p")
  }

  test("grouping-set rollup is one Expand + one aggregate pair — not per-level scans") {
    val p = executedPlan(SparkEntry.queries("q_rollup")(spark, sf))
    assert(p.contains("Expand"), s"rollup must use Expand (one pass), not unions:\n$p")
    val aggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(aggs <= 2, s"expected one partial+final aggregate pair, got $aggs:\n$p")
    // one scan of each base table: a per-grouping-set implementation re-scans
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans <= 3, s"expected 3 base-table scans, got $scans:\n$p")
  }

  test("explicit-value pivot is a single aggregate pass with no distinct-value scan") {
    val p = executedPlan(SparkEntry.queries("q_pivot")(spark, sf))
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"inferred pivot would double-scan for distinct values:\n$p")
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"), p)
  }

  test("exact median is one window sort, no self-join or double scan") {
    val p = executedPlan(SparkEntry.queries("q_median")(spark, sf))
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"median must not re-scan for the count:\n$p")
    assert(!p.contains("Join"), s"median must not self-join:\n$p")
  }

  test("distinct sketch stays fixed-width hash aggregation; raw keys never shuffle") {
    val p = executedPlan(SparkEntry.queries("q_distinct_sketch")(spark, sf))
    assert(p.contains("HashAggregate") && !p.contains("SortAggregate"),
      s"bit_or/sum buffers must stay fixed-width hash aggregates:\n$p")
    assert(!p.contains("hashpartitioning(user_id"),
      s"raw keys must die map-side (bucketed before the shuffle):\n$p")
  }

  test("blob build partial-aggregates map-side with one shuffle") {
    val p = executedPlan(SparkEntry.queries("q_blob_build")(spark, sf))
    assert(p.contains("ObjectHashAggregate"), s"collect_list should object-hash-agg:\n$p")
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 1, s"expected exactly one shuffle, got $exchanges:\n$p")
  }

  test("PII redaction is a shuffle-free map-side projection") {
    val p = executedPlan(SparkEntry.queries("q_redact")(spark, sf))
    assert(!p.contains("Exchange"), s"redaction must not shuffle:\n$p")
  }

  test("whole-stage codegen covers the hot scan+filter+project pipeline") {
    val df = SparkEntry.queries("q_valtype_encode")(spark, sf)
    val p = executedPlan(df)
    // "*(n)" prefixes mark WholeStageCodegen spans in SparkPlan.toString
    assert(p.contains("*(1)"), s"no codegen span:\n$p")
  }
}
