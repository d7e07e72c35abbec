package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.Metadata

import graft.functions.{PortableHash, SimOps, TextOps}

/** Driver contract — one `queries` entry per implemented operator (SURVEY.md §2),
  * with a DuckDB-equivalent `oracleSql` where the operator is SQL-expressible.
  * All queries read the driver-provided parquet tables under the given sf dir.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Flagship: CDC LWW replay state over the events stream (north rule's core
    * semantic — max-LSN last-writer-wins per key). */
  def entry(spark: SparkSession): DataFrame =
    queries("q_cdc_lww_state")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ── CDC / window semantics (SURVEY §2.5, §2.9) ─────────────────────────────
    "q_cdc_lww_state" -> ((s, d) => {
      // LWW replay: latest event per (user_id, event_type) by event_id (the LSN)
      val w = Window.partitionBy("user_id", "event_type").orderBy(col("event_id").desc)
      t(s, d, "events").withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"),
          col("value").as("last_value"), col("ts").as("last_ts"))
    }),
    "q_cdc_conflicts" -> ((s, d) => {
      // per-key dedup stats: the lineage aggregation (conflicts = n_events - 1)
      t(s, d, "events").groupBy("user_id", "event_type").agg(
        count(lit(1)).as("n_events"),
        min("event_id").as("lsn_min"), max("event_id").as("lsn_max"))
    }),
    "q_running_total" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("event_id")
      t(s, d, "events").select(col("user_id"), col("event_id"),
        round(sum("value").over(w), 3).as("running_value"))
    }),

    "q_lag_gap" -> ((s, d) => {
      // §2.5 lag/lead: inter-event time deltas per user under an explicit
      // total order (event_id is unique). Microsecond integers end-to-end —
      // unix_micros here, epoch_us in the oracle — so the compare is exact
      val w = Window.partitionBy("user_id").orderBy("event_id")
      // ts arrives TIMESTAMP_NTZ from parquet; the cast reads it as UTC
      // (session timezone is pinned UTC), matching epoch_us over DuckDB's
      // naive timestamp exactly
      val us = unix_micros(col("ts").cast("timestamp"))
      t(s, d, "events").select(col("user_id"), col("event_id"),
        (us - lag(us, 1).over(w)).as("gap_us"),
        (lead(us, 1).over(w) - us).as("next_us"))
    }),
    "q_ntile" -> ((s, d) => {
      // §2.5 ntile bucketing: SQL-standard quartiles (first count%n groups one
      // larger) under an explicit (value, event_id) total order — both engines
      // implement the same distribution, so assignment is deterministic
      val w = Window.partitionBy("event_type").orderBy("value", "event_id")
      t(s, d, "events").select(col("event_id"), col("event_type"),
        ntile(4).over(w).cast("long").as("quartile"))
    }),
    "q_sessionize" -> ((s, d) => {
      // session analytics over the event stream: a new session starts after a
      // >30-minute gap; windows = lag + running sum (SURVEY §2.5 family)
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      t(s, d, "events")
        .withColumn("prev_ts", lag("ts", 1).over(w))
        .withColumn("brk",
          when(col("prev_ts").isNull ||
            (unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts"))) > 1800, 1L)
            .otherwise(0L))
        .groupBy("user_id")
        .agg(sum("brk").as("n_sessions"), count(lit(1)).as("n_events"))
    }),
    "q_link_traversal" -> ((s, d) => {
      // J3 derivation-link traversal: forward-link each record to every
      // derived successor (same parent key, next ordinal). RANGE-frame window
      // form (round-6 optimization, guide §2.4 "remove shuffles outright"):
      // for each row, the rows at EXACTLY ordinal+1 are the window frame
      // RANGE BETWEEN 1 FOLLOWING AND 1 FOLLOWING over the ordinal, so the
      // old self-join (2 scans + 2 join exchanges + a 3rd aggregate exchange)
      // collapses to ONE key exchange whose partitioning the groupBy reuses.
      // Arithmetic is pair-exact under duplicate ordinals: a row with c
      // successors of quantity-sum q contributes c links and (q − c·own_qty)
      // drift — identical to the join fan-out (quantities are integral, so
      // the regrouped sum is exact, not an FP reordering risk).
      val w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
        .rangeBetween(1, 1)
      t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .withColumn("_cnt_next", count(lit(1)).over(w))
        .withColumn("_sum_next", sum("l_quantity").over(w))
        .filter(col("_cnt_next") > 0)
        .groupBy(col("l_orderkey"))
        .agg(sum("_cnt_next").as("n_links"),
          round(sum(col("_sum_next") - col("_cnt_next") * col("l_quantity")), 2)
            .as("qty_drift"))
    }),

    // ── scans / filters / projections (SURVEY §2.1-2.2) ───────────────────────
    "q_date_bound" -> ((s, d) =>
      // P5 date-bounded scan with projection (filter + column pruning pushed to scan)
      t(s, d, "lineitem")
        .filter(col("l_shipdate").between("1996-01-01", "1996-12-31"))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")),
    "q_valtype_encode" -> ((s, d) =>
      // P3 tagged-value encoding: (VALTYPE_CD, TVAL_CHAR, NVAL_NUM)
      t(s, d, "events").select(
        col("event_id"),
        when(col("value") >= 100, "N").otherwise("T").as("valtype_cd"),
        when(col("value") >= 100, lit(null).cast("string"))
          .otherwise(col("event_type")).as("tval_char"),
        when(col("value") >= 100, round(col("value"), 3))
          .otherwise(lit(null).cast("double")).as("nval_num"))),
    "q_sentinel_clamp" -> ((s, d) =>
      // P4 null/empty → '@' sentinel + length clamp
      t(s, d, "documents").select(
        col("doc_id"),
        coalesce(nullif(substring(col("text"), 1, 50), lit("")), lit("@")).as("text50"))),
    "q_json_props" -> ((s, d) =>
      // S3-style code decode from a serialized map (JSON property extraction)
      t(s, d, "events").select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))),
    "q_xml_props" -> ((s, d) => {
      // XML value-metadata decode (reference ksb/CMetadataXmlParser.java,
      // ValueMetadataParser.java: C_METADATAXML → typed value constraints).
      // The test tables carry no XML column, so both engines FIRST build the
      // same C_METADATAXML-shaped blob from events columns (fixture
      // construction, shared verbatim with the oracle SQL), then the engine
      // decodes it with a REAL XML parser — from_xml, codegen-free but
      // arrow-free and distributed — while DuckDB (no XML functions) extracts
      // the same fields with single-tag regexes. Enum-valued inputs only:
      // nothing needing XML escaping reaches the blob.
      val xml = concat(
        lit("<ValueMetadata><Version>3.02</Version><DataType>"),
        when(col("value") >= 100, lit("PosFloat")).otherwise(lit("Enum")),
        lit("</DataType><Oktousevalues>"),
        when(col("event_type").isin("purchase", "signup"), lit("Y")).otherwise(lit("N")),
        lit("</Oktousevalues><Nval>"), col("user_id").cast("string"),
        lit("</Nval></ValueMetadata>"))
      val sch = new org.apache.spark.sql.types.StructType()
        .add("Version", "string").add("DataType", "string")
        .add("Oktousevalues", "string").add("Nval", "long")
      t(s, d, "events")
        .select(col("event_id"), from_xml(xml, sch).as("_m"))
        .select(col("event_id"), col("_m.DataType").as("data_type"),
          col("_m.Oktousevalues").as("ok_values"), col("_m.Nval").as("nval"))
    }),

    // ── joins (SURVEY §2.3) ────────────────────────────────────────────────────
    "q_fk_chain" -> ((s, d) => {
      // J1 star-schema FK chain customer ⋈ orders ⋈ lineitem ⋈ nation
      val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"))
        .join(t(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(round(sum(rev), 2).as("revenue"), count(lit(1)).as("n_lines"))
    }),
    "q_semi_keyset" -> ((s, d) =>
      // S2/J5/J8 keyset-scoped scan: semi-join against a key set
      t(s, d, "lineitem")
        .join(t(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey")), col("l_orderkey") === col("o_orderkey"), "left_semi")
        .groupBy("l_orderkey").agg(count(lit(1)).as("n_lines"))),
    "q_anti_orphans" -> ((s, d) =>
      // anti-join (NOT EXISTS fallback of §2.7): customers with no urgent order
      t(s, d, "customer")
        .join(t(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT")
          .select("o_custkey"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")),
    "q_parent_lookup" -> ((s, d) =>
      // J6 parent lookup via left outer equi-join
      t(s, d, "nation")
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"), "left_outer")
        .select(col("n_name"), col("r_name"))),
    "q_prefix_hierarchy" -> ((s, d) => {
      // J4 hierarchy prefix join: descendants of each root by path prefix.
      // Theta-join form (LIKE path||'%', reference
      // ksb/I2b2KnowledgeSourceBackend.java:1633-1676) — valid only while the
      // ancestor side is broadcast-small; q_prefix_equi is the at-scale form
      val paths = t(s, d, "nation")
        .join(t(s, d, "region"), col("n_regionkey") === col("r_regionkey"))
        .select(concat(col("r_name"), lit("/"), col("n_name")).as("path"))
      broadcast(t(s, d, "region").select(col("r_name")))
        .join(paths, paths("path").startsWith(concat(col("r_name"), lit("/"))))
        .groupBy("r_name").agg(count(lit(1)).as("descendants"))
    }),
    "q_prefix_equi" -> ((s, d) => {
      // J4 at ontology scale (SURVEY §2.3's own prescription): instead of the
      // quadratic LIKE-prefix theta join, each node MATERIALIZES its proper
      // ancestor prefixes map-side (explode of a depth-bounded array — rows
      // ∝ nodes × depth) and the ancestor lookup becomes a hash EQUI-join on
      // the prefix string. Linear in both sides, shuffle keyed on the path,
      // no BroadcastNestedLoopJoin anywhere (PlanSpec pins it); survives
      // hierarchies too large to broadcast.
      val nodes = t(s, d, "supplier")
        .join(t(s, d, "nation"), col("s_nationkey") === col("n_nationkey"))
        .join(t(s, d, "region"), col("n_regionkey") === col("r_regionkey"))
        .select(col("r_name"), col("n_name"), col("s_name"))
      val prefixes = nodes.select(explode(array(
        col("r_name"),
        concat(col("r_name"), lit("/"), col("n_name")))).as("anc_path"))
      val ancestors = t(s, d, "region").select(col("r_name").as("anc_path"))
        .unionByName(t(s, d, "nation")
          .join(t(s, d, "region"), col("n_regionkey") === col("r_regionkey"))
          .select(concat(col("r_name"), lit("/"), col("n_name")).as("anc_path")))
      ancestors.join(prefixes, "anc_path")
        .groupBy("anc_path").agg(count(lit(1)).as("descendants"))
    }),
    "q_hier_rollup" -> ((s, d) => {
      // Hierarchical rollup: per-ANCESTOR aggregates over every descendant
      // leaf (reference dest/I2b2Statistics.java:205-209 joins per-concept
      // totals to parents via C_PATH; ksb/LevelReader.java:90-162 walks
      // levels up the path). Same at-scale shape as q_prefix_equi — each
      // leaf EXPLODES its ancestor prefixes map-side carrying the measure
      // (rows ∝ leaves × depth), then ONE hash aggregate keyed on the
      // ancestor path rolls every level up in a single pass: no recursion,
      // no per-level scans, no BroadcastNestedLoopJoin (PlanSpec pins it).
      val leaves = t(s, d, "supplier")
        .join(t(s, d, "nation"), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .select(col("r_name"), col("n_name"), col("s_acctbal"))
      leaves
        .select(explode(array(col("r_name"),
          concat(col("r_name"), lit("/"), col("n_name")))).as("anc_path"),
          col("s_acctbal"))
        .groupBy("anc_path")
        .agg(count(lit(1)).as("n_desc"), round(sum("s_acctbal"), 2).as("sum_bal"))
    }),
    "q_spec_scan" -> ((s, d) =>
      // S1 via the DECLARATIVE scan-spec layer (reference EntitySpec/DataSpec
      // analog, plans/scanspec.scala): the date-bounded projection of
      // q_date_bound expressed as config, compiled to the identical plan
      // (PlanSpec pins sameResult against the hand-written chain)
      graft.plans.ScanSpec.compile(t(s, d, _), graft.plans.ScanSpec(
        baseTable = "lineitem", keyCol = "l_orderkey",
        startTimeCol = Some("l_shipdate"),
        constraints = Seq(col("l_shipdate").between("1996-01-01", "1996-12-31")),
        properties = Seq(
          graft.plans.PropertySpec("l_orderkey", col("l_orderkey")),
          graft.plans.PropertySpec("l_linenumber", col("l_linenumber")),
          graft.plans.PropertySpec("l_quantity", col("l_quantity")),
          graft.plans.PropertySpec("l_shipdate", col("l_shipdate")))))),
    "q_spec_fk_chain" -> ((s, d) => {
      // J1 via the declarative layer: the q_fk_chain join tree as a LinkSpec
      // chain (broadcastDim marks the small nation dim exactly as the hand
      // query does); the aggregate rides on top of the compiled scan
      val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      graft.plans.ScanSpec.compile(t(s, d, _), graft.plans.ScanSpec(
          baseTable = "customer", keyCol = "c_custkey",
          links = Seq(
            graft.plans.LinkSpec("orders", "c_custkey", "o_custkey"),
            graft.plans.LinkSpec("lineitem", "o_orderkey", "l_orderkey"),
            graft.plans.LinkSpec("nation", "c_nationkey", "n_nationkey",
              broadcastDim = true))))
        .groupBy("n_name")
        .agg(round(sum(rev), 2).as("revenue"), count(lit(1)).as("n_lines"))
    }),
    "q_code_decode" -> ((s, d) =>
      // S3 code-mapping decode: remap a fact-side code column through a SMALL
      // broadcast mapping dimension, with a '@' sentinel for unmapped codes
      // (reference dsb/I2B2DataSourceBackend.java:176-181 decodes DB codes via
      // TSV resource maps; etc/i2b2dsb/*.txt). The mapping dim here is the
      // supplier table restricted to even keys so the unmapped path is exercised.
      t(s, d, "lineitem")
        .join(broadcast(t(s, d, "supplier")
          .filter(col("s_suppkey") % 2 === 0)
          .select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"), "left_outer")
        .groupBy(coalesce(col("s_name"), lit("@")).as("supp_name"))
        .agg(count(lit(1)).as("n_lines"),
          round(sum("l_quantity"), 2).as("sum_qty"))),
    "q_keyset_meta" -> ((s, d) =>
      // S4 3-table metadata lookup with flag filters
      t(s, d, "region")
        .join(t(s, d, "nation"), col("n_regionkey") === col("r_regionkey"))
        .join(t(s, d, "customer"), col("c_nationkey") === col("n_nationkey"))
        .filter(col("c_acctbal") > 0)
        .groupBy("r_name", "n_name").agg(count(lit(1)).as("n_cust"))),

    // ── aggregations (SURVEY §2.4) ─────────────────────────────────────────────
    "q1_agg" -> ((s, d) =>
      t(s, d, "lineitem").groupBy("l_returnflag", "l_linestatus").agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_price"),
        round(avg("l_discount"), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))),
    "q_rollup" -> ((s, d) =>
      // §2.4 grouping sets: ROLLUP over the region/nation hierarchy —
      // subtotals at every level plus the grand total in ONE pass (Expand +
      // a single hash aggregate); the reference's per-level statistics loops
      // (I2b2Statistics walking parents) collapsed into one shuffle.
      // Expressed via the general groupingSets API: on Spark 4.1,
      // Dataset.rollup downstream of ANY join trips DetectAmbiguousSelfJoin
      // (the Expand's duplicated grouping attrs carry the join's
      // __dataset_id tags; no select/alias/toDF barrier strips them), while
      // groupingSets with the explicit rollup set list analyzes clean —
      // same Expand + single HashAggregate plan
      t(s, d, "supplier")
        .join(t(s, d, "nation"), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .select("r_name", "n_name", "s_acctbal")
        .groupingSets(
          Seq(Seq(col("r_name"), col("n_name")), Seq(col("r_name")), Seq()),
          col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_suppliers"),
          round(sum("s_acctbal"), 2).as("sum_bal"))),
    "q_pivot" -> ((s, d) => {
      // §2.4 wide-table pivot: per-user event-type counts as columns. The
      // value list is EXPLICIT — an inferred pivot pays an extra distinct
      // scan and a nondeterministic column order, both wrong at 100 TB.
      // Absent combinations coalesce to 0 so the engine matches the
      // oracle's FILTERed counts exactly.
      val types = Seq("click", "error", "purchase", "signup", "view")
      val p = t(s, d, "events").groupBy("user_id")
        .pivot("event_type", types).agg(count(lit(1)))
      p.select(col("user_id") +:
        types.map(tp => coalesce(col(tp), lit(0L)).as(tp)): _*)
    }),
    "q_median" -> ((s, d) => {
      // §2.5 exact per-group median WITHOUT interpolation arithmetic (no
      // cross-engine bit spec for it): the element at row ⌊(n+1)/2⌋ under an
      // EXPLICIT total order (value, event_id) — tie semantics shared
      // verbatim with the oracle, never percentile()/quantile() built-ins
      // whose interpolation differs between engines
      val w = Window.partitionBy("event_type").orderBy("value", "event_id")
      val g = Window.partitionBy("event_type")
      t(s, d, "events")
        .withColumn("rn", row_number().over(w))
        .withColumn("cnt", count(lit(1)).over(g))
        .filter(col("rn") === floor((col("cnt") + lit(1)) / lit(2.0)).cast("long"))
        .select(col("event_type"), col("value").as("median_value"))
    }),
    "q_totalnum" -> ((s, d) =>
      // A2/A3 C_TOTALNUM-style per-concept totals + distinct patients
      t(s, d, "events").groupBy("event_type").agg(
        count(lit(1)).as("total"),
        count_distinct(col("user_id")).as("users"))),
    "q_distinct_sketch" -> ((s, d) => {
      // A6/§2.4 fixed-width distributed cardinality sketch (linear-counting
      // layout): md5-bucket each key into m=1024 slots packed as 32×32-bit
      // words, bit_or per word, popcount-sum per group. Aggregation buffers
      // are fixed-width longs (map-side combinable) and raw keys never reach
      // the shuffle — the bounded-memory path where count_distinct's
      // per-group hash set would not survive 100 TB keys. The consumer's
      // estimate −m·ln(1−V/m) stays downstream: transcendentals have no
      // cross-engine bit spec, so a hash-gated oracle exposes only V.
      // Bits stay < 2^31 because DuckDB's `<<` raises on BIGINT overflow.
      val bucket = pmod(PortableHash.md5Long(col("user_id").cast("string")), lit(1024))
      t(s, d, "events")
        .select(col("event_type"), bucket.as("b"))
        .select(col("event_type"), shiftright(col("b"), 5).as("w"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(b % 32 AS INT))").as("v"))
        .groupBy("event_type", "w").agg(expr("bit_or(v)").as("w_or"))
        .groupBy("event_type")
        .agg(sum(bit_count(col("w_or"))).cast("long").as("occupied_buckets"))
    }),
    "q_max_date" -> ((s, d) =>
      // A4 max-date resolution per entity
      t(s, d, "orders").groupBy("o_custkey").agg(
        max("o_orderdate").as("last_order"), count(lit(1)).as("n_orders"))),
    "q_age_bucket" -> ((s, d) =>
      // A5 family: calendar-distance bucketing against a FIXED reference date
      // (reference dest/metadata/DemographicsAgeBuilder.java:38-52 buckets ages
      // via `sysdate - 365.25*age` arithmetic; fixed date keeps it deterministic)
      t(s, d, "orders").select(col("o_orderkey"),
          floor(datediff(lit("1998-12-31"), col("o_orderdate")) / 365.25)
            .cast("long").as("age_years"))
        .select(col("age_years"),
          when(col("age_years") < 2, "fresh")
            .when(col("age_years") < 4, "recent")
            .otherwise("old").as("band"))
        .groupBy("band").agg(count(lit(1)).as("n_orders"))),
    "q_date_distance" -> ((s, d) =>
      // A5 calendar distance (ship delay per priority)
      t(s, d, "orders")
        .join(t(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(round(avg(datediff(col("l_shipdate"), col("o_orderdate"))), 4)
          .as("avg_delay_days"))),

    // ── set ops / top-k / scalar functions (SURVEY §2.6-2.8) ──────────────────
    "q_union_tag" -> ((s, d) => {
      val o = t(s, d, "orders")
      o.filter(col("o_totalprice") > 200000)
        .select(lit("high").as("band"), col("o_orderkey"), col("o_totalprice"))
        .unionByName(o.filter(col("o_totalprice") < 1000)
          .select(lit("low").as("band"), col("o_orderkey"), col("o_totalprice")))
    }),
    "q_range_join" -> ((s, d) => {
      // RANGE JOIN (operators/range.scala): lineitem ship days vs 7-day
      // order windows, no equi key — binned to a hash equi-join on the bin id
      // (bin width = window length → ~2 bins per interval) instead of the
      // BroadcastNestedLoopJoin the raw BETWEEN condition would compile to
      val epoch = lit("1992-01-01")
      val intervals = t(s, d, "orders").filter(col("o_orderkey") % 1500 === 0)
        .select(col("o_orderkey"),
          datediff(col("o_orderdate"), epoch).cast("long").as("w_start"))
        .withColumn("w_end", col("w_start") + 6)
      val points = t(s, d, "lineitem")
        .select(datediff(col("l_shipdate"), epoch).cast("long").as("ship_day"))
      graft.operators.RangeJoin
        .pointInInterval(points, "ship_day", intervals, "w_start", "w_end", 7L)
        .groupBy("o_orderkey").agg(count(lit(1)).as("n_shipped_in_window"))
    }),
    "q_asof_join" -> ((s, d) => {
      // LEFT AS-OF JOIN (operators/asof.scala): each click paired with the
      // user's most recent purchase at-or-before it — one key shuffle + one
      // sort + a carried-struct running window; never a per-key range
      // explosion. Right side pre-aggregated to unique (user_id, ts).
      val ev = t(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts")
        .agg(round(max("value"), 3).as("last_purchase_value"))
      graft.operators.AsofJoin
        .leftAsof(clicks, purchases, Seq("user_id"), "ts", "ts")
        .select("user_id", "click_id", "last_purchase_value")
    }),
    "q_asof_fwd" -> ((s, d) => {
      // FORWARD AS-OF JOIN: each click paired with the user's EARLIEST
      // purchase at-or-after it — the same single-shuffle composition with
      // the sort order reversed (operators/asof.scala)
      val ev = t(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts")
        .agg(round(max("value"), 3).as("next_purchase_value"))
      graft.operators.AsofJoin
        .leftAsofForward(clicks, purchases, Seq("user_id"), "ts", "ts")
        .select("user_id", "click_id", "next_purchase_value")
    }),
    "q_union_multi" -> ((s, d) => {
      // §2.7 N-way HETEROGENEOUS union — the reference's KSB pattern of
      // unioning N differently-shaped ontology/metadata tables into one feed
      // (reference ksb/AbstractUnionedMetadataQueryBuilder.java:43-58 builds
      // the N-branch UNION ALL SQL from templates). Spark-first:
      // unionByName(allowMissingColumns = true) aligns by NAME and null-fills
      // the shape differences — no positional-union column-order traps, and
      // each branch stays an independently-pushed-down scan.
      val cust = t(s, d, "customer").select(
        col("c_custkey").cast("long").as("entity_id"), col("c_name").as("name"),
        col("c_acctbal").as("acctbal"), lit("customer").as("src"))
      val supp = t(s, d, "supplier").select(
        col("s_suppkey").cast("long").as("entity_id"), col("s_name").as("name"),
        lit("supplier").as("src")) // no acctbal, no regionkey
      val nat = t(s, d, "nation").select(
        col("n_nationkey").cast("long").as("entity_id"), col("n_name").as("name"),
        col("n_regionkey").cast("long").as("regionkey"), lit("nation").as("src"))
      cust.unionByName(supp, allowMissingColumns = true)
        .unionByName(nat, allowMissingColumns = true)
    }),
    "q_topk_revenue" -> ((s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(round(sum("o_totalprice"), 2).as("spend"))
        .orderBy(col("spend").desc, col("c_custkey"))
        .limit(10)),
    "q_scalar_string" -> ((s, d) =>
      t(s, d, "part")
        .filter(upper(col("p_name")).like("%A%"))
        .select(col("p_partkey"), upper(col("p_name")).as("uname"),
          substring(col("p_type"), 1, 5).as("t5"),
          concat(col("p_brand"), lit("#"), col("p_type")).as("tagged"))),
    "q_blob_build" -> ((s, d) => {
      // S5-adjacent CLOB blob builder (reference dest/table/BlobBuilder.java:34,
      // 77-83 joins escaped value strings with '|'): per-group ordered
      // escape+concat in relational form. collect_list order is UNDEFINED
      // after a shuffle, so the total order is imposed by array_sort over
      // (event_id, payload) structs — event_id is unique, so the sort is
      // total and the blob deterministic. Escape backslash FIRST, then the
      // delimiter, verbatim in both engines. Per-group memory is the blob
      // itself — the same bound the reference's in-heap builder has.
      val esc = replace(replace(col("event_type"), lit("\\"), lit("\\\\")),
        lit("|"), lit("\\|"))
      t(s, d, "events")
        .select(col("user_id"), struct(col("event_id"), esc.as("p")).as("st"))
        .groupBy("user_id")
        .agg(array_join(
          transform(array_sort(collect_list(col("st"))), x => x.getField("p")),
          "|").as("blob"))
    }),

    // ── training-data pipeline ops over documents/embeddings ──────────────────
    "q_redact" -> ((s, d) => {
      // PII scrub (curation): the synthetic corpus is PII-free, so the
      // machinery is exercised by constructing deterministic synthetic PII
      // from doc_id IDENTICALLY in both engines, then redacting sequentially
      // (TextOps.redactPii: email → IPv4 → phone, counts taken at the stage
      // each pattern actually replaces at). Map-side projection, no shuffle.
      val payload = concat(col("text"),
        lit(" contact user"), (col("doc_id") % 1000).cast("string"),
        lit("@mail.example.com via 10.0."), (col("doc_id") % 256).cast("string"),
        lit(".7 call +1 555 01"), (col("doc_id") % 10).cast("string"), lit("2233"))
      val (ne, ni, np) = TextOps.piiCounts(payload)
      t(s, d, "documents").select(col("doc_id"),
        TextOps.redactPii(payload).as("redacted"),
        ne.as("n_email"), ni.as("n_ip"), np.as("n_phone"))
    }),
    "q_dedup_exact" -> ((s, d) =>
      // exact dedup grouped by the md5 FINGERPRINT with a fingerprint-only
      // output (fp, keep_id, copies): the shuffle carries 32 hex chars + two
      // longs per distinct document instead of whole documents, and the
      // aggregate stays a HashAggregate (carrying min/max(text) for an inline
      // collision check forces a SortAggregate + full-text shuffle — the
      // collision property is asserted in FunctionsSpec instead, where it
      // belongs: md5 collisions are 2^-64 events, not per-query work).
      t(s, d, "documents")
        .groupBy(md5(col("text").cast("binary")).as("fp"))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("copies"))),
    "q_fingerprint" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextOps.fingerprintMd5(col("text")).as("fp"))),
    "q_token_stats" -> ((s, d) =>
      t(s, d, "documents").select(
        col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars"),
        round(TextOps.stopwordRatio(col("text")), 6).as("stop_ratio"))),
    "q_subword" -> ((s, d) =>
      // BPE-ish token budget: words split on whitespace/punct/digits, ~4-char
      // subword units per word (vocab-free approximation of BPE granularity)
      t(s, d, "documents").select(col("doc_id"),
        TextOps.subwordCount(col("text")).cast("long").as("n_subwords"))),
    "q_lang_id" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("lang").as("true_lang"), TextOps.langId(col("text")).as("pred_lang"))
        .groupBy("true_lang", "pred_lang").agg(count(lit(1)).as("n"))),
    "q_quality" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextOps.qualityScore(col("text")).as("quality"))),
    "q_split_assign" -> ((s, d) =>
      // deterministic 90/5/5 train/val/test routing by content hash: a pure
      // map-side projection (no shuffle), stable under re-ingest and id
      // reassignment — see TextOps.splitBucket for why content- not id-keyed
      t(s, d, "documents")
        .withColumn("bucket", TextOps.splitBucket(col("text")))
        .select(col("doc_id"), col("bucket"),
          TextOps.splitName(col("bucket")).as("split"))),
    "q_tfidf" -> ((s, d) => {
      // relational TF-IDF, top term per document: one token explode, two
      // map-side-combinable aggregates (tf by (doc,term), df by term), a
      // term-keyed equi-join, and a per-doc window top-1. The corpus size
      // rides in as a broadcast 1-row frame — no driver collect. tf is
      // MATERIALIZED because three branches (score, df, n) hang off it —
      // unmaterialized, each re-tokenizes the whole corpus from the scan
      // (the explain showed 3 Generate+scan chains for one logical pass).
      // The idf is the RATIONAL form (N+1)/(df+1), not its log: +,*,/ are
      // IEEE-correctly-rounded and bit-identical across engines, while ln is
      // implemented by each engine's libm with only a ~1-ulp guarantee — the
      // one arithmetic op that can flip a round(...,6) at the hash gate
      // (the PortableHash rationale, applied to scoring)
      val tok = t(s, d, "documents").select(col("doc_id"),
        explode(filter(split(col("text"), " "), w => length(w) > 0)).as("term"))
      val tf = SimOps.materialize(
        tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))
      val n = tf.select("doc_id").distinct().agg(count(lit(1)).as("n"))
      // df as a WINDOW count over the tf rows (round-6, guide §2.4 "two
      // operations keyed the same way share one exchange"): each (doc, term)
      // row IS one document containing the term, so count(*) over the term
      // partition equals the old groupBy(term) aggregate — without the
      // aggregate + term-keyed join-back the old plan paid
      val wTerm = org.apache.spark.sql.expressions.Window.partitionBy("term")
      val scored = tf.withColumn("df", count(lit(1)).over(wTerm))
        .crossJoin(broadcast(n))
        .withColumn("tfidf", round(col("tf").cast("double") *
          ((col("n") + 1).cast("double") / (col("df") + 1).cast("double")), 6))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("tfidf").desc, col("term"))
      scored.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
        .select(col("doc_id"), col("term"), col("tfidf"))
    }),
    "q_repetition" -> ((s, d) => {
      // intra-document repetition (Gopher-style filter signal): 1 − distinct
      // bigrams / total bigrams per doc. One shingle pass, one per-doc
      // aggregate — count(distinct) over the doc's own bigrams is fine here
      // because the group is a single document, never the corpus. (An
      // xxhash64-the-bigram variant — shuffle 8-byte keys — measured SLOWER
      // at sf0.1, 0.67 → 0.77 s best-of-3: 2-gram strings are short and the
      // extra per-row hash costs more than the narrower shuffle saves.)
      SimOps.shingleRows(t(s, d, "documents"), "doc_id", "text", 2)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          countDistinct(col("_sh")).as("n_distinct"))
        .select(col("doc_id"), col("n_bigrams"),
          round(lit(1.0) - col("n_distinct").cast("double")
            / col("n_bigrams").cast("double"), 6).as("repetition"))
    }),
    "q_bigram_coverage" -> ((s, d) => {
      // boilerplate detection: the share of a doc's DISTINCT bigrams that are
      // corpus-common (appear in ≥ 5 documents). Round-6 single-branch form:
      // the document frequency of each bigram is a WINDOW count over the
      // deduped shingle rows (guide §2.4 "two operations keyed the same way
      // share one exchange") — the old shape materialized the shingles,
      // aggregated a common-bigram set and joined it back; here one pass
      // dedups, one window counts df, one per-doc aggregate finishes. The
      // dedup + window + df test run on the 8-byte xxhash64 of the bigram
      // (guide §2.3 "shuffle keys, not payloads"): equal bigrams ⟺ equal
      // hashes, so both counts are unchanged barring the same ~n²/2^64
      // collision odds every verify-path shingle join accepts.
      val w = Window.partitionBy("_s")
      SimOps.shingleRows(t(s, d, "documents"), "doc_id", "text", 2)
        .select(col("doc_id"), xxhash64(col("_sh")).as("_s"))
        .dropDuplicates("doc_id", "_s")
        .withColumn("_df", count(lit(1)).over(w))
        .groupBy("doc_id").agg(count(lit(1)).as("n_distinct"),
          sum(when(col("_df") >= 5, 1L).otherwise(0L)).as("n_common"))
        .select(col("doc_id"),
          round(col("n_common").cast("double")
            / col("n_distinct").cast("double"), 6).as("boilerplate_share"))
    }),
    "q_ngram_topk" -> ((s, d) => {
      // corpus-wide top-20 word bigrams: one shingle pass, one
      // map-side-combinable count, one global top-k (ORDER BY + LIMIT compiles
      // to TakeOrderedAndProject — each partition forwards only its local
      // top-20, never a full sort of the vocabulary)
      SimOps.shingleRows(t(s, d, "documents"), "doc_id", "text", 2)
        .groupBy(col("_sh").as("bigram")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram")).limit(20)
    }),
    "q_sample_strat" -> ((s, d) =>
      // deterministic stratified downsampling (language rebalancing): keep
      // 50% of 'en' and 10% of every other stratum by CONTENT-hash bucket —
      // a map-side filter (no shuffle, no RNG), reproducible across runs,
      // partitionings, and engines
      t(s, d, "documents")
        .withColumn("bucket", TextOps.splitBucket(col("text")))
        .filter(col("bucket") <
          when(col("lang") === "en", lit(50L)).otherwise(lit(10L)))
        .select(col("doc_id"), col("lang"), col("bucket"))),
    "q_decontam" -> ((s, d) => {
      // benchmark decontamination: distinct word-3-gram overlap of each corpus
      // doc against the eval set (doc_id % 20 == 0 stands in for the benchmark)
      val docs = t(s, d, "documents")
      SimOps.contaminationCounts(
          corpus = docs.filter(col("doc_id") % 20 =!= 0),
          bench = docs.filter(col("doc_id") % 20 === 0),
          "doc_id", "text", n = 3)
    }),
    "q_ann_topk" -> ((s, d) => {
      // brute-force cosine top-10 around the vec_id=0 query vector
      val e = t(s, d, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_embedding"))
      e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(SimOps.cosine(col("embedding"), col("q_embedding")), 6).as("cos"))
        .orderBy(col("cos").desc, col("vec_id"))
        .limit(10)
    }),
    "q_embed_norms" -> ((s, d) => {
      val norm = sqrt(aggregate(transform(col("embedding"), x => x.cast("double") * x.cast("double")),
        lit(0.0), (a, v) => a + v))
      t(s, d, "embeddings").groupBy("label")
        .agg(round(avg(norm), 6).as("avg_norm"), count(lit(1)).as("n"))
    }),

    // ── similarity / near-dup family (portable md5 hashes → full oracles) ──────
    "q_minhash_lsh" -> ((s, d) => {
      // near-dup candidate COUNT: shingle → minhash → band buckets → per-bucket
      // count(*) and n·(n−1)/2 arithmetic. No collect_set of ids — a hot bucket
      // would otherwise accumulate millions of ids into one reducer's array.
      val rows = SimOps.shingleRows(t(s, d, "documents"), "doc_id", "text", 3)
      val sigs = SimOps.minhashSignaturesFromRows(rows, "doc_id", 32)
      SimOps.bandBuckets(sigs, "doc_id", bands = 8, rowsPerBand = 4)
        .groupBy("band", "bucket").agg(count(lit(1)).as("n"))
        .select((col("n") * (col("n") - 1) / 2).cast("long").as("pairs_in_bucket"))
        .groupBy().agg(sum("pairs_in_bucket").as("candidate_pairs"))
    }),
    "q_simhash" -> ((s, d) =>
      SimOps.simhashSignatures(t(s, d, "documents"), "doc_id", "text")),
    "q_simhash_neardup" -> ((s, d) =>
      // SimHash near-dup: 4×16-bit band blocking (pigeonhole-complete for
      // Hamming ≤ 3) + exact full-width Hamming verify
      SimOps.simhashNeardupPairs(
        SimOps.simhashSignatures(t(s, d, "documents"), "doc_id", "text"),
        "doc_id", maxHamming = 3)),
    "q_ngram_jaccard" -> ((s, d) =>
      // pairwise n-gram Jaccard blocked on LSH band buckets (NOT metadata blocks
      // like (lang, source): those grow linearly with the corpus, making the
      // within-block join quadratic — LSH bucket sizes stay bounded at scale)
      SimOps.neardupPairs(t(s, d, "documents"), "doc_id", "text",
          shingleN = 2, k = 32, bands = 8, rowsPerBand = 4, maxBucket = 200)
        .select(col("left_id"), col("right_id"), round(col("jaccard"), 4).as("jac"))
        .filter(col("jac") >= 0.05)),
    "q_editdist_neardup" -> ((s, d) => {
      // fuzzy near-dup with EDIT-DISTANCE verify: the same LSH band-bucket
      // blocking as the jaccard family (never all-pairs), then Spark's
      // codegen'd levenshtein on a 200-char cap — the verify metric of choice
      // when token-set overlap is blind to the edit (transpositions, OCR-ish
      // character noise). Cap keeps the O(|a|·|b|) cell cost bounded per pair
      // and is part of the oracle contract.
      val docs = t(s, d, "documents")
      val rows = SimOps.shingleRows(docs, "doc_id", "text", 2)
      val sigs = SimOps.minhashSignaturesFromRows(rows, "doc_id", 32)
      val pairs = SimOps.candidatePairs(
        SimOps.bandBuckets(sigs, "doc_id", 8, 4), "doc_id", 200)
      val txt = docs.select(col("doc_id"), substring(col("text"), 1, 200).as("t200"))
      pairs
        .join(txt.select(col("doc_id").as("left_id"), col("t200").as("lt")), "left_id")
        .join(txt.select(col("doc_id").as("right_id"), col("t200").as("rt")), "right_id")
        .select(col("left_id"), col("right_id"),
          levenshtein(col("lt"), col("rt")).cast("long").as("dist"))
        .filter(col("dist") <= 60)
    }),
    "q_neardup_resolve" -> ((s, d) => {
      // the end-to-end near-dup dedup operator: LSH candidates → exact-jaccard
      // verify → keep-min-id survivors (a doc is dropped iff a verified-similar
      // doc with a smaller id exists)
      val pairs = SimOps.neardupPairs(t(s, d, "documents"), "doc_id", "text",
        shingleN = 2, k = 32, bands = 8, rowsPerBand = 4, maxBucket = 200)
      val dropped = pairs.filter(col("jaccard") >= 0.5)
        .select(col("right_id").as("doc_id")).distinct()
      t(s, d, "documents").join(dropped, Seq("doc_id"), "left_anti").select("doc_id")
    }),
    "q_neardup_groups" -> ((s, d) => {
      // TRANSITIVE near-dup grouping: verified pairs → connected components →
      // (doc_id, group_id = min id of the component). The cluster-level form
      // of q_neardup_resolve's pairwise keep-min-id (see
      // SimOps.connectedComponents for why chains need components)
      val pairs = SimOps.neardupPairs(t(s, d, "documents"), "doc_id", "text",
          shingleN = 2, k = 32, bands = 8, rowsPerBand = 4, maxBucket = 200)
        .filter(col("jaccard") >= 0.5)
      SimOps.connectedComponents(pairs, "left_id", "right_id")
    }),
    "q_dedup_incr" -> ((s, d) => {
      // INCREMENTAL exact dedup: flag each doc of the arriving batch that
      // already exists (by content fingerprint) in the ingested corpus — a
      // fingerprint left-join, the shuffle carrying 32 hex chars per distinct
      // document (same scale rationale as q_dedup_exact; at rest the index
      // side is the persisted fingerprint column, not a recomputation). The
      // driver corpus has no cross-split dups at this SF, so the flag column
      // is exercised structurally here and positively in FunctionsSpec.
      val docs = t(s, d, "documents")
      docs.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
        .join(docs.filter(col("doc_id") % 10 =!= 0)
            .select(md5(col("text").cast("binary")).as("fp"), lit(true).as("_hit"))
            .distinct(),
          Seq("fp"), "left_outer")
        .select(col("doc_id"), col("fp"),
          coalesce(col("_hit"), lit(false)).as("already_ingested"))
    }),
    "q_neardup_incr" -> ((s, d) => {
      // INCREMENTAL near-dup: a new microbatch (doc_id % 10 == 0 stands in for
      // the arriving batch) finds its near-dups against the already-ingested
      // corpus via the persisted-index join shape (batch bands ⋈ index bands,
      // index side bucket-capped) — never re-pairing the corpus against itself
      val docs = t(s, d, "documents")
      val index = SimOps.neardupIndexTables(docs.filter(col("doc_id") % 10 =!= 0),
        "doc_id", "text", shingleN = 2, k = 32, bands = 8, rowsPerBand = 4)
      SimOps.incrementalPairsAgainst(index, docs.filter(col("doc_id") % 10 === 0),
          "doc_id", "text", shingleN = 2, k = 32, bands = 8, rowsPerBand = 4,
          maxBucket = 200)
        .select(col("new_id"), col("old_id"), round(col("jaccard"), 4).as("jac"))
        .filter(col("jac") >= 0.05)
    }),
    "q_rolling_fp" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextOps.rollingFingerprint(col("text")).as("rfp"))),
    "q_ann_lsh" -> ((s, d) =>
      // real ANN search: hyperplane-LSH buckets + Hamming≤1 multi-probe +
      // within-probe brute-force cosine top-3 per query vector
      SimOps.annTopK(t(s, d, "embeddings"), "vec_id", "embedding",
          planes = 8, k = 3, maxBucket = 200)
        .select(col("vec_id"), col("rank").cast("long").as("rank"),
          col("nn_id"), col("cos"))),
    "q_ann_ivf" -> ((s, d) =>
      // IVF-Flat ANN: deterministic 16-centroid coarse quantizer, 2-probe
      // search, exact-cosine top-3 within the probed inverted lists — the
      // density-adaptive complement to hyperplane-LSH q_ann_lsh
      SimOps.ivfTopK(t(s, d, "embeddings"), "vec_id", "embedding",
          c = 16, nProbe = 2, k = 3)
        .select(col("vec_id"), col("rank").cast("long").as("rank"),
          col("nn_id"), col("cos"))),
    "q_embed_neardup" -> ((s, d) =>
      // embedding-cosine near-dup: LSH-bucketed candidate pairs (Hamming≤1
      // probe) with exact cosine ≥ threshold — the embedding analog of
      // q_neardup_resolve's candidates→verify stage
      SimOps.cosineNeardupPairs(t(s, d, "embeddings"), "vec_id", "embedding",
          planes = 8, radius = 1, maxBucket = 200)
        .filter(col("cos") >= 0.2)),

    // ── round-5 batch 2: change feed, interval algebra, bloom reduction ──────
    "q_version_diff" -> ((s, d) => {
      // CHANGE-DATA-FEED read (operators/changefeed.scala): the insert/update
      // rows between the LWW states at LSN watermarks 300 and 700 — computed
      // in ONE scan + ONE hash aggregate (two conditional max(struct)s), not
      // two resolves full-outer-joined
      graft.operators.ChangeFeed.byWatermark(
          t(s, d, "events"), Seq("user_id", "event_type"), "event_id",
          Seq("value"), t1 = 300L, t2 = 700L)
        .select(col("user_id"), col("event_type"), col("_change").as("change"),
          col("_old_lsn").as("old_lsn"), col("_new_lsn").as("new_lsn"),
          round(col("value"), 3).as("new_value"))
    }),
    "q_interval_overlap" -> ((s, d) => {
      // INTERVAL-OVERLAP JOIN (operators/range.scala): 14-day order windows vs
      // 21-day order windows, no equi key — binned to a hash equi-join with
      // first-shared-bin dedup (exact multiplicity, no post-join distinct)
      val epoch = lit("1992-01-01")
      def days(c: Column) = datediff(c.cast("date"), epoch).cast("long")
      val o = t(s, d, "orders")
      val a = o.filter(col("o_orderkey") % 300 === 0)
        .select(col("o_orderkey").as("a_key"), days(col("o_orderdate")).as("a_start"))
        .withColumn("a_end", col("a_start") + 13)
      val b = o.filter(col("o_orderkey") % 300 === 100)
        .select(col("o_orderkey").as("b_key"), days(col("o_orderdate")).as("b_start"))
        .withColumn("b_end", col("b_start") + 20)
      graft.operators.RangeJoin.intervalOverlap(
          a, "a_start", "a_end", b, "b_start", "b_end", binWidth = 14L)
        .select("a_key", "b_key", "a_start", "b_start")
    }),
    "q_coalesce_intervals" -> ((s, d) => {
      // gaps-and-islands: merge each order's overlapping shipment spans
      // [ship_day, ship_day + quantity] into islands — running-max window +
      // cumulative new-island flag, one partitioned sort, no self-join
      val epoch = lit("1992-01-01")
      val li = t(s, d, "lineitem")
        .withColumn("s", datediff(col("l_shipdate"), epoch).cast("long"))
        .select(col("l_orderkey"), col("s"),
          (col("s") + floor(col("l_quantity"))).as("e"),
          col("l_linenumber"))
      val w = Window.partitionBy("l_orderkey").orderBy("s", "e", "l_linenumber")
      li.withColumn("prev_max_e",
          max("e").over(w.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("brk",
          when(col("prev_max_e").isNull || col("s") > col("prev_max_e"), 1L).otherwise(0L))
        .withColumn("island", sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("l_orderkey", "island")
        .agg(min("s").as("island_start"), max("e").as("island_end"),
          count(lit(1)).as("n_spans"))
    }),
    "q_bloom_semi" -> ((s, d) => {
      // BLOOM SEMI-JOIN REDUCTION (operators/bloom.scala): fixed-width md5
      // bitmap kills non-matching lineitem rows map-side before the exact
      // semi-join; result row-for-row equals the plain semi-join
      val dim = t(s, d, "orders").filter(col("o_totalprice") > 300000)
      graft.operators.BloomFilter.semiJoin(
          t(s, d, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity"),
          "l_orderkey", dim, "o_orderkey", mBits = 1 << 14, k = 3)
    }),
    "q_transitions" -> ((s, d) => {
      // role/event-type transition matrix over per-user event sequences (the
      // agent-transcript "what follows what" statistic): lead + one aggregate
      val w = Window.partitionBy("user_id").orderBy("event_id")
      t(s, d, "events")
        .select(col("event_type"), lead("event_type", 1).over(w).as("next_type"))
        .filter(col("next_type").isNotNull)
        .groupBy("event_type", "next_type").agg(count(lit(1)).as("n"))
    }),
    "q_mode" -> ((s, d) => {
      // §2.4 MODE per group with deterministic tie-break (max count, then
      // lexicographic min) — count-aggregate + top-1 window, never collect
      val counts = t(s, d, "events").groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("user_id").orderBy(col("n").desc, col("event_type"))
      counts.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("user_id"), col("event_type").as("mode_type"), col("n"))
    }),
    "q_cube" -> ((s, d) =>
      // §2.4 CUBE: all four grouping sets of (event_type, value band) in one
      // Expand + one aggregate — same one-shuffle shape as q_rollup. Both
      // cube dimensions are non-null by construction, so subtotal NULLs are
      // unambiguous without a grouping_id column.
      t(s, d, "events")
        .select(col("event_type"), floor(col("value") / 100.0d).cast("long").as("vband"))
        .cube("event_type", "vband").agg(count(lit(1)).as("n"))),
    "q_skew_join" -> ((s, d) => {
      // SALTED SKEW JOIN (operators/skewjoin.scala): hot left keys sharded 8
      // ways, right side replicated per shard — every left row still meets
      // each matching right row exactly once; result equals the plain join
      val left = t(s, d, "lineitem")
        .select(col("l_orderkey").as("k"), col("l_quantity"))
      val right = t(s, d, "orders").filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey").as("k"), col("o_orderpriority"))
      graft.operators.SkewJoin.saltedInner(left, right, Seq("k"), salt = 8)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(floor(col("l_quantity"))).as("qty")) // integral: order-independent
    }),
    "q_topk_group" -> ((s, d) => {
      // §2.6 top-k PER GROUP: top-3 users by event count per event type,
      // deterministic tie-break — count aggregate + rank window, never collect
      val counts = t(s, d, "events").groupBy("event_type", "user_id")
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type").orderBy(col("n").desc, col("user_id"))
      counts.withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
        .select(col("event_type"), col("rank").cast("long").as("rank"),
          col("user_id"), col("n"))
    }),
    "q_histogram" -> ((s, d) =>
      // equi-width histogram of value per event_type: the deterministic
      // distribution sketch (floor-div bin + order-independent min/max/count;
      // no FP accumulation order in the compare)
      t(s, d, "events")
        .select(col("event_type"), floor(col("value") / 50.0d).cast("long").as("bin"),
          col("value"))
        .groupBy("event_type", "bin")
        .agg(count(lit(1)).as("n"), round(min("value"), 3).as("lo"),
          round(max("value"), 3).as("hi")))
  )

  def oracleSql: Map[String, String] = Map(
    "q_cdc_lww_state" ->
      """SELECT user_id, event_type, value AS last_value, ts AS last_ts
         FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                            ORDER BY event_id DESC) AS rn FROM events)
         WHERE rn = 1""",
    "q_cdc_conflicts" ->
      """SELECT user_id, event_type, count(*) AS n_events,
                min(event_id) AS lsn_min, max(event_id) AS lsn_max
         FROM events GROUP BY user_id, event_type""",
    "q_running_total" ->
      """SELECT user_id, event_id,
                round(sum(value) OVER (PARTITION BY user_id ORDER BY event_id), 3)
                  AS running_value
         FROM events""",
    "q_sessionize" ->
      """SELECT user_id, CAST(sum(brk) AS BIGINT) AS n_sessions,
                count(*) AS n_events
         FROM (SELECT user_id,
                      CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                             IS NULL
                        OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id
                                                           ORDER BY ts, event_id)) > 1800
                        THEN 1 ELSE 0 END AS brk
               FROM events)
         GROUP BY user_id""",
    "q_lag_gap" ->
      """SELECT user_id, event_id,
                epoch_us(ts) - lag(epoch_us(ts))
                  OVER (PARTITION BY user_id ORDER BY event_id) AS gap_us,
                lead(epoch_us(ts))
                  OVER (PARTITION BY user_id ORDER BY event_id) - epoch_us(ts)
                  AS next_us
         FROM events""",
    "q_ntile" ->
      """SELECT event_id, event_type,
                ntile(4) OVER (PARTITION BY event_type
                               ORDER BY value, event_id) AS quartile
         FROM events""",
    "q_distinct_sketch" ->
      s"""SELECT event_type, CAST(sum(bit_count(w_or)) AS BIGINT) AS occupied_buckets
         FROM (SELECT event_type, w, bit_or(v) AS w_or
               FROM (SELECT event_type, b >> 5 AS w,
                            (CAST(1 AS BIGINT) << CAST(b % 32 AS INTEGER)) AS v
                     FROM (SELECT event_type,
                                  ${PortableHash.md5LongSql("CAST(user_id AS VARCHAR)")} % 1024 AS b
                           FROM events))
               GROUP BY event_type, w)
         GROUP BY event_type""",
    "q_blob_build" ->
      """SELECT user_id,
                string_agg(replace(replace(event_type, '\', '\\'), '|', '\|'),
                           '|' ORDER BY event_id) AS blob
         FROM events GROUP BY user_id""",
    "q_link_traversal" ->
      """SELECT a.l_orderkey, count(*) AS n_links,
                round(sum(b.l_quantity - a.l_quantity), 2) AS qty_drift
         FROM lineitem a JOIN lineitem b
           ON a.l_orderkey = b.l_orderkey AND b.l_linenumber = a.l_linenumber + 1
         GROUP BY a.l_orderkey""",
    "q_date_bound" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate FROM lineitem
         WHERE l_shipdate BETWEEN '1996-01-01' AND '1996-12-31'""",
    "q_valtype_encode" ->
      """SELECT event_id,
                CASE WHEN value >= 100 THEN 'N' ELSE 'T' END AS valtype_cd,
                CASE WHEN value >= 100 THEN NULL ELSE event_type END AS tval_char,
                CASE WHEN value >= 100 THEN round(value, 3) ELSE NULL END AS nval_num
         FROM events""",
    "q_sentinel_clamp" ->
      """SELECT doc_id, coalesce(nullif(substr(text, 1, 50), ''), '@') AS text50
         FROM documents""",
    "q_json_props" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
         FROM events""",
    // q_xml_props: DuckDB has no XML functions, so the oracle re-extracts the
    // fields with single-tag regexes over the SAME blob the engine feeds to
    // from_xml — the construction expression is shared verbatim with the
    // Spark side (the subwordDelimClass discipline)
    "q_xml_props" ->
      """WITH x AS (
           SELECT event_id,
                  '<ValueMetadata><Version>3.02</Version><DataType>' ||
                  CASE WHEN value >= 100 THEN 'PosFloat' ELSE 'Enum' END ||
                  '</DataType><Oktousevalues>' ||
                  CASE WHEN event_type IN ('purchase','signup') THEN 'Y' ELSE 'N' END ||
                  '</Oktousevalues><Nval>' || CAST(user_id AS VARCHAR) ||
                  '</Nval></ValueMetadata>' AS xml
           FROM events)
         SELECT event_id,
                regexp_extract(xml, '<DataType>([^<]*)</DataType>', 1) AS data_type,
                regexp_extract(xml, '<Oktousevalues>([^<]*)</Oktousevalues>', 1) AS ok_values,
                CAST(regexp_extract(xml, '<Nval>([^<]*)</Nval>', 1) AS BIGINT) AS nval
         FROM x""",
    "q_fk_chain" ->
      """SELECT n_name, round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
                count(*) AS n_lines
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name""",
    // q_spec_scan / q_spec_fk_chain are the scan-spec-compiled twins of
    // q_date_bound / q_fk_chain — the oracle is the same SQL because the
    // declarative layer must change NOTHING about the result (or the plan:
    // PlanSpec pins sameResult)
    "q_spec_scan" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate FROM lineitem
         WHERE l_shipdate BETWEEN '1996-01-01' AND '1996-12-31'""",
    "q_spec_fk_chain" ->
      """SELECT n_name, round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
                count(*) AS n_lines
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name""",
    "q_semi_keyset" ->
      """SELECT l_orderkey, count(*) AS n_lines FROM lineitem
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_orderkey = l_orderkey AND o_orderpriority = '1-URGENT')
         GROUP BY l_orderkey""",
    "q_anti_orphans" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_orderpriority = '1-URGENT')""",
    "q_parent_lookup" ->
      """SELECT n_name, r_name FROM nation
         LEFT OUTER JOIN region ON n_regionkey = r_regionkey""",
    "q_prefix_hierarchy" ->
      """SELECT r.r_name, count(*) AS descendants
         FROM region r
         JOIN (SELECT r_name || '/' || n_name AS path
               FROM nation JOIN region ON n_regionkey = r_regionkey) p
           ON p.path LIKE r.r_name || '/%'
         GROUP BY r.r_name""",
    "q_prefix_equi" ->
      """WITH nodes AS (
           SELECT r_name, n_name, s_name
           FROM supplier
           JOIN nation ON s_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey),
         prefixes AS (
           SELECT unnest([r_name, r_name || '/' || n_name]) AS anc_path FROM nodes),
         ancestors AS (
           SELECT r_name AS anc_path FROM region
           UNION ALL
           SELECT r_name || '/' || n_name AS anc_path
           FROM nation JOIN region ON n_regionkey = r_regionkey)
         SELECT anc_path, count(*) AS descendants
         FROM ancestors JOIN prefixes USING (anc_path)
         GROUP BY anc_path""",
    "q_hier_rollup" ->
      """WITH leaves AS (
           SELECT r_name, n_name, s_acctbal
           FROM supplier
           JOIN nation ON s_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey),
         anc AS (
           SELECT r_name AS anc_path, s_acctbal FROM leaves
           UNION ALL
           SELECT r_name || '/' || n_name AS anc_path, s_acctbal FROM leaves)
         SELECT anc_path, count(*) AS n_desc, round(sum(s_acctbal), 2) AS sum_bal
         FROM anc GROUP BY anc_path""",
    "q_code_decode" ->
      """SELECT coalesce(s_name, '@') AS supp_name, count(*) AS n_lines,
                round(sum(l_quantity), 2) AS sum_qty
         FROM lineitem
         LEFT OUTER JOIN (SELECT s_suppkey, s_name FROM supplier
                          WHERE s_suppkey % 2 = 0) m
           ON l_suppkey = m.s_suppkey
         GROUP BY coalesce(s_name, '@')""",
    "q_keyset_meta" ->
      """SELECT r_name, n_name, count(*) AS n_cust
         FROM region
         JOIN nation ON n_regionkey = r_regionkey
         JOIN customer ON c_nationkey = n_nationkey
         WHERE c_acctbal > 0
         GROUP BY r_name, n_name""",
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
                round(sum(l_quantity), 2) AS sum_qty,
                round(sum(l_extendedprice), 2) AS sum_price,
                round(avg(l_discount), 6) AS avg_disc,
                count(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus""",
    "q_rollup" ->
      """SELECT r_name, n_name, count(*) AS n_suppliers,
                round(sum(s_acctbal), 2) AS sum_bal
         FROM supplier
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY ROLLUP (r_name, n_name)""",
    "q_pivot" ->
      """SELECT user_id,
                count(*) FILTER (event_type = 'click')    AS click,
                count(*) FILTER (event_type = 'error')    AS error,
                count(*) FILTER (event_type = 'purchase') AS purchase,
                count(*) FILTER (event_type = 'signup')   AS signup,
                count(*) FILTER (event_type = 'view')     AS view
         FROM events GROUP BY user_id""",
    "q_median" ->
      """SELECT event_type, value AS median_value
         FROM (SELECT event_type, value,
                      row_number() OVER (PARTITION BY event_type
                                         ORDER BY value, event_id) AS rn,
                      count(*) OVER (PARTITION BY event_type) AS cnt
               FROM events)
         WHERE rn = CAST(floor((cnt + 1) / 2.0) AS BIGINT)""",
    "q_totalnum" ->
      """SELECT event_type, count(*) AS total, count(DISTINCT user_id) AS users
         FROM events GROUP BY event_type""",
    "q_max_date" ->
      """SELECT o_custkey, max(o_orderdate) AS last_order, count(*) AS n_orders
         FROM orders GROUP BY o_custkey""",
    "q_age_bucket" ->
      """SELECT CASE WHEN age_years < 2 THEN 'fresh'
                     WHEN age_years < 4 THEN 'recent'
                     ELSE 'old' END AS band,
                count(*) AS n_orders
         FROM (SELECT CAST(floor(date_diff('day', o_orderdate, DATE '1998-12-31')
                                 / 365.25) AS BIGINT) AS age_years
               FROM orders)
         GROUP BY 1""",
    "q_date_distance" ->
      """SELECT o_orderpriority,
                round(avg(date_diff('day', o_orderdate, l_shipdate)), 4) AS avg_delay_days
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         GROUP BY o_orderpriority""",
    "q_union_tag" ->
      """SELECT 'high' AS band, o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 200000
         UNION ALL
         SELECT 'low' AS band, o_orderkey, o_totalprice FROM orders WHERE o_totalprice < 1000""",
    // the oracle states the range join as the raw BETWEEN theta join the
    // binned equi-join must be equivalent to
    "q_range_join" ->
      """WITH i AS (SELECT o_orderkey,
                           date_diff('day', DATE '1992-01-01', o_orderdate) AS w_start,
                           date_diff('day', DATE '1992-01-01', o_orderdate) + 6 AS w_end
                    FROM orders WHERE o_orderkey % 1500 = 0),
              p AS (SELECT date_diff('day', DATE '1992-01-01', l_shipdate) AS ship_day
                    FROM lineitem)
         SELECT o_orderkey, count(*) AS n_shipped_in_window
         FROM i JOIN p ON p.ship_day BETWEEN i.w_start AND i.w_end
         GROUP BY o_orderkey""",
    // DuckDB's native ASOF LEFT JOIN is the oracle for the composed
    // union+window form — same inclusive l.ts >= r.ts semantics
    "q_asof_join" ->
      """WITH l AS (SELECT user_id, event_id AS click_id, ts FROM events
                    WHERE event_type = 'click'),
              r AS (SELECT user_id, ts, round(max(value), 3) AS last_purchase_value
                    FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
         SELECT l.user_id, l.click_id, r.last_purchase_value
         FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts""",
    // forward direction: DuckDB ASOF with <= picks the smallest r.ts >= l.ts
    "q_asof_fwd" ->
      """WITH l AS (SELECT user_id, event_id AS click_id, ts FROM events
                    WHERE event_type = 'click'),
              r AS (SELECT user_id, ts, round(max(value), 3) AS next_purchase_value
                    FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
         SELECT l.user_id, l.click_id, r.next_purchase_value
         FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts <= r.ts""",
    "q_union_multi" ->
      """SELECT CAST(c_custkey AS BIGINT) AS entity_id, c_name AS name,
                c_acctbal AS acctbal, 'customer' AS src
         FROM customer
         UNION ALL BY NAME
         SELECT CAST(s_suppkey AS BIGINT) AS entity_id, s_name AS name,
                'supplier' AS src
         FROM supplier
         UNION ALL BY NAME
         SELECT CAST(n_nationkey AS BIGINT) AS entity_id, n_name AS name,
                CAST(n_regionkey AS BIGINT) AS regionkey, 'nation' AS src
         FROM nation""",
    "q_topk_revenue" ->
      """SELECT c_custkey, c_name, round(sum(o_totalprice), 2) AS spend
         FROM customer JOIN orders ON c_custkey = o_custkey
         GROUP BY c_custkey, c_name
         ORDER BY spend DESC, c_custkey LIMIT 10""",
    "q_scalar_string" ->
      """SELECT p_partkey, upper(p_name) AS uname, substr(p_type, 1, 5) AS t5,
                p_brand || '#' || p_type AS tagged
         FROM part WHERE upper(p_name) LIKE '%A%'""",
    "q_redact" -> {
      val payload = "concat(text, ' contact user', CAST(doc_id%1000 AS VARCHAR), " +
        "'@mail.example.com via 10.0.', CAST(doc_id%256 AS VARCHAR), " +
        "'.7 call +1 555 01', CAST(doc_id%10 AS VARCHAR), '2233')"
      s"""WITH p AS (SELECT doc_id, $payload AS s FROM documents),
              e AS (SELECT doc_id, s,
                           regexp_replace(s, '${TextOps.emailRe}', '<EMAIL>', 'g') AS s1
                    FROM p),
              i AS (SELECT doc_id, s, s1,
                           regexp_replace(s1, '${TextOps.ipv4Re}', '<IP>', 'g') AS s2
                    FROM e)
         SELECT doc_id,
                regexp_replace(s2, '${TextOps.phoneRe}', '<PHONE>', 'g') AS redacted,
                ${TextOps.piiCountSql("s", TextOps.emailRe)} AS n_email,
                ${TextOps.piiCountSql("s1", TextOps.ipv4Re)} AS n_ip,
                ${TextOps.piiCountSql("s2", TextOps.phoneRe)} AS n_phone
         FROM i"""
    },
    "q_dedup_exact" ->
      """SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS copies
         FROM documents GROUP BY md5(text)""",
    "q_fingerprint" ->
      """SELECT doc_id, md5(text) AS fp FROM documents""",
    "q_token_stats" ->
      """SELECT doc_id,
                CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT)
                  AS n_tokens,
                CAST(length(text) AS BIGINT) AS n_chars,
                round(
                  ((length(' '||text||' ') - length(replace(' '||text||' ',' the ',''))) / 5
                 + (length(' '||text||' ') - length(replace(' '||text||' ',' a ',''))) / 3
                 + (length(' '||text||' ') - length(replace(' '||text||' ',' of ',''))) / 4
                 + (length(' '||text||' ') - length(replace(' '||text||' ',' and ',''))) / 5
                 + (length(' '||text||' ') - length(replace(' '||text||' ',' to ',''))) / 4
                 + (length(' '||text||' ') - length(replace(' '||text||' ',' is ',''))) / 4
                 + (length(' '||text||' ') - length(replace(' '||text||' ',' in ',''))) / 4)
                 / greatest(CAST(len(list_filter(string_split(text,' '), t -> t <> '')) AS DOUBLE), 1.0)
                , 6) AS stop_ratio
         FROM documents""",
    // the split class is TextOps.subwordDelimClass VERBATIM: explicit hex ranges
    // parse identically in Java regex (Spark) and RE2 (DuckDB) — shorthand
    // classes like \s / [:punct:] diverge on edge chars (RE2's \s excludes
    // U+000B; Java's includes it), which failed the hash gate in round 2
    // outer CAST: DuckDB list_sum over BIGINT returns HUGEINT (int128), which
    // pandas renders float64 and hash-mismatches Spark's int64 even when every
    // value is equal — cost the round-3 hash gate
    "q_subword" ->
      s"""SELECT doc_id,
                CAST(coalesce(list_sum(list_transform(
                  list_filter(regexp_split_to_array(text, '${TextOps.subwordDelimClass}'),
                              w -> len(w) > 0),
                  w -> CAST(ceil(len(w) / 4.0) AS BIGINT))), 0) AS BIGINT) AS n_subwords
         FROM documents""",
    "q_lang_id" ->
      s"""SELECT true_lang, pred_lang, count(*) AS n FROM (
           SELECT lang AS true_lang,
             CASE
               WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en >= s_zh THEN 'en'
               WHEN s_de >= s_en AND s_de >= s_fr AND s_de >= s_es AND s_de >= s_zh THEN 'de'
               WHEN s_fr >= s_en AND s_fr >= s_de AND s_fr >= s_es AND s_fr >= s_zh THEN 'fr'
               WHEN s_es >= s_en AND s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
               ELSE 'zh' END AS pred_lang
           FROM (SELECT lang, ${langScoreSql("en")} AS s_en, ${langScoreSql("de")} AS s_de,
                        ${langScoreSql("fr")} AS s_fr, ${langScoreSql("es")} AS s_es,
                        ${langScoreSql("zh")} AS s_zh
                 FROM documents)
         ) GROUP BY true_lang, pred_lang""",
    "q_quality" ->
      """SELECT doc_id, round(
           (CASE WHEN length(text) BETWEEN 50 AND 10000 THEN 0.5 ELSE 0.0 END)
         + (CASE WHEN (
              ((length(' '||text||' ') - length(replace(' '||text||' ',' the ',''))) / 5
             + (length(' '||text||' ') - length(replace(' '||text||' ',' a ',''))) / 3
             + (length(' '||text||' ') - length(replace(' '||text||' ',' of ',''))) / 4
             + (length(' '||text||' ') - length(replace(' '||text||' ',' and ',''))) / 5
             + (length(' '||text||' ') - length(replace(' '||text||' ',' to ',''))) / 4
             + (length(' '||text||' ') - length(replace(' '||text||' ',' is ',''))) / 4
             + (length(' '||text||' ') - length(replace(' '||text||' ',' in ',''))) / 4)
              / greatest(CAST(len(list_filter(string_split(text,' '), t -> t <> '')) AS DOUBLE), 1.0)
            ) > 0.01 THEN 0.3 ELSE 0.0 END)
         + 0.2
         - (CASE WHEN (
              ((length(text) - length(replace(text,'.','')))
             + (length(text) - length(replace(text,',','')))
             + (length(text) - length(replace(text,'!','')))
             + (length(text) - length(replace(text,'?',''))))
              / greatest(CAST(length(text) AS DOUBLE), 1.0)) > 0.1 THEN 0.2 ELSE 0.0 END)
         , 2) AS quality FROM documents""",
    "q_split_assign" ->
      """SELECT doc_id,
                CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) % 100 AS bucket,
                CASE WHEN CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) % 100 < 90
                       THEN 'train'
                     WHEN CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) % 100 < 95
                       THEN 'val'
                     ELSE 'test' END AS split
         FROM documents""",
    "q_tfidf" ->
      """WITH tok AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS term
                      FROM documents),
          tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
          dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
          n AS (SELECT count(DISTINCT doc_id) AS n FROM tf),
          scored AS (SELECT doc_id, term,
                            round(CAST(tf AS DOUBLE) *
                                  (CAST(n + 1 AS DOUBLE) / CAST(df + 1 AS DOUBLE)),
                                  6) AS tfidf
                     FROM tf JOIN dfreq USING (term) CROSS JOIN n)
          SELECT doc_id, term, tfidf
          FROM (SELECT doc_id, term, tfidf,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY tfidf DESC, term) AS rn
                FROM scored)
          WHERE rn = 1""",
    "q_repetition" ->
      """WITH tk AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tk
                     FROM documents),
          g AS (SELECT doc_id,
                       unnest(list_transform(
                         range(0, greatest(len(tk) - 2, 0) + 1),
                         i -> array_to_string(list_slice(tk, i + 1, i + 2), ' '))) AS bigram
                FROM tk WHERE len(tk) > 0)
          SELECT doc_id, count(*) AS n_bigrams,
                 round(1.0 - CAST(count(DISTINCT bigram) AS DOUBLE)
                           / CAST(count(*) AS DOUBLE), 6) AS repetition
          FROM g GROUP BY doc_id""",
    "q_bigram_coverage" ->
      """WITH tk AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tk
                     FROM documents),
          g AS (SELECT DISTINCT doc_id,
                       unnest(list_transform(
                         range(0, greatest(len(tk) - 2, 0) + 1),
                         i -> array_to_string(list_slice(tk, i + 1, i + 2), ' '))) AS bigram
                FROM tk WHERE len(tk) > 0),
          common AS (SELECT bigram FROM g GROUP BY bigram HAVING count(*) >= 5)
          SELECT doc_id,
                 round(CAST(sum(CASE WHEN bigram IN (SELECT bigram FROM common)
                                     THEN 1 ELSE 0 END) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE), 6) AS boilerplate_share
          FROM g GROUP BY doc_id""",
    "q_ngram_topk" ->
      """WITH tk AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tk
                     FROM documents),
          g AS (SELECT unnest(list_transform(
                         range(0, greatest(len(tk) - 2, 0) + 1),
                         i -> array_to_string(list_slice(tk, i + 1, i + 2), ' '))) AS bigram
                FROM tk WHERE len(tk) > 0)
          SELECT bigram, count(*) AS n FROM g
          GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20""",
    "q_sample_strat" ->
      """SELECT doc_id, lang,
                CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) % 100 AS bucket
         FROM documents
         WHERE CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) % 100 <
               CASE WHEN lang = 'en' THEN 50 ELSE 10 END""",
    "q_decontam" ->
      s"""WITH tk AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tk
                      FROM documents),
          g AS (SELECT doc_id, ${PortableHash.md5LongSql("s")} AS h
                FROM (SELECT doc_id,
                             unnest(list_transform(
                               range(0, greatest(len(tk) - 3, 0) + 1),
                               i -> array_to_string(list_slice(tk, i + 1, i + 3), ' '))) AS s
                      FROM tk WHERE len(tk) > 0)),
          bench AS (SELECT DISTINCT h FROM g WHERE doc_id % 20 = 0),
          corpus AS (SELECT DISTINCT doc_id, h FROM g WHERE doc_id % 20 <> 0)
          SELECT doc_id, count(*) AS overlap_ngrams
          FROM corpus JOIN bench USING (h) GROUP BY doc_id""",
    "q_ann_topk" ->
      """SELECT e.vec_id,
                round(list_cosine_similarity(
                  list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
                  list_transform(q.embedding, x -> CAST(x AS DOUBLE))), 6) AS cos
         FROM embeddings e,
              (SELECT embedding FROM embeddings WHERE vec_id = 0) q
         WHERE e.vec_id <> 0
         ORDER BY cos DESC, e.vec_id LIMIT 10""",
    "q_embed_norms" ->
      """SELECT label,
                round(avg(sqrt(list_sum(
                  list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)
                  AS avg_norm,
                count(*) AS n
         FROM embeddings GROUP BY label""",
    "q_minhash_lsh" ->
      s"""WITH ${lshCtesSql(shingleN = 3)},
          counts AS (SELECT band, bucket, count(*) AS n FROM bands GROUP BY band, bucket)
          SELECT CAST(sum(CAST(n * (n - 1) / 2 AS BIGINT)) AS BIGINT) AS candidate_pairs
          FROM counts""",
    "q_simhash" -> simhashOracleSql,
    "q_simhash_neardup" -> simhashNeardupOracleSql(maxHamming = 3),
    "q_ngram_jaccard" ->
      s"""WITH ${lshCtesSql(shingleN = 2)}, $neardupCtesSql
          SELECT left_id, right_id, round(jaccard, 4) AS jac
          FROM jac WHERE round(jaccard, 4) >= 0.05""",
    "q_neardup_resolve" ->
      s"""WITH ${lshCtesSql(shingleN = 2)}, $neardupCtesSql
          SELECT doc_id FROM documents
          WHERE NOT EXISTS (SELECT 1 FROM jac
                            WHERE jaccard >= 0.5 AND jac.right_id = documents.doc_id)""",
    // recursive CTE = the oracle's transitive closure; UNION (not UNION ALL)
    // dedups the frontier so the recursion terminates
    "q_neardup_groups" ->
      s"""WITH RECURSIVE ${lshCtesSql(shingleN = 2)}, $neardupCtesSql,
          edges AS (SELECT left_id AS a, right_id AS b FROM jac WHERE jaccard >= 0.5
                    UNION ALL
                    SELECT right_id, left_id FROM jac WHERE jaccard >= 0.5),
          reach AS (SELECT DISTINCT a AS id, a AS r FROM edges
                    UNION
                    SELECT e.b AS id, reach.r FROM reach
                    JOIN edges e ON e.a = reach.id)
          SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS group_id
          FROM reach GROUP BY id""",
    "q_dedup_incr" ->
      """SELECT b.doc_id, md5(b.text) AS fp,
                EXISTS (SELECT 1 FROM documents i
                        WHERE i.doc_id % 10 <> 0 AND md5(i.text) = md5(b.text))
                  AS already_ingested
         FROM documents b
         WHERE b.doc_id % 10 = 0""",
    "q_neardup_incr" ->
      s"""WITH ${lshCtesSql(shingleN = 2, suffix = "_i", where = "doc_id % 10 <> 0")},
          ${lshCtesSql(shingleN = 2, suffix = "_b", where = "doc_id % 10 = 0")},
          counts AS (SELECT band, bucket, count(*) AS n FROM bands_i
                     GROUP BY band, bucket),
          bb AS (SELECT b.doc_id, b.band, b.bucket FROM bands_i b
                 JOIN counts c ON b.band = c.band AND b.bucket = c.bucket
                 WHERE c.n <= 200),
          pairs AS (SELECT DISTINCT nb.doc_id AS new_id, bb.doc_id AS old_id
                    FROM bands_b nb JOIN bb
                      ON nb.band = bb.band AND nb.bucket = bb.bucket),
          jac AS (SELECT new_id, old_id,
                         CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                           / greatest(len(sa.sh) + len(sb.sh)
                                      - len(list_intersect(sa.sh, sb.sh)), 1) AS jaccard
                  FROM pairs
                  JOIN sharr_b sa ON sa.doc_id = new_id
                  JOIN sharr_i sb ON sb.doc_id = old_id)
          SELECT new_id, old_id, round(jaccard, 4) AS jac
          FROM jac WHERE round(jaccard, 4) >= 0.05""",
    "q_rolling_fp" ->
      s"""SELECT doc_id,
                 list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                     list_transform(list_filter(string_split(text, ' '), t -> t <> ''),
                                    t -> ${PortableHash.md5LongSql("t")} % ${TextOps.rollingFpModulus})),
                   (acc, h) -> (acc * 31 + h) % ${TextOps.rollingFpModulus}) AS rfp
          FROM documents""",
    "q_ann_lsh" -> annLshOracleSql,
    "q_ann_ivf" -> annIvfOracleSql,
    "q_embed_neardup" -> embedNeardupOracleSql,

    // change feed: conditional-aggregate mirror of ChangeFeed.byWatermark —
    // arg_max picks the same unique-LSN winner max(struct) does
    "q_version_diff" ->
      """SELECT user_id, event_type,
                CASE WHEN old_lsn IS NULL THEN 'insert' ELSE 'update' END AS change,
                old_lsn, new_lsn, round(new_value, 3) AS new_value
         FROM (SELECT user_id, event_type,
                      max(event_id) FILTER (WHERE event_id <= 300) AS old_lsn,
                      max(event_id) FILTER (WHERE event_id <= 700) AS new_lsn,
                      arg_max(value, event_id) FILTER (WHERE event_id <= 700) AS new_value
               FROM events GROUP BY user_id, event_type)
         WHERE new_lsn IS NOT NULL AND (old_lsn IS NULL OR new_lsn > old_lsn)""",
    // interval overlap: the raw theta form the binned equi-join must equal
    "q_interval_overlap" ->
      """WITH a AS (SELECT o_orderkey AS a_key,
                           date_diff('day', DATE '1992-01-01', o_orderdate) AS a_start,
                           date_diff('day', DATE '1992-01-01', o_orderdate) + 13 AS a_end
                    FROM orders WHERE o_orderkey % 300 = 0),
              b AS (SELECT o_orderkey AS b_key,
                           date_diff('day', DATE '1992-01-01', o_orderdate) AS b_start,
                           date_diff('day', DATE '1992-01-01', o_orderdate) + 20 AS b_end
                    FROM orders WHERE o_orderkey % 300 = 100)
         SELECT a_key, b_key, a_start, b_start
         FROM a JOIN b ON a.a_start <= b.b_end AND b.b_start <= a.a_end""",
    "q_coalesce_intervals" ->
      """WITH spans AS (SELECT l_orderkey,
                               date_diff('day', DATE '1992-01-01', l_shipdate) AS s,
                               date_diff('day', DATE '1992-01-01', l_shipdate)
                                 + CAST(floor(l_quantity) AS BIGINT) AS e,
                               l_linenumber
                        FROM lineitem),
              flagged AS (SELECT l_orderkey, s, e,
                                 CASE WHEN max(e) OVER (PARTITION BY l_orderkey
                                                        ORDER BY s, e, l_linenumber
                                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                                             AND 1 PRECEDING) IS NULL
                                        OR s > max(e) OVER (PARTITION BY l_orderkey
                                                            ORDER BY s, e, l_linenumber
                                                            ROWS BETWEEN UNBOUNDED PRECEDING
                                                                 AND 1 PRECEDING)
                                      THEN 1 ELSE 0 END AS brk,
                                 l_linenumber
                          FROM spans),
              islands AS (SELECT l_orderkey, s, e,
                                 CAST(sum(brk) OVER (PARTITION BY l_orderkey
                                                     ORDER BY s, e, l_linenumber
                                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                                          AND CURRENT ROW) AS BIGINT) AS island
                          FROM flagged)
         SELECT l_orderkey, island, min(s) AS island_start, max(e) AS island_end,
                count(*) AS n_spans
         FROM islands GROUP BY l_orderkey, island""",
    // bloom is a pre-filter only: the exact semi-join result is the contract
    "q_bloom_semi" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                              WHERE o_totalprice > 300000)""",
    "q_transitions" ->
      """SELECT event_type, next_type, count(*) AS n
         FROM (SELECT event_type,
                      lead(event_type) OVER (PARTITION BY user_id
                                             ORDER BY event_id) AS next_type
               FROM events)
         WHERE next_type IS NOT NULL
         GROUP BY event_type, next_type""",
    "q_mode" ->
      """SELECT user_id, event_type AS mode_type, n
         FROM (SELECT user_id, event_type, count(*) AS n,
                      row_number() OVER (PARTITION BY user_id
                                         ORDER BY count(*) DESC, event_type) AS rn
               FROM events GROUP BY user_id, event_type)
         WHERE rn = 1""",
    "q_editdist_neardup" ->
      s"""WITH ${lshCtesSql(shingleN = 2)}, $neardupCtesSql
          SELECT p.left_id, p.right_id,
                 CAST(levenshtein(substr(ta.text, 1, 200),
                                  substr(tb.text, 1, 200)) AS BIGINT) AS dist
          FROM pairs p
          JOIN documents ta ON ta.doc_id = p.left_id
          JOIN documents tb ON tb.doc_id = p.right_id
          WHERE levenshtein(substr(ta.text, 1, 200), substr(tb.text, 1, 200)) <= 60""",
    "q_cube" ->
      """SELECT event_type, vband, count(*) AS n
         FROM (SELECT event_type, CAST(floor(value / 100.0) AS BIGINT) AS vband
               FROM events)
         GROUP BY CUBE (event_type, vband)""",
    "q_skew_join" ->
      """SELECT o_orderpriority, count(*) AS n,
                CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS qty
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_orderkey % 10 = 0
         GROUP BY o_orderpriority""",
    "q_topk_group" ->
      """SELECT event_type, rank, user_id, n
         FROM (SELECT event_type, user_id, count(*) AS n,
                      row_number() OVER (PARTITION BY event_type
                                         ORDER BY count(*) DESC, user_id) AS rank
               FROM events GROUP BY event_type, user_id)
         WHERE rank <= 3""",
    "q_histogram" ->
      """SELECT event_type, CAST(floor(value / 50.0) AS BIGINT) AS bin,
                count(*) AS n, round(min(value), 3) AS lo, round(max(value), 3) AS hi
         FROM events GROUP BY event_type, CAST(floor(value / 50.0) AS BIGINT)"""
  )

  // ── DuckDB oracle builders for the similarity family ─────────────────────────
  // These re-derive the EXACT same md5-based hashes as the Spark operators
  // (PortableHash keeps the two expression forms side by side), so the driver's
  // hash-compare gate covers minhash/LSH/simhash/ANN — the operators most likely
  // to be subtly wrong. Reference analog: golden truth files per staged table
  // (reference src/test/java/.../ProtempaFactory.java:153-158).

  /** CTEs: documents → distinct word-n-gram shingle arrays (`sharr`), exploded
    * hashes, 32-element minhash `sig`, and (band, bucket) rows mirroring
    * SimOps.{wordShingles, minhashSignaturesFromRows, bandBuckets} with k=32,
    * 8 bands of 4 rows. */
  private def lshCtesSql(shingleN: Int, k: Int = 32, bands: Int = 8,
                         rowsPerBand: Int = 4, suffix: String = "",
                         where: String = ""): String = {
    val sigCols = (0 until k).map(i =>
      s"min((h0 * ${SimOps.hashA(i)} + ${SimOps.hashB(i)}) % ${SimOps.M31}) AS m$i")
      .mkString(", ")
    val bandIdx = (0 until bands).mkString(", ")
    val bandExprs = (0 until bands).map { b =>
      val ms = (0 until rowsPerBand).map(r => s"m${b * rowsPerBand + r}").mkString(", ',', ")
      PortableHash.md5LongSql(s"concat('$b', ',', $ms)")
    }.mkString(", ")
    val pred = if (where.isEmpty) "" else s"WHERE $where"
    s"""tk$suffix AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tk
               FROM documents $pred),
        sharr$suffix AS (SELECT doc_id, list_distinct(list_transform(
                    range(0, greatest(len(tk) - $shingleN, 0) + 1),
                    i -> array_to_string(list_slice(tk, i + 1, i + $shingleN), ' '))) AS sh
                  FROM tk$suffix
                  WHERE len(tk) > 0),
        h$suffix AS (SELECT doc_id, ${PortableHash.md5LongSql("s")} % ${SimOps.M31} AS h0
              FROM (SELECT doc_id, unnest(sh) AS s FROM sharr$suffix)),
        sig$suffix AS (SELECT doc_id, $sigCols FROM h$suffix GROUP BY doc_id),
        bands$suffix AS (SELECT doc_id, unnest([$bandIdx]) AS band,
                         unnest([$bandExprs]) AS bucket
                  FROM sig$suffix)"""
  }

  /** CTEs on top of [[lshCtesSql]]: bucket-size cap (200), distinct candidate
    * pairs, exact-jaccard verification — mirroring SimOps.{candidatePairs,
    * verifiedPairs}. */
  private def neardupCtesSql: String =
    """counts AS (SELECT band, bucket, count(*) AS n FROM bands GROUP BY band, bucket),
       bb AS (SELECT b.doc_id, b.band, b.bucket FROM bands b
              JOIN counts c ON b.band = c.band AND b.bucket = c.bucket
              WHERE c.n <= 200),
       pairs AS (SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
                 FROM bb a JOIN bb b
                   ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
       jac AS (SELECT left_id, right_id,
                      CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                        / greatest(len(sa.sh) + len(sb.sh)
                                   - len(list_intersect(sa.sh, sb.sh)), 1) AS jaccard
               FROM pairs
               JOIN sharr sa ON sa.doc_id = left_id
               JOIN sharr sb ON sb.doc_id = right_id)"""

  /** SimOps.simhashSignatures mirrored: 64 signed bit-sums over exploded tokens,
    * bits from the two portable 32-bit md5 words. Bit values are emitted as
    * BIGINT literals because DuckDB's `<<` raises on overflow (bit 63). */
  private def simhashCtesSql: String = {
    val bitSums = (0 until 64).map { b =>
      val bit = if (b < 32) s"((lo >> $b) & 1)" else s"((hi >> ${b - 32}) & 1)"
      s"sum(CASE WHEN $bit = 1 THEN 1 ELSE -1 END) AS b$b"
    }.mkString(", ")
    val value = (0 until 64).map { b =>
      val v = 1L << b
      val litv = if (v < 0) "(-9223372036854775807 - 1)" else v.toString
      s"(CASE WHEN b$b > 0 THEN $litv ELSE 0 END)"
    }.mkString(" + ")
    s"""tok AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS t
                FROM documents),
        h AS (SELECT doc_id, ${PortableHash.md5Hi32Sql("t")} AS hi,
                     ${PortableHash.md5Lo32Sql("t")} AS lo FROM tok),
        bits AS (SELECT doc_id, $bitSums FROM h GROUP BY doc_id),
        shs AS (SELECT doc_id, CAST($value AS BIGINT) AS simhash FROM bits)"""
  }

  private def simhashOracleSql: String =
    s"WITH $simhashCtesSql SELECT doc_id, simhash FROM shs"

  /** SimOps.simhashNeardupPairs mirrored: 4 × 16-bit band blocking + exact
    * full-width Hamming verify. */
  private def simhashNeardupOracleSql(maxHamming: Int): String = {
    val bandVals = (0 until 4).map(b => s"(simhash >> ${16 * b}) & 65535").mkString(", ")
    s"""WITH $simhashCtesSql,
        bands AS (SELECT doc_id, simhash, unnest([0, 1, 2, 3]) AS band,
                         unnest([$bandVals]) AS bv
                  FROM shs),
        pairs AS (SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id,
                         CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
                  FROM bands a JOIN bands b
                    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id)
        SELECT left_id, right_id, hamming FROM pairs WHERE hamming <= $maxHamming"""
  }

  /** Shared ANN CTEs mirroring SimOps.hyperplaneBucket + the Hamming≤1
    * probe expansion: integer-math plane dots (order-independent sign),
    * sequential-fold cosine (list_reduce's left-to-right order =
    * Spark aggregate()'s). Exposes CTEs ex/coefs/dots/sig/idx/probes and the
    * `cosExpr` for a probes-p × idx-i join. */
  private val annPlanes = 8
  // index-side bucket cap, part of the operator contract (SimOps.annTopK)
  private val annMaxBucket = 200
  private def annCosExprSql: String = {
    def fold(items: String) =
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), $items), (s, v) -> s + v)"
    val dot = fold("list_transform(range(len(p.q_emb)), " +
      "i -> CAST(p.q_emb[i+1] AS DOUBLE) * CAST(i.embedding[i+1] AS DOUBLE))")
    val nq = s"sqrt(${fold("list_transform(p.q_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")})"
    val nv = s"sqrt(${fold("list_transform(i.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")})"
    s"round(($dot) / (($nq) * ($nv)), 6)"
  }
  private def annCtesSql: String = {
    val planes = annPlanes
    val coefCols = (0 until planes).map(p =>
      s"${PortableHash.md5LongSql(s"concat('$p', ',', d)")} % 2000 - 1000 AS c$p")
      .mkString(", ")
    val dotCols = (0 until planes).map(p => s"sum(xi * c$p) AS dot$p").mkString(", ")
    val bucketExpr = (0 until planes).map(p =>
      s"(CASE WHEN dot$p > 0 THEN ${1L << p} ELSE 0 END)").mkString(" + ")
    val masks = (0L +: (0 until planes).map(p => 1L << p)).mkString(", ")
    s"""ex AS (SELECT vec_id, unnest(range(len(embedding))) AS d,
                      CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS xi
               FROM embeddings),
        coefs AS (SELECT d, $coefCols FROM (SELECT DISTINCT d FROM ex)),
        dots AS (SELECT vec_id, $dotCols FROM ex JOIN coefs USING (d) GROUP BY vec_id),
        sig AS (SELECT vec_id, $bucketExpr AS bucket FROM dots),
        idx0 AS (SELECT e.vec_id, e.embedding, s.bucket
                 FROM embeddings e JOIN sig s USING (vec_id)),
        bsz AS (SELECT bucket, count(*) AS bn FROM idx0 GROUP BY bucket),
        idx AS (SELECT idx0.vec_id, idx0.embedding, idx0.bucket
                FROM idx0 JOIN bsz USING (bucket) WHERE bn <= $annMaxBucket),
        probes AS (SELECT vec_id AS q_id, embedding AS q_emb, xor(bucket, m) AS pb
                   FROM idx0, (SELECT unnest([$masks]) AS m) masks)"""
  }

  /** Rounded sequential-fold cosine between two list expressions (DuckDB
    * list_reduce is left-to-right = Spark aggregate() = FloatVecDot's
    * ascending-index loop, so the value is bit-identical across engines). */
  private def cosSql(a: String, b: String): String = {
    def fold(items: String) =
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), $items), (s, v) -> s + v)"
    val dot = fold(s"list_transform(range(len($a)), " +
      s"i -> CAST($a[i+1] AS DOUBLE) * CAST($b[i+1] AS DOUBLE))")
    val na = s"sqrt(${fold(s"list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")})"
    val nb = s"sqrt(${fold(s"list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")})"
    s"round(($dot) / (($na) * ($nb)), 6)"
  }

  /** SimOps.ivfTopK mirrored: 16 smallest-id centroids, rounded-cosine
    * assignment/probe ranking with id tie-breaks, 2-probe exact-cosine top-3. */
  private def annIvfOracleSql: String = {
    val (c, nProbe, k) = (16, 2, 3)
    s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
                      ORDER BY vec_id LIMIT $c),
        scored AS (SELECT e.vec_id, e.embedding, c.cid,
                          ${cosSql("e.embedding", "c.cv")} AS cc,
                          row_number() OVER (PARTITION BY e.vec_id
                                             ORDER BY ${cosSql("e.embedding", "c.cv")} DESC,
                                                      c.cid) AS rn
                   FROM embeddings e, cent c),
        assign AS (SELECT vec_id, embedding, cid FROM scored WHERE rn = 1),
        probes AS (SELECT vec_id AS qid, embedding AS q_emb, cid FROM scored
                   WHERE rn <= $nProbe),
        cands AS (SELECT p.qid, a.vec_id AS nn_id,
                         ${cosSql("p.q_emb", "a.embedding")} AS cos
                  FROM probes p JOIN assign a
                    ON a.cid = p.cid AND a.vec_id <> p.qid),
        ranked AS (SELECT qid AS vec_id, nn_id, cos,
                          row_number() OVER (PARTITION BY qid
                                             ORDER BY cos DESC, nn_id) AS rank
                   FROM cands)
        SELECT vec_id, rank, nn_id, cos FROM ranked WHERE rank <= $k"""
  }

  /** SimOps.annTopK mirrored over [[annCtesSql]]. */
  private def annLshOracleSql: String =
    s"""WITH $annCtesSql,
        cand AS (SELECT p.q_id, i.vec_id AS nn_id, $annCosExprSql AS cos
                 FROM probes p JOIN idx i ON p.pb = i.bucket AND i.vec_id <> p.q_id),
        ranked AS (SELECT q_id AS vec_id, nn_id, cos,
                          row_number() OVER (PARTITION BY q_id
                                             ORDER BY cos DESC, nn_id) AS rank
                   FROM cand)
        SELECT vec_id, rank, nn_id, cos FROM ranked WHERE rank <= 3"""

  /** SimOps.cosineNeardupPairs mirrored over [[annCtesSql]]. */
  private def embedNeardupOracleSql: String =
    s"""WITH $annCtesSql
        SELECT p.q_id AS left_id, i.vec_id AS right_id, $annCosExprSql AS cos
        FROM probes p JOIN idx i ON p.pb = i.bucket AND p.q_id < i.vec_id
        WHERE $annCosExprSql >= 0.2"""

  /** DuckDB marker-count expression matching TextOps.langId for one language. */
  private def langScoreSql(lang: String): String = {
    val markers = TextOps.langMarkers.toMap.apply(lang)
    markers.map { m =>
      val pat = s" $m "
      s"((length(' '||text||' ') - length(replace(' '||text||' ','$pat',''))) / ${pat.length})"
    }.mkString("(", " + ", ")")
  }
}
