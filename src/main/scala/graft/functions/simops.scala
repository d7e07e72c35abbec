package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Engine-portable hashing. Every similarity signature in this engine derives
  * from md5, which is bit-identical in Spark and DuckDB — so each operator's
  * DuckDB oracle re-derives the exact same hashes and the hash-compare
  * correctness gate covers the similarity family too (xxhash64, the obvious
  * native choice, has no DuckDB equivalent and would leave these operators
  * oracle-less). Each Column form has a `...Sql` twin generating the equivalent
  * DuckDB expression; they live side by side so they cannot drift.
  */
object PortableHash {

  /** 60-bit non-negative hash: the first 15 hex chars of md5, parsed base-16. */
  def md5Long(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")
  def md5LongSql(expr: String): String =
    s"CAST(concat('0x', substr(md5($expr), 1, 15)) AS BIGINT)"

  /** Upper/lower 32-bit words of the first 16 md5 hex chars — for 64-bit
    * bit-pattern uses (SimHash) where bit extraction must stay portable
    * (DuckDB's `<<` raises on BIGINT overflow, so a composed 64-bit value
    * cannot be built there; two 32-bit words shifted right can). */
  def md5Hi32(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 8), 16, 10).cast("long")
  def md5Lo32(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 9, 8), 16, 10).cast("long")
  def md5Hi32Sql(e: String): String = s"CAST(concat('0x', substr(md5($e), 1, 8)) AS BIGINT)"
  def md5Lo32Sql(e: String): String = s"CAST(concat('0x', substr(md5($e), 9, 8)) AS BIGINT)"
}

/** Deduplication + similarity operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, embedding cosine, hyperplane-LSH ANN.
  * All built from codegen'd column expressions and shuffle-light plans: the LSH
  * family turns O(n²) pair scans into band-bucket equi-joins — the only shape
  * that survives 100 TB. Signatures are computed in the relational
  * (explode + aggregate) form, NOT higher-order array lambdas: Spark HOFs are
  * interpreted, and Catalyst's CollapseProject re-inlines a shingle projection
  * into every hash lambda (k× recompute); exploding once and aggregating k
  * codegen'd partials is map-side-combinable and scales.
  */
object SimOps {
  import PortableHash._

  /** Materialize a multi-branch intermediate exactly once (self-joined /
    * multi-branch derived frames otherwise re-run the whole upstream per
    * branch). Strategy via `spark.graft.sim.materialize`:
    *  - `localCheckpoint` (default): executor-local blocks, truncated lineage.
    *    Fastest single-node (measured ~1.2s faster than lazy persist on the
    *    sf0.1 near-dup pipeline), but NOT fault-tolerant: a lost executor
    *    loses its blocks and fails the job. Fine where the sandbox/bench runs;
    *    on a real multi-executor cluster a long near-dup job should NOT use it.
    *  - `persist`: eager MEMORY_AND_DISK cache with recomputable lineage — a
    *    lost executor recomputes its partitions instead of failing the job.
    *    Set this on clusters (`spark.conf.set("spark.graft.sim.materialize",
    *    "persist")`); eager (one count()) because a lazy cache lets the
    *    downstream job's two root stages race to compute-and-cache the same
    *    partitions. At extreme scale prefer writing the intermediate to a
    *    staging table (the `_lineage`-sibling pattern in sources/lake.scala).
    * Both strategies produce identical results (FunctionsSpec asserts it). */
  private[graft] def materialize(df: DataFrame): DataFrame =
    df.sparkSession.conf.getOption("spark.graft.sim.materialize")
      .getOrElse("localCheckpoint") match {
      case "persist" =>
        val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        p.count()
        p
      case _ => df.localCheckpoint()
    }

  /** Metrics from an [[Observation]] that rode a materialization action, or
    * None if the runtime withheld them (whether localCheckpoint resolves
    * observations is runtime-path-dependent); callers then pay ONE cheap scan
    * of the already-materialized frame instead — never a recomputation, never
    * an extra shuffle beyond the 1-row final aggregate. */
  private def observedMetrics(obs: Observation, keys: String*): Option[Seq[Long]] = {
    try {
      val row = scala.concurrent.Await.result(obs.future,
        scala.concurrent.duration.Duration(2, java.util.concurrent.TimeUnit.SECONDS))
      Some(keys.map(k => row.getAs[Any](k) match {
        case l: java.lang.Long => l.longValue()
        case i: java.lang.Integer => i.longValue()
        case o => o.toString.toLong
      }).toSeq)
    } catch { case _: java.util.concurrent.TimeoutException => None }
  }

  /** Universal-hash modulus 2^31−1 (all arithmetic stays far below 2^63, so the
    * identical expressions are overflow-safe in both engines). */
  val M31 = 2147483647L

  // splitmix64-style constant mixer supplying the (a_i, b_i) universal-hash
  // family; public so the oracle SQL embeds the exact same constants
  private def mixConst(i: Long): Long = {
    var z = i + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def hashA(i: Int): Long = (mixConst(2L * i) & 0x7FFFFFFFL) | 1L
  def hashB(i: Int): Long = mixConst(2L * i + 1) & 0x7FFFFFFFL

  /** Distinct word n-gram shingles over whitespace tokens, array form.
    * Convenient for per-row set math (jaccard specs); for bulk pipelines use
    * [[shingleRows]] — this lambda form re-evaluates split+filter once per
    * shingle (Catalyst inlines the token projection into every lambda, an
    * O(tokens²)-per-document interpreted chain measured 15× slower). */
  def wordShingles(text: Column, n: Int = 3): Column = {
    val toks = filter(split(text, " "), t => length(t) > 0)
    array_distinct(transform(
      sequence(lit(0), greatest(size(toks) - n, lit(0))),
      i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
  }

  /** Word n-gram shingle ARRAY for one text column, built with zip_with over
    * shifted token slices — a SINGLE-PROJECTION form whose lambdas reference
    * only their own lambda variables, so CollapseProject inlining the token
    * split costs O(n) split evaluations per ROW (de-duplicated again by
    * subexpression elimination), never the O(tokens²)-per-document trap of a
    * lambda body that re-references the token column per element (measured 15×
    * slower in rounds 1-2, previously fenced off with an eager localCheckpoint
    * of the token arrays — a whole extra job + block-manager round trip this
    * form makes unnecessary; round-6 optimization, guide §1.2 "remove passes").
    *
    * Construction: chain k = 1..n-1 of `zip_with(acc, tokens shifted by k,
    * concat)` appends each following token to every shingle prefix; zip_with
    * null-pads the shorter side, and the when-guard keeps a clamped prefix
    * as-is, reproducing the old clamp semantics exactly: a document with
    * s >= n tokens yields s-n+1 full n-grams (the final slice keeps exactly
    * those); 1 <= s < n yields ONE shingle of all its tokens; s = 0 yields an
    * empty array. */
  def shingleArray(text: Column, n: Int): Column = {
    val toks = filter(split(text, " "), t => length(t) > 0)
    val chained = (1 until n).foldLeft(toks) { (acc, k) =>
      zip_with(acc, slice(toks, lit(k + 1), size(toks)),
        (a, b) => when(b.isNull, a).otherwise(concat(a, lit(" "), b)))
    }
    slice(chained, lit(1), greatest(size(toks) - (n - 1), lit(1)))
  }

  /** Word n-gram shingles as ROWS (id, _sh): one map-side projection + explode
    * of [[shingleArray]] — no shuffle, no materialization job. Tail shingles
    * are clamped like the array form (a document with fewer than n tokens
    * yields one shingle of all its tokens); documents with ZERO tokens yield
    * no rows (explode of an empty array). Rows are NOT deduplicated — minhash
    * mins are duplicate-insensitive; use dropDuplicates where true sets are
    * needed. */
  def shingleRows(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs.select(col(idCol), explode(shingleArray(col(textCol), n)).as("_sh"))

  /** Jaccard similarity of two distinct-element arrays
    * (|∩| / (|A|+|B|−|∩|), the form the DuckDB oracle mirrors exactly). */
  def jaccard(a: Column, b: Column): Column =
    jaccardRatio(size(array_intersect(a, b)), size(a), size(b))

  /** The one Jaccard ratio: |A∩B| / (|A|+|B|−|A∩B|) from the intersection and
    * the two set sizes, the denominator floored at 1 (two empty sets score 0).
    * [[jaccard]] and both relational verifies share it. */
  private def jaccardRatio(common: Column, szA: Column, szB: Column): Column =
    common.cast("double") / greatest(szA + szB - common, lit(1)).cast("double")

  /** Benchmark decontamination: for each corpus document, how many DISTINCT
    * word n-grams it shares with ANY benchmark/eval document — the overlap
    * count behind "drop training docs that contain eval data". Plan shape for
    * 100 TB: the benchmark side collapses to a distinct hashed-n-gram set
    * (eval suites are orders of magnitude smaller than the corpus, so it is
    * broadcast-sized by construction), the corpus grams semi-join against that
    * broadcast MAP-SIDE (non-matching grams — the overwhelming majority — die
    * before any shuffle), and only surviving (id, 8-byte hash) rows shuffle
    * for the per-document distinct count. Never a document-pair join. */
  def contaminationCounts(corpus: DataFrame, bench: DataFrame, idCol: String,
                          textCol: String, n: Int = 3): DataFrame =
    contaminationAgainst(corpus, benchGrams(bench, idCol, textCol, n),
      Seq(idCol), textCol, n)

  /** The benchmark side of decontamination as a standalone artifact: the
    * DISTINCT hashed n-gram set of an eval suite. Compute once, persist as a
    * parquet of `_h` longs, reuse across every batch/stream that screens
    * against that benchmark (always regenerate with the same engine version —
    * the hash function is internal and may change between versions).
    *
    * xxhash64, NOT portable md5: the gram hash never surfaces in
    * oracle-compared output — it only MATCHES corpus grams against benchmark
    * grams (equal grams ⟺ equal hashes; a 2^-64 collision is the same
    * accepted risk the verify path's shingle-hash join takes) — and md5+conv
    * on the corpus's hot shingle scan was the single most expensive
    * per-row expression in the decontam plan (round-6 optimization; the
    * BloomFilter.probe rationale applied to decontamination). */
  def benchGrams(bench: DataFrame, idCol: String, textCol: String,
                 n: Int = 3): DataFrame =
    shingleRows(bench, idCol, textCol, n)
      .select(xxhash64(col("_sh")).as("_h")).distinct()

  /** [[contaminationCounts]] against a PRECOMPUTED gram-hash set (column `_h`),
    * keyed by arbitrary columns — the form the CDC stream uses: the benchmark
    * hashes once at setup and each microbatch pays only its own shingling. */
  def contaminationAgainst(corpus: DataFrame, grams: DataFrame,
                           keyCols: Seq[String], textCol: String,
                           n: Int = 3): DataFrame = {
    val keyed = corpus.select(struct(keyCols.map(col): _*).as("_key"), col(textCol))
    shingleRows(keyed, "_key", textCol, n)
      .select(col("_key"), xxhash64(col("_sh")).as("_h"))
      .join(broadcast(grams.select(col("_h"))), Seq("_h"), "left_semi")
      .dropDuplicates("_key", "_h")
      .groupBy("_key").agg(count(lit(1)).as("overlap_ngrams"))
      .select(keyCols.map(k => col(s"_key.$k").as(k)) :+ col("overlap_ngrams"): _*)
  }

  /** Cosine similarity of two float vectors via the native codegen'd
    * [[FloatVecDot]] expression (ascending-index IEEE sums — bit-identical to
    * the interpreted HOF fold it replaced AND to the oracle's list_reduce). */
  def cosine(a: Column, b: Column): Column = {
    val dot = FloatVecDot.dot(a, b)
    dot / (sqrt(FloatVecDot.dot(a, a)) * sqrt(FloatVecDot.dot(b, b)))
  }

  // ── MinHash + LSH ──────────────────────────────────────────────────────────

  /** MinHash signatures from (id, _sh) shingle ROWS (see [[shingleRows]]):
    * one row per `idCol` with a k-element `sig` array. Universal-hash family
    * (a_i·h + b_i mod 2^31−1) over a single portable md5 hash per shingle; k
    * min-aggregates are fully codegen'd with map-side partial aggregation —
    * shuffle volume is one row per (doc, task). Duplicate shingles are
    * harmless (min is idempotent). */
  def minhashSignaturesFromRows(rows: DataFrame, idCol: String,
                                k: Int = 32): DataFrame = {
    val hashed = rows.withColumn("_h0", pmod(md5Long(col("_sh")), lit(M31)))
    val aggs = (0 until k).map(i =>
      min(pmod(col("_h0") * hashA(i) + hashB(i), lit(M31))).as(s"_m$i"))
    hashed.groupBy(idCol).agg(aggs.head, aggs.tail: _*)
      .select(col(idCol), array((0 until k).map(i => col(s"_m$i")): _*).as("sig"))
  }

  /** One (id, band, bucket) row per band per document: `bands` portable hashes
    * of `rowsPerBand`-sized signature slices ("b,m1,m2,..."). Two documents
    * sharing any (band, bucket) are near-dup candidates. */
  def bandBuckets(sigs: DataFrame, idCol: String,
                  bands: Int = 8, rowsPerBand: Int = 4): DataFrame =
    sigs.select(col(idCol), posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => md5Long(concat(b.cast("string"), lit(","),
          concat_ws(",", slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))))))))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bucket"))

  // ── the near-dup skeleton: block → purge → compare → (verify) → cluster ─────

  /** Block purging: drops every block (the rows sharing all of `keys`) that
    * holds more than `maxBucket` rows. A degenerate block (near-empty documents
    * sharing trivial shingles, all-zero vectors) contributes O(n²) useless
    * pairs; real near-dup sets are small. The cap is part of each operator's
    * CONTRACT (the oracle applies the same cap).
    *
    * The block size is a WINDOW count, not an aggregate + join-back (round-6,
    * guide §2.4 "two operations keyed the same way share one exchange"): the
    * window's exchange on `keys` is the one the equi-join on `keys` that
    * follows needs, so the cap costs no shuffle of its own. */
  private def capBuckets(blocks: DataFrame, keys: Seq[String],
                         maxBucket: Int): DataFrame =
    blocks.withColumn("_n", count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
      .filter(col("_n") <= maxBucket).drop("_n")

  /** Every pair of rows sharing all of `keys`, the smaller id on side `a`:
    * a per-block equi-self-join, so pairs are generated block by block on the
    * reducers, never via a global cross join, and never via a `collect_set` of
    * ids into one array (a single hot block would OOM one reducer). A pair
    * sharing several blocks appears once per shared block; callers select
    * from `a.*` / `b.*` and take the distinct. */
  private def blockSelfJoin(blocks: DataFrame, idCol: String,
                            keys: Seq[String]): DataFrame =
    blocks.as("a").join(blocks.as("b"),
      keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
        col(s"a.$idCol") < col(s"b.$idCol"))

  /** Distinct candidate pairs (left_id < right_id) from LSH band buckets, with
    * buckets larger than `maxBucket` purged ([[capBuckets]]).
    *
    * Plan shape: the cap's (band, bucket) window exchange is the one the pair
    * self-join needs, so both join sides are reads of one shuffle — the
    * shingle→minhash→band pipeline below it runs ONCE with no materialization
    * job. Post-shuffle the self-join is a sort-merge on already-partitioned,
    * already-sorted input: zero additional exchanges before the pair
    * distinct. Verify paths need the distinct: a duplicate pair inflates the
    * intersection count through join fan-out (jaccard > 1). */
  def candidatePairs(bandsDf: DataFrame, idCol: String,
                     maxBucket: Int = 200): DataFrame = {
    val keys = Seq("band", "bucket")
    blockSelfJoin(capBuckets(bandsDf, keys, maxBucket), idCol, keys)
      .select(col(s"a.$idCol").as("left_id"), col(s"b.$idCol").as("right_id"))
      .distinct()
  }

  /** Verify candidate pairs with exact Jaccard, relationally: the per-doc
    * DISTINCT shingle-hash table `shingles` (id, _s) — the one
    * [[neardupIndexTables]] builds and the persisted index stores — is joined
    * to both sides of each pair to count intersections (codegen'd hash join
    * keyed by the shingle's 64-bit hash — a shuffle-size optimization only;
    * jaccard VALUES are hash-independent), then |A∪B| = |A|+|B|−|A∩B|. Pairs
    * sharing zero shingles produce no row — equivalent under any `jaccard >= θ`
    * downstream filter.
    *
    * `pairs` must be DISTINCT (left_id, right_id) rows. A fused variant that
    * fed un-deduplicated candidates into a count(distinct shingle) here —
    * saving the distinct shuffle — was MEASURED SLOWER at sf0.1 (8.4s vs 7.3s
    * single-shot: the (l,r,s)-keyed partial aggregate and the dup-inflated
    * join fan-out cost more than the pair-keyed distinct they replaced, whose
    * map-side partial aggregation already shrinks the shuffle), so the
    * straightforward shape stays. */
  def verifiedPairs(shingles: DataFrame, pairs: DataFrame,
                    idCol: String): DataFrame = {
    // per-doc distinct-shingle size as a WINDOW count over the idCol
    // partition, carried THROUGH the pair join as extra grouping keys
    // (functionally dependent on left_id/right_id, so grouping is unchanged)
    // instead of the old separate groupBy(idCol) sizes aggregate + two
    // join-backs onto the verified counts (round-6): the sizes aggregate and
    // both post-aggregate joins disappear outright, which is where the
    // measured win comes from. The window's idCol output partitioning COULD
    // be reused by the left pair join, but only in the at-scale sort-merge
    // shape; at bench scale the planner broadcasts the pair joins, so no
    // exchange is shared and the window pays its own exchange + sort (the
    // same limit as the rejected merge-hint entry for the candidate self-join
    // in OPTIMIZATION_r06.md)
    val sized = shingles.withColumn("_sz", count(lit(1)).over(Window.partitionBy(idCol)))
    val l = sized.select(col(idCol).as("left_id"), col("_s"), col("_sz").as("_sza"))
    val r = sized.select(col(idCol).as("_rid"), col("_s").as("_s2"),
      col("_sz").as("_szb"))
    pairs.join(l, "left_id")
      .join(r, col("right_id") === col("_rid") && col("_s") === col("_s2"))
      .groupBy("left_id", "right_id", "_sza", "_szb")
      .agg(count(lit(1)).as("_common"))
      .select(col("left_id"), col("right_id"),
        jaccardRatio(col("_common"), col("_sza"), col("_szb")).as("jaccard"))
  }

  /** The end-to-end near-dup dedup pipeline: the index tables (shingle →
    * minhash → LSH bands, and distinct shingle hashes) → candidate pairs →
    * exact-jaccard verify. Returns (left_id, right_id, jaccard) for every
    * candidate pair with ≥1 shared shingle. Compose with a `jaccard >= θ`
    * filter + keep-min-id anti-join for the survivor set, or with
    * [[connectedComponents]] for one survivor per cluster. */
  def neardupPairs(docs: DataFrame, idCol: String, textCol: String,
                   shingleN: Int = 3, k: Int = 32, bands: Int = 8,
                   rowsPerBand: Int = 4, maxBucket: Int = 200): DataFrame = {
    val idx = neardupIndexTables(docs, idCol, textCol, shingleN, k, bands, rowsPerBand)
    verifiedPairs(idx.shingles, candidatePairs(idx.bands, idCol, maxBucket), idCol)
  }

  /** TRANSITIVE near-dup grouping: connected components over an undirected
    * pair list, as iterative min-label propagation — each round is one
    * equi-join + one map-side-combinable min-aggregate, materialized to cut
    * lineage, until a fixpoint (no label changed). Returns (idCol, group_id)
    * where group_id = the component's minimum member id, for every id that
    * appears in ≥1 pair.
    *
    * This completes the dedup family: pairwise keep-min-id resolution
    * ([[neardupPairs]] + anti-join) under-drops on transitive chains
    * (A≈B≈C with A̸≈C keeps both A and C's view inconsistent across
    * orderings); component-level grouping gives each duplicate CLUSTER one
    * canonical survivor — the semantics large-scale corpus dedup actually
    * wants.
    *
    * Scale shape: rounds needed = graph diameter. Near-dup components are
    * dense (families of variants of one source document), so diameters are
    * small and a handful of rounds converge; the shuffle each round carries
    * one (node, label) row per node and one join row per edge — never
    * materializing components as arrays on one reducer. If maxIter rounds do
    * not converge (an adversarial long-chain graph), the operator ESCALATES
    * to [[connectedComponentsStar]] — the diameter-independent O(log n)-round
    * algorithm — seeded with the edges plus one (node, label) edge per
    * relabelled node, instead of returning partially-propagated labels; the fast
    * dense-family path stays the default because its per-round cost is lower
    * (one join vs two plus an edge-set diff). */
  def connectedComponents(pairs: DataFrame, leftCol: String, rightCol: String,
                          idCol: String = "doc_id",
                          maxIter: Int = 25): DataFrame = {
    // id-type-GENERIC: both columns must share one orderable type (long ids
    // give fixed-width hash-agg buffers; string ids — e.g. composite keys —
    // are legal and collision-free, paying a sort-agg over the label table
    // only, which is bounded by the docs that pair at all)
    val a = col(leftCol); val b = col(rightCol)
    val edges = materialize(
      pairs.select(a.as("_a"), b.as("_b"))
        .unionByName(pairs.select(b.as("_a"), a.as("_b")))
        .distinct())
    // seed labels at least(id, min neighbor) — the first propagation round
    // computed directly from the edge list as one aggregate, with no
    // labels-join (round-6: every edge row already carries the neighbor id,
    // so round 1's join against the identity labeling was a no-op detour);
    // every node appears as _a because edges are symmetric
    var labels = materialize(
      edges.groupBy(col("_a").as("_id")).agg(min("_b").as("_nb"))
        .select(col("_id"), least(col("_id"), col("_nb")).as("_lbl")))
    var iter = 0
    var changed = 1L
    while (iter < maxIter && changed > 0) {
      // ONE join + ONE aggregate per round (round-6, guide §2.4): the old
      // form aggregated neighbor labels by _a and then LEFT-JOINED the result
      // back onto the label table — a second shuffle join whose only purpose
      // was re-attaching each node's own label. Feeding the labels rows into
      // the SAME min-aggregate as self rows (new = min(own ∪ neighborhood
      // labels), exactly least(_lbl, min _nl) as before) makes the join-back
      // disappear; the old label rides along as max(self-row label) — labels
      // has unique _id, so exactly one self row exists per node and no node
      // is lost (the old LEFT join's contract).
      val viaNbr = edges
        .join(labels.select(col("_id").as("_b"), col("_lbl").as("_nl")), "_b")
        .select(col("_a").as("_id"), col("_nl"), lit(false).as("_self"))
      val selfRows = labels.select(col("_id"), col("_lbl").as("_nl"),
        lit(true).as("_self"))
      // the per-round convergence signal rides the MATERIALIZATION action via
      // observe() — no extra job per round; observedMetrics falls back to one
      // cheap scan of the checkpointed frame if the runtime withheld metrics.
      // A null id seeds a null _lbl, and _new < null is null: the node would
      // count as unchanged and come out unlabelled, so the same action counts
      // null labels and any one fails the run
      val signals = Seq(
        coalesce(sum(when(col("_new") < col("_lbl"), 1L).otherwise(0L)), lit(0L))
          .as("changed"),
        coalesce(sum(when(col("_lbl").isNull, 1L).otherwise(0L)), lit(0L))
          .as("null_labels"))
      val obs = Observation()
      val step = materialize(viaNbr.unionByName(selfRows)
        .groupBy("_id").agg(min("_nl").as("_new"),
          max(when(col("_self"), col("_nl"))).as("_lbl"))
        .observe(obs, signals.head, signals.tail: _*))
      val Seq(nChanged, nullLabels) = observedMetrics(obs, "changed", "null_labels")
        .getOrElse {
          val r = step.agg(signals.head, signals.tail: _*).head(); Seq(r.getLong(0), r.getLong(1))
        }
      if (nullLabels > 0)
        throw new IllegalStateException(s"connectedComponents: $nullLabels node(s) " +
          s"got a null label in round ${iter + 1}; the pairs hold a null id")
      changed = nChanged
      labels = step.select(col("_id"), col("_new").as("_lbl"))
      iter += 1
    }
    if (changed == 0)
      labels.select(col("_id").as(idCol), col("_lbl").as("group_id"))
    else {
      // diameter exceeded the propagation bound (a long-chain graph): finish
      // with the O(log n)-round algorithm, seeded with the rounds already run.
      // Each relabelled node gains an edge to its label — a node of its own
      // component — so the components and their minima are unchanged, while
      // every node starts within one hop of a node maxIter hops away
      System.err.println(s"[graft] connectedComponents: min-label propagation " +
        s"did not converge in $maxIter rounds, switching to large-star/small-star")
      val labelEdges = labels.filter(col("_lbl") =!= col("_id"))
        .select(col("_id").as("_a"), col("_lbl").as("_b"))
      connectedComponentsStar(edges.unionByName(labelEdges), "_a", "_b", idCol)
    }
  }

  /** Connected components via ALTERNATING LARGE-STAR / SMALL-STAR (the
    * MapReduce-era O(log n)-round algorithm): each round rewires every node's
    * larger neighbors (large-star) or smaller-or-equal neighbors (small-star)
    * directly to the minimum of its neighborhood, flattening chains
    * exponentially until the edge set is a union of stars rooted at each
    * component's minimum. Diameter-independent — the remedy
    * [[connectedComponents]] escalates to when plain min-propagation exceeds
    * its round bound. Each round is two joins + a groupBy-min over the edge
    * list; the edge set never grows beyond one edge per (node, round-min).
    * Same output contract as [[connectedComponents]] (PropertySpec proves
    * both equal a union-find oracle on random graphs, chains included). */
  def connectedComponentsStar(pairs: DataFrame, leftCol: String,
                              rightCol: String,
                              idCol: String = "doc_id"): DataFrame = {
    val a = col(leftCol); val b = col(rightCol) // id-type-generic (see above)
    // edges kept SYMMETRIC + DISTINCT so every node sees its full neighborhood
    def sym(e: DataFrame): DataFrame =
      e.unionByName(e.select(col("_v").as("_u"), col("_u").as("_v")))
        .filter(col("_u") =!= col("_v")).distinct()
    // m(u) = min(neighborhood(u) ∪ {u})
    def mOf(e: DataFrame): DataFrame =
      e.groupBy("_u").agg(min("_v").as("_mn"))
        .select(col("_u"), least(col("_mn"), col("_u")).as("_m"))
    // large-star: rewire every LARGER neighbor of u straight to m(u)
    def largeStar(e: DataFrame): DataFrame =
      e.join(mOf(e), "_u").filter(col("_v") > col("_u"))
        .select(col("_v").as("_u"), col("_m").as("_v"))
    // small-star: rewire every smaller-or-equal neighbor AND u itself to m(u)
    // (the self edge is load-bearing: dropping it disconnects u from its min
    // whenever all of u's neighbors are the min itself)
    def smallStar(e: DataFrame): DataFrame = {
      val m = mOf(e)
      val nbr = e.join(m, "_u")
        .filter(col("_v") <= col("_u") && col("_v") =!= col("_m"))
        .select(col("_v").as("_u"), col("_m").as("_v"))
      val self = m.filter(col("_u") =!= col("_m"))
        .select(col("_u"), col("_m").as("_v"))
      nbr.unionByName(self)
    }
    var edges = materialize(sym(pairs.select(a.as("_u"), b.as("_v"))))
    // order-insensitive set fingerprint: XOR of per-edge hashes (edges are
    // DISTINCT by construction, so no cancellation) — overflow-free under
    // ANSI mode, unlike a 64-bit sum
    def chkAgg(e: DataFrame) =
      e.agg(count(lit(1)).as("cnt"),
        coalesce(bit_xor(xxhash64(col("_u"), col("_v"))), lit(0L)).as("chk"))
    var (cnt, chk) = { val r = chkAgg(edges).head(); (r.getLong(0), r.getLong(1)) }
    var converged = false
    var iter = 0
    while (!converged && iter < 64) { // 64 rounds ≈ 2^64-node chains: unreachable
      val obs = Observation()
      val next = materialize(sym(smallStar(sym(largeStar(edges))))
        .observe(obs, count(lit(1)).as("cnt"),
          coalesce(bit_xor(xxhash64(col("_u"), col("_v"))), lit(0L)).as("chk")))
      val Seq(nCnt, nChk) = observedMetrics(obs, "cnt", "chk").getOrElse {
        val r = chkAgg(next).head(); Seq(r.getLong(0), r.getLong(1))
      }
      // CHEAP SHORT-CIRCUIT: an (order-insensitive count, xxhash64-XOR)
      // mismatch proves the edge set changed, so the non-final rounds skip
      // the two exceptAll set-diff scans they used to pay; on a match
      // (possible only at/near the fixpoint) exceptAll CONFIRMS exactly —
      // convergence never rests on the 64-bit checksum alone
      converged = nCnt == cnt && nChk == chk &&
        next.exceptAll(edges).isEmpty && edges.exceptAll(next).isEmpty
      cnt = nCnt; chk = nChk
      edges = next
      iter += 1
    }
    require(converged, "large-star/small-star did not converge in 64 rounds")
    // at the star fixpoint each node's neighborhood-min IS its component min
    // (children touch their root; a root's least(self, children) is itself)
    mOf(edges).select(col("_u").as(idCol), col("_m").as("group_id"))
  }

  // ── incremental near-dup (batch vs persisted index) ───────────────────────

  /** Bucket-hash partition count for the bands layout: `_p = pmod(xxhash64
    * (bucket), 16)` rides every bands row so the persisted table can be
    * DIRECTORY-PARTITIONED by `_p` and a small probe prunes its scan to the
    * partitions its own buckets hash into. 16 keeps per-epoch file counts
    * bounded while still pruning ~tenfold for single-document probes. */
  val neardupBandPartitions = 16
  private def bandPartCol: Column =
    pmod(xxhash64(col("bucket")), lit(neardupBandPartitions.toLong)).cast("int")

  /** The two relational tables a persistable near-dup index consists of:
    * `bands` (id, band, bucket, _p — see [[neardupBandPartitions]]) and
    * `shingles` (id, _s — distinct 64-bit shingle hashes). Everything else the
    * query path needs — bucket membership counts for the cap, shingle-set
    * sizes for the verify — it counts over the rows it already reads, so the
    * index stores nothing it could derive. Together they let a NEW microbatch
    * find its near-dups against an already-ingested corpus WITHOUT re-shingling
    * it — the missing piece between the corpus-at-rest dedup family and this
    * engine's incremental CDC ingest. */
  final case class NeardupIndexTables(bands: DataFrame, shingles: DataFrame)

  /** Derive the index tables for a document set (one shingle pass, shared by
    * the band branch and the shingle-hash branch). */
  def neardupIndexTables(docs: DataFrame, idCol: String, textCol: String,
                         shingleN: Int = 3, k: Int = 32, bands: Int = 8,
                         rowsPerBand: Int = 4): NeardupIndexTables = {
    val rows = materialize(shingleRows(docs, idCol, textCol, shingleN))
    val bb = bandBuckets(minhashSignaturesFromRows(rows, idCol, k),
      idCol, bands, rowsPerBand).withColumn("_p", bandPartCol)
    // hash BEFORE the distinct, dedup on (id, hash): the dedup shuffle then
    // carries an 8-byte long per shingle instead of the shingle string
    // (round-6, guide §2.3 "shuffle keys and metadata instead of payloads");
    // equal shingles ⟺ equal hashes, so the distinct set — and with it every
    // jaccard count — is unchanged barring ~n²/2^64 collision odds
    val dist = rows.select(col(idCol), xxhash64(col("_sh")).as("_s"))
      .dropDuplicates(idCol, "_s")
    NeardupIndexTables(bb, dist)
  }

  /** Near-dup pairs of a NEW batch against an EXISTING index: the batch's band
    * buckets equi-join the index's (bucket-capped on the INDEX side — the side
    * that grows with the corpus), candidates verify with exact jaccard across
    * the two shingle-hash tables. Returns (new_id, old_id, jaccard) for every
    * candidate sharing ≥1 shingle. The batch should additionally self-dedup
    * via [[neardupPairs]]; ids on the two sides are assumed DISJOINT (an id
    * present in both would pair with itself at jaccard 1).
    *
    * SCALE CONTRACT — batch ≪ index; nothing on the query path is
    * proportional to the index size except one pruned, shuffle-free columnar
    * scan of the slim bands table:
    *  1. the bucket cap counts only the buckets the batch touches: the pruned
    *     index bands scan is broadcast-semi-joined to the batch's distinct
    *     (band, bucket) set and counted by a map-side partial aggregate, so
    *     what shuffles is one partial count per touched bucket and task,
    *     never an index row; only over-cap buckets survive to a broadcast
    *     anti-join. (Not [[capBuckets]]' window, which would shuffle every
    *     member of a degenerate bucket the batch touches.) Every row of one
    *     bucket carries the same `_p`, so the pruned scan holds complete
    *     counts, and rows are duplicate-free at rest, so they are the
    *     bucket's true membership;
    *  2. the index bands scan is pruned to the `_p` bucket-hash partitions the
    *     batch's own buckets occupy (a driver-side distinct over the SMALL
    *     batch — at 16 partitions a single-doc probe reads ~1/16 of a
    *     partitioned index layout) and then streams through three
    *     BROADCAST joins (touched-bucket semi, over-cap anti, batch-bands
    *     inner) — the index side never shuffles;
    *  3. the shingle verify first narrows `idx.shingles` by a broadcast
    *     semi-join on candidate old_ids (map-side; no index shuffle), so only
    *     candidates' shingles reach the join that computes intersections, and
    *     each side's shingle-set size is a window count over those rows and
    *     the batch's own (fewer exchanges than [[verifiedPairs]] over their
    *     union, whose window is planned once per join side). */
  def incrementalPairsAgainst(idx: NeardupIndexTables, batch: DataFrame,
                              idCol: String, textCol: String,
                              shingleN: Int = 3, k: Int = 32, bands: Int = 8,
                              rowsPerBand: Int = 4,
                              maxBucket: Int = 200): DataFrame = {
    val b = neardupIndexTables(batch, idCol, textCol, shingleN, k, bands, rowsPerBand)
    val bBands = materialize(
      b.bands.select(col(idCol).as("new_id"), col("band"), col("bucket"), col("_p")))
    // prune the index scan to the batch's own bucket-hash partitions: equal
    // buckets imply equal _p, so the filter loses nothing, and on the
    // _p-partitioned lake layout it becomes static partition pruning
    val batchParts = bBands.select("_p").distinct().collect().map(_.getInt(0)).toSeq
    val idxBands0 =
      if (idx.bands.columns.contains("_p"))
        idx.bands.filter(col("_p").isin(batchParts: _*))
      else idx.bands
    val idxBands = idxBands0.select(col(idCol).as("old_id"), col("band"), col("bucket"))
    // over-cap buckets among those the batch touches (small by construction)
    val overCap = idxBands
      .join(broadcast(bBands.select("band", "bucket").distinct()), Seq("band", "bucket"),
        "left_semi")
      .groupBy("band", "bucket").agg(count(lit(1)).as("_n"))
      .filter(col("_n") > maxBucket).select("band", "bucket")
    val bounded = idxBands.join(broadcast(overCap), Seq("band", "bucket"), "left_anti")
    val pairs = materialize(bounded
      .join(broadcast(bBands.select("new_id", "band", "bucket")), Seq("band", "bucket"))
      .select("new_id", "old_id").distinct())
    // narrow the index shingles to candidates map-side before intersecting;
    // each side's shingle-set size is a window count over its own rows
    val candShingles = idx.shingles.select(col(idCol).as("_oid"), col("_s").as("_s2"))
      .join(broadcast(pairs.select(col("old_id").as("_oid")).distinct()), Seq("_oid"),
        "left_semi")
      .withColumn("_szb", count(lit(1)).over(Window.partitionBy("_oid")))
    val bSized = b.shingles.select(col(idCol).as("new_id"), col("_s"))
      .withColumn("_sza", count(lit(1)).over(Window.partitionBy("new_id")))
    pairs.join(bSized, "new_id")
      .join(candShingles, col("old_id") === col("_oid") && col("_s") === col("_s2"))
      .groupBy("new_id", "old_id", "_sza", "_szb").agg(count(lit(1)).as("_common"))
      .select(col("new_id"), col("old_id"),
        jaccardRatio(col("_common"), col("_sza"), col("_szb")).as("jaccard"))
  }

  // ── SimHash ────────────────────────────────────────────────────────────────

  /** 64-bit SimHash: one row per id with a `simhash` column, computed
    * MAP-SIDE by the [[SimhashText]] kernel (one md5 per token, one pass over
    * the string's bytes) — the relational explode + 64-aggregate shuffle it
    * replaces is gone. Token bits still come from the two portable 32-bit md5
    * words (see [[PortableHash.md5Hi32]]), so values are unchanged and the
    * DuckDB oracle mirror still applies. Documents with ZERO tokens yield no
    * row (the old explode produced no rows for them): a non-empty token
    * exists iff the text contains a non-space character, which the
    * codegen'd translate-length filter tests without tokenizing. */
  def simhashSignatures(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.filter(col(textCol).isNotNull &&
        length(translate(col(textCol), " ", "")) > 0)
      .select(col(idCol), SimhashText.simhash(col(textCol)).as("simhash"))

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup candidate pairs: the 64-bit fingerprint splits into four
    * 16-bit bands; by pigeonhole, any pair within Hamming distance 3 shares at
    * least one band intact, so the band equi-self-join finds ALL such pairs
    * without an O(n²) scan. Pairs are verified with the exact full-width
    * Hamming distance. Returns (left_id, right_id, hamming ≤ maxHamming). */
  def simhashNeardupPairs(sigs: DataFrame, idCol: String,
                          maxHamming: Int = 3): DataFrame = {
    // the signature table feeds both join sides — materialize once (tried
    // un-materialized after the kernel made signatures a projection: 0.41 →
    // 0.71 s best-of-3 at sf0.1, the twin subtree plans cost more than the
    // checkpoint job saves)
    val s = materialize(sigs)
    val bands = s.select(col(idCol), col("simhash"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("simhash"), 16 * b).bitwiseAND(0xFFFFL)): _*)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bv"))
    // the band rows carry the fingerprint, so the pair is verified straight
    // off the self-join's output
    blockSelfJoin(bands, idCol, Seq("band", "bv"))
      .select(col(s"a.$idCol").as("left_id"), col(s"b.$idCol").as("right_id"),
        hamming64(col("a.simhash"), col("b.simhash")).cast("long").as("hamming"))
      .distinct() // a close pair can collide in several bands
      .filter(col("hamming") <= maxHamming)
  }

  // ── hyperplane-LSH ANN ─────────────────────────────────────────────────────

  /** Pure-Scala twin of [[PortableHash.md5Long]] for constant derivation
    * (the plane coefficient table): first 15 hex chars of md5, parsed
    * base-16 — bit-identical to the Column form (FunctionsSpec sweeps both).
    * 60-bit, non-negative. */
  private[graft] def md5LongScala(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** Plane coefficient in [-1000, 1000): the SAME md5("p,d") % 2000 − 1000
    * derivation the relational form used (md5Long is non-negative, so Scala
    * `%` and Spark `%` agree), computed by the [[HyperplaneBucket]] kernel. */
  private[graft] def planeCoef(p: Int, d: Int): Long =
    md5LongScala(s"$p,$d") % 2000L - 1000L

  /** MAP-SIDE hyperplane bucket expression over a float-vector column: the
    * codegen'd [[HyperplaneBucket]] kernel, which derives the [[planeCoef]]
    * table itself for each dimension it meets — for each plane p, the exact
    * integer dot of floor(1000·x_i) against the plane's coefficients, bit p =
    * sign(dot_p). Null elements contribute 0. Integer math keeps the bucket
    * reproducible under any partitioning and in the oracle engine.
    *
    * Planes are pseudo-random integer coefficients in [-1000, 1000) derived
    * from md5("p,d"). Float sums are order-sensitive and a near-zero dot could
    * flip sign under a different partitioning (or in the oracle engine);
    * integer sums are associative, so the bucket is reproducible everywhere.
    *
    * Round-6 optimization (guide §2.4 "remove shuffles outright"): signature
    * derivation was an explode shuffle + aggregate + join-back PER CALL; as a
    * projection it costs zero exchanges and fuses into whatever scan needs
    * it. Building it runs no job: the coefficient table is sized by the
    * vectors the kernel meets, not by a max(size) pass over the input. */
  def hyperplaneBucket(vecCol: Column, planes: Int): Column =
    HyperplaneBucket.bucket(vecCol, planes)

  // ── IVF-Flat ANN ───────────────────────────────────────────────────────────

  /** IVF-Flat approximate nearest neighbors: a coarse quantizer of `c`
    * centroids partitions the corpus into inverted lists; each query ranks
    * the centroids, probes its `nProbe` nearest lists, and brute-forces exact
    * cosine within them — the classic FAISS IVF-Flat recall/cost trade
    * (scanned fraction ≈ nProbe/c), complementary to hyperplane LSH
    * ([[annTopK]]): IVF adapts to the data's density (lists follow the
    * distribution) where LSH buckets are data-independent.
    *
    * Centroids are the `c` smallest-id vectors — DETERMINISTIC and
    * oracle-mirrorable (k-means refinement is an offline job that would only
    * move the centroid table; every plan shape below is unchanged). All
    * ranking cosines are rounded to 6 decimals with id tie-breaks, so
    * assignment and ranking are reproducible bit-for-bit across engines
    * (dot products are ascending-index IEEE folds on both sides).
    *
    * Scale shape: the centroid table is a BROADCAST of `c` rows (the one
    * sanctioned cross join — per-row work is c dot products, constant);
    * assignment is an argmax aggregation; the probe join is an equi-join on
    * the centroid id; candidates per query ≈ n·nProbe/c. Returns
    * (idCol, rank, nn_id, cos). */
  def ivfTopK(vecs: DataFrame, idCol: String, vecCol: String,
              c: Int = 16, nProbe: Int = 4, k: Int = 3): DataFrame = {
    val nrm = sqrt(FloatVecDot.dot(col(vecCol), col(vecCol)))
    // the c centroid rows are BOUNDED METADATA (the 16-row table previously
    // broadcast) — collecting them to the driver lets every (vector ×
    // centroid) score, the per-vector assignment AND the per-vector probe
    // list be computed MAP-SIDE in one projection (round-6 optimization,
    // guide §2.4): the quantizer previously cost a corpus materialization
    // job, an n×c cross, a window shuffle + sort over the n×c scores, a
    // second materialization, and two equi-joins back to the corpus — all of
    // it replaced by a c-element array_sort per row. Score values are
    // unchanged: the same round(FloatVecDot/(nrm·cn), 6) expression over the
    // same collected doubles, ties by cid exactly as the window's
    // (cc DESC, cid) order.
    val cents = vecs.orderBy(col(idCol)).limit(c)
      .select(col(idCol), col(vecCol), nrm.as("_cn")).collect()
    if (cents.isEmpty) { // empty corpus: no centroids, no neighbors
      return vecs.select(col(idCol), lit(0).as("rank"),
        col(idCol).as("nn_id"), lit(0.0).as("cos")).filter(lit(false))
    }
    val scoreStructs = cents.toSeq.map { r =>
      val cv = r.getSeq[Float](1).toSeq
      val cn = r.getDouble(2)
      val cc = round(FloatVecDot.dot(col(vecCol), typedlit(cv)) /
        (col("_nrm") * lit(cn)), 6)
      struct(cc.as("cc"), lit(r.get(0)).as("cid"))
    }
    // (cc DESC, cid ASC) — the window order the ranking pass used; Spark's
    // comparison semantics (NaN greatest, -0.0 = 0.0) match sort semantics
    val cmp = (l: Column, r: Column) =>
      when(l.getField("cc") > r.getField("cc"), -1)
        .when(l.getField("cc") < r.getField("cc"), 1)
        .when(l.getField("cid") < r.getField("cid"), -1)
        .when(l.getField("cid") > r.getField("cid"), 1)
        .otherwise(0)
    val pr = slice(array_sort(array(scoreStructs: _*), cmp), 1, nProbe)
    val base = vecs.select(col(idCol), col(vecCol), nrm.as("_nrm"))
      .withColumn("_pr", pr)
    // assignment = the top-scored centroid; probe list = top nProbe — both
    // read straight out of the per-row sorted array, no shuffle until the
    // probe equi-join itself
    val assign = base.select(col(idCol), col(vecCol), col("_nrm"),
      element_at(col("_pr"), 1).getField("cid").as("_cid"))
    val probes = base.select(col(idCol).as("_qid"), col(vecCol).as("_qv"),
      col("_nrm").as("_qn"),
      explode(transform(col("_pr"), x => x.getField("cid"))).as("_cid"))
    val dot = FloatVecDot.dot(col("_qv"), col(vecCol))
    val cands = probes.join(assign, Seq("_cid"))
      .filter(col("_qid") =!= col(idCol))
      .select(col("_qid"), col(idCol).as("nn_id"),
        round(dot / (col("_qn") * col("_nrm")), 6).as("cos"))
    val wRank = Window.partitionBy("_qid").orderBy(col("cos").desc, col("nn_id"))
    cands.withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("_qid").as(idCol), col("rank"), col("nn_id"), col("cos"))
  }

  /** Planes for a corpus of `n` vectors targeting ~`targetBucket` vectors per
    * bucket: the bucket space 2^planes must GROW with the corpus or bucket
    * population grows O(n/2^planes) and the probe equi-join degenerates toward
    * all-pairs — the same scale bug as metadata blocking for text near-dup.
    * log₂(n/targetBucket), clamped to [8, 24] (256 buckets minimum keeps small
    * corpora probe-efficient; 16M buckets is plenty at 10⁹ vectors). */
  def planesFor(n: Long, targetBucket: Int = 64): Int = {
    val needed = math.ceil(math.log(math.max(n, 1).toDouble / targetBucket)
      / math.log(2.0)).toInt
    math.min(24, math.max(8, needed))
  }

  /** All probe masks within Hamming distance `radius` of a signature
    * (0 = own bucket only; 1 adds single-bit flips; 2 adds bit pairs …). */
  def probeMasks(planes: Int, radius: Int): Seq[Long] = {
    def combos(bits: Seq[Int], r: Int): Seq[Long] =
      if (r == 0) Seq(0L)
      else bits.combinations(r).map(_.map(1L << _).sum).toSeq
    (0 to radius).flatMap(r => combos(0 until planes, r))
  }

  /** Embedding-cosine near-dup candidate pairs: vectors whose hyperplane-LSH
    * buckets fall within Hamming distance `radius`, with exact cosine computed
    * per candidate pair (left_id < right_id). The dedup composition is
    * `filter(cos >= θ)` + keep-min-id anti-join — the embedding analog of
    * [[neardupPairs]]. */
  def cosineNeardupPairs(vecs: DataFrame, idCol: String, vecCol: String,
                         planes: Int = -1, radius: Int = 1,
                         maxBucket: Int = 200): DataFrame =
    // left<right keeps one direction; the pair is also generated exactly once
    // on that side, because only ONE mask maps bucket(left) onto bucket(right)
    // (mask = xor of the two buckets) — so no distinct pass is needed.
    // NOTE the asymmetry under the cap: a pair is kept iff the RIGHT member's
    // bucket is within the cap (probes are uncapped); the oracle mirrors this.
    annCandidates(vecs, idCol, vecCol, planes, radius, maxBucket)
      .filter(col("_qid") < col("_cid"))
      .select(col("_qid").as("left_id"), col("_cid").as("right_id"), col("cos"))

  /** Multi-probe ANN top-k over hyperplane-LSH buckets: each query probes every
    * bucket within Hamming distance `radius` of its own signature, brute-forces
    * cosine against the probed candidates, and keeps the top `k`. Returns
    * (idCol, rank, nn_id, cos).
    *
    * `radius` is the recall↔cost knob: radius r scans ~Σ_{i≤r} C(planes,i)/2^planes
    * of the index. On CLUSTERED embeddings radius 1 reaches high recall; on
    * weakly-structured (near-isotropic) vectors — where the true NN's angle is
    * large — no sublinear probe scheme can reach high recall (the NN's
    * signature is near-random relative to the query's), and recall scales with
    * the scanned fraction times the LSH advantage. See AnnSpec for the measured
    * curve on the test corpus. */
  def annTopK(vecs: DataFrame, idCol: String, vecCol: String,
              planes: Int = -1, k: Int = 3, radius: Int = 1,
              maxBucket: Int = 200): DataFrame = {
    val cands = annCandidates(vecs, idCol, vecCol, planes, radius, maxBucket)
      .filter(col("_qid") =!= col("_cid"))
      .select(col("_qid"), col("_cid").as("nn_id"), col("cos"))
    val w = Window.partitionBy("_qid").orderBy(col("cos").desc, col("nn_id"))
    cands.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("_qid").as(idCol), col("rank"), col("nn_id"), col("cos"))
  }

  /** The ANN candidate step shared by [[cosineNeardupPairs]] and [[annTopK]]:
    * every (query `_qid`, candidate `_cid`) whose buckets lie within Hamming
    * distance `radius`, with their exact `cos`. Self pairs included; callers
    * filter.
    *
    * The index side is bounded to buckets of ≤ `maxBucket` members
    * ([[capBuckets]], the candidatePairs guard applied to the embedding
    * family): a degenerate bucket — all-zero vectors, a heavily clustered
    * corpus, or planes too few for the corpus size — would otherwise make the
    * probe join quadratic on one key. Vectors in dropped buckets still PROBE
    * (they appear on the query side), they just stop being candidates.
    *
    * `planes = -1` (the default of both callers) sizes the bucket space from
    * the corpus via [[planesFor]] — one count() per call; pass an explicit
    * value where the corpus size is known or pinned (the oracle queries pin 8
    * so the DuckDB mirror stays static). */
  private def annCandidates(vecs: DataFrame, idCol: String, vecCol: String,
                            planes: Int, radius: Int, maxBucket: Int): DataFrame = {
    val p = if (planes > 0) planes else planesFor(vecs.count())
    val index = hyperplaneIndex(vecs, idCol, vecCol, p)
    val bounded = capBuckets(index, Seq("bucket"), maxBucket)
    val masks = probeMasks(p, radius)
    val probes = index.select(col(idCol).as("_qid"), col(vecCol).as("_qv"),
      col("_nrm").as("_qn"),
      explode(array(masks.map(m => col("bucket").bitwiseXOR(lit(m))): _*)).as("_pb"))
    val dot = FloatVecDot.dot(col("_qv"), col(vecCol))
    probes.join(bounded, probes("_pb") === bounded("bucket"))
      .select(col("_qid"), col(idCol).as("_cid"),
        round(dot / (col("_qn") * col("_nrm")), 6).as("cos"))
  }

  /** The ANN index frame (id, vec, _nrm, bucket) as ONE map-side projection:
    * norms are computed once per vector, the bucket rides in via
    * [[hyperplaneBucket]]. No materialization — both consumers (probe side,
    * candidate side) re-run a column-pruned scan + projection, which at any
    * scale is cheaper than the old signature shuffle + join-back + checkpoint
    * job the relational signature form required. Vectors with ZERO elements
    * get no index row. */
  private def hyperplaneIndex(vecs: DataFrame, idCol: String, vecCol: String,
                              p: Int): DataFrame = {
    val nrm = sqrt(FloatVecDot.dot(col(vecCol), col(vecCol)))
    vecs.filter(size(col(vecCol)) > 0)
      .select(col(idCol), col(vecCol), nrm.as("_nrm"),
        hyperplaneBucket(col(vecCol), p).as("bucket"))
  }
}
