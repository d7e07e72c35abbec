package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BLOOM-FILTER SEMI-JOIN REDUCTION — kill non-matching fact rows MAP-SIDE,
  * before they reach the semi-join's shuffle or probe its hash table.
  *
  * The broadcast-set screen the engine already uses (decontamination,
  * near-dup band pruning) ships the full distinct key set to every executor —
  * O(|keys|) broadcast bytes. A Bloom bitmap is FIXED-WIDTH: `mBits` bits
  * regardless of key count, with a false-positive rate ~(1-e^(-k·n/m))^k the
  * caller sizes via `mBits`. At 100 TB the dim side's keys may be far too many
  * to broadcast as a set while a 2^20-bit (128 KiB) bitmap still rides every
  * task closure fine — this is Spark's own runtime-filter strategy
  * (spark.sql.optimizer.runtime.bloomFilter, InjectRuntimeFilter), exposed
  * here as an explicit operator. Only the exact semi-join RESULT is
  * oracle-compared — the bitmap is internal, so the probes are free to use
  * codegen-native xxhash64 instead of the portable-md5 discipline.
  *
  * Exactness: the bitmap only PRE-filters; an exact hash semi-join follows, so
  * false positives are removed and the result equals the plain semi-join
  * row-for-row. The win is plan-shaped: the fact rows entering that join are
  * only the bitmap survivors.
  *
  * The bitmap words are built DISTRIBUTED (explode k probe positions →
  * per-word `bit_or` hash aggregate) and only the finished `mBits/64` longs
  * come back to the driver — bounded metadata, the centroid-table pattern —
  * where they become an array LITERAL in the probe filter. A literal (rather
  * than the tempting broadcast-1-row cross join) is deliberate: Catalyst's
  * `PushDownLeftSemiAntiJoin` pushes a left-semi join BELOW a cross join whose
  * filter it doesn't need, which would run the exact join first and reduce the
  * bloom screen to dead code — a plain `Filter` on the fact side cannot be
  * hoisted above the join, only pushed further down toward the scan, which is
  * exactly where it belongs. (Caught by BloomSpec's plan pin.) For bitmaps too
  * large to inline (≫2^24 bits) use Spark's InjectRuntimeFilter or the
  * broadcast-set screen instead.
  */
object BloomFilter {

  /** Non-negative probe position `i` of a value, in [0, mBits).
    *
    * xxhash64, NOT the engine's portable md5: the similarity family needs
    * md5 because its hashes surface in oracle-compared OUTPUT, but the bloom
    * bitmap is internal — only the exact semi-join result is compared, and it
    * is hash-independent. md5 costs ~µs/row and runs on the FACT side's hot
    * scan (measured: md5 probes put q_bloom_semi at 5-8s at sf0.1 where
    * xxhash64 runs the same query in ~1s); xxhash64 is a codegen'd native
    * expression at ns/row, which is the only acceptable cost for a filter
    * whose entire purpose is to be cheaper than the join it screens. */
  private def probe(c: Column, i: Int, mBits: Int): Column =
    pmod(xxhash64(c, lit(i)), lit(mBits.toLong))

  /** Dense bitmap words (`mBits/64` longs, word w covers bits [64w, 64w+63])
    * over the distinct values of `keys(keyCol)`. The aggregation is
    * distributed and map-side combinable; only the finished words are
    * collected. */
  def build(keys: DataFrame, keyCol: String, mBits: Int, k: Int): Array[Long] = {
    require(mBits > 0 && mBits % 64 == 0, s"mBits must be a positive multiple of 64, got $mBits")
    require(k >= 1, s"k must be >= 1, got $k")
    val sparse = keys.select(col(keyCol).as("_k")).distinct()
      .select(explode(array((0 until k).map(i => probe(col("_k"), i, mBits)): _*)).as("_pos"))
      .groupBy(call_function("div", col("_pos"), lit(64L)).as("_word"))
      .agg(bit_or(call_function("shiftleft", lit(1L),
        pmod(col("_pos"), lit(64L)).cast("int"))).as("_bits"))
      .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    Array.tabulate(mBits / 64)(w => sparse.getOrElse(w, 0L))
  }

  /** Membership test of `c` against literal bitmap words. */
  def mightContain(c: Column, words: Array[Long], k: Int): Column = {
    val mBits = words.length * 64
    (0 until k).map { i =>
      val pos = probe(c, i, mBits)
      (call_function("shiftright",
        element_at(lit(words), (call_function("div", pos, lit(64L)) + 1L).cast("int")),
        pmod(pos, lit(64L)).cast("int")) % 2) =!= 0
    }.reduce(_ && _)
  }

  /** Exact left-semi join of `fact` to the distinct `dimKey`s of `dim`, with
    * the Bloom pre-filter ahead of it. Output = `fact` rows with a match. */
  def semiJoin(fact: DataFrame, factKey: String, dim: DataFrame, dimKey: String,
               mBits: Int = 1 << 16, k: Int = 3): DataFrame = {
    // the probe hash is TYPE-sensitive (xxhash64 of an int differs from
    // xxhash64 of the same value as long), so mismatched key types would make
    // the bitmap screen silently drop true matches map-side — fail loudly
    // instead, mirroring SkewJoin/RangeJoin's validation style
    require(fact.schema(factKey).dataType == dim.schema(dimKey).dataType,
      s"bloom semiJoin key types differ: $factKey is ${fact.schema(factKey).dataType}, " +
        s"$dimKey is ${dim.schema(dimKey).dataType} — cast one side first")
    val words = build(dim, dimKey, mBits, k)
    fact.filter(mightContain(col(factKey), words, k))
      .join(dim.select(col(dimKey).as(factKey)).distinct(), Seq(factKey), "left_semi")
  }
}
