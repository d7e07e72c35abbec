package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Last-writer-wins deduplication: one surviving change event per key, the one with
  * the maximum LSN.
  *
  * Reference semantics: the merge procedures resolve "new, changed, and logically
  * deleted records" per key (reference dest/I2b2QueryResultsHandler.java:112-153) and
  * the max-UPDATE_DATE pattern picks the latest writer
  * (reference dest/table/ProviderDimensionFactory.java:153-183).
  *
  * Implementation: `max(struct(lsn, payload…))` hash aggregation rather than a
  * `row_number()` window. The window form forces a full shuffle + per-partition sort
  * of EVERY event; the aggregate form is partial-aggregable (map-side combine), so a
  * key with 10^6 duplicate events is reduced to one row per map task BEFORE the
  * shuffle — at 100 TB that is the difference between shuffling the whole stream and
  * shuffling ~|keys| rows. The struct comparison is lexicographic with `lsn` first,
  * so duplicate-LSN redelivery (same payload) resolves deterministically.
  *
  * This aggregate is the one LWW kernel: [[lww]] runs it once per key, and
  * [[lwwSalted]] runs it twice (per (key, salt), then per key) for hot keys.
  */
object Dedup {

  /** One row per key with all original columns, plus `n_events` (how many raw events
    * collapsed into this key — `n_events - 1` is the conflict count for lineage). */
  def lww(df: DataFrame, keyCols: Seq[String] = Seq("conv_id", "turn_idx"),
          lsnCol: String = "lsn"): DataFrame =
    flatten(winners(df, keyCols.map(col), keyCols, lsnCol), df, keyCols)

  /** Salted two-level [[lww]] (north rule: "salts hot conv_id keys before the
    * key-partitioned shuffle"). Level 1 runs the kernel on (key, salt) — a hot
    * key's events spread over `saltBuckets` reducers — level 2 reduces the
    * ≤saltBuckets survivors per key. Spark's partial aggregation already absorbs
    * most skew map-side; the explicit salt additionally protects the reduce side
    * when partial aggregation degrades (high map-side key cardinality → hash-map
    * spill).
    */
  def lwwSalted(df: DataFrame, keyCols: Seq[String] = Seq("conv_id", "turn_idx"),
                lsnCol: String = "lsn", saltBuckets: Int = 16): DataFrame = {
    val salt = pmod(xxhash64(col(lsnCol)), lit(saltBuckets)).as("_salt")
    val level1 = winners(df, keyCols.map(col) :+ salt, keyCols, lsnCol)
    flatten(level1.groupBy(keyCols.map(col): _*)
      .agg(max(col("_w")).as("_w"), sum("n_events").as("n_events"),
        min("_lsn_min").as("_lsn_min")), df, keyCols)
  }

  private def valueCols(df: DataFrame, keyCols: Seq[String]): Seq[String] =
    df.columns.filterNot(keyCols.contains).toSeq

  /** The LWW kernel: per `groupCols` group, `_w` = max(struct(lsn, other value
    * columns)), `n_events` and `_lsn_min`. */
  private def winners(df: DataFrame, groupCols: Seq[Column], keyCols: Seq[String],
                      lsnCol: String): DataFrame = {
    val ordered = struct((lsnCol +: valueCols(df, keyCols).filterNot(_ == lsnCol)).map(col): _*)
    df.groupBy(groupCols: _*)
      .agg(max(ordered).as("_w"), count(lit(1)).as("n_events"), min(col(lsnCol)).as("_lsn_min"))
  }

  /** Keys, `_w` flattened back to `df`'s value columns, `n_events`, `_lsn_min`. */
  private def flatten(agg: DataFrame, df: DataFrame, keyCols: Seq[String]): DataFrame =
    agg.select(keyCols.map(col) ++ valueCols(df, keyCols).map(c => col(s"_w.$c").as(c))
      :+ col("n_events") :+ col("_lsn_min"): _*)
}

/** Hot-key detection for choosing the salted path.
  * Reference analog: none (single-node JDBC has no shuffle skew); north-rule-new. */
object Skew {
  /** Approximate share of the most frequent value of `keyCol`.
    *
    * Sampled with `df.sample(fraction)` — NOT `limit(n)`, which takes the FIRST
    * partitions (= the first files of the batch) and is blind to a hot key
    * concentrated in later files. `sample` draws from every partition. If the
    * sample turns out tiny (< `minSample` rows, i.e. the batch itself is small),
    * fall back to an exact count over the full batch — cheap by construction.
    * One column is scanned either way. */
  def topKeyShare(df: DataFrame, keyCol: String, fraction: Double = 0.05,
                  minSample: Long = 1000L): Double = {
    def share(d: DataFrame): (Double, Long) = {
      val s = d.groupBy(keyCol).count()
        .agg(max("count").as("mx"), sum("count").as("tot"))
        .collect()(0)
      if (s.isNullAt(1) || s.getLong(1) == 0L) (0.0, 0L)
      else (s.getLong(0).toDouble / s.getLong(1).toDouble, s.getLong(1))
    }
    val (approx, sampled) = share(df.select(keyCol).sample(fraction, 42L))
    if (sampled >= minSample) approx
    else share(df.select(keyCol))._1 // batch < minSample/fraction rows: exact is cheap
  }
}
