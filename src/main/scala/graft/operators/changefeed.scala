package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Schemas
import graft.sources.LakeTable

/** CHANGE-DATA-FEED read side — the inverse of the MERGE sink: given two
  * committed states of a CDC target, emit the logical change rows
  * (insert / update / delete per key) that separate them. This is the Iceberg
  * `table_changes` / Delta CDF analog, and the reference's audit trail: its
  * per-load UPDATE_DATE / DELETE_DATE stamps (i2b2-data-schema-changelog.xml:81-235)
  * let an operator ask "what did load N change" — here that question is a
  * first-class relational operator over snapshot versions.
  *
  * Scale shape: ONE scan and ONE shuffle total. [[betweenVersions]] has one
  * read path, [[graft.sources.LakeTable.readVersionsTagged]]: each file of the
  * two manifests' union is read once, aligned to the to-version's schema
  * (across schema evolution too) and tagged with its membership in either
  * version. The per-key winner at v1 and at v2 then come out of a single hash
  * aggregate (two conditional `max(struct)`s, map-side combinable), instead
  * of the naive two-resolve + full-outer-join plan (two shuffles plus a
  * join); the aggregate state per key is two fixed-shape structs regardless
  * of how many duplicate versions a hot key accumulated.
  */
object ChangeFeed {

  /** Change classification column name in the emitted feed. */
  val changeCol = "_change"

  /** Diff two generations of raw physical rows (payload + `_lsn` + `_deleted`)
    * in one aggregate. `gen` must be 1 (old) or 2 (new). Emits one row per key
    * whose LIVE visibility or winning LSN differs: `_change` ∈
    * insert | update | delete, payload columns carry the NEW winner for
    * insert/update and the OLD winner for delete, plus `_old_lsn` / `_new_lsn`.
    *
    * A key whose winning LSN is identical in both generations is unchanged and
    * not emitted; a higher LSN with a byte-identical payload IS emitted as an
    * update (the row version advanced — CDF reports row versions, not byte
    * diffs, matching the reference's UPDATE_DATE stamping on re-loads).
    *
    * No engine path runs this form: it is the two-read reference
    * (`readAsOf(v1)` tagged 1 ∪ `readAsOf(v2)` tagged 2) that ChangeFeedSpec
    * and LakeIoSpec check [[betweenVersions]] against.
    */
  private[graft] def diffTagged(tagged: DataFrame, keyCols: Seq[String],
                                payloadCols: Seq[String]): DataFrame =
    diffMembership(tagged
      .withColumn("_in1", col("_gen") === 1)
      .withColumn("_in2", col("_gen") === 2), keyCols, payloadCols)

  /** [[diffTagged]] over boolean `_in1` / `_in2` MEMBERSHIP columns instead of
    * an exclusive generation tag — the shape
    * [[graft.sources.LakeTable.readVersionsTagged]] produces, where a row
    * from a file shared by both manifests belongs to BOTH generations. This
    * is the form [[betweenVersions]] and [[byWatermark]] run. */
  private[graft] def diffMembership(tagged: DataFrame, keyCols: Seq[String],
                                    payloadCols: Seq[String]): DataFrame = {
    // _lsn leads the struct so max() picks the per-generation winner by LSN;
    // _deleted and the payload ride along as that winner's attributes.
    val ver = struct((col("_lsn") +: col("_deleted") +: payloadCols.map(col)): _*)
    val agg = tagged.groupBy(keyCols.map(col): _*).agg(
      max(when(col("_in1"), ver)).as("_v1"),
      max(when(col("_in2"), ver)).as("_v2"))
    val live1 = col("_v1").isNotNull && !col("_v1._deleted")
    val live2 = col("_v2").isNotNull && !col("_v2._deleted")
    val change = when(!live1 && live2, "insert")
      .when(live1 && !live2, "delete")
      .when(live1 && live2 && col("_v2._lsn") > col("_v1._lsn"), "update")
    val winner = when(live2, col("_v2")).otherwise(col("_v1"))
    agg.withColumn(changeCol, change)
      .filter(col(changeCol).isNotNull)
      .select(keyCols.map(col) ++ Seq(col(changeCol),
        // _old_lsn = the prior LIVE version's LSN, NULL on inserts. Reporting
        // the from-version TOMBSTONE's LSN instead would leak which version
        // the feed was computed from: feed(v1,v2) would stamp an insert with
        // v1's tombstone while feed(v0,v2) stamps the same insert NULL —
        // breaking squash composition (caught by ChangeFeedSpec's squash
        // property on delete-then-reinsert keys).
        when(live1, col("_v1._lsn")).as("_old_lsn"),
        col("_v2._lsn").as("_new_lsn")) ++
        payloadCols.map(p => winner.getField(p).as(p)): _*)
  }

  /** Change feed between two committed snapshot versions of a lake table
    * (`fromVersion` exclusive of its own changes — the feed is "what happened
    * AFTER v1 up to and including v2"), with `toVersion`'s payload columns. */
  def betweenVersions(table: LakeTable, fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion < toVersion,
      s"fromVersion must precede toVersion, got $fromVersion >= $toVersion")
    val payload = table.snapshotAt(toVersion).schema.fieldNames.toSeq
      .filterNot(c => CdcMerge.sysCols.contains(c) || Schemas.keyCols.contains(c))
    diffMembership(table.readVersionsTagged(fromVersion, toVersion), Schemas.keyCols, payload)
  }

  /** SQUASH two consecutive feeds — `a` covering v0→v1 and `b` covering
    * v1→v2 — into the v0→v2 feed, without touching the table: the compaction
    * a downstream CDF consumer applies when it missed a sync window. Per key:
    *
    *  - present in only one feed → that row unchanged;
    *  - insert then delete → NO row (the key appeared and vanished — the
    *    v0→v2 feed never saw it);
    *  - insert then update → insert (b's payload, a's null old-LSN);
    *  - update then update → update (a's old-LSN, b's new-LSN and payload);
    *  - delete then insert → update (the key was live at both endpoints);
    *  - insert/update then delete → delete.
    *
    * Two caveats, both asserted in ChangeFeedSpec: a squashed DELETE row's
    * payload is NULL (the direct v0→v2 feed carries the v0 winner's payload,
    * but feed `a`'s rows carry only their NEW payload — the v0 image is not
    * present in either input), and its `_new_lsn` is the newest tombstone the
    * INPUT feeds saw (a later delete event that merely re-deletes an already
    * dead key advances the tombstone without emitting a feed row, so the
    * direct feed may report a newer tombstone LSN). Classification,
    * `_old_lsn`, and all insert/update columns are exact.
    */
  def squash(a: DataFrame, b: DataFrame, keyCols: Seq[String],
             payloadCols: Seq[String]): DataFrame = {
    val metaCols = Seq(changeCol, "_old_lsn", "_new_lsn")
    def pack(df: DataFrame, tag: String) = df.select(keyCols.map(col) :+
      struct((metaCols ++ payloadCols).map(col): _*).as(tag): _*)
    val joined = pack(a, "_a").join(pack(b, "_b"), keyCols, "full_outer")
    val (ac, bc) = (col(s"_a.${changeCol}"), col(s"_b.${changeCol}"))
    val change = when(col("_b").isNull, ac)
      .when(col("_a").isNull, bc)
      .when(ac === "insert" && bc === "delete", lit(null))
      .when(ac === "insert", "insert")   // insert + update
      .when(bc === "delete", "delete")   // update + delete
      .otherwise("update")               // update+update, delete+insert
    val src = when(col("_b").isNull, col("_a")).otherwise(col("_b"))
    joined.withColumn(changeCol, change)
      .filter(col(changeCol).isNotNull)
      .select(keyCols.map(col) ++ Seq(col(changeCol),
        when(col("_a").isNull, col("_b._old_lsn"))
          .otherwise(col("_a._old_lsn")).as("_old_lsn"),
        src.getField("_new_lsn").as("_new_lsn")) ++
        payloadCols.map(p => when(col(changeCol) === "delete" && col("_b").isNotNull,
          lit(null)).otherwise(src.getField(p)).as(p)): _*)
  }

  /** Watermark form for append-only event logs (no tombstones): the change
    * feed between LWW states "events with lsn <= t1" and "lsn <= t2", computed
    * from the ONE source scan by [[diffMembership]] — the watermark predicates
    * are the membership tags, so no self-union and no second read: every row
    * <= t2 belongs to the new state, and the rows <= t1 to the old one too.
    * Deletes cannot occur (every event is an upsert); emits insert/update
    * only. */
  def byWatermark(events: DataFrame, keyCols: Seq[String], lsnCol: String,
                  payloadCols: Seq[String], t1: Long, t2: Long): DataFrame = {
    require(t1 < t2, s"watermarks must advance, got $t1 >= $t2")
    diffMembership(events.filter(col(lsnCol) <= t2)
      .withColumn("_in1", col(lsnCol) <= t1)
      .withColumn("_in2", lit(true))
      .withColumn("_lsn", col(lsnCol))
      .withColumn("_deleted", lit(false)), keyCols, payloadCols)
  }
}
