package graft.gold

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SCD Type-2 merge, dbt-snapshot `check` strategy (SURVEY.md §2 rows
  * 22-24; banking_dbt/snapshots/customers_snapshot.sql:1-11).
  *
  * Semantics per batch, keyed by `key`, versioned on `checkCols`:
  *  - new key            → insert current row [asOf, null)
  *  - changed check-cols → close old current row at asOf, insert new current
  *  - unchanged          → keep as-is
  *  - key absent from batch → keep as-is (snapshots never delete)
  *
  * The comparison is null-safe (`<=>`), matching dbt's column-compare.
  *
  * Spark shape: snapshot is split into closed history (pass-through) and
  * current rows; current ⟗ batch on key (one shuffle each side, or
  * broadcast when the batch is small); three branches unioned. No
  * row-at-a-time logic — the whole merge is declarative DataFrame algebra,
  * so it scales as an ordinary shuffle join and survives AQE skew handling.
  */
object Scd2Merge {

  /** Columns the operator maintains. */
  val EffectiveFrom = "effective_from"
  val EffectiveTo = "effective_to"

  /** @param snapshot existing SCD2 table: key ++ payload ++ effective_from ++ effective_to
    *                 (effective_to IS NULL = current). Pass an empty frame
    *                 with the right schema for the first epoch.
    * @param batch    incoming rows: key ++ payload (must be 1 row per key —
    *                 pre-dedup with Staging.dedupLatest).
    * @param key      natural-key columns.
    * @param checkCols columns whose change creates a new version.
    * @param asOf     the batch's effective timestamp.
    */
  def apply(snapshot: DataFrame, batch: DataFrame, key: Seq[String],
            checkCols: Seq[String], asOf: java.sql.Timestamp): DataFrame = {
    val payloadCols = batch.columns.filterNot(key.contains).toSeq
    val closed = snapshot.filter(col(EffectiveTo).isNotNull)
    val current = snapshot.filter(col(EffectiveTo).isNull)

    // presence flags come from non-nullable markers added before the join,
    // not from key-null checks: the join is null-safe (<=>), so a
    // legitimately-null key column must not read as "row absent"
    val b = batch.select((key ++ payloadCols).map(c => col(c).as(s"b_$c")): _*)
      .withColumn("__in_batch", lit(true))
    val joinCond = key.map(k => col(k) <=> col(s"b_$k")).reduce(_ && _)
    val joined = current.withColumn("__in_current", lit(true))
      .join(b, joinCond, "full_outer")

    val changed: Column = checkCols
      .map(c => !(col(c) <=> col(s"b_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    val inBatch = col("__in_batch").isNotNull
    val inCurrent = col("__in_current").isNotNull

    val keep = key ++ payloadCols

    // 1. untouched current rows: unchanged, or key absent from batch
    val unchanged = joined.filter(inCurrent && (!inBatch || !changed))
      .select(keep.map(col) :+ col(EffectiveFrom) :+ col(EffectiveTo): _*)
    // 2. superseded current rows: close the interval at asOf
    val closedNow = joined.filter(inCurrent && inBatch && changed)
      .select(keep.map(col) :+ col(EffectiveFrom) :+ lit(asOf).cast("timestamp").as(EffectiveTo): _*)
    // 3. new versions: brand-new keys, or the replacement row for changed keys
    val opened = joined.filter(inBatch && (!inCurrent || changed))
      .select(keep.map(c => col(s"b_$c").as(c))
        :+ lit(asOf).cast("timestamp").as(EffectiveFrom)
        :+ lit(null).cast("timestamp").as(EffectiveTo): _*)

    closed.select((keep :+ EffectiveFrom :+ EffectiveTo).map(col): _*)
      .unionByName(unchanged).unionByName(closedNow).unionByName(opened)
  }

  /** SCD2 merge, dbt-snapshot `timestamp` strategy (the reference's other
    * snapshot mode, banking_dbt/snapshots/customers_snapshot.sql config
    * `strategy='timestamp'` variant): a batch row supersedes the current
    * version iff its `tsCol` (updated_at) is STRICTLY NEWER than the
    * current version's — values are never compared, the watermark column
    * is the whole change signal, and the new version's interval starts at
    * the ROW's own timestamp (not a batch-level asOf).
    *
    *  - new key                       → insert [row.ts, null)
    *  - row.ts >  current.from        → close current at row.ts, insert new
    *  - row.ts <= current.from        → late/stale arrival, dropped (the
    *                                    dbt `>` comparison; idempotent on
    *                                    replays by construction)
    *  - key absent from batch         → keep as-is (snapshots never delete)
    *
    * `tsCol` stays in the payload AND becomes `effective_from`, exactly as
    * dbt's `dbt_valid_from = updated_at`. Same scale shape as [[apply]]:
    * closed history passes through untouched, one full-outer join of
    * current×batch on the key.
    */
  def applyTimestamp(snapshot: DataFrame, batch: DataFrame, key: Seq[String],
                     tsCol: String): DataFrame = {
    val payloadCols = batch.columns.filterNot(key.contains).toSeq
    require(payloadCols.contains(tsCol), s"batch must carry $tsCol")
    val closed = snapshot.filter(col(EffectiveTo).isNotNull)
    val current = snapshot.filter(col(EffectiveTo).isNull)

    // a null updated_at carries no ordering information — dbt requires it
    // non-null, and admitting such a row would open a version with a null
    // effective_from that a LATER null-ts row then "supersedes", leaving
    // two open versions for one key. Dropped up front.
    val b = batch.filter(col(tsCol).isNotNull)
      .select((key ++ payloadCols).map(c => col(c).as(s"b_$c")): _*)
      .withColumn("__in_batch", lit(true))
    val joinCond = key.map(k => col(k) <=> col(s"b_$k")).reduce(_ && _)
    val joined = current.withColumn("__in_current", lit(true))
      .join(b, joinCond, "full_outer")

    // null-safe: a null batch ts (or bootstrap-null effective_from) reads
    // as "newer" only when the snapshot side is null — never drops a row
    // from every branch
    val newer = coalesce(
      col(s"b_$tsCol").cast("timestamp") > col(EffectiveFrom),
      col(EffectiveFrom).isNull)
    val inBatch = col("__in_batch").isNotNull
    val inCurrent = col("__in_current").isNotNull
    val keep = key ++ payloadCols

    val unchanged = joined.filter(inCurrent && (!inBatch || !newer))
      .select(keep.map(col) :+ col(EffectiveFrom) :+ col(EffectiveTo): _*)
    val closedNow = joined.filter(inCurrent && inBatch && newer)
      .select(keep.map(col) :+ col(EffectiveFrom)
        :+ col(s"b_$tsCol").cast("timestamp").as(EffectiveTo): _*)
    val opened = joined.filter(inBatch && (!inCurrent || newer))
      .select(keep.map(c => col(s"b_$c").as(c))
        :+ col(s"b_$tsCol").cast("timestamp").as(EffectiveFrom)
        :+ lit(null).cast("timestamp").as(EffectiveTo): _*)

    closed.select((keep :+ EffectiveFrom :+ EffectiveTo).map(col): _*)
      .unionByName(unchanged).unionByName(closedNow).unionByName(opened)
  }

  /** Empty snapshot with the right schema for a batch (first epoch). */
  def emptySnapshot(batch: DataFrame): DataFrame =
    batch
      .withColumn(EffectiveFrom, lit(null).cast("timestamp"))
      .withColumn(EffectiveTo, lit(null).cast("timestamp"))
      .limit(0)

  /** Dimension projection over a snapshot (SURVEY.md §2 row 24,
    * dim_customers.sql:3-16): derive `is_current`.
    */
  def toDim(snapshot: DataFrame): DataFrame =
    snapshot.withColumn("is_current", col(EffectiveTo).isNull)

  /** Fold ONE micro-batch of change-log rows into an SCD2 snapshot with
    * PER-ROW effective timestamps — the incremental form of
    * [[fromChangeLog]] and the exact-changelog counterpart of the
    * per-batch [[apply]] (which collapses a batch to its latest row per
    * key under one shared `asOf`). A batch may carry several versions of
    * the same key; each surviving change becomes its own interval, so
    * folding batches one at a time reproduces the full-log rebuild
    * bit-for-bit (spec-pinned): fold(fold(∅, b₁), b₂) ≡
    * fromChangeLog(b₁ ∪ b₂) + check-dedup.
    *
    * Semantics per key, rows ordered by (`tsCol`, `tieBreak`):
    *  - the snapshot's current row (if any) anchors the sequence with its
    *    original `effective_from`;
    *  - batch rows at-or-before that anchor are DROPPED — they are
    *    replays or late duplicates of versions already applied (CDC
    *    per-key ordering, SURVEY §2 row 27, is the delivery contract),
    *    which makes re-folding a delivered batch a no-op;
    *  - a row whose `checkCols` are null-safe-equal to the previous kept
    *    row creates no version (dbt `check` strategy); chains of equal
    *    rows collapse because a dropped row always equals its
    *    predecessor, so compare-to-previous-raw ≡ compare-to-previous-kept
    *    — the property that makes the fold independent of batch cuts;
    *  - each kept row's `effective_to` = next kept row's ts (null = still
    *    current); the anchor's `effective_to` reopens to the first
    *    accepted change.
    *
    * Spark shape: closed history and untouched current rows pass through
    * without entering the fold (null-safe key semi/anti split — per-batch
    * window work is O(touched keys' rows), not O(dimension)); the fold
    * itself is two window passes over ONE key-partitioned exchange
    * (anchor-ts max + lag/lead/rank). No per-epoch loop: one batch with
    * 1000 versions of a key costs the same shuffle as one with a single
    * version.
    *
    * @param snapshot existing SCD2 table: key ++ payload ++
    *                 effective_from ++ effective_to; [[emptyLogSnapshot]]
    *                 for the first batch.
    * @param batchLog change-log rows: key ++ payload ++ `tsCol`.
    * @param checkCols payload columns whose change opens a new version.
    * @param tieBreak  extra payload columns ordering rows that share one
    *                  `tsCol` value (e.g. a change-log sequence id) —
    *                  required for a deterministic fold when ties exist.
    * @param width     the caller's [[graft.Width]]; in single mode both
    *                  inputs arrive pinned, the touched-key split is a
    *                  shuffled-hash join instead of a broadcast, and the
    *                  anchor ∪ incoming union is pinned again, so the whole
    *                  fold plans no exchange.
    */
  def applyLog(snapshot: DataFrame, batchLog: DataFrame, key: Seq[String],
               checkCols: Seq[String], tsCol: String,
               tieBreak: Seq[String] = Seq.empty,
               opCol: Option[String] = None,
               width: graft.Width = graft.Width.Session): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val payloadCols =
      batchLog.columns.filterNot(c => key.contains(c) || c == tsCol).toSeq
    val outCols = (key ++ payloadCols :+ EffectiveFrom :+ EffectiveTo).map(col)

    val closed = snapshot.filter(col(EffectiveTo).isNotNull)
    val current = snapshot.filter(col(EffectiveTo).isNull)

    // null-safe touched-key split: only keys present in the batch pay the
    // window shuffle; every other current row passes through untouched
    val touched = batchLog.select(key.map(k => col(k).as(s"t_$k")): _*)
      .distinct().withColumn("__touched", lit(true))
    val touchCond = key.map(k => col(k) <=> col(s"t_$k")).reduce(_ && _)
    val curFlagged = current.join(
      if (width.single) width.hashSide(touched) else broadcast(touched),
      touchCond, "left")
    val untouched = curFlagged.filter(col("__touched").isNull).select(outCols: _*)

    // anchor = the current version, re-entering the fold at its original
    // effective_from; batch rows carry their own ts
    val anchor = curFlagged.filter(col("__touched").isNotNull)
      .select((key ++ payloadCols).map(col)
        :+ col(EffectiveFrom).as("__ts") :+ lit(true).as("__anchor")
        :+ col(EffectiveFrom): _*)
    // a null change-log ts carries no ordering information (same discipline
    // as applyTimestamp): admitted, it would pass the replay guard when the
    // key has no anchor, sort first via asc_nulls_first, and open a version
    // with null effective_from whose predecessor also stays open — two
    // current rows for one key. Dropped up front.
    val incoming = batchLog.filter(col(tsCol).isNotNull)
      .select((key ++ payloadCols).map(col)
        :+ col(tsCol).cast("timestamp").as("__ts") :+ lit(false).as("__anchor")
        :+ col(tsCol).cast("timestamp").as(EffectiveFrom): _*)

    val wAll = Window.partitionBy(key.map(col): _*)
    val ord = (col("__ts").asc_nulls_first +: col("__anchor").desc +:
      tieBreak.map(col(_).asc_nulls_first)): Seq[Column]
    val wOrd = wAll.orderBy(ord: _*)

    val seq0 = width.pin(anchor.unionByName(incoming))
      .withColumn("__anchor_ts", max(when(col("__anchor"), col("__ts"))).over(wAll))
      // replay/late guard: rows not strictly newer than the applied anchor
      .filter(col("__anchor") ||
        col("__anchor_ts").isNull || col("__ts") > col("__anchor_ts"))
    val changed: Column = checkCols
      .map(c => !(col(c) <=> lag(col(c), 1).over(wOrd)))
      .reduceOption(_ || _).getOrElse(lit(false))
    // hard-delete semantics (dbt invalidate_hard_deletes, Debezium op='d'):
    // a delete row is KEPT AS A TOMBSTONE VERSION — it closes the previous
    // version via the same lead() and stays current (effective_to null)
    // until a re-create closes it. Persisting the tombstone is what keeps
    // the replay guard working for deleted keys: the tombstone is the
    // anchor, so redelivered rows at-or-before it drop. Rules (raw-lag ≡
    // kept-lag still holds: a dropped non-delete equals its predecessor's
    // payload, a dropped delete implies its predecessor is a delete):
    //  - delete after a delete → dropped (redundant tombstone);
    //  - non-delete after a delete → always opens (re-create), its payload
    //    never compares against tombstone payload;
    //  - a key's first-ever row being a delete → dropped (nothing to close).
    val rn = row_number().over(wOrd)
    val keep = opCol match {
      case None => rn === 1 || changed
      case Some(op) =>
        val isDel = col(op) === "d"
        val prevDel = lag(col(op), 1).over(wOrd) === "d"
        when(rn === 1, col("__anchor") || !isDel)
          .otherwise(when(isDel, !prevDel).otherwise(prevDel || changed))
    }
    val kept = seq0.withColumn("__keep", keep).filter(col("__keep"))
    val folded = kept
      .withColumn(EffectiveTo, lead(col("__ts"), 1).over(wOrd))
      .select(outCols: _*)

    closed.select(outCols: _*).unionByName(untouched).unionByName(folded)
  }

  /** Live rows of an [[applyLog]] snapshot maintained with `opCol`:
    * current versions that are not tombstones.
    */
  def liveFromLog(snapshot: DataFrame, opCol: String): DataFrame =
    snapshot.filter(col(EffectiveTo).isNull && !(col(opCol) <=> lit("d")))

  /** SCD Type 3 projection from an SCD2 snapshot: the current row per
    * key plus `prev_<col>` columns holding each tracked column's value
    * in the IMMEDIATELY PRECEDING version (null for single-version
    * keys) — the "current + previous" dimension shape analysts ask for
    * when full history is overkill. Derived, not maintained: the SCD2
    * snapshot stays the source of truth and this is one window pass
    * over it (T3's classic write-path lossiness disappears when T2 is
    * underneath). `tieBreak` orders versions sharing one
    * `effective_from` (q183's zero-width tie intervals).
    */
  def toType3(snapshot: DataFrame, key: Seq[String], valueCols: Seq[String],
              tieBreak: Seq[String] = Seq.empty): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ord = (col(EffectiveFrom).asc_nulls_first +:
      tieBreak.map(col(_).asc_nulls_first)): Seq[Column]
    val w = Window.partitionBy(key.map(col): _*).orderBy(ord: _*)
    valueCols.foldLeft(snapshot)((d, c) =>
        d.withColumn(s"prev_$c", lag(col(c), 1).over(w)))
      .filter(col(EffectiveTo).isNull)
  }

  /** Empty SCD2 snapshot with [[applyLog]]'s schema for a change-log
    * frame (first batch).
    */
  def emptyLogSnapshot(batchLog: DataFrame, tsCol: String): DataFrame =
    batchLog.drop(tsCol)
      .withColumn(EffectiveFrom, lit(null).cast("timestamp"))
      .withColumn(EffectiveTo, lit(null).cast("timestamp"))
      .limit(0)

  /** Rebuild full SCD2 history from an ordered change log in one pass —
    * the batch-analytic equivalent of running the merge once per version:
    * effective_from = version ts, effective_to = next version's ts,
    * latest version current. One window shuffle on the key; used for
    * backfills (readme.md:176-181) where per-epoch merging would be O(E)
    * passes.
    */
  def fromChangeLog(log: DataFrame, key: Seq[String], tsCol: String,
                    tieBreak: Seq[String] = Seq.empty): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ord = (col(tsCol).asc +: tieBreak.map(col(_).asc)): Seq[Column]
    val w = Window.partitionBy(key.map(col): _*).orderBy(ord: _*)
    log
      .withColumn("version_n", row_number().over(w))
      .withColumn(EffectiveFrom, col(tsCol))
      .withColumn(EffectiveTo, lead(col(tsCol), 1).over(w))
      .withColumn("is_current", col(EffectiveTo).isNull)
  }
}
