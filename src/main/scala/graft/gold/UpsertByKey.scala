package graft.gold

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental upsert by unique key (SURVEY.md §2 row 25).
  *
  * The reference's fact table is dbt `materialized='incremental',
  * unique_key='transaction_id', incremental_strategy='merge'`
  * (banking_dbt/models/marts/fact_transactions.sql:1; readme.md:142-151) —
  * i.e. `MERGE INTO … WHEN MATCHED UPDATE WHEN NOT MATCHED INSERT`, run
  * idempotently so replays are safe (readme.md:704-705).
  *
  * Parquet has no MERGE, so the operator is pure DataFrame algebra:
  * `existing ▷ incoming (anti) ∪ incoming` — one shuffle on the key (the
  * anti-join), incoming side broadcast when small. This object is only the
  * merge algebra; the sinks persist its result through [[SnapshotStore]]'s
  * pointer commit or [[PartitionedUpsert]]'s partition overwrite.
  */
object UpsertByKey {

  /** Merge `incoming` into `existing`: rows in both → incoming wins; the
    * incoming batch itself is first deduped latest-wins on `ordering` so a
    * replayed batch is idempotent.
    */
  def apply(existing: DataFrame, incoming: DataFrame, keys: Seq[String],
            ordering: Seq[Column]): DataFrame = {
    val deduped = graft.silver.Staging.dedupLatest(incoming, keys, ordering)
    existing.join(deduped.select(keys.map(col): _*).distinct(), keys, "left_anti")
      .unionByName(deduped)
  }

  /** Fast-path merge for "greatest (orderCols) wins" semantics: the
    * incoming dedup is the hash-aggregate `dedupLatestByMax` (map-side
    * combine, no sort) instead of the window form.
    */
  def byMax(existing: DataFrame, incoming: DataFrame, keys: Seq[String],
            orderCols: Seq[String],
            width: graft.Width = graft.Width.Session): DataFrame = {
    val deduped = graft.silver.Staging.dedupLatestByMax(incoming, keys, orderCols)
    existing.join(width.hashSide(deduped.select(keys.map(col): _*).distinct()),
        keys, "left_anti")
      .unionByName(deduped, allowMissingColumns = false)
  }

  /** CDC-aware fast-path merge: `byMax` dedup (hash aggregation, no window
    * sort) plus tombstone semantics — a key whose latest event is op='d' is
    * removed, otherwise the latest after-image wins. Null-key rows (a
    * malformed envelope that lost even its before-image) are dropped rather
    * than merged as junk. This is the streaming-sink form of `applyCdc`.
    */
  def byMaxCdc(existing: DataFrame, incoming: DataFrame, keys: Seq[String],
               orderCols: Seq[String], opCol: String = "op",
               width: graft.Width = graft.Width.Session): DataFrame = {
    val keyed = incoming.filter(keys.map(col(_).isNotNull).reduce(_ && _))
    val latest = graft.silver.Staging.dedupLatestByMax(keyed, keys, orderCols)
    val upserts = latest.filter(col(opCol) =!= "d" || col(opCol).isNull)
    existing.join(width.hashSide(latest.select(keys.map(col): _*).distinct()),
        keys, "left_anti")
      .unionByName(upserts)
  }

  /** One micro-batch merge step shared by the streaming sinks: dedup the
    * batch latest-wins (hash aggregation) and merge into `existing`
    * (`None` = first write). With `opCol` set, tombstones delete and
    * null-key rows are dropped. `width` is the fold's [[graft.Width]]: in
    * single mode the key anti-join is a shuffled-hash build.
    */
  def mergeBatch(existing: Option[DataFrame], incoming: DataFrame,
                 keys: Seq[String], orderCols: Seq[String],
                 opCol: Option[String],
                 width: graft.Width = graft.Width.Session): DataFrame =
    (existing, opCol) match {
      case (Some(ex), Some(op)) => byMaxCdc(ex, incoming, keys, orderCols, op, width)
      case (Some(ex), None)     => byMax(ex, incoming, keys, orderCols, width)
      case (None, opt) =>
        val keyed = if (opt.isDefined)
          incoming.filter(keys.map(col(_).isNotNull).reduce(_ && _))
        else incoming
        val deduped = graft.silver.Staging.dedupLatestByMax(keyed, keys, orderCols)
        opt match {
          case Some(op) => deduped.filter(col(op) =!= "d" || col(op).isNull)
          case None     => deduped
        }
    }

  /** CDC-aware merge: like `apply`, but the incoming batch carries a
    * Debezium op column; a key whose LATEST event is a delete (`op='d'`)
    * is removed from the result (tombstone), otherwise the latest
    * after-image wins. This implements the delete capture the reference
    * declares but drops (readme.md:69 vs kafka_to_minio.py:67-70).
    */
  def applyCdc(existing: DataFrame, incoming: DataFrame, keys: Seq[String],
               ordering: Seq[Column], opCol: String = "op"): DataFrame = {
    val latest = graft.silver.Staging.dedupLatest(incoming, keys, ordering)
    val deletes = latest.filter(col(opCol) === "d").select(keys.map(col): _*)
    val upserts = latest.filter(col(opCol) =!= "d" || col(opCol).isNull)
    existing
      .join(latest.select(keys.map(col): _*).distinct(), keys, "left_anti")
      .unionByName(upserts.join(deletes, keys, "left_anti"))
  }
}
