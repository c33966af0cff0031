package graft.gold

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Change data feed between two committed snapshot generations — the
  * `table_changes()` a downstream incremental consumer asks of a
  * [[SnapshotStore]] table (Delta CDF / Iceberg changelog semantics):
  * row-level inserts, deletes, and update pre/post images, keyed by the
  * table's logical key.
  *
  * This is the SNAPSHOT-DIFF form: the two generation dirs are immutable
  * (that is the pointer protocol's whole point), so the feed is a pure
  * function of (fromGen, toGen) — rerunnable, late-consumer-safe, and
  * available retroactively for any pair of retained generations without
  * the writer having captured anything at commit time. Cost is one
  * null-safe full-outer join keyed on the table key — O(both
  * generations), the price of not persisting per-commit change files;
  * consumers that need O(batch) feeds should read the upstream CDC
  * deltas themselves ([[BaseDelta]]'s per-batch delta dirs ARE that
  * artifact). The join is a plain keyed exchange (AQE-skew-safe, no
  * window, no sort) and all four change classes project off the SAME
  * join — exchange reuse executes the shuffle once.
  *
  * Output: key ++ payload ++ `_change_type` ∈ {insert, delete,
  * update_preimage, update_postimage} ++ `_commit_gen` (= toGen). A row
  * whose payload is null-safe-equal across generations emits nothing.
  */
object ChangeFeed {

  /** Row-level diff `newDf` − `oldDf` keyed by `keys` (schemas must
    * match). Exposed for testing and for diffing arbitrary frames; the
    * generation-addressed form is [[between]].
    */
  def diff(oldDf: DataFrame, newDf: DataFrame, keys: Seq[String]): DataFrame = {
    val payload = newDf.columns.filterNot(keys.contains).toSeq
    require(oldDf.columns.sorted.sameElements(newDf.columns.sorted),
      s"ChangeFeed.diff: schemas differ: ${oldDf.columns.toSeq} vs ${newDf.columns.toSeq}")
    val o = oldDf.select(keys.map(k => col(k).as(s"o_$k"))
      ++ payload.map(c => col(c).as(s"o_$c")) :+ lit(true).as("__in_old"): _*)
    val n = newDf.select(keys.map(k => col(k).as(s"n_$k"))
      ++ payload.map(c => col(c).as(s"n_$c")) :+ lit(true).as("__in_new"): _*)
    val joinCond = keys.map(k => col(s"o_$k") <=> col(s"n_$k")).reduce(_ && _)
    val j = o.join(n, joinCond, "full_outer")
    val inOld = col("__in_old").isNotNull
    val inNew = col("__in_new").isNotNull
    val changed: Column = payload.map(c => !(col(s"o_$c") <=> col(s"n_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    def image(side: String, tpe: String) =
      (keys ++ payload).map(c => col(s"${side}_$c").as(c)) :+
        lit(tpe).as("_change_type")
    val inserts = j.filter(inNew && !inOld).select(image("n", "insert"): _*)
    val deletes = j.filter(inOld && !inNew).select(image("o", "delete"): _*)
    val updPre = j.filter(inOld && inNew && changed)
      .select(image("o", "update_preimage"): _*)
    val updPost = j.filter(inOld && inNew && changed)
      .select(image("n", "update_postimage"): _*)
    inserts.unionByName(deletes).unionByName(updPre).unionByName(updPost)
  }

  /** The change feed between two RETAINED generations of the snapshot
    * table at `path`. Both generation dirs must still exist (the store
    * retains the previous generation one publish cycle; vacuumed history
    * fails loudly here, never silently diffs the wrong data — the
    * BaseDelta `readAt` fold-floor contract).
    */
  def between(spark: SparkSession, path: String, fromGen: Long, toGen: Long,
              keys: Seq[String]): DataFrame = {
    require(fromGen < toGen,
      s"ChangeFeed.between: fromGen $fromGen must precede toGen $toGen")
    val f = SnapshotStore.fs(spark, path)
    Seq(fromGen, toGen).foreach { g =>
      require(f.exists(new org.apache.hadoop.fs.Path(
        SnapshotStore.genPath(path, g))),
        s"ChangeFeed.between: generation $g of $path is not on disk " +
          "(vacuumed or never staged) — its changes are no longer derivable")
    }
    diff(spark.read.parquet(SnapshotStore.genPath(path, fromGen)),
      spark.read.parquet(SnapshotStore.genPath(path, toGen)), keys)
      .withColumn("_commit_gen", lit(toGen))
  }

  /** Changes introduced by the LATEST publish: previous → current
    * generation (both retained by the store's one-cycle retention).
    */
  def latest(spark: SparkSession, path: String, keys: Seq[String]): DataFrame = {
    val cur = SnapshotStore.currentGen(spark, path).getOrElse(
      sys.error(s"ChangeFeed.latest: nothing published at $path"))
    val gens = CommitCas.numbered(SnapshotStore.fs(spark, path),
      new org.apache.hadoop.fs.Path(path), "gen=").map(_._1).filter(_ < cur)
    require(gens.nonEmpty,
      s"ChangeFeed.latest: no prior generation of $path is retained")
    between(spark, path, gens.max, cur, keys)
  }
}
