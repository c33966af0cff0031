package graft.gold

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Partition-pruned incremental merge (SURVEY.md §2 rows 25, 5; the 100 TB
  * form of the reference's `incremental_strategy='merge'`,
  * readme.md:142-151).
  *
  * A whole-table rewrite per batch (the `SnapshotStore.upsertInto` sink) is
  * O(table) I/O — fine for dimension-sized tables, a scale-killer for a fact
  * table maintained every minute. Here the sink is Hive-partitioned and a
  * micro-batch touches ONLY the partitions its rows land in:
  *
  *  1. the batch's distinct partition values are collected (one value per
  *     touched date — a bounded driver-side list, not row data);
  *  2. the existing table is read with `partCol IN (touched)` — partition
  *     pruning means untouched partitions are never opened;
  *  3. the merge runs over that pruned slice only;
  *  4. the write uses dynamic partition overwrite, which replaces exactly
  *     the partitions present in the output and leaves every other
  *     partition's files physically untouched.
  *
  * Per-batch I/O is O(touched partitions), independent of table size.
  *
  * REQUIREMENT: `partCol` must be stable per key (e.g. `to_date(created_at)`
  * on an immutable creation timestamp). If a key could move between
  * partitions, its old row would sit in a partition the batch doesn't read,
  * and the merge would leave a duplicate behind. That is the same contract
  * partition-pruned MERGE has on every lakehouse table format.
  *
  * Crash safety: each overwritten partition goes through Spark's output
  * committer (staging dir + commit). A crash mid-job can leave a subset of
  * touched partitions committed, but the streaming checkpoint replays the
  * batch and the merge is idempotent (latest-wins on the same input), so
  * the sink converges. No rename of the table root is involved, which also
  * makes this layout object-store safe.
  */
object PartitionedUpsert {

  /** Distinct partition values a batch touches. Driver-side by design: the
    * list is bounded by the number of partitions (dates), not rows, and is
    * needed to build the pruning predicate.
    */
  def touched(incoming: DataFrame, partCol: String): Seq[Any] =
    incoming.select(partCol).distinct().collect().map(_.get(0)).toSeq

  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Overwrite exactly the partitions present in `df`; all others keep
    * their existing files.
    */
  def writeDynamic(df: DataFrame, path: String, partCol: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol)
      .parquet(path)

  /** Partition-pruned keyed upsert: merge `incoming` into the partitioned
    * table at `path`, rewriting only touched partitions. Latest-wins on
    * `orderCols` (lexicographic struct max — include a unique tie-break).
    * With `opCol` set, Debezium tombstones are honored: a key whose latest
    * event is op='d' is removed from its partition.
    */
  def upsert(spark: SparkSession, incoming: DataFrame, path: String,
             keys: Seq[String], orderCols: Seq[String], partCol: String,
             opCol: Option[String] = None): Unit = {
    // the batch is walked twice (touched partitions, then the merge) —
    // cache it so the source lineage doesn't recompute per trigger
    val batch = incoming.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val parts = touched(batch, partCol)
      if (parts.isEmpty) return
      // null partition values land in Hive's default partition; isin(null)
      // never matches, so null must be pruned with an explicit isNull or the
      // default partition's existing rows would be missed (→ duplicate keys)
      val nonNull = parts.filter(_ != null)
      val prune =
        if (nonNull.size < parts.size) col(partCol).isin(nonNull: _*) || col(partCol).isNull
        else col(partCol).isin(parts: _*)
      val existing =
        if (exists(spark, path))
          Some(spark.read.parquet(path).filter(prune))
        else None
      val merged = UpsertByKey.mergeBatch(existing, batch, keys, orderCols, opCol)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // partition values as STRINGS (Spark's cast-to-string is what the
        // writer formats into directory names), computed BEFORE the
        // overwrite: afterwards, a lost cache block would force `merged`'s
        // lineage to re-read the path it just overwrote — a stale listing
        // at best, a failed batch at worst
        val partStr = (d: DataFrame) =>
          d.select(col(partCol).cast("string")).distinct()
            .collect().map(r => Option(r.getString(0))).toSet
        val inParts = partStr(batch)
        val outParts = partStr(merged)
        writeDynamic(merged, path, partCol)
        // dynamic overwrite only replaces partitions PRESENT in the output:
        // a tombstone batch that empties a partition produces no rows for
        // it, so its stale files must be deleted explicitly or the deleted
        // keys would resurrect on the next read. Directory names go through
        // Spark's own escaping (getPartitionPathString percent-encodes
        // ':', '/', ' '… exactly like the writer; null/empty → the Hive
        // default partition) — a raw s"$partCol=$v" would miss the real
        // directory for any value the writer escapes.
        val emptied = inParts -- outParts
        if (emptied.nonEmpty) {
          val f = new org.apache.hadoop.fs.Path(path)
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
          emptied.foreach { v =>
            val dirName = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
              .getPartitionPathString(partCol, v.orNull)
            f.delete(new org.apache.hadoop.fs.Path(path, dirName), true)
          }
        }
      } finally merged.unpersist()
    } finally batch.unpersist()
  }

  // --- SCD2 on a pruned layout ---------------------------------------------

  /** Partition column of the SCD2 layout: current rows live together in one
    * hot partition; closed rows are filed by close date and never change
    * again.
    */
  val ScdPartCol = "scd_part"
  val ScdCurrent = "current"

  private def scdPart: Column =
    when(col(Scd2Merge.EffectiveTo).isNull, lit(ScdCurrent))
      .otherwise(concat(lit("closed_"),
        date_format(col(Scd2Merge.EffectiveTo), "yyyy-MM-dd")))

  /** Partition-pruned SCD2 merge. Only two partitions can change in a
    * batch effective at `asOf`: `current` (rows close or update) and
    * `closed_<asOf date>` (where this batch's closures land — read back so
    * same-day closures from earlier batches survive the overwrite). All
    * older closed partitions are immutable and never read or written, so
    * per-batch I/O is O(current keys + today's closures), independent of
    * history depth — the pruning that makes micro-batch SCD2 viable at
    * 100 TB of accumulated history.
    */
  def scd2(spark: SparkSession, staged: DataFrame, path: String,
           keys: Seq[String], checkCols: Seq[String],
           asOf: java.sql.Timestamp): Unit = {
    // derive the close-date partition in the SESSION timezone — the same
    // zone date_format uses inside scdPart. Using the driver JVM's default
    // zone here would read the wrong closed partition whenever the two
    // disagree (e.g. UTC session on a non-UTC driver), silently dropping
    // same-day closures on the second batch of a day.
    val zone = java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
    val asOfPart = "closed_" + asOf.toInstant.atZone(zone).toLocalDate.toString
    val snapshot =
      if (exists(spark, path))
        spark.read.parquet(path)
          .filter(col(ScdPartCol).isin(ScdCurrent, asOfPart))
          .drop(ScdPartCol)
      else Scd2Merge.emptySnapshot(staged)
    val merged = Scd2Merge(snapshot, staged, keys, checkCols, asOf)
      .withColumn(ScdPartCol, scdPart)
    writeDynamic(merged, path, ScdPartCol)
  }

  /** Read the full SCD2 table back (partition column dropped — it is
    * derivable from `effective_to`).
    */
  def readScd2(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).drop(ScdPartCol)
}
