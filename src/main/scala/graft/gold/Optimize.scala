package graft.gold

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Executing OPTIMIZE — the rewrite half of small-file compaction, on top
  * of [[graft.bronze.Layout.compactionPlan]] (the planner) and
  * [[SnapshotStore]] (the atomic publish). The reference's CDC sink
  * writes one ~50-record file per micro-batch
  * (consumer/kafka_to_minio.py:54); at 100 TB that layout dies on
  * file-open overhead long before bytes, and the fix every table format
  * ships (Delta OPTIMIZE, Iceberg rewrite_data_files) is exactly this
  * plan → rewrite → atomic-swap loop.
  *
  * Shape per step:
  *  - PLAN: one listing of the committed generation (driver-side,
  *    O(n_files) metadata — the same manifest input every OPTIMIZE
  *    implementation plans from) feeds `compactionPlan`'s ordered
  *    first-fit binning; the file→bin assignment is collected back,
  *    bounded by the file count the plan exists to shrink.
  *  - REWRITE (plain compaction): ONE scan of the generation tags each
  *    row with its file's bin via a broadcast of the assignment
  *    (`input_file_name()` is a scan-stage expression, so the tag costs
  *    nothing), then ONE shuffle on the bin id writes one task — hence
  *    one file — per bin, preserving input locality.
  *  - REWRITE (`sortCols` given — the OPTIMIZE ZORDER form; feed
  *    [[graft.sources.ZOrder.zValue]] for two dimensions): input bins
  *    are deliberately NOT preserved — rows range-cluster ACROSS the
  *    planned file count on `sortCols`, because per-bin sorting cannot
  *    tighten per-FILE zone maps when every accreted micro-batch file
  *    spans the whole key domain. The planner still sizes the rewrite
  *    (number of target-byte files); one range exchange replaces the
  *    bin-id shuffle — same shuffle count, globally tight zones.
  *  - PUBLISH: the rewrite stages generation N+1 while readers keep
  *    serving N; the commit is [[SnapshotStore]]'s pointer swap — one
  *    small PUT, atomic on object stores, with the previous generation
  *    retained one cycle for in-flight readers. A crash mid-rewrite
  *    leaves an orphan directory readers never resolve.
  *
  * Contents are untouched by construction: the rewrite is a
  * partition-preserving read → shuffle → write of the same rows
  * (OptimizeSpec asserts multiset equality before/after; q175 proves it
  * against the DuckDB oracle through a full publish→optimize→read trip).
  */
object Optimize {

  /** Readout of one OPTIMIZE run: generations swap `genBefore`→`genAfter`,
    * `filesBefore`→`filesAfter` data files (`bins` planned rewrite bins),
    * bytes for the size ledger.
    */
  case class OptimizeStats(genBefore: Long, genAfter: Long,
                           filesBefore: Long, filesAfter: Long,
                           bytesBefore: Long, bytesAfter: Long, bins: Long)

  /** Data files under `dir` (recursive), driver-side metadata:
    * (file name, dir relative to `dir` — the Hive partition identity,
    * "" for flat tables, bytes). The listing itself is the same
    * O(n_files) metadata every OPTIMIZE reads, but it is PARALLELIZED
    * across the top-level child directories (partition dirs on a
    * partitioned table): each worker issues its own recursive bulk
    * listing, so at millions of files the plan step is bounded by the
    * largest partition's listing, not the table's — the same lever
    * Spark's own InMemoryFileIndex pulls for partition discovery.
    * Results are order-normalized (sorted) so the plan is deterministic
    * regardless of completion order.
    */
  private[graft] def dataFiles(f: FileSystem, dir: Path,
                               parallelism: Int = 16): Seq[(String, String, Long)] = {
    val root = f.makeQualified(dir).toString
    def listRecursive(d: Path): Seq[(String, String, Long)] = {
      val it = f.listFiles(d, true)
      val buf = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
      while (it.hasNext) {
        val st = it.next()
        val n = st.getPath.getName
        if (st.isFile && !n.startsWith("_") && !n.startsWith(".")) {
          val parent = f.makeQualified(st.getPath.getParent).toString
          val rel = parent.stripPrefix(root).stripPrefix("/")
          buf += ((n, rel, st.getLen))
        }
      }
      buf.toSeq
    }
    val top = f.listStatus(dir).toSeq
    val (dirs, files) = top.partition(_.isDirectory)
    val fromTop = files
      .filterNot(st => st.getPath.getName.startsWith("_") ||
        st.getPath.getName.startsWith("."))
      .map(st => (st.getPath.getName, "", st.getLen))
    val fromDirs =
      if (dirs.isEmpty) Seq.empty
      else if (dirs.size == 1) listRecursive(dirs.head.getPath)
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(math.max(parallelism, 1), dirs.size))
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutorService(pool)
        try scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(
            dirs.map(d => scala.concurrent.Future(listRecursive(d.getPath)))),
          scala.concurrent.duration.Duration(1, "hour")).flatten
        finally pool.shutdown()
      }
    (fromTop ++ fromDirs).sorted
  }

  /** Compact the committed generation of the [[SnapshotStore]] table at
    * `path` into ~`targetBytes` files and publish the result as the next
    * generation. Returns the before/after readout. `sortCols` optionally
    * re-clusters rows within each rewritten bin (zone-map tightening —
    * measure with [[fileZoneStats]]). `partitionCols` names the table's
    * Hive partition columns (the reference's bronze is date-partitioned,
    * §2 row 5): bins then never span a partition directory — the planner
    * groups by the file's relative dir — and the rewrite preserves the
    * partitioned layout, so partition pruning survives compaction.
    */
  def compactSnapshot(spark: SparkSession, path: String, targetBytes: Long,
                      sortCols: Seq[Column] = Nil,
                      partitionCols: Seq[String] = Nil): OptimizeStats = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val gen = SnapshotStore.currentGen(spark, path).getOrElse(
      sys.error(s"Optimize.compactSnapshot: nothing published at $path"))
    val genDir = new Path(SnapshotStore.genPath(path, gen))
    val f = SnapshotStore.fs(spark, path)
    val files = dataFiles(f, genDir)
    val bytesBefore = files.map(_._3).sum
    // PLAN: ordered first-fit bins per partition dir over the file
    // listing; the file id is the generation-RELATIVE path — a
    // partitioned write reuses one task's part-file NAME across its
    // partition dirs, so the name alone is not unique — and
    // (part_dir, bin) pairs densify to one gid per output file
    import spark.implicits._
    val filesDf = files
      .map { case (n, rel, sz) => (if (rel.isEmpty) n else s"$rel/$n", rel, sz) }
      .toDF("file", "part_dir", "size")
    val assign = graft.bronze.Layout
      .compactionPlan(filesDf, Seq("part_dir"), "file", "size", targetBytes)
      .select("file", "part_dir", "bin").as[(String, String, Long)].collect()
    val gid = assign.map(r => (r._2, r._3)).distinct.sorted.zipWithIndex.toMap
    val nBins = gid.size
    val fileGid = assign.map(r => (r._1, gid((r._2, r._3))))
    val data = spark.read.parquet(genDir.toString)
    val keep = data.columns.toSeq
    val compacted =
      if (sortCols.nonEmpty)
        // zone-tightening rewrite: range-cluster across the planned file
        // count (input bins carry no locality worth preserving); with
        // partition columns leading, each range run stays inside one
        // partition value
        data.repartitionByRange(math.max(nBins, 1),
            (partitionCols.map(col) ++ sortCols): _*)
          .sortWithinPartitions((partitionCols.map(col) ++ sortCols): _*)
      else {
        // locality-preserving rewrite: tag rows with their file's bin at
        // scan time, one shuffle on the bin id, one task/file per bin
        val tagged = data
          .withColumn("__relfile",
            regexp_replace(input_file_name(), "^.*?/gen=\\d+/", ""))
          .join(broadcast(fileGid.toSeq.toDF("__relfile", "__bin")),
            Seq("__relfile"))
        tagged.repartition(math.max(nBins, 1), col("__bin"))
          .select(keep.map(col): _*)
      }
    // PUBLISH: stage N+1 (readers still serve N), then pointer-swap
    val newGen = SnapshotStore.stage(compacted, path, partitionCols)
    SnapshotStore.commit(spark, path, newGen)
    // compaction is the sink's own maintenance slot, and a snapshot state
    // store is single-writer by contract — the one place pointer-history
    // reclamation is race-free (see SnapshotStore.reclaimHistory)
    SnapshotStore.reclaimHistory(spark, path)
    val after = dataFiles(f, new Path(SnapshotStore.genPath(path, newGen)))
    OptimizeStats(gen, newGen, files.length, after.length,
      bytesBefore, after.map(_._3).sum, nBins)
  }

  /** Per-file zone maps of a WRITTEN table, from the files themselves —
    * the post-hoc readout [[graft.sources.ZOrder.pruningStats]] simulates
    * for planner-sized samples: one row per data file with (min, max,
    * n_rows) of `valueCol`. A range predicate [lo, hi] has to scan a file
    * iff its zone overlaps — exactly how Parquet row-group pruning reads
    * footer stats — so `scannedRows` below is the real cost a filtered
    * scan pays against this layout.
    */
  def fileZoneStats(spark: SparkSession, dir: String,
                    valueCol: Column): DataFrame =
    spark.read.parquet(dir)
      .withColumn("__file", element_at(split(input_file_name(), "/"), -1))
      .groupBy(col("__file"))
      .agg(min(valueCol).as("zmin"), max(valueCol).as("zmax"),
        count(lit(1)).cast("long").as("n_rows"))

  /** Rows a range scan [lo, hi] on `valueCol` must read given the real
    * file layout under `dir` (sum of n_rows over zone-overlapping files).
    */
  def scannedRows(spark: SparkSession, dir: String, valueCol: Column,
                  lo: Column, hi: Column): Long =
    fileZoneStats(spark, dir, valueCol)
      .agg(coalesce(sum(when(col("zmax") >= lo && col("zmin") <= hi,
        col("n_rows")).otherwise(0L)), lit(0L)))
      .head().getLong(0)

  /** Compaction cadence for a continuously-written [[SnapshotStore]]
    * table: run [[compactSnapshot]] only when the committed generation
    * number is a multiple of `every` — the maintenance loop a streaming
    * sink needs (each trigger adds a generation; without a cadence the
    * accreted small files are exactly the reference's 50-record-file
    * pathology, with it the file count stays bounded by ~`every` ×
    * files-per-batch + table-size/targetBytes). The compaction itself
    * publishes generation N+1 of identical contents — readers never
    * block, and since round 9 the incremental sinks ledger on
    * [[StateLedger]]'s in-row `__last_batch` marker (part of the
    * contents, so a compaction CARRIES it), the cadence composes with
    * EVERY sink: merge-idempotent whole-table upserts (a
    * `SnapshotStore.publish` of `UpsertByKey.mergeBatch`, as q189 runs)
    * and ledgered folds (`AnalystMarts.foldBatch`, `DistinctMart`,
    * `GapStream`, `MomentsStream`, `DriftStream`) alike — the round-8
    * numbering-shift incompatibility is gone.
    * Cadence determinism note: `every` counts GENERATIONS, which
    * maintenance publishes also advance, so under replay the compaction
    * points may shift — harmless, because compaction preserves contents
    * and the fold ledger no longer reads generation numbers.
    */
  def maybeCompact(spark: SparkSession, path: String, every: Int,
                   targetBytes: Long, sortCols: Seq[Column] = Nil,
                   partitionCols: Seq[String] = Nil): Option[OptimizeStats] = {
    require(every >= 1, s"every must be >= 1, got $every")
    SnapshotStore.currentGen(spark, path) match {
      case Some(g) if g % every == 0 =>
        Some(compactSnapshot(spark, path, targetBytes, sortCols, partitionCols))
      case _ => None
    }
  }
}
