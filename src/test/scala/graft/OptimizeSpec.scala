package graft

import org.apache.spark.sql.functions._
import graft.gold.{Optimize, SnapshotStore}

/** Executing OPTIMIZE: plan → rewrite → pointer-swap publish. Contents
  * must be bit-identical before/after, file counts must collapse to the
  * planned bins, the swap must be transactional (old generation retained
  * one cycle), and a sorted rewrite must tighten real per-file zone maps
  * enough to cut scanned rows for a selective range predicate.
  */
class OptimizeSpec extends SparkSpec {
  import spark.implicits._

  // deterministic "CDC sink accretion" fixture: id + a value column whose
  // order is decorrelated from insert order (hash-scrambled), so small
  // files start with full-domain zone maps
  private def accreted(n: Int) =
    spark.range(n.toLong)
      .select(col("id"),
        pmod(xxhash64(col("id")), lit(1000L)).as("v"),
        concat(lit("p"), pmod(col("id"), lit(7)).cast("string")).as("tag"))

  test("compaction collapses small files into planned bins, contents bit-identical") {
    val path = tmpDir("opt-bins") + "/t"
    val src = accreted(20000)
    SnapshotStore.publish(src.repartition(80), path)
    val f = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = SnapshotStore.read(spark, path)
      .as[(Long, Long, String)].collect().sorted.toSeq
    val totalBytes = f.getContentSummary(
      new org.apache.hadoop.fs.Path(SnapshotStore.genPath(path, 1L)))
      .getLength
    val stats = Optimize.compactSnapshot(spark, path, totalBytes / 4 + 1)
    assert(stats.genBefore == 1L && stats.genAfter == 2L)
    assert(stats.filesBefore == 80, s"fixture wrote ${stats.filesBefore} files")
    assert(stats.bins <= 6, s"planned ${stats.bins} bins for a 4-bin target")
    assert(stats.filesAfter <= stats.bins,
      s"rewrite produced ${stats.filesAfter} files for ${stats.bins} bins")
    assert(SnapshotStore.currentGen(spark, path).contains(2L))
    val after = SnapshotStore.read(spark, path)
      .as[(Long, Long, String)].collect().sorted.toSeq
    assert(after == before, "OPTIMIZE must not change table contents")
  }

  test("the swap is transactional: previous generation retained one cycle") {
    val path = tmpDir("opt-txn") + "/t"
    SnapshotStore.publish(accreted(2000).repartition(20), path)
    val held = SnapshotStore.read(spark, path)
    Optimize.compactSnapshot(spark, path, Long.MaxValue)
    // a reader that resolved the pointer before OPTIMIZE still reads its
    // immutable generation
    assert(held.count() == 2000L)
    assert(SnapshotStore.currentGen(spark, path).contains(2L))
    assert(SnapshotStore.read(spark, path).count() == 2000L)
  }

  test("sorted rewrite tightens real per-file zone maps and cuts scanned rows") {
    val path = tmpDir("opt-zone") + "/t"
    // 40 small files, each spanning ~the full v-domain (hash-scrambled)
    SnapshotStore.publish(accreted(40000).repartition(40), path)
    def genDir = SnapshotStore.genPath(path,
      SnapshotStore.currentGen(spark, path).get)
    val n = 40000L
    // selective predicate: ~5% of the v-domain
    val (lo, hi) = (lit(100L), lit(149L))
    val scannedBefore = Optimize.scannedRows(spark, genDir, col("v"), lo, hi)
    assert(scannedBefore == n,
      "unsorted small files must have full-domain zones (scan everything)")
    // sorted rewrite: the planner sizes ~30 output files, the rewrite
    // range-clusters ACROSS them (per-bin sorting could never tighten
    // per-file zones — every accreted file spans the full v-domain)
    val f = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val totalBytes = f.getContentSummary(
      new org.apache.hadoop.fs.Path(SnapshotStore.genPath(path, 1L)))
      .getLength
    val stats = Optimize.compactSnapshot(spark, path, totalBytes / 30 + 1,
      sortCols = Seq(col("v")))
    assert(stats.bins >= 10, s"expected >=10 planned files, got ${stats.bins}")
    assert(stats.filesAfter >= 10 && stats.filesAfter <= stats.bins,
      s"files after: ${stats.filesAfter} for ${stats.bins} bins")
    val scannedAfter = Optimize.scannedRows(spark, genDir, col("v"), lo, hi)
    assert(scannedAfter < n / 5,
      s"sorted layout must prune: scanned $scannedAfter of $n")
    // zone spans: average (zmax - zmin) collapses vs the unsorted layout
    val avgSpan = Optimize.fileZoneStats(spark, genDir, col("v"))
      .agg(avg(col("zmax") - col("zmin"))).head().getDouble(0)
    assert(avgSpan < 200.0, s"avg zone span $avgSpan not tightened")
  }

  test("partitioned compaction: bins stay inside partition dirs, layout preserved") {
    val path = tmpDir("opt-part") + "/t"
    val src = spark.range(30000L)
      .select(col("id"),
        pmod(xxhash64(col("id")), lit(1000L)).as("v"),
        concat(lit("d"), pmod(col("id"), lit(3)).cast("string")).as("p"))
    SnapshotStore.publish(src.repartition(60), path, Seq("p"))
    val f = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = SnapshotStore.read(spark, path)
      .select("id", "v", "p").as[(Long, Long, String)]
      .collect().sorted.toSeq
    val totalBytes = f.getContentSummary(
      new org.apache.hadoop.fs.Path(SnapshotStore.genPath(path, 1L)))
      .getLength
    val stats = Optimize.compactSnapshot(spark, path, totalBytes / 6 + 1,
      partitionCols = Seq("p"))
    assert(stats.filesBefore > 100,
      s"fixture should accrete >100 files, got ${stats.filesBefore}")
    assert(stats.bins >= 3, s"at least one bin per partition: ${stats.bins}")
    assert(stats.filesAfter <= stats.bins && stats.filesAfter < 20,
      s"files after: ${stats.filesAfter} for ${stats.bins} bins")
    // the Hive layout survives: one dir per partition value, and reads
    // through the pointer see identical contents
    val dirs = f.listStatus(new org.apache.hadoop.fs.Path(
        SnapshotStore.genPath(path, 2L)))
      .map(_.getPath.getName).filter(_.startsWith("p=")).sorted.toSeq
    assert(dirs == Seq("p=d0", "p=d1", "p=d2"), dirs.toString)
    val after = SnapshotStore.read(spark, path)
      .select("id", "v", "p").as[(Long, Long, String)]
      .collect().sorted.toSeq
    assert(after == before, "partitioned OPTIMIZE must not change contents")
  }

  test("OPTIMIZE ZORDER: two-dimensional pruning where a single-dim sort fails") {
    val path = tmpDir("opt-zorder") + "/t"
    // two INDEPENDENT uniform dims in 0..999 — the layout dilemma a
    // single sort cannot solve
    val n = 40000L
    val src = spark.range(n)
      .select(col("id"),
        pmod(xxhash64(col("id")), lit(1000L)).as("a"),
        pmod(xxhash64(col("id") + 1000000L), lit(1000L)).as("b"))
    def genDir = SnapshotStore.genPath(path,
      SnapshotStore.currentGen(spark, path).get)
    def scanned(c: String) = Optimize.scannedRows(spark, genDir, col(c),
      lit(100L), lit(199L)) // 10% of either domain
    val f = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def accreteBytes(): Long = {
      SnapshotStore.publish(src.repartition(40), path)
      f.getContentSummary(new org.apache.hadoop.fs.Path(genDir)).getLength
    }
    // single-dim sort: a prunes, b scans EVERYTHING
    val bytes1 = accreteBytes()
    Optimize.compactSnapshot(spark, path, bytes1 / 16 + 1,
      sortCols = Seq(col("a")))
    val (sa1, sb1) = (scanned("a"), scanned("b"))
    assert(sa1 < n / 4, s"sorted dim must prune: $sa1")
    assert(sb1 == n, s"off dim of a single sort must scan all: $sb1")
    // OPTIMIZE ZORDER on (a, b): BOTH dims prune
    val bytes2 = accreteBytes()
    val z = graft.sources.ZOrder.zValue(
      col("a"), lit(0L), lit(999L), col("b"), lit(0L), lit(999L))
    val stats = Optimize.compactSnapshot(spark, path, bytes2 / 16 + 1,
      sortCols = Seq(z))
    assert(stats.filesAfter >= 8, s"want a multi-file z layout: $stats")
    val (sa2, sb2) = (scanned("a"), scanned("b"))
    assert(sa2 < (n * 7) / 10 && sb2 < (n * 7) / 10,
      s"z-order must prune BOTH dims: a=$sa2 b=$sb2 of $n")
    assert(sb2 < sb1, "z-order must beat the single sort's off dimension")
    // and contents still identical to the source
    val out = SnapshotStore.read(spark, path)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(out == src.as[(Long, Long, Long)].collect().sorted.toSeq,
      "ZORDER rewrite must not change contents")
  }

  test("maybeCompact cadence: file count stays bounded, contents exact") {
    val path = tmpDir("opt-cadence") + "/t"
    // q189's maintenance loop: per batch, a whole-table keyed upsert
    // published through the snapshot pointer, then the cadence check
    val rows = (0L until 60L).map(i => (i, i * 10))
    rows.grouped(10).foreach { g =>
      val existing =
        if (SnapshotStore.exists(spark, path)) Some(SnapshotStore.read(spark, path))
        else None
      SnapshotStore.publish(graft.gold.UpsertByKey.mergeBatch(existing,
        g.toDF("id", "v").repartition(8), Seq("id"), Seq("v", "id"), None), path)
      Optimize.maybeCompact(spark, path, 3, 64L << 20)
    }
    // merge correctness unaffected by the interleaved compactions
    val out = SnapshotStore.read(spark, path)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(out == rows.sorted, "cadence changed table contents")
    // the last maintenance pass folded the accreted per-trigger files:
    // without it each of 6 merges leaves 8 repartitioned files; the
    // 64 MB target folds them to 1
    val f = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gen = SnapshotStore.currentGen(spark, path).get
    val files = f.listStatus(new org.apache.hadoop.fs.Path(
      SnapshotStore.genPath(path, gen)))
      .map(_.getPath.getName)
      .count(n => !n.startsWith("_") && !n.startsWith("."))
    assert(files <= 8, s"compaction cadence left $files files")
    // cadence fired: more generations committed than merge batches alone
    assert(gen > 6, s"expected compaction generations beyond the 6 merges, got $gen")
  }

  test("parallel listing equals the serial walk on a partitioned layout") {
    val dir = tmpDir("opt-list") + "/t"
    spark.range(4000L)
      .select((col("id") % 7).as("p"), col("id").as("v"))
      .repartition(4)
      .write.partitionBy("p").parquet(dir)
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // reference: the plain single-threaded recursive walk
    val it = f.listFiles(new org.apache.hadoop.fs.Path(dir), true)
    val root = f.makeQualified(new org.apache.hadoop.fs.Path(dir)).toString
    val serial = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
    while (it.hasNext) {
      val st = it.next()
      val n = st.getPath.getName
      if (st.isFile && !n.startsWith("_") && !n.startsWith("."))
        serial += ((n, f.makeQualified(st.getPath.getParent).toString
          .stripPrefix(root).stripPrefix("/"), st.getLen))
    }
    val par = Optimize.dataFiles(f, new org.apache.hadoop.fs.Path(dir))
    assert(par == serial.toSeq.sorted, s"par=${par.take(3)}…")
    assert(par.nonEmpty && par.forall(_._2.startsWith("p=")))
    // degenerate pool sizes agree too
    assert(Optimize.dataFiles(f, new org.apache.hadoop.fs.Path(dir),
      parallelism = 1) == par)
  }
}
