package graft.gold

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Right-to-erasure (GDPR Art. 17 / CCPA deletion) over the engine's
  * storage layouts — the operation a banking CDC pipeline (the
  * reference's domain: customers/accounts/transactions,
  * readme.md:33-41) is legally required to run, and the one a plain
  * append-only lake cannot express: physically remove every row of a
  * set of data subjects, touching as little of the table as possible,
  * and leave no generation/partition behind from which the rows could
  * be re-read.
  *
  * Two layouts, two cost shapes:
  *
  *  - [[erasePartitioned]] — Hive-partitioned tables: one pruned
  *    semi-join pass finds the partitions that actually hold subject
  *    rows (a bounded driver-side value list: one entry per touched
  *    partition, not per row), only those partitions are rewritten
  *    via dynamic partition overwrite, and a partition whose every row
  *    belonged to subjects is deleted outright (dynamic overwrite only
  *    replaces partitions PRESENT in the output, so an all-erased
  *    partition would otherwise silently survive). I/O is O(touched
  *    partitions), not O(table) — on a date-partitioned 100 TB fact
  *    table an erasure request touches the handful of dates the subject
  *    was active.
  *  - [[eraseSnapshot]] — [[SnapshotStore]] pointer-published tables:
  *    publish a filtered generation (one pointer PUT — readers flip
  *    atomically, never seeing a half-erased table), then vacuum so the
  *    PREVIOUS generation's files — which still contain the subject
  *    rows — are physically gone, not merely unreferenced. Without the
  *    vacuum step the erasure is cosmetic: any reader of the old
  *    generation path could still produce the data.
  *
  * Both return a per-subject receipt (`n_rows_erased`) — the audit
  * artifact a deletion request requires; subjects with zero rows appear
  * with 0, proving the request was evaluated, not skipped. The receipt
  * aggregation rides the same scan as the rewrite's semi-join, so the
  * audit costs no extra pass over untouched data.
  *
  * The subject frame joins by equality on `keyCol` — a null subject key
  * never matches (SQL equality), and null-keyed table rows are always
  * retained; erasure of "unknown subject" is not a meaningful request.
  */
object Erasure {

  /** Erase `subjects` (one column, subject keys) from the
    * Hive-partitioned table at `path`. Rewrites only partitions holding
    * subject rows; deletes partitions left empty. Returns the receipt:
    * (subject key, n_rows_erased) for every subject, including zeros.
    */
  def erasePartitioned(spark: SparkSession, path: String, partCol: String,
                       keyCol: String, subjects: DataFrame): DataFrame = {
    val subj = broadcast(subjects.select(col(subjects.columns.head)
      .as("__subject")).distinct())
    val table = spark.read.parquet(path)

    // one pruned pass: which partitions hold subject rows, and how many
    // rows per subject (the receipt numbers) — collected driver-side,
    // bounded by touched partitions × subjects, both request-sized.
    // Partition values as STRINGS (what the writer formats into dir
    // names), null kept distinct
    val hitRows = table.join(subj, col(keyCol) === col("__subject"))
      .groupBy(col(partCol).cast("string").as("__part"), col("__subject"))
      .agg(count(lit(1)).as("__n"))
      .collect()
    val touchedParts = hitRows.map(r => Option(r.getString(0))).distinct.toSeq

    if (touchedParts.nonEmpty) {
      // rewrite ONLY touched partitions, keeping non-subject rows.
      // isin(null) never matches — a null partition value needs isNull
      val nonNull = touchedParts.flatten
      val prune =
        if (nonNull.size < touchedParts.size)
          col(partCol).cast("string").isin(nonNull: _*) || col(partCol).isNull
        else col(partCol).cast("string").isin(nonNull: _*)
      val survivors = table.filter(prune)
        .join(subj, col(keyCol) === col("__subject"), "left_anti")
      // survivor partitions collected BEFORE the overwrite — afterwards
      // the lineage would re-list the path it just rewrote
      val survivorParts = survivors.select(col(partCol).cast("string"))
        .distinct().collect().map(r => Option(r.getString(0))).toSet
      // dynamic overwrite: exactly the partitions present in `survivors`
      // are replaced, every other partition keeps its files
      survivors.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partCol)
        .parquet(path)
      // an all-erased partition is absent from `survivors` — dynamic
      // overwrite never touched it, so its files must go explicitly; dir
      // names via the writer's own escaping (null → default partition)
      val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
      touchedParts.filterNot(survivorParts.contains).foreach { v =>
        val dirName = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .getPartitionPathString(partCol, v.orNull)
        fs.delete(new Path(path, dirName), true)
      }
    }

    val bySubject = hitRows.groupBy(_.get(1)).map { case (s, rs) =>
      (s, rs.map(_.getLong(2)).sum)
    }
    val receipt = spark.createDataFrame(
      spark.sparkContext.parallelize(bySubject.toSeq.map {
        case (s, n) => org.apache.spark.sql.Row(s, n)
      }, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__subject",
          subj.schema("__subject").dataType, nullable = true),
        org.apache.spark.sql.types.StructField("n_rows_erased",
          org.apache.spark.sql.types.LongType, nullable = false))))
    subj.join(receipt, Seq("__subject"), "left")
      .select(col("__subject").as(keyCol),
        coalesce(col("n_rows_erased"), lit(0L)).as("n_rows_erased"))
  }

  /** Erase `subjects` from a [[SnapshotStore]] table: publish the
    * filtered generation (atomic pointer flip), then vacuum every
    * retired generation so the subject rows' bytes are gone. Returns the
    * same receipt shape as [[erasePartitioned]].
    */
  def eraseSnapshot(spark: SparkSession, path: String, keyCol: String,
                    subjects: DataFrame): DataFrame = {
    val subj = broadcast(subjects.select(col(subjects.columns.head)
      .as("__subject")).distinct())
    val table = SnapshotStore.read(spark, path)
    val receipt = subj.join(
      table.join(subj, col(keyCol) === col("__subject"))
        .groupBy(col("__subject")).agg(count(lit(1)).as("__n")),
      Seq("__subject"), "left")
      .select(col("__subject").as(keyCol),
        coalesce(col("__n"), lit(0L)).as("n_rows_erased"))
      // receipts materialize BEFORE the rewrite: they read the
      // pre-erasure generation, which the publish below retires
      .localCheckpoint(true)
    SnapshotStore.publish(
      table.join(subj, col(keyCol) === col("__subject"), "left_anti"), path)
    // retention keeps the previous generation for in-flight readers;
    // erasure overrides retention — the old bytes must go now
    SnapshotStore.vacuum(spark, path)
    receipt.toDF()
  }

  /** Retention-policy enforcement on a Hive-partitioned table: DROP whole
    * partition directories whose (string-compared) partition value is
    * strictly below `cutoff` — zero rewrite, zero scan of surviving data;
    * the partition layout IS the retention index. String comparison is
    * exact for ISO dates (`day=2024-01-03`), the layout the reference's
    * bronze uses. Returns one row per dropped partition (value, the
    * receipt) — banking retention schedules want the ledger, not a
    * boolean.
    */
  def enforceRetention(spark: SparkSession, path: String, partCol: String,
                       cutoff: String): DataFrame = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = new Path(path)
    val dropped = scala.collection.mutable.ArrayBuffer[String]()
    if (fs.exists(root)) fs.listStatus(root).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.startsWith(s"$partCol=")) {
        val v = ExternalCatalogUtils.unescapePathName(
          n.stripPrefix(s"$partCol="))
        if (v < cutoff && fs.delete(st.getPath, true)) dropped += v
      }
    }
    import spark.implicits._
    dropped.toSeq.sorted.toDF("dropped_partition")
  }

  /** Coordinated erasure across a [[MultiSnapshot]] root: erase
    * `subjects` from every member table in ONE atomic commit, so a
    * reader never resolves a state where the subject is gone from the
    * dim but still present in the fact (or vice versa) — the FK-clean
    * form of right-to-erasure over the q242/q243 coordinator.
    *
    * Order of operations (each step safe to observe):
    *  1. [[graft.gold.BaseDelta]] members (`deltaMembers`: O(batch)
    *     facts committed by pointer) rewrite FIRST via a filtered
    *     compaction — removing fact rows before dim rows can never
    *     create an orphan, and the committed pointer stays valid (the
    *     fold floor rises to the pointer, not past it).
    *  2. All staged (gen-dir) tables that carry the subject column
    *     publish their filtered generations in ONE coordinator flip.
    *  3. [[MultiSnapshot.vacuum]] deletes the pre-erasure generations'
    *     bytes immediately — erasure overrides the one-cycle retention.
    *
    * `keyCols` names each member's subject column (staged or delta);
    * members absent from it carry forward untouched — including the
    * stream's `@sys.batch` exactly-once marker
    * ([[graft.streaming.MultiTableStream.BatchLedger]]): the erasure
    * commit advances the coordinator VERSION but not the batch ledger,
    * so a stream managing this root folds its next micro-batch normally
    * (versions are not batch ids; the ledger is the marker). Returns the
    * receipt: one row per (table, subject) with rows erased, zeros
    * included, and a `status` column — the auditor's ledger, not a
    * boolean.
    *
    * `deferred = true` is the IMMEDIATE-ACK form for the expensive
    * members: [[BaseDelta]] delta facts take a tombstone-ledger
    * [[BaseDelta.logicalErase]] (one tiny publish; every
    * coordinator-resolved `readAt` anti-joins it from that moment, so
    * the subject is unreachable through the commit the reader resolves)
    * instead of a full compaction+vacuum, and their physical rewrite
    * rides the stream's next compaction or an explicit
    * `materializeErasures`. Staged (gen-dir) members still rewrite
    * eagerly — they are dimension-sized whole-frame publishes, the
    * cheap part — so the atomic flip and the FK-clean ordering are
    * unchanged. Receipt `status`: 'erased' for rewritten members,
    * 'pending' for ledgered ones (upgrade signal =
    * `BaseDelta.pendingTombstones` empty).
    */
  def eraseCoordinated(spark: SparkSession, root: String,
                       keyCols: Map[String, String], subjects: DataFrame,
                       deltaMembers: Map[String, BaseDelta.Table] = Map.empty,
                       deferred: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions._
    val subj = broadcast(subjects.select(col(subjects.columns.head)
      .as("__subject")).distinct())
    val c = MultiSnapshot.currentCommit(spark, root).getOrElse(
      sys.error(s"Erasure.eraseCoordinated: nothing committed at $root"))

    def receiptOf(table: String, df: org.apache.spark.sql.DataFrame,
                  keyCol: String, status: String) =
      subj.join(
          df.join(subj, col(keyCol) === col("__subject"))
            .groupBy(col("__subject")).agg(count(lit(1)).as("__n")),
          Seq("__subject"), "left")
        .select(lit(table).as("table_name"),
          col("__subject").cast("string").as("subject"),
          coalesce(col("__n"), lit(0L)).as("n_rows_erased"),
          lit(status).as("status"))

    // 1. delta members first: fact rows go before dim rows ever can
    val deltaReceipts = deltaMembers.toSeq.sortBy(_._1).flatMap {
      case (name, t) =>
        // per-member BaseDelta-tier retired-state guard: a concurrent
        // fold/erasure retiring resolved files mid-receipt is the typed
        // conflict the caller retries, not a raw read failure
        keyCols.get(name).map { keyCol =>
          BaseDelta.conflictIfRetired(spark, t) {
            val anti = (df: org.apache.spark.sql.DataFrame) =>
              df.join(subj, col(keyCol) === col("__subject"), "left_anti")
            if (deferred) {
              val rec = receiptOf(name, BaseDelta.read(spark, t), keyCol,
                "pending").localCheckpoint(true)
              BaseDelta.logicalErase(spark, t, keyCol, subj,
                countRows = false)
              rec
            } else {
              val rec = receiptOf(name, BaseDelta.read(spark, t), keyCol,
                "erased").localCheckpoint(true)
              // A coordinator-managed member (its name resolves to a
              // committed pointer) bounds the fold AT that pointer:
              // an unbounded fold would pull a staged-but-uncommitted
              // batch into the base and raise the time-travel floor
              // past the committed as-of point — breaking every reader
              // of the CURRENT commit until the in-flight fold retries.
              // The kept tail (staged deltas above the pointer) is
              // rewritten IN PLACE instead, so no retained file holds
              // the subject and the floor stays at the pointer. Rows of
              // the subject arriving in batches ingested AFTER this
              // erasure's commit are new data, not resurrections — the
              // point-in-time erasure contract.
              MultiSnapshot.pointer(c, name) match {
                case Some(ptr) =>
                  BaseDelta.compact(spark, t, transform = Some(anti),
                    upTo = Some(ptr))
                  BaseDelta.rewriteKeptDeltas(spark, t, Some(ptr), anti)
                  // WRITER-SAFE reclaim: a coordinator member has an
                  // in-contract concurrent writer (the stream), so the
                  // full vacuum's unlisted-dir sweep would delete a
                  // fresh append mid-write — reclaim only what this
                  // erasure retired (old base, folded deltas <= ptr)
                  BaseDelta.vacuum(spark, t, writerSafeUpTo = Some(ptr))
                case None =>
                  // standalone member: the caller owns the writer-quiet
                  // window (the documented full-vacuum contract)
                  BaseDelta.compact(spark, t, transform = Some(anti))
                  BaseDelta.vacuum(spark, t)
              }
              rec
            }
          }
        }
    }
    // 2. staged tables: one atomic flip for every filtered generation.
    // Every read is PINNED to commit `c` (the transaction's observation
    // point) and the publish declares `c` as its base — a stream batch
    // that commits in between forces a typed conflict instead of this
    // erasure silently re-publishing pre-batch state over it
    // receipts + filtered staging + commit are one transaction pinned
    // to `c`: a concurrent erasure/fold that retires c's generations
    // mid-execution becomes the typed retryable conflict
    val stagedReceipts = MultiSnapshot.conflictIfRetired(spark, root, Some(c)) {
      val stagedNames = c.gens.keySet
        .filterNot(_.startsWith(MultiSnapshot.PointerPrefix))
        .filter(keyCols.contains).toSeq.sorted
      val receipts = stagedNames.map { name =>
        receiptOf(name, MultiSnapshot.readPinned(spark, root, c, name),
          keyCols(name), "erased").localCheckpoint(true)
      }
      if (stagedNames.nonEmpty)
        MultiSnapshot.publishFrom(spark, root, Some(c), stagedNames.map { name =>
          name -> MultiSnapshot.readPinned(spark, root, c, name)
            .join(subj, col(keyCols(name)) === col("__subject"), "left_anti")
        }.toMap)
      receipts
    }
    // 3. the old bytes go NOW — writer-safe form: everything below the
    // just-committed generations (the pre-erasure state) is destroyed;
    // a concurrent committer's reserved staging above them is left for
    // the next quiet-moment full vacuum (its commit will lose the CAS,
    // so the subject never re-enters reachable state)
    MultiSnapshot.vacuum(spark, root, belowCurrentOnly = true)
    (deltaReceipts ++ stagedReceipts)
      .reduceOption(_ unionByName _)
      .getOrElse(sys.error(
        "Erasure.eraseCoordinated: no member matched keyCols"))
  }
}
