package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.gold.BaseDelta

/** One deletion request, EVERY derived artifact — the sweep a
  * right-to-erasure pipeline actually runs: the subject's rows were
  * erased from the tables (`Erasure.*`), but the search index still
  * scores their tokens, the vector index still returns their
  * embeddings, and the near-dup cluster index still carries their
  * shingle postings. `eraseDerived` sweeps one subject-id frame across
  * all given indexes and returns ONE combined receipt — the audit
  * artifact proving each artifact was evaluated (reference domain:
  * GDPR deletion over banking CDC marts, readme.md:33-41).
  *
  * There is NO shared commit point across the roots (each index is its
  * own storage root with its own atomic protocol), so the sweep is
  * sequential-and-idempotent rather than atomic: every per-tier erase
  * is exact in effect and erasing absent ids is a no-op, so a crash
  * mid-sweep is repaired by re-invoking with the SAME subjects —
  * completed tiers converge (their receipt rows then report
  * `n_subject_rows = 0`), remaining tiers complete.
  *
  * `deferred = true` is the production ack path: search and vector
  * indexes flip tombstone ledgers (milliseconds, serving immediately
  * excludes the subjects, physical rewrite rides the next compaction —
  * `BaseDelta.pendingTombstones` empty is the per-table receipt-upgrade
  * signal). Cluster indexes split the difference: removing a doc can
  * SPLIT a cluster it bridged, so the structural re-pair and the small
  * clusters-table rewrite run eagerly in BOTH modes (serving is exact
  * on return), while deferred mode tombstones the expensive shingle
  * postings instead of rewriting them (mode `deferred_structural`;
  * eager mode stays `eager_structural`).
  *
  * Receipt: one row per artifact —
  * (artifact, root, mode, status, n_subject_rows), where
  * `n_subject_rows` counts the subject's rows found in that artifact's
  * primary state table BEFORE the erase (docstats / vector postings /
  * cluster assignments). The count rides one broadcast semi-join per
  * artifact — O(state scan), negligible next to the rewrite it audits.
  * The per-artifact loop is driver-side over the HANDFUL of artifact
  * roots (bounded by the argument lists, not by data).
  */
object ErasureSweep {

  def eraseDerived(spark: SparkSession, subjects: DataFrame,
                   search: Seq[SearchIndex.State] = Nil,
                   vector: Seq[VectorIndex.State] = Nil,
                   cluster: Seq[ClusterIndex.State] = Nil,
                   managedVector: Seq[VectorIndex.Managed] = Nil,
                   deferred: Boolean = false,
                   lsh: Seq[LshVectorIndex.State] = Nil): DataFrame = {
    // materialize the request-sized subject set ONCE — every tier's
    // audit count and erase would otherwise re-derive the caller's
    // subject plan (typically a filter over a source table) per use.
    // Unhinted: each eraser hints its own build sides, and a hint on a
    // frame an eraser unions or keeps as a join's preserved side is one
    // Spark drops
    val subj = subjects.select(col(subjects.columns.head).as("__subject"))
      .distinct().coalesce(1).localCheckpoint(true)

    def found(df: DataFrame, keyCol: String): Long =
      df.join(broadcast(subj), col(keyCol) === col("__subject"), "left_semi")
        .count()

    type Row5 = (String, String, String, String, Long)

    // each tier's audit count + erase ride that tier's retired-state
    // guard: a concurrent fold's compaction retiring the count's
    // resolved files mid-scan is the typed retryable conflict (retry
    // the whole sweep — it is idempotent), never a raw read failure.
    //
    // Artifacts are independent roots with independent protocols, so ALL
    // tiers — cluster included since round 14 — run CONCURRENTLY (guide
    // §2.6): wall-clock drops to the slowest artifact instead of the
    // sum. The cluster tier was serial in r13 because its structural
    // re-pair pinned session-level shuffle confs; the CC loop's width
    // control is plan-local now (Dedup.resolveClusters), so the only
    // session conf it still scopes is MemoryBudget's sub-floor profile —
    // whose contract explicitly blesses concurrent visibility
    // (conservative-correct: a memory-starved re-pair in flight is
    // exactly when an optimistic auto-broadcast elsewhere is fatal).
    val searchTasks: Seq[() => Row5] = search.map(st => () =>
      SearchIndex.conflictIfRetired(spark, st) {
        val n = found(BaseDelta.read(spark, st.docstatsTable,
          allowSchemaEvolution = true), "doc_id")
        if (deferred) {
          SearchIndex.eraseLogical(spark, st, subj)
          ("search_index", st.root, "deferred", "pending", n)
        } else {
          SearchIndex.erase(spark, st, subj)
          ("search_index", st.root, "eager", "erased", n)
        }
      })
    val vectorTasks: Seq[() => Row5] = vector.map(st => () =>
      VectorIndex.conflictIfRetired(spark, st) {
        val n = found(BaseDelta.read(spark, st.postingsTable,
          allowSchemaEvolution = true), "id")
        if (deferred) {
          VectorIndex.eraseLogical(spark, st, subj)
          ("vector_index", st.root, "deferred", "pending", n)
        } else {
          VectorIndex.erase(spark, st, subj)
          ("vector_index", st.root, "eager", "erased", n)
        }
      })
    // hyperplane-LSH indexes: subject bytes live only in `vectors`
    // (band rows are id-only), so the count probes that table; the
    // data-independent family means erasure never touches routing state
    // (no retired-generation sweep exists to run — see
    // [[LshVectorIndex.erase]])
    val lshTasks: Seq[() => Row5] = lsh.map(st => () =>
      LshVectorIndex.conflictIfRetired(spark, st) {
        val n = found(BaseDelta.read(spark, st.vectorsTable,
          allowSchemaEvolution = true), "id")
        if (deferred) {
          LshVectorIndex.eraseLogical(spark, st, subj)
          ("lsh_vector_index", st.root, "deferred", "pending", n)
        } else {
          LshVectorIndex.erase(spark, st, subj)
          ("lsh_vector_index", st.root, "eager", "erased", n)
        }
      })
    // managed (refresh-capable) vector indexes: the active generation
    // erases like a plain vector index, and RETIRED quantizer
    // generations' bytes are destroyed in both modes (see
    // [[VectorIndex.eraseManaged]]) — a deferred ack that left the
    // subject readable in a retired sub-index would not be erasure
    val managedTasks: Seq[() => Row5] = managedVector.map(m => () =>
      VectorIndex.conflictIfRetiredManaged(spark, m) {
        val act = VectorIndex.active(spark, m)
        val n = found(BaseDelta.read(spark, act.postingsTable,
          allowSchemaEvolution = true), "id")
        VectorIndex.eraseManaged(spark, m, subj, deferred)
        val (mode, status) =
          if (deferred) ("deferred", "pending") else ("eager", "erased")
        ("vector_index_managed", m.root, mode, status, n)
      })
    val clusterTasks: Seq[() => Row5] = cluster.map(st => () =>
      ClusterIndex.conflictIfRetired(spark, st) {
        val n = found(ClusterIndex.clusters(spark, st), "id")
        if (deferred) {
          // structural re-labeling is eager (serving exact on return);
          // the expensive postings rewrite rides the tombstone ledger —
          // hence still "pending" until materialized
          ClusterIndex.eraseLogical(spark, st, subj)
          ("cluster_index", st.root, "deferred_structural", "pending", n)
        } else {
          ClusterIndex.erase(spark, st, subj)
          ("cluster_index", st.root, "eager_structural", "erased", n)
        }
      })

    val parRows = graft.Par.run(
      searchTasks ++ vectorTasks ++ lshTasks ++ managedTasks ++ clusterTasks)
    val (searchRows, rest1) = parRows.splitAt(search.size)
    val (vectorRows, rest2) = rest1.splitAt(vector.size)
    val (lshRows, rest3) = rest2.splitAt(lsh.size)
    val (managedRows, clusterRows) = rest3.splitAt(managedVector.size)

    // original (pre-parallelism) receipt row order preserved
    val rows: Seq[(String, String, String, String, Long)] =
      searchRows ++ vectorRows ++ clusterRows ++ lshRows ++ managedRows

    spark.createDataFrame(rows)
      .toDF("artifact", "root", "mode", "status", "n_subject_rows")
  }

  /** Handle for the DURABLE erasure-receipts ledger — an append-only
    * [[BaseDelta]] table holding one row per (sweep attempt, artifact):
    * the GDPR audit trail the reference's retention story implies
    * (readme.md:33-41), surviving the session that ran the sweep. Keys
    * make every attempt's rows distinct, so a crash-repair re-invocation
    * under a NEW sweep id appends a second pass instead of overwriting
    * the first — the trail keeps both the crashed attempt's evidence and
    * the repair's zero-row convergence rows. A checkpoint REPLAY of the
    * same attempt reuses its sweep id and rides BaseDelta's batch-id
    * idempotence (the delta overwrites itself, exactly-once).
    */
  def receiptsTable(root: String): BaseDelta.Table =
    BaseDelta.Table(root, Seq("sweep_id", "artifact", "root"),
      Seq("sweep_id"), None)

  /** [[eraseDerived]] + durable receipts: runs the sweep, appends its
    * receipt rows (stamped with `sweepId`) to the ledger at
    * `ledgerRoot`, and returns them. The append is one artifact-count-
    * sized batch — negligible next to the erases it documents.
    */
  def eraseDerivedLedgered(spark: SparkSession, ledgerRoot: String,
                           sweepId: Long, subjects: DataFrame,
                           search: Seq[SearchIndex.State] = Nil,
                           vector: Seq[VectorIndex.State] = Nil,
                           cluster: Seq[ClusterIndex.State] = Nil,
                           managedVector: Seq[VectorIndex.Managed] = Nil,
                           deferred: Boolean = false,
                           lsh: Seq[LshVectorIndex.State] = Nil): DataFrame = {
    val receipt = eraseDerived(spark, subjects, search, vector, cluster,
      managedVector, deferred, lsh).withColumn("sweep_id", lit(sweepId))
    BaseDelta.append(spark, receiptsTable(ledgerRoot), receipt, sweepId)
    receipt
  }

  /** The audit readout: persisted receipts joined to the CURRENT
    * per-artifact tombstone state, so a `status = 'pending'` row
    * VISIBLY upgrades to `current_status = 'materialized'` once its
    * artifact's tables hold no pending ledger (the receipt-upgrade
    * signal, now queryable after the fact). Rows recorded `erased` stay
    * `erased`; receipts for artifacts not among the given states read
    * `unknown` (the auditor must name every artifact it vouches for).
    * The per-artifact pending probes are driver-side over the handful
    * of roots — storage-metadata listings, no data pass.
    */
  def receiptStatus(spark: SparkSession, ledgerRoot: String,
                    search: Seq[SearchIndex.State] = Nil,
                    vector: Seq[VectorIndex.State] = Nil,
                    cluster: Seq[ClusterIndex.State] = Nil,
                    managedVector: Seq[VectorIndex.Managed] = Nil,
                    lsh: Seq[LshVectorIndex.State] = Nil): DataFrame = {
    def pendingAny(ts: Seq[BaseDelta.Table]): Boolean =
      ts.exists(t => BaseDelta.pendingTombstones(spark, t).nonEmpty)
    val states: Seq[(String, String, Boolean)] =
      search.map(st => ("search_index", st.root, pendingAny(Seq(
        st.postingsTable, st.docstatsTable, st.positionsTable)))) ++
      vector.map(st => ("vector_index", st.root,
        pendingAny(Seq(st.postingsTable)))) ++
      cluster.map(st => ("cluster_index", st.root, pendingAny(Seq(
        st.postingsTable, st.clustersTable)))) ++
      managedVector.map { m =>
        val act = VectorIndex.active(spark, m)
        ("vector_index_managed", m.root, pendingAny(Seq(act.postingsTable)))
      } ++
      lsh.map(st => ("lsh_vector_index", st.root, pendingAny(Seq(
        st.vectorsTable, st.bandsTable))))
    val cur = spark.createDataFrame(states)
      .toDF("artifact", "root", "__pending")
    BaseDelta.read(spark, receiptsTable(ledgerRoot))
      .join(broadcast(cur), Seq("artifact", "root"), "left")
      .withColumn("current_status",
        when(col("status") === "erased", lit("erased"))
          .when(col("__pending") === true, lit("pending"))
          .when(col("__pending") === false, lit("materialized"))
          .otherwise(lit("unknown")))
      .drop("__pending")
  }

  /** The single-pane GOVERNANCE-HEALTH mart: every piece of in-flight
    * erasure state an operator must watch, unified into one queryable
    * frame — `(component, artifact, item, status, n_pending, action)`:
    *
    *  - `receipt` rows: [[receiptStatus]]'s sweep×artifact audit trail,
    *    `pending` until the artifact's ledgers materialize;
    *  - `tombstone_ledger` rows: one per artifact STATE TABLE, with the
    *    table's total pending tombstone count — `scheduled` rides the
    *    next compaction, `materialize` means the count crossed
    *    `tombstoneBudget` (the q255 auto-trip threshold);
    *  - `repair_marker` rows: clusters a budget-tripped
    *    [[ClusterIndex.eraseLogical]] left marked for async
    *    [[ClusterIndex.repairStructural]] — `pending` here means serving
    *    is already exact but the index still owes itself a re-pair.
    *
    * The per-table probes are driver-side over the HANDFUL of artifact
    * roots and their request-sized ledgers (bounded by erasure subjects,
    * never by data) — same bounded-cardinality contract as
    * [[receiptStatus]].
    */
  def governanceHealth(spark: SparkSession, ledgerRoot: String,
                       search: Seq[SearchIndex.State] = Nil,
                       vector: Seq[VectorIndex.State] = Nil,
                       cluster: Seq[ClusterIndex.State] = Nil,
                       managedVector: Seq[VectorIndex.Managed] = Nil,
                       tombstoneBudget: Long =
                         BaseDelta.DefaultTombstoneBudget,
                       lsh: Seq[LshVectorIndex.State] = Nil): DataFrame = {
    // a pane BEFORE the first ledgered sweep (e.g. batch 0 of a fresh
    // streaming sink) has no receipts table yet — that is an empty
    // receipts section, not a crash
    val hasReceipts = {
      val (b, d) = BaseDelta.resolveSnapshot(spark, receiptsTable(ledgerRoot))
      b.isDefined || d.nonEmpty
    }
    val receiptSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("component",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("artifact",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("root",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("item",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("status",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_pending",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("action",
        org.apache.spark.sql.types.StringType)))
    val receipts = if (!hasReceipts)
      spark.createDataFrame(spark.sparkContext
        .emptyRDD[org.apache.spark.sql.Row], receiptSchema)
    else receiptStatus(spark, ledgerRoot, search, vector, cluster,
        managedVector, lsh)
      .select(lit("receipt").as("component"), col("artifact"), col("root"),
        concat(lit("sweep_"), col("sweep_id").cast("string")).as("item"),
        col("current_status").as("status"),
        when(col("current_status") === "pending",
          coalesce(col("n_subject_rows"), lit(0L)))
          .otherwise(lit(0L)).as("n_pending"),
        when(col("current_status") === "pending", lit("materialize"))
          // a receipt whose artifact state wasn't passed to the call is
          // UNKNOWN, not healthy — an ops pane mapping unknown → ok
          // invites missed pending erasures
          .when(col("current_status") === "unknown", lit("inspect"))
          .otherwise(lit("ok")).as("action"))

    def ledgerRow(artifact: String, root: String, tname: String,
                  t: BaseDelta.Table)
        : (String, String, String, String, String, Long, String) = {
      // footer counts: exact and job-free — the pane probes every
      // artifact table's ledgers per refresh (BaseDelta scaladoc)
      val n = BaseDelta.pendingTombstoneCounts(spark, t).values.sum
      ("tombstone_ledger", artifact, root, tname,
        if (n > 0) "pending" else "clear", n,
        if (n > tombstoneBudget) "materialize"
        else if (n > 0) "scheduled" else "ok")
    }

    val ledgers =
      search.flatMap(st => Seq(
        ledgerRow("search_index", st.root, "postings", st.postingsTable),
        ledgerRow("search_index", st.root, "docstats", st.docstatsTable),
        ledgerRow("search_index", st.root, "positions", st.positionsTable))) ++
      vector.map(st =>
        ledgerRow("vector_index", st.root, "postings", st.postingsTable)) ++
      managedVector.map { m =>
        val act = VectorIndex.active(spark, m)
        ledgerRow("vector_index_managed", m.root, "postings",
          act.postingsTable)
      } ++
      cluster.flatMap(st => Seq(
        ledgerRow("cluster_index", st.root, "postings", st.postingsTable),
        ledgerRow("cluster_index", st.root, "clusters", st.clustersTable))) ++
      lsh.flatMap(st => Seq(
        ledgerRow("lsh_vector_index", st.root, "vectors", st.vectorsTable),
        ledgerRow("lsh_vector_index", st.root, "bands", st.bandsTable)))

    val markers = cluster.map { st =>
      val n = ClusterIndex.pendingRepairs(spark, st)
        .map(_.count()).getOrElse(0L)
      ("repair_marker", "cluster_index", st.root, "marked_clusters",
        if (n > 0) "pending" else "clear", n,
        if (n > 0) "repair" else "ok")
    }

    receipts.unionByName(spark.createDataFrame(ledgers ++ markers)
      .toDF("component", "artifact", "root", "item", "status", "n_pending",
        "action"))
  }

  /** Durable per-batch history of [[governanceHealth]] snapshots — the
    * STREAMING form of the single pane (round-13 verdict #6): a
    * [[BaseDelta]] mart the index sinks refresh after every fold, so ops
    * watch receipts/backlogs/markers CONVERGE during a run instead of
    * querying after it. Keyed by (as_of_batch, component, artifact,
    * root, item): unique within a snapshot by construction (root
    * disambiguates same-type artifacts), so history rows never collapse
    * across batches. Appends ride BaseDelta's batch-id idempotence — a
    * replayed foreachBatch attempt overwrites its own snapshot,
    * exactly-once.
    */
  def governancePaneTable(root: String): BaseDelta.Table =
    BaseDelta.Table(root,
      Seq("as_of_batch", "component", "artifact", "root", "item"),
      Seq("as_of_batch"), None)

  /** Compute the current [[governanceHealth]] and append it to the pane
    * mart stamped `as_of_batch = asOfBatch`. Snapshot size is bounded by
    * artifact count (+ sweep receipts), so the append is metadata-tier.
    */
  def refreshGovernancePane(spark: SparkSession, paneRoot: String,
                            asOfBatch: Long, ledgerRoot: String,
                            search: Seq[SearchIndex.State] = Nil,
                            vector: Seq[VectorIndex.State] = Nil,
                            cluster: Seq[ClusterIndex.State] = Nil,
                            managedVector: Seq[VectorIndex.Managed] = Nil,
                            tombstoneBudget: Long =
                              BaseDelta.DefaultTombstoneBudget,
                            lsh: Seq[LshVectorIndex.State] = Nil): Unit = {
    val snap = governanceHealth(spark, ledgerRoot, search, vector, cluster,
        managedVector, tombstoneBudget, lsh)
      .withColumn("as_of_batch", lit(asOfBatch))
    BaseDelta.append(spark, governancePaneTable(paneRoot), snap, asOfBatch)
    ()
  }

  /** The pane's LATEST snapshot (same shape as [[governanceHealth]] plus
    * `as_of_batch`); full history stays queryable via
    * `BaseDelta.read(governancePaneTable(root))`.
    */
  def governancePaneLatest(spark: SparkSession, paneRoot: String): DataFrame = {
    val hist = BaseDelta.read(spark, governancePaneTable(paneRoot))
    // bounded driver value: one max over an artifact-count × batches mart
    val mx = hist.agg(max(col("as_of_batch"))).head.getLong(0)
    hist.filter(col("as_of_batch") === mx)
  }
}
