package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.gold.{BaseDelta, CommitCas, CommitConflictException, MultiSnapshot, SnapshotStore}

/** Incremental near-dup cluster maintenance — the steady-state form of
  * `Dedup.ngramJaccard` + `Dedup.resolveClusters`: fold each incoming
  * document batch into PERSISTED cluster assignments without ever
  * re-pairing or re-clustering the ingested corpus. This is the operator
  * a continuously-ingesting training-data pipeline actually runs — the
  * full recompute is O(corpus²-candidates) per day; this is O(batch) plus
  * the touched clusters.
  *
  * State (both [[graft.gold.BaseDelta]] tables — O(batch) appends,
  * replayed batches overwrite their own batch-id-keyed delta):
  *
  *  - `postings` — the persisted inverted index: one (id, s, n_sh) row
  *    per (doc, 64-bit shingle hash). 8-byte hashes, never text — the
  *    same never-reread-the-corpus artifact as the q172 novelty index
  *    and `minHashSigs`.
  *  - `clusters` — (id, cluster_id, as_of) for EVERY ingested doc
  *    (singletons carry their own id); `as_of` = the batch that last
  *    changed the assignment, so merge-on-read serves the newest one.
  *
  * Fold(batch b):
  *  1. within-batch pairs: `ngramJaccard` over the batch alone;
  *  2. cross pairs: batch postings ⋈ state postings on the shingle hash
  *     (count co-occurrences → exact Jaccard ≥ τ) — each unordered pair
  *     of the full run is found exactly once, in the batch where its
  *     later member arrives;
  *  3. cross pairs map their indexed endpoint to its CURRENT cluster id
  *     (super-node compression: an existing cluster participates as one
  *     node, so old intra-cluster edges never re-enter any computation);
  *  4. `resolveClusters` over the batch-sized super-node graph; the
  *     component min over {new ids ∪ old cluster mins} IS the full
  *     recompute's min label, because old cluster ids are already the
  *     min of their members;
  *  5. deltas written: assignments for the batch's docs, plus a remap
  *     row for every member of an old cluster whose label improved (two
  *     old clusters BRIDGED by a new doc merge here — the case a naive
  *     "assign new docs to nearest cluster" incremental form gets
  *     wrong).
  *
  * Equivalence (spec-pinned, and q190's oracle recomputes from scratch):
  * after folding any batch partition of a corpus in any order consistent
  * with doc arrival, `clusters` ≡ `resolveClusters(ngramJaccard(corpus))`
  * with singletons added — edge sets union to the same pair set, and
  * super-node compression preserves connectivity. Replaying a delivered
  * batch id is a no-op by LEDGER, not recomputation: the clusters table's
  * delta list + compaction fold boundary record every applied batch, and
  * a seen id returns before reading state (the original delta carried
  * old-cluster remap rows a refold could not regenerate). An
  * at-least-once REDELIVERY under a new batch id (old docs resent) also
  * converges: the cross probe re-finds each resent doc's neighbors in the
  * postings state and maps them to their current — already final —
  * cluster labels, so its assignment rewrites to the same value.
  *
  * Scale shape: the only corpus-sized frames are the two state reads —
  * postings are SCANNED once but die map-side unless their shingle
  * occurs in the batch (the batch's distinct hash set broadcasts as a
  * semi-join prefilter, `minHashProbe`'s recipe), so the one hash-join
  * shuffle carries only bucket-sharing postings (hot shingles bounded by
  * `maxStateDf`, the cross-side document-frequency cut mirroring
  * `maxBucket`); clusters ride one broadcast-remap join.
  * Nothing iterates over the corpus: `resolveClusters` sees only
  * batch-sized super-node edges.
  */
object ClusterIndex {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** State root: the two BaseDelta tables live under it. */
  final case class State(root: String) {
    def postingsTable: BaseDelta.Table =
      BaseDelta.Table(s"$root/postings", Seq("id", "s"), Seq("n_sh"), None)
    def clustersTable: BaseDelta.Table =
      BaseDelta.Table(s"$root/clusters", Seq("id"), Seq("as_of"), None)
    /** Pending structural-repair marker set (cluster labels an
      * over-budget [[eraseLogical]] left stale-merged).
      */
    def repairPath: String = s"$root/_repair"
  }

  /** This fold's measured memory floor (MB per task slot): the 10M-doc
    * fold OOMs at 250 MB/core and passes at 750 (scale-r10) — steeper
    * than the generic [[Dedup.PairGeneratorFloorMb]] because the fold's
    * cross stage carries (id, n_sh) pairs through BOTH join sides.
    * Below it, [[Dedup.adaptivePairParts]] scales the fold's pair
    * shuffles so per-task state lands back at the floor.
    */
  private[graft] val FoldFloorMb = 750L

  /** Composite retired-state guard over both state tables — the reader
    * recipe for serving during concurrent maintenance (an [[erase]]'s
    * rewrite + writer-safe vacuum, a fold's in-line compaction): a read
    * failure against files the plan had resolved surfaces as the typed
    * retryable conflict iff either table's state advanced; otherwise it
    * propagates as the storage fault it is.
    */
  def conflictIfRetired[A](spark: SparkSession, st: State)(body: => A): A =
    MultiSnapshot.retiredGuard(s"ClusterIndex(${st.root})", () =>
      BaseDelta.stateFingerprint(spark, st.postingsTable)
        .map { case (k, v) => s"postings.$k" -> v } ++
        BaseDelta.stateFingerprint(spark, st.clustersTable)
          .map { case (k, v) => s"clusters.$k" -> v })(body)

  private def appliedTo(spark: SparkSession, t: BaseDelta.Table,
                        batchId: Long): Boolean =
    BaseDelta.deltaBatches(spark, t).contains(batchId) ||
      BaseDelta.timeTravelFloor(spark, t).exists(_ >= batchId)

  /** Highest applied batch id of a state table (fold floor ∪ live
    * deltas) — [[erase]]'s batch-consistency gate compares the two
    * tables' values to detect a mid-flight fold.
    */
  private def appliedMax(spark: SparkSession, t: BaseDelta.Table): Long =
    (BaseDelta.timeTravelFloor(spark, t).toSeq ++
      BaseDelta.deltaBatches(spark, t)).foldLeft(-1L)(_ max _)

  /** Bounded-read-amp compaction as DEFERRABLE maintenance: a CAS loss
    * here (a concurrent eraser won the window) just postpones the fold
    * to the next batch — the append already committed, so failing the
    * fold over it would only force a pointless replay.
    */
  private def maybeCompactDeferred(spark: SparkSession, t: BaseDelta.Table,
                                   maxDeltas: Int,
                                   allowSchemaEvolution: Boolean): Unit =
    if (BaseDelta.deltaBatches(spark, t).size > maxDeltas) {
      try BaseDelta.compact(spark, t, allowSchemaEvolution)
      catch {
        case e: CommitConflictException =>
          log.warn(s"ClusterIndex: deferred compaction of ${t.path} lost " +
            s"to a concurrent commit; the next batch retries (${e.getMessage})")
      }
    }

  private def tableNonEmpty(spark: SparkSession, t: BaseDelta.Table): Boolean = {
    val (base, deltas) = BaseDelta.resolveSnapshot(spark, t)
    base.isDefined || deltas.nonEmpty
  }

  /** Batch postings: (id, s, n_sh) — distinct 64-bit shingle hashes with
    * the doc's distinct-shingle count (the Jaccard denominator half).
    */
  def batchPostings(batch: DataFrame, idCol: String, textCol: String,
                    k: Int = 3): DataFrame =
    batch.select(col(idCol).as("id"), Dedup.shingles(col(textCol), k).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("n_sh", size(col("sh")))
      .select(col("id"), explode(transform(col("sh"), s => xxhash64(s))).as("s"),
        col("n_sh"))

  /** Fold one batch into the persisted state. Idempotent under replay of
    * the same `batchId`. `maxStateDf` drops shingles hotter than the cut
    * on the INDEX side (corpus-wide boilerplate — the q23/q99 df-prune
    * economics; 0 disables). Default = `Dedup.DefaultMaxBucket`, the SAME
    * stopword contract the within-batch pair generator applies via
    * `maxBucket`: without it, a boilerplate shingle present in every
    * batch joins the batch against its ENTIRE accumulated posting list —
    * measured (gov-soak, 4-token shared prefix) as per-batch fold cost
    * growing linearly with index size, 12 → 139 s over five 2k-doc
    * batches; with the cap the same soak holds flat. A shingle whose
    * corpus df crosses the cap stops contributing CROSS pairs exactly as
    * it stops contributing within-batch pairs — consistent stopword
    * semantics when the cap binds, identity when it doesn't (all
    * harness fixtures keep df under it).
    *
    * MIGRATION NOTE (behavior-changing default, round 12): this default
    * was 0 (disabled) before round 12. A corpus whose shingles carry
    * df > `Dedup.DefaultMaxBucket` (256) loses CROSS-batch pairs through
    * those shingles under the new default — near-dup recall for such
    * pairs drops without any caller-side code change, including on a
    * RESUMED `clusterIndexStream` checkpoint whose earlier folds ran
    * uncapped (the index state itself is compatible; only newly-folded
    * batches probe under the cap). Callers that need the old exhaustive
    * semantics must pass `maxStateDf = 0` explicitly and own the
    * measured linear fold-cost growth that motivated the cap.
    */
  def fold(spark: SparkSession, st: State, batch: DataFrame, batchId: Long,
           idCol: String, textCol: String, k: Int = 3,
           threshold: Double = 0.2,
           maxStateDf: Int = Dedup.DefaultMaxBucket,
           maxDeltas: Int = 16,
           maxBroadcastHashes: Long = 4000000L,
           allowSchemaEvolution: Boolean = false): Unit =
    // the fold owns its actions, so the low-memory degradation is SCOPED
    // to it — applied on entry when the heap sits under the fold floor,
    // restored on exit so later unrelated queries on the session keep
    // their auto-broadcasts and full shuffle width
    graft.gold.MemoryBudget.withLowMemoryProfile(spark, FoldFloorMb)(
      foldImpl(spark, st, batch, batchId, idCol, textCol, k, threshold,
        maxStateDf, maxDeltas, maxBroadcastHashes, allowSchemaEvolution))

  private def foldImpl(spark: SparkSession, st: State, batch: DataFrame,
           batchId: Long, idCol: String, textCol: String, k: Int,
           threshold: Double, maxStateDf: Int,
           maxDeltas: Int,
           maxBroadcastHashes: Long,
           allowSchemaEvolution: Boolean): Unit =
      conflictIfRetired(spark, st) {
    // READ-WINDOW PIN, captured before any state read: the edges/remap
    // below derive from the postings + clusters state, and every
    // concurrent writer (an [[erase]], maintenance compaction) commits
    // to the clusters table — CAS'ing the clusters append against this
    // pin makes the whole fold serializable against them (a mid-fold
    // erase forces the typed retryable conflict; the refold recomputes
    // from the post-erase state)
    val pin = BaseDelta.manifestVersion(spark, st.clustersTable)
    // exactly-once ledger, PER TABLE: a replayed batch id is SKIPPED,
    // not refolded — the clusters delta carried remap rows for
    // old-cluster members that a refold (whose edges now map to
    // already-final labels) could not regenerate. The postings delta is
    // a pure function of the batch, so a crash between the two appends
    // (clusters committed, postings not) replays as a postings-only
    // completion instead of silently losing the batch's shingles from
    // every future cross-pair probe.
    val clustersApplied = appliedTo(spark, st.clustersTable, batchId)
    val postingsApplied = appliedTo(spark, st.postingsTable, batchId)
    if (clustersApplied && postingsApplied) return
    val bp = batchPostings(batch, idCol, textCol, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (clustersApplied) {
        // postings-only completion of a crash-interrupted fold
        BaseDelta.append(spark, st.postingsTable, bp, batchId)
        maybeCompactDeferred(spark, st.postingsTable, maxDeltas,
          allowSchemaEvolution)
        return
      }
      val hasState = tableNonEmpty(spark, st.postingsTable)
      // within-batch pairs from the ALREADY-PERSISTED batch postings —
      // same counting-path semantics as ngramJaccard(batch, …), minus a
      // second shingle+hash pass over the whole batch
      val within = Dedup.jaccardFromPostings(bp, threshold)
        .select(col("id_a"), col("id_b"))
      val edges =
        if (!hasState) within
        else {
          // map-side prefilter (minHashProbe's recipe): only index
          // postings whose shingle occurs in the batch reach the join
          // shuffle — candidate-set preserving, since a posting with no
          // batch-side shingle can produce no cross pair. The batch's
          // distinct hash set is batch-sized and broadcasts — UNLESS the
          // batch is extreme (> maxBroadcastHashes distinct hashes ≈
          // 8 B each on the driver), where the same semi-join runs as a
          // shuffle instead of OOMing the driver: identical semantics,
          // graceful degradation (spec-pinned).
          val batchHashes = bp.select(col("s")).distinct()
          val nHashes = batchHashes.count()
          val sp0 = prefilteredState(spark, st, batchHashes,
            // a sub-floor heap forces the (spec-identical) shuffled
            // semi-join: a multi-million-hash broadcast alone can
            // exceed the whole JVM there (measured at 3 GB/32)
            useBroadcast = nHashes <= maxBroadcastHashes &&
              graft.gold.MemoryBudget.mbPerSlot(spark) >=
                graft.gold.MemoryBudget.FloorMb)
          val sp =
            if (maxStateDf <= 0) sp0
            else {
              // df cut on the index side: the posting list of a shingle
              // hotter than the cut is dropped WHOLE (ids-only pre-scan)
              val hot = sp0.groupBy(col("s")).agg(count(lit(1)).as("__df"))
                .filter(col("__df") > maxStateDf).select(col("s"))
              sp0.join(hot, Seq("s"), "left_anti")
            }
          // low-memory degradation: under the measured MB/core floor,
          // the Σdf² cross join + its partial agg run at a scaled
          // partition count so per-task state stays bounded
          val spSized = Dedup.adaptivePairParts(spark, FoldFloorMb) match {
            case Some(n) => sp.repartition(n, col("s"))
            case None => sp
          }
          val cross = bp.select(col("id").as("id_a"), col("s"),
              col("n_sh").as("n_a"))
            .join(spSized.select(col("id").as("id_b"), col("s"),
              col("n_sh").as("n_b")), Seq("s"))
            .filter(col("id_a") =!= col("id_b"))
            .groupBy(col("id_a"), col("id_b"), col("n_a"), col("n_b"))
            .agg(count(lit(1)).as("n_shared"))
            .filter(col("n_shared").cast("double")
              / (col("n_a") + col("n_b") - col("n_shared")) >= threshold)
          // super-node compression: indexed endpoint → its current cluster
          val cur = BaseDelta.read(spark, st.clustersTable, allowSchemaEvolution = true)
            .select(col("id").as("id_b"), col("cluster_id"))
          within.unionByName(
            cross.join(cur, Seq("id_b"))
              .select(col("id_a"), col("cluster_id").as("id_b")))
            .distinct()
        }
      // edges is consumed twice below (resolveClusters' edge frame, the
      // remap's oldCids) — without a persist each consumer re-runs
      // the Σdf²-bounded cross join from scratch (measured ~3 s per
      // redundant execution per sf0.1 fold)
      edges.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val comp = Dedup.resolveClusters(edges)
      // assignments for every batch doc (singletons → own id)
      val batchIds = batch.select(col(idCol).as("id")).distinct()
      val assign = batchIds.join(comp, Seq("id"), "left")
        .select(col("id"),
          coalesce(col("cluster_id"), col("id")).as("cluster_id"))
      // remap rows for members of old clusters whose label improved; the
      // remap itself is batch-sized and broadcasts — only the member
      // rewrite touches state, and only the merged clusters' members
      val remapped =
        if (!hasState) assign.limit(0)
        else {
          val oldCids = edges.select(col("id_b").as("id")).distinct()
            .join(batchIds, Seq("id"), "left_anti")
          val remap0 = comp.join(oldCids, Seq("id"))
            .filter(col("cluster_id") =!= col("id"))
            .select(col("id").as("__old"), col("cluster_id").as("__new"))
          // batch-sized hint, but a sub-floor heap can't afford even
          // that — fall back to the shuffled join there
          val remap = if (graft.gold.MemoryBudget.mbPerSlot(spark) >=
              graft.gold.MemoryBudget.FloorMb) broadcast(remap0)
            else remap0.hint("merge")
          BaseDelta.read(spark, st.clustersTable, allowSchemaEvolution = true)
            .join(remap, col("cluster_id") === col("__old"))
            .select(col("id"), col("__new").as("cluster_id"))
        }
      val delta = assign.unionByName(remapped)
        .withColumn("as_of", lit(batchId))
      // clusters FIRST (the ledger table), pinned at the fold's read
      // window; postings second (regenerable — see the crash note above)
      BaseDelta.append(spark, st.clustersTable, delta, batchId,
        pinnedFrom = Some(pin))
      BaseDelta.append(spark, st.postingsTable, bp, batchId)
      maybeCompactDeferred(spark, st.clustersTable, maxDeltas,
        allowSchemaEvolution)
      maybeCompactDeferred(spark, st.postingsTable, maxDeltas,
        allowSchemaEvolution)
      edges.unpersist()
      ()
    } finally bp.unpersist()
  }

  /** The state-postings prefilter semi-join, broadcast or shuffled —
    * exposed so the spec can pin that both forms produce the same frame
    * and that the hint actually switches the physical plan.
    */
  private[graft] def prefilteredState(spark: SparkSession, st: State,
                                      batchHashes: DataFrame,
                                      useBroadcast: Boolean): DataFrame = {
    val probe = if (useBroadcast) broadcast(batchHashes)
      // an explicit merge hint pins the shuffle path even where stats
      // would let the planner re-broadcast a small frame
      else batchHashes.hint("merge")
    BaseDelta.read(spark, st.postingsTable, allowSchemaEvolution = true).join(probe, Seq("s"), "left_semi")
  }

  /** Right-to-erasure with CORRECT re-clustering: removing a document
    * must also remove every edge it contributed — erasing a BRIDGE doc
    * splits the cluster it merged (simply deleting the row would leave
    * the other members transitively connected through a ghost). Cost is
    * bounded by the AFFECTED clusters, never the corpus:
    *
    *  1. affected = clusters holding any erased id; their surviving
    *     members re-enter a local re-clustering;
    *  2. postings compact with the erased ids filtered out (bytes
    *     vacuumed);
    *  3. surviving members' pairs recompute from the surviving postings
    *     (inverted-index join restricted to those members — the same
    *     bucketPairs economics, affected-cluster-sized);
    *  4. `resolveClusters` over those pairs re-labels the members
    *     (singletons fall back to their own id);
    *  5. the clusters table compacts: erased rows dropped, affected
    *     members' assignments replaced, everyone else untouched.
    *
    * Replays of old batch ids cannot resurrect erased docs — [[fold]]'s
    * applied ledger (delta ids + fold floor) survives the compactions.
    *
    * Safe under a LIVE stream: the whole erase runs inside the
    * read-window CAS anchored on the clusters table — a fold committing
    * mid-erase (or an erase mid-fold) forces the typed retryable
    * conflict on whichever commits second, and the retry re-derives
    * from the post-commit state. The entry gate below additionally
    * waits out a fold caught BETWEEN its two appends (clusters
    * committed, postings not): re-pairing from a postings view missing
    * the just-assigned batch would split clusters wrongly. Reclaim is
    * writer-safe ([[BaseDelta.vacuum]] bounded at the pre-compact
    * listed deltas), so a concurrent fold's fresh dir is never swept.
    */
  def erase(spark: SparkSession, st: State, docIds: DataFrame,
            k: Int = 3, threshold: Double = 0.2): Unit = {
    eraseImpl(spark, st, docIds, threshold, defer = false); ()
  }

  /** DEFERRED right-to-erasure: the immediate-ack form of [[erase]].
    * The STRUCTURAL work cannot defer — removing a doc that bridged two
    * families must SPLIT the merged cluster, so the re-pair and the
    * (small, one-row-per-doc) clusters-table rewrite run eagerly and
    * serving is exact the moment this returns. What defers is the
    * EXPENSIVE part: the shingle-postings rewrite (O(corpus × shingles)
    * bytes) rides a tombstone ledger — the re-pair reads the filtered
    * view through the ledger anti-join, and the physical rewrite lands
    * at the next compaction (or `BaseDelta.materializeErasures` on the
    * postings table at a scheduled slot; `pendingTombstones` empty is
    * the receipt-upgrade signal). Returns the doc-level pending receipt
    * (id, n_rows_erased, status).
    */
  def eraseLogical(spark: SparkSession, st: State, docIds: DataFrame,
                   k: Int = 3, threshold: Double = 0.2,
                   maxAffected: Long = Long.MaxValue): DataFrame =
    eraseImpl(spark, st, docIds, threshold, defer = true, maxAffected).get

  private def eraseImpl(spark: SparkSession, st: State, docIds: DataFrame,
                        threshold: Double,
                        defer: Boolean,
                        maxAffected: Long = Long.MaxValue): Option[DataFrame] =
    // scoped like the fold: the structural re-pair runs the same pair
    // generators under the same floor
    graft.gold.MemoryBudget.withLowMemoryProfile(spark, FoldFloorMb)(
      eraseBody(spark, st, docIds, threshold, defer, maxAffected))

  private def eraseBody(spark: SparkSession, st: State, docIds: DataFrame,
                        threshold: Double,
                        defer: Boolean,
                        maxAffected: Long): Option[DataFrame] =
      conflictIfRetired(spark, st) {
    val pin = BaseDelta.manifestVersion(spark, st.clustersTable)
    val cMax = appliedMax(spark, st.clustersTable)
    val pMax = appliedMax(spark, st.postingsTable)
    if (cMax != pMax)
      throw new CommitConflictException(
        s"ClusterIndex.erase at ${st.root}: state tables are mid-fold " +
          s"(clusters applied through $cMax, postings $pMax) — a " +
          "concurrent fold is between its two appends; retry after it " +
          "commits (or complete a crashed fold by replaying the batch)")
    // hinted only where it is a join's build side: the receipt's left
    // join keeps every id, so it takes the unhinted keys
    val idKeys = docIds.select(col(docIds.columns.head).as("__erase_id")).distinct()
    val ids = broadcast(idKeys)
    val cur = BaseDelta.read(spark, st.clustersTable, allowSchemaEvolution = true)
    val affected = cur.join(ids, col("id") === col("__erase_id"))
      .select(col("cluster_id")).distinct()
    val members = cur.join(affected.withColumnRenamed("cluster_id", "__ac"),
        col("cluster_id") === col("__ac"))
      .join(ids, col("id") === col("__erase_id"), "left_anti")
      .select(col("id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nAffected = members.count()
      // OVER-BUDGET fallback decision: a subject bridging a mega-cluster
      // makes the eager re-pair the ack's cost (measured: ~38 s at 10⁶
      // affected members, Perf eraseack) — past `maxAffected` the
      // deferred form skips the pair recompute, leaves the affected
      // clusters STALE-MERGED (splits missed until repair — the
      // documented staleness bound: the next [[repairStructural]], which
      // the streaming sink schedules every batch), and records them in
      // the repair marker set. Unreachability is NOT stale: the erased
      // docs leave the clusters table and the postings ledger NOW.
      val structDeferred = defer && nAffected > maxAffected
      // doc-level pending receipt, MATERIALIZED before step 5's compact
      // + vacuum retire the files `cur` resolved
      val receipt =
        if (!defer) None
        else Some(idKeys.join(
            cur.join(ids, col("id") === col("__erase_id"))
              .groupBy(col("__erase_id")).agg(count(lit(1)).as("__n")),
            Seq("__erase_id"), "left")
          .select(col("__erase_id").as("id"),
            coalesce(col("__n"), lit(0L)).as("n_rows_erased"),
            lit(if (structDeferred) "pending_structural" else "pending")
              .as("status"))
          .localCheckpoint(true))
      // 2. postings shrink first — the pair recompute below must not
      //    see erased docs' shingles. Eager: physical compact + reclaim
      //    bounded at the listed deltas (writer-safe: a racing fold's
      //    fresh dir survives). Deferred: one tombstone-ledger flip —
      //    step 3's read anti-joins the ledger, so the pair view is
      //    identically filtered; the rewrite rides compaction.
      if (defer)
        BaseDelta.logicalErase(spark, st.postingsTable, "id",
          docIds.select(col(docIds.columns.head)), countRows = false)
      else {
        val pBound = BaseDelta.deltaBatches(spark, st.postingsTable)
          .foldLeft(-1L)(_ max _)
        BaseDelta.compact(spark, st.postingsTable, transform = Some(df =>
          df.join(ids, col("id") === col("__erase_id"), "left_anti")))
        BaseDelta.vacuum(spark, st.postingsTable,
          writerSafeUpTo = Some(pBound))
      }
      if (structDeferred) {
        // 3'. RELABEL ONLY: each affected cluster keeps its (possibly
        // stale-merged) membership but takes the min SURVIVING member id
        // as its label — an erased doc's id must not outlive the ack as
        // a label. One agg + two joins over the affected members; no
        // pair generation, no propagation rounds.
        val newLabels = members
          .join(cur.select(col("id"), col("cluster_id")), Seq("id"))
          .groupBy(col("cluster_id")).agg(min(col("id")).as("__newlbl"))
        val relabeled = members
          .join(cur.select(col("id"), col("cluster_id"), col("as_of")),
            Seq("id"))
          .join(broadcast(newLabels), Seq("cluster_id")) // ≤ |subjects| rows
          .select(col("id"), col("__newlbl").as("cluster_id"), col("as_of"))
          .localCheckpoint(true)
        // pinned BEFORE the compact below retires the files `cur` resolved
        val marks = newLabels.select(col("__newlbl").as("cluster_id"))
          .localCheckpoint(true)
        val cBound = BaseDelta.deltaBatches(spark, st.clustersTable)
          .foldLeft(-1L)(_ max _)
        BaseDelta.compact(spark, st.clustersTable, transform = Some(df =>
          df.join(ids, col("id") === col("__erase_id"), "left_anti")
            .join(broadcast(members), Seq("id"), "left_anti")
            .unionByName(relabeled)),
          pinnedFrom = Some(pin))
        BaseDelta.vacuum(spark, st.clustersTable,
          writerSafeUpTo = Some(cBound))
        // 4'. mark the stale labels for the async repair — read-merge-
        // publish under the observation CAS (two over-budget erasures
        // may race; neither's marks may be lost)
        CommitCas.retryConflict(6) {
          val observed = SnapshotStore.currentGen(spark, st.repairPath)
          val merged = observed.map(g => spark.read
              .parquet(SnapshotStore.genPath(st.repairPath, g))
              .select(col("cluster_id"))
              .unionByName(marks).distinct()).getOrElse(marks)
            .localCheckpoint(true)
          SnapshotStore.publishFrom(merged, st.repairPath, observed)
        }
      } else {
      // 3.–4. re-pair the surviving members from the surviving postings
      //    and re-label them
      val relabeled = relabel(spark, st, members, cur, threshold)
      // 5. clusters table: erased gone, affected members replaced — the
      //    COMMIT POINT of the whole erase, CAS'd against the clusters
      //    version observed at entry (the members/relabel sets derive
      //    from that read; any fold since then must force the retry)
      val cBound = BaseDelta.deltaBatches(spark, st.clustersTable)
        .foldLeft(-1L)(_ max _)
      BaseDelta.compact(spark, st.clustersTable, transform = Some(df =>
        df.join(ids, col("id") === col("__erase_id"), "left_anti")
          .join(broadcast(members), Seq("id"), "left_anti")
          .unionByName(relabeled)),
        pinnedFrom = Some(pin))
      BaseDelta.vacuum(spark, st.clustersTable,
        writerSafeUpTo = Some(cBound))
      }
      receipt
    } finally members.unpersist()
  }

  /** The structural re-label shared by the eager erase and
    * [[repairStructural]]: `members`' exact-Jaccard pairs (≥ `threshold`)
    * from the surviving postings, resolved into clusters, each member
    * re-labelled (singletons keep their own id). Each member keeps its
    * ORIGINAL `as_of` from `cur`: inside the compaction the old rows are
    * dropped outright (no merge contest), and a FUTURE fold's remap
    * (higher batch id) must still be able to supersede these.
    */
  private def relabel(spark: SparkSession, st: State, members: DataFrame,
                      cur: DataFrame, threshold: Double): DataFrame = {
    val mp0 = BaseDelta.read(spark, st.postingsTable, allowSchemaEvolution = true)
      .join(broadcast(members), Seq("id"))
    val mp = Dedup.adaptivePairParts(spark, FoldFloorMb) match {
      case Some(n) => mp0.repartition(n, col("s"))
      case None => mp0
    }
    val pairs = mp.select(col("id").as("id_a"), col("s"),
        col("n_sh").as("n_a"))
      .join(mp.select(col("id").as("id_b"), col("s"),
        col("n_sh").as("n_b")), Seq("s"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared").cast("double")
        / (col("n_a") + col("n_b") - col("n_shared")) >= threshold)
      .select(col("id_a"), col("id_b"))
    // an erase often leaves no surviving pair: `isEmpty` answers that in
    // fewer jobs than resolveClusters' persisted edge count (traced q264:
    // 31 jobs with this probe, 34 without)
    val comp =
      if (pairs.isEmpty) pairs.select(col("id_a").as("id"),
        col("id_b").as("cluster_id")).limit(0)
      else Dedup.resolveClusters(pairs)
    members.join(comp, Seq("id"), "left")
      .join(cur.select(col("id"), col("as_of")), Seq("id"))
      .select(col("id"),
        coalesce(col("cluster_id"), col("id")).as("cluster_id"),
        col("as_of"))
      .localCheckpoint(true)
  }

  /** Pending structural-repair marker labels (clusters an over-budget
    * [[eraseLogical]] left stale-merged), if any.
    */
  def pendingRepairs(spark: SparkSession, st: State): Option[DataFrame] =
    if (!SnapshotStore.exists(spark, st.repairPath)) None
    else {
      val m = SnapshotStore.read(spark, st.repairPath)
      if (m.isEmpty) None else Some(m)
    }

  /** The ASYNC half of an over-budget deferred erasure: re-pair every
    * marked cluster's members from the (tombstone-filtered) postings
    * and rewrite their assignments — after this, the index equals the
    * one an unbudgeted eager-structural erase would have produced. The
    * marker set clears under the observation CAS (labels marked by an
    * erasure racing this repair survive for the next run). Returns true
    * when a repair ran. Single maintenance writer, like every OPTIMIZE
    * here; the streaming sink schedules it per batch — that cadence is
    * the staleness bound.
    */
  def repairStructural(spark: SparkSession, st: State,
                       threshold: Double = 0.2): Boolean =
    graft.gold.MemoryBudget.withLowMemoryProfile(spark, FoldFloorMb)(
      repairBody(spark, st, threshold))

  private def repairBody(spark: SparkSession, st: State,
                         threshold: Double): Boolean =
      conflictIfRetired(spark, st) {
    val observed = SnapshotStore.currentGen(spark, st.repairPath)
    if (observed.isEmpty) false
    else {
      val marks = spark.read
        .parquet(SnapshotStore.genPath(st.repairPath, observed.get))
        .select(col("cluster_id")).localCheckpoint(true)
      if (marks.isEmpty) false
      else {
        val pin = BaseDelta.manifestVersion(spark, st.clustersTable)
        val cur = BaseDelta.read(spark, st.clustersTable,
          allowSchemaEvolution = true)
        val members = cur
          .join(broadcast(marks.withColumnRenamed("cluster_id", "__mc")),
            col("cluster_id") === col("__mc"))
          .select(col("id"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          members.count()
          val relabeled = relabel(spark, st, members, cur, threshold)
          val cBound = BaseDelta.deltaBatches(spark, st.clustersTable)
            .foldLeft(-1L)(_ max _)
          BaseDelta.compact(spark, st.clustersTable, transform = Some(df =>
            df.join(broadcast(members), Seq("id"), "left_anti")
              .unionByName(relabeled)),
            pinnedFrom = Some(pin))
          BaseDelta.vacuum(spark, st.clustersTable,
            writerSafeUpTo = Some(cBound))
          // clear ONLY the observed marks: an over-budget erasure that
          // marked labels after our read keeps its marks for the next run
          CommitCas.retryConflict(6) {
            val curGen = SnapshotStore.currentGen(spark, st.repairPath)
            val remaining =
              if (curGen == observed) marks.limit(0)
              else spark.read
                .parquet(SnapshotStore.genPath(st.repairPath, curGen.get))
                .select(col("cluster_id"))
                .join(marks, Seq("cluster_id"), "left_anti")
            SnapshotStore.publishFrom(remaining.localCheckpoint(true),
              st.repairPath, curGen)
          }
          true
        } finally members.unpersist()
      }
    }
  }

  /** Current assignment for every ingested doc (singletons included). */
  def clusters(spark: SparkSession, st: State): DataFrame =
    BaseDelta.read(spark, st.clustersTable, allowSchemaEvolution = true).select("id", "cluster_id")

  /** Assignments restricted to real (≥2-member) clusters — the id set
    * `resolveClusters` over the full pair set would emit.
    */
  def clustersNonSingleton(spark: SparkSession, st: State): DataFrame = {
    val c = clusters(spark, st)
    val big = c.groupBy(col("cluster_id")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= 2).select(col("cluster_id"))
    c.join(big, Seq("cluster_id")).select(col("id"), col("cluster_id"))
  }
}
