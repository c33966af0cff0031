package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.gold.{BaseDelta, CommitCas, MultiSnapshot, SnapshotStore}
import graft.functions.VectorFunctions

/** Incrementally-maintained IVF vector index — the steady-state form of
  * [[Similarity.ivfTopK]], which re-elects centroids and re-assigns the
  * WHOLE corpus on every call. A continuously-ingesting embedding
  * pipeline instead folds each batch in O(batch) and serves queries from
  * persisted state (the `SearchIndex`/`ClusterIndex` recipe, applied to
  * the ANN family — the one family that still recomputed from scratch):
  *
  *  - `centroids` — the coarse quantizer, elected ONCE from the first
  *    batch ([[Similarity.centroids]]' seeded deterministic election,
  *    optionally Lloyd-refined) and FROZEN behind a [[SnapshotStore]]
  *    generation ledger. Freezing is standard IVF practice (FAISS trains
  *    the quantizer on a sample, then only adds): cell ids stay stable so
  *    postings never need re-assignment; quantizer staleness is a
  *    monitored quantity (`Similarity.embeddingDrift` anchors to exactly
  *    these frozen centroids), and a re-train is a new index root.
  *  - `postings` — a [[BaseDelta]] table of (id, cell_id, vec): each
  *    batch assigns against the BROADCAST frozen centroids (map-only)
  *    and appends ONE delta dir; replayed batch ids overwrite their own
  *    delta (exactly-once by merge + ledger).
  *
  * Query cost: routing = |Q| × nCells broadcast scores; scoring touches
  * only the probed cells' postings via the cell_id hash join against the
  * BROADCAST query frame — the corpus never shuffles for scoring
  * (q24/q115's plan contract, now over persisted state). With
  * `nProbe = nCells` the probe covers every cell, making the result
  * EXACTLY brute-force top-k — the SQL-expressible oracle surface
  * (q244); partial probes trade recall for cells skipped, spec-bounded.
  *
  * Contract: each id arrives in exactly one batch (upstream dedup gate);
  * vectors are non-zero (cosine); single FOLD writer, any readers.
  * Out-of-band [[erase]]/[[eraseLogical]] may run against a live fold
  * stream: every commit is CAS-serialized (losers surface the typed
  * retryable conflict), reclaim is writer-safe, and readers serve
  * through [[conflictIfRetired]] (pinned by the IndexChaosSpec vector
  * soak).
  */
object VectorIndex {

  final case class State(root: String) {
    def postingsTable: BaseDelta.Table =
      BaseDelta.Table(s"$root/postings", Seq("id"), Seq("cell_id"), None)
    def centroidsPath: String = s"$root/centroids"
    /** Frozen PQ codebook (micro-unit longs, position-indexed) — present
      * only when the index folds with `pqM > 0`.
      */
    def codebookPath: String = s"$root/codebook"
  }

  /** Composite retired-state guard over the sub-index's three stores —
    * the reader recipe for serving ([[topK]]/[[topKAdc]] actions)
    * during concurrent maintenance: an [[erase]]'s compaction +
    * writer-safe vacuum or a ledger ack can retire files a running
    * query had resolved; inside this guard that surfaces as the typed
    * retryable conflict, while a failure with no concurrent
    * maintenance still propagates as the storage fault it is.
    */
  def conflictIfRetired[A](spark: SparkSession, st: State)(body: => A): A =
    MultiSnapshot.retiredGuard(s"VectorIndex(${st.root})", () =>
      BaseDelta.stateFingerprint(spark, st.postingsTable)
        .map { case (k, v) => s"postings.$k" -> v } ++
        SnapshotStore.currentGen(spark, st.centroidsPath)
          .map("centroids" -> _).toMap ++
        SnapshotStore.currentGen(spark, st.codebookPath)
          .map("codebook" -> _).toMap)(body)

  private def readCodebook(spark: SparkSession, st: State): Array[Long] =
    SnapshotStore.read(spark, st.codebookPath)
      .orderBy(col("pos")).collect().map(_.getLong(1))

  /** Fold one embedding batch (idCol, vecCol) into the index. The first
    * batch elects and freezes the quantizer (`nCells`, `refineIters`);
    * later batches only assign + append. With `pqM > 0` the first batch
    * also trains and freezes a PQ codebook (`pqM` subspaces × `pqK`
    * codes), and every posting additionally carries its m-code PQ encode
    * — the bytes [[topKAdc]] scans instead of raw vectors. Use the same
    * `pqM`/`pqK` on every fold of one index root.
    */
  def fold(spark: SparkSession, st: State, batch: DataFrame,
           batchId: Long, idCol: String, vecCol: String, nCells: Int = 16,
           refineIters: Int = 0, maxDeltas: Int = 64,
           pqM: Int = 0, pqK: Int = 16,
           allowSchemaEvolution: Boolean = false): Unit =
      conflictIfRetired(spark, st) {
    // replay ledger (delta ids + compaction fold floor): a replayed
    // batch id is a SKIP, not an overwrite — after an [[erase]]
    // compaction, an overwrite under an already-folded id would
    // resurrect erased vectors
    val applied =
      BaseDelta.deltaBatches(spark, st.postingsTable).contains(batchId) ||
        BaseDelta.timeTravelFloor(spark, st.postingsTable).exists(_ >= batchId)
    if (applied) return
    // an empty batch must not elect an empty quantizer (which would
    // blank every later assignment) or stage an unreadable empty delta
    if (batch.isEmpty) return
    if (!SnapshotStore.exists(spark, st.centroidsPath)) {
      val seeded = Similarity.centroids(batch, idCol, vecCol, nCells)
      val cents =
        if (refineIters > 0)
          Similarity.kmeansRefine(batch, idCol, vecCol, seeded, refineIters)
        else seeded
      // ledger: whichever batch observes the missing quantizer publishes
      // generation 1 exactly once; a concurrent replay seeing it
      // published skips (single-writer contract)
      if (SnapshotStore.currentGen(spark, st.centroidsPath).isEmpty)
        SnapshotStore.publish(cents, st.centroidsPath)
    }
    if (pqM > 0 && !SnapshotStore.exists(spark, st.codebookPath)) {
      // schema-evolution guard: turning PQ on over an existing non-PQ
      // index would mix codes/no-codes deltas — that migration is the
      // explicit [[enablePq]] backfill, not a silent mid-stream flip
      require(BaseDelta.deltaBatches(spark, st.postingsTable).isEmpty &&
        BaseDelta.currentBasePath(spark, st.postingsTable).isEmpty,
        s"VectorIndex.fold: index at ${st.root} already folded without " +
          "PQ — run enablePq to backfill codes before folding with pqM > 0")
      val cb = Pq.codebookMicro(batch, idCol, vecCol, pqM, pqK)
      import spark.implicits._
      if (SnapshotStore.currentGen(spark, st.codebookPath).isEmpty)
        SnapshotStore.publish(
          cb.zipWithIndex.map { case (v, i) => (i, v) }.toSeq.toDF("pos", "v"),
          st.codebookPath)
    }
    val cents = SnapshotStore.read(spark, st.centroidsPath)
    val assigned0 = Similarity
      .assignCells(batch.select(col(idCol), col(vecCol)), cents,
        idCol, vecCol, nProbe = 1)
      .select(col(idCol).as("id"), col("cell_id"), col(vecCol).as("vec"))
    val assigned =
      if (pqM <= 0) assigned0
      else assigned0.withColumn("codes",
        Pq.encode(col("vec"), readCodebook(spark, st), pqM, pqK))
    BaseDelta.appendAndMaybeCompact(spark, st.postingsTable, assigned,
      batchId, maxDeltas, allowSchemaEvolution)
  }

  /** Top-k nearest indexed vectors per query over the probed cells.
    * (query_id, neighbor_id, cosine, rank) — self-matches excluded, ties
    * broken by neighbor id (engine-exact with `roundTo`-rounded cosine,
    * q24's proven cross-engine recipe). `nProbe = nCells` ≡ exact
    * brute-force top-k.
    */
  def topK(spark: SparkSession, st: State, queries: DataFrame,
           idCol: String, vecCol: String, k: Int, nProbe: Int = 4,
           roundTo: Int = 6): DataFrame = {
    val cents = SnapshotStore.read(spark, st.centroidsPath)
    val q = Similarity.assignCells(
        queries.select(col(idCol), col(vecCol)), cents, idCol, vecCol,
        nProbe = nProbe)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"), col("cell_id"))
    val scored = BaseDelta.read(spark, st.postingsTable,
        allowSchemaEvolution = true)
      .join(broadcast(q), Seq("cell_id"))
      .filter(col("query_id") =!= col("id"))
      .withColumn("cosine",
        round(VectorFunctions.cosine(col("qv"), col("vec")), roundTo))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("id").as("neighbor_id"),
        col("cosine"), col("rank").cast("int").as("rank"))
  }

  /** The composed IVF → PQ-ADC → exact-rerank serve over PERSISTED
    * state — [[Similarity.ivfPqTopK]]'s shape (the actual 100 TB ANN
    * path: probed cells scanned as m byte-codes, not d floats; ADC
    * shortlist re-ranked with exact cosine from the stored vectors).
    * Requires the index to have folded with `pqM > 0` (same `pqM`/`pqK`
    * here). Broadcast-only scoring: per-query LUTs and the shortlist
    * both ride broadcasts, postings never shuffle.
    */
  def topKAdc(spark: SparkSession, st: State, queries: DataFrame,
              idCol: String, vecCol: String, k: Int, nProbe: Int = 4,
              shortlist: Int = 64, pqM: Int = 4, pqK: Int = 16,
              roundTo: Int = 6): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    val cents = SnapshotStore.read(spark, st.centroidsPath)
    val cb = readCodebook(spark, st)
    val q = Similarity.assignCells(
        queries.select(col(idCol), col(vecCol)), cents, idCol, vecCol,
        nProbe = nProbe)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"), col("cell_id"))
      .withColumn("__lut", Pq.lut(col("qv"), cb, pqM, pqK))
    val post = BaseDelta.read(spark, st.postingsTable)
    // ADC pass: code bytes only, within probed cells (no tolerant read
    // here: missing `codes` must fail loudly — enablePq is the backfill)
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("__adc").asc, col("id").asc)
    val short = post.join(broadcast(q), Seq("cell_id"))
      .filter(col("query_id") =!= col("id"))
      .withColumn("__adc", Pq.adc(col("codes"), col("__lut"), pqK))
      .withColumn("__ar", row_number().over(wAdc))
      .filter(col("__ar") <= shortlist)
    // exact re-rank over the shortlist's stored vectors
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("id").asc)
    short
      .withColumn("cosine",
        round(VectorFunctions.cosine(col("qv"), col("vec")), roundTo))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("id").as("neighbor_id"),
        col("cosine"), col("rank").cast("int").as("rank"))
  }

  /** Right-to-erasure over the index: remove `ids`' postings (vector,
    * cell assignment, PQ codes) via one filtered compaction + vacuum —
    * serving afterwards is identical to an index that never folded those
    * vectors. The frozen quantizer is untouched: centroids are
    * aggregate statistics, not subject rows (same stance as PCA
    * components / IDF tables; retrain to a new root if policy demands
    * it). Folding continues normally — the postings ledger is
    * append-overwrite by batch id, which compaction preserves. Safe
    * under a live fold stream: fold appends are state-independent
    * (frozen quantizer), the compaction CAS serializes the rewrite
    * against them (a fold landing mid-compact forces the typed
    * retryable conflict here), and reclaim is writer-safe — vacuum
    * bounded at the pre-compact listed deltas never sweeps a racing
    * fold's fresh not-yet-listed dir.
    */
  def erase(spark: SparkSession, st: State,
            ids: DataFrame): Unit = conflictIfRetired(spark, st) {
    val subj = broadcast(ids.select(col(ids.columns.head)
      .as("__erase_id")).distinct())
    val bound = BaseDelta.deltaBatches(spark, st.postingsTable)
      .foldLeft(-1L)(_ max _)
    BaseDelta.compact(spark, st.postingsTable, transform = Some(df =>
      df.join(subj, col("id") === col("__erase_id"), "left_anti")))
    BaseDelta.vacuum(spark, st.postingsTable, writerSafeUpTo = Some(bound))
    ()
  }

  /** SCHEMA EVOLUTION migration: enable PQ on an index that folded
    * WITHOUT it. Mid-life `pqM > 0` folds would otherwise mix schemas
    * (old deltas without `codes`) and leave [[topKAdc]] with unscorable
    * rows — the principled evolution for an engine-owned state schema is
    * an explicit BACKFILL, not null-filling: train the codebook on the
    * current corpus, rewrite the postings once through a compaction
    * transform that encodes every stored vector, and fold with the same
    * `pqM`/`pqK` from then on. The fold ledger survives (compaction only
    * raises the floor to already-applied batches), so replays still
    * skip.
    */
  def enablePq(spark: SparkSession, st: State, pqM: Int,
               pqK: Int = 16): Unit = {
    require(pqM > 0, "enablePq: pqM must be positive")
    require(!SnapshotStore.exists(spark, st.codebookPath),
      s"enablePq: ${st.root} already has a PQ codebook")
    val corpus = BaseDelta.read(spark, st.postingsTable)
    val cb = Pq.codebookMicro(corpus, "id", "vec", pqM, pqK)
    import spark.implicits._
    SnapshotStore.publish(
      cb.zipWithIndex.map { case (v, i) => (i, v) }.toSeq.toDF("pos", "v"),
      st.codebookPath)
    BaseDelta.compact(spark, st.postingsTable, transform = Some(df =>
      df.withColumn("codes", Pq.encode(col("vec"), cb, pqM, pqK))))
  }

  /** DEFERRED right-to-erasure: immediate legal ack via the postings
    * tombstone ledger ([[graft.gold.BaseDelta.logicalErase]]) — serving
    * excludes the ids from this call on, the physical rewrite rides the
    * next full compaction or an explicit
    * `BaseDelta.materializeErasures(st.postingsTable)`. Returns the
    * pending receipt.
    */
  def eraseLogical(spark: SparkSession, st: State,
                   ids: DataFrame): DataFrame = conflictIfRetired(spark, st) {
    BaseDelta.logicalErase(spark, st.postingsTable, "id", ids)
  }

  /** Number of cells in the frozen quantizer (for `nProbe = nCells`
    * exact serving and recall experiments).
    */
  def nCells(spark: SparkSession, st: State): Int =
    SnapshotStore.read(spark, st.centroidsPath).count().toInt

  // ── quantizer refresh generations ──────────────────────────────────
  //
  // The frozen gen-1 quantizer degrades under embedding drift (new
  // batches land far from any centroid → unbalanced cells → partial-
  // probe recall collapses; `Similarity.embeddingDrift` is the alarm).
  // The refresh path is the one FAISS/Milvus use in production: REBUILD
  // OFFLINE, SWAP ATOMICALLY — never mutate a serving index's quantizer
  // in place, because centroids and postings live in separate stores and
  // no reader could resolve the pair consistently mid-rewrite. Here each
  // quantizer generation is a complete sub-index under `<root>/q<G>`,
  // and ONE pointer (SnapshotStore, 1-row) names the active generation:
  // a reader resolves the pointer once and then touches only that
  // sub-index's internally-consistent state; the swap is the pointer
  // publish; crash anywhere before it leaves readers on the old
  // generation and the next refresh overwrites the orphan.

  /** Handle for a refresh-capable index: sub-indexes `<root>/q<G>` plus
    * the `_active` pointer naming the serving generation.
    */
  final case class Managed(root: String) {
    def activePath: String = s"$root/_active"
    def subState(qgen: Long): State = State(s"$root/q$qgen")
  }

  /** The serving generation number (1 before any refresh). */
  def activeQgen(spark: SparkSession, m: Managed): Long =
    if (!SnapshotStore.exists(spark, m.activePath)) 1L
    else SnapshotStore.read(spark, m.activePath)
      .select(max(col("qgen"))).head().getLong(0)

  /** The serving sub-index — fold/serve/erase through this. Resolved
    * ONCE per operation (the pointer is the consistency point).
    */
  def active(spark: SparkSession, m: Managed): State =
    m.subState(activeQgen(spark, m))

  /** Re-elect the quantizer from the CURRENT corpus and atomically swap
    * to quantizer generation G+1. One corpus pass: read the active
    * postings, elect (+ optionally Lloyd-refine) fresh centroids,
    * re-assign every vector, re-train + re-encode PQ codes if the old
    * index carried them, write the result as sub-index `q<G+1>` whose
    * fold ledger FLOORS at the old index's highest applied batch id —
    * replayed batch ids skip on the new generation exactly as they did
    * on the old (the erased-content guard semantics carry over, since
    * the rebuild reads the post-erasure corpus). Readers keep gen G
    * until the single pointer publish; the old sub-index stays on disk
    * for in-flight readers until [[vacuumManaged]].
    *
    * Serving exactness is generation-independent: full-probe top-k is
    * brute force under ANY quantizer (the oracle surface); what the
    * refresh buys back is PARTIAL-probe recall under drift.
    *
    * Single maintenance writer (the streaming sink pauses or the
    * IndexStreams trigger gap covers the rebuild — same contract as
    * every OPTIMIZE here).
    */
  def refreshQuantizer(spark: SparkSession, m: Managed, nCells: Int,
                       refineIters: Int = 0, pqM: Int = 0,
                       pqK: Int = 16,
                       election: String = "kmeans-par"): State = {
    val cur = active(spark, m)
    val g = activeQgen(spark, m) + 1
    val next = m.subState(g)
    val corpus = BaseDelta.read(spark, cur.postingsTable)
      .select(col("id"), col("vec"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      require(!corpus.isEmpty,
        s"VectorIndex.refreshQuantizer: active index at ${cur.root} is empty")
      // retrain-quality seeding: a coverage-guaranteed election (every
      // separated cluster seeded before any is doubled) — the whole
      // point of the refresh is escaping the stale partition, so don't
      // seed it with the fold path's cheap hash sample. Default is the
      // k-means|| oversampling election (O(rounds) distributed passes —
      // scales to the 10⁵-cell quantizers ivfTopK documents);
      // 'kcenter' keeps the sequential farthest-point election (nCells
      // corpus passes — fine at small nCells, spec-proven identical
      // recall recovery).
      val seeded = election match {
        case "kmeans-par" =>
          Similarity.centroidsKMeansParallel(corpus, "id", "vec", nCells)
        case "kcenter" =>
          Similarity.centroidsFarthest(corpus, "id", "vec", nCells)
        case other => sys.error(
          s"VectorIndex.refreshQuantizer: unknown election '$other' " +
            "(expected 'kmeans-par' or 'kcenter')")
      }
      val cents =
        if (refineIters > 0)
          Similarity.kmeansRefine(corpus, "id", "vec", seeded, refineIters)
        else seeded
      SnapshotStore.publish(cents, next.centroidsPath)
      if (pqM > 0) {
        val cb = Pq.codebookMicro(corpus, "id", "vec", pqM, pqK)
        import spark.implicits._
        SnapshotStore.publish(
          cb.zipWithIndex.map { case (v, i) => (i, v) }.toSeq.toDF("pos", "v"),
          next.codebookPath)
      }
      val assigned0 = Similarity
        .assignCells(corpus, cents, "id", "vec", nProbe = 1)
        .select(col("id"), col("cell_id"), col("vec"))
      val assigned =
        if (pqM <= 0) assigned0
        else assigned0.withColumn("codes",
          Pq.encode(col("vec"), readCodebook(spark, next), pqM, pqK))
      // ledger carryover: everything the old index applied is folded
      // here — one delta at the old high-water batch id, compacted so
      // foldedThrough lands exactly there and replays ≤ it skip
      val applied = BaseDelta.deltaBatches(spark, cur.postingsTable) ++
        BaseDelta.timeTravelFloor(spark, cur.postingsTable).toSeq
      val highWater = if (applied.nonEmpty) applied.max else 0L
      BaseDelta.append(spark, next.postingsTable, assigned, highWater)
      BaseDelta.compact(spark, next.postingsTable)
      // THE swap: one pointer publish — readers before this resolve gen
      // G's consistent pair, readers after it gen G+1's
      import spark.implicits._
      SnapshotStore.publish(Seq(g).toDF("qgen"), m.activePath)
      next
    } finally { corpus.unpersist(); () }
  }

  /** Retire sub-indexes below the PREVIOUS quantizer generation (the
    * in-flight-reader cycle the pointer's own retention mirrors), plus
    * stale pointer generations. Returns deleted paths.
    */
  def vacuumManaged(spark: SparkSession, m: Managed): Seq[String] = {
    val keep = activeQgen(spark, m)
    val root = new org.apache.hadoop.fs.Path(m.root)
    val f = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    CommitCas.retire(f, root, "q")(_ < keep - 1) ++
      SnapshotStore.vacuum(spark, m.activePath)
  }

  /** The MANAGED reader recipe: [[conflictIfRetired]] over the active
    * sub-index PLUS the generation pointer — an [[eraseManaged]] (which
    * destroys retired sub-indexes the moment it acks) or a
    * [[refreshQuantizer]] swap mid-read surfaces as the typed retryable
    * conflict (re-resolve `active` and retry), never a raw read
    * failure or a silent cross-generation mix.
    */
  def conflictIfRetiredManaged[A](spark: SparkSession, m: Managed)
                                 (body: => A): A =
    MultiSnapshot.retiredGuard(s"VectorIndex.Managed(${m.root})", () => {
      val g = activeQgen(spark, m)
      val st = m.subState(g)
      Map("qgen" -> g) ++
        BaseDelta.stateFingerprint(spark, st.postingsTable)
          .map { case (k, v) => s"postings.$k" -> v } ++
        SnapshotStore.currentGen(spark, st.centroidsPath)
          .map("centroids" -> _).toMap ++
        SnapshotStore.currentGen(spark, st.codebookPath)
          .map("codebook" -> _).toMap
    })(body)

  /** Right-to-erasure over a MANAGED index. Erasing only the ACTIVE
    * sub-index is not erasure: retired quantizer generations — kept on
    * disk for in-flight readers after a [[refreshQuantizer]] swap —
    * still hold the subject's vectors in their postings bytes. This
    * erases the active generation (eager rewrite, or deferred tombstone
    * ack with `deferred = true`) and destroys every RETIRED sub-index
    * NOW, in both modes — the erasure contract (erased bytes must not
    * outlive the ack; the same rule the coordinated erasure applies to
    * retired snapshot generations), and retired generations have no
    * tombstone mechanism or serving path, so deletion IS the cheap op.
    * A reader pinned to a destroyed generation surfaces the typed
    * retryable conflict through [[conflictIfRetiredManaged]] (or the
    * sub-state [[conflictIfRetired]], whose fingerprint loses its
    * manifest key when the dir goes). Returns the destroyed sub-index
    * paths — the receipt line documenting where pre-erasure bytes
    * lived.
    */
  def eraseManaged(spark: SparkSession, m: Managed, ids: DataFrame,
                   deferred: Boolean = false): Seq[String] = {
    val f = new org.apache.hadoop.fs.Path(m.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(m.root)
    val destroyed = scala.collection.mutable.ArrayBuffer[String]()
    // erase-then-reverify loop: destruction is restricted to g < keep —
    // truly RETIRED generations. A g > keep dir may be an in-flight
    // [[refreshQuantizer]] staging its rebuild; deleting it under the
    // builder would let it keep appending into a recreated dir and
    // publish a silently PARTIAL generation. Instead, after the sweep we
    // re-read the active pointer: if a refresh published meanwhile, its
    // rebuild read the corpus at an unknown point relative to our erase
    // and may have resurrected the subject's vectors — so we redo the
    // erase against the NEW active generation (the fold ledgers make the
    // redo exactly the remaining work; an already-clean generation
    // erases 0 rows). Both ops remain maintenance writers under the
    // single-maintenance-writer contract; this loop makes a contract
    // violation converge instead of silently leaking vectors.
    var keep = activeQgen(spark, m)
    var settled = false
    var rounds = 0
    while (!settled) {
      val act = m.subState(keep)
      if (deferred) { eraseLogical(spark, act, ids); () }
      else erase(spark, act, ids)
      destroyed ++= CommitCas.retire(f, root, "q")(_ < keep)
      val now = activeQgen(spark, m)
      if (now == keep) settled = true
      else {
        rounds += 1
        if (rounds > 5)
          throw new graft.gold.CommitConflictException(
            s"VectorIndex.eraseManaged at ${m.root}: the active pointer " +
              s"kept advancing ($rounds refreshQuantizer publishes during " +
              "one erasure) — refresh and erasure are racing outside the " +
              "single-maintenance-writer contract; quiesce and retry")
        keep = now
      }
    }
    destroyed.toSeq
  }
}
