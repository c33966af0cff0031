package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.gold.{BaseDelta, MultiSnapshot, SnapshotStore}

/** Incrementally-maintained BM25 search index — `TextAnalysis.bm25`
  * recomputes corpus statistics from raw text on every call; this keeps
  * the three artifacts a search engine actually persists and folds each
  * document batch in O(batch):
  *
  *  - `postings` — (term_h, doc_id, tf): 64-bit token hashes, one row
  *    per distinct (term, doc). Query-term pruning pushes `term_h IN
  *    (…)` through the merge-on-read aggregate down to the parquet
  *    scans (term_h is a grouping column), so a K-term query opens only
  *    the row groups holding those K hashes — postings for every other
  *    term in the corpus never leave the files.
  *  - `docstats` — (doc_id, dl): the length normalizer.
  *  - `stats` — ONE (n_docs, sum_dl) row behind the SnapshotStore
  *    generation ledger (batch b commits generation b+1 — replays
  *    skip), so N/avgdl never require scanning per-doc state.
  *
  * BM25 statistics are additive (df, N, Σdl all sum across batches),
  * so the folded index scores IDENTICALLY to a from-scratch
  * `bm25` over the accumulated corpus — q202's oracle runs the full
  * posting-list SQL and the fold must match it hash-exactly. Token
  * hashes ride the shuffle instead of term strings (q55/bigramNll's
  * proven no-collision equivalence).
  *
  * Contract: each doc_id arrives in exactly one batch (upstream
  * `Dedup.incrementalExact` is the dedup gate); a replayed batch id is
  * a no-op via the delta-overwrite + generation ledger. Zero-token
  * docs count toward neither N nor avgdl — `bm25`'s semantics.
  *
  * Query cost: O(postings of the query's terms) + a docstats semi-join
  * + one broadcast stats row. Nothing corpus-sized moves.
  */
object SearchIndex {

  final case class State(root: String) {
    def postingsTable: BaseDelta.Table =
      BaseDelta.Table(s"$root/postings", Seq("term_h", "doc_id"), Seq("tf"), None)
    def docstatsTable: BaseDelta.Table =
      BaseDelta.Table(s"$root/docstats", Seq("doc_id"), Seq("dl"), None)
    /** Positional postings — (term_h, doc_id, pos), the phrase-query
      * surface; immutable facts, so the key is the whole row.
      */
    def positionsTable: BaseDelta.Table =
      BaseDelta.Table(s"$root/positions", Seq("term_h", "doc_id", "pos"),
        Seq("one"), None)
    def statsPath: String = s"$root/stats"
  }

  private def round6(c: org.apache.spark.sql.Column) =
    floor(c * lit(1e6) + lit(0.5)) / lit(1e6)

  /** True when batch `batchId` has already been applied to BaseDelta
    * table `t`: its delta is live, or it was folded into the base (the
    * fold floor also guards erased-content resurrection — an erasure
    * compaction raises it past every applied batch).
    */
  private def appliedTo(spark: SparkSession, t: BaseDelta.Table,
                        batchId: Long): Boolean =
    BaseDelta.deltaBatches(spark, t).contains(batchId) ||
      BaseDelta.timeTravelFloor(spark, t).exists(_ >= batchId)

  /** The stats row's own ledger: highest batch id whose (n_docs, sum_dl)
    * contribution is in the published stats. Stats published by
    * PRE-LEDGER code (no `last_batch` column) fall back to the round-8
    * generation-parity estimate (batch b committed generation b+1):
    * answering -1 instead would refold a restart-replayed batch into
    * n_docs/sum_dl, which are additive — a silent one-time double-count
    * at the upgrade boundary (the same StateLedger hazard). Parity can
    * over-claim only if a pre-upgrade maintenance publish inflated the
    * generation out of band — round 8's own residual, carried for at
    * most one fold: the first post-upgrade fold writes the column and
    * the true ledger takes over. (Erasure corrections write
    * `last_batch`, so they never re-enter this fallback.)
    */
  private def statsLastBatch(spark: SparkSession, st: State): Option[Long] =
    if (!SnapshotStore.exists(spark, st.statsPath)) None
    else {
      val s = SnapshotStore.read(spark, st.statsPath)
      if (!s.columns.contains("last_batch"))
        Some(SnapshotStore.currentGen(spark, st.statsPath).getOrElse(0L) - 1)
      else Some(s.select(max(col("last_batch"))).head().getLong(0))
    }

  /** Composite retired-state guard over the index's four state stores —
    * the reader recipe for SERVING during concurrent maintenance: a
    * fold's bounded compaction, an eager [[erase]]'s rewrite, or a
    * ledger ack can retire files a running query had resolved; inside
    * this guard that surfaces as the typed retryable conflict instead
    * of a raw task failure, and a failure with no concurrent
    * maintenance still propagates as the storage fault it is.
    */
  def conflictIfRetired[A](spark: SparkSession, st: State)(body: => A): A =
    MultiSnapshot.retiredGuard(s"SearchIndex(${st.root})", () => {
      val tables = Seq("postings" -> st.postingsTable,
        "docstats" -> st.docstatsTable, "positions" -> st.positionsTable)
      tables.flatMap { case (n, t) =>
        BaseDelta.stateFingerprint(spark, t)
          .map { case (k, v) => s"$n.$k" -> v }
      }.toMap ++
        SnapshotStore.currentGen(spark, st.statsPath).map("stats" -> _).toMap
    })(body)

  /** Publish the stats row through a read-merge-publish OBSERVATION CAS
    * (bounded retry): plain last-writer-wins publish let a concurrent
    * fold's merge — computed from the PRE-correction stats — silently
    * overwrite an erasure's n_docs/sum_dl correction. `merged` receives
    * the pinned current stats row (None for a virgin path) and returns
    * the row to commit; on a lost CAS the merge recomputes against the
    * new current.
    */
  private def publishStatsCas(spark: SparkSession, st: State,
      merged: Option[DataFrame] => DataFrame): Unit = {
    var attempts = 0
    var done = false
    while (!done) {
      val obs = SnapshotStore.currentGen(spark, st.statsPath)
      val cur = obs.map(g =>
        spark.read.parquet(SnapshotStore.genPath(st.statsPath, g)))
      try { SnapshotStore.publishFrom(merged(cur), st.statsPath, obs); done = true }
      catch {
        case e: graft.gold.CommitConflictException =>
          attempts += 1
          if (attempts > 5) throw e
      }
    }
  }

  /** An erasure's stats correction: (n_docs, sum_dl) re-aggregated from
    * the docstats view, stamped with the batches that view holds. A
    * fold appends docstats before it merges stats, so the view can hold
    * a batch whose stats merge has not published yet; stamping only the
    * previous `last_batch` let that merge, retried onto this row, add its
    * batch a second time. The docstats ledger is read on both sides of
    * the view's resolution and must agree (else the typed conflict, and
    * [[publishStatsCas]] recomputes).
    */
  private def recomputedStats(spark: SparkSession, st: State,
                              cur: Option[DataFrame]): DataFrame = {
    val prevLb = cur.filter(_.columns.contains("last_batch"))
      .map(_.agg(max(col("last_batch"))).collect()(0).getLong(0))
      .getOrElse(-1L)
    def through(): Long = (BaseDelta.deltaBatches(spark, st.docstatsTable) ++
      BaseDelta.timeTravelFloor(spark, st.docstatsTable)).maxOption.getOrElse(-1L)
    val before = through()
    val view = BaseDelta.read(spark, st.docstatsTable, allowSchemaEvolution = true)
    if (through() != before)
      throw new graft.gold.CommitConflictException(
        s"SearchIndex(${st.root}): docstats moved during the stats recompute")
    view.agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("dl")), lit(0L)).as("sum_dl"))
      .withColumn("last_batch", lit(prevLb max before))
  }

  /** Fold one document batch (idCol, textCol) into the index. Replays
    * are no-ops PER STATE TABLE: each of postings/docstats/positions
    * checks its own delta-id ledger (plus its compaction fold floor —
    * the erasure-resurrection guard), and the stats row carries its own
    * `last_batch` ledger, written LAST. A crash between any two writes
    * therefore replays to exactly the missing tail — the fold is
    * deterministic, so the recomputed slices are identical — instead of
    * a whole-batch no-op that would permanently lose doc lengths, phrase
    * positions, or corpus stats (the round-8 postings-only guard's crash
    * hole). Erasure republishes stats out of band, stamped with the
    * docstats batches it counted ([[recomputedStats]]), so the ledger
    * survives corrections without consuming a batch id.
    */
  def fold(spark: SparkSession, st: State, batch: DataFrame, batchId: Long,
           idCol: String, textCol: String, maxDeltas: Int = 16,
           allowSchemaEvolution: Boolean = false): Unit = {
    conflictIfRetired(spark, st) {
    val postingsDone = appliedTo(spark, st.postingsTable, batchId)
    val docstatsDone = appliedTo(spark, st.docstatsTable, batchId)
    val positionsDone = appliedTo(spark, st.positionsTable, batchId)
    val statsDone = statsLastBatch(spark, st).exists(_ >= batchId)
    if (postingsDone && docstatsDone && positionsDone && statsDone) return
    val tk = TextAnalysis.tokens(col(textCol))
    val docs = batch.select(col(idCol).as("doc_id"),
        when(length(trim(col(textCol))) === 0, lit(0L))
          .otherwise(size(tk).cast("long")).as("dl"),
        tk.as("__tk"))
      .filter(col("dl") > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // the three state tables carry INDEPENDENT per-table replay ledgers
      // (any crash-subset replays to exactly the missing tail — the
      // scaladoc contract above), so their appends have no required
      // order and run concurrently (guide §2.6); only the stats row is
      // ordered (written last, its own ledger). `docs` is persisted, so
      // the three plans share the tokenized batch instead of recomputing.
      val appendTasks = Seq(
        () => if (!postingsDone) {
          val postings = docs
            .select(col("doc_id"), explode(col("__tk")).as("__tok"))
            .groupBy(xxhash64(col("__tok")).as("term_h"), col("doc_id"))
            .agg(count(lit(1)).as("tf"))
          BaseDelta.appendAndMaybeCompact(spark, st.postingsTable, postings,
            batchId, maxDeltas, allowSchemaEvolution)
        },
        () => if (!docstatsDone)
          BaseDelta.appendAndMaybeCompact(spark, st.docstatsTable,
            docs.select("doc_id", "dl"), batchId, maxDeltas,
            allowSchemaEvolution),
        () => if (!positionsDone) {
          val positions = docs
            .select(col("doc_id"), posexplode(col("__tk")).as(Seq("pos", "__tok")))
            .select(xxhash64(col("__tok")).as("term_h"), col("doc_id"),
              col("pos").cast("long").as("pos"), lit(1L).as("one"))
          BaseDelta.appendAndMaybeCompact(spark, st.positionsTable, positions,
            batchId, maxDeltas, allowSchemaEvolution)
        })
      graft.Par.run(appendTasks)
      if (!statsDone) {
        val delta = docs.agg(count(lit(1)).as("n_docs"),
            coalesce(sum(col("dl")), lit(0L)).as("sum_dl"))
          .withColumn("last_batch", lit(batchId))
        publishStatsCas(spark, st, {
          // an erasure's recompute already counted this batch's docstats
          case Some(old0) if old0.columns.contains("last_batch") &&
              old0.agg(max(col("last_batch"))).head().getLong(0) >= batchId =>
            old0
          case Some(old0) =>
            val old = if (old0.columns.contains("last_batch")) old0
              else old0.withColumn("last_batch", lit(-1L))
            old.select("n_docs", "sum_dl", "last_batch").unionByName(delta)
              .agg(sum(col("n_docs")).as("n_docs"),
                sum(col("sum_dl")).as("sum_dl"),
                max(col("last_batch")).as("last_batch"))
          case None => delta
        })
      }
      ()
    } finally docs.unpersist()
    }
  }

  /** Right-to-erasure over the INDEX: remove every trace of `docIds`
    * from postings, positions, docstats, and the corpus statistics —
    * search results after an erasure are bit-identical to an index that
    * never saw those documents (spec-pinned against `bm25` over the
    * surviving corpus). Implementation: each state table compacts with
    * an anti-join filter (one rewrite per table, vacuumed so the bytes
    * go now), and the stats row RECOMPUTES from the surviving docstats —
    * O(current index), the erasure-op price, never paid on the fold
    * path. Folding continues normally afterwards: the fold ledger reads
    * applied batch ids from the postings deltas/fold-floor, which the
    * erasure compaction preserves monotonically.
    *
    * At 100 TB the rewrite dominates, so BATCH subject requests: one
    * `erase` call with the accumulated id set pays the same rewrite as
    * one id — GDPR's 30-day window is the amortization budget every
    * production erasure pipeline uses (Perf `gov-r8` measures the
    * one-shot cost at 10M docs).
    */
  def erase(spark: SparkSession, st: State,
            docIds: DataFrame): Unit = conflictIfRetired(spark, st) {
    val ids = broadcast(docIds.select(col(docIds.columns.head)
      .as("__erase_id")).distinct())
    def drop(t: BaseDelta.Table): Unit = {
      // the fold is an in-contract concurrent writer on every state
      // table, so reclaim WRITER-SAFE: bound at the pre-compact listed
      // ids — a fresh fold append's not-yet-listed dir is never swept
      val bound = BaseDelta.deltaBatches(spark, t)
        .maxOption.getOrElse(-1L)
      BaseDelta.compact(spark, t, allowSchemaEvolution = true,
        transform = Some(df =>
        df.join(ids, col("doc_id") === col("__erase_id"), "left_anti")))
      BaseDelta.vacuum(spark, t, writerSafeUpTo = Some(bound))
    }
    // the stats ledger survives the out-of-band correction: erasure does
    // not consume a batch id, so the republished row carries the batches
    // its docstats view holds ([[recomputedStats]]) — a later fold's
    // replay check stays exact. The correction rides the observation CAS
    // so a concurrent fold's merge cannot silently overwrite it (and vice
    // versa: a lost CAS here recomputes from the post-fold docstats).
    // The three tables are independent roots with independent protocols —
    // rewrite them concurrently (guide §2.6) instead of paying three
    // straggler tails back to back.
    graft.Par.run(Seq(st.postingsTable, st.positionsTable, st.docstatsTable)
      .map(t => () => drop(t)))
    publishStatsCas(spark, st, recomputedStats(spark, st, _))
    ()
  }

  /** DEFERRED right-to-erasure: the immediate-legal-ack form of
    * [[erase]]. Tombstone ledgers land on all three state tables (one
    * tiny atomic publish each — `BaseDelta.logicalErase`) and the
    * corpus statistics recompute from the now-filtered docstats view,
    * so every subsequent [[search]]/[[phraseSearch]] scores EXACTLY as
    * an index that never saw the docs — before any state table is
    * rewritten. The physical rewrite rides each table's next full
    * compaction (or [[BaseDelta.materializeErasures]] per table at a
    * scheduled slot); `BaseDelta.pendingTombstones` empty on all three
    * is the receipt-upgrade signal. Cost shape: O(|docstats|) stats
    * re-aggregate + three pointer flips, vs the eager path's
    * three-table rewrite — the 52-second one-shot becomes
    * milliseconds-ack + rewrite-later.
    */
  def eraseLogical(spark: SparkSession, st: State,
                   docIds: DataFrame): DataFrame = conflictIfRetired(spark, st) {
    // materialize the request-sized subject set ONCE: three ledger
    // publishes (plus the receipt scan) would otherwise each re-derive
    // the caller's subject plan — typically a filter over a source table
    val ids = docIds.select(col(docIds.columns.head).as("doc_id")).distinct()
      .coalesce(1).localCheckpoint(true)
    // ONE doc-level receipt (docstats: one row per doc); the other two
    // tables' ledgers publish without their own count scans. The three
    // ledgers live on independent roots — publish them concurrently
    // (guide §2.6).
    val results = graft.Par.run(Seq(
      () => Some(BaseDelta.logicalErase(spark, st.docstatsTable, "doc_id", ids)),
      () => { BaseDelta.logicalErase(spark, st.postingsTable, "doc_id", ids,
        countRows = false); None },
      () => { BaseDelta.logicalErase(spark, st.positionsTable, "doc_id", ids,
        countRows = false); None }))
    val receipt = results.head.get
    // stats correction reads the FILTERED docstats view; the fold
    // ledger (last_batch) is kept as in [[erase]] — and rides the same
    // observation CAS so a racing fold merge cannot undo the correction
    publishStatsCas(spark, st, recomputedStats(spark, st, _))
    receipt
  }

  /** BM25 scores of every indexed doc matching ≥1 query term —
    * bit-identical to `TextAnalysis.bm25` over the accumulated corpus.
    * Returns (doc_id, n_terms, score); wrap in `.orderBy(desc).limit(k)`
    * for top-k serving (plans as distributed TakeOrdered).
    */
  def search(spark: SparkSession, st: State,
             queryTerms: Seq[String], k1: Double = 1.2,
             b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val terms = queryTerms.distinct
    // normalize + hash the query's terms through the SAME expressions the
    // fold used (tokens = lower(trim(text)) split): an uppercased or
    // whitespace-padded query term must find its postings, not silently
    // match nothing — the bm25-equivalence contract is over normalized
    // terms
    val hashes = spark.createDataFrame(terms.map(Tuple1(_))).toDF("t")
      .select(xxhash64(lower(trim(col("t"))))).collect()
      .map(_.getLong(0)).toSeq.distinct
    val post = BaseDelta.read(spark, st.postingsTable,
        allowSchemaEvolution = true)
      .filter(col("term_h").isin(hashes: _*))
    val stats = SnapshotStore.read(spark, st.statsPath)
      .select(col("n_docs").cast("double").as("n_docs"),
        (col("sum_dl").cast("double") / col("n_docs").cast("double"))
          .as("avgdl"))
    val dfreq = post.groupBy(col("term_h"))
      .agg(count(lit(1)).cast("double").as("df"))
    val dl = BaseDelta.read(spark, st.docstatsTable,
      allowSchemaEvolution = true)
    val idf = log((col("n_docs") - col("df") + lit(0.5))
      / (col("df") + lit(0.5)) + lit(1.0))
    post.join(broadcast(dfreq), Seq("term_h"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("__t6", round6(
        (idf * (col("tf").cast("double") * lit(k1 + 1.0))) /
          (col("tf").cast("double") + lit(k1) * (lit(1.0 - b)
            + lit(b) * (col("dl").cast("double") / col("avgdl")))))
        .cast("decimal(18,6)"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("__t6")).cast("double").as("score"))
  }

  /** Exact phrase search from the PERSISTED positional postings — the
    * index-side form of [[TextAnalysis.phraseMatch]]: term i's postings
    * shift to `start = pos − i`, an occurrence is one (doc, start) key
    * present in every term frame. The `term_h IN (…)` prune reaches the
    * positional table's scans exactly as in [[search]], so a k-term
    * phrase reads only those k hashes' row groups — document text is
    * never touched at query time. Returns (doc_id, n_occurrences);
    * bit-identical to `phraseMatch` over the accumulated corpus (the
    * spec-pinned equivalence).
    */
  def phraseSearch(spark: SparkSession, st: State,
                   phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must be non-empty")
    // same normalization discipline as [[search]]: hash lower(trim(term))
    // so caller casing/padding can't silently zero out a phrase
    val hashes = spark.createDataFrame(phrase.distinct.map(Tuple1(_)))
      .toDF("t").select(col("t"), xxhash64(lower(trim(col("t")))).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val pos = BaseDelta.read(spark, st.positionsTable,
        allowSchemaEvolution = true)
      .filter(col("term_h").isin(hashes.values.toSeq: _*))
    val frames = phrase.zipWithIndex.map { case (t, i) =>
      pos.filter(col("term_h") === hashes(t))
        .select(col("doc_id"), (col("pos") - i).as("__start"))
    }
    frames.reduce((a, b) => a.join(b, Seq("doc_id", "__start")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_occurrences"))
  }
}
