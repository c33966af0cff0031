package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale design: nothing here is O(n²) over the corpus. Every fuzzy method
  * follows the same shape — per-doc signature (map-only) → bucket key
  * (band/chunk) → self-join *within buckets* (shuffle on bucket key) →
  * candidate verification. At 100 TB the bucket join is the only shuffle
  * and the candidate set is orders of magnitude smaller than n².
  *
  * Hot buckets: a feature shared by a huge number of documents (a
  * boilerplate shingle like "terms of service", an LSH bucket that a
  * templated corpus collapses into) would otherwise materialize one
  * corpus-sized array on one executor and explode |bucket|² pairs. Every
  * fuzzy operator therefore takes a `maxBucket` document-frequency cut:
  * buckets larger than it are dropped whole — standard MinHash-at-scale
  * practice (an ultra-common feature carries no similarity signal), with
  * executor memory bounded at O(maxBucket) by construction
  * (see functions.BoundedCollectList) and the dropped-bucket count
  * observable via the `audit` hook.
  */
object Dedup {

  /** Default document-frequency cut for bucketed candidate generation.
    * Sized by candidate economics, not just memory: one surviving bucket
    * of b members fans out b²/2 pairs into the verification shuffle, so
    * the cap is what keeps a templated corpus's heavy bucket tail from
    * turning into billions of candidates (measured: the 10M-doc stress
    * corpus generates multi-GB spills with a 4096 cap and runs cleanly at
    * 256 ≈ 32k pairs/bucket). A feature shared by >256 documents is a
    * template artifact, not a similarity signal — the same reasoning as
    * stopword removal. The harness documents corpus maxes out at
    * bucket size 25 (sf0.1), so the default never binds on clean data;
    * callers with legitimately hot features raise it explicitly.
    */
  val DefaultMaxBucket: Int = 256

  /** Canonical normalized text: lowercase, trim, collapse whitespace —
    * native one-pass form of `regexp_replace(lower(trim(text)), "\\s+", " ")`.
    */
  def normText(text: Column): Column =
    graft.functions.HashFunctions.normText(text)

  /** Exact dedup by normalized-text hash: one hash-aggregation. Returns one
    * row per distinct content: canonical (min) id + duplicate count.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), md5(normText(col(textCol))).as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** Keep only canonical rows (min id per content hash) — the filtering
    * side of exact dedup. Requires `idCol` to be unique per row (a doc id).
    *
    * Shuffle shape: the winner election groups (16-byte hash, id) only —
    * a `min` aggregation with map-side combine, no sort — and the full
    * rows then semi-join against the winner ids. The document text rides
    * exactly one shuffle (the semi-join), instead of twice (inside both
    * the hash key's source row and a `min_by` struct payload).
    */
  def exactKeepFirst(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val winners = df
      .select(md5(normText(col(textCol))).as("__h"), col(idCol))
      .groupBy(col("__h"))
      .agg(min(col(idCol)).as(idCol))
      .select(col(idCol))
    df.join(winners, Seq(idCol), "left_semi")
  }

  /** Incremental exact dedup: the production shape, where a NEW batch
    * dedups against an already-ingested corpus without recomputing
    * anything corpus-pairwise. Drops batch docs whose normalized content
    * already exists in `index`, then keeps one winner (min id) per
    * content within the batch — so appending the result to the corpus
    * preserves the corpus-wide exactly-one-copy invariant.
    *
    * Shuffle shape: the index side reduces to DISTINCT 16-byte content
    * hashes before anything moves (hash agg, map-side combine — document
    * text never leaves the index scan); batch (hash, id) pairs anti-join
    * those hashes and elect winners; full batch rows then ride exactly
    * one shuffle (the id semi-join). In steady state `index` is itself
    * just the accumulated hash column — pass it pre-projected and the
    * distinct collapses to a scan.
    */
  def incrementalExact(batch: DataFrame, index: DataFrame, idCol: String,
                       textCol: String): DataFrame = {
    val idxHashes = index.select(md5(normText(col(textCol))).as("__h")).distinct()
    val fresh = batch.select(md5(normText(col(textCol))).as("__h"), col(idCol))
      .join(idxHashes, Seq("__h"), "left_anti")
    val winners = fresh.groupBy(col("__h")).agg(min(col(idCol)).as(idCol))
      .select(col(idCol))
    batch.join(winners, Seq(idCol), "left_semi")
  }

  /** Dataset-version diff by content: classify every doc id across two
    * corpus snapshots as added / removed / changed / unchanged — the audit
    * every training-data release pipeline runs between crawls ("what moved
    * since v1?") and the input to incremental re-processing (only `added`
    * + `changed` need re-scoring/re-embedding; `removed` ids invalidate
    * downstream caches).
    *
    * Scale shape: each side reduces to (id, 16-byte content hash) at the
    * scan — document text never leaves it — then one full-outer hash join
    * on id. Change detection is hash equality over the same normalized
    * form `exact` dedups on, so "changed" means content-changed, not
    * whitespace-jittered.
    */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
                 textCol: String): DataFrame = {
    val o = oldDf.select(col(idCol), md5(normText(col(textCol))).as("__oh"))
    val n = newDf.select(col(idCol), md5(normText(col(textCol))).as("__nh"))
    o.join(n, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("__oh").isNull, lit("added"))
          .when(col("__nh").isNull, lit("removed"))
          .when(col("__oh") =!= col("__nh"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
  }

  /** Distinct word k-shingles of the normalized text (native one-pass
    * expression; see functions.WordShingles for the declarative
    * equivalent it matches).
    */
  def shingles(text: Column, k: Int = 3): Column =
    graft.functions.HashFunctions.wordShingles(text, k)

  /** MinHash signature over the doc's shingle set: native one-pass
    * expression (2 hashes per shingle via double hashing — see
    * functions.MinHashSignature). Map-only; signature size constant/doc.
    */
  def minHashSignature(shingleCol: Column, numHashes: Int): Column =
    graft.functions.HashFunctions.minhash(shingleCol, numHashes)

  /** MinHash + LSH near-duplicate candidate pairs.
    *
    * bands × rowsPerBand hashes; docs agreeing on all hashes of any band
    * land in the same bucket. Returns candidate pairs (id_a < id_b) with
    * their estimated Jaccard (fraction of matching signature positions).
    */
  def minHashLsh(df: DataFrame, idCol: String, textCol: String,
                 bands: Int = 8, rowsPerBand: Int = 4, k: Int = 3,
                 minEstJaccard: Double = 0.5,
                 maxBucket: Int = DefaultMaxBucket,
                 audit: Option[Observation] = None): DataFrame = {
    val numHashes = bands * rowsPerBand
    val sigs = df
      .select(col(idCol).as("id"), shingles(col(textCol), k).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", minHashSignature(col("sh"), numHashes))
      .select(col("id"), col("sig"))
    // band rows carry (id, band, bucket) ONLY — carrying the signature
    // here would duplicate it `bands`× through the bucket shuffle (at 10M
    // docs that is a ~20 GB shuffle of redundant bytes and an executor
    // OOM, measured in Perf scalellm); instead candidate ids join the
    // signature table back afterwards, so each signature crosses the wire
    // once per join side. The signature lineage is recomputed per use —
    // at corpus scale re-running the codegen'd sketch kernel is far
    // cheaper than shuffling its output multiplied by the band count.
    val banded = sigs.select(
      col("id"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          hash(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)).as("bucket"))
      }: _*)).as("bb"))
      .select(col("id"), col("bb.band"), col("bb.bucket"))
    // one shuffle on the bucket key; pairs generated inside each bucket.
    // (A self-join would compute the buckets twice and, worse, Spark
    // would broadcast the whole exploded index — a corpus-sized build side
    // at scale.)
    val cand = bucketPairs(banded, Seq("band", "bucket"),
      struct(col("id")), maxBucket, audit)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cand
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .withColumn("est_jaccard",
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), m => m))
          .cast("double") / numHashes)
      .filter(col("est_jaccard") >= minEstJaccard)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
  }

  /** The durable MinHash index artifact for incremental near-dup: one
    * (id, sig) row per doc. At 100 TB this is what a pipeline persists —
    * signatures are ~128 B/doc regardless of document size, so probing a
    * new batch reads the sketch table, never the corpus text. Map-only.
    */
  def minHashSigs(df: DataFrame, idCol: String, textCol: String,
                  numHashes: Int = 32, k: Int = 3): DataFrame =
    df.select(col(idCol).as("id"), shingles(col(textCol), k).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", minHashSignature(col("sh"), numHashes))
      .select(col("id"), col("sig"))

  /** Incremental MinHash-LSH: probe a NEW batch against a persisted
    * signature index ([[minHashSigs]]) and return cross near-dup
    * candidates (id_new, id_indexed, est_jaccard) — the "is this incoming
    * doc a near-dup of anything already ingested" question, answered
    * WITHOUT re-shingling the ingested corpus (its text is never read;
    * bands re-derive from the stored signatures with a map-only
    * slice+hash, ~1% of the corpus bytes).
    *
    * Both sides' band rows flow through the same capped [[bucketPairs]]
    * machinery as [[minHashLsh]] (union with a side tag; only cross-side
    * pairs survive), so bucket contents — and therefore the candidate
    * set and the df-prune cap behavior — are IDENTICAL to running the
    * full LSH over index ∪ batch and keeping the cross pairs: the
    * incremental path trades no recall beyond what the cap already
    * trades. Within-batch duplicates are deliberately not emitted — run
    * [[minHashLsh]] on the (small) batch itself for those.
    *
    * Scale: the batch's (band, bucket) key set — batch-sized, tiny next
    * to the corpus — BROADCASTS as a semi-join prefilter over the
    * index's band rows, so index rows die map-side unless their bucket
    * contains a batch member: the only shuffle carries batch bands plus
    * the index rows sharing a bucket with them (ids only; signatures
    * join back per side). This drops nothing: a bucket with no batch
    * member can produce no cross pair, and surviving buckets keep ALL
    * their members, so the `maxBucket` cut sees the same bucket contents
    * as the unfiltered union. Hot shingle-pattern buckets stay bounded
    * by `maxBucket` exactly as in the batch path.
    */
  def minHashProbe(batch: DataFrame, sigIndex: DataFrame,
                   idCol: String, textCol: String,
                   bands: Int = 8, rowsPerBand: Int = 4, k: Int = 3,
                   minEstJaccard: Double = 0.5,
                   maxBucket: Int = DefaultMaxBucket,
                   audit: Option[Observation] = None): DataFrame = {
    val numHashes = bands * rowsPerBand
    val newSigs = minHashSigs(batch, idCol, textCol, numHashes, k)
    def banded(sigs: DataFrame, side: Int): DataFrame = sigs.select(
      col("id"), lit(side).as("side"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          hash(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)).as("bucket"))
      }: _*)).as("bb"))
      .select(col("id"), col("side"), col("bb.band"), col("bb.bucket"))
    val newBands = banded(newSigs, 1)
    // map-side prefilter: only index rows whose bucket holds a batch
    // member reach the shuffle (see scaladoc — candidate-set preserving)
    val idxBands = banded(sigIndex, 0).join(
      broadcast(newBands.select(col("band"), col("bucket")).distinct()),
      Seq("band", "bucket"), "left_semi")
    val cand = bucketPairs(
      newBands.unionByName(idxBands),
      Seq("band", "bucket"), struct(col("side"), col("id")),
      maxBucket, audit)
      .filter(col("a.side") =!= col("b.side"))
      .select(
        when(col("a.side") === 1, col("a.id")).otherwise(col("b.id")).as("id_new"),
        when(col("a.side") === 1, col("b.id")).otherwise(col("a.id")).as("id_indexed"))
      .distinct()
    cand
      .join(newSigs.select(col("id").as("id_new"), col("sig").as("sig_a")), Seq("id_new"))
      .join(sigIndex.select(col("id").as("id_indexed"), col("sig").as("sig_b")), Seq("id_indexed"))
      .withColumn("est_jaccard",
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), m => m))
          .cast("double") / numHashes)
      .filter(col("est_jaccard") >= minEstJaccard)
      .select(col("id_new"), col("id_indexed"), col("est_jaccard"))
  }

  /** Within-bucket candidate-pair generation: group rows by `bucketKeys`,
    * collect the member list, emit ordered pairs (a < b by the struct's
    * sort order). Buckets with one member vanish; buckets with more than
    * `maxBucket` members are dropped whole (document-frequency prune —
    * see the object scaladoc). Pair explosion is bounded by
    * Σ min(|bucket|, maxBucket)² and per-group aggregation memory by
    * O(maxBucket), no matter how hot a key gets.
    *
    * `audit`, when given, observes `dropped_buckets` / `total_buckets`
    * counts on the bucket stream (Spark's CollectMetrics — zero extra
    * pass; read them after an action via `Observation.get`). Caveat
    * (same as `Linkage.fuzzyPairsBlocked`): when EVERY bucket drops or
    * is singleton, AQE's empty-relation propagation can collapse the
    * plan before CollectMetrics reports — an empty map plus an empty
    * result IS the all-dropped signal.
    */
  /** Measured pair-generator memory floor (MB per task slot): below it,
    * the bounded-collect buffers + spill readers of a default-partitioned
    * pair shuffle OOM (soak-r9 ~300 MB/core; re-confirmed by scale-r10's
    * 10M-doc fold failing at 250 MB/core and passing at 750).
    */
  private[graft] val PairGeneratorFloorMb = 300L

  /** Adaptive low-memory degradation for the pair generators: when the
    * JVM gives each task slot less than the measured floor, CAP the
    * pair shuffles' partition count at the number of concurrent tasks
    * the heap can give the floor to — fewer, bigger in-flight tasks
    * whose fixed unmanaged overhead fits (slower wall-clock through
    * idle slots, but green instead of OOM, with no env overrides; see
    * [[graft.gold.MemoryBudget]] for the measured reasoning). None =
    * each slot already has the floor; keep default partitioning. An
    * explicit `repartition(n, keys)` pins the count — AQE never
    * coalesces user-specified repartitions. `graft.test.mbPerCore`
    * overrides detection for deterministic specs.
    */
  private[graft] def adaptivePairParts(spark: SparkSession,
      floorMb: Long = PairGeneratorFloorMb): Option[Int] =
    // plan-pinned cap ONLY: the returned count bakes an AQE-exempt
    // repartition into the pair plan, so the memory bound survives no
    // matter when the caller acts on it. The SESSION-level levers
    // (shuffle-partition cap for non-pair stages, auto-broadcast
    // disable) are deliberately NOT flipped from a lazy plan builder —
    // they'd leak into every later query on the session (measured as a
    // uniform ~1.2× across the bench suite). Eager operators that own
    // their actions scope them via MemoryBudget.withLowMemoryProfile.
    graft.gold.MemoryBudget.pairParts(spark, floorMb)

  private[operators] def bucketPairs(df: DataFrame, bucketKeys: Seq[String],
                                     member: Column,
                                     maxBucket: Int = DefaultMaxBucket,
                                     audit: Option[Observation] = None): DataFrame = {
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    // low-memory degradation: scale the bucket shuffle so each task's
    // collect buffers fit the measured floor (see adaptivePairParts);
    // partitioned on exactly the group keys, so the aggregation below
    // reuses the exchange instead of adding one
    val sized = adaptivePairParts(df.sparkSession) match {
      case Some(n) => df.repartition(n, bucketKeys.map(col): _*)
      case None => df
    }
    val grouped = sized
      .groupBy(bucketKeys.map(col): _*)
      .agg(graft.functions.BoundedCollectList.column(member, maxBucket).as("ms"))
    val observed = audit match {
      case Some(obs) => grouped.observe(obs,
        sum(when(col("ms").isNull, 1L).otherwise(0L)).as("dropped_buckets"),
        count(lit(1)).as("total_buckets"))
      case None => grouped
    }
    // pairs are GENERATED lazily (orderedPairsGen), not materialized as an
    // n²/2 array first: a bucket at the cap would otherwise allocate ~8M
    // pair structs in a single row — O(cap²) executor memory that an
    // explode-over-array cannot avoid
    observed
      .filter(col("ms").isNotNull && size(col("ms")) > 1)
      .select(graft.functions.HashFunctions.orderedPairsGen(sort_array(col("ms"))))
  }

  /** Resolve near-dup candidate pairs into clusters: connected components
    * over the pair graph by iterative min-label propagation. Every node
    * gets `cluster_id` = the smallest id reachable from it, so "keep one
    * doc per near-dup cluster" becomes `filter(id === cluster_id)` (or an
    * anti-join for the drop list).
    *
    * Scale shape: per iteration, one join of the edge list against the
    * current labels, one min-aggregation, and one label-to-label jump
    * (pointer doubling) — all hash-partitioned on node id, no sort.
    * Pointer doubling halves the distance to each cluster's minimum every
    * round, so convergence is O(log diameter): dense near-dup families
    * finish in 2–3 rounds and even a chain-shaped cluster of a million
    * versions fits comfortably inside the default `maxIter`. The
    * driver-side loop does ONLY convergence control, never data — and the
    * convergence check is one tiny aggregate over the blocks the round's
    * checkpoint just materialized, not an extra join+count pass: labels
    * are MONOTONE (every update is a min, so a label only ever
    * decreases), hence a round changed something iff the exact sum of all
    * labels strictly decreased. The sum runs in DECIMAL(38,0), exact at
    * any id magnitude and count.
    *
    * Rounds, their checkpoint kind, layout and release follow [[Loop]].
    * An empty pair frame returns the empty `(id, cluster_id)` frame.
    */
  def resolveClusters(pairs: DataFrame, aCol: String = "id_a",
                      bCol: String = "id_b", maxIter: Int = 20): DataFrame =
    // eager (persist + per-round actions over the pair plan) → it OWNS
    // its actions, so the sub-floor degradation is scoped here like the
    // ClusterIndex fold/erase family — a lazy pair BUILDER must never
    // flip session confs (the r11 sticky-profile lesson), but an
    // executor of pair plans at a sub-floor heap must not run them with
    // optimistic auto-broadcast live
    graft.gold.MemoryBudget.withLowMemoryProfile(pairs.sparkSession)(
      resolveClustersBody(pairs, aCol, bCol, maxIter))

  private def resolveClustersBody(pairs: DataFrame, aCol: String,
                                  bCol: String, maxIter: Int): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // the edge frame is persisted anyway, so one count sizes the loop
      // (the [[Loop]] layout) and answers the empty input
      val nEdges = edges.count()
      if (nEdges == 0)
        edges.select(col("src").as("id"), col("src").as("cluster_id")).limit(0)
      else Loop(nEdges)(propagate(_, edges, maxIter))
    } finally edges.unpersist()
  }

  private def propagate(loop: Loop, edges: DataFrame, maxIter: Int): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val single = loop.width.single
    // exact label sum — the monotone convergence witness (see scaladoc);
    // a cheap scan of already-checkpointed blocks, no join, no recompute
    def labelSum(df: DataFrame): java.math.BigDecimal = df
      .agg(coalesce(sum(col("cluster_id").cast("decimal(38,0)")),
        lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)")))
      .head.getDecimal(0)
    // the loop's view of the edge frame. Single mode re-materializes it
    // ONCE as a one-partition checkpoint — two measured effects on q134:
    // (a) the loop's plans carry no InMemoryRelation, so AQE has no
    // per-round TableCacheQueryStage jobs to submit (x55 submissions
    // ≈ 2.3 s/run); (b) the cache blocks are released up front (without
    // the restated SinglePartition the per-round join re-exchanged the
    // edge side every round: 9 MB of shuffle writes across the loop).
    // Big mode keeps the persisted frame at session width.
    val loopEdges =
      if (single) {
        val e1 = loop.hold(loop.pin(edges))
        edges.unpersist()
        e1
      } else edges
    // Single mode also hints the node-sized join side SHUFFLE_HASH: with
    // auto-broadcast commonly off here (the sub-floor MemoryBudget
    // profile), the planner would pick sort-merge and re-SORT the
    // edge-sized stream side once per round on one task; a hash build of
    // the node-sized side streams the edges with no sort at all. Big
    // mode keeps the planner's choice (a per-partition hash build at
    // cluster widths is a memory bet the deployment should place, not
    // this loop).
    var labels = loop.round(loopEdges.select(col("src").as("id")).distinct()
      .withColumn("cluster_id", col("id")))
    var prevSum = labelSum(labels)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // each node adopts the min of its own and its neighbors' labels…
      val proposals = loopEdges
        .join(loop.width.hashSide(labels.withColumnRenamed("id", "dst")), Seq("dst"))
        .select(col("src").as("id"), col("cluster_id"))
      // materialized because the jump is a SELF-join: unmaterialized,
      // the propagate join+aggregation would execute twice per round
      // (the two join inputs are identical subtrees; exchange reuse
      // shares only the shuffle files under them, not the aggregation
      // work). Single mode CHECKPOINTS it as a round instead of
      // persisting: a cached scan above an adaptive plan reports
      // Unknown partitioning (which re-inserts session-width exchanges
      // under the self-join) and every cache reference becomes its own
      // AQE TableCacheQueryStage job — a checkpointed one-partition
      // leaf has neither problem. `pin` restates SinglePartition over
      // the 2-partition union so the aggregation plans exchange-free.
      val propagatedRaw = loop.pin(labels.unionByName(proposals))
        .groupBy(col("id")).agg(min(col("cluster_id")).as("cluster_id"))
      val propagated =
        if (single) loop.round(propagatedRaw)
        else propagatedRaw.persist(StorageLevel.MEMORY_AND_DISK)
      // …then jumps to its label's label (pointer doubling): labels are
      // monotone (label(x) <= x), so the jump only improves, and the
      // effective distance to the cluster minimum halves per round —
      // O(log diameter) rounds instead of O(diameter), which is what
      // lets maxIter=20 cover even chain-shaped clusters of ~10⁶ docs
      val jump = propagated
        .join(loop.width.hashSide(propagated
            .select(col("id").as("cluster_id"), col("cluster_id").as("__jump"))),
          Seq("cluster_id"))
        .select(col("id"), col("__jump").as("cluster_id"))
      val next = loop.round(jump)
      if (!single)
        propagated.unpersist() // next is already materialized (eager checkpoint)
      val s = labelSum(next)
      converged = s.compareTo(prevSum) == 0 // any change strictly lowers the sum
      prevSum = s
      labels = next
      iter += 1
    }
    require(converged, s"resolveClusters did not converge in $maxIter iterations")
    labels
  }

  /** 64-bit SimHash over whitespace tokens: per-token 64-bit hash votes
    * ±1 per bit (term-frequency weighted); fingerprint bit b is 1 when the
    * vote is positive. Native one-pass expression — map-only, no shuffle
    * (the declarative form needs an explode + 64-column groupBy).
    */
  def simHash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      graft.functions.HashFunctions.simhash64(
        split(normText(col(textCol)), " ")).as("simhash"))

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming, found via
    * the pigeonhole band trick: split 64 bits into `chunks` chunks; any
    * pair within distance maxHamming ≤ chunks-1 must agree on ≥1 chunk →
    * bucket-join on (chunk_id, chunk_value), verify with bit_count.
    */
  def simHashPairs(sim: DataFrame, chunks: Int = 4, maxHamming: Int = 3,
                   maxBucket: Int = DefaultMaxBucket,
                   audit: Option[Observation] = None): DataFrame = {
    val bits = 64 / chunks
    val chunked = sim.select(
      col("id"), col("simhash"),
      explode(array((0 until chunks).map { c =>
        struct(lit(c).as("chunk"),
          shiftright(col("simhash"), c * bits)
            .bitwiseAND((1L << bits) - 1).as("cv"))
      }: _*)).as("cc"))
      .select(col("id"), col("simhash"), col("cc.chunk"), col("cc.cv"))
    bucketPairs(chunked, Seq("chunk", "cv"), struct(col("id"), col("simhash")),
        maxBucket, audit)
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(first(col("a.simhash")).as("h_a"), first(col("b.simhash")).as("h_b"))
      .withColumn("hamming", bit_count(col("h_a").bitwiseXOR(col("h_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Exact n-gram Jaccard similarity over inverted-index candidates —
    * never all-pairs. With `prefixFilter`, never even all-postings:
    * prefix filtering (the ppjoin family's candidate cut) indexes only
    * each doc's rarest `⌈(1−t)·|sh|⌉+1` shingles.
    *
    * Why the prefix cut is lossless: fix any global total order on
    * shingles (here: ascending document frequency, ties by hash). If
    * J(A,B) ≥ t then |A∩B| ≥ t·|A|, so A's intersection elements cannot
    * all hide in A's last ⌈t·|A|⌉−1 positions — at least one falls in the
    * first |A|−⌈t·|A|⌉+1 (same for B). Indexing only those prefixes keeps
    * every qualifying pair reachable, while the hot head of the frequency
    * distribution (boilerplate shingles that drive Σ|bucket|² candidate
    * cost) sits in docs' suffixes and never enters the index; candidates
    * are then verified exactly on the FULL shingle sets.
    *
    * Cap semantics differ when `maxBucket` BINDS (never on a corpus whose
    * max document frequency stays under it — then the paths are
    * identical): the counting path's n_shared counts only surviving
    * buckets, i.e. it computes jaccard with >maxBucket-frequency shingles
    * treated as stopwords (their contribution to the numerator is
    * dropped), while the prefix path verifies against full sets and keeps
    * the template shingles in the score. Stopword-discounted similarity
    * is usually what dedup wants on templated corpora; pick the prefix
    * path when the raw score must be exact there.
    *
    * Which path to pick for cost (measured, sf0.1, local[32]): the
    * default counting path for low-duplication corpora or thresholds
    * ≲0.3 — the prefix machinery's fixed costs outweigh its cut there;
    * the prefix path for templated/boilerplate corpora or high
    * thresholds, where the candidate set collapses by orders of
    * magnitude.
    */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 3, threshold: Double = 0.2,
                   maxBucket: Int = DefaultMaxBucket,
                   audit: Option[Observation] = None,
                   prefixFilter: Boolean = false): DataFrame = {
    val docs = df.select(col(idCol).as("id"), shingles(col(textCol), k).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("n_sh", size(col("sh")))
    if (!prefixFilter) {
      // counting path: n_shared falls out of bucket co-occurrence over the
      // FULL index — no verification join. Fastest when the candidate set
      // is naturally small (low-duplication corpus, or a low threshold
      // where the prefix cut ⌈t·|sh|⌉ is tiny anyway): measured at sf0.1 /
      // t=0.2 this runs ~2 s where the prefix path's fixed costs (document-
      // frequency join + per-doc rank + verify joins) total ~8 s.
      val inv = docs.select(col("id"), col("n_sh"),
        explode(transform(col("sh"), s => xxhash64(s))).as("s"))
      jaccardFromPostings(inv, threshold, maxBucket, audit)
    } else {
      // prefix path: candidates from the rarest-shingle prefixes only,
      // verified exactly on the full (hashed) shingle sets. Use when the
      // corpus is templated/boilerplate-heavy or the threshold is high —
      // there the candidate collapse (OperatorsSpec shows >100× on a
      // templated corpus) dwarfs the fixed verification cost.
      val cand = ngramCandidates(docs, threshold, maxBucket, audit, prefixFilter = true)
      val hashed = docs.withColumn("hs", transform(col("sh"), s => xxhash64(s)))
      // verify on hash arrays, not strings: same semantics as the counting
      // path (shared-hash count), ~2.5× less join payload
      val a = hashed.select(col("id").as("id_a"), col("hs").as("hs_a"), col("n_sh").as("n_a"))
      val b = hashed.select(col("id").as("id_b"), col("hs").as("hs_b"), col("n_sh").as("n_b"))
      cand.join(a, Seq("id_a")).join(b, Seq("id_b"))
        .withColumn("n_shared", size(array_intersect(col("hs_a"), col("hs_b"))))
        .withColumn("jaccard",
          col("n_shared").cast("double") / (col("n_a") + col("n_b") - col("n_shared")))
        .filter(col("jaccard") >= threshold)
        .select(col("id_a"), col("id_b"), col("jaccard"))
    }
  }

  /** Candidate (id_a, id_b) pairs sharing ≥1 indexed shingle. Exposed for
    * the candidate-count comparison in specs; `ngramJaccard` is the
    * verified product form.
    */
  /** The counting path over a PRECOMPUTED inverted index `(id, s, n_sh)`
    * — exactly [[graft.operators.ClusterIndex.batchPostings]]'s shape, so
    * the incremental fold's within-batch pairs reuse its already-persisted
    * postings instead of re-shingling and re-hashing the whole batch
    * (at scale that second pass is a full batch re-scan; measured ~3 s of
    * the 15 s sf0.1 fold). Semantics identical to [[ngramJaccard]]'s
    * default path: bucket co-occurrence count, >maxBucket shingles
    * treated as stopwords.
    */
  private[graft] def jaccardFromPostings(inv: DataFrame, threshold: Double,
                                         maxBucket: Int = DefaultMaxBucket,
                                         audit: Option[Observation] = None)
      : DataFrame =
    bucketPairs(inv, Seq("s"), struct(col("id"), col("n_sh")), maxBucket, audit)
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.n_sh").as("n_a"), col("b.n_sh").as("n_b"))
      .agg(count(lit(1)).as("n_shared"))
      .withColumn("jaccard",
        col("n_shared").cast("double") / (col("n_a") + col("n_b") - col("n_shared")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  private[graft] def ngramCandidates(docs: DataFrame, threshold: Double,
                                     maxBucket: Int, audit: Option[Observation],
                                     prefixFilter: Boolean): DataFrame = {
    // shuffle on 64-bit shingle hashes, not strings: ~8× less volume
    // (collision odds across a doc pair are ~|sh|²/2⁶⁴, and a collision
    // only ADDS a candidate that exact verification rejects); postings are
    // computed once and never broadcast
    val post = docs.select(col("id"), col("n_sh"),
      explode(transform(col("sh"), s => xxhash64(s))).as("s"))
    val indexed =
      if (!prefixFilter) post.select(col("id"), col("s"))
      else {
        val dfreq = post.groupBy(col("s")).agg(count(lit(1)).as("__df"))
        // ceil with a tiny downward nudge: if t·n is exactly integral,
        // float error rounding it UP would shorten the prefix below the
        // pigeonhole bound (a correctness bug); one element too long is
        // merely a few extra candidates
        val p = (col("n_sh") - ceil(col("n_sh") * lit(threshold) - lit(1e-9)) + 1)
        post.join(dfreq, Seq("s"))
          .withColumn("__rnk", row_number().over(
            Window.partitionBy(col("id")).orderBy(col("__df").asc, col("s").asc)))
          .filter(col("__rnk") <= p)
          .select(col("id"), col("s"))
      }
    bucketPairs(indexed, Seq("s"), struct(col("id")), maxBucket, audit)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Substring-level duplication audit: per-doc fraction of token
    * positions whose k-token window also occurs in at least `minDocFreq`
    * distinct documents — the window-level exact-substring dedup signal
    * (the "dedup at the 50-token-span level, not the document level"
    * approach of the train-data dedup literature), reported as metrics so
    * the caller picks the filter threshold.
    *
    * Returns one row per doc with ≥ k tokens: `n_windows`,
    * `n_dup_windows`, `dup_fraction`.
    *
    * Scale shape: windows are hashed to 64 bits before they ever shuffle
    * (a collision can only over-mark one window as duplicated — the safe
    * direction for a dedup audit). Information flow needs two passes over
    * the window postings — a global per-window document frequency, and the
    * per-doc attribution of that frequency — so the explode+hash map stage
    * is instantiated twice (Catalyst specializes each copy: distinct-only
    * for the df side, counted for the attribution side, which also defeats
    * exchange reuse between them). At corpus scale recomputing the
    * codegen'd explode is deliberately preferred over persisting a
    * corpus-sized postings frame — the same recompute-over-materialize
    * trade `minHashLsh` makes for signatures. Everything else is
    * map-side-combinable hash aggregation and one hash join on the window
    * key; nothing pairwise, nothing driver-side.
    */
  def windowDupStats(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 8, minDocFreq: Int = 2): DataFrame = {
    require(k >= 1, s"window size must be >= 1, got $k")
    require(minDocFreq >= 2, s"minDocFreq must be >= 2, got $minDocFreq")
    val base = df.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__tk"))
      .filter(size(col("__tk")) >= k)
    // per-(doc, window) occurrence counts; row count per window across
    // docs = its document frequency, Σ__cnt per doc = total positions
    val counts = base.select(col(idCol), explode(transform(
        sequence(lit(1), size(col("__tk")) - (k - 1)),
        i => xxhash64(concat_ws(" ",
          (0 until k).map(j => element_at(col("__tk"), i + j)): _*)))).as("__w"))
      .groupBy(col(idCol), col("__w")).agg(count(lit(1)).as("__cnt"))
    val dfreq = counts.groupBy(col("__w")).agg(count(lit(1)).as("__df"))
    // annotate every (doc, window) posting with its document frequency and
    // fold both metrics in ONE per-doc aggregation — every doc with ≥ k
    // tokens appears (join key __w always matches), so no outer join or
    // null fill is needed
    counts.join(dfreq, Seq("__w"))
      .groupBy(col(idCol))
      .agg(sum(col("__cnt")).as("n_windows"),
        sum(when(col("__df") >= minDocFreq, col("__cnt")).otherwise(0L))
          .as("n_dup_windows"))
      .withColumn("dup_fraction",
        col("n_dup_windows").cast("double") / col("n_windows"))
      .select(col(idCol), col("n_windows"), col("n_dup_windows"), col("dup_fraction"))
  }

  /** The transformation [[windowDupStats]] audits: REMOVE every token
    * position covered by a k-token window that occurs in ≥ `minDocFreq`
    * distinct documents (span-level exact dedup — the "drop the duplicated
    * 50-token span, keep the rest of the doc" move of the train-data dedup
    * literature), and re-join the survivors into cleaned text.
    *
    * Output: one row per input doc — (idCol, n_tokens, n_removed,
    * cleaned_text), where cleaned_text is the kept tokens joined by a
    * single space (text is whitespace-normalized by construction; docs
    * losing every token yield "").
    *
    * Scale shape: window hashes (64-bit — a collision only over-removes a
    * span, the safe direction for dedup) → one document-frequency agg →
    * a semi-join marking duplicated postings → position explode of ONLY
    * the duplicated windows (k× amplification of the dup subset, not the
    * corpus) → per-doc anti-join + ordered reassembly. The reassembly
    * `collect_list` is bounded by single-document length — the same bound
    * any per-doc text row already carries.
    */
  def removeDupWindows(df: DataFrame, idCol: String, textCol: String,
                       k: Int = 8, minDocFreq: Int = 2): DataFrame = {
    require(k >= 1, s"window size must be >= 1, got $k")
    require(minDocFreq >= 2, s"minDocFreq must be >= 2, got $minDocFreq")
    val base = df.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__tk"))
      .withColumn("__n", size(col("__tk")))
    val wins = base.filter(col("__n") >= k)
      .select(col(idCol), explode(transform(
        sequence(lit(1), col("__n") - (k - 1)),
        i => struct(i.as("i"), xxhash64(concat_ws(" ",
          (0 until k).map(j => element_at(col("__tk"), i + j)): _*)).as("w"))))
        .as("__win"))
      .select(col(idCol), col("__win.i").as("__i"), col("__win.w").as("__w"))
    val dup = wins.groupBy(col("__w"))
      .agg(countDistinct(col(idCol)).as("__df"))
      .filter(col("__df") >= minDocFreq)
      .select(col("__w"))
    val covered = wins.join(dup, Seq("__w"), "left_semi")
      .select(col(idCol), explode(sequence(col("__i"), col("__i") + (k - 1))).as("__p"))
      .distinct()
    val kept = base
      .select(col(idCol), posexplode(col("__tk")).as(Seq("__p0", "__tok")))
      .withColumn("__p", col("__p0") + 1)
      .join(covered, Seq(idCol, "__p"), "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__nk"),
        array_join(transform(
          sort_array(collect_list(struct(col("__p"), col("__tok")))),
          x => x.getField("__tok")), " ").as("__txt"))
    base.join(kept, Seq(idCol), "left")
      .select(col(idCol), col("__n").cast("long").as("n_tokens"),
        (col("__n").cast("long") - coalesce(col("__nk"), lit(0L))).as("n_removed"),
        coalesce(col("__txt"), lit("")).as("cleaned_text"))
  }

  /** Asymmetric shingle CONTAINMENT pairs: `|A∩B| / min(|A|, |B|)` ≥
    * threshold — the excerpt/quote detector Jaccard misses. A 50-shingle
    * snippet fully embedded in a 5000-shingle page has Jaccard ≈ 0.01
    * (invisible at any usable threshold) but containment 1.0; dedup
    * pipelines run BOTH: Jaccard for same-size near-dups, containment for
    * subset duplication (syndicated quotes, boilerplate-wrapped reposts).
    *
    * Same inverted-index plan as [[ngramJaccard]]'s counting path — one
    * shuffle on 64-bit shingle hashes, `maxBucket` hot-bucket economics,
    * co-occurrence counting, no verification join. Output is
    * (id_a, id_b, n_a, n_b, n_shared, containment): the symmetric max
    * `n_shared / min(n_a, n_b)` is thresholded, and the per-side set
    * sizes are kept so both directed containments (`n_shared / n_a`,
    * `n_shared / n_b`) are recoverable downstream.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       k: Int = 3, threshold: Double = 0.8,
                       maxBucket: Int = DefaultMaxBucket,
                       audit: Option[Observation] = None): DataFrame = {
    val docs = df.select(col(idCol).as("id"), shingles(col(textCol), k).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("n_sh", size(col("sh")))
    val inv = docs.select(col("id"), col("n_sh"),
      explode(transform(col("sh"), s => xxhash64(s))).as("s"))
    bucketPairs(inv, Seq("s"), struct(col("id"), col("n_sh")), maxBucket, audit)
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.n_sh").as("n_a"), col("b.n_sh").as("n_b"))
      .agg(count(lit(1)).as("n_shared"))
      .withColumn("containment",
        col("n_shared").cast("double") / least(col("n_a"), col("n_b")))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"),
        col("n_a").cast("long").as("n_a"), col("n_b").cast("long").as("n_b"),
        col("n_shared"), col("containment"))
  }

  /** Sparse tf·idf cosine pair similarity: document pairs whose
    * idf-weighted k-shingle term vectors have cosine >= `minCosine` —
    * the classic sparse-vector near-dup/similarity measure (SPLADE-style
    * lexical retrieval, near-dup mining where Jaccard's set semantics
    * lose term-frequency signal). Complements q23 (unweighted Jaccard)
    * and q24/q66 (dense embeddings): no embedding model needed, but
    * repeated and rare terms weigh in.
    *
    * Exactness across engines: weights quantize to integer MILLI-units
    * (`floor(tf·ln(N/df)·1e3 + 0.5)` — ln and IEEE division agree across
    * engines, the q56/q58/q67 precedent), so norms and dots are exact
    * BIGINT sums (order-independent); the final cosine divides exact
    * longs in double and rounds to 6 decimals before the threshold.
    * Overflow contract: per-doc norms Σw² are computed in DECIMAL(38,0)
    * (exact at any magnitude; a per-doc aggregation, off the pair-join
    * hot path) and the operator RAISES if any doc's Σw² exceeds 2⁶²
    * instead of wrapping — a doc that hot needs ~10⁵+ copies of one
    * shingle, a repetition artifact to clean upstream, not score. Below
    * that bound every long product and partial sum in the dot path is
    * safe by Cauchy–Schwarz (w_a·w_b ≤ max(w_a², w_b²) ≤ Σw² and
    * Σ w_a·w_b ≤ √(Σw_a²·Σw_b²), all weights non-negative).
    *
    * Scale shape: the inverted-index plan — postings shuffle on 64-bit
    * shingle hashes (never shingle text), document frequencies prune
    * terms with df > `maxDf` (the object-scaladoc hot-bucket economics:
    * an ultra-common term carries no similarity signal but fans out df²
    * join rows), pair cost is Σ df² over surviving terms. Three hash
    * aggregations + one self-join; nothing driver-side except the 1-row
    * corpus count.
    */
  def tfidfCosinePairs(df: DataFrame, idCol: String, textCol: String,
                       k: Int = 3, minCosine: Double = 0.5,
                       maxDf: Int = DefaultMaxBucket): DataFrame = {
    require(k >= 1, s"shingle size must be >= 1, got $k")
    val base = df.select(col(idCol).as("id"),
        TextAnalysis.tokens(col(textCol)).as("__tk"))
      .filter(size(col("__tk")) >= k)
    val tf = base.select(col("id"), explode(transform(
        sequence(lit(1), size(col("__tk")) - (k - 1)),
        i => xxhash64(concat_ws(" ",
          (0 until k).map(j => element_at(col("__tk"), i + j)): _*)))).as("t"))
      .groupBy(col("id"), col("t")).agg(count(lit(1)).as("tf"))
    val nd = tf.agg(countDistinct(col("id")).cast("double").as("nd"))
    val dfreq = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    val w = tf.join(dfreq, Seq("t")).crossJoin(broadcast(nd))
      .withColumn("w", floor(col("tf") * log(col("nd") / col("df")) * 1e3 + 0.5)
        .cast("long"))
    // exact decimal norm + loud overflow guard — see the scaladoc contract
    val wDec = col("w").cast("decimal(19,0)")
    val norms = w.groupBy(col("id"))
      .agg(sum(wDec * wDec).as("__nsq_dec"))
      .withColumn("nsq", when(col("__nsq_dec") <= lit(1L << 62),
          col("__nsq_dec").cast("long"))
        .otherwise(raise_error(concat(
          lit("tfidfCosinePairs: Σw² overflow for doc id="), col("id").cast("string"),
          lit(" (norm "), col("__nsq_dec").cast("string"),
          lit(" > 2^62) — pathologically repetitive document; dedup/clean it upstream")))))
      .select(col("id"), col("nsq"))
      .filter(col("nsq") > 0)
    val dots = w.select(col("id").as("id_a"), col("t"), col("w").as("w_a"))
      .join(w.select(col("id").as("id_b"), col("t"), col("w").as("w_b")), Seq("t"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(sum(col("w_a") * col("w_b")).as("dot"))
    dots
      .join(norms.select(col("id").as("id_a"), col("nsq").as("nsq_a")), Seq("id_a"))
      .join(norms.select(col("id").as("id_b"), col("nsq").as("nsq_b")), Seq("id_b"))
      .withColumn("cosine", floor(col("dot").cast("double") /
          (sqrt(col("nsq_a").cast("double")) * sqrt(col("nsq_b").cast("double")))
          * 1e6 + 0.5) / 1e6)
      .filter(col("cosine") >= minCosine)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Pairwise corpus-overlap matrix: for every pair of groups (sources),
    * the number of shared distinct word k-shingles and the Jaccard over
    * the groups' shingle sets — exact up to 64-bit hashing of the
    * shingles (a cross-group collision adds phantom overlap, a
    * within-group one shrinks a set size; odds ~|shingles|²/2⁶⁴, same
    * no-collision equivalence the q55/q59 oracles rely on). The
    * oracle-checkable counterpart of the MinHash-union estimate
    * (functions.MinHashUnion) — run both to cross-validate the sketch.
    *
    * Scale shape: one distinct over (group, 64-bit shingle hash) postings,
    * then a self-join on the hash. Each shingle can appear in at most
    * |groups| rows per side, so within-key join fan-out is bounded by the
    * (small) group count no matter how hot the shingle — the safe analog
    * of the document-level bucket join that needs `maxBucket`.
    */
  def groupOverlap(df: DataFrame, groupCol: String, textCol: String,
                   k: Int = 3): DataFrame = {
    val post = df.select(col(groupCol).as("grp"),
        explode(transform(shingles(col(textCol), k), s => xxhash64(s))).as("s"))
      .distinct()
    val sizes = post.groupBy(col("grp")).agg(count(lit(1)).as("n"))
    post.select(col("grp").as("grp_a"), col("s"))
      .join(post.select(col("grp").as("grp_b"), col("s")), Seq("s"))
      .filter(col("grp_a") < col("grp_b"))
      .groupBy(col("grp_a"), col("grp_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(sizes.select(col("grp").as("grp_a"), col("n").as("n_a")), Seq("grp_a"))
      .join(sizes.select(col("grp").as("grp_b"), col("n").as("n_b")), Seq("grp_b"))
      .withColumn("jaccard",
        col("n_shared").cast("double") / (col("n_a") + col("n_b") - col("n_shared")))
      .select(col("grp_a"), col("grp_b"), col("n_shared"), col("jaccard"))
  }

  /** Pick one representative per near-dup cluster: the member with the
    * highest `scoreCol` (ties: smallest id). `clusters` is
    * `resolveClusters` output (id, cluster_id); `scored` supplies
    * (idCol, scoreCol). Returns (cluster_id, rep_id, n_docs, rep_score).
    *
    * Two-phase election so every aggregate stays a HashAggregate over
    * primitive buffers: per-cluster max score + member count first, then
    * min id among the members at the max. The single-agg
    * `max_by(id, struct(score, -id))` form would be one shuffle fewer but
    * its struct-typed buffer forces a SortAggregate (per-partition sort of
    * the full membership — the expensive shape at corpus scale, caught by
    * PlanSpec); the per-cluster frame joined back here is small and
    * AQE-broadcastable. The standard "keep best doc per duplicate family"
    * step after fuzzy dedup.
    */
  def clusterRepresentatives(clusters: DataFrame, scored: DataFrame,
                             idCol: String, scoreCol: String): DataFrame = {
    // LEFT join: a member missing from `scored` (e.g. scores computed only
    // for docs passing some gate) must still count toward n_docs and must
    // not silently erase its whole cluster. Unscored members carry a null
    // score, which max() ignores — they can only win if NO member is
    // scored (then rep_score is null and the null-safe <=> keeps them in
    // the election, falling through to the min-id tie-break).
    val members = clusters
      .join(scored.select(col(idCol).as("id"), col(scoreCol).as("__score")),
        Seq("id"), "left")
    val perCluster = members.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_docs"), max(col("__score")).as("rep_score"))
    members.join(perCluster, Seq("cluster_id"))
      .filter(col("__score") <=> col("rep_score"))
      .groupBy(col("cluster_id"))
      .agg(min(col("id")).as("rep_id"),
        first(col("n_docs")).as("n_docs"),
        first(col("rep_score")).as("rep_score"))
      .select(col("cluster_id"), col("rep_id"), col("n_docs"), col("rep_score"))
  }

  /** Embedding-cosine near-duplicate pairs. Candidate generation by
    * random-hyperplane LSH over the embedding (sign-bit bucket of
    * `numPlanes` fixed pseudo-random hyperplanes derived from xxhash64 —
    * fully deterministic), verification with the native cosine expression.
    */
  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String,
                       minCosine: Double = 0.95, numPlanes: Int = 8,
                       numTables: Int = 4,
                       maxBucket: Int = DefaultMaxBucket,
                       audit: Option[Observation] = None): DataFrame = {
    import graft.functions.{HashFunctions, VectorFunctions}
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    // native one-pass bucket computation per table (fixed pseudo-random
    // hyperplanes from splitmix64 — deterministic across runs/partitions).
    // Bucket rows carry ids only — the embedding would otherwise ride the
    // bucket shuffle numTables× (same OOM shape minHashLsh had at 10M
    // docs); candidates join the vectors back once per side instead.
    val bucketed = base
      .withColumn("bkts", HashFunctions.lshBuckets(col("v"), numTables, numPlanes))
      .select(col("id"), posexplode(col("bkts")).as(Seq("tbl", "bucket")))
    bucketPairs(bucketed, Seq("tbl", "bucket"), struct(col("id")),
        maxBucket, audit)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
      .join(base.select(col("id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
      .withColumn("cosine", VectorFunctions.cosine(col("v_a"), col("v_b")))
      .filter(col("cosine") >= minCosine)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Semantic dedup, cluster-then-prune (the SemDeDup recipe: partition the
    * embedding space into clusters, then drop near-identical members within
    * each cluster — pairwise cost collapses from corpus² to Σ cluster²).
    * Reference capability: the near-dup screens its readme declares for
    * document feeds (reference readme.md:69); this is the embedding-space
    * form for training-data curation.
    *
    * Deterministic contract (reproducible across runs AND engines):
    *   - cluster seeds = the `nClusters` corpus vectors with the smallest
    *     ids (no RNG — swap in `Similarity.kmeansRefine` output when seed
    *     quality matters more than replayability);
    *   - assignment = argmax cosine to seed, ties to the smallest seed id
    *     (two-phase hash-agg election — a struct max_by would degrade to
    *     SortAggregate);
    *   - prune = member b is dropped iff some same-cluster member a < b
    *     has cosine(a, b) ≥ `minCosine`; cosines round to 6 decimals
    *     before every comparison so float summation order can't flip a
    *     boundary pair.
    *
    * Scale shape: seeds are O(nClusters) via distributed TakeOrdered and
    * broadcast; assignment is one map-side crossJoin against that
    * broadcast + two hash aggs — the corpus never shuffles for scoring.
    * The within-cluster self-join shuffles (cluster_id, id) pairs only
    * (vectors join back per side) and is bounded by `maxCluster` with the
    * standard dropped-bucket `audit` hook; size `nClusters` ∝ corpus (the
    * SemDeDup paper runs ~10⁵ clusters at 10⁹ docs) so Σ cluster² stays
    * linear-ish. Zero-norm vectors score 0.0 (not null/NaN) by definition.
    *
    * Output: one row per input vector — (idCol, cluster_id, kept 1|0).
    */
  def semDedup(vecs: DataFrame, idCol: String, vecCol: String,
               nClusters: Int = 8, minCosine: Double = 0.95,
               maxCluster: Int = DefaultMaxBucket,
               audit: Option[Observation] = None): DataFrame = {
    import graft.functions.VectorFunctions
    require(nClusters >= 1, s"nClusters must be >= 1, got $nClusters")
    val round6 = (c: Column) => floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
    val cos6 = (a: Column, b: Column) =>
      round6(coalesce(VectorFunctions.cosine(a, b), lit(0.0)))
    val base = vecs.select(col(idCol).as("id"), col(vecCol).as("v"))
    // orderBy().limit(n) plans as distributed TakeOrdered — same reasoning
    // as Similarity.centroids
    val seeds = base.orderBy(col("id").asc).limit(nClusters)
      .select(col("id").as("sid"), col("v").as("sv"))
    // dense seed rank 0..k−1 (constant-partition window over k rows — k is
    // a user constant, so the single partition is bounded by construction)
    val seedW = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(0)).orderBy(col("sid").asc)
    val seedsIdx = seeds.withColumn("sidx",
      row_number().over(seedW).cast("long") - 1)
    // argmax-cosine election in ONE aggregation: pack (cosine micro-units,
    // inverted seed rank) into a single orderable long — max key ⇒ max
    // rounded cosine, then min seed id among exact 6-dp ties. The n·k
    // scored frame is computed once and collapses map-side in the partial
    // aggregate; a join-back election would shuffle all n·k rows (~80 GB
    // of spill at 2M×1024 — measured before this fix).
    val kk = lit((nClusters + 1).toLong)
    val c6i = floor(coalesce(VectorFunctions.cosine(col("v"), col("sv")), lit(0.0))
      * lit(1e6) + lit(0.5)).cast("long")
    val elected = base.crossJoin(broadcast(seedsIdx))
      .select(col("id"),
        (c6i * kk + (lit(nClusters.toLong) - col("sidx"))).as("key"))
      .groupBy(col("id")).agg(max(col("key")).as("mk"))
    val asg = elected
      .select(col("id"), (lit(nClusters.toLong) - pmod(col("mk"), kk)).as("sidx"))
      .join(broadcast(seedsIdx.select(col("sidx"), col("sid"))), Seq("sidx"))
      .select(col("id"), col("sid").as("cluster_id"))
    val dropped = bucketPairs(asg.select(col("cluster_id"), col("id")),
        Seq("cluster_id"), struct(col("id")), maxCluster, audit)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .join(base.select(col("id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
      .filter(cos6(col("v_a"), col("v_b")) >= lit(minCosine))
      .select(col("id_b").as("id")).distinct()
      .withColumn("__drop", lit(1))
    asg.join(dropped, Seq("id"), "left")
      .select(col("id").as(idCol), col("cluster_id"),
        when(col("__drop").isNull, lit(1)).otherwise(lit(0)).as("kept"))
  }

  /** Corpus-frequency line removal — the C4/CCNet/RefinedWeb boilerplate
    * pass that operates WITHIN documents using corpus-wide evidence:
    * any line appearing in more than `maxDocFreq` distinct documents
    * (nav bars, cookie banners, footers, license blurbs) is struck from
    * every document; lines shorter than `minLineChars` after trimming
    * are exempt (blank lines and short separators are formatting, not
    * boilerplate, and would otherwise top every frequency list).
    * Documents keep their identity — this is span surgery, not document
    * dropping, the complement of [[removeDupSpans]]'s pairwise form.
    *
    * Scale shape: explode to (doc, pos, line); document-frequency is a
    * distinct + count keyed by the LINE (exact-match semantics — no
    * hash-collision false drops); removal is a left-anti join on the
    * same key; reassembly is one doc-keyed aggregation sorting each
    * document's surviving (pos, line) pairs locally. Three shuffles,
    * all partial-aggregable or key-pruned; per-key payloads are single
    * lines, so skew is bounded by the most-duplicated boilerplate line
    * — exactly the rows the anti-join then discards.
    */
  def lineDedup(docs: DataFrame, idCol: String, textCol: String,
                maxDocFreq: Int, minLineChars: Int = 5): DataFrame = {
    require(maxDocFreq >= 1, s"maxDocFreq must be >= 1, got $maxDocFreq")
    val lines = docs.select(col(idCol).as("__id"),
      posexplode(split(col(textCol), "\n", -1)).as(Seq("__pos", "__line")))
    val eligible = length(trim(col("__line"))) >= minLineChars
    val frequent = lines.filter(eligible)
      .select(col("__line"), col("__id")).distinct()
      .groupBy(col("__line")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxDocFreq)
      .select(col("__line"))
    val kept = lines.join(frequent, Seq("__line"), "left_anti")
    val rebuilt = kept.groupBy(col("__id")).agg(
      array_join(expr("transform(array_sort(collect_list(struct(__pos, __line))), x -> x.__line)"),
        "\n").as("__clean"),
      count(lit(1)).as("__n_kept"))
    docs.select(col(idCol), col(textCol))
      .join(rebuilt.withColumnRenamed("__id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__clean"), lit("")).as("clean_text"),
        (size(split(col(textCol), "\n", -1)).cast("long") -
          coalesce(col("__n_kept"), lit(0L))).as("n_removed"))
  }
}
