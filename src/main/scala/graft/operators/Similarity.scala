package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * - `bruteForceTopK`: exact baseline — queries × corpus scored with the
  *   native cosine expression, per-query top-k by window. Correct at any
  *   recall target; cost O(|Q|·|C|). At 100 TB this is the fallback for
  *   small query sets: the corpus scan parallelizes perfectly and the
  *   small query side is broadcast, so there is NO shuffle of the corpus —
  *   only the tiny top-k aggregation moves.
  * - `ivfTopK`: IVF-style scale path — corpus is pre-clustered into
  *   `nCells` Voronoi cells (deterministic seeded k-means-ish assignment),
  *   each query probes its `nProbe` closest centroids and scores only
  *   those cells: cost drops by ~nCells/nProbe with recall controlled by
  *   nProbe.
  */
object Similarity {

  /** Exact top-k cosine neighbors for each query vector.
    * Output: (query_id, neighbor_id, cosine, rank); self-pairs excluded.
    * Ties broken by neighbor id for determinism. `roundTo` decimals are
    * applied to the ranking cosine so result order is reproducible across
    * engines' float summation.
    *
    * The query side is broadcast unconditionally — this operator's
    * contract is |Q| small (a query batch, not a corpus); for large |Q|
    * use `ivfTopK`, whose join degrades gracefully to cluster-by-cell.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                     vecCol: String, k: Int, roundTo: Int = 6): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", round(VectorFunctions.cosine(col("qv"), col("cv")), roundTo))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Hard-negative mining for contrastive training: for each anchor, the
    * top-k most-similar vectors whose label DIFFERS — the near-miss
    * negatives that carry the training signal (random negatives are too
    * easy; same-label neighbors are positives, not negatives).
    *
    * Same scale contract as `bruteForceTopK`: the anchor batch is
    * broadcast (|A| small — a training micro-batch), the corpus is
    * scored in place and never shuffles for scoring; the only exchange
    * is the per-anchor top-k, which Spark 4 runs as a streaming
    * `WindowGroupLimit` (each map task holds ≤ k rows per anchor). For
    * corpus-sized anchor sets, pre-bucket with `ivfTopK`'s cells and run
    * this within cells.
    *
    * Self-pairs are excluded by id, not only by label, so an anchor
    * whose label appears once still never pairs with itself.
    */
  def hardNegatives(anchors: DataFrame, corpus: DataFrame, idCol: String,
                    vecCol: String, labelCol: String, k: Int,
                    roundTo: Int = 6): DataFrame = {
    val a = anchors.select(col(idCol).as("anchor_id"), col(vecCol).as("av"),
      col(labelCol).as("anchor_label"))
    val c = corpus.select(col(idCol).as("neg_id"), col(vecCol).as("nv"),
      col(labelCol).as("neg_label"))
    val scored = c.crossJoin(broadcast(a))
      .filter(col("anchor_label") =!= col("neg_label") &&
        col("anchor_id") =!= col("neg_id"))
      .withColumn("cosine", round(VectorFunctions.cosine(col("av"), col("nv")), roundTo))
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col("cosine").desc, col("neg_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("anchor_id"), col("neg_id"), col("neg_label"),
        col("cosine"), col("rank"))
  }

  /** Embedding-space outlier scoring: each vector's cosine to the mean
    * vector (centroid) of its own label group — low scores mark mislabeled
    * or off-distribution embeddings, the embedding-side analog of the
    * text-quality filters in corpus assembly.
    *
    * Float discipline for cross-engine exactness: every component is
    * rounded to 6 decimals and summed as DECIMAL (order-independent — a
    * double sum would depend on partition order), the centroid re-rounds,
    * and dot/norm accumulation reuses the same DECIMAL products, so the
    * DuckDB oracle reproduces every score bit-for-bit. Zero vectors (or a
    * zero centroid) score 0.0 by definition rather than NaN/Inf, which the
    * two engines would disagree on.
    *
    * Scale shape: posexplode → one (label, dim) hash agg for centroids —
    * output is |labels|·dims rows, tiny — then a join back on (label, dim)
    * and one per-vector hash agg. Linear in |vectors|·dims; nothing
    * pairwise, no window, nothing driver-side.
    */
  def centroidCosine(df: DataFrame, idCol: String, vecCol: String,
                     labelCol: String): DataFrame = {
    val round6 = (c: Column) => floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
    val comp = df.select(col(labelCol).as("__lbl"), col(idCol).as("__id"),
        posexplode(col(vecCol)).as(Seq("__pos", "__v")))
      .withColumn("__vd", round6(col("__v").cast("double")).cast("decimal(18,6)"))
    val cent = comp.groupBy(col("__lbl"), col("__pos"))
      .agg(round6(sum(col("__vd")).cast("double") / count(lit(1)))
        .cast("decimal(18,6)").as("__c"))
    comp.join(cent, Seq("__lbl", "__pos"))
      .groupBy(col("__id"), col("__lbl"))
      .agg(sum(col("__vd") * col("__c")).cast("double").as("__dot"),
        sum(col("__vd") * col("__vd")).cast("double").as("__na"),
        sum(col("__c") * col("__c")).cast("double").as("__nc"))
      .withColumn("cos_to_centroid",
        when(col("__na") === 0 || col("__nc") === 0, lit(0.0))
          .otherwise(round6(col("__dot") / sqrt(col("__na") * col("__nc")))))
      .select(col("__id").as(idCol), col("__lbl").as(labelCol),
        col("cos_to_centroid"))
  }

  /** Deterministic centroids: `nCells` corpus vectors sampled by id hash
    * (stable across runs), used as IVF cell centers.
    */
  def centroids(corpus: DataFrame, idCol: String, vecCol: String, nCells: Int): DataFrame = {
    // orderBy().limit(n) plans as distributed TakeOrdered (per-partition
    // top-n + tree merge) — a bare Window.orderBy here would funnel the
    // whole corpus through one reducer at scale. The row_number window
    // then runs over ≤ nCells rows only.
    val top = corpus.select(col(idCol).as("cid0"), col(vecCol).as("centroid"))
      .withColumn("__h", xxhash64(col("cid0")))
      .orderBy(col("__h").asc, col("cid0").asc)
      .limit(nCells)
    // rank assignment WITHOUT a window: an unpartitioned row_number would
    // run (and warn) as a single-task WindowExec, and partitionBy(lit(0))
    // is constant-folded back to the same thing. Instead the ≤ nCells
    // hashes — bounded by the parameter, never the data — come to the
    // driver once and join back as a broadcast (hash, rank) index: O(n)
    // per row, unlike an array_position scan over a literal of all
    // hashes, which is O(nCells) per row and quadratic overall at the
    // 10⁵–10⁶ cells ivfTopK documents as supported.
    val hs: Seq[Long] = top.select(col("__h")).collect().map(_.getLong(0)).toSeq
    require(hs.distinct.length == hs.length,
      "xxhash64 collision among centroid seeds (astronomically unlikely); " +
        "choose a different nCells")
    val spark = corpus.sparkSession
    import spark.implicits._
    val idx = hs.zipWithIndex.toDF("__h", "cell_id")
    top.join(broadcast(idx), Seq("__h"))
      .select(col("cell_id"), col("centroid"))
  }

  /** Farthest-point (k-center / Gonzalez) seeding — the RETRAIN-quality
    * election: seed 1 is the hash-min vector (deterministic), each later
    * seed is the corpus vector LEAST similar to its nearest existing
    * seed, so every well-separated cluster receives a seed before any
    * cluster receives two (the k-means++-family guarantee hash-random
    * sampling lacks; random seeds routinely double-cover one cluster and
    * orphan another, which a Lloyd refine cannot undo). Cost: `nCells`
    * map-side probe passes over the corpus (the growing seed batch
    * rides one codegen'd [[graft.functions.SeedSet]] expression, each
    * pass a scan + TakeOrdered(1)) — the offline-maintenance
    * price ([[VectorIndex.refreshQuantizer]]'s path), not the fold path;
    * pass a `.sample()` of the corpus to cap it at scale (quantizer
    * training on a sample is standard IVF practice).
    */
  def centroidsFarthest(corpus: DataFrame, idCol: String, vecCol: String,
                        nCells: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val vecs = corpus.select(col(idCol).as("__cid"), col(vecCol).as("__cv"))
    val seed0 = vecs.withColumn("__h", xxhash64(col("__cid")))
      .orderBy(col("__h").asc, col("__cid").asc).limit(1)
      .select(col("__cv")).collect().head.getSeq[Float](0).toArray
    val seeds = scala.collection.mutable.ArrayBuffer[Array[Float]](seed0)
    while (seeds.size < nCells) {
      // the vector whose BEST similarity to any seed is WORST: the seed
      // batch rides ONE codegen'd probe expression (SeedSet reference
      // object — a literal/crossJoin form would fall out of codegen past
      // ~100 seeds), so each pass is a map-side scan + TakeOrdered(1)
      val far = vecs
        .withColumn("__dist", graft.functions.SeedFunctions
          .nearestSeedDist(col("__cv"), seeds.toArray))
        .orderBy(col("__dist").desc, col("__cid").asc).limit(1)
        .select(col("__cv")).collect()
      if (far.isEmpty) return seeds.toSeq.zipWithIndex
        .map { case (v, i) => (i, v) }.toDF("cell_id", "centroid")
      seeds += far.head.getSeq[Float](0).toArray
    }
    seeds.toSeq.zipWithIndex.map { case (v, i) => (i, v) }
      .toDF("cell_id", "centroid")
  }

  /** k-means|| (Bahmani et al., VLDB 2012) seeding — the SCALABLE
    * retrain-quality election: where [[centroidsFarthest]] runs `nCells`
    * SEQUENTIAL driver-scheduled corpus passes (one broadcast-score +
    * TakeOrdered per seed — 10⁵ Spark jobs at the 10⁵ cells `ivfTopK`
    * documents), this gets the same cover-every-cluster-before-doubling
    * guarantee in O(`rounds`) distributed passes: each round
    * OVERSAMPLES ~`oversample`·nCells candidates with probability
    * proportional to squared distance from the current candidate set
    * (so uncovered clusters are found in expectation immediately, not
    * one per pass), then ONE weighting pass counts each candidate's
    * basin and a driver-side weighted k-center over the ~rounds·l
    * candidates picks the final `nCells` — candidates with heavy basins
    * and large separation win, stray outliers (weight 1) lose, which is
    * the robustness farthest-point lacks.
    *
    * Fully deterministic (the property every election here holds):
    * seed 1 is the hash-min vector, the per-round sampling coin is
    * `xxhash64(id, round)` mapped to [0,1), and all ties break by id /
    * candidate index — no RNG state anywhere.
    *
    * Cost envelope: `rounds`+2 corpus passes, every one MAP-SIDE with
    * zero shuffle — the candidate batch rides a single codegen'd probe
    * expression ([[graft.functions.SeedSet]] reference object; a
    * least()-of-cosine-literals chain falls out of whole-stage codegen
    * past ~100 candidates and runs interpreted), the distance update
    * scores only the NEW candidates, and the weighting pass is a
    * map-only argmax probe + candidate-sized hash agg. Driver election
    * is O(|candidates|·nCells·dims) ≈ O(rounds·oversample·nCells²·dims)
    * — at 10⁵ cells run it on a corpus `.sample()` and/or shard the
    * driver step, the standard quantizer-training compromise. `l` is
    * capped at 10³ per round to bound the per-round collect and the
    * driver election, not codegen.
    */
  def centroidsKMeansParallel(corpus: DataFrame, idCol: String,
                              vecCol: String, nCells: Int, rounds: Int = 5,
                              oversample: Double = 2.0): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val vecs = corpus.select(col(idCol).as("__cid"), col(vecCol).as("__cv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // distance to the NEAREST of a driver-side candidate batch: the
      // batch rides ONE codegen'd probe (SeedSet reference object). The
      // prior form — a least() chain of per-candidate cosine literals —
      // blew the 64 KB codegen method limit past ~100 candidates and
      // silently dropped the whole stage to INTERPRETED evaluation
      // (~10× the scan cost, observed at 1M×128 in Perf elect-r10)
      def distToNew(cands: Seq[Array[Float]], vc: Column): Column =
        graft.functions.SeedFunctions.nearestSeedDist(vc, cands.toArray)
      val seed0Rows = vecs.withColumn("__h", xxhash64(col("__cid")))
        .orderBy(col("__h").asc, col("__cid").asc).limit(1)
        .select(col("__cv")).collect()
      if (seed0Rows.isEmpty)
        return Seq.empty[(Int, Array[Float])].toDF("cell_id", "centroid")
      val cands =
        scala.collection.mutable.ArrayBuffer[Array[Float]](
          seed0Rows.head.getSeq[Float](0).toArray)
      val l = math.min(1000.0, math.max(1.0, oversample * nCells))
      // NOTE (optimization round 13): eliding the per-round
      // checkpoint in favor of a lazy least(prev, dist(new)) chain
      // was tried and REVERTED — the phi aggregate and the sampling
      // filter each re-evaluate the whole probe chain per round, and by
      // round r that is the FULL cumulative candidate set twice over,
      // which measured slower (q250 6.3 → 7.7 s) than materializing the
      // per-round (id, vec, mind) state once.
      //
      // NOTE (optimization round 14): the resolveClusters single-partition
      // treatment (coalesce(1)-pinned state per round) was tried here and
      // REVERTED — q250 measured 7.11 s before vs 7.54 s after in the same
      // window (Prof, local[32]; election stage jobs 51 → 47, wall flat).
      // The election's per-round work is a handful of already-small jobs;
      // q250's weight lives in the index WRITE contract (BaseDelta.append
      // 1.8 s + SnapshotStore.stage 1.2 s driver samples) which width
      // pinning cannot touch. Not worth the float-summation-order delta
      // in phi for zero measured gain.
      // the per-round state is a session-width [[Loop]] round
      val weights: Map[Int, Long] = Loop.wide { loop =>
        var state = loop.round(vecs.withColumn("__mind",
          distToNew(cands.toSeq, col("__cv"))))
        var r = 0
        var saturated = false
        while (r < rounds && !saturated) {
          val phi = state.agg(sum(col("__mind") * col("__mind"))).head()
            .getDouble(0)
          if (phi <= 1e-12) saturated = true // every vector ≈ on a candidate
          else {
            // deterministic coin: u(id, round) uniform in [0,1)
            val u = pmod(xxhash64(col("__cid"), lit(r)), lit(1000000000L))
              .cast("double") / lit(1e9)
            val picked = state
              .filter(u < lit(l) * col("__mind") * col("__mind") / lit(phi))
              .select(col("__cv")).collect()
              .map(_.getSeq[Float](0).toArray)
            if (picked.isEmpty) r += 1 // unlucky round, re-coin with r+1
            else {
              cands ++= picked
              state = loop.round(state.withColumn("__mind",
                least(col("__mind"), distToNew(picked.toSeq, col("__cv")))))
              r += 1
            }
          }
        }
        // ONE weighting pass: each candidate's basin size — map-only argmax
        // probe + a candidate-sized hash agg (the crossJoin + window form
        // shuffles n·k rows for the same answer)
        state
          .select(graft.functions.SeedFunctions
            .nearestSeedIdx(col("__cv"), cands.toArray).as("cell_id"))
          .filter(col("cell_id") >= 0)
          .groupBy(col("cell_id")).agg(count(lit(1)).as("__w"))
          .collect().map(row => row.getInt(0) -> row.getLong(1)).toMap
      }
      // driver-side weighted k-center over the candidate set: heaviest
      // basin first, then argmax of weight · d²(nearest chosen) —
      // separation AND mass, deterministic index tie-break
      def dcos(a: Array[Float], b: Array[Float]): Double = {
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) {
          dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
          nb += b(i).toDouble * b(i); i += 1
        }
        if (na == 0 || nb == 0) 1.0 else 1.0 - dot / math.sqrt(na * nb)
      }
      val w = cands.indices.map(i => weights.getOrElse(i, 0L).toDouble)
      val first = w.indices.maxBy(i => (w(i), -i))
      val chosen = scala.collection.mutable.ArrayBuffer[Int](first)
      val isChosen = Array.fill(cands.size)(false)
      isChosen(first) = true
      val dmin = cands.indices
        .map(i => dcos(cands(i), cands(first))).toArray
      var exhausted = false
      while (chosen.size < math.min(nCells, cands.size) && !exhausted) {
        var best = -1; var bestScore = -1.0
        var i = 0
        while (i < cands.size) {
          if (!isChosen(i)) {
            val s = w(i) * dmin(i) * dmin(i)
            if (s > bestScore) { bestScore = s; best = i }
          }
          i += 1
        }
        if (best < 0 || bestScore <= 1e-18) {
          // remaining candidates are duplicates of chosen ones — pad by
          // weight so the cell count still reaches nCells when possible
          cands.indices.filter(!isChosen(_))
            .sortBy(i => (-w(i), i))
            .take(math.min(nCells, cands.size) - chosen.size)
            .foreach { i => chosen += i; isChosen(i) = true }
          exhausted = true
        } else {
          chosen += best
          isChosen(best) = true
          var j = 0
          while (j < cands.size) {
            val d = dcos(cands(j), cands(best))
            if (d < dmin(j)) dmin(j) = d
            j += 1
          }
        }
      }
      chosen.toSeq.zipWithIndex
        .map { case (ci, cell) => (cell, cands(ci)) }
        .toDF("cell_id", "centroid")
    } finally { vecs.unpersist(); () }
  }

  /** Assign each vector to its nearest centroid (broadcast centroids → no
    * corpus shuffle beyond the final partition-by-cell).
    */
  def assignCells(vecs: DataFrame, cents: DataFrame, idCol: String, vecCol: String,
                  nProbe: Int = 1): DataFrame = {
    val scored = vecs.select(col(idCol), col(vecCol))
      .crossJoin(broadcast(cents))
      .withColumn("sim", VectorFunctions.cosine(col(vecCol), col("centroid")))
    val w = Window.partitionBy(col(idCol)).orderBy(col("sim").desc, col("cell_id").asc)
    scored.withColumn("cr", row_number().over(w))
      .filter(col("cr") <= nProbe)
      .select(col(idCol), col(vecCol), col("cell_id"))
  }

  /** One-or-more Lloyd iterations over the corpus, fully declarative:
    * assign → per-(cell, dim) mean via posexplode → reassemble centroid
    * vectors. Each iteration is one broadcast-assign pass + one
    * aggregation shuffle of (cell, dim) pairs — O(corpus · dims) rows
    * shuffled, no driver-side math, so it scales like any aggregation.
    */
  def kmeansRefine(corpus: DataFrame, idCol: String, vecCol: String,
                   cents: DataFrame, iters: Int): DataFrame = {
    var c = cents
    for (_ <- 1 to iters) {
      val assigned = assignCells(corpus, c, idCol, vecCol, nProbe = 1)
      c = assigned
        .select(col("cell_id"), posexplode(col(vecCol)).as(Seq("dim", "x")))
        .groupBy(col("cell_id"), col("dim"))
        .agg(avg(col("x")).as("x"))
        .groupBy(col("cell_id"))
        .agg(transform(
          array_sort(collect_list(struct(col("dim"), col("x")))),
          s => s.getField("x").cast("float")).as("centroid"))
    }
    c
  }

  /** Max estimated size of the query side that still gets a broadcast
    * hint in `ivfTopK`. Below it, every corpus cell partition scores its
    * probing queries with zero query shuffle; above it, both sides
    * cluster by `cell_id` in a shuffle join — the very-large-|Q| path
    * (e.g. corpus-vs-corpus ANN), where broadcasting |Q|·nProbe vectors
    * to every executor would OOM before the join even starts.
    */
  val MaxBroadcastQueryBytes: Long = graft.functions.PlanHints.DefaultMaxBroadcastBytes

  /** IVF ANN: probe the `nProbe` nearest cells per query. Recall < 1 by
    * design; deterministic for fixed parameters (with `refineIters` > 0,
    * centroids are Lloyd-refined first).
    *
    * Sizing notes for 100 TB: `nCells` should grow ~√corpus (cost per
    * query scan is |corpus|·nProbe/nCells vectors); centroid assignment
    * broadcasts `nCells` centroid vectors, so nCells is bounded by what
    * one executor comfortably holds (10⁵–10⁶ at 64–1024 dims), which
    * covers corpora well past 10¹⁰ vectors. The query side is broadcast
    * only while its size estimate stays under `MaxBroadcastQueryBytes` —
    * past that the join degrades gracefully to cluster-by-cell.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
              k: Int, nCells: Int = 16, nProbe: Int = 4, roundTo: Int = 6,
              refineIters: Int = 0,
              maxBroadcastQueryBytes: Long = MaxBroadcastQueryBytes): DataFrame = {
    val seeded = centroids(corpus, idCol, vecCol, nCells)
    val cents =
      if (refineIters > 0) kmeansRefine(corpus, idCol, vecCol, seeded, refineIters)
      else seeded
    val corpusCells = assignCells(corpus, cents, idCol, vecCol, nProbe = 1)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"), col("cell_id"))
    val queryCells = assignCells(queries, cents, idCol, vecCol, nProbe = nProbe)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"), col("cell_id"))
    val scored = corpusCells.join(
        graft.functions.PlanHints.broadcastIfSmall(queryCells, maxBroadcastQueryBytes),
        Seq("cell_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", round(VectorFunctions.cosine(col("qv"), col("cv")), roundTo))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Composed IVF + PQ-ADC ANN with exact re-rank — the shape a real
    * 100 TB vector pipeline actually runs (neither half alone is): the
    * IVF coarse quantizer routes each query to its `nProbe` nearest
    * cells, PQ codes are scored by additive lookup (ADC) WITHIN those
    * cells only, and the resulting `shortlist` per query is re-ranked
    * with exact cosine over raw vectors. Cost per query:
    * |corpus|·nProbe/nCells code scans (each m byte-codes, not d floats)
    * + `shortlist` exact distances — against `bruteForceTopK`'s |corpus|
    * full-vector scans.
    *
    * Scale contract (plan-guarded): the corpus never shuffles for
    * scoring. Cell routing broadcasts nCells centroids; ADC joins the
    * code frame against BROADCAST per-query LUTs on cell_id; the exact
    * re-rank joins raw vectors against a BROADCAST of the
    * |Q|·shortlist-row shortlist — three broadcast joins, zero
    * corpus-sized exchanges beyond the per-query top-k windows (which
    * Spark 4 runs as streaming WindowGroupLimit). Recall < 1 by design,
    * controlled by nProbe (cells missed) and shortlist (ADC
    * quantization error recovered by the re-rank); determinism as in
    * [[ivfTopK]]/[[Pq]] (seeded centroids, integer micro-unit ADC,
    * id tie-breaks everywhere).
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                vecCol: String, k: Int, nCells: Int = 16, nProbe: Int = 4,
                m: Int = 4, kCodes: Int = 16, shortlist: Int = 64,
                roundTo: Int = 6, refineIters: Int = 0,
                codebookIters: Int = 2): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    val seeded = centroids(corpus, idCol, vecCol, nCells)
    val cents =
      if (refineIters > 0) kmeansRefine(corpus, idCol, vecCol, seeded, refineIters)
      else seeded
    // Lloyd-refined PQ codebook (codebookIters passes): the first-k-
    // vectors seed alone loses ADC ordering as the corpus outgrows it —
    // measured recall@5 at sf0.1 0.68 seeded vs ≥0.9 refined at the same
    // shortlist. Refinement cost is per-codebook-build, shuffle is
    // codebook-sized (map-side combined), never corpus-sized.
    val cb = Pq.codebookRefined(corpus, idCol, vecCol, m, kCodes,
      codebookIters)
    // corpus side: one cell per vector + m-byte PQ codes, computed map-only
    val codes = assignCells(corpus, cents, idCol, vecCol, nProbe = 1)
      .select(col(idCol).as("neighbor_id"), col("cell_id"),
        Pq.encode(col(vecCol), cb, m, kCodes).as("__codes"))
    // query side: nProbe cells + one ADC lookup table per query
    val luts = assignCells(queries, cents, idCol, vecCol, nProbe = nProbe)
      .select(col(idCol).as("query_id"), col("cell_id"),
        Pq.lut(col(vecCol), cb, m, kCodes).as("__lut"))
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("neighbor_id").asc)
    val short = codes.join(broadcast(luts), Seq("cell_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc_dist", Pq.adc(col("__codes"), col("__lut"), kCodes))
      .withColumn("__r", row_number().over(wAdc))
      .filter(col("__r") <= shortlist)
      .select(col("query_id"), col("neighbor_id"))
    // exact re-rank of the shortlist only: raw vectors stay on the scan
    // side of two broadcast joins
    val reranked = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .join(broadcast(short), Seq("neighbor_id"))
      .join(broadcast(queries.select(col(idCol).as("query_id"),
        col(vecCol).as("qv"))), Seq("query_id"))
      .withColumn("cosine",
        round(VectorFunctions.cosine(col("qv"), col("cv")), roundTo))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    reranked.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Sign-LSH (random-hyperplane) bucketed ANN: per-query top-k via LSH
    * candidate buckets + exact cosine re-rank — the third scale path
    * next to [[ivfTopK]] and [[ivfPqTopK]]. Where IVF routes by learned
    * centroids (data-dependent — needs a build pass, degrades when the
    * corpus outgrows them; see q115's codebook history), LSH buckets
    * are data-INDEPENDENT: no training, stable under distribution
    * drift, and append-only friendly — a streaming upsert buckets only
    * the new rows, no centroid refresh cycle.
    *
    * Plan shape (the [[graft.operators.Dedup.embeddingNearDup]] anti-OOM
    * layout): both sides compute all `numTables` bucket ids in ONE
    * map-only native expression pass and explode ids only — vectors
    * never ride the bucket rows. Candidates are bucket-equality matches
    * in ANY table, deduped on (query, neighbor) while still id-pairs;
    * raw vectors then join back via two small-side-broadcast joins and
    * exact cosine ranks them. The query side is broadcast while its
    * estimate stays under `maxBroadcastQueryBytes` (same degrade
    * contract as [[ivfTopK]]: past it both sides shuffle on
    * (table, bucket)).
    *
    * Recall < 1 by design: a true neighbor at angle θ is missed iff it
    * collides in NO table, P_miss = (1 − (1 − θ/π)^numPlanes)^numTables
    * — tune numPlanes down / numTables up for recall, up/down for cost
    * (expected candidates per query ≈ numTables · n / 2^numPlanes for
    * near-orthogonal corpora). Identical vectors collide in EVERY table
    * (recall 1.0 by construction — the q273 planted-twin law).
    * Deterministic: hyperplanes derive from splitmix64, ties break by
    * neighbor id.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, k: Int, numTables: Int = 8,
              numPlanes: Int = 8, roundTo: Int = 6,
              maxBroadcastQueryBytes: Long = MaxBroadcastQueryBytes): DataFrame = {
    import graft.functions.HashFunctions
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val cBands = c
      .withColumn("__bkts",
        HashFunctions.lshBuckets(col("cv"), numTables, numPlanes))
      .select(col("neighbor_id"),
        posexplode(col("__bkts")).as(Seq("tbl", "bucket")))
    // query bands as a UNION of per-table projections, not an explode:
    // Catalyst's size estimate through Generate is structurally blind
    // (the broadcast_of_generate lint class), while a union's stats
    // honestly account the numTables× multiplication — so the broadcast
    // decision below is made on real numbers. Cost: the bucket
    // expression re-evaluates per table, on the |Q|-bounded side only.
    val qBands = (0 until numTables).map { t =>
      q.select(col("query_id"), lit(t).as("tbl"),
        element_at(HashFunctions.lshBuckets(col("qv"), numTables, numPlanes),
          t + 1).as("bucket"))
    }.reduce(_.unionByName(_))
    val cand = cBands
      .join(graft.functions.PlanHints.broadcastIfSmall(qBands,
        maxBroadcastQueryBytes), Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
      .distinct()
    // candidate list is |Q|-bounded (ANN contract: a query batch) — the
    // vector join-back rides two broadcasts, the corpus never shuffles
    val scored = c
      .join(graft.functions.PlanHints.broadcastIfSmall(cand,
        maxBroadcastQueryBytes), Seq("neighbor_id"))
      .join(graft.functions.PlanHints.broadcastIfSmall(q,
        maxBroadcastQueryBytes), Seq("query_id"))
      .withColumn("cosine",
        round(VectorFunctions.cosine(col("qv"), col("cv")), roundTo))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Embedding-space benchmark decontamination: drop every corpus vector
    * whose cosine to ANY benchmark vector reaches `minCosine` — the
    * semantic analog of the shingle-overlap `TextAnalysis.decontaminate`
    * (paraphrased eval questions share no k-gram but land nearby in
    * embedding space).
    *
    * Plan shape: LEFT ANTI broadcast nested-loop join on the non-equi
    * cosine predicate. The benchmark side (an eval set — thousands of
    * rows, not a corpus) is broadcast; the corpus never shuffles, and the
    * anti-join short-circuits per corpus row on the first contaminated
    * match, so the common clean row pays the full |bench| scan only when
    * it IS clean. Cosines are rounded to `roundTo` decimals before the
    * compare so the keep/drop frontier is reproducible across engines.
    * For corpus-sized "benchmark" sides, pre-bucket with
    * `Dedup.embeddingNearDup`'s hyperplane LSH instead.
    */
  def semanticDecontaminate(corpus: DataFrame, bench: DataFrame,
                            idCol: String, vecCol: String,
                            minCosine: Double, roundTo: Int = 6): DataFrame = {
    val b = broadcast(bench.select(col(vecCol).as("__bv")))
    corpus.join(b,
      round(VectorFunctions.cosine(col(vecCol), col("__bv")), roundTo)
        >= lit(minCosine),
      "left_anti")
  }

  /** Rank a scored frame's top `n` rows: (idCol, rank) with rank 1 = best.
    * `orderBy().limit(n)` plans as a distributed TakeOrdered — per-
    * partition streaming top-n, then an n-row merge on one task — so no
    * global sort ever materializes; the rank window then runs over ≤ n
    * rows (bounded by construction, same pattern as `centroids`).
    */
  def topNRanked(scored: DataFrame, idCol: String, scoreCol: String,
                 n: Int): DataFrame = {
    val top = scored.orderBy(col(scoreCol).desc, col(idCol).asc).limit(n)
    val w = Window.partitionBy(lit(0))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    top.withColumn("rank", row_number().over(w))
      .select(col(idCol), col("rank"))
  }

  /** Reciprocal-rank fusion of two ranked candidate lists (the standard
    * hybrid-retrieval combiner for a lexical BM25 list + an embedding
    * cosine list): score = Σ 1/(k0 + rank), summed over the lists that
    * retrieved the id; ids missing from a list contribute 0 for it.
    * Both inputs are (idCol, rank) frames — top-N lists, so this whole
    * operator runs on 2·N rows regardless of corpus size; the fused
    * score is rounded to 6 decimals so the final ordering is engine-
    * independent.
    */
  def rrfFuse(rankedA: DataFrame, rankedB: DataFrame, idCol: String,
              k0: Int = 60): DataFrame = {
    val a = rankedA.select(col(idCol), col("rank").as("rank_a"))
    val b = rankedB.select(col(idCol), col("rank").as("rank_b"))
    val fused = a.join(b, Seq(idCol), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(k0) + col("rank_a")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(k0) + col("rank_b")), lit(0.0)), 6))
    val w = Window.partitionBy(lit(0))
      .orderBy(col("rrf").desc, col(idCol).asc)
    fused.withColumn("fused_rank", row_number().over(w))
      .select(col(idCol), col("rank_a"), col("rank_b"), col("rrf"),
        col("fused_rank"))
  }

  // ── embedding drift ──────────────────────────────────────────────────

  private def round6d(c: Column): Column = floor(c * lit(1e6) + lit(0.5)) / lit(1e6)

  /** Per-label decimal centroids of `df` — `centroidCosine`'s centroid
    * stage exposed so a REFERENCE window's centroids can score a later
    * window (the anchored form drift monitoring needs: both windows must
    * be measured against the same frozen anchor, or centroid movement
    * cancels out of the score distribution).
    */
  def labelCentroids(df: DataFrame, vecCol: String,
                     labelCol: String): DataFrame =
    df.select(col(labelCol).as("__lbl"),
        posexplode(col(vecCol)).as(Seq("__pos", "__v")))
      .withColumn("__vd", round6d(col("__v").cast("double")).cast("decimal(18,6)"))
      .groupBy(col("__lbl"), col("__pos"))
      .agg(round6d(sum(col("__vd")).cast("double") / count(lit(1)))
        .cast("decimal(18,6)").as("__c"))

  /** Cosine of every vector to ITS label's centroid from `cent`
    * ([[labelCentroids]] output). Labels absent from `cent` drop — a
    * window can only be scored against anchors that exist. Same decimal
    * recipe as `centroidCosine`, so results are engine-exact.
    */
  def cosineToCentroids(df: DataFrame, cent: DataFrame, idCol: String,
                        vecCol: String, labelCol: String): DataFrame =
    df.select(col(labelCol).as("__lbl"), col(idCol).as("__id"),
        posexplode(col(vecCol)).as(Seq("__pos", "__v")))
      .withColumn("__vd", round6d(col("__v").cast("double")).cast("decimal(18,6)"))
      .join(cent, Seq("__lbl", "__pos"))
      .groupBy(col("__id"), col("__lbl"))
      .agg(sum(col("__vd") * col("__c")).cast("double").as("__dot"),
        sum(col("__vd") * col("__vd")).cast("double").as("__na"),
        sum(col("__c") * col("__c")).cast("double").as("__nc"))
      .withColumn("cos_to_centroid",
        when(col("__na") === 0 || col("__nc") === 0, lit(0.0))
          .otherwise(round6d(col("__dot") / sqrt(col("__na") * col("__nc")))))
      .select(col("__id").as(idCol), col("__lbl").as(labelCol),
        col("cos_to_centroid"))

  /** Embedding drift monitor: PSI (per label) between the reference
    * window's and the current window's cosine-to-REFERENCE-centroid
    * distributions — "has this label's embedding cloud moved or spread
    * relative to where it sat when the index/model was built?", the
    * staleness alarm for ANN indexes, routing models, and semantic
    * filters. Anchoring BOTH windows to the reference centroids is what
    * makes the score distribution sensitive to drift; re-deriving
    * centroids per window would absorb exactly the movement being
    * measured. Composition of two oracle-proven parts (`centroidCosine`'s
    * decimal cosine, `Quality.psiAgainstReference`'s frozen-edge PSI), so
    * the whole readout stays engine-exact. Cost: linear in vectors·dims
    * (two scoring passes) + a (labels × bins) histogram — nothing
    * pairwise.
    */
  def embeddingDrift(ref: DataFrame, cur: DataFrame, idCol: String,
                     vecCol: String, labelCol: String,
                     bins: Int = 10): DataFrame = {
    val cent = labelCentroids(ref, vecCol, labelCol)
    graft.silver.Quality.psiAgainstReference(
      cosineToCentroids(ref, cent, idCol, vecCol, labelCol),
      cosineToCentroids(cur, cent, idCol, vecCol, labelCol),
      "cos_to_centroid", labelCol, bins)
  }
}
