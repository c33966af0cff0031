package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, MediaHeaders, Multimodal, Sampling, Similarity, TextAnalysis}
import graft.functions.VectorFunctions

/** Extension operators: fuzzy dedup, similarity search, text analysis,
  * multimodal plumbing.
  */
class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),          // exact dup of 1
    (3L, "the quick brown fox leaps over the lazy dog"),          // near dup of 1
    (4L, "completely different content about spark engines here"),
    (5L, "THE  Quick   Brown Fox Jumps Over The Lazy Dog"))       // dup modulo case/ws
    .toDF("doc_id", "text")

  test("exact dedup groups normalized duplicates under the min id") {
    val out = Dedup.exact(docs, "doc_id", "text").collect()
    val dupGroup = out.find(_.getAs[Long]("n_copies") == 3).get
    assert(dupGroup.getAs[Long]("canonical_id") == 1L)
    assert(out.length == 3) // {1,2,5}, {3}, {4}
    assert(Dedup.exactKeepFirst(docs, "doc_id", "text").collect()
      .map(_.getAs[Long]("doc_id")).toSet == Set(1L, 3L, 4L))
  }

  test("minhash LSH finds exact and near duplicates, not unrelated docs") {
    val pairs = Dedup.minHashLsh(docs, "doc_id", "text",
      bands = 16, rowsPerBand = 2, minEstJaccard = 0.4)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 5L)))
    assert(pairs.contains((2L, 5L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minHashProbe: cross pairs match full LSH over the union; text never reprobed") {
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "completely different content about spark engines here"),
      (12L, "rain in spain falls mainly on the plain today"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (20L, "the quick brown fox jumps over the lazy dog"),   // dup of 10
      (21L, "the quick brown fox leaps over the lazy dog"),   // near dup of 10
      (22L, "entirely novel text with no counterpart at all"))
      .toDF("doc_id", "text")
    val idx = Dedup.minHashSigs(corpus, "doc_id", "text", numHashes = 32)
    val probe = Dedup.minHashProbe(batch, idx, "doc_id", "text",
      bands = 16, rowsPerBand = 2, minEstJaccard = 0.4)
      .collect().map(r => (r.getAs[Long]("id_new"), r.getAs[Long]("id_indexed"),
        r.getAs[Double]("est_jaccard"))).toSet
    // equivalence: full LSH over union, keep only (batch, corpus) pairs
    val full = Dedup.minHashLsh(corpus.unionByName(batch), "doc_id", "text",
      bands = 16, rowsPerBand = 2, minEstJaccard = 0.4)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Double]("est_jaccard")))
      .collect { case (a, b, j) if a < 20L && b >= 20L => (b, a, j) }.toSet
    assert(probe == full)
    assert(probe.map(p => (p._1, p._2)).contains((20L, 10L)))
    assert(!probe.exists(_._1 == 22L))
  }

  test("identical docs have identical simhash; near dups are close in hamming") {
    val fp = Dedup.simHash(docs, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("simhash")).toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) == fp(5L))
    val hammingNear = java.lang.Long.bitCount(fp(1L) ^ fp(3L))
    val hammingFar = java.lang.Long.bitCount(fp(1L) ^ fp(4L))
    assert(hammingNear < hammingFar)
    val close = Dedup.simHashPairs(Dedup.simHash(docs, "doc_id", "text"),
      maxHamming = 0).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(close == Set((1L, 2L), (1L, 5L), (2L, 5L)))
  }

  test("bounded collect: collect_list parity under the cap, NULL above it") {
    import graft.functions.BoundedCollectList
    // many partitions → exercises partial buffers + serialize/merge paths
    val df = spark.range(0, 100, 1, 7)
      .select((col("id") % 10).as("k"), struct(col("id"), lit("x").as("s")).as("m"))
    val bounded = df.groupBy($"k")
      .agg(sort_array(BoundedCollectList.column($"m", 10)).as("b"))
    val plain = df.groupBy($"k")
      .agg(sort_array(collect_list($"m")).as("b"))
    assert(bounded.collect().map(_.toString).sorted.toSeq ==
      plain.collect().map(_.toString).sorted.toSeq)
    // cap below group size (10 members each) → every group NULL
    val over = df.groupBy($"k").agg(BoundedCollectList.column($"m", 9).as("b"))
    assert(over.collect().forall(_.isNullAt(1)))
    // cap exactly at group size → intact
    val exact = df.groupBy($"k").agg(BoundedCollectList.column($"m", 10).as("b"))
    assert(exact.collect().forall(_.getSeq[Any](1).length == 10))
  }

  test("hot-bucket guard: mega-bucket pairs are dropped, audited, and a generous cap changes nothing") {
    import org.apache.spark.sql.Observation
    // 60 docs sharing one boilerplate 3-shingle ("terms of service apply"),
    // plus the two genuinely similar docs — with maxBucket below 60, the
    // boilerplate bucket must produce NO pairs instead of 60²/2.
    val boiler = (10L until 70L)
      .map(i => (i, s"terms of service apply unique$i filler$i content$i"))
    val similar = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta"))
    val df = (similar ++ boiler).toDF("doc_id", "text")
    val obs = new Observation("ngram-audit")
    val pairs = Dedup.ngramJaccard(df, "doc_id", "text", k = 3, threshold = 0.1,
        maxBucket = 50, audit = Some(obs))
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    // (1,2) share shingles in buckets of size 2 → survive; no boilerplate pair
    assert(pairs == Set((1L, 2L)))
    val metrics = obs.get
    assert(metrics("dropped_buckets").asInstanceOf[Long] >= 1L)
    assert(metrics("total_buckets").asInstanceOf[Long] >
      metrics("dropped_buckets").asInstanceOf[Long])
    // generous cap: identical pair set to the unguarded semantics, and the
    // boilerplate pairs reappear (proving the cap, not the threshold, bound)
    val generous = Dedup.ngramJaccard(df, "doc_id", "text", k = 3, threshold = 0.1,
        maxBucket = Dedup.DefaultMaxBucket)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(generous.contains((1L, 2L)) && generous.size > 1)
    // minhash path: same guard (one band bucket holds all 60 boilerplate
    // docs only if their signatures agree — instead prove the plumbing by
    // running with the default cap and asserting unchanged results)
    val guarded = Dedup.minHashLsh(docs, "doc_id", "text",
      bands = 16, rowsPerBand = 2, minEstJaccard = 0.4, maxBucket = 3)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(guarded == Set((1L, 2L), (1L, 5L), (2L, 5L)))
  }

  test("prefix filtering: identical pairs, order-of-magnitude fewer candidates") {
    // real corpus: prefix-filtered result must be value-identical
    val corpus = Tables.documents(spark, "/root/testdata/sf0.001")
    def pairs(prefix: Boolean) =
      Dedup.ngramJaccard(corpus, "doc_id", "text", k = 3, threshold = 0.2,
        prefixFilter = prefix).collect()
        .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
          r.getAs[Double]("jaccard"))).toSet
    assert(pairs(prefix = true) == pairs(prefix = false))
    // templated corpus: the hot boilerplate shingles sit in every doc's
    // frequency-ordered suffix, so prefix indexing skips their buckets —
    // candidates collapse from ~60²/2 to the one genuine pair
    val boiler = (10L until 70L)
      .map(i => (i, s"terms of service apply unique$i filler$i content$i"))
    val similar = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta"))
    val docs = (similar ++ boiler).toDF("doc_id", "text")
      .select(col("doc_id").as("id"), Dedup.shingles(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0).withColumn("n_sh", size(col("sh")))
    val cFull = Dedup.ngramCandidates(docs, 0.5, Dedup.DefaultMaxBucket, None,
      prefixFilter = false).count()
    val cPref = Dedup.ngramCandidates(docs, 0.5, Dedup.DefaultMaxBucket, None,
      prefixFilter = true).count()
    assert(cPref < cFull / 100, s"prefix $cPref vs full $cFull")
    assert(cPref >= 1)  // the genuine near-dup pair survives the cut
  }

  test("ngram jaccard: exact value for a constructed pair") {
    val two = Seq((1L, "a b c d"), (2L, "a b c e")).toDF("doc_id", "text")
    // 3-shingles: {a b c, b c d} vs {a b c, b c e} → jaccard 1/3
    val out = Dedup.ngramJaccard(two, "doc_id", "text", k = 3, threshold = 0.0).collect()
    assert(out.length == 1)
    assert(math.abs(out.head.getAs[Double]("jaccard") - 1.0 / 3.0) < 1e-12)
  }

  test("cosine expression matches the HOF form and handles edge cases") {
    val vs = Seq(
      (1L, Array(1.0f, 0.0f), Array(0.0f, 1.0f)),
      (2L, Array(1.0f, 1.0f), Array(1.0f, 1.0f)),
      (3L, Array(1.0f, 2.0f), Array(2.0f, 4.0f)))
      .toDF("id", "a", "b")
    val rows = vs.select($"id",
      VectorFunctions.cosine($"a", $"b").as("c"),
      VectorFunctions.cosineHof($"a", $"b").as("ch")).collect()
    rows.foreach { r =>
      assert(math.abs(r.getAs[Double]("c") - r.getAs[Double]("ch")) < 1e-12)
    }
    assert(math.abs(rows.find(_.getLong(0) == 1L).get.getAs[Double]("c")) < 1e-12)
    assert(math.abs(rows.find(_.getLong(0) == 3L).get.getAs[Double]("c") - 1.0) < 1e-12)
    // zero vector → null, mismatched lengths → null
    val edge = Seq((Array(0.0f, 0.0f), Array(1.0f, 2.0f, 3.0f)))
      .toDF("z", "m")
    assert(edge.select(VectorFunctions.cosine($"z", $"z")).head().isNullAt(0))
    assert(edge.select(VectorFunctions.cosine($"z", $"m")).head().isNullAt(0))
  }

  test("centroid cosine: hand-computed scores, singleton label, zero-vector guard") {
    val emb = Seq(
      (1L, Seq(1f, 0f), "A"), (2L, Seq(0f, 1f), "A"),   // centroid (.5, .5)
      (3L, Seq(2f, 0f), "B"),                           // singleton → cos 1.0
      (4L, Seq(0f, 0f), "C"))                           // zero vector → 0.0
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.centroidCosine(emb, "vec_id", "embedding", "label")
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cos_to_centroid"))
      .toMap
    // cos((1,0),(.5,.5)) = .5/(1·√.5) = 0.7071067…, round6 → 0.707107
    assert(out(1L) == 0.707107 && out(2L) == 0.707107)
    assert(out(3L) == 1.0)
    assert(out(4L) == 0.0)
  }

  test("brute-force top-k: correct neighbors, ranks, and self-exclusion") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)),
      (3L, Array(-1.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(
      vecs.filter($"vec_id" === 0), vecs, "vec_id", "embedding", k = 2).collect()
    assert(out.length == 2)
    val r1 = out.find(_.getAs[Int]("rank") == 1).get
    assert(r1.getAs[Long]("neighbor_id") == 1L)
    assert(out.forall(_.getAs[Long]("neighbor_id") != 0L))
  }

  test("IVF top-k achieves high recall vs brute force on real embeddings") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter($"vec_id" < 10)
    val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val approx = Similarity.ivfTopK(queries, emb, "vec_id", "embedding",
      k = 5, nCells = 8, nProbe = 4)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall too low: $recall")
  }

  test("k-means refinement keeps centroid shape and IVF recall") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val seeded = Similarity.centroids(emb, "vec_id", "embedding", 8)
    val refined = Similarity.kmeansRefine(emb, "vec_id", "embedding", seeded, iters = 1)
    val rows = refined.collect()
    assert(rows.length == 8)
    assert(rows.forall(_.getAs[Seq[Float]]("centroid").length == 64))
    val queries = emb.filter($"vec_id" < 10)
    val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val approx = Similarity.ivfTopK(queries, emb, "vec_id", "embedding",
      k = 5, nCells = 8, nProbe = 4, refineIters = 1)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"refined IVF recall too low: $recall")
  }

  test("composed IVF+PQ+rerank: recall vs brute force, and rerank beats raw ADC") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter($"vec_id" < 10)
    val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val composed = Similarity.ivfPqTopK(queries, emb, "vec_id", "embedding",
      k = 5, nCells = 8, nProbe = 4, m = 8, kCodes = 16, shortlist = 64)
    val rows = composed.collect()
    // contract shape: 5 ranked rows per query, no self-pairs
    assert(rows.groupBy(_.getAs[Long]("query_id")).forall(_._2.length == 5))
    assert(rows.forall(r => r.getAs[Long]("query_id") != r.getAs[Long]("neighbor_id")))
    val got = rows.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (exact intersect got).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF+PQ recall too low: $recall")
    // within the candidates both saw, the exact re-rank agrees with brute
    // force ORDER (ADC quantization error is corrected by the re-rank):
    // every composed hit that brute force also returned carries the same
    // rounded cosine
    val exactScores = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) ->
        r.getAs[Double]("cosine")).toMap
    rows.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      exactScores.get(key).foreach(c => assert(c == r.getAs[Double]("cosine"), key))
    }
  }

  test("LSH top-k: clustered-fixture recall, twin rank-1 guarantee, shape") {
    // clustered fixture: 8 well-separated centers × 12 members with tiny
    // deterministic noise (intra-cluster cosine ≈ 0.99, inter ≈ random).
    // At numPlanes=8/numTables=8 an 8°-apart pair misses with
    // P = (1 − (1 − θ/π)^8)^8 ≈ 1e-4 — LSH must recover same-cluster
    // neighbors, which chance (12/96 of the corpus per bucket) would not.
    import graft.functions.HashFunctions
    def unit(seed: Long, dim: Int): Array[Float] = {
      val raw = Array.tabulate(dim) { d =>
        (HashFunctions.splitmix64(seed * 131 + d).toDouble /
          Long.MaxValue.toDouble).toFloat
      }
      val n = math.sqrt(raw.map(x => x.toDouble * x).sum).toFloat
      raw.map(_ / n)
    }
    val vecs = (for (c <- 0 until 8; m <- 0 until 12) yield {
      val center = unit(c + 1L, 16)
      val noise = unit(c * 100L + m + 50L, 16)
      val v = center.zip(noise).map { case (a, b) => a + 0.08f * b }
      (c * 100L + m, v)
    }).toDF("vec_id", "embedding")
    val queries = vecs.filter($"vec_id" % 100 === 0) // one per cluster
    val exact = Similarity.bruteForceTopK(queries, vecs, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val approx = Similarity.lshTopK(queries, vecs, "vec_id", "embedding",
      k = 5, numTables = 8, numPlanes = 8)
    val rows = approx.collect()
    // shape: ≤ 5 ranked rows per query, no self-pairs
    assert(rows.groupBy(_.getAs[Long]("query_id")).forall(_._2.length <= 5))
    assert(rows.forall(r => r.getAs[Long]("query_id") != r.getAs[Long]("neighbor_id")))
    val got = rows.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (exact intersect got).size.toDouble / exact.size
    assert(recall >= 0.7, s"LSH recall too low on clustered fixture: $recall")
    // identical-twin guarantee: a duplicated vector collides in EVERY
    // table → always a candidate, rank 1 at cosine 1.0
    val twins = vecs.select(($"vec_id" + 100000L).as("vec_id"), $"embedding")
    val out2 = Similarity.lshTopK(queries, vecs.unionByName(twins),
      "vec_id", "embedding", k = 3).collect()
    queries.collect().map(_.getAs[Long]("vec_id")).foreach { qid =>
      val r1 = out2.filter(r => r.getAs[Long]("query_id") == qid &&
        r.getAs[Int]("rank") == 1)
      assert(r1.length == 1 && r1.head.getAs[Long]("neighbor_id") == qid + 100000L
        && r1.head.getAs[Double]("cosine") == 1.0, s"twin not rank-1 for $qid")
    }
  }

  test("embedding near-dup finds an identical-vector pair") {
    val base = Tables.embeddings(spark, "/root/testdata/sf0.001").limit(50)
    val dup = base.filter($"vec_id" === 0).withColumn("vec_id", lit(9999L))
    val out = Dedup.embeddingNearDup(base.unionByName(dup), "vec_id", "embedding",
      minCosine = 0.999)
    assert(out.collect().exists(r =>
      r.getAs[Long]("id_a") == 0L && r.getAs[Long]("id_b") == 9999L))
  }

  test("semDedup: seed assignment, greedy prune, tie and cap semantics") {
    val vecs = Seq(
      (0L, Seq(1f, 0f, 0f)),        // seed 0
      (1L, Seq(0f, 1f, 0f)),        // seed 1
      (2L, Seq(1f, 0.01f, 0f)),     // cluster 0, near-dup of 0 → dropped
      (3L, Seq(0.9f, 0.5f, 0f)),    // cluster 0, cos≈0.874 → kept
      (4L, Seq(0f, 1f, 0.001f)),    // cluster 1, near-dup of 1 → dropped
      (5L, Seq(0f, 0f, 1f)))        // orthogonal to both seeds: tie → cluster 0, kept
      .toDF("vec_id", "embedding")
    val out = Dedup.semDedup(vecs, "vec_id", "embedding",
      nClusters = 2, minCosine = 0.95).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("cluster_id"), r.getAs[Int]("kept"))).toMap
    assert(out == Map(
      0L -> (0L, 1), 2L -> (0L, 0), 3L -> (0L, 1), 5L -> (0L, 1),
      1L -> (1L, 1), 4L -> (1L, 0)))
    // cap binds: cluster 0 has 4 members > maxCluster=3 → prune pass skips
    // it whole (everyone kept) and the audit observes the dropped bucket
    val obs = new org.apache.spark.sql.Observation()
    val capped = Dedup.semDedup(vecs, "vec_id", "embedding",
      nClusters = 2, minCosine = 0.95, maxCluster = 3, audit = Some(obs))
      .collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("kept")).toMap
    assert(capped(2L) == 1 && capped(4L) == 0)
    assert(obs.get("dropped_buckets") == 1L)
  }

  test("removeDupWindows: drops cross-doc spans, keeps within-doc repeats") {
    val df = Seq(
      (1L, "a b c d e"),             // "a b c" shared with 2 and 4
      (2L, "x y a b c z"),
      (3L, "short"),                 // n < k: untouched
      (4L, "a b c"),                 // whole doc is the dup span
      (5L, "p q r p q r p q r"))     // repeats only WITHIN one doc: df=1
      .toDF("doc_id", "text")
    val out = Dedup.removeDupWindows(df, "doc_id", "text", k = 3, minDocFreq = 2)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_removed"),
          r.getAs[String]("cleaned_text")))).toMap
    assert(out(1L) == ((5L, 3L, "d e")))
    assert(out(2L) == ((6L, 3L, "x y z")))
    assert(out(3L) == ((1L, 0L, "short")))
    assert(out(4L) == ((3L, 3L, "")))
    assert(out(5L) == ((9L, 0L, "p q r p q r p q r")))
  }

  test("importanceWeights: target-like docs score above off-domain docs") {
    val target = Seq((100L, "apple banana apple")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "apple banana"),
      (2L, "zebra quokka")).toDF("doc_id", "text")
    val out = TextAnalysis.importanceWeights(corpus, target, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Double]("score")))).toMap
    assert(out(1L)._1 == 2L && out(2L)._1 == 2L)
    assert(out(1L)._2 > 0.0, s"in-domain doc should score positive: ${out(1L)._2}")
    assert(out(2L)._2 < 0.0, s"off-domain doc should score negative: ${out(2L)._2}")
  }

  test("orderedPairs: all i<j pairs, sorted input, degenerate sizes") {
    import graft.functions.HashFunctions
    val df = Seq(
      (1, Seq("c", "a", "b")),
      (2, Seq("x")),
      (3, Seq.empty[String]))
      .toDF("id", "xs")
    val out = df.select($"id",
      HashFunctions.orderedPairs(sort_array($"xs")).as("ps")).collect()
    val p1 = out.find(_.getInt(0) == 1).get.getSeq[org.apache.spark.sql.Row](1)
      .map(r => (r.getString(0), r.getString(1)))
    assert(p1 == Seq(("a", "b"), ("a", "c"), ("b", "c")))
    assert(out.find(_.getInt(0) == 2).get.getSeq[Any](1).isEmpty)
    assert(out.find(_.getInt(0) == 3).get.getSeq[Any](1).isEmpty)
    // struct elements survive the defensive copy
    val sdf = Seq((Seq((1L, "x"), (2L, "y"), (3L, "z")))).toDF("xs")
    val pairs = sdf.select(explode(HashFunctions.orderedPairs($"xs")).as("p"))
      .select($"p.a._1".as("a"), $"p.b._1".as("b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("text analysis: tokens, stopwords, fingerprint determinism") {
    val df = Seq((1L, "The quick fox and the lazy dog")).toDF("doc_id", "text")
    val q = TextAnalysis.quality(df, "text").head()
    assert(q.getAs[Int]("n_tokens") == 7)
    assert(q.getAs[Int]("n_unique_tokens") == 6)  // 'the' twice
    assert(math.abs(q.getAs[Double]("stopword_ratio") - 3.0 / 7.0) < 1e-12) // the, and, the
    val counts = TextAnalysis.tokenCounts(
      Seq((1L, "ab2c, x-1!")).toDF("doc_id", "text"), "text").head()
    assert(counts.getAs[Int]("n_ws_tokens") == 2)
    // [ab][2][c][,] [x][-][1][!]
    assert(counts.getAs[Int]("n_bpe_tokens") == 8)
    val fp1 = df.select(TextAnalysis.fingerprint($"text")).head().getLong(0)
    val fp2 = df.select(TextAnalysis.fingerprint($"text")).head().getLong(0)
    assert(fp1 == fp2 && fp1 >= 0)
  }

  test("langId predicts via marker profiles with deterministic tie-break") {
    val df = Seq(
      (1L, "der hund und die katze ist nicht hier"),
      (2L, "the cat and the dog is in that house"),
      (3L, "xyz qqq www")) // no markers → tie → first profile (de)
      .toDF("doc_id", "text")
    val out = TextAnalysis.langId(df, "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("lang_pred")).toMap
    assert(out(1L) == "de")
    assert(out(2L) == "en")
    assert(out(3L) == "de")
  }

  test("multimodal: payload bytes, metadata extraction, frame sampling") {
    val df = Multimodal.asPayload(
      Seq((1L, "x" * 600), (2L, "ab")).toDF("doc_id", "text"), "text")
    val meta = Multimodal.extractFeatures(df).select($"doc_id", $"media_meta.*").collect()
    val m1 = meta.find(_.getAs[Long]("doc_id") == 1L).get
    assert(m1.getAs[Int]("n_bytes") == 600)
    assert(m1.getAs[Int]("width") >= 64 && m1.getAs[Int]("width") < 64 + 1024)
    // checksum of "ab" = 'a'*1 + 'b'*2 = 97 + 196
    assert(meta.find(_.getAs[Long]("doc_id") == 2L).get.getAs[Long]("checksum") == 293L)
    val frames = Multimodal.sampleFrames(df, frameBytes = 256, everyNth = 1)
      .filter($"doc_id" === 1L)
      .select($"frame_id", length($"frame").as("n")).collect()
    assert(frames.length == 3)  // 600 bytes → frames of 256/256/88
    assert(frames.map(_.getAs[Int]("n")).sorted.toSeq == Seq(88, 256, 256))
  }

  test("cluster resolution: transitive chains merge, separate clusters stay apart") {
    // chain 1-2-3 (1~2, 2~3 but never 1~3 directly) + island 8-9
    val pairs = Seq((1L, 2L), (2L, 3L), (8L, 9L)).toDF("id_a", "id_b")
    val out = Dedup.resolveClusters(pairs).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster_id")).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 8L -> 8L, 9L -> 8L))
    // keep-one-per-cluster falls out as id === cluster_id
    assert(out.filter { case (id, c) => id == c }.keySet == Set(1L, 8L))
    // a longer chain still converges within the iteration bound
    val chain = (1L until 10L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val chained = Dedup.resolveClusters(chain).collect()
      .map(_.getAs[Long]("cluster_id")).toSet
    assert(chained == Set(1L))
  }

  test("window-dup stats: cross-doc spans flagged, within-doc repeats and short docs are not") {
    val wd = Seq(
      (1L, "a b c d e f g h i j"),            // 3 windows; shares [a..h] with doc 2
      (2L, "a b c d e f g h x y"),            // 3 windows; one shared with doc 1
      (3L, "p q r s t u v w"),                // exactly k tokens → 1 window, unique
      (4L, "too short for one window"),       // < k tokens → excluded
      (5L, "m n m n m n m n m n"))            // windows repeat WITHIN the doc only
      .toDF("doc_id", "text")
    val out = Dedup.windowDupStats(wd, "doc_id", "text", k = 8).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_windows"), r.getAs[Long]("n_dup_windows"),
          r.getAs[Double]("dup_fraction")))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 5L))
    assert(out(1L) == ((3L, 1L, 1.0 / 3)))
    assert(out(2L) == ((3L, 1L, 1.0 / 3)))
    assert(out(3L) == ((1L, 0L, 0.0)))
    // doc 5's duplicate windows live in ONE doc — cross-doc df stays 1
    assert(out(5L) == ((3L, 0L, 0.0)))
  }

  test("group overlap: exact shared-shingle counts and Jaccard per source pair") {
    val src = Seq(
      ("A", "x y z w"),                          // shingles: {x y z, y z w}
      ("B", "x y z q"),                          // shingles: {x y z, y z q}
      ("C", "completely different words here"))  // no overlap with A/B
      .toDF("source", "text")
    val out = Dedup.groupOverlap(src, "source", "text", k = 3).collect()
      .map(r => (r.getAs[String]("grp_a"), r.getAs[String]("grp_b"),
        r.getAs[Long]("n_shared"), r.getAs[Double]("jaccard")))
    // only pairs with ≥1 shared shingle are emitted
    assert(out.toSeq == Seq(("A", "B", 1L, 1.0 / 3)))
  }

  test("cluster representatives: best score wins, ties break to the smallest id") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val clusters = Dedup.resolveClusters(pairs)
    val scored = Seq((1L, 5), (2L, 9), (3L, 9), (10L, 4), (11L, 4))
      .toDF("doc_id", "n_tokens")
    val reps = Dedup.clusterRepresentatives(clusters, scored, "doc_id", "n_tokens")
      .collect()
      .map(r => r.getAs[Long]("cluster_id") ->
        ((r.getAs[Long]("rep_id"), r.getAs[Long]("n_docs"), r.getAs[Int]("rep_score"))))
      .toMap
    assert(reps == Map(1L -> ((2L, 3L, 9)), 10L -> ((10L, 2L, 4))))
  }

  test("cluster representatives: unscored members still count; unscored clusters survive") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val clusters = Dedup.resolveClusters(pairs)
    // doc 3 passed no quality gate (no score row); cluster {10,11} is
    // entirely unscored — n_docs must still count every member, and the
    // unscored cluster must elect its min id rather than vanish
    val scored = Seq((1L, 5), (2L, 9)).toDF("doc_id", "n_tokens")
    val reps = Dedup.clusterRepresentatives(clusters, scored, "doc_id", "n_tokens")
      .collect()
      .map(r => r.getAs[Long]("cluster_id") ->
        ((r.getAs[Long]("rep_id"), r.getAs[Long]("n_docs"),
          Option(r.get(r.fieldIndex("rep_score"))))))
      .toMap
    assert(reps == Map(1L -> ((2L, 3L, Some(9))), 10L -> ((10L, 2L, None))))
  }

  test("bigram NLL: hashed-key scale path agrees with the exact string path") {
    def rows(hashed: Boolean) =
      TextAnalysis.bigramNll(docs, "doc_id", "text", hashedKeys = hashed)
        .collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_bigrams"),
          r.getAs[Double]("nll")))
        .toSet
    assert(rows(hashed = true) == rows(hashed = false))
  }

  test("corpus stats: hand-computed discrete percentiles, single-doc and tied groups") {
    def words(n: Int) = Seq.fill(n)("w").mkString(" ")
    val df = (Seq(1, 2, 3, 4, 5).map(n => ("g1", words(n))) ++
        Seq(("g2", words(7))) ++
        Seq(2, 2, 2, 5).map(n => ("g3", words(n))))
      .toDF("source", "text")
    val out = TextAnalysis.corpusStats(df, "source", "text").collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("total_tokens"),
          r.getAs[Double]("mean_tokens"),
          r.getAs[Int]("p50_tokens"), r.getAs[Int]("p90_tokens"))))
      .toMap
    // g1 = [1..5]: p50 at rank ⌈2.5⌉=3 → 3, p90 at rank ⌈4.5⌉=5 → 5
    assert(out("g1") == ((5L, 15L, 3.0, 3, 5)))
    // single doc: every percentile IS the doc
    assert(out("g2") == ((1L, 7L, 7.0, 7, 7)))
    // ties: [2,2,2,5] → p50 rank 2 → 2, p90 rank ⌈3.6⌉=4 → 5
    assert(out("g3") == ((4L, 11L, 2.75, 2, 5)))
  }

  test("chunking: full coverage, overlap stitching, short-doc degenerate") {
    val df = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")),
      (2L, "a b"),
      (3L, "   ")).toDF("doc_id", "text")
    val out = TextAnalysis.chunk(df, "doc_id", "text", chunkTokens = 4, overlap = 1)
      .collect()
    val c1 = out.filter(_.getAs[Long]("doc_id") == 1L).sortBy(_.getAs[Long]("chunk_id"))
    // stride 3 → starts 0,3,6: every token appears, boundaries share 1 token
    assert(c1.map(_.getAs[String]("chunk_text")).toSeq ==
      Seq("t1 t2 t3 t4", "t4 t5 t6 t7", "t7 t8 t9 t10"))
    assert(c1.map(_.getAs[Int]("n_chunk_tokens")).toSeq == Seq(4, 4, 4))
    // short doc → exactly one (short) chunk; blank doc → no chunks
    assert(out.filter(_.getAs[Long]("doc_id") == 2L)
      .map(_.getAs[String]("chunk_text")).toSeq == Seq("a b"))
    assert(!out.exists(_.getAs[Long]("doc_id") == 3L))
  }

  test("decontamination drops exactly the docs sharing a benchmark 5-gram") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over a lazy dog today"),  // contains benchmark 5-gram
      (2L, "completely unrelated training document content here now"),
      (3L, "too short")).toDF("doc_id", "text")
    // benchmark carries ONLY text — a raw eval set has no corpus id column
    val benchmark = Seq("answer: the quick brown fox jumps high").toDF("text")
    val clean = TextAnalysis.decontaminate(corpus, benchmark, "doc_id", "text", k = 5)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(clean == Set(2L, 3L))
    // report form: doc 1 (10 tokens → 6 shingles) shares exactly ONE
    // 5-gram with the benchmark ("the quick brown fox jumps"); doc 3 is
    // too short for any shingle and must still appear, uncontaminated
    val report = TextAnalysis.decontaminateReport(corpus, benchmark, "doc_id", "text", k = 5)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_shingles"), r.getAs[Long]("n_contaminated"),
          r.getAs[Int]("contaminated")))).toMap
    assert(report == Map(
      1L -> ((6L, 1L, 1)), 2L -> ((3L, 0L, 0)), 3L -> ((0L, 0L, 0))))
  }

  test("tf-idf: exact scores and deterministic ranks on a tiny corpus") {
    val df = Seq((1L, "x x y"), (2L, "y z")).toDF("doc_id", "text")
    val out = TextAnalysis.tfIdf(df, "doc_id", "text", topK = 3).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("token")) ->
        ((r.getAs[Double]("score"), r.getAs[Int]("rank")))).toMap
    val ln2 = math.round(2.0 * math.log(2.0) * 1e6) / 1e6
    assert(out((1L, "x")) == ((ln2, 1)))     // tf=2, df=1, N=2 → 2·ln2
    assert(out((1L, "y")) == ((0.0, 2)))     // df=N → idf 0
    assert(out((2L, "z"))._2 == 1)
    assert(out((2L, "y")) == ((0.0, 2)))
  }

  test("bigram NLL: hand-computed smoothed probability on a tiny corpus") {
    // unigrams: a:2 b:2 x:1 → V=3; bigram "a b":2
    // P(b|a) = (2+1)/(u(a)+V) = 3/5 → per-doc nll = -ln(0.6) ≈ 0.510826
    val df = Seq((1L, "a b"), (2L, "a b"), (3L, "x")).toDF("doc_id", "text")
    val out = TextAnalysis.bigramNll(df, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bigrams"), r.getAs[Double]("nll")))).toMap
    val expected = math.round(-math.log(3.0 / 5.0) * 1e6) / 1e6
    assert(out == Map(1L -> ((1L, expected)), 2L -> ((1L, expected))))
  }

  test("MinHash union aggregator: elementwise min IS the union's signature") {
    import graft.functions.{HashFunctions, MinHashUnion}
    val docs = Seq(
      (1L, "g1", "the quick brown fox jumps over the dog"),
      (2L, "g1", "a different second document entirely here now"),
      (3L, "g2", "the quick brown fox jumps over the dog")).toDF("id", "grp", "text")
    val sigs = docs.select(col("id"), col("grp"),
      HashFunctions.minhash(HashFunctions.wordShingles(col("text"), 3), 32).as("sig"))
    // union law: aggregating g1's signatures == signature over the union
    // of g1's shingle arrays (MinHash slot = min over the shingle set)
    val agg = sigs.filter(col("grp") === "g1")
      .groupBy(col("grp")).agg(MinHashUnion.column(32)(col("sig")).as("usig"))
      .head().getAs[scala.collection.Seq[Long]]("usig")
    val direct = docs.filter(col("grp") === "g1")
      .select(HashFunctions.wordShingles(col("text"), 3).as("sh"))
      .agg(flatten(collect_list(col("sh"))).as("all"))
      .select(HashFunctions.minhash(array_distinct(col("all")), 32).as("sig"))
      .head().getAs[scala.collection.Seq[Long]]("sig")
    assert(agg == direct)
    // estJaccard: identical corpora → 1.0; overlapping ones in (0, 1]
    val bySrc = sigs.groupBy(col("grp")).agg(MinHashUnion.column(32)(col("sig")).as("u"))
    val j = bySrc.select(col("grp"), col("u")).collect()
      .map(r => r.getAs[String]("grp") -> r.getAs[scala.collection.Seq[Long]]("u")).toMap
    val same = Seq((j("g2"), j("g2"))).toDF("a", "b")
      .select(MinHashUnion.estJaccard(col("a"), col("b"))).head().getDouble(0)
    assert(same == 1.0)
    val cross = Seq((j("g1"), j("g2"))).toDF("a", "b")
      .select(MinHashUnion.estJaccard(col("a"), col("b"))).head().getDouble(0)
    assert(cross > 0.0 && cross < 1.0)  // g2 ⊂ g1's content but g1 has more
  }

  test("int8 quantization: values in [-127,127], dequant error ≤ scale/2") {
    val df = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val q = df.select(col("vec_id"),
      VectorFunctions.quantizeInt8(col("embedding")).as("qz"))
    val rows = q.collect().map(r => r.getAs[Long]("vec_id") -> r.getStruct(1)).toMap
    val r1 = rows(1L)
    val scale = r1.getAs[Double]("scale")
    val qv = r1.getAs[scala.collection.Seq[Int]]("qvec")
    assert(scale == 1.0 / 127.0)
    assert(qv == Seq(64, -127, 32, 0))  // floor(x*127/absmax + .5)
    assert(qv.forall(v => v >= -127 && v <= 127))
    // zero vector quantizes to zeros with zero scale, no NaN/div-by-zero
    assert(rows(2L).getAs[scala.collection.Seq[Int]]("qvec") == Seq(0, 0, 0, 0))
    // dequantization reconstructs within half a quantization step
    val err = df.select(col("embedding"),
        VectorFunctions.quantizeInt8(col("embedding")).as("qz"))
      .select(col("embedding"),
        VectorFunctions.dequantizeInt8(col("qz.qvec"), col("qz.scale")).as("back"),
        col("qz.scale").as("s"))
      .collect().flatMap { r =>
        val a = r.getAs[scala.collection.Seq[Float]]("embedding")
        val b = r.getAs[scala.collection.Seq[Float]]("back")
        val s = r.getAs[Double]("s")
        a.zip(b).map { case (x, y) => math.abs(x - y) - s / 2 - 1e-6 }
      }
    assert(err.forall(_ <= 0))
  }

  test("sequence packing: deterministic sharded bins, token mass conserved") {
    val docs = spark.range(1, 201).toDF("doc_id")
      .withColumn("n_tokens", (col("doc_id") % 40 + 10).cast("int"))
    val packed = graft.operators.Packing.packSequences(
      docs, "doc_id", "n_tokens", budget = 100, nShards = 4)
    // every doc assigned exactly once; shards are id-determined
    assert(packed.count() == 200)
    assert(packed.select("shard").distinct().count() == 4)
    // bin boundaries: a doc's bin is its preceding-total window
    val bad = packed.filter(col("bin") =!= floor(col("pre_tokens") / 100)).count()
    assert(bad == 0)
    // token mass is conserved through the summary
    val summary = graft.operators.Packing.packSummary(packed, "n_tokens")
    assert(summary.agg(sum("total_tokens")).head().getLong(0) ==
      docs.agg(sum("n_tokens")).head().getLong(0))
    // deterministic across runs
    val again = graft.operators.Packing.packSequences(
      docs, "doc_id", "n_tokens", budget = 100, nShards = 4)
    assert(packed.collect().toSet == again.collect().toSet)
    // string ids shard too (hash sharding — a raw pmod would throw under
    // ANSI mode or collapse every row into the null shard without it),
    // and they spread across shards instead of piling into one
    val sdocs = docs.withColumn("doc_id", concat(lit("doc-"), col("doc_id")))
    val spacked = graft.operators.Packing.packSequences(
      sdocs, "doc_id", "n_tokens", budget = 100, nShards = 4)
    assert(spacked.count() == 200)
    assert(spacked.select("shard").distinct().count() == 4)
  }

  test("repetition metrics score planted repetition; PII redaction scrubs") {
    val df = Seq(
      (1L, "aa aa aa aa b"),
      (2L, "all tokens unique here")).toDF("doc_id", "text")
    val rep = TextAnalysis.repetition(df, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_distinct_tokens"),
          r.getAs[Double]("dup_token_ratio"), r.getAs[Double]("top_token_char_ratio"))))
      .toMap
    // doc 1: aa×4 + b → 5 tokens, 2 distinct, dup 3/5, 'aa' holds 8/9 chars
    assert(rep(1L) == ((5L, 2L, 0.6, 8.0 / 9.0)))
    assert(rep(2L)._3 == 0.0)
    val clean = Seq((1L, "mail bob@x.co or +1 555-123-4567 now"))
      .toDF("id", "t")
      .select(TextAnalysis.piiCount(col("t")).as("n"),
        TextAnalysis.redactPii(col("t")).as("c")).head()
    assert(clean.getAs[Int]("n") == 2)
    assert(clean.getAs[String]("c") == "mail [PII] or [PII] now")
  }

  test("sampling: deterministic membership, nested rates, leak-free splits") {
    val df = spark.range(1, 2001).toDF("id")
    def ids(d: org.apache.spark.sql.DataFrame) =
      d.select("id").collect().map(_.getLong(0)).toSet
    val half1 = ids(Sampling.sample(df, "id", 0.5))
    val half2 = ids(Sampling.sample(df, "id", 0.5))
    assert(half1 == half2)  // same rows every run — hash membership, no RNG
    assert(math.abs(half1.size / 2000.0 - 0.5) < 0.05)
    // rates nest: the 25% sample is a subset of the 50% sample
    assert(ids(Sampling.sample(df, "id", 0.25)).subsetOf(half1))
    // splits partition the data and never move a key between splits
    val sp = Sampling.split(df, "id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val counts = sp.groupBy("split").count().collect()
      .map(r => r.getAs[String]("split") -> r.getAs[Long]("count")).toMap
    assert(counts.values.sum == 2000L)
    assert(counts("train") > 1500L && counts("val") > 100L && counts("test") > 100L)
    val sp2 = Sampling.split(df, "id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    assert(sp.collect().toSet == sp2.collect().toSet)
    // split is decorrelated from sampling: a 50% sample then a 80/10/10
    // split must still produce all three splits (same hash would put every
    // survivor in 'train')
    val sampledSplit = Sampling.split(Sampling.sample(df, "id", 0.5), "id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .groupBy("split").count().collect()
      .map(r => r.getAs[String]("split") -> r.getAs[Long]("count")).toMap
    assert(sampledSplit.keySet == Set("train", "val", "test"))
    // stratified: rate 0 strata vanish, rate 1 strata survive whole
    val g = df.withColumn("grp", when(col("id") % 2 === 0, "even").otherwise("odd"))
    val strat = Sampling.stratified(g, "id", "grp", Map("even" -> 1.0, "odd" -> 0.0))
    assert(strat.count() == 1000L)
    assert(strat.filter(col("grp") === "odd").count() == 0L)
  }

  test("pixel tier: a real PNG decodes to exact pixel dimensions through the batch path") {
    // render a real 7×5 PNG with known pixels via the same JDK ImageIO the
    // decoder uses: all-white top row, all-black rest
    val img = new java.awt.image.BufferedImage(7, 5, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 7; y <- 0 until 5)
      img.setRGB(x, y, if (y == 0) 0xFFFFFF else 0x000000)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val realPng = baos.toByteArray
    // corrupt body: valid PNG header, garbage after IHDR — header tier
    // still reads dimensions, pixel tier must return null, not crash
    val corrupt = realPng.take(24) ++ Array.fill[Byte](16)(0x7F)
    val df = Seq((1L, realPng), (2L, corrupt), (3L, "plain".getBytes("UTF-8")))
      .toDF("id", "payload")
    val out = Multimodal.extractFeaturesBatch(df)
      .select($"id", $"media_meta.format", $"pixel_meta").collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[String]("format"), r.getAs[org.apache.spark.sql.Row]("pixel_meta"))))
      .toMap
    val (fmt1, px1) = out(1L)
    assert(fmt1 == "png")
    assert(px1.getAs[Int]("px_width") == 7 && px1.getAs[Int]("px_height") == 5)
    // 7 of 35 pixels are white (luma 255), the rest black → mean = 255/5
    assert(math.abs(px1.getAs[Double]("mean_luma") - 255.0 / 5.0) < 1e-9)
    assert(out(2L)._1 == "png" && out(2L)._2 == null)
    assert(out(3L)._1 == "unknown" && out(3L)._2 == null)
  }

  test("media headers: real JPEG/PNG/GIF dimensions parsed from payload bytes") {
    // minimal PNG: 8-byte signature, IHDR length=13, "IHDR", w=640, h=480
    val png = Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A,
      0, 0, 0, 13, 'I', 'H', 'D', 'R',
      0, 0, 0x02, 0x80, 0, 0, 0x01, 0xE0).map(_.toByte)
    // minimal JPEG: SOI, APP0 (len 4), SOF0 (precision 8, h=256, w=200)
    val jpeg = Array(0xFF, 0xD8, 0xFF, 0xE0, 0x00, 0x04, 0x00, 0x00,
      0xFF, 0xC0, 0x00, 0x0B, 0x08, 0x01, 0x00, 0x00, 0xC8, 0x01,
      0x00, 0x00, 0x00).map(_.toByte)
    // GIF89a logical screen: w=0x0120 (LE), h=0x00F0 (LE)
    val gif = ("GIF89a".getBytes("US-ASCII") ++
      Array(0x20, 0x01, 0xF0, 0x00).map(_.toByte))
    assert(MediaHeaders.parse(png).contains((640, 480, "png")))
    assert(MediaHeaders.parse(jpeg).contains((200, 256, "jpeg")))
    assert(MediaHeaders.parse(gif).contains((288, 240, "gif")))
    assert(MediaHeaders.parse("plain text".getBytes("UTF-8")).isEmpty)
    // truncated JPEG ending in FF fill bytes must fall back, not crash
    assert(MediaHeaders.parse(
      Array(0xFF, 0xD8, 0xFF, 0xFF, 0xFF, 0xFF).map(_.toByte)).isEmpty)
    // GIF magic followed by a zero-dimension screen descriptor is rejected
    assert(MediaHeaders.gifDims(
      "GIF89a".getBytes("US-ASCII") ++ Array[Byte](0, 0, 0, 0)) == null)

    // expression form over a DataFrame, and the batch (mapPartitions)
    // form, must agree — header-real for images, stub tier otherwise
    val df = Seq((1L, png), (2L, jpeg), (3L, gif),
      (4L, "plain".getBytes("UTF-8"))).toDF("id", "payload")
    def collect(out: org.apache.spark.sql.DataFrame) =
      out.select($"id", $"media_meta.*").collect()
        .map(r => r.getAs[Long]("id") ->
          ((r.getAs[Int]("width"), r.getAs[Int]("height"), r.getAs[String]("format"))))
        .toMap
    val viaExpr = collect(Multimodal.extractFeatures(df))
    assert(viaExpr(1L) == ((640, 480, "png")))
    assert(viaExpr(2L) == ((200, 256, "jpeg")))
    assert(viaExpr(3L) == ((288, 240, "gif")))
    assert(viaExpr(4L)._3 == "unknown")
    assert(collect(Multimodal.extractFeaturesBatch(df)) == viaExpr)
  }

  test("audio headers: synthesized WAV parses exactly; JDK codec agrees; corrupt rejected") {
    // golden synthesis: seed of 10 bytes → 16 + 10%480 = 26 frames,
    // container = 44 + 52 bytes
    val seed = "ten bytes!".getBytes("UTF-8")
    val wav = Multimodal.wavFromBytes(seed)
    assert(wav.length == 44 + 26 * 2)
    assert(new String(wav.take(4), "US-ASCII") == "RIFF")
    assert(new String(wav.slice(8, 12), "US-ASCII") == "WAVE")
    val parsed = MediaHeaders.wavMeta(wav)
    assert(parsed != null)
    assert(parsed.toSeq == Seq(1L, 8000L, 16L, 26L))
    // cross-validate against the JDK's OWN wav reader (javax.sound ships
    // with the JVM): channels / rate / bits / frame count must all agree
    // with our byte-walk parser
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(wav))
    try {
      val fmt = ais.getFormat
      assert(fmt.getChannels == 1)
      assert(fmt.getSampleRate == 8000f)
      assert(fmt.getSampleSizeInBits == 16)
      assert(ais.getFrameLength == 26L)
    } finally ais.close()
    // chunk-walk tolerance: a LIST chunk between fmt and data still parses
    val withList = {
      val head = wav.take(36) // RIFF..fmt chunk end
      val list = "LIST".getBytes("US-ASCII") ++
        Array[Byte](4, 0, 0, 0) ++ "INFO".getBytes("US-ASCII")
      val data = wav.drop(36)
      val out = head ++ list ++ data
      // patch RIFF size (bytes 4..7, LE) for the 12 inserted bytes
      val riffSize = (out.length - 8)
      out(4) = (riffSize & 0xff).toByte
      out(5) = ((riffSize >> 8) & 0xff).toByte
      out(6) = ((riffSize >> 16) & 0xff).toByte
      out(7) = ((riffSize >> 24) & 0xff).toByte
      out
    }
    assert(MediaHeaders.wavMeta(withList).toSeq == Seq(1L, 8000L, 16L, 26L))
    // rejections: plain text, truncated data chunk, non-PCM format tag,
    // declared chunk size past the buffer (the Int-overflow guard)
    assert(MediaHeaders.wavMeta("plain text, not audio".getBytes) == null)
    assert(MediaHeaders.wavMeta(wav.dropRight(10)) == null)
    val nonPcm = wav.clone(); nonPcm(20) = 3 // IEEE float format tag
    assert(MediaHeaders.wavMeta(nonPcm) == null)
    val hugeChunk = wav.clone()
    hugeChunk(16) = -1; hugeChunk(17) = -1; hugeChunk(18) = -1; hugeChunk(19) = -1
    assert(MediaHeaders.wavMeta(hugeChunk) == null)

    // expression form: real fields for wav payloads, zeroed unknown tier
    // otherwise; n_bytes/checksum real in BOTH tiers
    val df = Seq((1L, wav), (2L, "not audio".getBytes("UTF-8")))
      .toDF("id", "payload")
    val out = df.select($"id", Multimodal.audioMeta($"payload").as("m"))
      .select($"id", $"m.*").collect()
      .map(r => r.getAs[Long]("id") -> r).toMap
    assert(out(1L).getAs[String]("format") == "wav")
    assert(out(1L).getAs[Int]("n_channels") == 1)
    assert(out(1L).getAs[Int]("sample_rate") == 8000)
    assert(out(1L).getAs[Int]("bits_per_sample") == 16)
    assert(out(1L).getAs[Long]("n_frames") == 26L)
    assert(out(1L).getAs[Int]("n_bytes") == wav.length)
    assert(out(2L).getAs[String]("format") == "unknown")
    assert(out(2L).getAs[Int]("n_channels") == 0)
    assert(out(2L).getAs[Long]("n_frames") == 0L)
    assert(out(2L).getAs[Long]("checksum") ==
      Multimodal.checksum64("not audio".getBytes("UTF-8")))
  }

  test("video headers: synthesized MP4 box tree parses exactly; v1/largesize/size-0 layouts; corrupt rejected") {
    // golden synthesis: seed of 10 bytes → 25 + 10%480 = 35 samples,
    // width 170, height 130, container 413 + 35 = 448 bytes
    val seed = "ten bytes!".getBytes("UTF-8")
    val mp4 = Multimodal.mp4FromBytes(seed)
    assert(mp4.length == 448)
    // golden ftyp box: size 24, isom brand, minor 0x200, isom+mp41 compat
    assert(mp4.take(24).toSeq == Seq[Byte](
      0, 0, 0, 24, 'f', 't', 'y', 'p', 'i', 's', 'o', 'm',
      0, 0, 2, 0, 'i', 's', 'o', 'm', 'm', 'p', '4', '1'))
    val (fields, brand) = MediaHeaders.mp4Meta(mp4)
    assert(brand == "isom")
    assert(fields.toSeq == Seq(25L, 35L, 170L, 130L, 35L))

    // hand-built VERSION-1 container (64-bit mvhd/tkhd field layouts) with
    // a largesize mdat and a size-0 (extends-to-EOF) free box at the end —
    // the layouts the synthesizer never emits, pinned by hand
    val v1 = {
      val buf = java.nio.ByteBuffer.allocate(24 + 240 + 16 + 8)
        .order(java.nio.ByteOrder.BIG_ENDIAN)
      def fourcc(s: String): Unit = buf.put(s.getBytes("US-ASCII"))
      def matrix(): Unit = { buf.putInt(0x10000); (0 until 3).foreach(_ => buf.putInt(0))
        buf.putInt(0x10000); (0 until 3).foreach(_ => buf.putInt(0)); buf.putInt(0x40000000) }
      buf.putInt(24); fourcc("ftyp"); fourcc("iso6"); buf.putInt(0)
      fourcc("iso6"); fourcc("mp42")
      buf.putInt(240); fourcc("moov")
      buf.putInt(120); fourcc("mvhd"); buf.put(1.toByte); buf.put(Array[Byte](0, 0, 0))
      buf.putLong(0L); buf.putLong(0L)            // creation, modification (64-bit)
      buf.putInt(90000)                           // timescale
      buf.putLong(123456789L)                     // duration (64-bit)
      buf.putInt(0x10000); buf.putShort(0x100.toShort); buf.putShort(0); buf.putLong(0L)
      matrix(); (0 until 6).foreach(_ => buf.putInt(0)); buf.putInt(2)
      buf.putInt(112); fourcc("trak")
      buf.putInt(104); fourcc("tkhd"); buf.put(1.toByte); buf.put(Array[Byte](0, 0, 3))
      buf.putLong(0L); buf.putLong(0L)            // creation, modification (64-bit)
      buf.putInt(1); buf.putInt(0)                // track_ID, reserved
      buf.putLong(123456789L)                     // duration (64-bit)
      buf.putLong(0L); buf.putShort(0); buf.putShort(0); buf.putShort(0); buf.putShort(0)
      matrix(); buf.putInt(1920 << 16); buf.putInt(1080 << 16)
      buf.putInt(1); fourcc("mdat"); buf.putLong(16L) // largesize: header-only box
      buf.putInt(0); fourcc("free")                   // size 0: extends to EOF
      buf.array()
    }
    val (f1, b1) = MediaHeaders.mp4Meta(v1)
    assert(b1 == "iso6")
    assert(f1.toSeq == Seq(90000L, 123456789L, 1920L, 1080L, 0L))

    // rejections: plain text, truncated container (mdat declared size past
    // the buffer), box size below the 8-byte header, declared size past
    // the buffer (the unsigned-32 overflow guard)
    assert(MediaHeaders.mp4Meta("plain text, not a movie box".getBytes) == null)
    assert(MediaHeaders.mp4Meta(mp4.dropRight(10)) == null)
    // moov size 381 (0x17D) → 4: below the 8-byte box header
    val tiny = mp4.clone(); tiny(24 + 2) = 0; tiny(24 + 3) = 4
    assert(MediaHeaders.mp4Meta(tiny) == null)
    val huge = mp4.clone()
    huge(24) = -1; huge(25) = -1; huge(26) = -1; huge(27) = -1
    assert(MediaHeaders.mp4Meta(huge) == null)
    // a moov-less file (mdat only after ftyp) is not a parseable movie
    assert(MediaHeaders.mp4Meta(mp4.take(24) ++ mp4.takeRight(43)) == null)

    // expression form: real fields for mp4 payloads, zeroed unknown tier
    // otherwise; n_bytes/checksum real in BOTH tiers
    val df = Seq((1L, mp4), (2L, "not a video".getBytes("UTF-8")))
      .toDF("id", "payload")
    val out = df.select($"id", Multimodal.videoMeta($"payload").as("m"))
      .select($"id", $"m.*").collect()
      .map(r => r.getAs[Long]("id") -> r).toMap
    assert(out(1L).getAs[String]("format") == "mp4")
    assert(out(1L).getAs[String]("major_brand") == "isom")
    assert(out(1L).getAs[Int]("timescale") == 25)
    assert(out(1L).getAs[Long]("duration") == 35L)
    assert(out(1L).getAs[Int]("width") == 170)
    assert(out(1L).getAs[Int]("height") == 130)
    assert(out(1L).getAs[Long]("n_samples") == 35L)
    assert(out(1L).getAs[Int]("n_bytes") == 448)
    assert(out(2L).getAs[String]("format") == "unknown")
    assert(out(2L).getAs[String]("major_brand") == "")
    assert(out(2L).getAs[Long]("n_samples") == 0L)
    assert(out(2L).getAs[Long]("checksum") ==
      Multimodal.checksum64("not a video".getBytes("UTF-8")))
  }

  test("bloom kernels: zero false negatives, false positives under the design bound") {
    import graft.functions.{BloomFunctions, BloomKernels, HashFunctions}
    val numBits = 1 << 20
    val k = 4
    val bits = new Array[Long](numBits / 64)
    val n = 10000
    val present = (0 until n).map(i => HashFunctions.splitmix64(i.toLong))
    present.foreach(h => BloomKernels.set(bits, k, h))
    assert(present.forall(h => BloomKernels.probe(bits, k, h)),
      "a Bloom filter must never produce a false negative")
    val absent = (0 until 100000).map(i => HashFunctions.splitmix64(1000000L + i))
    val fp = absent.count(h => BloomKernels.probe(bits, k, h)).toDouble / absent.size
    // design bound (1 − e^(−kn/m))^k ≈ 2e-6 at these parameters; 1e-3
    // leaves 500× slack for hash-quality variance without masking a bug
    assert(fp < 1e-3, s"false-positive rate $fp exceeds the design bound")
    // distributed build agrees with the driver-side kernel build
    val built = BloomFunctions.build(
      spark.createDataset(present).toDF("h").repartition(7), "h", numBits, k)
    assert(built.sameElements(bits))
  }

  test("bloom decontaminate is row-identical to exact, even when the filter saturates") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val corpus = docs.filter($"source" =!= "src0")
    val bench = docs.filter($"source" === "src0")
    val exact = TextAnalysis.decontaminate(corpus, bench, "doc_id", "text", k = 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val viaBloom = TextAnalysis.bloomDecontaminate(corpus, bench, "doc_id", "text", k = 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaBloom == exact)
    // a deliberately undersized filter (64 bits for thousands of shingles →
    // ~every probe is a false positive) must still be exact: the confirm
    // join rejects everything the saturated prefilter lets through
    val saturated = TextAnalysis.bloomDecontaminate(corpus, bench, "doc_id", "text",
      k = 5, numBits = 64, numHashes = 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(saturated == exact)
    // empty benchmark → all-zero filter → nothing dropped
    val noBench = TextAnalysis.bloomDecontaminate(corpus, bench.limit(0),
      "doc_id", "text", k = 5)
    assert(noBench.count() == corpus.count())
  }

  test("vocabulary: exact counts, min-count floor, deterministic top-k cut") {
    val df = Seq("a b b c", "b c d", "A  b").toDF("text")
    val out = TextAnalysis.vocabulary(df, "text", minCount = 2L, topK = 2)
      .collect().map(r => (r.getAs[String]("token"), r.getAs[Long]("cnt")))
    // counts: a=2 (case-folded), b=4, c=2, d=1 (dropped by minCount)
    assert(out.toSeq == Seq(("b", 4L), ("a", 2L)),
      s"expected top-2 of (b,4),(a,2),(c,2) with token tie-break: ${out.toSeq}")
  }

  test("collocations: hand-computed PMI, noise floor, tie-break order") {
    // 6 bigram positions: (x,y)×3, (y,x)×2, (y,z)×1
    val df = Seq("x y x y x y", "z y z").toDF("text")
    // marginals over positions: n(x·)=3, n(y·)=2+1=... compute: bigrams
    // doc1: (x,y),(y,x),(x,y),(y,x),(x,y)  doc2: (z,y),(y,z)
    // pairs: (x,y)=3 (y,x)=2 (z,y)=1 (y,z)=1, N=7
    // left: x=3, y=3, z=1 ; right: y=4, x=2, z=1
    val out = TextAnalysis.collocations(df, "text", minCount = 2L, topK = 10)
      .collect().map(r => ((r.getAs[String]("w1"), r.getAs[String]("w2")),
        (r.getAs[Long]("n_ab"), r.getAs[Double]("pmi")))).toMap
    assert(out.keySet == Set(("x", "y"), ("y", "x")))
    assert(out(("x", "y"))._1 == 3L)
    def pmi6(nab: Double, na: Double, nb: Double) =
      math.floor(math.log(nab * 7.0 / (na * nb)) * 1e6 + 0.5) / 1e6
    assert(out(("x", "y"))._2 == pmi6(3, 3, 4))
    assert(out(("y", "x"))._2 == pmi6(2, 3, 2))
  }

  test("bucketed colocated join matches the plain join bit for bit") {
    import graft.sources.Bucketing
    val tmp = tmpDir("bucket-spec")
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val customer = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
      .select("c_custkey", "c_name")
    Bucketing.writeBucketed(orders, "spec_orders", s"$tmp/o", "o_custkey", 4)
    Bucketing.writeBucketed(customer, "spec_customer", s"$tmp/c", "c_custkey", 4)
    val viaBuckets = Bucketing.colocatedJoin(
        Bucketing.table(spark, "spec_orders"),
        Bucketing.table(spark, "spec_customer"), "o_custkey", "c_custkey")
      .select("o_orderkey", "c_custkey", "c_name")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val plain = orders.join(customer, $"o_custkey" === $"c_custkey")
      .select("o_orderkey", "c_custkey", "c_name")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(viaBuckets == plain && plain.nonEmpty)
    // re-registering under the same name replaces both metadata and data
    Bucketing.writeBucketed(orders.limit(10), "spec_orders", s"$tmp/o2", "o_custkey", 4)
    assert(Bucketing.table(spark, "spec_orders").count() == 10)
  }

  test("hashedLinearScore: occurrence-weighted, deterministic, exact doubling") {
    val df = Seq((1L, "alpha"), (2L, "alpha alpha"), (3L, "alpha beta"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.hashedLinearScore(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(1L)._1 == 1L && out(2L)._1 == 2L && out(3L)._1 == 2L)
    // same token twice adds its weight exactly twice (DECIMAL accumulation
    // of 6-dp terms — no float-order slack)
    assert(out(2L)._2 == out(1L)._2 * 2)
    // score bounded by n_tokens (every weight is in [-1, 1))
    out.values.foreach { case (n, s) => assert(math.abs(s) <= n.toDouble) }
    // collisions aside, different tokens get different weights
    assert(out(3L)._2 != out(2L)._2)
  }

  test("bm25: hand-computed scores on a two-doc corpus") {
    val df = Seq((1L, "bank data bank"), (2L, "cash flow")).toDF("doc_id", "text")
    val out = TextAnalysis.bm25(df, "doc_id", "text", Seq("bank", "data"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // only d1 matches; dl=3, N=2, avgdl=2.5, df(bank)=df(data)=1, idf=ln 2
    assert(out.keySet == Set(1L))
    assert(out(1L)._1 == 2L)
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val idf = math.log((2.0 - 1.0 + 0.5) / (1.0 + 0.5) + 1.0)
    def term(tf: Double) =
      r6((idf * (tf * (1.2 + 1.0))) /
        (tf + 1.2 * ((1.0 - 0.75) + 0.75 * (3.0 / 2.5))))
    val expected = (BigDecimal(term(2.0)).setScale(6) +
      BigDecimal(term(1.0)).setScale(6)).toDouble
    assert(out(1L)._2 == expected)
  }

  test("incrementalExact: index hits drop, in-batch dups elect min id, append keeps the invariant") {
    val index = Seq((100L, "already ingested"), (101L, "old news")).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "already  INGESTED "), // normalizes to an index hit → dropped
      (2L, "fresh content"),
      (3L, "fresh content"),      // in-batch dup → loses to id 2
      (4L, "unique piece")
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalExact(batch, index, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out == Set(2L, 4L))
    // appending survivors to the index preserves exactly-one-copy:
    // rerunning the batch against the grown index drops everything
    val grown = index.unionByName(batch.filter($"doc_id".isin(2L, 4L)))
    assert(Dedup.incrementalExact(batch, grown, "doc_id", "text").count() == 0)
  }

  test("curriculumOrder: difficulty is monotone along each shard's schedule") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val out = Sampling.curriculumOrder(docs, "doc_id",
        size(TextAnalysis.tokens($"text")), nShards = 4)
      .select(col("shard"), col("pos"), size(TextAnalysis.tokens($"text")).as("diff"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    out.groupBy(_._1).foreach { case (shard, rows) =>
      val byPos = rows.sortBy(_._2).map(_._3)
      assert(byPos.zip(byPos.tail).forall { case (a, b) => a <= b },
        s"shard $shard schedule is not easy-to-hard")
      assert(rows.map(_._2).sorted.toSeq == (1L to rows.length).toSeq)
    }
  }

  test("trainingOrder: contiguous positions per shard, partitioning-invariant") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val out = Sampling.trainingOrder(docs, "doc_id", nShards = 8)
      .select("doc_id", "shard", "pos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length == docs.count())
    // per shard: positions are exactly 1..count (a total order, no gaps)
    out.groupBy(_._2).foreach { case (shard, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq,
        s"shard $shard positions not contiguous")
    }
    // pure function of the key: identical under a different layout
    val again = Sampling.trainingOrder(docs.repartition(13), "doc_id", nShards = 8)
      .select("doc_id", "shard", "pos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(again.toSet == out.toSet)
  }

  test("zValue: rank bounds, known Morton codes, degenerate range") {
    import graft.sources.ZOrder
    val df = Seq((0.0, 0.0), (1.0, 0.0), (0.0, 1.0), (65535.0, 0.0),
      (65535.0, 65535.0)).toDF("a", "b")
    // lo=0, hi=65535 makes rank16 the identity on integral inputs
    val z = df.select(ZOrder.zValue(
      $"a", lit(0.0), lit(65535.0), $"b", lit(0.0), lit(65535.0)).as("z"))
      .collect().map(_.getLong(0)).toSeq
    // a-bits land at odd positions, b-bits at even
    assert(z == Seq(0L, 2L, 1L, 0xAAAAAAAAL, 0xFFFFFFFFL), z)
    // degenerate lo=hi range ranks everything 0 instead of dividing by zero
    val degenerate = df.select(ZOrder.zValue(
      $"a", lit(5.0), lit(5.0), $"b", lit(0.0), lit(65535.0)).as("z"))
      .collect().map(_.getLong(0)).toSeq
    assert(degenerate == Seq(0L, 0L, 1L, 0L, 0xAAAAAAAAL >> 1), degenerate)
  }

  test("z-order layout tightens per-file footer stats in BOTH dims; plain sort only in one") {
    import graft.sources.ZOrder
    val o = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val bounds = o.agg(
      min($"o_totalprice").as("plo"), max($"o_totalprice").as("phi"),
      min($"o_custkey").cast("double").as("clo"),
      max($"o_custkey").cast("double").as("chi"))
    val Array(plo, phi, clo, chi) = bounds.collect()
      .flatMap(r => Seq(r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    val z = ZOrder.zValue($"o_totalprice", lit(plo), lit(phi),
      $"o_custkey".cast("double"), lit(clo), lit(chi))
    val zDir = tmpDir("zorder")
    val sortDir = tmpDir("plainsort")
    ZOrder.layout(o, z, numFiles = 16).write.mode("overwrite").parquet(zDir)
    o.repartitionByRange(16, $"o_totalprice").sortWithinPartitions($"o_totalprice")
      .write.mode("overwrite").parquet(sortDir)
    // normalized (max-min) span of each dimension per FILE — the exact
    // quantity parquet row-group pruning keys off
    def spans(dir: String): (Double, Double) = {
      val files = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getPath)
      assert(files.length == 16, s"expected 16 files, got ${files.length}")
      val perFile = files.map { f =>
        val r = spark.read.parquet(f).agg(
          (max($"o_totalprice") - min($"o_totalprice")) / (phi - plo),
          (max($"o_custkey").cast("double") - min($"o_custkey")) / (chi - clo)
        ).head()
        (r.getDouble(0), r.getDouble(1))
      }
      (perFile.map(_._1).sum / perFile.length, perFile.map(_._2).sum / perFile.length)
    }
    val (zPrice, zCust) = spans(zDir)
    val (sPrice, sCust) = spans(sortDir)
    // plain sort: near-perfect on the sort key, useless on the other dim
    assert(sPrice < 0.2, s"plain sort price span $sPrice")
    assert(sCust > 0.8, s"plain sort custkey span $sCust")
    // z-order: BOTH dims well under the full range (~1/sqrt(16) ideal)
    assert(zPrice < 0.6, s"z-order price span $zPrice")
    assert(zCust < 0.6, s"z-order custkey span $zCust")
  }

  test("temperatureSample: smallest source kept whole, kept counts flatten toward sqrt") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val before = docs.groupBy($"source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val after = Sampling.temperatureSample(docs, "doc_id", "source")
      .groupBy($"source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val nMin = before.values.min.toDouble
    before.foreach { case (src, n) =>
      val expected = math.sqrt(nMin * n) // n · √(n_min/n)
      val got = after.getOrElse(src, 0L).toDouble
      // hash-thinning binomial noise: allow 4σ around the expected count
      val sigma = math.sqrt(expected * (1.0 - expected / n)) max 1.0
      assert(math.abs(got - expected) <= 4 * sigma,
        s"$src: kept $got, expected ~$expected ± ${4 * sigma}")
    }
    // deterministic: same rows on a rerun
    val again = Sampling.temperatureSample(docs.repartition(7), "doc_id", "source")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == Sampling.temperatureSample(docs, "doc_id", "source")
      .select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("approx profile: HLL distinct and percentile bands hold at both scales, incl. the small-group bypass") {
    // round 11: q83 is oracle-visible — the sketch-vs-exact bounds ride
    // the result frame as booleans. The spec checks them at BOTH scales
    // (the oracle gate covers sf0.01 only) and pins n_docs against an
    // independent exact count.
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").foreach { d =>
      val rows = Queries.queries("q83_approx_profile")(spark, d).collect()
      assert(rows.length == 20, s"$d: expected 20 sources, got ${rows.length}")
      rows.foreach { r =>
        assert(r.getBoolean(2) && r.getBoolean(3) && r.getBoolean(4),
          s"$d ${r.getString(0)}: invariant booleans $r")
      }
      val exact = Tables.documents(spark, d).groupBy($"source").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rows.map(r => r.getString(0) -> r.getLong(1)).toMap == exact)
    }
  }

  test("fuzzyPairsBlocked: within-block edit-distance pairs, cross-block excluded") {
    import graft.operators.Linkage
    val df = Seq(
      (1L, "acme corp", "west"), (2L, "acme corp.", "west"), // dist 1
      (3L, "acme cord", "west"),                             // dist 1 to #1, 2 to #2
      (4L, "zenith llc", "west"),                            // far from all
      (5L, "acme corp", "east")                              // exact dup, WRONG block
    ).toDF("id", "name", "region")
    val out = Linkage.fuzzyPairsBlocked(df, "id", "name", Seq("region"), maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(out.keySet == Set((1L, 2L), (1L, 3L), (2L, 3L)), out)
    assert(out((1L, 2L)) == 1 && out((1L, 3L)) == 1 && out((2L, 3L)) == 2)
    // maxDist 0 degenerates to within-block exact matching
    assert(Linkage.fuzzyPairsBlocked(df, "id", "name", Seq("region"), 0).count() == 0)
  }

  test("fuzzyPairsBlocked: oversized blocks dropped whole, audited; no-op below cap") {
    import graft.operators.Linkage
    import org.apache.spark.sql.Observation
    // "hot" block: 6 near-identical names; "cold" block: one close pair
    val hot = (1L to 6L).map(i => (i, s"acme corp $i", "hot"))
    val cold = Seq((10L, "zenith llc", "cold"), (11L, "zenith llc.", "cold"))
    val df = (hot ++ cold).toDF("id", "name", "region")
    val obs = Observation()
    val capped = Linkage.fuzzyPairsBlocked(df, "id", "name", Seq("region"),
      maxDist = 2, maxBlock = 4, audit = Some(obs)).collect()
    // the hot block (6 > 4) vanishes WHOLE; the cold pair survives
    assert(capped.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((10L, 11L)))
    assert(obs.get("dropped_blocks") == 1L, obs.get)
    assert(obs.get("total_blocks") == 2L, obs.get)
    // below the cap the result is identical to the uncapped join
    val uncapped = Linkage.fuzzyPairsBlocked(df, "id", "name", Seq("region"), 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val roomy = Linkage.fuzzyPairsBlocked(df, "id", "name", Seq("region"),
      maxDist = 2, maxBlock = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(roomy == uncapped && uncapped.size > 1)
  }

  test("sampleN: exactly n per stratum, short strata survive whole, deterministic") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val out = Sampling.sampleN(docs, "doc_id", "lang", n = 7)
    val perStratum = out.groupBy($"lang").count().collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Long]("count")).toMap
    val full = docs.groupBy($"lang").count().collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Long]("count")).toMap
    full.foreach { case (lang, total) =>
      assert(perStratum(lang) == math.min(7L, total),
        s"stratum $lang: got ${perStratum(lang)} of $total")
    }
    // identical pick under a different physical partitioning
    val again = Sampling.sampleN(docs.repartition(13), "doc_id", "lang", n = 7)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == out.select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("prioritySample: exact hand-computed top-k, w<=0 excluded, partitioning-invariant") {
    val rows = (1L to 400L).map(id => (id, if (id % 50 == 0) 0L else id % 97 + 1))
    val df = rows.toDF("id", "w")
    val k = 25
    val out = Sampling.prioritySample(df, "id", "w", k)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(out.length == k)
    // recompute every priority with the same md5 math; expect the exact top-k
    val md = java.security.MessageDigest.getInstance("MD5")
    def u32(id: Long): Long = {
      val hex = md.digest(s"${id}priority".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      java.lang.Long.parseLong(hex, 16) + 1L
    }
    val expected = rows.filter(_._2 > 0)
      .map { case (id, w) => (id, w.toDouble / u32(id).toDouble) }
      .sortBy { case (id, p) => (-p, id) }.take(k)
    assert(out.toSeq == expected, s"got ${out.take(3).toSeq} want ${expected.take(3)}")
    // zero-weight ids (multiples of 50) never appear
    assert(out.forall(_._1 % 50 != 0))
    // identical pick under a different physical partitioning
    val again = Sampling.prioritySample(df.repartition(7), "id", "w", k)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(again.toSeq == out.toSeq)
  }

  test("prioritySampleN: exact per-stratum top-k, short strata whole, partitioning-invariant") {
    val rows = (1L to 300L).map(id =>
      (id, if (id % 40 == 0) 0L else id % 83 + 1, s"s${id % 4}"))
    val df = rows.toDF("id", "w", "g")
    val k = 10
    val out = Sampling.prioritySampleN(df, "id", "w", "g", k)
      .collect().map(r => (r.getLong(0), r.getString(2), r.getDouble(3)))
    // recompute priorities driver-side; expect the exact per-stratum top-k
    val md = java.security.MessageDigest.getInstance("MD5")
    def u32(id: Long): Long = {
      val hex = md.digest(s"${id}priority".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      java.lang.Long.parseLong(hex, 16) + 1L
    }
    val expected = rows.filter(_._2 > 0)
      .map { case (id, w, g) => (id, g, w.toDouble / u32(id).toDouble) }
      .groupBy(_._2).values.flatMap(_.sortBy { case (id, _, p) => (-p, id) }.take(k))
      .toSeq.sortBy(t => (t._2, -t._3, t._1))
    assert(out.toSeq.sortBy(t => (t._2, -t._3, t._1)) == expected)
    // every stratum has min(k, eligible) rows
    val eligible = rows.filter(_._2 > 0).groupBy(_._3).view.mapValues(_.size).toMap
    val got = out.groupBy(_._2).view.mapValues(_.length).toMap
    eligible.foreach { case (g, n) => assert(got(g) == math.min(k, n)) }
    // identical pick under a different physical partitioning
    val again = Sampling.prioritySampleN(df.repartition(9), "id", "w", "g", k)
      .collect().map(r => (r.getLong(0), r.getString(2), r.getDouble(3)))
    assert(again.toSet == out.toSet)
  }

  test("unicodeNorm: NFC composes, NFKC folds compatibility chars, ASCII untouched") {
    import graft.functions.HashFunctions.unicodeNorm
    val df = Seq(
      ("é", "decomp"),       // e + combining acute → é
      ("é", "comp"),          // already composed
      ("ﬁle", "ligature"),    // ﬁle (U+FB01 ligature)
      ("plain ascii", "ascii")
    ).toDF("s", "tag")
    val out = df.select($"tag", unicodeNorm($"s").as("nfc"),
        unicodeNorm($"s", "NFKC").as("nfkc"), length(unicodeNorm($"s")).as("n"))
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2), r.getInt(3))).toMap
    assert(out("decomp")._1 == "\u00e9" && out("decomp")._3 == 1)
    assert(out("comp")._1 == "\u00e9")
    assert(out("decomp")._1 == out("comp")._1)  // forms unify
    assert(out("ligature")._1 == "ﬁle")    // NFC keeps the ligature
    assert(out("ligature")._2 == "file")        // NFKC folds it
    assert(out("ascii")._1 == "plain ascii")
    // SQL surface
    graft.functions.GraftExtensions.register(spark)
    df.createOrReplaceTempView("un_t")
    val sql = spark.sql(
      "SELECT unicode_norm(s), unicode_norm(s, 'NFKC') FROM un_t WHERE tag = 'ligature'")
      .head()
    assert(sql.getString(0) == "ﬁle" && sql.getString(1) == "file")
  }

  test("dispositionLedger: dispositions partition the corpus; kept == assembly output") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val corpus = docs.filter($"source" =!= "src0")
    val bench = docs.filter($"source" === "src0")
    val ledger = pipelines.CorpusPipeline.dispositionLedger(
      corpus, bench, "doc_id", "text", "source")
    // exactly one row per input doc — a PARTITION, not a multi-tag
    assert(ledger.count() == corpus.count())
    assert(ledger.select("doc_id").distinct().count() == corpus.count())
    // 'kept' is row-identical to running the assembly stages directly
    val kept = ledger.filter($"disposition" === "kept")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val assembled = operators.Sampling.temperatureSample(
        operators.TextAnalysis.bloomDecontaminate(
          operators.Dedup.exactKeepFirst(corpus, "doc_id", "text"),
          bench, "doc_id", "text", k = 5),
        "doc_id", "source")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == assembled)
    // every disposition label is one of the four
    val labels = ledger.select("disposition").distinct()
      .collect().map(_.getString(0)).toSet
    assert(labels.subsetOf(Set("exact_dup", "contaminated", "rebalanced", "kept")))
  }

  test("dhash: identical rasters collide, one-pixel tweak stays near, inversion is far") {
    val base = Array.tabulate(256)(i => (i % 251).toByte)
    val tweak = base.clone(); tweak(40) = (tweak(40) + 120).toByte
    val inverted = base.map(b => (~b).toByte)
    val png = Multimodal.pngFromBytes(base)
    val png2 = Multimodal.pngFromBytes(base.clone())
    val pngTweak = Multimodal.pngFromBytes(tweak)
    val pngInv = Multimodal.pngFromBytes(inverted)
    val dec = new graft.operators.PixelDecoder
    try {
      val h = dec.dhash(png, "png").get
      assert(dec.dhash(png2, "png").get == h)       // deterministic round-trip
      val ht = dec.dhash(pngTweak, "png").get
      val hi = dec.dhash(pngInv, "png").get
      def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
      assert(ham(h, ht) <= 6, s"tweak moved ${ham(h, ht)} bits")
      assert(ham(h, hi) > 20, s"inversion only moved ${ham(h, hi)} bits")
      assert(dec.dhash("not an image".getBytes, "png").isEmpty)
    } finally dec.close()
  }

  test("pngFromBytesPerturbed: dhash moves AT MOST 1 bit from the original, across seeds") {
    // the q89 oracle's recall fixture rests on this theorem: the
    // perturbation touches only dHash cell (0,0), which participates in
    // exactly one comparison bit
    val dec = new graft.operators.PixelDecoder
    try {
      (0 until 40).foreach { s =>
        val seed = Array.tabulate(64 + s)(i => ((i * 31 + s * 17) % 256).toByte)
        val h0 = dec.dhash(Multimodal.pngFromBytes(seed), "png").get
        val h1 = dec.dhash(Multimodal.pngFromBytesPerturbed(seed), "png").get
        val ham = java.lang.Long.bitCount(h0 ^ h1)
        assert(ham <= 1, s"seed $s: perturbation moved $ham bits")
      }
      // empty seed: both rasters defined, bound still holds
      val e0 = dec.dhash(Multimodal.pngFromBytes(Array.empty), "png").get
      val e1 = dec.dhash(Multimodal.pngFromBytesPerturbed(Array.empty), "png").get
      assert(java.lang.Long.bitCount(e0 ^ e1) <= 1)
    } finally dec.close()
  }

  test("deflate round-trip law holds on empty/unicode/repetitive/long inputs; band bound holds") {
    import graft.operators.{TextAnalysis, TextKernels}
    import org.apache.spark.unsafe.types.UTF8String
    // includes a >64 KiB high-entropy input: deflate stored-block framing
    // adds 5 B PER 64 KiB block (+6 B zlib header/adler), so the band must
    // be block-aware - the old 1 + 11/len form is only valid under 64 KiB
    val rng = new scala.util.Random(42)
    val big = Array.fill(200000)((33 + rng.nextInt(94)).toChar).mkString
    val texts = Seq("", "a", "héllo wörld ünïcode é中文",
      Seq.fill(5000)("spam").mkString(" "),
      (1 to 3000).map(i => s"w${i * 7919 % 100000}").mkString(" "),
      "\n\t\r mixed control  bytes", big)
    texts.foreach { t =>
      assert(TextKernels.deflateRoundTrip(UTF8String.fromString(t)),
        s"round trip failed for ${t.take(30)}")
      val len = t.getBytes("UTF-8").length
      val cr = TextKernels.deflateRatio(UTF8String.fromString(t))
      val bound = 1.0 + (6.0 + 5.0 * math.ceil(len / 65535.0)) /
        math.max(len, 1)
      assert(cr > 0.0 && cr <= bound,
        s"ratio $cr outside band $bound for len $len")
    }
    // and through the codegen'd column path
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val rts = df.select(TextAnalysis.compressionRoundTrip($"text")).collect()
    assert(rts.forall(_.getBoolean(0)))
  }

  test("dhashNearDup pairs near-identical images; corrupt payloads drop out") {
    val base = Array.tabulate(256)(i => (i * 7 % 253).toByte)
    val tweak = base.clone(); tweak(10) = (tweak(10) + 100).toByte
    val far = Array.tabulate(256)(i => (255 - i * 13 % 256).toByte)
    val rows = Seq(
      (1L, Multimodal.pngFromBytes(base)),
      (2L, Multimodal.pngFromBytes(base.clone())),   // identical raster
      (3L, Multimodal.pngFromBytes(tweak)),          // near dup
      (4L, Multimodal.pngFromBytes(far)),            // unrelated
      (5L, "corrupt bytes, no container".getBytes)   // undecodable → null hash
    ).toDF("doc_id", "payload")
    val pairs = Multimodal.dhashNearDup(rows, "doc_id", maxHamming = 6)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L), pairs)
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("levWithin agrees with Spark's thresholded levenshtein on random string pairs") {
    import graft.operators.Linkage
    val rnd = new scala.util.Random(7)
    val alphabet = "abcde ñ日"  // multi-byte codepoints included
    def randStr() = (0 until rnd.nextInt(12)).map(_ =>
      alphabet(rnd.nextInt(alphabet.length))).mkString
    // include shared-prefix/suffix pairs (the strip path) and identical pairs
    val pairs = (1 to 300).map { _ =>
      val base = randStr()
      rnd.nextInt(3) match {
        case 0 => (randStr(), randStr())
        case 1 => (base + randStr(), base + randStr())
        case 2 => (randStr() + base, randStr() + base)
      }
    } :+ (("", "")) :+ (("abc", "abc"))
    val df = pairs.toDF("a", "b")
    for (k <- Seq(0, 1, 2, 5)) {
      val bad = df.select(
          Linkage.levWithin($"a", $"b", k).as("mine"),
          levenshtein($"a", $"b", k).as("ref"))
        .filter($"mine" =!= $"ref")
      assert(bad.count() == 0,
        s"k=$k: ${bad.take(5).mkString(", ")}")
    }
  }

  test("jaroWinkler matches the textbook vectors (DuckDB-compatible contract)") {
    import graft.operators.Linkage
    val cases = Seq(
      ("martha", "marhta", 0.961111),   // 1 transposition + 3-char prefix
      ("dixon", "dicksonx", 0.813333),  // jaro 0.766667 + 2-char prefix
      ("dwayne", "duane", 0.84),
      ("abc", "abc", 1.0),
      ("", "", 1.0),
      ("", "abc", 0.0),
      ("ab", "a", 0.85),                // jaro 0.833333 + 1-char prefix
      // shared 4-char prefix but jaro ≤ 0.7 → NO Winkler bonus
      ("abcdxxxxxx", "abcdyyyyyy", 0.6),
      ("abxxxxxxxx", "abyyyyyyyy", 0.466667))
    val out = cases.toDF("a", "b", "want")
      .select($"a", $"b", round(Linkage.jaroWinkler($"a", $"b"), 6).as("jw"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    cases.foreach { case (a, b, want) =>
      assert(math.abs(out((a, b)) - want) < 1e-9, s"($a, $b): ${out((a, b))}")
    }
  }

  test("fuzzyPairsJaro: blocked scoring pairs; ratio prune is lossless") {
    import graft.operators.Linkage
    val df = Seq(
      (1L, "jonathan smith", "w"), (2L, "jonathon smith", "w"), // jw ≈ 0.97
      (3L, "jon smith", "w"),                                   // short: ratio-pruned at high τ
      (4L, "zebra quartz", "w"),                                // dissimilar
      (5L, "jonathan smith", "e")                               // exact dup, wrong block
    ).toDF("id", "name", "region")
    val out = Linkage.fuzzyPairsJaro(df, "id", "name", Seq("region"), minSim = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out.keySet == Set((1L, 2L)), out)
    assert(out((1L, 2L)) >= 0.95 && out((1L, 2L)) <= 1.0)
    // prune losslessness: scoring ALL within-block pairs directly finds no
    // pair above τ that the pruned operator missed
    val all = df.as("a").join(df.as("b"),
        $"a.region" === $"b.region" && $"a.id" < $"b.id")
      .select(round(Linkage.jaroWinkler($"a.name", $"b.name"), 6).as("jw"),
        $"a.id", $"b.id")
      .filter($"jw" >= 0.95)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(all == out.keySet)
  }

  test("fuzzyPairsGlobal equals brute force on a mutated corpus (incl. short strings)") {
    import graft.operators.Linkage
    val rnd = new scala.util.Random(11)
    val alphabet = "abcdefg"
    def randStr(n: Int) = (0 until n).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    // bases of many lengths (incl. len 0..3 shorts) + planted near-dups
    val bases = (0 until 60).map(i => randStr(rnd.nextInt(12)))
    def mutate(s: String): String =
      if (s.isEmpty) randStr(1)
      else rnd.nextInt(3) match {
        case 0 => s.updated(rnd.nextInt(s.length), alphabet(rnd.nextInt(alphabet.length)))
        case 1 => s.patch(rnd.nextInt(s.length + 1), Seq(alphabet(rnd.nextInt(alphabet.length))), 0)
        case 2 => s.patch(rnd.nextInt(s.length), Nil, 1)
      }
    val strs = (bases ++ bases.map(mutate) ++ bases.map(s => mutate(mutate(s))))
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }
    val df = strs.toDF("id", "s")
    for (k <- Seq(1, 2)) {
      val got = Linkage.fuzzyPairsGlobal(df, "id", "s", maxDist = k, q = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
      val want = (for {
        (ia, sa) <- strs; (ib, sb) <- strs if ia < ib
        d = levenshteinRef(sa, sb) if d <= k
      } yield (ia, ib) -> d).toMap
      assert(got == want,
        s"k=$k missing=${(want.keySet -- got.keySet).take(5)} extra=${(got.keySet -- want.keySet).take(5)}")
    }
  }

  test("fuzzyPairsGlobal: hot grams above the cap drop loudly (audited)") {
    import graft.operators.Linkage
    import org.apache.spark.sql.Observation
    // every string shares the template prefix; tails are rare
    val df = (1L to 40L).map(i => (i, f"TMPL-$i%03d")).toDF("id", "s")
    val strs = (1L to 40L).map(i => (i, f"TMPL-$i%03d"))
    val want = (for {
      (ia, sa) <- strs; (ib, sb) <- strs if ia < ib
      if levenshteinRef(sa, sb) <= 1
    } yield (ia, ib)).toSet
    // tight cap: the template grams (df=40) drop loudly; pairs MAY be lost
    // — that is the documented contract, the audit is the signal
    val obs = Observation()
    val tight = Linkage.fuzzyPairsGlobal(df, "id", "s", maxDist = 1, q = 2,
      maxGramBucket = 8, audit = Some(obs))
    val gotTight = tight.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(obs.get("dropped_grams").asInstanceOf[Long] > 0)
    assert(gotTight.subsetOf(want))   // never a FALSE pair
    // roomy cap: nothing drops, result equals brute force exactly
    val obs2 = Observation()
    val roomy = Linkage.fuzzyPairsGlobal(df, "id", "s", maxDist = 1, q = 2,
      maxGramBucket = 1000, audit = Some(obs2))
    val gotRoomy = roomy.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(obs2.get("dropped_grams").asInstanceOf[Long] == 0L)
    assert(gotRoomy == want, s"missing=${(want -- gotRoomy).take(5)}")
  }

  private def levenshteinRef(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("semanticDecontaminate drops exactly the vectors near a benchmark vector") {
    val mk = (xs: Seq[Double]) => xs.map(_.toFloat).toArray
    val corpus = Seq(
      (1L, mk(Seq(1.0, 0.0, 0.0))),   // cos 1.0 to bench #10 → dropped
      (2L, mk(Seq(0.9, 0.1, 0.0))),   // cos ≈ 0.994 → dropped
      (3L, mk(Seq(0.0, 1.0, 0.0))),   // cos 0 to both → kept
      (4L, mk(Seq(0.0, 0.0, 1.0)))    // cos 1.0 to bench #11 → dropped
    ).toDF("vec_id", "embedding")
    val bench = Seq(
      (10L, mk(Seq(1.0, 0.0, 0.0))),
      (11L, mk(Seq(0.0, 0.0, 1.0)))).toDF("vec_id", "embedding")
    val kept = Similarity.semanticDecontaminate(corpus, bench,
      "vec_id", "embedding", minCosine = 0.9)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L))
    // empty benchmark keeps everything
    assert(Similarity.semanticDecontaminate(corpus, bench.limit(0),
      "vec_id", "embedding", 0.9).count() == 4)
  }

  test("rrfFuse: both-list ids outrank single-list ids; ranks carried through") {
    val a = Seq((1L, 1), (2L, 2), (3L, 3)).toDF("doc_id", "rank")
    val b = Seq((2L, 1), (4L, 2)).toDF("doc_id", "rank")
    val out = Similarity.rrfFuse(a, b, "doc_id", k0 = 60).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Double]("rrf"), r.getAs[Int]("fused_rank"))).toMap
    // doc 2: 1/62 + 1/61 ≈ 0.032524 — the only both-list id, must lead
    assert(out(2L)._2 == 1)
    assert(math.abs(out(2L)._1 - (1.0 / 62 + 1.0 / 61)) < 1e-6)
    // single-list ids score 1/(60+rank); doc 1 (rank 1) beats doc 4 (rank 2)
    assert(out(1L)._2 == 2 && out(4L)._2 == 3 && out(3L)._2 == 4)
    assert(out.size == 4)
  }

  test("topNRanked: dense ranks over the top-n cut with deterministic ties") {
    val scored = Seq((1L, 5.0), (2L, 7.0), (3L, 7.0), (4L, 1.0))
      .toDF("doc_id", "score")
    val out = Similarity.topNRanked(scored, "doc_id", "score", n = 3)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("rank")).toMap
    // ties broken by id: 2 before 3; doc 4 cut
    assert(out == Map(2L -> 1, 3L -> 2, 1L -> 3))
  }

  test("matryoshka: prefix is unit-norm after truncation; zero prefix → zero vector") {
    val df = Seq(
      (1L, Array(3.0f, 4.0f, 9.9f, -8.8f)),  // prefix (3,4) → (0.6, 0.8)
      (2L, Array(0.0f, 0.0f, 5.0f, 5.0f))    // zero prefix → (0, 0)
    ).toDF("vec_id", "embedding")
    val out = df.select($"vec_id",
        VectorFunctions.matryoshka($"embedding", 2).as("m"))
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getSeq[Double](1)).toMap
    assert(out(1L) == Seq(0.6, 0.8))
    assert(out(2L) == Seq(0.0, 0.0))
  }

  test("hard negatives: nearest different-label only, self excluded, ties by id") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f), "a"),
      (2L, Array(0.99f, 0.14f), "a"),   // same label — never a negative of 1
      (3L, Array(0.9f, 0.44f), "b"),    // closest different-label to 1
      (4L, Array(0.0f, 1.0f), "b"),     // orthogonal to 1
      (5L, Array(1.0f, 0.0f), "c")      // identical direction, different label
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.hardNegatives(
      emb.filter($"vec_id" === 1), emb, "vec_id", "embedding", "label", k = 2)
      .collect().map(r => (r.getAs[Long]("neg_id"), r.getAs[Int]("rank")))
    // rank 1 = id 5 (cos 1.0), rank 2 = id 3; id 2 (same label) and id 4 cut
    assert(out.toSet == Set((5L, 1), (3L, 2)))
    // anchor with a unique label: everything else is a candidate except itself
    val solo = Similarity.hardNegatives(
      emb.filter($"vec_id" === 5), emb, "vec_id", "embedding", "label", k = 10)
      .collect().map(_.getAs[Long]("neg_id")).toSet
    assert(solo == Set(1L, 2L, 3L, 4L))
  }

  test("range join: equals the naive cross+filter, inclusive ends, empty intervals") {
    import graft.operators.RangeJoin
    val pts = Seq((1L, 5L), (2L, 10L), (3L, 17L), (4L, 30L), (5L, 100L))
      .toDF("pid", "p")
    val ivs = Seq(
      (10L, 10L, 20L),   // [10,20]  — both ends inclusive: pid 2 and 3
      (11L, 0L, 6L),     // [0,6]    — pid 1
      (12L, 50L, 40L),   // hi<lo    — matches nothing (BETWEEN semantics)
      (13L, 4L, 31L)     // spans several width-8 buckets: pids 1,2,3,4
    ).toDF("iid", "lo", "hi")
    val got = RangeJoin.pointInInterval(pts, "p", ivs, "lo", "hi", bucketWidth = 8L)
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = pts.crossJoin(ivs)
      .where($"p" >= $"lo" && $"p" <= $"hi")
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
    assert(want == Set((2L, 10L), (3L, 10L), (1L, 11L),
      (1L, 13L), (2L, 13L), (3L, 13L), (4L, 13L)))
    // exact boundary points are kept on both ends
    assert(got.contains((2L, 10L)) && got.contains((3L, 10L)))
  }

  test("range join: an interval wider than the replication guard fails fast") {
    import graft.operators.RangeJoin
    val pts = Seq((1L, 5L)).toDF("pid", "p")
    val ivs = Seq((10L, 0L, 1000000L)).toDF("iid", "lo", "hi")
    val ex = intercept[Exception] {
      RangeJoin.pointInInterval(pts, "p", ivs, "lo", "hi",
        bucketWidth = 1L, maxBucketsPerInterval = 16).collect()
    }
    assert(ex.getMessage != null)
  }

  test("funnel: strict ordering gates each stage; out-of-order events don't convert") {
    import graft.operators.Funnel
    val ev = Seq(
      // user 1: full ordered funnel
      (1L, "view", ts("2024-01-01 00:00:00")),
      (1L, "click", ts("2024-01-01 00:01:00")),
      (1L, "purchase", ts("2024-01-01 00:02:00")),
      // user 2: purchase BEFORE view/click → only stage 2
      (2L, "purchase", ts("2024-01-01 00:00:00")),
      (2L, "view", ts("2024-01-01 00:01:00")),
      (2L, "click", ts("2024-01-01 00:02:00")),
      // user 3: click exactly AT the view time → strict > fails, stage 1
      (3L, "view", ts("2024-01-01 00:00:00")),
      (3L, "click", ts("2024-01-01 00:00:00")),
      // user 4: never viewed → absent
      (4L, "click", ts("2024-01-01 00:00:00"))
    ).toDF("user_id", "event_type", "ts")
    val got = Funnel.funnel(ev, "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"))
      .collect().map(r => r.getLong(0) -> r.getAs[Int]("stage_reached")).toMap
    assert(got == Map(1L -> 3, 2L -> 2, 3L -> 1))
    // earliest-qualifying times: user 1's funnel timestamps ascend strictly
    val u1 = Funnel.funnel(ev, "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"))
      .filter($"user_id" === 1L).head()
    assert(u1.getLong(1) < u1.getLong(2) && u1.getLong(2) < u1.getLong(3))
  }

  test("cluster split: near-dup members always share a split; singletons still split") {
    import graft.operators.{Dedup, Sampling}
    // 30 clusters of 3 near-identical docs + 60 singletons
    val docs = ((0 until 30).flatMap { c =>
      (0 until 3).map { i =>
        // cluster-specific filler — no trigram is shared ACROSS clusters
        val base = (0 to 7).map(j => s"c${c}w$j").mkString(" ")
        ((c * 3 + i).toLong, if (i == 0) base else base + s" tail$i")
      }
    } ++ (0 until 60).map { i =>
      ((100 + i).toLong, (0 to 7).map(j => s"u${i}w$j").mkString(" "))
    }).toDF("doc_id", "text")
    val clusters = Dedup.resolveClusters(
      Dedup.ngramJaccard(docs, "doc_id", "text", k = 3, threshold = 0.2))
    val out = Sampling.splitByCluster(docs, "doc_id", clusters,
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    // every cluster is entirely inside ONE split
    val perCluster = out.groupBy($"cluster_id")
      .agg(countDistinct($"split").as("n_splits"))
      .collect().map(_.getAs[Long]("n_splits"))
    assert(perCluster.forall(_ == 1L))
    // all docs assigned, and more than one split is actually used
    assert(out.count() == docs.count())
    assert(out.select($"split").distinct().count() >= 2)
    // the 3-doc clusters really did cluster (not vacuous)
    assert(out.groupBy($"cluster_id").count().filter($"count" === 3).count() == 30)
  }

  test("new SQL functions: deflate_ratio, quantize_int8, bpe_merge register and run") {
    graft.functions.GraftExtensions.register(spark)
    val row = spark.sql("""
      SELECT deflate_ratio('aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa') AS dr,
             quantize_int8(array(cast(1.0 as float), cast(-0.5 as float))).qvec AS qv,
             bpe_merge(array('l', 'o', 'w'), 'l', 'o') AS merged
    """).head()
    assert(row.getAs[Double]("dr") < 0.5)
    assert(row.getSeq[Int](1) == Seq(127, -63)) // floor(-63.5 + 0.5) = -63
    assert(row.getSeq[String](2) == Seq("lo", "w"))
  }

  test("blocklist join path: equals the literal path on aligned text, stricter on substrings") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "bad phrase here bad phrase"),
      (2L, "clean text only"),
      (3L, "xbad phrasey"),            // substring-visible, not token-aligned
      (4L, "solo")
    ).toDF("doc_id", "text")
    val phrases = Seq("bad phrase", "solo")
    val joined = TextAnalysis.blocklistScreenJoin(docs, "doc_id", "text", phrases)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(joined(1L) == ((2L, false)))
    assert(joined(2L) == ((0L, true)))
    assert(joined(4L) == ((1L, false)))
    // token-aligned: "xbad phrasey" does NOT match (the literal path would)
    assert(joined(3L) == ((0L, true)))
    val literal = TextAnalysis.blocklistScreen(docs, "doc_id", "text", phrases)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(literal(3L) == 1L) // substring arithmetic sees it — documented difference
    // on token-aligned docs the two paths agree
    assert(Seq(1L, 2L, 4L).forall(id => literal(id) == joined(id)._1))
  }

  test("tokenize->pack composition: token mass is conserved through the pipeline") {
    import graft.operators.{Bpe, Packing}
    val docs = (1L to 40L).map(i => (i, s"alpha beta gamma doc$i")).toDF("doc_id", "text")
    val merges = Bpe.train(docs, "text", nMerges = 4)
      .orderBy($"rank").collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val tokenized = docs.select($"doc_id",
      size(Bpe.segment($"text", merges)).cast("long").as("n_tokens"))
    val totalIn = tokenized.agg(sum($"n_tokens")).head().getLong(0)
    val packed = Packing.packSummary(
      Packing.packSequences(tokenized, "doc_id", "n_tokens", budget = 64, nShards = 4),
      "n_tokens")
    val totalOut = packed.agg(sum($"total_tokens")).head().getLong(0)
    val docsOut = packed.agg(sum($"n_docs")).head().getLong(0)
    assert(totalOut == totalIn)
    assert(docsOut == 40L)
  }

  test("js divergence: 0 for identical distributions, 1 for disjoint, symmetric-bounded") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      ("a", "x x y"), ("b", "x x y"),   // identical distributions → 0
      ("c", "p q r")                    // disjoint from both → 1 bit
    ).toDF("src", "text")
    val got = TextAnalysis.jsDivergence(docs, "src", "text")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(got(("a", "b")) == 0.0)
    assert(math.abs(got(("a", "c")) - 1.0) < 1e-5)
    assert(math.abs(got(("b", "c")) - 1.0) < 1e-5)
    // all pairs present, bounded in [0, 1] up to per-term rounding slack
    // (each 6-dp term rounds half-up → sum can exceed 1.0 by ≤ terms·5e-7)
    assert(got.size == 3)
    got.values.foreach(v => assert(v >= 0.0 && v <= 1.0 + 1e-5))
  }

  test("compression ratio: repetitive text scores far below diverse text; bounds hold") {
    import graft.operators.TextAnalysis
    val rep = Seq.fill(200)("spam").mkString(" ")
    val div = (1 to 200).map(i => s"w${i * 7919 % 100000}").mkString(" ")
    val docs = Seq((1L, rep), (2L, div), (3L, "")).toDF("doc_id", "text")
    val got = docs.select($"doc_id",
        TextAnalysis.compressionRatio($"text").as("cr"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) < 0.1, s"repetitive ratio ${got(1L)}")
    assert(got(2L) > 3 * got(1L), s"diverse ${got(2L)} vs repetitive ${got(1L)}")
    assert(got(3L) == 1.0)
    got.values.foreach(v => assert(v > 0.0 && v < 1.5))
    // deterministic across evaluations
    val again = docs.select($"doc_id",
        TextAnalysis.compressionRatio($"text").as("cr"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(again == got)
  }

  test("containment pairs: an embedded snippet scores 1.0 where Jaccard sees ~nothing") {
    import graft.operators.Dedup
    val page = (1 to 60).map(i => s"w$i").mkString(" ")    // 58 trigram shingles
    val snippet = (10 to 16).map(i => s"w$i").mkString(" ") // 5 shingles, all in page
    val docs = Seq((1L, page), (2L, snippet), (3L, "x y z q r")).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "doc_id", "text", k = 3, threshold = 0.9)
      .collect().map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")),
        (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
          r.getAs[Long]("n_shared"), r.getAs[Double]("containment")))).toMap
    assert(got.keySet == Set((1L, 2L)))
    val (nA, nB, nShared, cont) = got((1L, 2L))
    assert((nA, nB, nShared, cont) == ((58L, 5L, 5L, 1.0)))
    // both DIRECTED containments are recoverable from the per-side sizes
    assert(nShared.toDouble / nB == 1.0)                 // snippet ⊆ page
    assert(nShared.toDouble / nA < 0.1)                  // page ⊄ snippet
    // the same pair is invisible to Jaccard at any usable threshold
    val jac = Dedup.ngramJaccard(docs, "doc_id", "text", k = 3, threshold = 0.2)
    assert(jac.count() == 0)
  }

  test("qualityRules: each gate trips independently; a clean doc passes all") {
    import graft.operators.TextAnalysis
    val clean = ((1 to 40).map(i => s"word$i") :+ "the").mkString(" ")
    val tooShort = "the tiny one"
    val noStop = (1 to 40).map(i => s"word$i").mkString(" ")
    val dominated = (Seq.fill(30)("spam") ++ (1 to 10).map(i => s"w$i") :+ "the")
      .mkString(" ")
    val longWords = (Seq.fill(39)("extraordinarily") :+ "the").mkString(" ")
    val docs = Seq((1L, clean), (2L, tooShort), (3L, noStop),
      (4L, dominated), (5L, longWords)).toDF("doc_id", "text")
    val out = TextAnalysis.qualityRules(docs, "doc_id", "text",
        minWords = 30, maxWords = 500, minMeanLenDeci = 30, maxMeanLenDeci = 60,
        minStopPct = 1, maxTopTokenPct = 20)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Boolean]("pass_words"), r.getAs[Boolean]("pass_mean_len"),
          r.getAs[Boolean]("pass_stopwords"), r.getAs[Boolean]("pass_top_token"),
          r.getAs[Boolean]("pass"))).toMap
    assert(out(1L) == ((true, true, true, true, true)))
    assert(!out(2L)._1 && !out(2L)._5)            // word-count floor
    assert(out(3L)._1 && !out(3L)._3)             // stopword floor
    assert(!out(4L)._4 && !out(4L)._5)            // top-token dominance
    assert(!out(5L)._2 && !out(5L)._5)            // mean word length ceiling
  }

  test("corpusDiff classifies added/removed/changed/unchanged; whitespace jitter is unchanged") {
    import graft.operators.Dedup
    val old = Seq((1L, "alpha beta"), (2L, "gamma delta"), (3L, "kept text"))
      .toDF("doc_id", "text")
    val nw = Seq((2L, "gamma delta REVISED"), (3L, "  kept   text "),
      (4L, "brand new")).toDF("doc_id", "text")
    val out = Dedup.corpusDiff(old, nw, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status")).toMap
    assert(out == Map(1L -> "removed", 2L -> "changed",
      3L -> "unchanged", 4L -> "added"))
  }

  test("trimOutliers: value-classes drop whole at the cuts; middle survives intact") {
    import graft.operators.TextAnalysis
    // 100 rows: metric 1 (5 rows), 2 (5), 10 (80), 99 (5), 100 (5)
    val rows = (Seq.fill(5)(1) ++ Seq.fill(5)(2) ++ Seq.fill(80)(10) ++
      Seq.fill(5)(99) ++ Seq.fill(5)(100)).zipWithIndex
      .map { case (m, i) => (i.toLong, m) }
    val df = rows.toDF("doc_id", "metric")
    // 5% each side: exactly the 5-row value classes at each end drop
    val kept5 = TextAnalysis.trimOutliers(df, "metric", 5, 5)
      .select("metric").collect().map(_.getInt(0))
    assert(kept5.toSet == Set(2, 10, 99) && kept5.length == 90)
    // 7%: the next class (5 rows) does NOT split — cum(2)=10 > 7 keeps it whole
    val kept7 = TextAnalysis.trimOutliers(df, "metric", 7, 7)
      .select("metric").collect().map(_.getInt(0))
    assert(kept7.toSet == Set(2, 10, 99) && kept7.length == 90)
    // 10%: both end classes gone exactly
    val kept10 = TextAnalysis.trimOutliers(df, "metric", 10, 10)
      .select("metric").collect().map(_.getInt(0))
    assert(kept10.toSet == Set(10) && kept10.length == 80)
  }

  test("islands: gap splits runs, ties extend, dormancy gap reported") {
    import graft.operators.Sessionize
    import java.sql.Date
    val df = Seq(
      ("a", Date.valueOf("2024-01-01")), ("a", Date.valueOf("2024-01-03")),
      ("a", Date.valueOf("2024-01-04")),
      ("a", Date.valueOf("2024-01-20")), ("a", Date.valueOf("2024-01-20")),
      ("a", Date.valueOf("2024-01-24")),
      ("b", Date.valueOf("2024-06-01"))).toDF("k", "d")
    val out = Sessionize.islands(df, "k", "d", 5).collect()
      .map(r => (r.getAs[String]("k"), r.getAs[Long]("island_seq")) ->
        (r.getAs[Date]("start_date").toString, r.getAs[Date]("end_date").toString,
          r.getAs[Long]("n_events"), r.getAs[Int]("span_days"),
          Option(r.getAs[Integer]("gap_before_days")).map(_.toInt))).toMap
    assert(out(("a", 1L)) == ("2024-01-01", "2024-01-04", 3L, 4, None))
    assert(out(("a", 2L)) == ("2024-01-20", "2024-01-24", 3L, 5, Some(16)))
    assert(out(("b", 1L)) == ("2024-06-01", "2024-06-01", 1L, 1, None))
    assert(out.size == 3)
  }

  test("percentilesExact: PERCENTILE_DISC boundaries, ties, independent groups") {
    import graft.operators.TextAnalysis
    // group a: values 1..10 once each; group b: [10,10,10,20]
    val df = ((1 to 10).map(v => ("a", v)) ++
      Seq(("b", 10), ("b", 10), ("b", 10), ("b", 20))).toDF("src", "v")
    val out = TextAnalysis.percentilesExact(df, "v", "src",
        Seq(25, 50, 75, 76, 95, 100))
      .collect()
      .map(r => (r.getAs[String]("src"), r.getAs[Int]("pct")) -> r.getAs[Int]("value"))
      .toMap
    // PERCENTILE_DISC(p): smallest v with cum >= ceil(p*n/100)
    assert(out(("a", 25)) == 3 && out(("a", 50)) == 5 && out(("a", 75)) == 8)
    assert(out(("a", 95)) == 10 && out(("a", 100)) == 10)
    // tied class: cum(10)=3 of 4 → covers p75 exactly; p76 crosses to 20
    assert(out(("b", 50)) == 10 && out(("b", 75)) == 10 && out(("b", 76)) == 20)
    assert(out.size == 12)
  }

  test("calibrateScores: per-group ECDF, ties share a class value, groups independent") {
    import graft.operators.TextAnalysis
    val df = Seq(
      ("a", 1L, 10), ("a", 2L, 20), ("a", 3L, 20), ("a", 4L, 40),
      ("b", 5L, 100), ("b", 6L, 200)).toDF("src", "doc_id", "score")
    val out = TextAnalysis.calibrateScores(df, "score", "src")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("ecdf")).toMap
    assert(out(1L) == 0.25)                 // 1 of 4 at or below
    assert(out(2L) == 0.75 && out(3L) == 0.75) // tied class: upper bound 3/4
    assert(out(4L) == 1.0)
    assert(out(5L) == 0.5 && out(6L) == 1.0)   // group b has its own scale
  }

  test("selectByBudgetPct: classes admit best-first; the overflowing class drops whole") {
    import graft.operators.TextAnalysis
    // scores/costs: 100→cost 100, 90→cost 100 (two rows of 50), 80→cost 100;
    // total 300. 67% of 300 = 201: classes 100 and 90 fit (200 <= 201),
    // class 80 would hit 300 — dropped whole.
    val df = Seq((1L, 100, 100), (2L, 90, 50), (3L, 90, 50), (4L, 80, 100))
      .toDF("doc_id", "score", "cost")
    val kept = TextAnalysis.selectByBudgetPct(df, "score", "cost", 67)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 3L))
    // 66%: 200*100 <= 66*300=19800 fails for the 90 class (20000 > 19800)
    val tighter = TextAnalysis.selectByBudgetPct(df, "score", "cost", 66)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(tighter == Set(1L))
    // 100% keeps everything
    assert(TextAnalysis.selectByBudgetPct(df, "score", "cost", 100).count() == 4)
  }

  test("chi-square tokens: the perfectly label-correlated token dominates") {
    import graft.operators.TextAnalysis
    // "leak" appears in every 'a' doc and no 'b' doc — a perfect shortcut;
    // "common" appears everywhere (chi2 = 0); "rare" in one doc only
    val docs = Seq(
      (1L, "leak common", "a"), (2L, "leak common", "a"),
      (3L, "common rare", "b"), (4L, "common", "b")
    ).toDF("doc_id", "text", "lang")
    val got = TextAnalysis.chiSquareTokens(docs, "doc_id", "text", "lang", topK = 10)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // leak: 2×2 table (2,0 / 0,2) → chi2 = N = 4
    assert(got("leak")._1 == 2L && math.abs(got("leak")._2 - 4.0) < 1e-6)
    // common: observed == expected everywhere → chi2 = 0
    assert(got("common") == ((4L, 0.0)))
    // rare: df 1, in a 'b' doc → chi2 = 4/3 (hand-computed)
    assert(math.abs(got("rare")._2 - 4.0 / 3.0) < 2e-6)
    // ranking: leak first
    val top = TextAnalysis.chiSquareTokens(docs, "doc_id", "text", "lang", topK = 1)
      .head().getString(0)
    assert(top == "leak")
  }

  test("blocklist screen: exact occurrence counts, normalization, clean flag") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "Bad  Phrase here and bad phrase there"), // case + multi-space → 2 hits
      (2L, "totally fine text"),
      (3L, "bad phrase bad phrase bad phrase"),      // 3 non-overlapping hits
      (4L, "")                                       // empty text is clean
    ).toDF("doc_id", "text")
    val got = TextAnalysis.blocklistScreen(docs, "doc_id", "text",
        Seq("bad phrase", "never occurs"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(got(1L) == ((2L, false)))
    assert(got(2L) == ((0L, true)))
    assert(got(3L) == ((3L, false)))
    assert(got(4L) == ((0L, true)))
  }

  test("bpe train: the textbook merge sequence on a known corpus") {
    import graft.operators.Bpe
    val docs = Seq((1L, "low low low lower lowest")).toDF("doc_id", "text")
    val merges = Bpe.train(docs, "text", nMerges = 4)
      .orderBy($"rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    // pair counts: (l,o)=5 (o,w)=5 → lexicographic tie-break picks (l,o);
    // then (lo,w)=5, then (low,e)=2; after that "lower"=[lowe,r] and
    // "lowest"=[lowe,s,t] → (lowe,r)=(lowe,s)=(s,t)=1 → (lowe,r) by order
    assert(merges.toList == List(
      (1, "l", "o", 5L), (2, "lo", "w", 5L),
      (3, "low", "e", 2L), (4, "lowe", "r", 1L)))
  }

  test("bpe segment: learned merges re-tokenize text, spaces never fuse") {
    import graft.operators.Bpe
    val merges = Seq(("l", "o"), ("lo", "w"))
    val got = Seq("low lower")
      .toDF("text").select(Bpe.segment($"text", merges).as("s"))
      .head().getSeq[String](0).toList
    assert(got == List("low", " ", "low", "e", "r"))
  }

  test("bpe train: stops early when every word is fully merged") {
    import graft.operators.Bpe
    val docs = Seq((1L, "ab ab")).toDF("doc_id", "text")
    val merges = Bpe.train(docs, "text", nMerges = 10).collect()
    assert(merges.length == 1) // only (a,b) exists; then nothing left to merge
    assert(merges.head.getString(1) == "a" && merges.head.getString(2) == "b")
  }

  test("bpe train: pairs count overlapping occurrences, merges apply left to right") {
    import graft.operators.Bpe
    val docs = Seq((1L, "aaaa aaa")).toDF("doc_id", "text")
    val merges = Bpe.train(docs, "text", nMerges = 5)
      .orderBy($"rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    // (a,a): 3 in aaaa + 2 in aaa = 5; the merge leaves [aa,aa] and [aa,a],
    // so (aa,a)=(aa,aa)=1 and "a" < "aa" breaks the tie; then [aa,aa] and
    // [aaa] leave (aa,aa)=1, and after it nothing is left to merge
    assert(merges.toList == List(
      (1, "a", "a", 5L), (2, "aa", "a", 1L), (3, "aa", "aa", 1L)))
  }

  test("bpe train: the Spark job count does not grow with nMerges") {
    import graft.operators.Bpe
    val docs = (1L to 30L).map(i => (i, s"lower lowest newer newest wider doc$i"))
      .toDF("doc_id", "text")
    val tag = "bpe-train-jobs"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty(tag) != null)) jobs.incrementAndGet()
    }
    def jobsFor(nMerges: Int): (Int, Long) = {
      org.apache.spark.ListenerBusDrain(spark)
      jobs.set(0)
      spark.sparkContext.setLocalProperty(tag, "1")
      val merges = try Bpe.train(docs, "text", nMerges)
        finally spark.sparkContext.setLocalProperty(tag, null)
      org.apache.spark.ListenerBusDrain(spark)
      (jobs.get, merges.count())
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val (j2, n2) = jobsFor(2)
      val (j12, n12) = jobsFor(12)
      assert((n2, n12) == ((2L, 12L)))
      assert(j2 > 0 && j12 == j2, s"jobs: $j2 at nMerges=2, $j12 at nMerges=12")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("tfidf cosine pairs: identical docs score 1.0, disjoint docs never pair") {
    import graft.operators.Dedup
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"),       // identical to 1 → cosine 1.0
      (3L, "alpha beta gamma epsilon"),     // shares 2 of 3 trigram slots? (1 shared trigram)
      (4L, "zeta eta theta iota")           // disjoint → no pair
    ).toDF("doc_id", "text")
    val got = Dedup.tfidfCosinePairs(docs, "doc_id", "text", k = 3, minCosine = 0.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got((1L, 2L)) == 1.0)
    assert(got.contains((1L, 3L)) && got((1L, 3L)) > 0.0 && got((1L, 3L)) < 1.0)
    assert(got((1L, 3L)) == got((2L, 3L))) // symmetric by content
    assert(!got.keys.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("tfidf cosine pairs: tf weighting separates repetition, maxDf kills hot terms") {
    import graft.operators.Dedup
    // doc 2 repeats the shared phrase: with tf weighting, cos(1,2) < 1
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "a b c a b c a b c d e"),
      (3L, "x y z w v")
    ).toDF("doc_id", "text")
    val got = Dedup.tfidfCosinePairs(docs, "doc_id", "text", k = 3, minCosine = 0.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got.contains((1L, 2L)) && got((1L, 2L)) > 0.0 && got((1L, 2L)) < 1.0)
    // maxDf = 1: every shared term (df >= 2) is cut → no pairs at all
    val cut = Dedup.tfidfCosinePairs(docs, "doc_id", "text", k = 3,
      minCosine = 0.0, maxDf = 1)
    assert(cut.count() == 0)
  }

  test("retention curve: exact counts per threshold, monotone non-increasing") {
    import graft.operators.TextAnalysis
    val df = Seq(
      ("a", 0.1), ("a", 0.3), ("a", 0.5), ("a", 0.7),
      ("b", 0.0), ("b", 0.9)
    ).toDF("src", "score")
    val got = TextAnalysis.retentionCurve(df, "src", $"score", Seq(0.0, 0.4, 0.8))
      .collect().map(r => ((r.getString(0), r.getDouble(1)),
        (r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got(("a", 0.0)) == ((4L, 4L, 1.0)))
    assert(got(("a", 0.4)) == ((4L, 2L, 0.5)))
    assert(got(("a", 0.8)) == ((4L, 0L, 0.0)))
    assert(got(("b", 0.4)) == ((2L, 1L, 0.5)))
    assert(got(("b", 0.8)) == ((2L, 1L, 0.5)))
    // retention is non-increasing in the threshold for every group
    got.keys.map(_._1).toSet.foreach { g: String =>
      val curve = Seq(0.0, 0.4, 0.8).map(t => got((g, t))._3)
      assert(curve.zip(curve.tail).forall { case (x, y) => x >= y })
    }
  }

  test("pq: codebook seeds encode to their own code with zero subspace distance") {
    import graft.operators.Pq
    // 4 vectors, d=4, m=2 subspaces, k=2 codes: seeds are ids 0 and 1
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 1.0f)),
      (1L, Seq(0.0f, 1.0f, 1.0f, 0.0f)),
      (2L, Seq(1.0f, 0.1f, 0.9f, 0.0f)),   // sub0 ~seed0, sub1 ~seed1
      (3L, Seq(0.0f, 0.9f, 0.1f, 0.9f))    // sub0 ~seed1, sub1 ~seed0
    ).toDF("vec_id", "embedding")
    val cents = Pq.codebookMicro(vecs, "vec_id", "embedding", m = 2, k = 2)
    val codes = vecs.select($"vec_id",
        Pq.encode($"embedding", cents, 2, 2).as("codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    assert(codes(0L) == List(0, 0) && codes(1L) == List(1, 1))
    assert(codes(2L) == List(0, 1) && codes(3L) == List(1, 0))
    // ADC distance from anchor 0 to itself (via its own codes) is 0
    val self = vecs.filter($"vec_id" === 0L)
      .select(Pq.adc(Pq.encode($"embedding", cents, 2, 2),
        Pq.lut($"embedding", cents, 2, 2), 2).as("d"))
      .head().getLong(0)
    assert(self == 0L)
  }

  test("pq adcTopK: ranks the planted near-twin first") {
    import graft.operators.Pq
    val base = (0 until 16).map(_.toFloat / 16f)
    val vecs = (0L to 9L).map { i =>
      // vector i = base shifted by i/10 — id 1 is closest to id 0 in L2
      (i, base.map(x => x + i.toFloat / 10f))
    }.toDF("vec_id", "embedding")
    val got = Pq.adcTopK(vecs.filter($"vec_id" === 0L), vecs,
        "vec_id", "embedding", m = 4, k = 4, topK = 3)
      .orderBy($"rank").collect()
    assert(got.length == 3)
    assert(got(0).getAs[Long]("neighbor_id") == 1L)
    // distances are non-decreasing with rank
    val dists = got.map(_.getAs[Long]("adc_dist"))
    assert(dists.sorted.toSeq == dists.toSeq)
  }

  test("interval overlap join: equals naive cross+filter, one emission per pair") {
    import graft.operators.RangeJoin
    val as = Seq(
      (1L, 0L, 10L),     // overlaps b1, b2
      (2L, 15L, 40L),    // spans several width-8 buckets; overlaps b2, b3
      (3L, 100L, 90L)    // empty (hi < lo) — matches nothing
    ).toDF("aid", "a_lo", "a_hi")
    val bs = Seq(
      (10L, 5L, 9L),     // inside a1
      (11L, 10L, 20L),   // touches a1 at exactly 10 (inclusive), overlaps a2
      (12L, 39L, 60L),   // touches a2 at 39..40
      (13L, 70L, 80L)    // overlaps nothing
    ).toDF("bid", "b_lo", "b_hi")
    val got = RangeJoin.intervalOverlap(as, "a_lo", "a_hi", bs, "b_lo", "b_hi",
        bucketWidth = 8L)
      .select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1)))
    // exactly once per overlapping pair — no multi-bucket double emission
    assert(got.length == got.toSet.size)
    val want = as.crossJoin(bs)
      .where($"a_lo" <= $"b_hi" && $"b_lo" <= $"a_hi" && $"a_hi" >= $"a_lo")
      .select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.toSet == want)
    assert(want == Set((1L, 10L), (1L, 11L), (2L, 11L), (2L, 12L)))
  }

  test("interval overlap join: shared column names are rejected") {
    import graft.operators.RangeJoin
    val x = Seq((1L, 2L)).toDF("lo", "hi")
    intercept[IllegalArgumentException] {
      RangeJoin.intervalOverlap(x, "lo", "hi", x, "lo", "hi", 8L)
    }
  }

  test("epoch upsample: integer weights repeat exactly, fractional part is per-key stable") {
    import graft.operators.Sampling
    val df = (1 to 400).map(i => (i.toLong, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "src")
    val up = Sampling.epochUpsample(df, "id", "src",
      Map("a" -> 3.0, "b" -> 0.5), default = 1.0)
    // integer weight: every 'a' row appears exactly 3 times, copy_seq 1..3
    val aCounts = up.filter($"src" === "a").groupBy($"id")
      .agg(count(lit(1)).as("n"), max($"copy_seq").as("mx"))
      .collect()
    assert(aCounts.length == 200)
    assert(aCounts.forall(r => r.getAs[Long]("n") == 3L && r.getAs[Long]("mx") == 3L))
    // fractional-only weight: subset of 'b' rows, one copy each, ~half kept
    val b = up.filter($"src" === "b")
    val bIds = b.select($"id").collect().map(_.getLong(0)).toSet
    assert(b.count() == bIds.size) // no duplicates at w < 1
    assert(bIds.size > 60 && bIds.size < 140) // ~100 of 200 at 0.5
    // determinism: same call → same exact row set
    val again = Sampling.epochUpsample(df, "id", "src",
      Map("a" -> 3.0, "b" -> 0.5), default = 1.0)
      .filter($"src" === "b").select($"id").collect().map(_.getLong(0)).toSet
    assert(again == bIds)
    // mixed weight 2.5: every row has 2 or 3 copies
    val m = Sampling.epochUpsample(df, "id", "src", Map(), default = 2.5)
      .groupBy($"id").agg(count(lit(1)).as("n")).collect().map(_.getAs[Long]("n"))
    assert(m.forall(n => n == 2L || n == 3L))
    assert(m.count(_ == 3L) > 120 && m.count(_ == 3L) < 280) // ~half of 400
  }

  test("count-min sketch: never undercounts, overestimate bounded, merge-invariant") {
    import graft.functions.CountMinFunctions
    // 1000 tokens over a small vocab with known counts
    val rows = (1 to 1000).map(i => s"tok${i % 37}")
    val df = rows.toDF("t").repartition(7) // partial-agg merge must not change counts
    val hashes = df.select(xxhash64($"t").as("h"))
    val sketch = CountMinFunctions.build(hashes, "h", width = 1 << 10, depth = 4)
    val est = df.select($"t", CountMinFunctions.estimate(xxhash64($"t"), sketch, 4).as("e"))
      .groupBy($"t").agg(max($"e").as("e"), count(lit(1)).as("n"))
      .collect().map(r => (r.getAs[Long]("e"), r.getAs[Long]("n")))
    est.foreach { case (e, n) =>
      assert(e >= n, s"CMS undercounted: est $e < true $n")
      // width 1024 >> 37 distinct tokens: overestimate should be tiny
      assert(e <= n + 20, s"overestimate $e vs $n beyond slack")
    }
  }

  test("heavy hitters: byte-identical to the exact computation") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "a a a b b c"), (2L, "a b d"), (3L, "a e e e b")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.heavyHitters(docs, "text", minCount = 3L, topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toList
    val exact = TextAnalysis.vocabulary(docs, "text", minCount = 3L, topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toList
    assert(got == exact)
    assert(got == List(("a", 5L), ("b", 4L), ("e", 3L)))
  }

  test("heavy hitters: a tiny width still loses nothing (only over-admits)") {
    import graft.operators.TextAnalysis
    val docs = (1 to 200).map(i => (i.toLong, s"common tok$i")).toDF("doc_id", "text")
    // width 64 with 201 distinct tokens → heavy collision noise, but the
    // exact confirm keeps output identical
    val got = TextAnalysis.heavyHitters(docs, "text", minCount = 100L, topK = 5,
        width = 64, depth = 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toList
    assert(got == List(("common", 200L)))
  }

  test("sessionize: gap boundary, exact-gap continuation, per-key independence") {
    import graft.operators.Sessionize
    val ev = Seq(
      // user 1: events at 0s, 100s (same session), 2000s (> 1800 gap → new),
      // 3800s (exactly 1800 after 2000 → SAME session, inclusive gap)
      (1L, ts("2024-01-01 00:00:00"), 1L),
      (2L, ts("2024-01-01 00:01:40"), 1L),
      (3L, ts("2024-01-01 00:33:20"), 1L),
      (4L, ts("2024-01-01 01:03:20"), 1L),
      // user 2: one event — its own session
      (5L, ts("2024-01-01 00:00:30"), 2L)
    ).toDF("event_id", "ts", "user_id")
    val got = Sessionize.assign(ev, "user_id", "ts", 1800L, Seq("event_id"))
      .select("event_id", "session_seq", "session_event_seq")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(
      (1L, 1L, 1L), (2L, 1L, 2L),          // first session of user 1
      (3L, 2L, 1L), (4L, 2L, 2L),          // second session; 1800s gap extends
      (5L, 1L, 1L)))                       // user 2 independent
    val sum = Sessionize.summarize(ev, "user_id", "ts", 1800L, Seq("event_id"))
    val s2 = sum.where($"user_id" === 1L && $"session_seq" === 2L).collect()(0)
    assert(s2.getAs[Long]("n_events") == 2L)
    assert(s2.getAs[Long]("duration_sec") == 1800L)
  }

  test("sessionize: timestamp ties are ordered by the tie-break column") {
    import graft.operators.Sessionize
    val t0 = ts("2024-01-01 00:00:00")
    val ev = Seq((20L, t0, 1L), (10L, t0, 1L)).toDF("event_id", "ts", "user_id")
    val got = Sessionize.assign(ev, "user_id", "ts", 60L, Seq("event_id"))
      .select("event_id", "session_event_seq")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((10L, 1L), (20L, 2L)))
  }

  test("splitLeakage finds cross-split pairs; a cluster-aware split has none") {
    import graft.operators.Sampling
    val pairs = Seq((1L, 2L, 0.9), (3L, 4L, 0.8), (5L, 6L, 0.7))
      .toDF("id_a", "id_b", "jaccard")
    val naive = Seq((1L, "train"), (2L, "test"), (3L, "train"),
      (4L, "train"), (5L, "val"), (6L, "test")).toDF("doc_id", "split")
    val leaked = Sampling.splitLeakage(pairs, naive, "doc_id")
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(leaked == Set((1L, 2L), (5L, 6L)), leaked)
    // cluster-aware assignment over the SAME pair graph leaks nothing:
    // both ends of every pair hash the same cluster key by construction
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L),
      (5L, 5L), (6L, 5L)).toDF("id", "cluster_id")
    val docs = (1L to 6L).toDF("doc_id")
    val byCluster = Sampling.splitByCluster(docs, "doc_id", clusters,
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    assert(Sampling.splitLeakage(pairs, byCluster, "doc_id").isEmpty)
  }

  test("pruningStats: clustered layout prunes, shuffled layout scans all") {
    import graft.sources.ZOrder
    // 1000 rows, value = id; predicate covers 10% of the domain
    val df = spark.range(1000)
      .withColumn("scramble", pmod(col("id") * 2654435761L, lit(1000L)))
    val sorted = ZOrder.pruningStats(df, "sorted", Seq(col("id")),
      col("id"), rowsPerFile = 100, lit(400L), lit(499L)).head()
    val shuffled = ZOrder.pruningStats(df, "shuffled", Seq(col("scramble")),
      col("id"), rowsPerFile = 100, lit(400L), lit(499L)).head()
    // both see the same matching rows; only the layouts differ
    assert(sorted.getAs[Long]("rows_matched") == 100L)
    assert(shuffled.getAs[Long]("rows_matched") == 100L)
    assert(sorted.getAs[Long]("n_files") == 10L)
    // value-sorted files: the predicate's decile sits in exactly one file
    assert(sorted.getAs[Long]("n_scanned") == 1L, sorted.toString)
    assert(sorted.getAs[Long]("rows_scanned") == 100L)
    // scrambled layout: every file's zone map straddles the range
    assert(shuffled.getAs[Long]("n_scanned") == 10L, shuffled.toString)
    assert(shuffled.getAs[Long]("rows_scanned") == 1000L)
  }

  test("negativeSample: <=k per anchor, never self, deterministic, in-range") {
    import spark.implicits._
    val corpus = spark.range(100L).select(col("id").as("doc_id"),
      concat(lit("t"), col("id")).as("text"))
    val out = Sampling.negativeSample(corpus, corpus, "doc_id", "doc_id",
      k = 4, lo = 0L, hi = 99L, salt = "s")
    val rows = out.select("anchor_id", "neg_id")
      .as[(Long, Long)].collect().toSeq
    assert(rows.forall { case (a, n) => a != n && n >= 0 && n < 100 })
    val perAnchor = rows.groupBy(_._1).view.mapValues(_.size)
    assert(perAnchor.values.forall(_ <= 4) && perAnchor.size == 100)
    val again = Sampling.negativeSample(corpus.repartition(7), corpus,
      "doc_id", "doc_id", k = 4, lo = 0L, hi = 99L, salt = "s")
      .select("anchor_id", "neg_id").as[(Long, Long)].collect().toSeq
    assert(rows.sorted == again.sorted, "sampling must be layout-invariant")
  }

  test("embeddingDrift: a shifted label out-scores a stable one; stable ~ 0") {
    import spark.implicits._
    // label 0 identical across windows; label 1's current window rotates
    // toward a different direction — its cosine-to-ref-centroid
    // distribution must move
    def vecs(cur: Boolean) = spark.range(400L).select(
      col("id").as("vec_id"),
      (col("id") % 2).cast("int").as("label"),
      transform(sequence(lit(0), lit(7)), j => {
        val base = sin(col("id") * (j + lit(1)) * 0.7)
        val drift = when(lit(cur) && col("id") % 2 === 1,
          sin((col("id") + lit(7000)) * (j + lit(3)) * 1.3)).otherwise(base)
        drift.cast("float")
      }).as("embedding"))
    val out = Similarity.embeddingDrift(vecs(cur = false), vecs(cur = true),
      "vec_id", "embedding", "label")
      .collect().map(r => r.getInt(0) -> r.getDouble(3)).toMap
    assert(out(1) > out(0) + 0.05,
      s"drifted label must dominate: $out")
    assert(out(0) < 0.01, s"stable label must read ~0: $out")
  }

  test("lineDedup: corpus-frequent lines struck, short lines exempt, order kept") {
    val footer = "all rights reserved worldwide"
    val docsLn = Seq(
      (1L, s"alpha body one\n$footer\nunique tail 1"),
      (2L, s"beta body two\n$footer"),
      (3L, s"$footer\ngamma body three"),      // footer leading: order matters
      (4L, s"ab\n$footer\nab"),                // short 'ab' lines exempt
      (5L, "no boilerplate here at all"))
      .toDF("doc_id", "text")
    val out = Dedup.lineDedup(docsLn, "doc_id", "text",
        maxDocFreq = 2, minLineChars = 5)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    assert(out(1L) == (("alpha body one\nunique tail 1", 1L)), out)
    assert(out(2L) == (("beta body two", 1L)), out)
    assert(out(3L) == (("gamma body three", 1L)), out)
    assert(out(4L) == (("ab\nab", 1L)), out)   // short lines survive
    assert(out(5L) == (("no boilerplate here at all", 0L)), out)
    // a doc that is ALL boilerplate comes back empty, not missing
    val allBp = docsLn.unionByName(Seq((6L, footer)).toDF("doc_id", "text"))
    val o6 = Dedup.lineDedup(allBp, "doc_id", "text", 2, 5)
      .filter(col("doc_id") === 6L).collect()(0)
    assert(o6.getString(1) == "" && o6.getLong(2) == 1L)
  }

  test("mergeIntervals: overlap and touch merge, gaps split, keys isolate") {
    import graft.operators.RangeJoin
    val iv = Seq(
      ("k1", 1, 3), ("k1", 2, 5), ("k1", 5, 7),   // chain: overlap + touch
      ("k1", 9, 10),                               // gap -> own island
      ("k2", 1, 3), ("k2", 9, 2),                  // k2 isolated; inverted dropped
      ("k1", 4, 4))                                // nested point inside [1,7]
      .toDF("k", "lo", "hi")
    val out = RangeJoin.mergeIntervals(iv, Seq("k"), "lo", "hi")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2),
        r.getLong(3))).toSet
    assert(out == Set(("k1", 1, 7, 4L), ("k1", 9, 10, 1L), ("k2", 1, 3, 1L)),
      out)
  }

  test("robustScale: (v-median)/IQR with type-1 quartiles; constant group -> null") {
    // group g: values 1..5 -> p25=2, p50=3, p75=4, IQR=2
    val df = ((1 to 5).map(v => ("g", v.toDouble)) ++
      Seq(("const", 7.0), ("const", 7.0))).toDF("grp", "v")
    val out = TextAnalysis.robustScale(df, "v", "grp")
      .collect().map(r => (r.getString(0), r.getDouble(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    assert(out.contains(("g", 1.0, Some(-1.0))) &&
      out.contains(("g", 3.0, Some(0.0))) &&
      out.contains(("g", 5.0, Some(1.0))), out)
    assert(out.filter(_._1 == "const").forall(_._3.isEmpty), out)
  }

  test("goldenRecord: per-column latest-non-null beats whole-record latest-wins") {
    import graft.operators.Linkage
    val recs = Seq(
      // cluster 1: newest record (ts 3) misses phone; older one carries it
      (1L, 3L, Some("Ann Lee"), None: Option[String]),
      (1L, 2L, Some("A. Lee"), Some("555-1234")),
      (1L, 1L, None: Option[String], Some("555-0000")),
      // cluster 2: everything null except one field
      (2L, 9L, None: Option[String], None: Option[String]),
      (2L, 8L, Some("Bob"), None: Option[String]))
      .toDF("cluster", "seq", "name", "phone")
    val out = Linkage.goldenRecord(recs, "cluster", Seq("seq"),
        Seq("name", "phone"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), Option(r.getString(2)), Option(r.getString(3)))))
      .toMap
    assert(out(1L) == ((3L, Some("Ann Lee"), Some("555-1234"))), out)
    assert(out(2L) == ((2L, Some("Bob"), None)), out)
  }

  test("quantileNormalize: shifted scales map to one distribution; hand values exact") {
    val df = (Seq(1.0, 2.0, 3.0, 4.0).map(("g1", _)) ++
      Seq(10.0, 20.0, 30.0, 40.0).map(("g2", _))).toDF("grp", "v")
    val out = TextAnalysis.quantileNormalize(df, "v", "grp")
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2))
      .toMap
    assert(out(("g1", 1.0)) == 2.0 && out(("g1", 2.0)) == 4.0 &&
      out(("g1", 3.0)) == 20.0 && out(("g1", 4.0)) == 40.0, out)
    // the defining property: both groups land on the SAME value ladder
    val g1 = out.collect { case (("g1", _), n) => n }.toSeq.sorted
    val g2 = out.collect { case (("g2", _), n) => n }.toSeq.sorted
    assert(g1 == g2 && g1 == Seq(2.0, 4.0, 20.0, 40.0), s"$g1 vs $g2")
  }

  test("phraseMatch: ordered adjacency, overlapping + repeated terms, no bag-of-words hits") {
    val dd = Seq(
      (1L, "machine learning models learn machine learning fast"),
      (2L, "learning machine is not the phrase"),     // both words, wrong order
      (3L, "machine only here"),
      (4L, "echo echo echo"))                          // overlapping repeats
      .toDF("doc_id", "text")
    val out = TextAnalysis.phraseMatch(dd, "doc_id", "text",
        Seq("machine", "learning"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 2L), out)                  // doc 2 and 3 excluded
    val rep = TextAnalysis.phraseMatch(dd, "doc_id", "text",
        Seq("echo", "echo"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rep == Map(4L -> 2L), rep)                  // overlapping pairs
  }

  test("imputeMedian: nulls get the group median, originals flagged, all-null groups stay null") {
    val df = Seq(
      ("g", Some(1.0)), ("g", Some(5.0)), ("g", Some(9.0)), ("g", None),
      ("empty", None), ("empty", None))
      .toDF("grp", "v")
    val out = TextAnalysis.imputeMedian(df, "v", "grp")
      .collect().map(r => (r.getString(0), r.getBoolean(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    assert(out.count(t => t._1 == "g" && t._2 && t._3 == Some(5.0)) == 1, out.mkString(","))
    assert(out.filter(_._1 == "empty").forall(t => t._2 && t._3.isEmpty))
    // non-null rows untouched
    assert(out.count(t => t._1 == "g" && !t._2) == 3)
  }

  test("modeBy + weightedMedian: deterministic ties, weights shift the median") {
    val m = Seq(("u", "a"), ("u", "b"), ("u", "b"), ("u", "c"), ("u", "c"),
      ("v", null))
      .toDF("k", "t")
    val mode = TextAnalysis.modeBy(m, "t", "k").collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(mode == Map("u" -> (("b", 2L))), mode) // tie b/c -> b; v all-null gone
    val wdf = Seq(("g", 1.0, 1L), ("g", 2.0, 1L), ("g", 3.0, 10L))
      .toDF("k", "v", "w")
    val wm = TextAnalysis.weightedMedian(wdf, "v", "w", "k").collect()(0)
    assert(wm.getDouble(1) == 3.0 && wm.getLong(2) == 12L, wm.toString)
    // unweighted (all weights 1) degenerates to the type-1 median
    val uw = TextAnalysis.weightedMedian(
      wdf.withColumn("w", lit(1L)), "v", "w", "k").collect()(0)
    assert(uw.getDouble(1) == 2.0, uw.toString)
  }

  test("corrMatrix: ±1 on exact linear columns, null for constants, listwise n") {
    import graft.silver.Quality
    val df = Seq(
      (1.0, 2.0, -1.0, 5.0, Some(1.0)),
      (2.0, 4.0, -2.0, 5.0, Some(2.0)),
      (3.0, 6.0, -3.0, 5.0, None: Option[Double]))
      .toDF("x", "y2", "neg", "c", "withnull")
    val out = Quality.corrMatrix(df, Seq("x", "y2", "neg", "c"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), Option(r.getAs[java.lang.Double]("corr"))))).toMap
    assert(out(("x", "y2")) == ((3L, Some(1.0))), out)
    assert(out(("x", "neg")) == ((3L, Some(-1.0))), out)
    assert(out(("x", "c")) == ((3L, None)), out)
    assert(out.size == 6)
    // listwise deletion: the null row drops n to 2 for EVERY pair
    val ld = Quality.corrMatrix(df, Seq("x", "withnull"))
      .collect()(0)
    assert(ld.getLong(2) == 2L, ld.toString)
  }

  test("adaptive low-memory degradation: sub-floor MB/core pins scaled pair shuffles; results identical") {
    import graft.operators.ClusterIndex
    val d = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, d)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val reference = pairs(Dedup.ngramJaccard(docs, "doc_id", "text",
      k = 3, threshold = 0.2).select("id_a", "id_b"))
    // ample memory: no degradation
    assert(Dedup.adaptivePairParts(spark, floorMb = 1L).isEmpty)
    sys.props("graft.test.mbPerCore") = "150" // below both floors
    try {
      // local[4] × 150 MB = 600 MB effective heap: the generic floor
      // (300) caps in-flight pair tasks at 2, the fold floor (750) at 1
      assert(Dedup.adaptivePairParts(spark).contains(2))
      assert(Dedup.adaptivePairParts(spark, ClusterIndex.FoldFloorMb)
        .contains(1))
      val q = Dedup.ngramJaccard(docs, "doc_id", "text",
        k = 3, threshold = 0.2)
      // the scaled repartition is PINNED in the plan — an explicit
      // numPartitions repartition is exempt from AQE coalescing, so a
      // small corpus can't silently undo the per-task memory bound
      val pinned = q.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression =>
          r.optNumPartitions
      }.flatten
      assert(pinned.contains(2),
        s"expected a pinned 2-partition pair shuffle, got $pinned")
      assert(pairs(q.select("id_a", "id_b")) == reference,
        "degraded pair generation changed the result")
      // the cluster fold under degradation still equals the recompute
      val st = ClusterIndex.State(tmpDir("adapt-ci") + "/s")
      ClusterIndex.fold(spark, st,
        docs.filter($"doc_id" < 25), 0L, "doc_id", "text")
      ClusterIndex.fold(spark, st,
        docs.filter($"doc_id" >= 25), 1L, "doc_id", "text")
      val comp = Dedup.resolveClusters(Dedup.ngramJaccard(docs,
        "doc_id", "text", k = 3, threshold = 0.2))
      val expected = docs.select($"doc_id".as("id")).distinct()
        .join(comp, Seq("id"), "left")
        .select(col("id"), coalesce(col("cluster_id"), col("id")).as("cluster_id"))
      val got = ClusterIndex.clusters(spark, st)
      assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
        "degraded incremental clusters diverge from the recompute")
    } finally {
      sys.props.remove("graft.test.mbPerCore")
      graft.gold.MemoryBudget.resetLowMemoryProfile(spark)
    }
  }
}
