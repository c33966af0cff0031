package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Similarity, VectorIndex}

/** Incremental IVF vector index: folded state serves exactly what the
  * recompute-based path serves — full probe ≡ brute force under any
  * fold cut, partial probe keeps recall, replays are no-ops, and the
  * corpus postings never shuffle for scoring.
  */
class VectorIndexSpec extends SparkSpec {
  import spark.implicits._

  private def emb = Tables.embeddings(spark, "/root/testdata/sf0.001")

  private def sameRows(a: DataFrame, b: DataFrame, what: String): Unit =
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      s"$what\nleft:\n${a.orderBy("query_id", "rank").collect().take(10).mkString("\n")}" +
        s"\nright:\n${b.orderBy("query_id", "rank").collect().take(10).mkString("\n")}")

  private def foldCuts(cuts: Seq[Long]): VectorIndex.State = {
    val st = VectorIndex.State(tmpDir("vidx") + "/s")
    val bounds = (Seq(Long.MinValue) ++ cuts ++ Seq(Long.MaxValue)).sliding(2).toSeq
    bounds.zipWithIndex.foreach { case (Seq(lo, hi), i) =>
      VectorIndex.fold(spark, st,
        emb.filter($"vec_id" >= lo && $"vec_id" < hi), i.toLong,
        "vec_id", "embedding", nCells = 8)
    }
    st
  }

  test("full probe over any fold cut equals brute-force top-k") {
    val queries = emb.filter($"vec_id" < 10)
    val expected = Similarity.bruteForceTopK(queries, emb, "vec_id",
      "embedding", k = 5)
    for (cuts <- Seq(Seq(40L, 80L), Seq(10L, 90L))) {
      val st = foldCuts(cuts)
      val got = VectorIndex.topK(spark, st, queries, "vec_id", "embedding",
        k = 5, nProbe = VectorIndex.nCells(spark, st))
      sameRows(got, expected, s"cut $cuts diverges from brute force")
    }
  }

  test("partial probe keeps recall on real embeddings") {
    val st = foldCuts(Seq(60L))
    val queries = emb.filter($"vec_id" < 10)
    val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val approx = VectorIndex.topK(spark, st, queries, "vec_id", "embedding",
        k = 5, nProbe = 4)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall too low: $recall")
  }

  test("replayed batch id is a no-op; quantizer publishes exactly once") {
    val st = VectorIndex.State(tmpDir("vidx-replay") + "/s")
    val b0 = emb.filter($"vec_id" < 50); val b1 = emb.filter($"vec_id" >= 50)
    VectorIndex.fold(spark, st, b0, 0L, "vec_id", "embedding", nCells = 8)
    val centsAfter0 = graft.gold.SnapshotStore.read(spark, st.centroidsPath)
      .collect().map(_.toString).sorted.toSeq
    VectorIndex.fold(spark, st, b1, 1L, "vec_id", "embedding", nCells = 8)
    val queries = emb.filter($"vec_id" < 5)
    val before = VectorIndex.topK(spark, st, queries, "vec_id", "embedding",
      k = 3, nProbe = 8).collect().toSet
    // replay both batches — postings overwrite in place, centroids stay
    VectorIndex.fold(spark, st, b0, 0L, "vec_id", "embedding", nCells = 8)
    VectorIndex.fold(spark, st, b1, 1L, "vec_id", "embedding", nCells = 8)
    assert(graft.gold.SnapshotStore.currentGen(spark, st.centroidsPath)
      .contains(1L), "quantizer must freeze at generation 1")
    assert(graft.gold.SnapshotStore.read(spark, st.centroidsPath)
      .collect().map(_.toString).sorted.toSeq == centsAfter0)
    assert(VectorIndex.topK(spark, st, queries, "vec_id", "embedding",
      k = 3, nProbe = 8).collect().toSet == before)
  }

  test("an empty batch is a no-op: no empty quantizer, no unreadable delta") {
    val st = VectorIndex.State(tmpDir("vidx-empty") + "/s")
    VectorIndex.fold(spark, st, emb.filter($"vec_id" < 0), 0L,
      "vec_id", "embedding", nCells = 8)
    assert(!graft.gold.SnapshotStore.exists(spark, st.centroidsPath),
      "empty first batch must not freeze a quantizer")
    VectorIndex.fold(spark, st, emb, 1L, "vec_id", "embedding", nCells = 8)
    VectorIndex.fold(spark, st, emb.filter($"vec_id" < 0), 2L,
      "vec_id", "embedding", nCells = 8)
    val queries = emb.filter($"vec_id" < 5)
    sameRows(
      VectorIndex.topK(spark, st, queries, "vec_id", "embedding", k = 3,
        nProbe = VectorIndex.nCells(spark, st)),
      Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", k = 3),
      "empty folds perturbed the index")
  }

  test("PQ-ADC serve from persisted codes: full probe + wide shortlist is exact; tight budget keeps recall") {
    val st = VectorIndex.State(tmpDir("vidx-pq") + "/s")
    Seq(emb.filter($"vec_id" < 40), emb.filter($"vec_id" >= 40))
      .zipWithIndex.foreach { case (b, i) =>
        VectorIndex.fold(spark, st, b, i.toLong, "vec_id", "embedding",
          nCells = 8, pqM = 4, pqK = 16)
      }
    // postings carry codes
    assert(graft.gold.BaseDelta.read(spark, st.postingsTable)
      .columns.contains("codes"))
    val queries = emb.filter($"vec_id" < 10)
    val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", k = 5)
    // shortlist ≥ corpus: rerank sees everything probed — exact
    val wide = VectorIndex.topKAdc(spark, st, queries, "vec_id", "embedding",
      k = 5, nProbe = VectorIndex.nCells(spark, st), shortlist = 100000,
      pqM = 4, pqK = 16)
    sameRows(wide, exact, "wide-shortlist ADC rerank diverges from exact")
    // tight budget: approximate, but recall holds
    val tight = VectorIndex.topKAdc(spark, st, queries, "vec_id", "embedding",
        k = 5, nProbe = 4, shortlist = 32, pqM = 4, pqK = 16)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val exactSet = exact.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (exactSet intersect tight).size.toDouble / exactSet.size
    assert(recall >= 0.5, s"ADC recall too low: $recall")
  }

  test("schema evolution: enablePq backfills codes; the silent mid-stream PQ flip is refused") {
    val st = VectorIndex.State(tmpDir("vidx-evo") + "/s")
    val b0 = emb.filter($"vec_id" < 50); val b1 = emb.filter($"vec_id" >= 50)
    VectorIndex.fold(spark, st, b0, 0L, "vec_id", "embedding", nCells = 8)
    VectorIndex.fold(spark, st, b1, 1L, "vec_id", "embedding", nCells = 8)
    // flipping pqM on mid-stream would mix codes/no-codes deltas — refused
    val e = intercept[IllegalArgumentException](
      VectorIndex.fold(spark, st, emb, 2L, "vec_id", "embedding",
        nCells = 8, pqM = 4))
    assert(e.getMessage.contains("enablePq"), e.getMessage)
    // the explicit migration: codebook trained on the corpus, postings
    // rewritten once with codes
    VectorIndex.enablePq(spark, st, pqM = 4, pqK = 16)
    assert(graft.gold.BaseDelta.read(spark, st.postingsTable)
      .columns.contains("codes"))
    val queries = emb.filter($"vec_id" < 10)
    sameRows(
      VectorIndex.topKAdc(spark, st, queries, "vec_id", "embedding", k = 5,
        nProbe = VectorIndex.nCells(spark, st), shortlist = 100000,
        pqM = 4, pqK = 16),
      Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", k = 5),
      "post-migration ADC serve diverges from exact")
    // later folds encode consistently and serve covers the new vectors
    val fresh = emb.filter($"vec_id" < 5)
      .withColumn("vec_id", $"vec_id" + 1000L)
    VectorIndex.fold(spark, st, fresh, 2L, "vec_id", "embedding",
      nCells = 8, pqM = 4, pqK = 16)
    sameRows(
      VectorIndex.topKAdc(spark, st, queries, "vec_id", "embedding", k = 5,
        nProbe = VectorIndex.nCells(spark, st), shortlist = 100000,
        pqM = 4, pqK = 16),
      Similarity.bruteForceTopK(queries, emb.unionByName(fresh),
        "vec_id", "embedding", k = 5),
      "post-migration fold diverges")
    // replays of pre-migration batch ids skip (fold floor from the
    // backfill compaction)
    VectorIndex.fold(spark, st, b0, 0L, "vec_id", "embedding", nCells = 8)
    sameRows(
      VectorIndex.topK(spark, st, queries, "vec_id", "embedding", k = 5,
        nProbe = VectorIndex.nCells(spark, st)),
      Similarity.bruteForceTopK(queries, emb.unionByName(fresh),
        "vec_id", "embedding", k = 5),
      "replay after migration perturbed the index")
  }

  test("erase: serving equals an index that never folded the ids; replays cannot resurrect") {
    val st = VectorIndex.State(tmpDir("vidx-erase") + "/s")
    val b0 = emb.filter($"vec_id" < 50); val b1 = emb.filter($"vec_id" >= 50)
    VectorIndex.fold(spark, st, b0, 0L, "vec_id", "embedding", nCells = 8)
    VectorIndex.fold(spark, st, b1, 1L, "vec_id", "embedding", nCells = 8)
    VectorIndex.erase(spark, st,
      emb.filter($"vec_id" >= 30 && $"vec_id" < 60).select($"vec_id"))
    val queries = emb.filter($"vec_id" < 10)
    val surviving = emb.filter($"vec_id" < 30 || $"vec_id" >= 60)
    val expected = Similarity.bruteForceTopK(queries, surviving,
      "vec_id", "embedding", k = 5)
    sameRows(VectorIndex.topK(spark, st, queries, "vec_id", "embedding",
        k = 5, nProbe = VectorIndex.nCells(spark, st)),
      expected, "post-erasure serve diverges from the surviving corpus")
    // a redelivered old batch id must not resurrect erased vectors
    VectorIndex.fold(spark, st, b0, 0L, "vec_id", "embedding", nCells = 8)
    VectorIndex.fold(spark, st, b1, 1L, "vec_id", "embedding", nCells = 8)
    sameRows(VectorIndex.topK(spark, st, queries, "vec_id", "embedding",
        k = 5, nProbe = VectorIndex.nCells(spark, st)),
      expected, "replayed folds resurrected erased vectors")
  }

  // ── quantizer refresh (gen-2) under planted drift ──────────────────
  //
  // Drift shape: the gen-1 quantizer is elected from 4 axis-aligned
  // clusters; later batches arrive from 2 NEW clusters whose directions
  // sit between pairs of stale centroids, with a small per-member boost
  // that routes each member to one side or the other — every new
  // cluster is torn across two stale cells, so nProbe=1 misses the
  // half of a query's true neighbors that routed to the other side.
  // A refresh elects centroids from the current corpus, giving the new
  // clusters their own cells — recall recovers.
  private def syntheticDrift: (DataFrame, DataFrame) = {
    val dim = 8
    val rnd = new scala.util.Random(41)
    def mk(id: Long, base: Array[Float]): (Long, Array[Float]) = {
      val v = base.clone()
      for (d <- 4 until dim) v(d) = v(d) + (rnd.nextGaussian() * 1.0).toFloat
      (id, v)
    }
    def axis(a: Int): Array[Float] =
      Array.tabulate(dim)(d => if (d == a) 10f else 0f)
    // batch 0: four axis clusters, 8 members each (ids 0..31)
    val a = (0 until 32).map { i =>
      mk(i.toLong, axis(i % 4))
    }
    // batches 1-2: two straddling clusters, 12 members each (ids 100+)
    def straddle(a1: Int, a2: Int, idBase: Long) =
      (0 until 12).map { i =>
        val base = Array.tabulate(dim)(d =>
          (if (d == a1) 10f else 0f) + (if (d == a2) 10f else 0f))
        base(if (i % 2 == 0) a1 else a2) += 1.0f
        mk(idBase + i, base)
      }
    val b = straddle(0, 1, 100L) ++ straddle(2, 3, 200L)
    (spark.createDataFrame(a).toDF("vec_id", "embedding"),
      spark.createDataFrame(b).toDF("vec_id", "embedding"))
  }

  private def recallOf(st: VectorIndex.State, queries: DataFrame,
                       corpus: DataFrame, k: Int, nProbe: Int): Double = {
    val exact = Similarity.bruteForceTopK(queries, corpus, "vec_id",
        "embedding", k)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val approx = VectorIndex.topK(spark, st, queries, "vec_id", "embedding",
        k, nProbe)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    (exact intersect approx).size.toDouble / exact.size
  }

  test("quantizer refresh: partial-probe recall recovers after planted drift; ledger and exactness survive") {
    val (batchA, batchB) = syntheticDrift
    val m = VectorIndex.Managed(tmpDir("vidx-refresh"))
    // gen-1 quantizer frozen on the pre-drift distribution
    VectorIndex.fold(spark, VectorIndex.active(spark, m), batchA, 0L,
      "vec_id", "embedding", nCells = 4, refineIters = 4)
    Seq(batchB.filter($"vec_id" < 150), batchB.filter($"vec_id" >= 150))
      .zipWithIndex.foreach { case (b, i) =>
        VectorIndex.fold(spark, VectorIndex.active(spark, m), b,
          (i + 1).toLong, "vec_id", "embedding", nCells = 4)
      }
    val corpus = batchA.unionByName(batchB)
    val queries = batchB
    val before = recallOf(VectorIndex.active(spark, m), queries, corpus,
      k = 4, nProbe = 1)
    assert(before < 0.8, s"drift failed to hurt recall (got $before) — " +
      "the planted distribution no longer exercises the refresh")
    // ── the refresh: re-elect from the current corpus, atomic swap ──
    val st2 = VectorIndex.refreshQuantizer(spark, m, nCells = 6,
      refineIters = 6)
    assert(VectorIndex.activeQgen(spark, m) == 2L)
    val after = recallOf(st2, queries, corpus, k = 4, nProbe = 1)
    assert(after > before + 0.15 && after >= 0.8,
      s"recall did not recover: before=$before after=$after")
    // exactness is generation-independent: full probe ≡ brute force
    sameRows(
      VectorIndex.topK(spark, st2, queries, "vec_id", "embedding", k = 4,
        nProbe = VectorIndex.nCells(spark, st2)),
      Similarity.bruteForceTopK(queries, corpus, "vec_id", "embedding", k = 4),
      "full probe over the refreshed index diverges from brute force")
    // ledger carryover: replays of pre-refresh batch ids are no-ops
    val snap = VectorIndex.topK(spark, st2, queries, "vec_id", "embedding",
      k = 4, nProbe = VectorIndex.nCells(spark, st2)).collect().toSet
    Seq(0L, 1L, 2L).foreach { i =>
      VectorIndex.fold(spark, VectorIndex.active(spark, m), corpus, i,
        "vec_id", "embedding", nCells = 6)
    }
    assert(VectorIndex.topK(spark, st2, queries, "vec_id", "embedding",
      k = 4, nProbe = VectorIndex.nCells(spark, st2)).collect().toSet == snap,
      "replayed pre-refresh batch ids mutated the rebuilt index")
    // new folds continue on the new generation
    val fresh = spark.createDataFrame(Seq((900L,
      Array.tabulate(8)(d => if (d == 0) 9.5f else 0.1f))))
      .toDF("vec_id", "embedding")
    VectorIndex.fold(spark, VectorIndex.active(spark, m), fresh, 3L,
      "vec_id", "embedding", nCells = 6)
    val served = VectorIndex.topK(spark, VectorIndex.active(spark, m),
        fresh, "vec_id", "embedding", k = 3,
        nProbe = VectorIndex.nCells(spark, st2))
      .collect()
    assert(served.nonEmpty, "post-refresh fold did not serve")
    // second refresh retires gen-1 after its reader cycle
    VectorIndex.refreshQuantizer(spark, m, nCells = 6, refineIters = 2)
    assert(VectorIndex.activeQgen(spark, m) == 3L)
    val f = new org.apache.hadoop.fs.Path(m.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // foreign names under the root are not generations: never parsed or swept
    val foreign = Seq("q", "qx", "q" + "9" * 25)
      .map(n => new org.apache.hadoop.fs.Path(m.root, n))
    foreign.foreach(f.mkdirs)
    VectorIndex.vacuumManaged(spark, m)
    assert(foreign.forall(f.exists), "vacuumManaged swept a foreign entry")
    assert(!f.exists(new org.apache.hadoop.fs.Path(m.subState(1L).root)),
      "gen-1 sub-index survived vacuum two generations later")
    assert(f.exists(new org.apache.hadoop.fs.Path(m.subState(2L).root)),
      "previous generation must survive one cycle for in-flight readers")
  }

  test("managed erasure: retired generations' bytes destroyed, active serving excludes subjects, pinned reader conflicts typed") {
    val (batchA, batchB) = syntheticDrift
    val corpus = batchA.unionByName(batchB)
    def build(): VectorIndex.Managed = {
      val m = VectorIndex.Managed(tmpDir("vidx-erase-mgd"))
      VectorIndex.fold(spark, VectorIndex.active(spark, m), batchA, 0L,
        "vec_id", "embedding", nCells = 4)
      VectorIndex.fold(spark, VectorIndex.active(spark, m), batchB, 1L,
        "vec_id", "embedding", nCells = 4)
      VectorIndex.refreshQuantizer(spark, m, nCells = 6)
      m // gen-2 active; gen-1 sub-index still ON DISK (in-flight readers)
    }
    val fs = (p: String) => new org.apache.hadoop.fs.Path(p)
    val hfs = new org.apache.hadoop.fs.Path("/")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    val m = build()
    val gen1 = VectorIndex.active(spark, m) // pinned BEFORE the erase? no — gen-2
    val retired = m.subState(1L)
    assert(hfs.exists(fs(retired.root)),
      "fixture broken: retired gen-1 should still be on disk pre-erase")
    val subjects = corpus.filter($"vec_id" % 5 === 0).select("vec_id")
    // an in-flight refreshQuantizer's staging dir (a generation ABOVE the
    // active pointer) must SURVIVE the sweep: destroying it under the
    // builder would let the refresh publish a silently partial generation
    val staging = fs(m.subState(9L).root)
    hfs.mkdirs(staging)
    // foreign names under the root are not generations: never parsed or swept
    val foreign = Seq("q", "qx", "q" + "9" * 25).map(n => fs(s"${m.root}/$n"))
    foreign.foreach(hfs.mkdirs)
    val destroyed = VectorIndex.eraseManaged(spark, m, subjects)
    assert(hfs.exists(staging) && !destroyed.exists(_.endsWith("q9")),
      s"eraseManaged destroyed an above-active staging generation: $destroyed")
    assert(foreign.forall(hfs.exists), s"eraseManaged swept a foreign entry: $destroyed")
    (staging +: foreign).foreach(hfs.delete(_, true))
    // retired bytes gone NOW, not at the next refresh cycle
    assert(destroyed.exists(_.endsWith("q1")) && !hfs.exists(fs(retired.root)),
      s"retired generation survived the erasure: $destroyed")
    // active serving equals an index that never saw the subjects
    val survivors = corpus.filter($"vec_id" % 5 =!= 0)
    val got = VectorIndex.topK(spark, VectorIndex.active(spark, m),
      survivors.filter($"vec_id" < 20), "vec_id", "embedding", k = 3,
      nProbe = VectorIndex.nCells(spark, gen1))
    val expect = Similarity.bruteForceTopK(survivors.filter($"vec_id" < 20),
      survivors, "vec_id", "embedding", k = 3)
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty,
      "post-erase managed serving diverges from never-ingested brute force")
    // a reader pinned to the DESTROYED generation: typed conflict, not
    // a raw read failure (the sub-state fingerprint lost its manifest)
    val m2 = build()
    val pinned = m2.subState(1L)
    val plan = VectorIndex.topK(spark, pinned,
      corpus.filter($"vec_id" < 5), "vec_id", "embedding", k = 3, nProbe = 4)
    intercept[graft.gold.CommitConflictException] {
      VectorIndex.conflictIfRetired(spark, pinned) {
        // the erase lands INSIDE the reader's guarded window — the
        // deterministic form of "maintenance destroyed my resolved files
        // mid-read": fingerprint observed with gen-1 present, re-checked
        // without it. On a SEPARATE thread: the guard's observation
        // point re-captures after same-thread self-commits (so a write
        // body's own mutations never mask storage faults), and this
        // erase models a CONCURRENT maintainer, not the body itself.
        val eraser = new Thread(() =>
          VectorIndex.eraseManaged(spark, m2, subjects, deferred = true))
        eraser.start(); eraser.join()
        plan.collect()
      }
    }
    // deferred mode on the ACTIVE generation: ack invisible immediately
    val gotD = VectorIndex.topK(spark, VectorIndex.active(spark, m2),
      survivors.filter($"vec_id" < 20), "vec_id", "embedding", k = 3,
      nProbe = VectorIndex.nCells(spark, VectorIndex.active(spark, m2)))
    assert(gotD.join(subjects.withColumnRenamed("vec_id", "neighbor_id"),
      Seq("neighbor_id"), "left_semi").isEmpty,
      "deferred managed erasure still serves a subject as neighbor")
  }

  test("k-means|| election: recall recovery >= the k-center baseline on the drift fixture, deterministic") {
    val (batchA, batchB) = syntheticDrift
    val corpus = batchA.unionByName(batchB)
    def recovered(electionName: String): Double = {
      val m = VectorIndex.Managed(tmpDir(s"vidx-elect-$electionName"))
      VectorIndex.fold(spark, VectorIndex.active(spark, m), batchA, 0L,
        "vec_id", "embedding", nCells = 4, refineIters = 4)
      VectorIndex.fold(spark, VectorIndex.active(spark, m), batchB, 1L,
        "vec_id", "embedding", nCells = 4)
      val st = VectorIndex.refreshQuantizer(spark, m, nCells = 6,
        refineIters = 6, election = electionName)
      recallOf(st, batchB, corpus, k = 4, nProbe = 1)
    }
    val kcenter = recovered("kcenter")
    val kmeansPar = recovered("kmeans-par")
    assert(kmeansPar >= kcenter - 1e-9,
      s"k-means|| recall $kmeansPar fell below the k-center baseline $kcenter")
    assert(kmeansPar >= 0.8, s"k-means|| recall did not recover: $kmeansPar")
    // the election itself is deterministic: same corpus, same centroids
    val c1 = Similarity.centroidsKMeansParallel(corpus, "vec_id",
      "embedding", 6).collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1)).toMap
    val c2 = Similarity.centroidsKMeansParallel(corpus, "vec_id",
      "embedding", 6).collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1)).toMap
    assert(c1 == c2, "k-means|| election is not deterministic")
    assert(c1.size == 6)
  }

  test("scoring plan: queries broadcast, postings never shuffle for the join") {
    val st = foldCuts(Seq(60L))
    val plan = VectorIndex.topK(spark, st, emb.filter($"vec_id" < 5),
      "vec_id", "embedding", k = 3, nProbe = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      plan.take(800))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      plan.take(800))
  }
}
