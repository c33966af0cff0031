package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.operators.{ClusterIndex, Dedup, SearchIndex, Similarity, TextAnalysis, VectorIndex}
import graft.streaming.IndexStreams

/** Streaming maintenance of the persisted index tier: streamed folds
  * must land exactly where the batch folds land, and a checkpoint-wiped
  * replay must converge, because each fold is ledger-idempotent.
  */
class IndexStreamsSpec extends SparkSpec {
  import spark.implicits._

  test("search index stream ≡ batch fold; replay under a wiped checkpoint converges") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = Seq((1L, "bank account risk"), (2L, "data lake account"),
      (3L, "risk model"), (4L, "other words"))
    val st = SearchIndex.State(tmpDir("sis") + "/s")
    def run(ckpt: String): Unit = {
      val ms = MemoryStream[(Long, String)]
      val q = IndexStreams.searchIndexStream(
        ms.toDF().toDF("doc_id", "text"), st, ckpt, "doc_id", "text",
        trigger = Trigger.ProcessingTime(0))
      corpus.grouped(2).foreach { g => ms.addData(g.toSeq); q.processAllAvailable() }
      q.stop()
    }
    run(tmpDir("sis-ckpt"))
    val expected = TextAnalysis.bm25(corpus.toDF("doc_id", "text"),
      "doc_id", "text", Seq("account", "risk"))
    val got = SearchIndex.search(spark, st, Seq("account", "risk"))
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      s"streamed index diverges:\n${got.collect().mkString("\n")}")
    // wiped checkpoint: everything redelivers under the same batch ids
    run(tmpDir("sis-ckpt2"))
    val replayed = SearchIndex.search(spark, st, Seq("account", "risk"))
    assert(replayed.exceptAll(expected).isEmpty && expected.exceptAll(replayed).isEmpty)
  }

  test("cluster index stream ≡ full recompute, including a cross-batch bridge") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val famA = "alpha beta gamma delta epsilon zeta"
    val famB = "one two three four five six"
    val all = Seq((10L, famA), (11L, famA + " extra"), (20L, famB),
      (21L, famB + " tail"), (30L, s"$famA $famB"))
    val st = ClusterIndex.State(tmpDir("cis") + "/s")
    val ms = MemoryStream[(Long, String)]
    val q = IndexStreams.clusterIndexStream(
      ms.toDF().toDF("doc_id", "text"), st, tmpDir("cis-ckpt"),
      "doc_id", "text", trigger = Trigger.ProcessingTime(0))
    Seq(all.take(4), all.drop(4)).foreach { g =>
      ms.addData(g); q.processAllAvailable() }
    q.stop()
    val comp = Dedup.resolveClusters(
      Dedup.ngramJaccard(all.toDF("doc_id", "text"), "doc_id", "text",
        k = 3, threshold = 0.2))
    val expected = all.toDF("doc_id", "text")
      .select(col("doc_id").as("id")).distinct()
      .join(comp, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster_id"), col("id")).as("cluster_id"))
    val got = ClusterIndex.clusters(spark, st)
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      s"streamed clusters diverge:\n${got.collect().mkString("\n")}")
  }

  test("sink conflict retry: re-runs on the typed conflict, rethrows past the bound") {
    import graft.gold.CommitConflictException
    var calls = 0
    val out = graft.gold.CommitCas.retryConflict(5) {
      calls += 1
      if (calls < 3) throw new CommitConflictException("injected")
      calls
    }
    assert(out == 3 && calls == 3)
    calls = 0
    intercept[CommitConflictException] {
      graft.gold.CommitCas.retryConflict(3) {
        calls += 1; throw new CommitConflictException("storm")
      }
    }
    assert(calls == 3, "the bound must be exact — beyond it the batch fails over to checkpoint replay")
    // a non-conflict failure must propagate immediately, never retried
    calls = 0
    intercept[IllegalStateException] {
      graft.gold.CommitCas.retryConflict(5) {
        calls += 1; throw new IllegalStateException("storage fault")
      }
    }
    assert(calls == 1)
    // conflict retries back off (jittered exponential): three conflicts
    // sleep at least base/2 each = 50+100+200 ms — no hot-spin refolds
    // against an in-flight erasure's grace window
    calls = 0
    val t0 = System.nanoTime()
    graft.gold.CommitCas.retryConflict(5) {
      calls += 1
      if (calls < 4) throw new CommitConflictException("backoff probe")
      calls
    }
    val elapsedMs = (System.nanoTime() - t0) / 1000000L
    assert(elapsedMs >= 300,
      s"retryConflict hot-spun: 3 conflict retries took only ${elapsedMs}ms")
  }

  test("erase under a live cluster stream: acked removal invisible to serve, later folds unaffected") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val famA = "alpha beta gamma delta epsilon zeta"
    val famB = "one two three four five six"
    val st = ClusterIndex.State(tmpDir("cis-live") + "/s")
    val ms = MemoryStream[(Long, String)]
    val q = IndexStreams.clusterIndexStream(
      ms.toDF().toDF("doc_id", "text"), st, tmpDir("cis-live-ckpt"),
      "doc_id", "text", trigger = Trigger.ProcessingTime(0))
    ms.addData(Seq((10L, famA), (11L, famA + " extra"), (20L, famB)))
    q.processAllAvailable()
    // out-of-band erasure against the RUNNING stream (in-contract)
    ClusterIndex.erase(spark, st, Seq(11L).toDF("id"))
    ms.addData(Seq((21L, famB + " tail"), (30L, famA + " more")))
    q.processAllAvailable()
    q.stop()
    val survivors = Seq((10L, famA), (20L, famB), (21L, famB + " tail"),
      (30L, famA + " more"))
    val comp = Dedup.resolveClusters(
      Dedup.ngramJaccard(survivors.toDF("doc_id", "text"), "doc_id", "text",
        k = 3, threshold = 0.2))
    val expected = survivors.toDF("doc_id", "text")
      .select(col("doc_id").as("id")).distinct()
      .join(comp, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster_id"), col("id")).as("cluster_id"))
    val got = ClusterIndex.clusters(spark, st)
    assert(got.filter($"id" === 11L).isEmpty, "erased doc resurfaced")
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      s"post-erase streamed clusters diverge:\n${got.collect().mkString("\n")}")
  }

  test("tombstone budget: the search sink auto-materializes an over-budget backlog at the next trigger") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.gold.BaseDelta
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val st = SearchIndex.State(tmpDir("sis-budget") + "/s")
    val ms = MemoryStream[(Long, String)]
    val q = IndexStreams.searchIndexStream(
      ms.toDF().toDF("doc_id", "text"), st, tmpDir("sis-budget-ckpt"),
      "doc_id", "text", trigger = Trigger.ProcessingTime(0),
      tombstoneBudget = 2L)
    ms.addData(Seq((1L, "alpha beta gamma"), (2L, "alpha delta"),
      (3L, "beta epsilon"), (4L, "gamma zeta"), (5L, "delta eta"),
      (6L, "epsilon theta")))
    q.processAllAvailable()
    // out-of-band DEFERRED erasure: immediate ack, backlog 3 > budget 2
    SearchIndex.eraseLogical(spark, st, Seq(1L, 2L, 3L).toDF("doc_id"))
    assert(BaseDelta.tombstoneBacklogOver(spark, st.docstatsTable, 2L),
      "fixture broken: backlog should exceed the budget")
    // next trigger: the sink's post-fold maintenance fires the upgrade
    ms.addData(Seq((7L, "alpha iota")))
    q.processAllAvailable()
    q.stop()
    Seq(st.postingsTable, st.docstatsTable, st.positionsTable).foreach(t =>
      assert(BaseDelta.pendingTombstones(spark, t).isEmpty,
        s"${t.path}: over-budget ledger survived the next batch"))
    // the physical rewrite actually landed: state excludes subjects,
    // keeps survivors + post-erase traffic; serve agrees
    assert(BaseDelta.read(spark, st.docstatsTable).select("doc_id")
      .as[Long].collect().toSet == Set(4L, 5L, 6L, 7L))
    assert(SearchIndex.search(spark, st, Seq("alpha"))
      .select("doc_id").as[Long].collect().toSet == Set(7L),
      "post-upgrade serve disagrees")
  }

  test("vector index stream: full-probe serve equals brute force; empty trigger harmless") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val rows = emb.select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val st = VectorIndex.State(tmpDir("vis") + "/s")
    val ms = MemoryStream[(Long, Array[Float])]
    val q = IndexStreams.vectorIndexStream(
      ms.toDF().toDF("vec_id", "embedding"), st, tmpDir("vis-ckpt"),
      "vec_id", "embedding", nCells = 8, trigger = Trigger.ProcessingTime(0))
    ms.addData(rows.take(50).toSeq); q.processAllAvailable()
    q.processAllAvailable() // empty trigger between data batches
    ms.addData(rows.drop(50).toSeq); q.processAllAvailable()
    q.stop()
    val queries = emb.filter($"vec_id" < 10)
    val got = VectorIndex.topK(spark, st, queries, "vec_id", "embedding",
      k = 5, nProbe = VectorIndex.nCells(spark, st))
    val expected = Similarity.bruteForceTopK(queries, emb, "vec_id",
      "embedding", k = 5)
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      "streamed vector index diverges from brute force")
  }

  test("lsh index stream: exact-mode serve equals brute force; pane snapshots land per batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.{ErasureSweep, LshVectorIndex}
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val rows = emb.select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val st = LshVectorIndex.State(tmpDir("lis") + "/s")
    val pane = IndexStreams.PaneConfig(tmpDir("lis-pane") + "/p",
      tmpDir("lis-ledger") + "/r")
    val ms = MemoryStream[(Long, Array[Float])]
    val q = IndexStreams.lshVectorIndexStream(
      ms.toDF().toDF("vec_id", "embedding"), st, tmpDir("lis-ckpt"),
      "vec_id", "embedding", numTables = 4, numPlanes = 0,
      trigger = Trigger.ProcessingTime(0), pane = Some(pane))
    ms.addData(rows.take(50).toSeq); q.processAllAvailable()
    q.processAllAvailable() // empty trigger between data batches
    ms.addData(rows.drop(50).toSeq); q.processAllAvailable()
    q.stop()
    val queries = emb.filter($"vec_id" < 10)
    val got = LshVectorIndex.topK(spark, st, queries, "vec_id",
      "embedding", k = 5)
    val expected = Similarity.bruteForceTopK(queries, emb, "vec_id",
      "embedding", k = 5)
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      "streamed lsh index diverges from brute force")
    // the pane mart holds one clear-ledger snapshot per non-empty batch,
    // and the latest snapshot matches a direct governanceHealth call
    val latest = ErasureSweep.governancePaneLatest(spark, pane.paneRoot)
      .drop("as_of_batch")
    val direct = ErasureSweep.governanceHealth(spark, pane.ledgerRoot,
      lsh = Seq(st))
    assert(latest.exceptAll(direct).isEmpty && direct.exceptAll(latest).isEmpty,
      "streamed pane snapshot diverges from direct governanceHealth")
    assert(latest.filter(col("component") === "tombstone_ledger").count() == 2)
  }
}
