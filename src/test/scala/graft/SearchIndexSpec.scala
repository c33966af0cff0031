package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{SearchIndex, TextAnalysis}

/** Incremental BM25 index: folded state scores identically to the
  * from-scratch bm25 over the accumulated corpus, under any batch cut;
  * replays are no-ops; zero-token docs never pollute the stats.
  */
class SearchIndexSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*): DataFrame =
    rows.toSeq.toDF("doc_id", "text")

  private val corpus = Seq(
    (1L, "bank account risk data bank"),
    (2L, "data data lake house"),
    (3L, "risk model bank"),
    (4L, "totally unrelated words here"),
    (5L, ""),                               // zero tokens: not in N/avgdl
    (6L, "account account account"))

  private val query = Seq("bank", "data", "account")

  private def sameScores(a: DataFrame, b: DataFrame): Unit =
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      s"left:\n${a.orderBy("doc_id").collect().mkString("\n")}" +
        s"\nright:\n${b.orderBy("doc_id").collect().mkString("\n")}")

  test("any fold cut scores identically to from-scratch bm25") {
    val expected = TextAnalysis.bm25(docs(corpus: _*), "doc_id", "text", query)
    for (cuts <- Seq(Seq(2, 4), Seq(1, 5), Seq(3, 3))) {
      val st = SearchIndex.State(tmpDir("si") + "/s")
      val batches = Seq(corpus.take(cuts(0)),
        corpus.slice(cuts(0), cuts(1)), corpus.drop(cuts(1)))
        .filter(_.nonEmpty)
      batches.zipWithIndex.foreach { case (b, i) =>
        SearchIndex.fold(spark, st, docs(b: _*), i.toLong, "doc_id", "text")
      }
      sameScores(SearchIndex.search(spark, st, query), expected)
    }
  }

  test("replayed batch id is a no-op; stats stay exact") {
    val st = SearchIndex.State(tmpDir("si-replay") + "/s")
    val b0 = corpus.take(3); val b1 = corpus.drop(3)
    SearchIndex.fold(spark, st, docs(b0: _*), 0L, "doc_id", "text")
    SearchIndex.fold(spark, st, docs(b1: _*), 1L, "doc_id", "text")
    val before = SearchIndex.search(spark, st, query)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    SearchIndex.fold(spark, st, docs(b1: _*), 1L, "doc_id", "text")
    val after = SearchIndex.search(spark, st, query)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(after == before, "replay changed scores")
  }

  test("only docs matching a query term return; n_terms counts matches") {
    val st = SearchIndex.State(tmpDir("si-match") + "/s")
    SearchIndex.fold(spark, st, docs(corpus: _*), 0L, "doc_id", "text")
    val out = SearchIndex.search(spark, st, query)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 6L))
    assert(out(1L) == 3 && out(2L) == 1 && out(3L) == 1 && out(6L) == 1)
  }

  test("phraseSearch from folded positional postings ≡ phraseMatch over the corpus") {
    val st = SearchIndex.State(tmpDir("si-phrase") + "/s")
    val batches = Seq(corpus.take(2), corpus.slice(2, 4), corpus.drop(4))
    batches.zipWithIndex.foreach { case (b, i) =>
      SearchIndex.fold(spark, st, docs(b: _*), i.toLong, "doc_id", "text") }
    for (phrase <- Seq(Seq("bank", "account"), Seq("data", "data"),
      Seq("account", "account"), Seq("risk", "model", "bank"))) {
      val idx = SearchIndex.phraseSearch(spark, st, phrase)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val scan = TextAnalysis.phraseMatch(docs(corpus: _*), "doc_id", "text",
          phrase)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(idx == scan, s"phrase $phrase: index=$idx scan=$scan")
    }
    // hand check: overlapping repeats in doc 6 ("account account account")
    val rep = SearchIndex.phraseSearch(spark, st, Seq("account", "account"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rep == Map(6L -> 2L), rep)
    // replayed fold changes nothing
    SearchIndex.fold(spark, st, docs(batches(2): _*), 2L, "doc_id", "text")
    assert(SearchIndex.phraseSearch(spark, st, Seq("bank", "account"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      == Map(1L -> 1L))
  }

  test("erase: scores identical to an index that never saw the docs; folds continue; replays cannot resurrect") {
    val st = SearchIndex.State(tmpDir("si-erase") + "/s")
    val b0 = corpus.take(3); val b1 = corpus.drop(3)
    SearchIndex.fold(spark, st, docs(b0: _*), 0L, "doc_id", "text")
    SearchIndex.fold(spark, st, docs(b1: _*), 1L, "doc_id", "text")
    SearchIndex.erase(spark, st, Seq(2L, 6L).toDF("doc_id"))
    // bit-identical to a from-scratch index over the surviving corpus —
    // including the IDF/avgdl statistics the erased docs contributed to
    val survivors = corpus.filterNot(d => d._1 == 2L || d._1 == 6L)
    sameScores(SearchIndex.search(spark, st, query),
      TextAnalysis.bm25(docs(survivors: _*), "doc_id", "text", query))
    // phrase serving survives for other docs
    assert(SearchIndex.phraseSearch(spark, st, Seq("bank", "account"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == Map(1L -> 1L))
    // folding continues after an erasure
    SearchIndex.fold(spark, st, docs((7L, "account risk data")), 2L,
      "doc_id", "text")
    sameScores(SearchIndex.search(spark, st, query),
      TextAnalysis.bm25(docs(survivors :+ (7L, "account risk data"): _*),
        "doc_id", "text", query))
    // a redelivered OLD batch id must not resurrect the erased docs
    SearchIndex.fold(spark, st, docs(b0: _*), 0L, "doc_id", "text")
    sameScores(SearchIndex.search(spark, st, query),
      TextAnalysis.bm25(docs(survivors :+ ((7L, "account risk data")): _*),
        "doc_id", "text", query))
  }

  test("deferred erase: immediate scoring parity, pending ledger, materialization upgrade") {
    import graft.gold.BaseDelta
    val st = SearchIndex.State(tmpDir("si-defer") + "/s")
    val b0 = corpus.take(3); val b1 = corpus.drop(3)
    SearchIndex.fold(spark, st, docs(b0: _*), 0L, "doc_id", "text")
    SearchIndex.fold(spark, st, docs(b1: _*), 1L, "doc_id", "text")
    val receipt = SearchIndex.eraseLogical(spark, st, Seq(2L, 6L).toDF("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(receipt == Map(2L -> "pending", 6L -> "pending"), receipt.toString)
    // scoring parity BEFORE any rewrite: stats + postings + lengths all
    // behave as if the docs never folded
    val survivors = corpus.filterNot(d => d._1 == 2L || d._1 == 6L)
    sameScores(SearchIndex.search(spark, st, query),
      TextAnalysis.bm25(docs(survivors: _*), "doc_id", "text", query))
    assert(SearchIndex.phraseSearch(spark, st, Seq("account", "account"))
      .collect().isEmpty, "phrase positions of an erased doc still served")
    // no state table was rewritten yet
    assert(BaseDelta.currentBasePath(spark, st.postingsTable).isEmpty)
    assert(BaseDelta.pendingTombstones(spark, st.postingsTable).nonEmpty)
    // folding continues at unchanged shape while pending
    SearchIndex.fold(spark, st, docs((7L, "account risk data")), 2L,
      "doc_id", "text")
    sameScores(SearchIndex.search(spark, st, query),
      TextAnalysis.bm25(docs(survivors :+ ((7L, "account risk data")): _*),
        "doc_id", "text", query))
    // materialization at the scheduled slot: ledgers clear, scores hold
    Seq(st.postingsTable, st.positionsTable, st.docstatsTable).foreach(
      BaseDelta.materializeErasures(spark, _))
    Seq(st.postingsTable, st.positionsTable, st.docstatsTable).foreach(t =>
      assert(BaseDelta.pendingTombstones(spark, t).isEmpty))
    sameScores(SearchIndex.search(spark, st, query),
      TextAnalysis.bm25(docs(survivors :+ ((7L, "account risk data")): _*),
        "doc_id", "text", query))
    // replayed old ids cannot resurrect after materialization
    SearchIndex.fold(spark, st, docs(b1: _*), 1L, "doc_id", "text")
    sameScores(SearchIndex.search(spark, st, query),
      TextAnalysis.bm25(docs(survivors :+ ((7L, "account risk data")): _*),
        "doc_id", "text", query))
  }

  test("crash between state writes: replay folds exactly the missing tail") {
    import graft.gold.{BaseDelta, SnapshotStore}
    val st = SearchIndex.State(tmpDir("si-crash") + "/s")
    val b0 = corpus.take(3); val b1 = corpus.drop(3)
    SearchIndex.fold(spark, st, docs(b0: _*), 0L, "doc_id", "text")

    // simulate a crash DURING batch 1: the postings append landed, then
    // the process died — docstats/positions/stats never saw batch 1
    // (exactly the partial write a postings-only replay guard turns into
    // permanent loss)
    val tk = TextAnalysis.tokens(col("text"))
    val partial = docs(b1: _*)
      .select(col("doc_id"), explode(tk).as("__tok"))
      .groupBy(xxhash64(col("__tok")).as("term_h"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
    BaseDelta.appendAndMaybeCompact(spark, st.postingsTable, partial, 1L, 16)
    assert(BaseDelta.deltaBatches(spark, st.postingsTable).contains(1L))
    assert(!BaseDelta.deltaBatches(spark, st.docstatsTable).contains(1L))

    // the replayed batch must complete the tail, not no-op
    SearchIndex.fold(spark, st, docs(b1: _*), 1L, "doc_id", "text")
    assert(BaseDelta.deltaBatches(spark, st.docstatsTable).contains(1L))
    assert(BaseDelta.deltaBatches(spark, st.positionsTable).contains(1L))
    sameScores(SearchIndex.search(spark, st, query),
      TextAnalysis.bm25(docs(corpus: _*), "doc_id", "text", query))
    assert(SearchIndex.phraseSearch(spark, st, Seq("account", "account"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == Map(6L -> 2L))

    // second crash shape: everything but the stats row landed (the LAST
    // write) — rewind stats to the batch-0 value and replay
    val st2 = SearchIndex.State(tmpDir("si-crash2") + "/s")
    SearchIndex.fold(spark, st2, docs(b0: _*), 0L, "doc_id", "text")
    val stats0 = SnapshotStore.read(spark, st2.statsPath)
      .select("n_docs", "sum_dl", "last_batch").collect().head
    SearchIndex.fold(spark, st2, docs(b1: _*), 1L, "doc_id", "text")
    SnapshotStore.publish(
      Seq((stats0.getLong(0), stats0.getLong(1), stats0.getLong(2)))
        .toDF("n_docs", "sum_dl", "last_batch"), st2.statsPath)
    SearchIndex.fold(spark, st2, docs(b1: _*), 1L, "doc_id", "text")
    val corrected = SnapshotStore.read(spark, st2.statsPath)
      .select("n_docs", "sum_dl", "last_batch").collect().head
    // 5 non-empty docs, total length 5+4+3+4+3 = 19, ledger at batch 1
    assert((corrected.getLong(0), corrected.getLong(1), corrected.getLong(2))
      == ((5L, 19L, 1L)), corrected.toString)
    sameScores(SearchIndex.search(spark, st2, query),
      TextAnalysis.bm25(docs(corpus: _*), "doc_id", "text", query))
  }

  test("schema evolution: a superset-schema postings delta serves, compacts, and stays ledger-correct") {
    import graft.gold.BaseDelta
    val st = SearchIndex.State(tmpDir("si-evo") + "/s")
    val b0 = corpus.take(3); val b1 = corpus.drop(3)
    SearchIndex.fold(spark, st, docs(b0: _*), 0L, "doc_id", "text")
    // a "newer engine" writes batch 1's postings WITH an extra column
    // (e.g. fielded search's provenance) — older deltas lack it
    val tk = TextAnalysis.tokens(col("text"))
    val newer = docs(b1: _*)
      .select(col("doc_id"), explode(tk).as("__tok"))
      .groupBy(xxhash64(col("__tok")).as("term_h"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("field", lit("body"))
    BaseDelta.append(spark, st.postingsTable, newer, 1L)
    SearchIndex.fold(spark, st, docs(b1: _*), 1L, "doc_id", "text",
      allowSchemaEvolution = true)
    // mixed-schema postings serve exactly (the old delta null-fills)
    sameScores(SearchIndex.search(spark, st, query),
      TextAnalysis.bm25(docs(corpus: _*), "doc_id", "text", query))
    // replay across the mixed state is still a no-op
    SearchIndex.fold(spark, st, docs(b1: _*), 1L, "doc_id", "text",
      allowSchemaEvolution = true)
    sameScores(SearchIndex.search(spark, st, query),
      TextAnalysis.bm25(docs(corpus: _*), "doc_id", "text", query))
    // compaction folds the mixed schemas; later old-schema folds keep
    // working against the widened base
    BaseDelta.compact(spark, st.postingsTable, allowSchemaEvolution = true)
    SearchIndex.fold(spark, st, docs((7L, "account risk data")), 2L,
      "doc_id", "text", allowSchemaEvolution = true)
    sameScores(SearchIndex.search(spark, st, query),
      TextAnalysis.bm25(docs(corpus :+ ((7L, "account risk data")): _*),
        "doc_id", "text", query))
  }

  test("query terms normalize through the fold's tokenizer (case/whitespace)") {
    val st = SearchIndex.State(tmpDir("si-norm") + "/s")
    SearchIndex.fold(spark, st, docs(corpus: _*), 0L, "doc_id", "text")
    // the index stores lower(trim(text)) tokens; a caller's "Bank" /
    // " data " must score identically to the normalized terms, not
    // silently match zero postings
    sameScores(SearchIndex.search(spark, st, Seq("Bank", " data ", "ACCOUNT")),
      SearchIndex.search(spark, st, query))
    val shouty = SearchIndex.phraseSearch(spark, st, Seq("BANK", " Account"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(shouty == Map(1L -> 1L), shouty)
  }

  test("an erasure landing between a fold's docstats append and its stats publish does not double-count the batch") {
    import graft.gold.{BaseDelta, SnapshotStore}
    val st = SearchIndex.State(tmpDir("si-race") + "/s")
    val b0 = corpus.take(3); val b1 = corpus.drop(3)
    SearchIndex.fold(spark, st, docs(b0: _*), 0L, "doc_id", "text")
    // batch 1's docstats delta has landed and its stats merge has not
    // published yet (a slow fold, or a crash between the two writes)
    BaseDelta.appendAndMaybeCompact(spark, st.docstatsTable,
      Seq((4L, 4L), (6L, 3L)).toDF("doc_id", "dl"), 1L, 16)
    // the erasure's stats recompute counts batch 1's docs
    SearchIndex.eraseLogical(spark, st, Seq(2L).toDF("doc_id")).collect()
    SearchIndex.fold(spark, st, docs(b1: _*), 1L, "doc_id", "text")
    val stats = SnapshotStore.read(spark, st.statsPath)
      .select("n_docs", "sum_dl", "last_batch").collect().head
    // docs 1, 3, 4, 6 survive: lengths 5 + 3 + 4 + 3
    assert((stats.getLong(0), stats.getLong(1), stats.getLong(2)) == ((4L, 15L, 1L)),
      stats.toString)
    sameScores(SearchIndex.search(spark, st, query),
      TextAnalysis.bm25(docs(corpus.filterNot(_._1 == 2L): _*), "doc_id", "text", query))
  }
}
