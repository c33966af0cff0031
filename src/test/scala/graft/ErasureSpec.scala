package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.gold.{Erasure, SnapshotStore}

/** Right-to-erasure semantics: subject rows physically gone (including
  * retired snapshot generations), bystanders bit-identical, untouched
  * partitions' files never rewritten, all-erased partitions removed,
  * receipts exact including zeros, null keys never erased.
  */
class ErasureSpec extends SparkSpec {
  import spark.implicits._

  private def table(): DataFrame = Seq(
    (1L, 101L, "2024-01-01", 10.0),
    (2L, 102L, "2024-01-01", 20.0),
    (3L, 101L, "2024-01-02", 30.0),
    (4L, 101L, "2024-01-03", 40.0), // 101 is the ONLY user on day 3
    (5L, 103L, "2024-01-02", 50.0)
  ).toDF("row_id", "user_id", "day", "amount")

  private def nRowsUnder(dir: java.io.File): Int =
    Option(dir.listFiles()).map(_.length).getOrElse(0)

  test("partitioned erasure: subjects gone, bystanders intact, receipts exact") {
    val root = tmpDir("erase-part") + "/t"
    table().write.partitionBy("day").parquet(root)
    val receipt = Erasure.erasePartitioned(spark, root, "day", "user_id",
      Seq(101L, 999L).toDF("user_id"))
    val back = spark.read.parquet(root)
    assert(back.filter($"user_id" === 101L).isEmpty, "subject rows survived")
    assert(back.count() == 2)
    assert(back.filter($"row_id" === 2L && $"amount" === 20.0).count() == 1)
    // receipt: 3 rows for 101, explicit 0 for the unknown subject
    val r = receipt.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r == Map(101L -> 3L, 999L -> 0L))
    // the all-101 partition day=2024-01-03 must be deleted outright
    assert(!new java.io.File(s"$root/day=2024-01-03").exists(),
      "all-erased partition directory survived")
  }

  test("partitioned erasure: emptied-partition cleanup finds escaped directory names") {
    // escaped partition names: 'US/West' and a timestamp-like value are
    // percent-encoded by the writer (region=US%2FWest, …%3A…); a subject
    // whose only partition has such a name must take that real directory
    // with it, not a raw-interpolated one
    for (hot <- Seq("US/West", "2024-01-01T12:30:00")) {
      val esc = tmpDir("erase-esc") + "/t"
      Seq((1L, 201L, hot), (2L, 202L, "plain")).toDF("row_id", "user_id", "region")
        .write.partitionBy("region").parquet(esc)
      val rEsc = Erasure.erasePartitioned(spark, esc, "region", "user_id",
        Seq(201L).toDF("user_id"))
      assert(rEsc.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap ==
        Map(201L -> 1L))
      val left = spark.read.parquet(esc).select("row_id").as[Long].collect().toSeq
      assert(left == Seq(2L), s"partition value '$hot' resurrected: $left")
      val dirs = new java.io.File(esc).listFiles().map(_.getName)
        .filter(_.startsWith("region="))
      assert(dirs.toSeq == Seq("region=plain"), dirs.mkString(","))
    }
  }

  test("partitioned erasure: untouched partitions' files are never rewritten") {
    val root = tmpDir("erase-files") + "/t"
    table().write.partitionBy("day").parquet(root)
    val d1 = new java.io.File(s"$root/day=2024-01-01")
    val before = d1.listFiles().map(f => f.getName -> f.lastModified()).toMap
    // subject 103 lives only in day=2024-01-02
    Erasure.erasePartitioned(spark, root, "day", "user_id",
      Seq(103L).toDF("user_id"))
    val after = d1.listFiles().map(f => f.getName -> f.lastModified()).toMap
    assert(after == before, "untouched partition was rewritten")
    assert(spark.read.parquet(root).filter($"user_id" === 103L).isEmpty)
  }

  test("partitioned erasure: null-keyed rows are always retained") {
    val root = tmpDir("erase-null") + "/t"
    Seq((1L, Some(101L), "2024-01-01"), (2L, Option.empty[Long], "2024-01-01"))
      .toDF("row_id", "user_id", "day")
      .write.partitionBy("day").parquet(root)
    Erasure.erasePartitioned(spark, root, "day", "user_id",
      Seq(101L).toDF("user_id"))
    val back = spark.read.parquet(root)
    assert(back.count() == 1 && back.head().getLong(0) == 2L,
      "null-keyed bystander must survive")
  }

  test("partitioned erasure: no subject present anywhere is a no-op") {
    val root = tmpDir("erase-noop") + "/t"
    table().write.partitionBy("day").parquet(root)
    val allFiles = new java.io.File(root).listFiles()
      .filter(_.isDirectory)
      .flatMap(d => d.listFiles().map(f => f.getPath -> f.lastModified())).toMap
    val receipt = Erasure.erasePartitioned(spark, root, "day", "user_id",
      Seq(777L).toDF("user_id"))
    assert(receipt.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(777L -> 0L))
    val after = new java.io.File(root).listFiles()
      .filter(_.isDirectory)
      .flatMap(d => d.listFiles().map(f => f.getPath -> f.lastModified())).toMap
    assert(after == allFiles, "no-op erasure rewrote files")
  }

  test("snapshot erasure: atomic flip, retired generations physically vacuumed") {
    val root = tmpDir("erase-snap") + "/t"
    SnapshotStore.publish(table(), root)
    // build some history so retention would normally keep a generation
    SnapshotStore.publish(table(), root)
    val receipt = Erasure.eraseSnapshot(spark, root, "user_id",
      Seq(101L).toDF("user_id"))
    assert(receipt.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(101L -> 3L))
    val back = SnapshotStore.read(spark, root)
    assert(back.filter($"user_id" === 101L).isEmpty && back.count() == 2)
    // only the committed generation's directory may remain — the bytes of
    // every pre-erasure generation are gone
    val gens = new java.io.File(root).listFiles()
      .map(_.getName).filter(_.startsWith("gen=")).toSeq
    val cur = SnapshotStore.currentGen(spark, root).get
    assert(gens == Seq(s"gen=$cur"),
      s"retired generations survived the vacuum: $gens")
  }

  test("coordinated erasure: one atomic flip across dim, fact, and delta-fact members") {
    import graft.gold.{BaseDelta, MultiSnapshot}
    val root = tmpDir("erase-coord") + "/r"
    val dim = Seq((1L, "alice"), (2L, "bob"), (3L, "carol"))
      .toDF("customer_id", "name")
    val orders = Seq((10L, 1L), (11L, 2L), (12L, 2L), (13L, 3L))
      .toDF("order_id", "customer_id")
    val audit = Seq((1L, "x")).toDF("audit_id", "note") // no subject column
    MultiSnapshot.publish(spark, root, Map(
      "customers" -> dim, "orders" -> orders, "audit" -> audit))
    // an O(batch) fact member committed by pointer
    val dt = BaseDelta.Table(s"$root/_delta/txns", Seq("txn_id"),
      Seq("seq"), None)
    BaseDelta.append(spark, dt,
      Seq((100L, 1L, 1L), (101L, 2L, 2L), (102L, 3L, 3L), (103L, 2L, 4L))
        .toDF("txn_id", "customer_id", "seq"), 0L)
    MultiSnapshot.publish(spark, root, Map.empty[String, org.apache.spark.sql.DataFrame],
      pointers = Map("txns" -> 0L))

    val receipts = graft.gold.Erasure.eraseCoordinated(spark, root,
      keyCols = Map("customers" -> "customer_id", "orders" -> "customer_id",
        "txns" -> "customer_id"),
      subjects = Seq(2L, 9L).toDF("s"),
      deltaMembers = Map("txns" -> dt))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(receipts == Map(
      ("customers", "2") -> 1L, ("customers", "9") -> 0L,
      ("orders", "2") -> 2L, ("orders", "9") -> 0L,
      ("txns", "2") -> 2L, ("txns", "9") -> 0L), receipts)

    // one consistent post-erasure commit: subject 2 gone EVERYWHERE
    val c = MultiSnapshot.currentCommit(spark, root).get
    val t = MultiSnapshot.readAll(spark, root)
    assert(t("customers").select("customer_id").collect()
      .map(_.getLong(0)).toSet == Set(1L, 3L))
    assert(t("orders").select("order_id").collect()
      .map(_.getLong(0)).toSet == Set(10L, 13L))
    assert(t("audit").count() == 1L, "member without a key column carries forward")
    val ptr = MultiSnapshot.pointer(c, "txns").get
    assert(BaseDelta.readAt(spark, dt, ptr).select("txn_id").collect()
      .map(_.getLong(0)).toSet == Set(100L, 102L))

    // bytes: pre-erasure generations and old commit pointers are GONE
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("customers", "orders").foreach { tbl =>
      val gens = f.listStatus(new org.apache.hadoop.fs.Path(s"$root/$tbl"))
        .map(_.getPath.getName).filter(_.startsWith("gen=")).toSeq
      assert(gens == Seq(s"gen=${c.gens(tbl)}"),
        s"$tbl pre-erasure generations survived: $gens")
    }
    assert(f.listStatus(new org.apache.hadoop.fs.Path(s"$root/_commit"))
      .map(_.getPath.getName).count(_.startsWith("v")) == 1,
      "old commit pointers must not survive an erasure vacuum")

    // erased state must be UNREACHABLE through time travel too: the
    // pre-erasure commit version refuses rather than resolving
    val preErasure = c.version - 1
    val tt = intercept[IllegalArgumentException](
      MultiSnapshot.commitAt(spark, root, preErasure))
    assert(tt.getMessage.contains("not retained"), tt.getMessage)
  }

  test("deferred coordinated erasure: immediate unreachability, delta member unrewritten until materialization") {
    import graft.gold.{BaseDelta, MultiSnapshot}
    val root = tmpDir("erase-coord-d") + "/r"
    val dim = Seq((1L, "alice"), (2L, "bob"), (3L, "carol"))
      .toDF("customer_id", "name")
    MultiSnapshot.publish(spark, root, Map("customers" -> dim))
    val dt = BaseDelta.Table(s"$root/_delta/txns", Seq("txn_id"),
      Seq("seq"), None)
    BaseDelta.append(spark, dt,
      Seq((100L, 1L, 1L), (101L, 2L, 2L), (102L, 3L, 3L), (103L, 2L, 4L))
        .toDF("txn_id", "customer_id", "seq"), 0L)
    MultiSnapshot.publish(spark, root,
      Map.empty[String, org.apache.spark.sql.DataFrame],
      pointers = Map("txns" -> 0L))

    val receipts = graft.gold.Erasure.eraseCoordinated(spark, root,
      keyCols = Map("customers" -> "customer_id", "txns" -> "customer_id"),
      subjects = Seq(2L).toDF("s"),
      deltaMembers = Map("txns" -> dt), deferred = true)
      .collect().map(r => r.getString(0) -> ((r.getLong(2), r.getString(3))))
      .toMap
    assert(receipts == Map(
      "customers" -> ((1L, "erased")), "txns" -> ((2L, "pending"))), receipts)

    // unreachable NOW through the coordinator-resolved views — the
    // staged member by rewrite, the delta member by tombstone ledger
    val c = MultiSnapshot.currentCommit(spark, root).get
    assert(MultiSnapshot.readAll(spark, root)("customers")
      .select("customer_id").collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    val ptr = MultiSnapshot.pointer(c, "txns").get
    assert(BaseDelta.readAt(spark, dt, ptr).select("txn_id").collect()
      .map(_.getLong(0)).toSet == Set(100L, 102L))
    // …but the delta member was NOT rewritten (that is the ack-latency
    // win): no compacted base, ledger pending
    assert(BaseDelta.currentBasePath(spark, dt).isEmpty)
    assert(BaseDelta.pendingTombstones(spark, dt).keySet == Set("customer_id"))
    // materialization at the scheduled slot: bytes rewritten, ledger
    // clears, the committed view is unchanged
    assert(BaseDelta.materializeErasures(spark, dt).nonEmpty)
    assert(BaseDelta.pendingTombstones(spark, dt).isEmpty)
    assert(BaseDelta.readAt(spark, dt, ptr).select("txn_id").collect()
      .map(_.getLong(0)).toSet == Set(100L, 102L))
  }

  test("eraseDerived: one subject set sweeps all three index tiers; idempotent re-invoke") {
    import graft.operators.{ClusterIndex, ErasureSweep, SearchIndex, VectorIndex}
    val famA = "alpha beta gamma delta epsilon zeta"
    val docs = Seq((1L, famA), (2L, famA + " extra"), (3L, "bank account risk"),
      (4L, "data lake account"), (5L, "unrelated words here"))
      .toDF("doc_id", "text")
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .filter($"vec_id" <= 40)
    def freshStates() = {
      val sst = SearchIndex.State(tmpDir("sw-s") + "/s")
      val vst = VectorIndex.State(tmpDir("sw-v") + "/s")
      val cst = ClusterIndex.State(tmpDir("sw-c") + "/s")
      SearchIndex.fold(spark, sst, docs, 0L, "doc_id", "text")
      VectorIndex.fold(spark, vst, emb, 0L, "vec_id", "embedding", nCells = 4)
      ClusterIndex.fold(spark, cst, docs, 0L, "doc_id", "text")
      (sst, vst, cst)
    }
    val subjects = Seq(1L, 3L, 999L).toDF("id") // 999: absent everywhere

    // EAGER sweep ≡ the three per-tier erases run by hand
    val (s1, v1, c1) = freshStates()
    val receipt = ErasureSweep.eraseDerived(spark, subjects,
      Seq(s1), Seq(v1), Seq(c1))
      .select("artifact", "mode", "status", "n_subject_rows")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSet
    assert(receipt == Set(
      ("search_index", "eager", "erased", 2L),
      ("vector_index", "eager", "erased", 2L),
      ("cluster_index", "eager_structural", "erased", 2L)))
    val (s2, v2, c2) = freshStates()
    SearchIndex.erase(spark, s2, subjects)
    VectorIndex.erase(spark, v2, subjects)
    ClusterIndex.erase(spark, c2, subjects)
    def same(a: DataFrame, b: DataFrame): Boolean =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    assert(same(SearchIndex.search(spark, s1, Seq("account", "alpha")),
      SearchIndex.search(spark, s2, Seq("account", "alpha"))))
    val probes = emb.filter($"vec_id" > 30)
    assert(same(
      VectorIndex.topK(spark, v1, probes, "vec_id", "embedding", 3,
        nProbe = VectorIndex.nCells(spark, v1)),
      VectorIndex.topK(spark, v2, probes, "vec_id", "embedding", 3,
        nProbe = VectorIndex.nCells(spark, v2))))
    assert(same(ClusterIndex.clusters(spark, c1),
      ClusterIndex.clusters(spark, c2)))
    assert(ClusterIndex.clusters(spark, c1).filter($"id".isin(1L, 3L)).isEmpty)

    // crash-repair: the SAME sweep re-invoked converges (completed
    // tiers no-op, receipts now report zero subject rows)
    val receipt2 = ErasureSweep.eraseDerived(spark, subjects,
      Seq(s1), Seq(v1), Seq(c1)).select("n_subject_rows")
      .collect().map(_.getLong(0)).toSet
    assert(receipt2 == Set(0L))
    assert(same(SearchIndex.search(spark, s1, Seq("account", "alpha")),
      SearchIndex.search(spark, s2, Seq("account", "alpha"))))

    // DEFERRED sweep: immediate ack, serving excludes the subjects NOW,
    // cluster tier erases eagerly (the documented structural exception)
    val (s3, v3, c3) = freshStates()
    val dReceipt = ErasureSweep.eraseDerived(spark, subjects,
      Seq(s3), Seq(v3), Seq(c3), deferred = true)
      .select("artifact", "mode", "status").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(dReceipt == Set(("search_index", "deferred", "pending"),
      ("vector_index", "deferred", "pending"),
      ("cluster_index", "deferred_structural", "pending")))
    assert(same(SearchIndex.search(spark, s3, Seq("account", "alpha")),
      SearchIndex.search(spark, s2, Seq("account", "alpha"))))
    assert(same(
      VectorIndex.topK(spark, v3, probes, "vec_id", "embedding", 3,
        nProbe = VectorIndex.nCells(spark, v3)),
      VectorIndex.topK(spark, v2, probes, "vec_id", "embedding", 3,
        nProbe = VectorIndex.nCells(spark, v2))))
    assert(same(ClusterIndex.clusters(spark, c3),
      ClusterIndex.clusters(spark, c2)))
    // a later fold on the deferred cluster index pairs against the
    // FILTERED postings view — an erased doc's still-physical shingles
    // can never re-link a new doc (would diverge from the eager index)
    val late = Seq((6L, famA + " tail")).toDF("doc_id", "text")
    ClusterIndex.fold(spark, c3, late, 1L, "doc_id", "text")
    ClusterIndex.fold(spark, c2, late, 1L, "doc_id", "text")
    assert(same(ClusterIndex.clusters(spark, c3),
      ClusterIndex.clusters(spark, c2)),
      "post-deferred-erase fold linked through a tombstoned doc's shingles")
    // materialization upgrades the pending receipt: postings rewritten,
    // ledger cleared
    import graft.gold.BaseDelta
    assert(BaseDelta.pendingTombstones(spark, c3.postingsTable).nonEmpty)
    assert(BaseDelta.materializeErasures(spark, c3.postingsTable).nonEmpty)
    assert(BaseDelta.pendingTombstones(spark, c3.postingsTable).isEmpty)
    assert(same(ClusterIndex.clusters(spark, c3),
      ClusterIndex.clusters(spark, c2)))
  }

  test("eraseDerived: lsh tier — eager equals by-hand erase, deferred acks through ledgers") {
    import graft.operators.{ErasureSweep, LshVectorIndex, Similarity}
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .filter($"vec_id" <= 40)
    def fresh() = {
      val st = LshVectorIndex.State(tmpDir("sw-lsh") + "/s")
      LshVectorIndex.fold(spark, st, emb, 0L, "vec_id", "embedding",
        numTables = 4, numPlanes = 0)
      st
    }
    val subjects = Seq(1L, 3L, 999L).toDF("id") // 999: absent
    def same(a: DataFrame, b: DataFrame): Boolean =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    val probes = emb.filter($"vec_id" > 30)
    val survivors = emb.filter(!$"vec_id".isin(1L, 3L))
    val exact = Similarity.bruteForceTopK(probes, survivors, "vec_id",
      "embedding", k = 3)

    // eager: receipt counts subject rows on `vectors` only; serving
    // equals brute force over the survivors
    val e1 = fresh()
    val receipt = ErasureSweep.eraseDerived(spark, subjects, lsh = Seq(e1))
      .select("artifact", "mode", "status", "n_subject_rows")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSet
    assert(receipt == Set(("lsh_vector_index", "eager", "erased", 2L)))
    assert(same(LshVectorIndex.topK(spark, e1, probes, "vec_id",
      "embedding", k = 3), exact))
    // idempotent re-invoke converges to zero subject rows
    assert(ErasureSweep.eraseDerived(spark, subjects, lsh = Seq(e1))
      .select("n_subject_rows").collect().map(_.getLong(0)).toSet == Set(0L))

    // deferred: pending ack, serving excludes the subjects NOW; the
    // family (and its frozen params) are untouched
    val e2 = fresh()
    val dReceipt = ErasureSweep.eraseDerived(spark, subjects,
      lsh = Seq(e2), deferred = true)
      .select("artifact", "mode", "status").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(dReceipt == Set(("lsh_vector_index", "deferred", "pending")))
    assert(same(LshVectorIndex.topK(spark, e2, probes, "vec_id",
      "embedding", k = 3), exact))
    assert(LshVectorIndex.params(spark, e2).contains((4, 0)))
  }

  test("receipts ledger: crash-resweep records both passes; readout upgrades pending to materialized") {
    import graft.operators.{ErasureSweep, SearchIndex, VectorIndex}
    import graft.gold.BaseDelta
    val docs = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon"),
      (3L, "zeta eta theta")).toDF("doc_id", "text")
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .filter($"vec_id" <= 20)
    val sst = SearchIndex.State(tmpDir("rl-s") + "/s")
    val vst = VectorIndex.State(tmpDir("rl-v") + "/s")
    SearchIndex.fold(spark, sst, docs, 0L, "doc_id", "text")
    VectorIndex.fold(spark, vst, emb, 0L, "vec_id", "embedding", nCells = 4)
    val ledger = tmpDir("rl-ledger") + "/r"
    val lt = ErasureSweep.receiptsTable(ledger)
    val subjects = Seq(1L, 3L).toDF("id")
    // pass 1 (deferred ack), then a "crash" and the repair pass under a
    // NEW sweep id: the audit trail must keep BOTH — the first attempt's
    // evidence and the repair's zero-row convergence rows
    ErasureSweep.eraseDerivedLedgered(spark, ledger, 1L, subjects,
      search = Seq(sst), vector = Seq(vst), deferred = true)
    ErasureSweep.eraseDerivedLedgered(spark, ledger, 2L, subjects,
      search = Seq(sst), vector = Seq(vst), deferred = true)
    val recorded = BaseDelta.read(spark, lt)
      .select("sweep_id", "artifact", "status", "n_subject_rows").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSet
    assert(recorded == Set(
      (1L, "search_index", "pending", 2L),
      (1L, "vector_index", "pending", 2L),
      (2L, "search_index", "pending", 0L), // tombstones already suppress
      (2L, "vector_index", "pending", 0L)), recorded)
    // a checkpoint REPLAY of pass 2 reuses its sweep id: idempotent
    ErasureSweep.eraseDerivedLedgered(spark, ledger, 2L, subjects,
      search = Seq(sst), vector = Seq(vst), deferred = true)
    assert(BaseDelta.read(spark, lt).count() == 4L)
    // materialize ONE tier: its receipts (both passes) upgrade in the
    // readout, the other tier's stay pending
    Seq(sst.postingsTable, sst.docstatsTable, sst.positionsTable)
      .foreach(t => BaseDelta.materializeErasures(spark, t))
    val status = ErasureSweep.receiptStatus(spark, ledger,
        search = Seq(sst), vector = Seq(vst))
      .select("artifact", "current_status").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(status == Set(("search_index", "materialized"),
      ("vector_index", "pending")), status)
    // an artifact the auditor does not vouch for reads 'unknown'
    val unknown = ErasureSweep.receiptStatus(spark, ledger,
        search = Seq(sst))
      .filter($"artifact" === "vector_index")
      .select("current_status").collect().map(_.getString(0)).toSet
    assert(unknown == Set("unknown"))
  }
}
