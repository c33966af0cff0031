package graft

import org.apache.spark.sql.functions._
import graft.gold.MultiSnapshot

/** Multi-table atomic publish: mutually consistent reads across a
  * fact/dim pair, carry-forward of unpublished tables, crash isolation
  * of staged-but-uncommitted generations, and retention.
  */
class MultiSnapshotSpec extends SparkSpec {
  import spark.implicits._

  // version-stamped fact/dim pair: version k's orders reference ONLY
  // version k's customers — any torn read produces FK orphans
  private def dim(k: Int) =
    Seq((k * 10 + 1, s"cust-v$k-a"), (k * 10 + 2, s"cust-v$k-b"))
      .toDF("cust_id", "name")
  private def fact(k: Int) =
    Seq((1, k * 10 + 1, 100.0 * k), (2, k * 10 + 2, 5.0 * k))
      .toDF("order_id", "cust_id", "amount")

  private def orphans(root: String): Long = {
    val t = MultiSnapshot.readAll(spark, root)
    t("orders").join(t("customers"), Seq("cust_id"), "left_anti").count()
  }

  test("publish is atomic across tables: no commit ever shows FK orphans") {
    val root = tmpDir("msnap") + "/r"
    (1 to 3).foreach { k =>
      MultiSnapshot.publish(spark, root,
        Map("customers" -> dim(k), "orders" -> fact(k)))
      assert(orphans(root) == 0, s"commit $k tore the fact/dim pair")
    }
    val c = MultiSnapshot.currentCommit(spark, root).get
    assert(c.version == 3 && c.gens == Map("customers" -> 3L, "orders" -> 3L))
  }

  test("tables absent from a publish carry their generation forward") {
    val root = tmpDir("msnap-cf") + "/r"
    MultiSnapshot.publish(spark, root,
      Map("customers" -> dim(1), "orders" -> fact(1)))
    // fact-only publish referencing the SAME dim version: consistent
    MultiSnapshot.publish(spark, root, Map("orders" -> fact(1)))
    val c = MultiSnapshot.currentCommit(spark, root).get
    assert(c.gens == Map("customers" -> 1L, "orders" -> 2L))
    assert(orphans(root) == 0)
  }

  test("a crashed publish (staged, never committed) is invisible and overwritten") {
    val root = tmpDir("msnap-crash") + "/r"
    MultiSnapshot.publish(spark, root,
      Map("customers" -> dim(1), "orders" -> fact(1)))
    // simulate the crash: stage generation 2 of ONE table by hand, no commit
    dim(2).write.parquet(MultiSnapshot.genPath(root, "customers", 2L))
    val c1 = MultiSnapshot.currentCommit(spark, root).get
    assert(c1.gens("customers") == 1L, "orphan generation became visible")
    assert(MultiSnapshot.read(spark, root, "customers")
      .filter($"name".startsWith("cust-v2")).isEmpty)
    // the retry publishes both tables; the orphan dir is overwritten
    MultiSnapshot.publish(spark, root,
      Map("customers" -> dim(2), "orders" -> fact(2)))
    assert(orphans(root) == 0)
    assert(MultiSnapshot.read(spark, root, "customers")
      .filter($"name".startsWith("cust-v2")).count() == 2)
  }

  test("retention: previous commit's generations survive one cycle, older retire") {
    val root = tmpDir("msnap-ret") + "/r"
    (1 to 3).foreach(k => MultiSnapshot.publish(spark, root,
      Map("customers" -> dim(k))))
    val dirs = new java.io.File(s"$root/customers").listFiles()
      .map(_.getName).filter(_.startsWith("gen=")).sorted.toSeq
    assert(dirs == Seq("gen=2", "gen=3"),
      s"want exactly the current and previous generations, got $dirs")
  }

  test("cross-table time travel: the previous commit reads consistently, older refuse") {
    val root = tmpDir("msnap-tt") + "/r"
    MultiSnapshot.publish(spark, root,
      Map("customers" -> dim(1), "orders" -> fact(1)))
    MultiSnapshot.publish(spark, root, Map("customers" -> dim(2)))
    MultiSnapshot.publish(spark, root, Map("orders" -> fact(3)))
    // v2 = (customers gen 2, orders gen 1) — the consistent pair AS OF v2
    val v2 = MultiSnapshot.readAllAt(spark, root, 2L)
    assert(v2("customers").filter($"name".startsWith("cust-v2")).count() == 2)
    assert(v2("orders").filter($"amount" === 100.0).count() == 1)
    // current differs on orders
    assert(MultiSnapshot.readAll(spark, root)("orders")
      .filter($"amount" === 300.0).count() == 1)
    // v1's pointer was retired on the third publish: refuse loudly
    val e = intercept[IllegalArgumentException](
      MultiSnapshot.commitAt(spark, root, 1L))
    assert(e.getMessage.contains("not retained"), e.getMessage)
  }

  test("history: retained commits, member kinds, and advancement flags") {
    val root = tmpDir("msnap-hist") + "/r"
    MultiSnapshot.publish(spark, root,
      Map("customers" -> dim(1), "orders" -> fact(1)))
    MultiSnapshot.publish(spark, root, Map("customers" -> dim(2)),
      pointers = Map("txns" -> 5L))
    val h = MultiSnapshot.history(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getString(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getBoolean(4))))).toMap
    // v2: customers advanced, orders carried, pointer committed
    assert(h((2L, "customers")) == (("staged", 2L, Some(true))), h)
    assert(h((2L, "orders")) == (("staged", 1L, Some(false))), h)
    assert(h((2L, "txns")) == (("pointer", 5L, Some(true))), h)
    // v1 is the oldest retained: no baseline, flags unknown
    assert(h((1L, "customers")) == (("staged", 1L, None)), h)
  }

  test("retiredGuard adjudication: any entry-to-failure change translates typed with the real fault as cause; an unchanged fingerprint propagates raw") {
    import graft.gold.BaseDelta
    val table = BaseDelta.Table(tmpDir("ms-selfcommit") + "/t",
      Seq("id"), Seq("ver", "id"), None)
    BaseDelta.append(spark, table,
      Seq((1L, "a", 1)).toDF("id", "v", "ver"), 0L)
    val missing = tmpDir("ms-missing") + "/never-written"
    // a genuine fault with NO fingerprint movement: raw, never typed
    val raw = intercept[Throwable] {
      BaseDelta.conflictIfRetired(spark, table) {
        spark.read.parquet(missing).collect()
      }
    }
    assert(!raw.isInstanceOf[graft.gold.CommitConflictException],
      s"an unchanged-fingerprint fault was reclassified: $raw")
    // a WRITE body's own commit moves the fingerprint, so a genuine
    // fault after it translates typed ON THIS ATTEMPT — the adjudicated
    // sound side of the ambiguity (observation-refresh attribution was
    // falsified live by the chaos storm: a refresh absorbs a concurrent
    // destroyer's change). The retry protocol disambiguates: a replayed
    // body whose self-commits ledger-skip re-enters with a fresh
    // baseline and the persistent fault then propagates raw — and the
    // REAL fault rides as the typed conflict's cause meanwhile.
    val ambiguous = intercept[graft.gold.CommitConflictException] {
      BaseDelta.conflictIfRetired(spark, table) {
        BaseDelta.append(spark, table,
          Seq((2L, "b", 1)).toDF("id", "v", "ver"), 1L)
        spark.read.parquet(missing).collect()
      }
    }
    assert(ambiguous.getCause != null &&
      !ambiguous.getCause.isInstanceOf[graft.gold.CommitConflictException],
      s"the real fault must ride as the cause: $ambiguous")
    // a retry whose replay is ledger-skipped (no self-commit this time)
    // re-enters with a fresh baseline and the persistent fault now
    // propagates raw — the disambiguation the scaladoc documents
    val retried = intercept[Throwable] {
      BaseDelta.conflictIfRetired(spark, table) {
        spark.read.parquet(missing).collect()
      }
    }
    assert(!retried.isInstanceOf[graft.gold.CommitConflictException],
      s"the disambiguating retry still translated typed: $retried")
    // an OTHER writer mutating mid-body: always typed
    intercept[graft.gold.CommitConflictException] {
      BaseDelta.conflictIfRetired(spark, table) {
        val other = new Thread(() => BaseDelta.append(spark, table,
          Seq((4L, "d", 1)).toDF("id", "v", "ver"), 3L))
        other.start(); other.join()
        spark.read.parquet(missing).collect()
      }
    }
    // the COORDINATOR form: the baseline is the caller's observed commit,
    // not a version read at entry
    val root = tmpDir("ms-coord-guard") + "/r"
    MultiSnapshot.publish(spark, root, Map("t" -> dim(1)))
    val v1 = MultiSnapshot.currentCommit(spark, root)
    val unmoved = intercept[Throwable] {
      MultiSnapshot.conflictIfRetired(spark, root, v1) {
        spark.read.parquet(missing).collect()
      }
    }
    assert(!unmoved.isInstanceOf[graft.gold.CommitConflictException],
      s"a fault with the commit at the observed version was reclassified: $unmoved")
    // a commit landing BEFORE entry but after the caller's observation
    // is already a retirement (an entry-read baseline would miss it)
    MultiSnapshot.publish(spark, root, Map("t" -> dim(2)))
    val retired = intercept[graft.gold.CommitConflictException] {
      MultiSnapshot.conflictIfRetired(spark, root, v1) {
        spark.read.parquet(missing).collect()
      }
    }
    assert(retired.getCause != null &&
      !retired.getCause.isInstanceOf[graft.gold.CommitConflictException],
      s"the real fault must ride as the cause: $retired")
    // a failure that is not a snapshot read failure always propagates raw
    val other = intercept[IllegalStateException] {
      MultiSnapshot.conflictIfRetired(spark, root, v1) {
        throw new IllegalStateException("not a read failure")
      }
    }
    assert(other.getMessage == "not a read failure")
  }
}
