package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.gold.Scd2Merge

/** SCD2 check-strategy merge semantics (FIXTURES.md §A.4): the dbt-snapshot
  * behavior of customers_snapshot.sql / accounts_snapshot.sql, including
  * the readme's edge cases (readme.md:271-272).
  */
class Scd2MergeSpec extends SparkSpec {
  import spark.implicits._

  private def batch(rows: (Int, String, Double)*): DataFrame =
    rows.toSeq.toDF("account_id", "account_type", "balance")

  private val key = Seq("account_id")
  private val checkCols = Seq("account_type", "balance")

  test("epoch 1: all keys inserted as current") {
    val s1 = Scd2Merge(Scd2Merge.emptySnapshot(batch()), batch(
      (1, "SAVINGS", 100.0), (2, "CHECKING", 50.0)), key, checkCols, ts("2024-01-01 00:00:00"))
    assert(s1.count() == 2)
    assert(s1.filter($"effective_to".isNull).count() == 2)
    assert(s1.filter($"effective_from" === ts("2024-01-01 00:00:00")).count() == 2)
  }

  test("epoch 2: changed check-col closes old version and opens new") {
    val t1 = ts("2024-01-01 00:00:00"); val t2 = ts("2024-01-02 00:00:00")
    val s1 = Scd2Merge(Scd2Merge.emptySnapshot(batch()), batch(
      (1, "SAVINGS", 100.0), (2, "CHECKING", 50.0)), key, checkCols, t1)
    val s2 = Scd2Merge(s1, batch((1, "SAVINGS", 999.0), (2, "CHECKING", 50.0)), key, checkCols, t2)
    assert(s2.count() == 3)
    val k1 = s2.filter($"account_id" === 1).collect()
    assert(k1.length == 2)
    val closed = k1.find(_.getAs[java.sql.Timestamp]("effective_to") != null).get
    assert(closed.getAs[Double]("balance") == 100.0)
    assert(closed.getAs[java.sql.Timestamp]("effective_to") == t2)
    val current = k1.find(_.getAs[java.sql.Timestamp]("effective_to") == null).get
    assert(current.getAs[Double]("balance") == 999.0)
    assert(current.getAs[java.sql.Timestamp]("effective_from") == t2)
    // unchanged key 2 kept as-is, one current row
    assert(s2.filter($"account_id" === 2).count() == 1)
  }

  test("keys absent from the batch are untouched; new keys insert") {
    val t1 = ts("2024-01-01 00:00:00"); val t2 = ts("2024-01-02 00:00:00")
    val s1 = Scd2Merge(Scd2Merge.emptySnapshot(batch()), batch((1, "SAVINGS", 100.0)), key, checkCols, t1)
    val s2 = Scd2Merge(s1, batch((3, "CHECKING", 7.0)), key, checkCols, t2)
    assert(s2.count() == 2)
    assert(s2.filter($"account_id" === 1 && $"effective_to".isNull &&
      $"effective_from" === t1).count() == 1)
    assert(s2.filter($"account_id" === 3 && $"effective_to".isNull).count() == 1)
  }

  test("null-safe compare: null -> value and value -> null both version") {
    val t1 = ts("2024-01-01 00:00:00"); val t2 = ts("2024-01-02 00:00:00")
    val b1 = Seq((1, null.asInstanceOf[String], 1.0), (2, "X", 2.0))
      .toDF("account_id", "account_type", "balance")
    val b2 = Seq((1, "Y", 1.0), (2, null.asInstanceOf[String], 2.0))
      .toDF("account_id", "account_type", "balance")
    val s2 = Scd2Merge(
      Scd2Merge(Scd2Merge.emptySnapshot(b1), b1, key, checkCols, t1),
      b2, key, checkCols, t2)
    assert(s2.count() == 4)
    assert(s2.filter($"effective_to".isNull).count() == 2)
  }

  test("idempotence: re-applying the same batch creates no new versions") {
    val t1 = ts("2024-01-01 00:00:00"); val t2 = ts("2024-01-02 00:00:00")
    val b = batch((1, "SAVINGS", 100.0), (2, "CHECKING", 50.0))
    val s1 = Scd2Merge(Scd2Merge.emptySnapshot(b), b, key, checkCols, t1)
    val s2 = Scd2Merge(s1, b, key, checkCols, t2)
    assert(s2.count() == s1.count())
    assert(s2.filter($"effective_to".isNotNull).count() == 0)
  }

  test("invariants over random epochs: one current row per key, intervals nested in order") {
    val rnd = new scala.util.Random(42)
    var snap = Scd2Merge.emptySnapshot(batch())
    for (epoch <- 1 to 5) {
      val rows = (1 to 10).filter(_ => rnd.nextBoolean()).map { id =>
        (id, if (rnd.nextBoolean()) "SAVINGS" else "CHECKING", rnd.nextInt(3) * 100.0)
      }
      if (rows.nonEmpty)
        snap = Scd2Merge(snap, batch(rows: _*), key, checkCols,
          ts(f"2024-01-$epoch%02d 00:00:00"))
    }
    val rows = snap.collect()
    val byKey = rows.groupBy(_.getAs[Int]("account_id"))
    byKey.foreach { case (_, vs) =>
      assert(vs.count(_.getAs[java.sql.Timestamp]("effective_to") == null) == 1)
      val sorted = vs.sortBy(_.getAs[java.sql.Timestamp]("effective_from").getTime)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[java.sql.Timestamp]("effective_to") ==
            b.getAs[java.sql.Timestamp]("effective_from"),
            "intervals must be contiguous")
        case _ =>
      }
    }
    // dim projection flags exactly the open rows
    val dim = Scd2Merge.toDim(snap)
    assert(dim.filter($"is_current").count() == byKey.size)
  }

  test("fromChangeLog rebuild matches per-epoch merging on distinct-change logs") {
    val log = Seq(
      (1, ts("2024-01-01 00:00:00"), 10.0),
      (1, ts("2024-01-02 00:00:00"), 20.0),
      (2, ts("2024-01-01 12:00:00"), 5.0))
      .toDF("account_id", "ts", "balance")
    val hist = Scd2Merge.fromChangeLog(log, Seq("account_id"), "ts")
    assert(hist.count() == 3)
    assert(hist.filter($"is_current").count() == 2)
    val v1 = hist.filter($"account_id" === 1 && $"version_n" === 1).head()
    assert(v1.getAs[java.sql.Timestamp]("effective_to") == ts("2024-01-02 00:00:00"))
  }

  // ───────── applyLog: per-row-timestamp incremental changelog fold ─────────

  /** change log: (account_id, seq, status, ts) — seq is the tie-break */
  private def log(rows: (Int, Long, String, String)*): DataFrame =
    rows.toSeq.map { case (k, q, v, t) => (k, q, v, ts(t)) }
      .toDF("account_id", "seq", "status", "ts")

  private val logKey = Seq("account_id")
  private val logCheck = Seq("status")

  private def fold(batches: Seq[DataFrame]): DataFrame =
    batches.foldLeft(Scd2Merge.emptyLogSnapshot(batches.head, "ts")) {
      (snap, b) => Scd2Merge.applyLog(snap, b, logKey, logCheck, "ts",
        tieBreak = Seq("seq"))
    }

  private def sameRows(a: DataFrame, b: DataFrame, what: String): Unit =
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      s"$what\nleft:\n${a.collect().mkString("\n")}\nright:\n${b.collect().mkString("\n")}")

  test("applyLog: one batch with several versions, check-dedup, ties by seq") {
    val snap = fold(Seq(log(
      (1, 1L, "OPEN", "2024-01-01 00:00:00"),
      (1, 2L, "OPEN", "2024-01-02 00:00:00"),     // unchanged → no version
      (1, 3L, "FROZEN", "2024-01-03 00:00:00"),
      (1, 4L, "OPEN", "2024-01-03 00:00:00"),     // same ts, seq 4 after 3
      (2, 5L, "OPEN", "2024-01-01 06:00:00"))))
    val k1 = snap.filter($"account_id" === 1)
      .orderBy($"effective_from", $"seq").collect()
    assert(k1.map(_.getAs[String]("status")).toSeq ==
      Seq("OPEN", "FROZEN", "OPEN"))
    assert(k1(0).getAs[java.sql.Timestamp]("effective_to") ==
      ts("2024-01-03 00:00:00"))
    assert(k1(1).getAs[java.sql.Timestamp]("effective_to") ==
      ts("2024-01-03 00:00:00"))                   // zero-width tie interval
    assert(k1(2).getAs[java.sql.Timestamp]("effective_to") == null)
    assert(snap.filter($"account_id" === 2).count() == 1)
  }

  test("applyLog: fold over any batch cut equals the one-shot fold") {
    val rows = Seq(
      (1, 1L, "A", "2024-01-01 00:00:00"),
      (1, 2L, "A", "2024-01-02 00:00:00"),
      (1, 3L, "B", "2024-01-03 00:00:00"),
      (1, 4L, "B", "2024-01-04 00:00:00"),
      (1, 5L, "C", "2024-01-05 00:00:00"),
      (2, 6L, "X", "2024-01-02 12:00:00"),
      (2, 7L, "Y", "2024-01-04 12:00:00"),
      (3, 8L, "Q", "2024-01-03 18:00:00"))
    val full = log(rows: _*)
    val oneShot = fold(Seq(full))
    // cut the log at every prefix length (per-key ts order respected:
    // rows are globally ts-sorted before cutting)
    val sorted = rows.sortBy(_._4)
    for (cut1 <- 1 until sorted.length) {
      val folded = fold(Seq(log(sorted.take(cut1): _*),
        log(sorted.drop(cut1): _*)))
      sameRows(folded, oneShot, s"cut at $cut1 diverges from one-shot fold")
    }
    // the batch-boundary dedup case: batch 1 ends in an unchanged run
    // (seq 2 and 4 create no version), batch 2 must compare against the
    // last KEPT version, not the last raw row
    assert(oneShot.filter($"account_id" === 1).count() == 3)
  }

  test("applyLog: refolding a delivered batch is a no-op (replay idempotence)") {
    val b1 = log((1, 1L, "A", "2024-01-01 00:00:00"),
      (1, 2L, "B", "2024-01-02 00:00:00"))
    val b2 = log((1, 3L, "B", "2024-01-03 00:00:00"),  // unchanged at new ts
      (1, 4L, "C", "2024-01-04 00:00:00"),
      (2, 5L, "X", "2024-01-03 12:00:00"))
    val applied = fold(Seq(b1, b2))
    val refolded = Scd2Merge.applyLog(applied, b2, logKey, logCheck, "ts",
      tieBreak = Seq("seq"))
    sameRows(refolded, applied, "replayed batch changed the snapshot")
    // an overlapping redelivery (at-least-once tail of b1 + all of b2)
    val overlap = Scd2Merge.applyLog(applied, b1.unionByName(b2), logKey,
      logCheck, "ts", tieBreak = Seq("seq"))
    sameRows(overlap, applied, "overlapping redelivery changed the snapshot")
  }

  test("applyLog: untouched keys and closed history pass through; late rows drop") {
    val applied = fold(Seq(log(
      (1, 1L, "A", "2024-01-01 00:00:00"),
      (1, 2L, "B", "2024-01-05 00:00:00"),
      (2, 3L, "X", "2024-01-02 00:00:00"))))
    // batch touches only key 2; a late key-1-style row older than key 2's
    // current version must be ignored
    val b = log((2, 4L, "Y", "2024-01-06 00:00:00"),
      (2, 5L, "OLD", "2024-01-01 00:00:00"))       // late: before current from
    val next = Scd2Merge.applyLog(applied, b, logKey, logCheck, "ts",
      tieBreak = Seq("seq"))
    sameRows(next.filter($"account_id" === 1),
      applied.filter($"account_id" === 1), "untouched key 1 changed")
    val k2 = next.filter($"account_id" === 2)
      .orderBy($"effective_from").collect()
    assert(k2.map(_.getAs[String]("status")).toSeq == Seq("X", "Y"),
      "late row must not create a version")
  }

  test("applyLog: null-safe check compare and null keys") {
    val b1 = Seq((Some(1), 1L, Option.empty[String], ts("2024-01-01 00:00:00")),
      (Option.empty[Int], 2L, Some("N"), ts("2024-01-01 00:00:00")))
      .toDF("account_id", "seq", "status", "ts")
    val b2 = Seq((Some(1), 3L, Option.empty[String], ts("2024-01-02 00:00:00")),
      (Some(1), 4L, Some("S"), ts("2024-01-03 00:00:00")),
      (Option.empty[Int], 5L, Some("N"), ts("2024-01-04 00:00:00")))
      .toDF("account_id", "seq", "status", "ts")
    val snap = Seq(b1, b2).foldLeft(Scd2Merge.emptyLogSnapshot(b1, "ts")) {
      (s0, b) => Scd2Merge.applyLog(s0, b, logKey, logCheck, "ts",
        tieBreak = Seq("seq"))
    }
    // null → null is unchanged (no version); null → S versions
    assert(snap.filter($"account_id" === 1).count() == 2)
    // null key folds as its own key; unchanged N creates no version
    assert(snap.filter($"account_id".isNull).count() == 1)
  }

  /** op-aware change log: (account_id, seq, status, op, ts) */
  private def opLog(rows: (Int, Long, String, String, String)*): DataFrame =
    rows.toSeq.map { case (k, q, v, op, t) => (k, q, v, op, ts(t)) }
      .toDF("account_id", "seq", "status", "op", "ts")

  private def foldOp(batches: Seq[DataFrame]): DataFrame =
    batches.foldLeft(Scd2Merge.emptyLogSnapshot(batches.head, "ts")) {
      (snap, b) => Scd2Merge.applyLog(snap, b, logKey, logCheck, "ts",
        tieBreak = Seq("seq"), opCol = Some("op"))
    }

  test("applyLog tombstones: delete closes, persists, re-create reopens") {
    val snap = foldOp(Seq(opLog(
      (1, 1L, "A", "c", "2024-01-01 00:00:00"),
      (1, 2L, "A", "d", "2024-01-03 00:00:00"),
      (1, 3L, "A", "c", "2024-01-05 00:00:00"),   // same payload as v1 —
      (2, 4L, "X", "c", "2024-01-02 00:00:00")))) //   must STILL reopen
    val k1 = snap.filter($"account_id" === 1).orderBy($"effective_from").collect()
    assert(k1.map(r => (r.getAs[String]("status"), r.getAs[String]("op"))).toSeq ==
      Seq(("A", "c"), ("A", "d"), ("A", "c")))
    assert(k1(0).getAs[java.sql.Timestamp]("effective_to") ==
      ts("2024-01-03 00:00:00"), "delete must close the open version")
    assert(k1(1).getAs[java.sql.Timestamp]("effective_to") ==
      ts("2024-01-05 00:00:00"), "re-create must close the tombstone")
    assert(k1(2).getAs[java.sql.Timestamp]("effective_to") == null)
    // live view: tombstoned keys absent, live keys present
    val live = Scd2Merge.liveFromLog(snap, "op")
    assert(live.filter($"account_id" === 1).count() == 1)
    val snapDeleted = foldOp(Seq(opLog(
      (3, 5L, "Q", "c", "2024-01-01 00:00:00"),
      (3, 6L, "Q", "d", "2024-01-02 00:00:00"))))
    assert(Scd2Merge.liveFromLog(snapDeleted, "op")
      .filter($"account_id" === 3).isEmpty, "deleted key must not be live")
  }

  test("applyLog tombstones: redundant deletes drop; first-ever delete drops") {
    val snap = foldOp(Seq(
      opLog((1, 1L, "A", "c", "2024-01-01 00:00:00"),
        (9, 2L, "Z", "d", "2024-01-01 06:00:00")),  // delete of unseen key
      opLog((1, 3L, "A", "d", "2024-01-02 00:00:00"),
        (1, 4L, "A", "d", "2024-01-03 00:00:00")))) // redundant tombstone
    assert(snap.filter($"account_id" === 9).isEmpty,
      "first-ever delete must create nothing")
    val k1 = snap.filter($"account_id" === 1).collect()
    assert(k1.length == 2, s"redundant delete must drop: ${k1.toSeq}")
    assert(k1.count(_.getAs[String]("op") == "d") == 1)
  }

  test("applyLog tombstones: batch-cut invariance and replay no-op hold") {
    val rows = Seq(
      (1, 1L, "A", "c", "2024-01-01 00:00:00"),
      (1, 2L, "B", "c", "2024-01-02 00:00:00"),
      (1, 3L, "B", "d", "2024-01-03 00:00:00"),
      (1, 4L, "C", "c", "2024-01-04 00:00:00"),
      (2, 5L, "X", "c", "2024-01-02 12:00:00"),
      (2, 6L, "X", "d", "2024-01-03 12:00:00"))
    val oneShot = foldOp(Seq(opLog(rows: _*)))
    for (cut <- 1 until rows.length) {
      val sorted = rows.sortBy(_._5)
      sameRows(foldOp(Seq(opLog(sorted.take(cut): _*),
        opLog(sorted.drop(cut): _*))), oneShot, s"op cut $cut diverges")
    }
    // replay of a batch ending in a tombstone: the tombstone anchor
    // drops every redelivered row
    val b2 = opLog(rows.drop(3): _*)
    sameRows(Scd2Merge.applyLog(oneShot, b2, logKey, logCheck, "ts",
      tieBreak = Seq("seq"), opCol = Some("op")), oneShot,
      "replay over tombstoned keys changed the snapshot")
  }

  // ── timestamp strategy (applyTimestamp): updated_at is the change signal ──

  private def tsBatch(rows: (Int, String, Double, String)*): DataFrame =
    rows.toSeq.map { case (k, t, b, u) => (k, t, b, ts(u)) }
      .toDF("account_id", "account_type", "balance", "updated_at")

  test("timestamp strategy: newer ts versions even unchanged values; stale rows dropped") {
    val b1 = tsBatch((1, "SAVINGS", 100.0, "2024-01-01 00:00:00"),
      (2, "CHECKING", 50.0, "2024-01-01 00:00:00"))
    val s1 = Scd2Merge.applyTimestamp(Scd2Merge.emptySnapshot(b1), b1,
      key, "updated_at")
    assert(s1.filter($"effective_to".isNull).count() == 2)
    // key 1: identical values, newer ts → NEW version (check strategy would
    // not version this); key 2: stale ts → dropped, current row untouched
    val b2 = tsBatch((1, "SAVINGS", 100.0, "2024-02-01 00:00:00"),
      (2, "CHECKING", 99.0, "2023-12-01 00:00:00"))
    val s2 = Scd2Merge.applyTimestamp(s1, b2, key, "updated_at")
    assert(s2.filter($"account_id" === 1).count() == 2)
    val cur1 = s2.filter($"account_id" === 1 && $"effective_to".isNull)
      .collect()(0)
    assert(cur1.getAs[java.sql.Timestamp]("effective_from")
      == ts("2024-02-01 00:00:00"))
    val closed1 = s2.filter($"account_id" === 1 && $"effective_to".isNotNull)
      .collect()(0)
    assert(closed1.getAs[java.sql.Timestamp]("effective_to")
      == ts("2024-02-01 00:00:00"))
    val k2 = s2.filter($"account_id" === 2).collect()
    assert(k2.length == 1 && k2(0).getAs[Double]("balance") == 50.0
      && k2(0).getAs[java.sql.Timestamp]("effective_to") == null)
  }

  test("timestamp strategy: null updated_at rows are dropped, never open versions") {
    val b1 = tsBatch((1, "SAVINGS", 100.0, "2024-01-01 00:00:00"))
      .unionByName(Seq((2, "CHECKING", 50.0))
        .toDF("account_id", "account_type", "balance")
        .withColumn("updated_at", lit(null).cast("timestamp")))
    val s1 = Scd2Merge.applyTimestamp(Scd2Merge.emptySnapshot(b1), b1,
      key, "updated_at")
    assert(s1.count() == 1 && s1.head().getInt(0) == 1)
    // a second null-ts delivery for key 2 still creates nothing, and key
    // 1 keeps exactly ONE open version
    val s2 = Scd2Merge.applyTimestamp(s1, b1, key, "updated_at")
    assert(s2.count() == 1)
    assert(s2.filter($"effective_to".isNull).count() == 1)
  }

  test("timestamp strategy: effective_from is the ROW's ts; replay is a no-op") {
    val b1 = tsBatch((1, "SAVINGS", 100.0, "2024-01-05 00:00:00"),
      (2, "CHECKING", 50.0, "2024-01-07 00:00:00"))
    val s1 = Scd2Merge.applyTimestamp(Scd2Merge.emptySnapshot(b1), b1,
      key, "updated_at")
    assert(s1.filter($"account_id" === 1
      && $"effective_from" === ts("2024-01-05 00:00:00")).count() == 1)
    assert(s1.filter($"account_id" === 2
      && $"effective_from" === ts("2024-01-07 00:00:00")).count() == 1)
    val s2 = Scd2Merge.applyTimestamp(s1, b1, key, "updated_at")
    assert(s2.exceptAll(s1).isEmpty && s1.exceptAll(s2).isEmpty)
  }

  test("applyLog: null-ts changelog rows are dropped, never open versions") {
    // a null-ts row for a NEW key (no anchor) must not pass the replay
    // guard, sort first, and open a version with null effective_from
    // whose successor leaves TWO open versions for the key
    val nullRow = Seq((9, 1L, "A"))
      .toDF("account_id", "seq", "status")
      .withColumn("ts", lit(null).cast("timestamp"))
    val b1 = log((9, 2L, "B", "2024-01-02 00:00:00")).unionByName(nullRow)
    val s1 = Scd2Merge.applyLog(Scd2Merge.emptyLogSnapshot(b1, "ts"), b1,
      logKey, logCheck, "ts", tieBreak = Seq("seq"))
    assert(s1.count() == 1, s1.collect().mkString("; "))
    assert(s1.filter($"effective_to".isNull).count() == 1)
    assert(s1.filter($"effective_from".isNull).count() == 0)
    // and against an EXISTING key: the null-ts row is a no-op, the
    // unique-current invariant holds
    val s2 = Scd2Merge.applyLog(s1, nullRow, logKey, logCheck, "ts",
      tieBreak = Seq("seq"))
    assert(s2.exceptAll(s1).isEmpty && s1.exceptAll(s2).isEmpty)
    assert(graft.silver.Quality.uniqueCurrent(s2, Seq("account_id")).isEmpty)
  }
}
