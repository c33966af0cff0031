package graft

import org.apache.spark.sql.functions._
import graft.silver.{Quality, Staging}
import graft.gold.UpsertByKey

/** Staging dedup, watermark, incremental upsert, and the DQ check suite
  * (FIXTURES.md §A.5: each check must flag exactly the planted violations).
  */
class SilverSpec extends SparkSpec {
  import spark.implicits._

  test("dedupLatest keeps the max-ordered row per key, deterministic on ties") {
    val df = Seq(
      (1, ts("2024-01-01 00:00:00"), 100L, "a"),
      (1, ts("2024-01-02 00:00:00"), 101L, "b"),   // latest ts wins
      (2, ts("2024-01-01 00:00:00"), 102L, "c"),
      (2, ts("2024-01-01 00:00:00"), 103L, "d"))   // tie: higher id wins
      .toDF("id", "created_at", "seq", "v")
    val out = Staging.dedupLatest(df, Seq("id"),
      Seq($"created_at".desc, $"seq".desc)).collect()
    assert(out.length == 2)
    assert(out.find(_.getAs[Int]("id") == 1).get.getAs[String]("v") == "b")
    assert(out.find(_.getAs[Int]("id") == 2).get.getAs[String]("v") == "d")
  }

  test("newerThanWatermark filters at the sink's max; empty sink passes all") {
    val existing = Seq((1, ts("2024-01-05 00:00:00"))).toDF("id", "ts")
    val incoming = Seq(
      (2, ts("2024-01-04 00:00:00")),
      (3, ts("2024-01-05 00:00:00")),
      (4, ts("2024-01-06 00:00:00"))).toDF("id", "ts")
    assert(Staging.newerThanWatermark(incoming, existing, "ts")
      .collect().map(_.getAs[Int]("id")).toSet == Set(4))
    assert(Staging.newerThanWatermark(incoming, existing.limit(0), "ts").count() == 3)
  }

  test("profile: per-column rows/nulls/exact distinct in one pass") {
    val df = Seq(
      (Some(1), Some("a")), (Some(1), Some("b")),
      (None, Some("b")), (Some(3), None))
      .toDF("x", "y")
    val out = Quality.profile(df).collect()
      .map(r => r.getAs[String]("col_name") ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("n_null"), r.getAs[Long]("n_distinct")))
      .toMap
    assert(out("x") == (4L, 1L, 2L))  // distinct excludes null: {1, 3}
    assert(out("y") == (4L, 1L, 2L))  // {a, b}
  }

  test("rollingAnomalies: spike vs own history; flat history flags any deviation; warmup never flags") {
    def d(s: String) = java.sql.Date.valueOf(s)
    // key a: flat 100.00 history then a spike (σ=0 branch);
    // key b: noisy history then a far outlier (σ>0 branch);
    // rows 1-3 of each key are warmup (n < minPrior) — never flagged
    val rows =
      (1 to 7).map(i => ("a", i, d(f"2024-01-${i}%02d"), 100.0)) :+
        ("a", 8, d("2024-01-08"), 200.0) :++
      (Seq(100.0, 104.0, 96.0, 102.0, 98.0, 103.0, 97.0).zipWithIndex.map {
        case (v, i) => ("b", i + 1, d(f"2024-02-${i + 1}%02d"), v) } :+
        ("b", 8, d("2024-02-08"), 150.0))
    val out = Quality.rollingAnomalies(rows.toDF("k", "id", "dt", "amt"),
        "k", "dt", "id", "amt", window = 7, k = 2.0)
      .collect().map(r => (r.getAs[String]("k"), r.getAs[Int]("id")) ->
        Option(r.getAs[java.lang.Double]("zscore")).map(_.toDouble)).toMap
    assert(out.keySet == Set(("a", 8), ("b", 8)))
    assert(out(("a", 8)).isEmpty)        // flat history: flagged, z undefined
    assert(out(("b", 8)).exists(_ > 2.0))
  }

  test("benford: leading-digit counts, sub-unit rows excluded, Benford expectation") {
    val df = Seq(19.5, 2.0, 25.0, 0.5, 300.0, -45.0, 1.0).toDF("amount")
    val out = Quality.benford(df, "amount").collect()
      .map(r => r.getAs[Int]("digit") ->
        (r.getAs[Long]("n"), r.getAs[Double]("observed_pct"),
          r.getAs[Double]("expected_pct"))).toMap
    // 0.5 excluded; digits: 19.5→1, 1→1, 2→2, 25→2, 300→3, |-45|→4
    assert(out.keySet == Set(1, 2, 3, 4))
    assert(out(1)._1 == 2L && out(2)._1 == 2L && out(3)._1 == 1L && out(4)._1 == 1L)
    assert(out(1)._2 == 2.0 / 6 && out(3)._2 == 1.0 / 6)
    assert(out(1)._3 == math.log10(2.0) && out(4)._3 == math.log10(1.25))
  }

  test("snapshotAsOf: latest-wins at T, deletes shadow, later events invisible") {
    val log = Seq(
      (1, ts("2024-01-01 00:00:00"), 1L, "a", "u"),
      (1, ts("2024-01-03 00:00:00"), 2L, "b", "u"),  // after asOf: invisible
      (2, ts("2024-01-01 00:00:00"), 3L, "x", "u"),
      (2, ts("2024-01-02 00:00:00"), 4L, "x", "d"),  // delete shadows the upsert
      (3, ts("2024-01-01 00:00:00"), 5L, "y", "d"),
      (3, ts("2024-01-02 00:00:00"), 6L, "z", "u"))  // re-created after delete
      .toDF("id", "ts", "seq", "v", "op")
    val out = Staging.snapshotAsOf(log, Seq("id"),
        Seq($"ts".desc, $"seq".desc), "ts",
        lit("2024-01-02 12:00:00").cast("timestamp"))
      .collect().map(r => r.getAs[Int]("id") -> r.getAs[String]("v")).toMap
    assert(out == Map(1 -> "a", 3 -> "z"))
  }

  test("castOrQuarantine splits rows with unparseable values, keeps nulls clean") {
    val df = Seq(
      ("1", "100.5"), ("2", "oops"), ("3", null.asInstanceOf[String]), ("x", "7"))
      .toDF("id", "amount")
    val (clean, bad) = Staging.castOrQuarantine(df,
      Map("id" -> "int", "amount" -> "double"))
    assert(clean.collect().map(r => (r.getAs[Int]("id"),
      Option(r.get(r.fieldIndex("amount"))))).toSet ==
      Set((1, Some(100.5)), (3, None)))
    // quarantine keeps ORIGINAL values for the dead-letter sink
    assert(bad.collect().map(_.getAs[String]("id")).toSet == Set("2", "x"))
  }

  test("UpsertByKey: incoming wins, replay is idempotent, batch dedups itself") {
    val existing = Seq((1L, "old", 1), (2L, "keep", 1)).toDF("id", "v", "ver")
    val incoming = Seq((1L, "new1", 2), (1L, "new2", 3), (3L, "ins", 1))
      .toDF("id", "v", "ver")
    val ord = Seq($"ver".desc)
    val merged = UpsertByKey(existing, incoming, Seq("id"), ord)
    val byId = merged.collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap
    assert(byId == Map(1L -> "new2", 2L -> "keep", 3L -> "ins"))
    val again = UpsertByKey(merged, incoming, Seq("id"), ord)
    assert(again.collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap == byId)
  }

  test("DQ checks flag exactly the planted violations") {
    val txns = Seq(
      (1L, 10, "DEPOSIT", 100.0),
      (1L, 10, "DEPOSIT", 100.0),        // dup transaction_id
      (2L, 10, "WITHDRAWAL", -5.0),      // non-positive amount
      (3L, 99, "TRANSFER", 50.0),        // orphan account
      (4L, 11, "BOGUS", 20.0),           // bad txn_type
      (5L, 11, "DEPOSIT", 0.0))          // zero amount
      .toDF("transaction_id", "account_id", "txn_type", "amount")
    val accounts = Seq(10, 11).toDF("account_id")

    assert(Quality.unique(txns, Seq("transaction_id")).collect()
      .map(_.getAs[Long]("transaction_id")).toSet == Set(1L))
    assert(Quality.positive(txns, "amount").collect()
      .map(_.getAs[Long]("transaction_id")).toSet == Set(2L, 5L))
    assert(Quality.acceptedValues(txns, "txn_type",
      Seq("DEPOSIT", "WITHDRAWAL", "TRANSFER")).collect()
      .map(_.getAs[Long]("transaction_id")).toSet == Set(4L))
    assert(Quality.relationships(txns, "account_id", accounts, "account_id")
      .collect().map(_.getAs[Long]("transaction_id")).toSet == Set(3L))
    assert(Quality.notNull(txns, "amount").count() == 0)

    val summary = Quality.summary(Seq(
      "dup" -> Quality.unique(txns, Seq("transaction_id")),
      "pos" -> Quality.positive(txns, "amount")))
      .collect().map(r => r.getAs[String]("check_name") -> r.getAs[Long]("n_violations")).toMap
    assert(summary == Map("dup" -> 1L, "pos" -> 2L))
  }

  test("uniqueCurrent flags keys with two open SCD2 rows") {
    val dim = Seq(
      (1, ts("2024-01-01 00:00:00"), null.asInstanceOf[java.sql.Timestamp]),
      (1, ts("2024-01-02 00:00:00"), null.asInstanceOf[java.sql.Timestamp]),
      (2, ts("2024-01-01 00:00:00"), null.asInstanceOf[java.sql.Timestamp]))
      .toDF("account_id", "effective_from", "effective_to")
    assert(Quality.uniqueCurrent(dim, Seq("account_id")).collect()
      .map(_.getAs[Int]("account_id")).toSet == Set(1))
  }

  test("moneyStaging re-types wire doubles as exact cents; sums are order-independent") {
    import org.apache.spark.sql.types.DecimalType
    val df = Seq((1L, 10.10, 0.07), (2L, 0.01, 0.00), (3L, 99999999.99, 0.10))
      .toDF("id", "amount", "rate")
    val typed = Staging.moneyStaging(df, Seq("amount"), Seq("rate"))
    assert(typed.schema("amount").dataType == DecimalType(18, 2))
    assert(typed.schema("rate").dataType == DecimalType(4, 2))
    // the classic double-sum failure: 0.1+0.2 != 0.3 in IEEE; in cents it is
    val cents = Staging.moneyStaging(
      Seq(0.1, 0.2).toDF("amount"), Seq("amount"))
    assert(cents.agg(org.apache.spark.sql.functions.sum($"amount"))
      .head.getDecimal(0) == new java.math.BigDecimal("0.30"))
    // values survive the re-type exactly (2-dp doubles are exact in IEEE)
    assert(typed.filter($"id" === 3L).head.getDecimal(1) ==
      new java.math.BigDecimal("99999999.99"))
  }

  test("zscoreAnomalies surfaces only extreme groups") {
    val df = (Seq.fill(20)(("normal", 10.0)) :+ (("spike", 10000.0)))
      .zipWithIndex.map { case ((g, v), i) => (s"$g$i", v) }
      .toDF("grp", "value")
    val out = Quality.zscoreAnomalies(df, Seq("grp"), "value", k = 3.0).collect()
    assert(out.length == 1)
    assert(out.head.getAs[String]("grp").startsWith("spike"))
  }

  test("scd2Audit: flags every interval-chain violation, passes a valid history") {
    def t(s: String) = ts(s)
    val dim = Seq(
      // k1: valid contiguous history — no violations
      ("k1", t("2024-01-01 00:00:00"), Some(t("2024-01-02 00:00:00")), 1),
      ("k1", t("2024-01-02 00:00:00"), None, 2),
      // k2: overlap (second starts before first ends)
      ("k2", t("2024-01-01 00:00:00"), Some(t("2024-01-03 00:00:00")), 1),
      ("k2", t("2024-01-02 00:00:00"), None, 2),
      // k3: gap (a day of missing history)
      ("k3", t("2024-01-01 00:00:00"), Some(t("2024-01-02 00:00:00")), 1),
      ("k3", t("2024-01-03 00:00:00"), None, 2),
      // k4: two "current" rows — the earlier open interval flags
      ("k4", t("2024-01-01 00:00:00"), None, 1),
      ("k4", t("2024-01-02 00:00:00"), None, 2),
      // k5: zero and negative spans
      ("k5", t("2024-01-01 00:00:00"), Some(t("2024-01-01 00:00:00")), 1),
      ("k5", t("2024-01-02 00:00:00"), Some(t("2024-01-01 12:00:00")), 2)
    ).map { case (k, f, to, v) => (k, f, to.orNull, v) }
      .toDF("k", "effective_from", "effective_to", "version_n")
    val out = Quality.scd2Audit(dim, Seq("k"), "effective_from", "effective_to",
        orderCols = Seq("version_n"))
      .collect().map(r => (r.getString(0), r.getString(2))).toSet
    assert(out == Set(
      ("k2", "overlap"), ("k3", "gap"), ("k4", "open_interval_before_last"),
      ("k5", "zero_span"), ("k5", "negative_span")), out)
  }

  test("rankAgreement: monotone signals → ±1, ties averaged, constant → null") {
    val df = Seq(
      // g=up: y is a monotone transform of x → rho = 1
      ("up", 1L, 10L), ("up", 2L, 20L), ("up", 3L, 40L), ("up", 4L, 80L),
      // g=down: y reversed → rho = -1
      ("down", 1L, 9L), ("down", 2L, 7L), ("down", 3L, 5L), ("down", 4L, 1L),
      // g=tied: x = (1,2,2,4), y = (1,3,2,4); textbook Spearman with
      // average ranks: rx = (1, 2.5, 2.5, 4), ry = (1, 3, 2, 4) → rho =
      // cov/sd = 0.9486832980505138 → rounded 0.948683
      ("tied", 1L, 1L), ("tied", 2L, 3L), ("tied", 2L, 2L), ("tied", 4L, 4L),
      // g=flat: x constant → zero variance → NULL
      ("flat", 5L, 1L), ("flat", 5L, 2L), ("flat", 5L, 3L))
      .toDF("g", "x", "y")
    val out = Quality.rankAgreement(df, "g", "x", "y").collect()
      .map(r => r.getString(0) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(out("up").contains(1.0), out)
    assert(out("down").contains(-1.0), out)
    assert(out("tied").contains(0.948683), out)
    assert(out("flat").isEmpty, out)
  }

  test("kAnonymity: group sizes, suppression, salted stable pseudonyms") {
    val df = Seq(
      (1L, "US", "A"), (2L, "US", "A"), (3L, "US", "A"),
      (4L, "US", "B"), (5L, "FR", "A"))
      .toDF("id", "country", "seg")
    val out = Quality.kAnonymity(df, "id", Seq("country", "seg"),
      k = 2, salt = "s1")
    val rows = out.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getBoolean(4)))
    assert(rows.count(r => r._2 == "US" && r._3 == "A" &&
      r._4 == 3L && !r._5) == 3)
    assert(rows.count(r => r._4 == 1L && r._5) == 2) // (US,B) and (FR,A)
    // pseudonym is the salted hash — stable across runs, ≠ the raw id,
    // and a different salt produces a disjoint pseudonym set
    val p1 = out.select("pseud_id").collect().map(_.getString(0)).toSet
    val p2 = Quality.kAnonymity(df, "id", Seq("country", "seg"), 2, "s1")
      .select("pseud_id").collect().map(_.getString(0)).toSet
    val p3 = Quality.kAnonymity(df, "id", Seq("country", "seg"), 2, "s2")
      .select("pseud_id").collect().map(_.getString(0)).toSet
    assert(p1 == p2 && p1.intersect(p3).isEmpty)
    assert(!p1.exists(Set("1", "2", "3", "4", "5")))
  }

  test("sequenceGaps: missing ranges named exactly; duplicates and nulls are not gaps") {
    val led = Seq(
      ("a", Some(1L)), ("a", Some(2L)), ("a", Some(5L)),   // gap 3..4
      ("a", Some(5L)), ("a", Some(9L)),                    // dup 5; gap 6..8
      ("b", Some(10L)), ("b", Some(11L)),                  // contiguous
      ("b", None))                                          // null excluded
      .toDF("k", "seq")
    val out = Quality.sequenceGaps(led, Seq("k"), "seq")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(out == Set(("a", 3L, 4L, 2L), ("a", 6L, 8L, 3L)), out)
  }

  test("fdViolations: only determinants with >1 distinct dependent; null asserts nothing") {
    val df = Seq(
      ("acc1", Some("branchA")), ("acc1", Some("branchA")),
      ("acc2", Some("branchA")), ("acc2", Some("branchB")), // violation
      ("acc3", Some("branchC")), ("acc3", None))            // consistent
      .toDF("acct", "branch")
    val out = Quality.fdViolations(df, Seq("acct"), "branch")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq(("acc2", 2L, 2L)), out.mkString(","))
  }

  test("lDiversity: homogeneous groups flagged despite size; nulls don't count") {
    val df = Seq(
      // big but homogeneous: k-anonymous, NOT 2-diverse
      (1L, "US", "A", "cancer"), (2L, "US", "A", "cancer"),
      (3L, "US", "A", "cancer"), (4L, "US", "A", "cancer"),
      // small but diverse
      (5L, "FR", "B", "flu"), (6L, "FR", "B", "cold"),
      // null sensitive value is not a diversity value
      (7L, "DE", "C", "flu"), (8L, "DE", "C", null))
      .toDF("id", "country", "seg", "dx")
    val out = Quality.lDiversity(df, Seq("country", "seg"), "dx", l = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(out(("US", "A")) == ((4L, 1L, false)), out)
    assert(out(("FR", "B")) == ((2L, 2L, true)), out)
    assert(out(("DE", "C")) == ((2L, 1L, false)), out)
  }

  test("gini: 0 for equal shares, (n-1)/n for a single holder, NULL for non-positive totals") {
    val df = Seq(
      ("even", 1L, 100L), ("even", 2L, 100L), ("even", 3L, 100L),
      ("even", 4L, 100L),
      ("onehot", 1L, 0L), ("onehot", 2L, 0L), ("onehot", 3L, 0L),
      ("onehot", 4L, 400L),
      ("neg", 1L, -5L), ("neg", 2L, 5L))
      .toDF("g", "k", "cents")
    val out = Quality.gini(df, "g", "k", "cents").collect()
      .map(r => r.getString(0) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(out("even").contains(0.0), out)
    assert(out("onehot").contains(0.75), out) // (n-1)/n with n=4
    assert(out("neg").isEmpty, out)
  }

  test("dailyTrend fits exact OLS over observed days; single-day streams → NULL") {
    // stream "lin": counts 2,4,6 on days 0,1,2 → slope 2, intercept 2;
    // a gap day (no events) is simply not observed
    val rows =
      (1 to 2).map(i => ("lin", ts("2024-01-01 00:00:00"), i.toLong)) ++
      (1 to 4).map(i => ("lin", ts("2024-01-02 08:00:00"), i.toLong)) ++
      (1 to 6).map(i => ("lin", ts("2024-01-03 23:59:59"), i.toLong)) ++
      Seq(("single", ts("2024-01-05 12:00:00"), 1L))
    val out = Quality.dailyTrend(rows.toDF("stream", "ts", "n"),
        "stream", "ts").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("lin").getLong(1) == 3L)
    assert(out("lin").getDouble(2) == 2.0)
    assert(out("lin").getDouble(3) == 2.0)
    assert(out("single").isNullAt(2) && out("single").isNullAt(3))
  }

  test("latenessProfile measures out-of-order depth against the running max") {
    // arrival order a=1..6; event times: the 4th arrival is 120 s behind
    // the max already seen, the 6th is 30 s behind; the rest in order
    val df = Seq(
      (1L, "2024-01-01 10:00:00"), (2L, "2024-01-01 10:01:00"),
      (3L, "2024-01-01 10:04:00"), (4L, "2024-01-01 10:02:00"),
      (5L, "2024-01-01 10:05:00"), (6L, "2024-01-01 10:04:30"))
      .map { case (a, t) => ("s", a, ts(t)) }.toDF("stream", "arr", "ts")
    val r = Quality.latenessProfile(df, "stream", "arr", "ts", pct = 99).head()
    assert(r.getLong(1) == 6L)   // n_events
    assert(r.getLong(2) == 2L)   // n_late
    assert(r.getLong(3) == 120L) // max_late_s
    assert(r.getLong(4) == 120L) // p99 over {0,0,0,0,30,120}: ceil(.99·6)=6th
    // p50 lands on the all-in-order mass
    val p50 = Quality.latenessProfile(df, "stream", "arr", "ts", pct = 50)
      .head().getLong(4)
    assert(p50 == 0L)
  }
}
