package graft

import org.apache.spark.sql.functions._
import graft.cdc.Envelope
import graft.gold.{Marts, Scd2Merge, UpsertByKey}
import graft.model.Schemas
import graft.silver.{Quality, Staging}

/** Golden end-to-end batch flow (SURVEY.md §5.3): envelope JSON → Bronze →
  * staging dedup → SCD2 snapshot over two epochs → dims + fact → DQ suite
  * green. The banking shape of FIXTURES.md §A, in miniature.
  */
class GoldenFlowSpec extends SparkSpec {
  import spark.implicits._

  private def accountEnv(id: Int, cust: Int, bal: Double, created: String, lsn: Long): String =
    s"""{"payload":{"before":null,"after":{"id":$id,"customer_id":$cust,"account_type":"SAVINGS","balance":$bal,"currency":"USD","created_at":"$created"},"source":{"table":"accounts","lsn":$lsn,"ts_ms":$lsn},"op":"c","ts_ms":$lsn}}"""
  private def txnEnv(id: Long, acct: Int, amt: Double, created: String, lsn: Long): String =
    s"""{"payload":{"before":null,"after":{"id":$id,"account_id":$acct,"txn_type":"DEPOSIT","amount":$amt,"related_account_id":null,"status":"COMPLETED","created_at":"$created"},"source":{"table":"transactions","lsn":$lsn,"ts_ms":$lsn},"op":"c","ts_ms":$lsn}}"""

  test("streaming medallion flow: partitioned bronze + base+delta gold with tombstones") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.{CdcStream, MultiTableStream}
    val in = tmpDir("gf2-in")
    val bronze = tmpDir("gf2-bronze") + "/raw"; val ckptB = tmpDir("gf2-ckb")
    val gold = tmpDir("gf2-gold") + "/r"; val ckptG = tmpDir("gf2-ckg")
    def deleteEnv(id: Int, created: String, lsn: Long): String =
      s"""{"payload":{"before":{"id":$id,"customer_id":1,"account_type":"SAVINGS","balance":0.0,"currency":"USD","created_at":"$created"},"after":null,"source":{"table":"accounts","lsn":$lsn,"ts_ms":$lsn},"op":"d","ts_ms":$lsn}}"""
    // epoch 1: creates, a replayed event, and a corrupt line
    Files.writeString(Paths.get(s"$in/b1.json"), Seq(
      accountEnv(10, 1, 100.0, "2024-01-01T00:00:00Z", 1),
      accountEnv(10, 1, 100.0, "2024-01-01T00:00:00Z", 1),
      accountEnv(11, 1, 50.0, "2024-01-02T00:00:00Z", 2),
      """{"payload": {"after": {"id": broken""").mkString("\n"))
    def parsed() = CdcStream.fromJsonFiles(spark, in, Schemas.accounts)
      .withColumn("topic", lit("accounts"))
    val qB = CdcStream.routeToBronze(
      parsed().filter(col(Envelope.CorruptCol).isNull).drop(Envelope.CorruptCol),
      Map("accounts" -> bronze), ckptB, trigger = Trigger.ProcessingTime(0))
    val fact = MultiTableStream.DeltaFact("accounts", "accounts",
      keys = Seq("id"), orderCols = Seq("ts_ms"), opCol = Some("op"),
      maxDeltas = 1)
    val qG = MultiTableStream.start(parsed().drop(Envelope.CorruptCol), gold,
      ckptG, "topic", Seq.empty, Seq.empty, Seq(fact),
      trigger = Trigger.ProcessingTime(0))
    qB.processAllAvailable(); qG.processAllAvailable()
    // epoch 2: update 10, tombstone 11
    Files.writeString(Paths.get(s"$in/b2.json"), Seq(
      accountEnv(10, 1, 999.0, "2024-01-01T00:00:00Z", 3),
      deleteEnv(11, "2024-01-02T00:00:00Z", 4)).mkString("\n"))
    qB.processAllAvailable(); qG.processAllAvailable()
    qB.stop(); qG.stop()
    // bronze: date-partitioned, corrupt row quarantined (not landed)
    val rawOut = spark.read.parquet(bronze)
    assert(rawOut.count() == 5)  // 3 + replay lands in raw (immutable log) + delete
    assert(rawOut.select("ingest_date").distinct().count() == 2)
    // gold (merge-on-read): replay collapsed, tombstone removed key 11,
    // the corrupt row's null key never became a junk row
    val current = MultiTableStream.readCommitted(spark, gold, Seq(fact))("accounts")
    val out = current.collect()
      .map(r => r.getAs[Int]("id") -> r.getAs[Double]("balance")).toMap
    assert(out == Map(10 -> 999.0))
    // DQ over the maintained gold table: key uniqueness green
    assert(Quality.unique(current, Seq("id")).count() == 0)
  }

  test("two-epoch medallion flow with SCD2 versioning and green DQ suite") {
    // ── epoch 1: bronze ingest (with a duplicate CDC replay) ──
    val e1 = Seq(
      accountEnv(10, 1, 100.0, "2024-01-01T00:00:00Z", 1),
      accountEnv(10, 1, 100.0, "2024-01-01T00:00:00Z", 1),   // replayed event
      accountEnv(11, 1, 50.0, "2024-01-01T00:00:00Z", 2)).toDF("value")
    val (acctClean1, bad1) = Envelope.quarantine(
      Envelope.parse(e1, "value", Schemas.accounts))
    assert(bad1.count() == 0)
    val staged1 = Staging.dedupLatest(
      Envelope.afterImages(acctClean1, "id"),
      Seq("id"), Seq($"created_at".desc, $"ts_ms".desc))
    assert(staged1.count() == 2)

    var snapshot = Scd2Merge(
      Scd2Merge.emptySnapshot(staged1.drop("op", "ts_ms")),
      staged1.drop("op", "ts_ms"),
      Seq("id"), Seq("customer_id", "account_type", "balance"),
      ts("2024-01-01 06:00:00"))

    // ── epoch 2: balance change on account 10 → new SCD2 version ──
    val e2 = Seq(accountEnv(10, 1, 999.0, "2024-01-02T00:00:00Z", 3)).toDF("value")
    val staged2 = Staging.dedupLatest(
      Envelope.afterImages(Envelope.quarantine(
        Envelope.parse(e2, "value", Schemas.accounts))._1, "id"),
      Seq("id"), Seq($"created_at".desc, $"ts_ms".desc))
    snapshot = Scd2Merge(snapshot, staged2.drop("op", "ts_ms"),
      Seq("id"), Seq("customer_id", "account_type", "balance"),
      ts("2024-01-02 06:00:00"))

    val dimAccounts = Scd2Merge.toDim(snapshot)
      .withColumnRenamed("id", "account_id")
    assert(dimAccounts.count() == 3)
    assert(dimAccounts.filter($"is_current").count() == 2)
    assert(dimAccounts.filter($"account_id" === 10 && $"is_current")
      .head().getAs[Double]("balance") == 999.0)

    // ── fact: transactions upserted by key, enriched via current dim ──
    val txns = Envelope.afterImages(Envelope.quarantine(Envelope.parse(
      Seq(
        txnEnv(100L, 10, 25.0, "2024-01-02T01:00:00Z", 10),
        txnEnv(100L, 10, 25.0, "2024-01-02T01:00:00Z", 10),  // replay
        txnEnv(101L, 11, 40.0, "2024-01-02T02:00:00Z", 11)).toDF("value"),
      "value", Schemas.transactions))._1, "id")
    val fact = UpsertByKey(
      txns.limit(0), txns, Seq("id"), Seq($"created_at".desc, $"ts_ms".desc))
      .withColumnRenamed("id", "transaction_id")
      .withColumnRenamed("account_id", "fact_account_id")
    assert(fact.count() == 2)

    val enriched = Marts.enrichCurrent(
      fact.withColumnRenamed("fact_account_id", "account_id"),
      dimAccounts.select("account_id", "customer_id", "is_current"),
      Seq("account_id"))
    assert(enriched.count() == 2)
    assert(enriched.filter($"customer_id" === 1).count() == 2)

    // ── DQ suite: all checks green (dbt-test semantics: zero rows) ──
    val checks = Seq(
      Quality.unique(fact, Seq("transaction_id")),
      Quality.notNull(fact, "amount"),
      Quality.positive(fact, "amount"),
      Quality.acceptedValues(fact, "txn_type", Seq("DEPOSIT", "WITHDRAWAL", "TRANSFER")),
      Quality.relationships(
        fact.withColumnRenamed("fact_account_id", "account_id"), "account_id",
        dimAccounts.filter($"is_current"), "account_id"),
      Quality.uniqueCurrent(snapshot, Seq("id")))
    checks.zipWithIndex.foreach { case (c, i) =>
      assert(c.count() == 0, s"DQ check $i flagged rows")
    }

    // ── publish the dim via the object-store-safe pointer protocol and
    //    re-publish after the epoch-2 merge: readers flip atomically ──
    val dimPath = tmpDir("gf-dim") + "/dim_accounts"
    graft.gold.SnapshotStore.publish(dimAccounts, dimPath)
    val published = graft.gold.SnapshotStore.read(spark, dimPath)
    assert(published.count() == 3)
    assert(published.filter($"is_current").count() == 2)
    graft.gold.SnapshotStore.publish(dimAccounts.filter($"is_current"), dimPath)
    assert(graft.gold.SnapshotStore.read(spark, dimPath).count() == 2)
  }
}
