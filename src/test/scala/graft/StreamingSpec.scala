package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.cdc.Envelope
import graft.model.Schemas
import graft.streaming.{CdcStream, MultiTableStream, StatefulOps}

/** End-to-end golden flow (SURVEY.md §5.3): Debezium-envelope JSON files →
  * streaming Bronze sink (`CdcStream.routeToBronze`) → the gold sink
  * (`MultiTableStream`) as a keyed upsert and as SCD2 over two epochs.
  * Exercises checkpointing, exactly-once sinks, and replay idempotence.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("streaming corpus assembly dedups by content across micro-batches, first id wins") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val in = tmpDir("corpus-in"); val sink = tmpDir("corpus-sink") + "/t"
    val ckpt = tmpDir("corpus-ckpt")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val longText = (1 to 40).map(i => s"tok$i").mkString(" ")
    Files.writeString(Paths.get(s"$in/b1.json"), Seq(
      s"""{"doc_id":1,"text":"$longText"}""",
      s"""{"doc_id":2,"text":"too short"}""").mkString("\n"))
    val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(in)
    val q = graft.pipelines.CorpusPipeline.streamAssemble(
      stream, sink, ckpt, "doc_id", "text", trigger = Trigger.ProcessingTime(0))
    q.processAllAvailable()
    // batch 2: doc 1's content re-crawled under a NEW id + one fresh doc
    val longText2 = (1 to 35).map(i => s"new$i").mkString(" ")
    Files.writeString(Paths.get(s"$in/b2.json"), Seq(
      s"""{"doc_id":9,"text":"$longText"}""",
      s"""{"doc_id":5,"text":"$longText2"}""").mkString("\n"))
    q.processAllAvailable(); q.stop()
    val out = graft.pipelines.CorpusPipeline.readAssembled(spark, sink)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // dup content collapsed to its first-seen id; the short doc never landed
    assert(out == Set(1L, 5L))
  }

  private def envelope(id: Int, balance: Double, opCode: String, tsStr: String, lsn: Long): String =
    s"""{"payload":{"before":null,"after":{"id":$id,"customer_id":1,"account_type":"SAVINGS","balance":$balance,"currency":"USD","created_at":"$tsStr"},"source":{"table":"accounts","lsn":$lsn,"ts_ms":$lsn},"op":"$opCode","ts_ms":$lsn}}"""

  /** Real Debezium delete shape: after is null, the row image is in before. */
  private def deleteEnvelope(id: Int, tsStr: String, lsn: Long): String =
    s"""{"payload":{"before":{"id":$id,"customer_id":1,"account_type":"SAVINGS","balance":0.0,"currency":"USD","created_at":"$tsStr"},"after":null,"source":{"table":"accounts","lsn":$lsn,"ts_ms":$lsn},"op":"d","ts_ms":$lsn}}"""

  test("file-source CDC stream lands date-partitioned Bronze exactly once") {
    val in = tmpDir("cdc-in"); val bronze = tmpDir("bronze"); val ckpt = tmpDir("ckpt")
    Files.writeString(Paths.get(s"$in/batch1.json"),
      Seq(
        envelope(1, 100.0, "c", "2024-01-01T10:00:00Z", 1),
        envelope(2, 50.0, "c", "2024-01-02T10:00:00Z", 2)).mkString("\n"))
    // a single-table bronze stream is the routed sink with one topic
    def start() = CdcStream.routeToBronze(
      CdcStream.fromJsonFiles(spark, in, Schemas.accounts)
        .drop(Envelope.CorruptCol).withColumn("topic", lit("accounts")),
      Map("accounts" -> bronze), ckpt, trigger = Trigger.ProcessingTime(0))
    val q = start()
    q.processAllAvailable()
    // second epoch: update account 1
    Files.writeString(Paths.get(s"$in/batch2.json"),
      envelope(1, 999.0, "u", "2024-01-03T10:00:00Z", 3))
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(bronze)
    assert(out.count() == 3)
    // Hive-style ingest_date partitions exist
    assert(out.select("ingest_date").distinct().count() == 3)
    // restart with same checkpoint: no duplicates (exactly-once)
    val q2 = start()
    q2.processAllAvailable(); q2.stop()
    assert(spark.read.parquet(bronze).count() == 3)
  }

  /** The gold sink over one table: the accounts stream on one route. */
  private def accountsGold(in: String, root: String, ckpt: String,
                           dims: Seq[MultiTableStream.Scd2Dim] = Nil,
                           facts: Seq[MultiTableStream.UpsertFact] = Nil) =
    MultiTableStream.start(
      CdcStream.fromJsonFiles(spark, in, Schemas.accounts, maxFilesPerTrigger = 1)
        .drop(Envelope.CorruptCol).withColumn("route", lit("accounts")),
      root, ckpt, "route", dims, facts, trigger = Trigger.ProcessingTime(0))

  private def balances(df: org.apache.spark.sql.DataFrame): Map[Int, Double] =
    df.collect().map(r => r.getAs[Int]("id") -> r.getAs[Double]("balance")).toMap

  test("streaming keyed upsert maintains latest-wins gold table across batches") {
    val in = tmpDir("ups-in"); val root = tmpDir("gold") + "/r"; val ckpt = tmpDir("ups-ckpt")
    Files.writeString(Paths.get(s"$in/b1.json"),
      Seq(
        envelope(1, 100.0, "c", "2024-01-01T10:00:00Z", 1),
        envelope(1, 150.0, "u", "2024-01-01T11:00:00Z", 2),
        envelope(2, 50.0, "c", "2024-01-01T10:30:00Z", 3)).mkString("\n"))
    val q = accountsGold(in, root, ckpt, facts = Seq(MultiTableStream.UpsertFact(
      "accounts", "accounts", keys = Seq("id"), orderCols = Seq("ts_ms"))))
    q.processAllAvailable()
    Files.writeString(Paths.get(s"$in/b2.json"),
      envelope(2, 75.0, "u", "2024-01-01T12:00:00Z", 4))
    q.processAllAvailable()
    q.stop()
    val out = balances(MultiTableStream.readCommitted(spark, root)("accounts"))
    assert(out == Map(1 -> 150.0, 2 -> 75.0))
  }

  test("streaming snapshot-publish upsert: pointer flips per batch, tombstones honored") {
    val in = tmpDir("snapup-in"); val root = tmpDir("snapup") + "/r"
    val ckpt = tmpDir("snapup-ckpt")
    Files.writeString(Paths.get(s"$in/b1.json"),
      Seq(
        envelope(1, 100.0, "c", "2024-01-01T10:00:00Z", 1),
        envelope(2, 50.0, "c", "2024-01-01T10:30:00Z", 2)).mkString("\n"))
    val q = accountsGold(in, root, ckpt, facts = Seq(MultiTableStream.UpsertFact(
      "accounts", "accounts", keys = Seq("id"), orderCols = Seq("ts_ms"),
      opCol = Some("op"))))
    q.processAllAvailable()
    def version = graft.gold.MultiSnapshot.currentCommit(spark, root).map(_.version)
    assert(version.contains(1L))
    // batch 2: update key 1, tombstone key 2 (the delete's before-image
    // carries the key)
    Files.writeString(Paths.get(s"$in/b2.json"),
      Seq(
        envelope(1, 999.0, "u", "2024-01-01T12:00:00Z", 3),
        deleteEnvelope(2, "2024-01-01T10:30:00Z", 4)).mkString("\n"))
    q.processAllAvailable()
    q.stop()
    assert(version.contains(2L), "each batch commits a new coordinator version")
    val out = balances(MultiTableStream.readCommitted(spark, root)("accounts"))
    assert(out == Map(1 -> 999.0), out.toString)
  }

  test("streaming SCD2 maintains versioned snapshot across micro-batches") {
    val in = tmpDir("scd-in"); val root = tmpDir("scd") + "/r"; val ckpt = tmpDir("scd-ckpt")
    Files.writeString(Paths.get(s"$in/b1.json"),
      Seq(
        envelope(1, 100.0, "c", "2024-01-01T10:00:00Z", 1),
        envelope(2, 50.0, "c", "2024-01-01T10:00:00Z", 2)).mkString("\n"))
    val q = accountsGold(in, root, ckpt, dims = Seq(MultiTableStream.Scd2Dim(
      "accounts", "accounts", keys = Seq("id"),
      checkCols = Seq("customer_id", "account_type", "balance"),
      tsCol = "created_at", project = _.drop("op", "ts_ms"))))
    q.processAllAvailable()
    Files.writeString(Paths.get(s"$in/b2.json"),
      envelope(1, 999.0, "u", "2024-01-02T10:00:00Z", 3))
    q.processAllAvailable(); q.stop()
    val out = MultiTableStream.readCommitted(spark, root)("accounts")
    assert(out.count() == 3)  // 2 current + 1 closed history row
    assert(balances(out.filter(col("effective_to").isNull)) == Map(1 -> 999.0, 2 -> 50.0))
    val closed = out.filter(col("effective_to").isNotNull).head()
    assert(closed.getAs[Int]("id") == 1 && closed.getAs[Double]("balance") == 100.0)
  }

  test("dedupStream drops replays within the watermark window") {
    val in = tmpDir("dd-in")
    Files.writeString(Paths.get(s"$in/b1.json"),
      Seq(
        """{"id":1,"v":10.0,"ts":"2024-01-01T10:00:00Z"}""",
        """{"id":1,"v":10.0,"ts":"2024-01-01T10:00:30Z"}""",
        """{"id":2,"v":20.0,"ts":"2024-01-01T10:01:00Z"}""").mkString("\n"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType)))
    val stream = spark.readStream.schema(schema).json(in)
    val q = CdcStream.dedupStream(stream, Seq("id"), "ts", "10 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("dd_out")
      .trigger(Trigger.ProcessingTime(0)).start()
    q.processAllAvailable(); q.stop()
    val out = spark.sql("SELECT id FROM dd_out").collect().map(_.getLong(0)).sorted
    assert(out.toSeq == Seq(1L, 2L))
  }

  test("flatMapGroupsWithState keeps per-key latest and emits only changes") {
    val in = tmpDir("state-in")
    Files.writeString(Paths.get(s"$in/b1.json"),
      Seq(
        """{"key":1,"version":1,"value":10.0}""",
        """{"key":1,"version":2,"value":20.0}""",
        """{"key":2,"version":5,"value":50.0}""").mkString("\n"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("key", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("version", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(in)
    val q = StatefulOps.latestByKeyDf(stream, "key", "version", "value")
      .writeStream.outputMode("append")
      .format("memory").queryName("state_out")
      .trigger(Trigger.ProcessingTime(0)).start()
    q.processAllAvailable()
    // batch 2: a replay (stale version 1) and a real update
    Files.writeString(Paths.get(s"$in/b2.json"),
      Seq(
        """{"key":1,"version":1,"value":10.0}""",
        """{"key":2,"version":6,"value":60.0}""").mkString("\n"))
    q.processAllAvailable(); q.stop()
    val out = spark.sql("SELECT * FROM state_out").collect()
      .map(r => (r.getAs[Long]("key"), r.getAs[Long]("version"),
        r.getAs[String]("change"))).toSet
    // batch1 emits inserts with the per-batch winners; batch2: replay of
    // key 1 emits nothing, key 2 emits one update
    assert(out == Set((1L, 2L, "insert"), (2L, 5L, "insert"), (2L, 6L, "update")))
  }

  test("Kafka-shaped envelope stream via MemoryStream: create, delete, corrupt") {
    // the post-source plan of CdcStream.fromKafka — a string `value` column
    // into Envelope.parse — driven through an in-memory streaming source,
    // closing SURVEY §2 row 2 without a broker
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[String]
    val parsed = Envelope.parse(ms.toDF(), "value", Schemas.accounts)
    val q = parsed.writeStream.outputMode("append")
      .format("memory").queryName("kafka_shape")
      .trigger(Trigger.ProcessingTime(0)).start()
    ms.addData(
      envelope(7, 120.0, "c", "2024-01-01T10:00:00Z", 10),
      deleteEnvelope(7, "2024-01-01T10:00:00Z", 11),
      """{"payload": not-even-json""")
    q.processAllAvailable(); q.stop()
    val rows = spark.sql("SELECT * FROM kafka_shape").collect()
    assert(rows.length == 3)
    val create = rows.find(r => r.getAs[String]("op") == "c").get
    assert(create.getAs[Int]("id") == 7 && create.getAs[Double]("balance") == 120.0)
    // delete keeps its key via the before-image fallback
    val del = rows.find(r => r.getAs[String]("op") == "d").get
    assert(del.getAs[Int]("id") == 7)
    // corrupt record quarantined, not dropped and not fatal
    assert(rows.count(_.getAs[String](Envelope.CorruptCol) != null) == 1)
  }

  test("multi-topic routing: one stream, three topics, three bronze tables; replay rewrites, not duplicates") {
    // the full consumer shape (one subscription, N destination tables) on
    // fromKafkaRouted's post-source plan: (topic, value) rows through
    // Envelope.parse with topic passthrough, then routeToBronze
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val routes = Seq("t_accounts", "t_cards", "t_loans")
      .map(t => t -> (tmpDir(s"route-$t") + "/bronze")).toMap
    val ckpt = tmpDir("route-ckpt")

    def runAll(checkpoint: String): Unit = {
      val ms = MemoryStream[(String, String)]
      val parsed = Envelope.parse(
        ms.toDF().toDF("topic", "value"), "value", Schemas.accounts,
        passthrough = Seq("topic"))
      val q = CdcStream.routeToBronze(parsed, routes, checkpoint,
        trigger = Trigger.ProcessingTime(0))
      ms.addData(
        ("t_accounts", envelope(1, 10.0, "c", "2024-01-01T10:00:00Z", 1)),
        ("t_accounts", envelope(2, 20.0, "c", "2024-01-01T11:00:00Z", 2)),
        ("t_cards",    envelope(31, 30.0, "c", "2024-01-02T09:00:00Z", 3)))
      q.processAllAvailable()
      ms.addData(
        ("t_cards", envelope(32, 40.0, "c", "2024-01-02T10:00:00Z", 4)),
        ("t_loans", envelope(61, 50.0, "c", "2024-01-03T08:00:00Z", 5)))
      q.processAllAvailable(); q.stop()
    }
    runAll(ckpt)

    def ids(path: String): Set[Int] =
      spark.read.parquet(path).select("id").collect().map(_.getInt(0)).toSet
    assert(ids(routes("t_accounts")) == Set(1, 2))
    assert(ids(routes("t_cards")) == Set(31, 32))
    assert(ids(routes("t_loans")) == Set(61))
    // rows route by topic, and the date partitioning is intact per table
    val cards = spark.read.parquet(routes("t_cards"))
    assert(cards.select(graft.bronze.Bronze.PartitionCol).distinct().count() == 1)

    // replay idempotence: wipe the checkpoint and re-consume EVERYTHING —
    // the batch-keyed dirs are overwritten, so tables end up identical
    runAll(tmpDir("route-ckpt2"))
    assert(ids(routes("t_accounts")) == Set(1, 2))
    assert(ids(routes("t_cards")) == Set(31, 32))
    assert(ids(routes("t_loans")) == Set(61))
  }

  test("stream-stream interval join matches events within tolerance, bounded state") {
    val inL = tmpDir("ssj-l"); val inR = tmpDir("ssj-r")
    val schemaL = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("acct", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("amt", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType)))
    val schemaR = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("acct", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("flag", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType)))
    Files.writeString(Paths.get(s"$inL/a.json"), Seq(
      """{"acct":1,"amt":100.0,"ts":"2024-01-01T10:00:00Z"}""",
      """{"acct":2,"amt":50.0,"ts":"2024-01-01T10:00:00Z"}""").mkString("\n"))
    Files.writeString(Paths.get(s"$inR/b.json"), Seq(
      """{"acct":1,"flag":"review","ts":"2024-01-01T10:05:00Z"}""",
      """{"acct":2,"flag":"late","ts":"2024-01-01T11:00:00Z"}""").mkString("\n"))
    val joined = CdcStream.intervalJoin(
      spark.readStream.schema(schemaL).json(inL),
      spark.readStream.schema(schemaR).json(inR),
      "acct", "ts", "ts", tolerance = "10 minutes")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj_out")
      .trigger(Trigger.ProcessingTime(0)).start()
    q.processAllAvailable(); q.stop()
    val out = spark.sql("SELECT l_acct, r_flag FROM ssj_out").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // acct 1 joins within 5 min; acct 2's flag is 60 min late → no match
    assert(out.toSeq == Seq((1L, "review")))
  }

  test("windowed aggregation with watermark over the events table (batch-check)") {
    // batch DataFrames accept the same plan: verifies shape + column names
    val agg = CdcStream.windowedAgg(
      Tables.events(spark, "/root/testdata/sf0.001"),
      "ts", "event_type", "value", windowDur = "1 hour")
    val rows = agg.collect()
    assert(rows.nonEmpty)
    assert(agg.columns.toSeq == Seq("window_start", "window_end", "event_type",
      "n_events", "total_value"))
  }

  test("streaming windowed agg emits finalized windows under watermark") {
    val in = tmpDir("win-in")
    Files.writeString(Paths.get(s"$in/e1.json"),
      Seq(
        """{"user_id":1,"event_type":"click","value":1.0,"ts":"2024-01-01T10:05:00Z"}""",
        """{"user_id":2,"event_type":"click","value":2.0,"ts":"2024-01-01T10:20:00Z"}""",
        """{"user_id":3,"event_type":"click","value":4.0,"ts":"2024-01-01T13:00:00Z"}""").mkString("\n"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType)))
    val stream = spark.readStream.schema(schema).json(in)
    val agg = CdcStream.windowedAgg(stream, "ts", "event_type", "value", "1 hour", "10 minutes")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("win_out")
      .trigger(Trigger.ProcessingTime(0)).start()
    q.processAllAvailable(); q.stop()
    // the 10:00 window is older than watermark (13:00 - 10min) → finalized
    val out = spark.sql("SELECT * FROM win_out").collect()
    assert(out.exists(r => r.getAs[Long]("n_events") == 2L))
  }
}
