package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured-Streaming entry points (SURVEY.md §2.7).
  *
  * The reference's continuous path is Kafka → consumer → micro-batched
  * Parquet (consumer/kafka_to_minio.py) on an at-least-once contract with
  * per-account ordering (readme.md:74-82, 127-132). Spark collapses the
  * whole chain into one checkpointed `StreamingQuery` — exactly-once to
  * file sinks, strictly stronger than the reference — while the downstream
  * dedup/merge operators stay, because the *pipeline contract* is
  * at-least-once input.
  *
  * `fromJsonFiles` is the offline-testable source shape; `fromKafka` is the
  * production shape (same downstream plan — the source is the only
  * difference, which is the point of declaring the plan).
  */
object CdcStream {

  /** File-based stream of Debezium-envelope JSON lines (offline tests /
    * object-store landing zones).
    */
  def fromJsonFiles(spark: SparkSession, path: String, afterSchema: StructType,
                    maxFilesPerTrigger: Int = 16): DataFrame = {
    val raw = spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .text(path)
    graft.cdc.Envelope.parse(raw, "value", afterSchema)
  }

  /** The EXACT source options [[fromKafka]]/[[fromKafkaRouted]] set —
    * exposed so the wiring is spec-pinned without a broker (reference
    * contract: consumer/kafka_to_minio.py:15-24 — one subscription over
    * all CDC topics, read from earliest, bounded records per poll).
    * `maxOffsetsPerTrigger` is the count-based micro-batching bound
    * (SURVEY §2 row 4).
    */
  def kafkaSourceOptions(bootstrap: String, topics: Seq[String],
                         maxOffsetsPerTrigger: Option[Long] = None): Map[String, String] =
    Map(
      "kafka.bootstrap.servers" -> bootstrap,
      "subscribe" -> topics.mkString(","),
      "startingOffsets" -> "earliest") ++
      maxOffsetsPerTrigger.map(n => "maxOffsetsPerTrigger" -> n.toString)

  /** The post-source plan both Kafka entry points apply to the raw
    * record frame (Kafka's fixed output schema: binary key/value +
    * topic/partition/offset/timestamp): cast the value bytes to string,
    * parse the Debezium envelope, and (routed form) carry the source
    * `topic` through for [[routeToBronze]]. Batch-callable, so the spec
    * drives the exact production decode against synthetic Kafka-shaped
    * records — after this function the only untested hop IS the broker.
    */
  def decodeKafka(raw: DataFrame, afterSchema: StructType,
                  routed: Boolean): DataFrame =
    if (routed)
      graft.cdc.Envelope.parse(
        raw.select(col("topic"), col("value").cast("string").as("value")),
        "value", afterSchema, passthrough = Seq("topic"))
    else
      graft.cdc.Envelope.parse(
        raw.select(col("value").cast("string").as("value")),
        "value", afterSchema)

  /** Kafka multi-topic CDC source (SURVEY.md §2 row 2): production shape.
    * No broker in the harness, but the wiring is spec-pinned piecewise:
    * [[kafkaSourceOptions]] (the subscription) and [[decodeKafka]] (the
    * record decode) are exactly what this composes around `load()`.
    */
  def fromKafka(spark: SparkSession, bootstrap: String, topics: Seq[String],
                afterSchema: StructType,
                maxOffsetsPerTrigger: Option[Long] = None): DataFrame =
    decodeKafka(
      spark.readStream.format("kafka")
        .options(kafkaSourceOptions(bootstrap, topics, maxOffsetsPerTrigger))
        .load(),
      afterSchema, routed = false)

  /** Multi-topic production shape WITH per-topic routing: one Kafka
    * subscription over all `topics`, the parsed frame carrying the source
    * `topic` column — the consumer's actual shape (one consumer, three
    * topics, three destination tables; reference
    * consumer/kafka_to_minio.py:54-75). Feed the result to
    * [[routeToBronze]]. The single subscription matters at scale: one
    * consumer group, one offset checkpoint, one source admission loop —
    * not N independent streams competing for trigger capacity.
    */
  def fromKafkaRouted(spark: SparkSession, bootstrap: String, topics: Seq[String],
                      afterSchema: StructType,
                      maxOffsetsPerTrigger: Option[Long] = None): DataFrame =
    decodeKafka(
      spark.readStream.format("kafka")
        .options(kafkaSourceOptions(bootstrap, topics, maxOffsetsPerTrigger))
        .load(),
      afterSchema, routed = true)

  /** Route one multi-topic CDC stream into one bronze table per topic —
    * the downstream half of [[fromKafkaRouted]]. Per micro-batch, the
    * (cached) batch splits by topic and each split lands date-partitioned
    * under `<route>/batch=<id>`: the batch-keyed directory is OVERWRITTEN
    * on replay, so a restarted stream rewrites its own output instead of
    * duplicating it — exactly-once table contents on an at-least-once
    * source, the same replay contract as [[gold.BaseDelta.append]].
    * Readers `spark.read.parquet(route)` and see `batch`/`ingest_date` as
    * partition columns (prune on either).
    *
    * Topics without a route are dropped (subscribe only to what you
    * route); a route whose topic produced no rows this batch writes an
    * empty dir, keeping batch ids aligned across tables.
    */
  def routeToBronze(parsed: DataFrame, routes: Map[String, String],
                    checkpoint: String, tsCol: String = "created_at",
                    topicCol: String = "topic",
                    trigger: Trigger = Trigger.ProcessingTime("1 minute")): StreamingQuery =
    parsed.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val b = batch.toDF().persist()
        try routes.foreach { case (topic, path) =>
          b.filter(col(topicCol) === topic).drop(topicCol)
            .withColumn(graft.bronze.Bronze.PartitionCol, to_date(col(tsCol)))
            .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .partitionBy(graft.bronze.Bronze.PartitionCol)
            .parquet(s"$path/batch=$batchId")
        } finally b.unpersist()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** Bronze sink: checkpointed, date-partitioned Parquet append — the
    * reference's consumer+loader collapsed to one exactly-once stream.
    */
  def toBronze(parsed: DataFrame, path: String, checkpoint: String,
               tsCol: String = "created_at",
               trigger: Trigger = Trigger.ProcessingTime("1 minute")): StreamingQuery =
    parsed
      .withColumn(graft.bronze.Bronze.PartitionCol, to_date(col(tsCol)))
      .writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .partitionBy(graft.bronze.Bronze.PartitionCol)
      .trigger(trigger)
      .start()

  /** Silver→Gold maintenance as a `foreachBatch` stream: per micro-batch,
    * dedup latest-wins then upsert into the Parquet fact — the streaming
    * form of the reference's incremental merge (readme.md:142-151). The
    * checkpoint makes replays idempotent together with the keyed upsert.
    *
    * `orderCols` must form a total order per key — CDC replays produce
    * identical version timestamps, so include a unique id (lsn, event id)
    * as the final tie-break or the merged sink is nondeterministic across
    * replays.
    *
    * `partCol` is a batch column that is STABLE per key (e.g.
    * `to_date(created_at)`): the sink is Hive-partitioned and each batch
    * rewrites only the partitions it touches — O(touched partitions) I/O
    * instead of O(table) (see PartitionedUpsert). Unpartitioned tables
    * take [[upsertStreamSnapshot]], which commits the whole merged table
    * through the snapshot pointer.
    *
    * With `opCol` set, Debezium tombstones (op='d') delete their key from
    * the sink instead of merging a junk row — streaming and batch CDC
    * semantics match (`UpsertByKey.applyCdc`).
    */
  def upsertStream(parsed: DataFrame, sinkPath: String, checkpoint: String,
                   keys: Seq[String], orderCols: Seq[String],
                   partCol: String,
                   opCol: Option[String] = None,
                   trigger: Trigger = Trigger.ProcessingTime("1 minute")): StreamingQuery =
    parsed.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.gold.PartitionedUpsert.upsert(
          batch.sparkSession, batch.toDF(), sinkPath, keys, orderCols, partCol, opCol)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** Base+delta streaming upsert: each micro-batch APPENDS an immutable
    * per-batch delta (O(batch) I/O — nothing existing is read or
    * rewritten) and compaction folds deltas into the base once `maxDeltas`
    * are outstanding. Readers use `BaseDelta.read` (merge-on-read,
    * latest-wins + tombstones). This is the high-frequency form: where
    * `upsertStream` rewrites touched partitions every trigger, this sink's
    * steady-state write cost is independent of table size AND key spread.
    * Replay safety: the delta dir is keyed on the micro-batch id, so a
    * replayed batch overwrites its own delta.
    */
  def upsertStreamDelta(parsed: DataFrame, sinkPath: String, checkpoint: String,
                        keys: Seq[String], orderCols: Seq[String],
                        opCol: Option[String] = None, maxDeltas: Int = 16,
                        allowSchemaEvolution: Boolean = false,
                        trigger: Trigger = Trigger.ProcessingTime("1 minute")): StreamingQuery = {
    val table = graft.gold.BaseDelta.Table(sinkPath, keys, orderCols, opCol)
    parsed.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.gold.BaseDelta.appendAndMaybeCompact(
          batch.sparkSession, table, batch.toDF(), batchId, maxDeltas,
          allowSchemaEvolution)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
  }

  /** Object-store-safe streaming upsert: per micro-batch, merge into the
    * committed snapshot and publish through [[graft.gold.SnapshotStore]]'s
    * pointer protocol — the unpartitioned form of `upsertStream`, safe on
    * storage where directory rename is copy+delete (S3/MinIO). The merge plan
    * reads the CURRENT generation while the next is staged elsewhere, and
    * readers flip atomically on the pointer commit; a crash mid-publish
    * leaves an orphan generation the replayed batch overwrites. Whole-
    * table rewrite per batch (dimension-sized tables — facts should take
    * `upsertStreamDelta`'s O(batch) path). Tombstones honored via
    * `mergeBatch`, like every other sink here.
    */
  def upsertStreamSnapshot(parsed: DataFrame, sinkPath: String,
                           checkpoint: String, keys: Seq[String],
                           orderCols: Seq[String],
                           opCol: Option[String] = None,
                           optimizeEvery: Option[Int] = None,
                           optimizeTargetBytes: Long = 128L << 20,
                           trigger: Trigger = Trigger.ProcessingTime("1 minute")): StreamingQuery =
    parsed.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        val existing =
          if (graft.gold.SnapshotStore.exists(spark, sinkPath))
            Some(graft.gold.SnapshotStore.read(spark, sinkPath))
          else None
        graft.gold.SnapshotStore.publish(
          graft.gold.UpsertByKey.mergeBatch(existing, batch.toDF(), keys,
            orderCols, opCol),
          sinkPath)
        // maintenance cadence: every N generations, fold the accreted
        // per-trigger files back to ~targetBytes (Optimize.maybeCompact)
        // — safe here because this sink's idempotence comes from the
        // merge, not a generation-number ledger
        optimizeEvery.foreach(n =>
          graft.gold.Optimize.maybeCompact(spark, sinkPath, n,
            optimizeTargetBytes))
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** Streaming SCD2 maintenance: per micro-batch, dedup latest-wins then
    * run the check-strategy merge against the persisted snapshot — the
    * streaming form of the daily dbt-snapshot cadence
    * (docker/dags/scd_snapshots.py), at micro-batch granularity. The
    * batch's asOf timestamp is its max `asOfCol` (deterministic under
    * replay). The snapshot uses the pruned `scd_part` layout — per-batch
    * I/O is O(current rows + today's closures) regardless of how deep the
    * closed history grows (PartitionedUpsert.scd2).
    */
  def scd2Stream(parsed: DataFrame, snapshotPath: String, checkpoint: String,
                 keys: Seq[String], checkCols: Seq[String], asOfCol: String,
                 orderCols: Seq[String],
                 trigger: Trigger = Trigger.ProcessingTime("1 minute")): StreamingQuery =
    parsed.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        val staged = graft.silver.Staging.dedupLatestByMax(
          batch.toDF(), keys, orderCols)
        val asOfRow = staged.agg(max(col(asOfCol))).head()
        if (!asOfRow.isNullAt(0))
          // pruned layout: the batch reads/writes only the `current`
          // partition and its own close-date partition — history stays
          // untouched on disk
          graft.gold.PartitionedUpsert.scd2(
            spark, staged, snapshotPath, keys, checkCols, asOfRow.getTimestamp(0))
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** Exact-changelog streaming SCD2: fold each micro-batch of change-log
    * rows into a [[graft.gold.SnapshotStore]]-published dimension with
    * PER-ROW effective timestamps ([[graft.gold.Scd2Merge.applyLog]]) —
    * unlike [[scd2Stream]], a batch carrying several versions of one key
    * yields several intervals, so the persisted dim always equals the
    * full-log `fromChangeLog` rebuild regardless of how the stream cut
    * the log into triggers. Exactly-once by double guard: the ledger is
    * [[graft.gold.StateLedger]]'s in-row `__last_batch` marker committed
    * atomically with the snapshot (a replayed batch sees its id already
    * folded and skips; maintenance generations can't desync it), and
    * `applyLog`'s anchor-ts drop makes even a ledger-less refold a
    * no-op. Publish is one pointer PUT — readers on S3/MinIO flip
    * atomically between consistent dimensions.
    */
  def scd2LogStream(parsed: DataFrame, snapshotPath: String,
                    checkpoint: String, keys: Seq[String],
                    checkCols: Seq[String], tsCol: String,
                    tieBreak: Seq[String] = Seq.empty,
                    opCol: Option[String] = None,
                    trigger: Trigger = Trigger.ProcessingTime("1 minute")): StreamingQuery =
    parsed.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val b = batch.toDF()
        if (!graft.gold.StateLedger.applied(spark, snapshotPath, batchId)) {
          val snapshot =
            if (graft.gold.SnapshotStore.exists(spark, snapshotPath))
              graft.gold.StateLedger.readState(spark, snapshotPath)
            else graft.gold.Scd2Merge.emptyLogSnapshot(b, tsCol)
          graft.gold.SnapshotStore.publish(
            graft.gold.StateLedger.stamp(
              graft.gold.Scd2Merge.applyLog(snapshot, b, keys, checkCols,
                tsCol, tieBreak, opCol), batchId),
            snapshotPath)
          ()
        }
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** Bounded-state streaming dedup: exact duplicates (same keys) arriving
    * within the watermark delay are dropped; state for a key is evicted
    * once the watermark passes it, so state size is bounded by the delay
    * window — the streaming form of the at-least-once replay guard that
    * doesn't grow forever (contrast: plain `dropDuplicates` keeps all
    * keys; `StatefulOps.latestByKey` keeps one row per key).
    */
  def dedupStream(parsed: DataFrame, keys: Seq[String], tsCol: String,
                  delay: String = "10 minutes"): DataFrame =
    parsed
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Stream-stream event-time interval join: rows from two streams with
    * the same key match when their event times are within `tolerance` of
    * each other. Both sides are watermarked so the join state is bounded —
    * Spark can discard buffered rows once the other side's watermark
    * passes the tolerance window (unbounded state is the failure mode of
    * naive stream joins at scale). Input columns are prefixed `l_`/`r_`
    * to keep the output schema unambiguous.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
                   leftTs: String, rightTs: String,
                   tolerance: String = "10 minutes"): DataFrame = {
    val l = left.toDF(left.columns.map("l_" + _): _*)
      .withWatermark(s"l_$leftTs", tolerance)
    val r = right.toDF(right.columns.map("r_" + _): _*)
      .withWatermark(s"r_$rightTs", tolerance)
    l.join(r,
      col(s"l_$keyCol") === col(s"r_$keyCol") &&
        col(s"r_$rightTs") >= col(s"l_$leftTs") - expr(s"INTERVAL $tolerance") &&
        col(s"r_$rightTs") <= col(s"l_$leftTs") + expr(s"INTERVAL $tolerance"))
  }

  /** Event-time windowed aggregation with watermark (the §7.5 extension
    * surface): tumbling `windowDur` counts/sums per key, late data beyond
    * `lateness` dropped.
    */
  def windowedAgg(events: DataFrame, tsCol: String, keyCol: String,
                  valueCol: String, windowDur: String = "1 hour",
                  lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowDur), col(keyCol))
      .agg(count(lit(1)).as("n_events"), sum(col(valueCol)).as("total_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col(keyCol), col("n_events"), col("total_value"))
}
