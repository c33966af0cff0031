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
  *
  * One sink per layer: [[routeToBronze]] is the bronze sink (a
  * single-table stream routes one topic — add a constant topic column)
  * and [[MultiTableStream.start]] is the gold sink. A single gold table is
  * a `MultiTableStream` with one route (`lit(<table>)` as the route
  * column): an [[MultiTableStream.UpsertFact]] for a whole-table keyed
  * upsert, a [[MultiTableStream.DeltaFact]] for the O(batch) base+delta
  * fact, an [[MultiTableStream.Scd2Dim]] for an SCD2 dimension. The dim
  * folds with [[graft.gold.Scd2Merge.applyLog]]'s per-row effective
  * timestamps, so it equals the full-log rebuild however the stream cuts
  * the log — a merge stamped with the batch's max timestamp is strictly
  * less exact (several versions of a key in one batch collapse to one).
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
