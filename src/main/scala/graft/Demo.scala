package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.cdc.Envelope
import graft.model.Schemas
import graft.streaming.{CdcStream, MultiTableStream}

/** Continuous end-to-end demo (SURVEY.md §7.6): the reference pipeline's
  * whole lifecycle — CDC envelopes land → streaming Bronze → one gold
  * commit per micro-batch holding the keyed base+delta current state
  * (tombstones honored) and the SCD2 dim — as ONE runnable program,
  * including the mid-run restart every production deployment eventually
  * exercises: both streams are STOPPED between epochs and resume from
  * their checkpoints, and the replayed/late events in epoch 2 land
  * exactly once in the merged views.
  *
  * The streams are the pipeline's own sinks: `CdcStream.routeToBronze`
  * with the one `accounts` topic, and `MultiTableStream.start` with an
  * `Scd2Dim` and a `DeltaFact` on the one `accounts` route, read back
  * through `MultiTableStream.readCommitted`.
  *
  * Run: `sbt "runMain graft.Demo [workDir]"` — prints the accrued Bronze
  * log, the current-state gold table, and the SCD2 history. The same flow
  * is exercised in CI shape by DemoSpec.
  */
object Demo {

  /** The demo's output tables, for programmatic assertion (DemoSpec). */
  case class Result(bronze: DataFrame, current: DataFrame, history: DataFrame)

  private def env(id: Int, cust: Int, bal: Double, created: String, lsn: Long,
                  op: String = "c"): String =
    s"""{"payload":{"before":null,"after":{"id":$id,"customer_id":$cust,"account_type":"SAVINGS","balance":$bal,"currency":"USD","created_at":"$created"},"source":{"table":"accounts","lsn":$lsn,"ts_ms":$lsn},"op":"$op","ts_ms":$lsn}}"""

  private def delEnv(id: Int, created: String, lsn: Long): String =
    s"""{"payload":{"before":{"id":$id,"customer_id":1,"account_type":"SAVINGS","balance":0.0,"currency":"USD","created_at":"$created"},"after":null,"source":{"table":"accounts","lsn":$lsn,"ts_ms":$lsn},"op":"d","ts_ms":$lsn}}"""

  /** Drive the full flow in `workDir` (created if missing) and return the
    * three result tables. Idempotent per workDir ONLY for a fresh dir —
    * pass a new directory per invocation (the point of the demo is the
    * restart semantics, not re-runs over a dirty workspace).
    */
  def run(spark: SparkSession, workDir: String): Result = {
    val in = s"$workDir/landing"
    val bronze = s"$workDir/bronze/accounts"
    val gold = s"$workDir/gold"
    Files.createDirectories(Paths.get(in))

    // the SCD2 history keeps deleted accounts' last version current (the
    // tombstone removes the key from the current-state fact only)
    val history = MultiTableStream.Scd2Dim("accounts_scd2", "accounts",
      keys = Seq("id"), checkCols = Seq("customer_id", "account_type", "balance"),
      tsCol = "created_at",
      project = _.filter(col("op") =!= "d").drop("op", "ts_ms"))
    val current = MultiTableStream.DeltaFact("accounts_current", "accounts",
      keys = Seq("id"), orderCols = Seq("ts_ms"), opCol = Some("op"),
      maxDeltas = 2)

    // two checkpointed streams off one landing zone — the medallion
    // fan-out (raw log; merged current state + versioned dim, committed
    // together)
    def startStreams() = {
      val clean = CdcStream.fromJsonFiles(spark, in, Schemas.accounts)
        .filter(col(Envelope.CorruptCol).isNull).drop(Envelope.CorruptCol)
        .withColumn("topic", lit("accounts"))
      Seq(
        CdcStream.routeToBronze(clean, Map("accounts" -> bronze),
          s"$workDir/ckpt/bronze", trigger = Trigger.ProcessingTime(0)),
        MultiTableStream.start(clean, gold, s"$workDir/ckpt/gold", "topic",
          Seq(history), Seq.empty, Seq(current),
          trigger = Trigger.ProcessingTime(0)))
    }

    // ── epoch 1: creates, one CDC replay, one corrupt line ──
    Files.writeString(Paths.get(s"$in/epoch1.json"), Seq(
      env(1, 1, 100.0, "2024-01-01T10:00:00Z", 1),
      env(1, 1, 100.0, "2024-01-01T10:00:00Z", 1), // replayed event
      env(2, 1, 50.0, "2024-01-01T11:00:00Z", 2),
      env(3, 2, 75.0, "2024-01-01T12:00:00Z", 3),
      """{"payload": {"after": {"id": broken""").mkString("\n"))
    val epoch1 = startStreams()
    epoch1.foreach(_.processAllAvailable())
    epoch1.foreach(_.stop()) // ← mid-run shutdown

    // ── epoch 2 lands while the pipeline is down; streams resume from
    //    their checkpoints and pick it up exactly once ──
    Files.writeString(Paths.get(s"$in/epoch2.json"), Seq(
      env(1, 1, 999.0, "2024-01-02T09:00:00Z", 4, op = "u"), // new SCD2 version
      delEnv(3, "2024-01-01T12:00:00Z", 5),                  // tombstone
      env(4, 2, 25.0, "2024-01-02T10:00:00Z", 6)).mkString("\n"))
    val epoch2 = startStreams()
    epoch2.foreach(_.processAllAvailable())
    epoch2.foreach(_.stop())

    val t = MultiTableStream.readCommitted(spark, gold, Seq(current))
    Result(
      bronze = spark.read.parquet(bronze),
      current = t(current.table),
      history = t(history.table))
  }

  def main(args: Array[String]): Unit = {
    val workDir = args.headOption.getOrElse(
      Scratch.dir("graft-demo"))
    val spark = Session.local(4)
    val r = run(spark, workDir)
    println(s"=== graft.Demo @ $workDir ===")
    println(s"Bronze immutable log (${r.bronze.count()} rows; replay retained, corrupt quarantined):")
    r.bronze.orderBy("ts_ms").show(20, false)
    println("Gold current state (base+delta merge-on-read; replay collapsed, tombstone removed id 3):")
    r.current.orderBy("id").show(20, false)
    println("SCD2 account history (closed version of id 1 + four current rows):")
    r.history
      .withColumn("is_current", col("effective_to").isNull)
      .select("id", "customer_id", "balance", "effective_from", "effective_to", "is_current")
      .orderBy("id", "effective_from").show(20, false)
    spark.stop()
  }
}
