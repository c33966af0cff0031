package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.cdc.Envelope
import graft.gold.{AnalystMarts, Scd2Merge}
import graft.streaming.{CdcStream, MultiTableStream}

/** The reference pipeline as three checkpointed streams off one landing
  * zone: Debezium-envelope JSON → `cdc` parse → `bronze` (one route per
  * table plus a quarantine route) → `gold` (SCD2 customer and account dims
  * plus an O(batch) transactions fact, one coordinator commit per batch,
  * FK-audited) → `marts` (incrementally folded analyst marts).
  *
  * `trickle` lands one small file at a time and waits until every tier has
  * committed it (a closed loop: per-file freshness with no queueing);
  * `backfill` lands a large backlog at once and drains it one file per
  * batch. Both end with the correctness gates against [[Fold]].
  */
object Cdc {
  val Tiers: Seq[String] = Seq("bronze", "gold", "marts")
  val Quarantine = "_quarantine"
  val Tables: Seq[String] = Seq("customers", "accounts", "transactions")

  /** After-image schema shared by the three tables' envelopes. */
  val Union: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("first_name", StringType),
    StructField("last_name", StringType),
    StructField("email", StringType),
    StructField("customer_id", LongType),
    StructField("account_type", StringType),
    StructField("balance", DoubleType),
    StructField("currency", StringType),
    StructField("account_id", LongType),
    StructField("txn_type", StringType),
    StructField("amount", DoubleType),
    StructField("related_account_id", LongType),
    StructField("status", StringType),
    StructField("created_at", TimestampType)))

  /** `warmup` files (or batches) go first and are not in the end-to-end
    * sample: a JVM's first batch pays class loading and JIT compilation.
    * The `timed` ones follow.
    */
  final case class Shape(eventsPerFile: Int, warmup: Int, timed: Int) {
    def files: Int = warmup + timed
  }
  final case class Gate(name: String, ok: Boolean, detail: String)

  /** Trickle lands one warm-up file, then one ~2k-envelope file per 5 s
    * of run length (at least 3) — fixed counts, so every run's sample is
    * the same file indices however fast the machine is; the backfill
    * backlog is three 50k-envelope files, drained one per batch, the
    * first batch untimed.
    */
  def shape(workload: String, seconds: Int): Shape = workload match {
    case "cdc_trickle" => Shape(2000, 1, math.max(3, math.round(seconds / 5.0).toInt))
    case _ => Shape(50000, 1, 2)
  }

  /** Deltas the transactions fact and the marts keep before compacting:
    * 2, as in `Demo`, so the trickle's third file compacts both and the
    * maintenance cost shows in its latency.
    */
  val MaxDeltas = 2

  private val txnFact = MultiTableStream.DeltaFact("transactions", "transactions",
    Seq("id"), Seq("ts_ms"), opCol = Some("op"), maxDeltas = MaxDeltas,
    project = _.select("id", "account_id", "txn_type", "amount",
      "related_account_id", "status", "created_at", "op", "ts_ms"))

  private def ts: org.apache.spark.sql.Column = timestamp_millis(col("ts_ms")).as("ts")

  private val dims = Seq(
    MultiTableStream.Scd2Dim("customers", "customers", Seq("id"), Seq("email"),
      "ts", opCol = Some("op"),
      project = _.select(col("id"), col("first_name"), col("last_name"),
        col("email"), col("created_at"), col("op"), ts)),
    MultiTableStream.Scd2Dim("accounts", "accounts", Seq("id"), Seq("balance"),
      "ts", opCol = Some("op"),
      project = _.select(col("id"), col("customer_id"), col("account_type"),
        col("balance"), col("currency"), col("created_at"), col("op"), ts)))

  private val fkAudit = MultiTableStream.fkAudit("transactions", "account_id",
    "accounts", "id", Some("op"))

  /** Parsed envelope stream with the source table as the route column;
    * unparseable lines route to the quarantine table.
    */
  def parsedStream(spark: SparkSession, landing: String, maxFiles: Int): DataFrame = {
    val raw = spark.readStream.option("maxFilesPerTrigger", maxFiles).text(landing)
    CdcStream.decodeKafka(
        raw.select(get_json_object(col("value"), "$.payload.source.table").as("topic"),
          col("value")),
        Union, routed = true)
      .withColumn("topic", when(col(Envelope.CorruptCol).isNotNull, lit(Quarantine))
        .otherwise(col("topic")))
  }

  def dirBytes(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((b, n), f) => (b + Files.size(f), n + 1) }
      finally s.close()
    }

  private def maxNumbered(p: Path, prefix: String): Long =
    if (!Files.isDirectory(p)) 0L
    else {
      val s = Files.list(p)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith(prefix) && n.drop(prefix.length).forall(_.isDigit) &&
          n.length > prefix.length)
        .map(_.drop(prefix.length).toLong).foldLeft(0L)(math.max)
      finally s.close()
    }
}

final class Cdc(spark: SparkSession, workload: String, seed: Long, seconds: Int,
                work: Path, tracer: Tracer, collector: Option[JobCollector]) {
  import Cdc._

  private val shapeNow = shape(workload, seconds)
  private val trickle = workload == "cdc_trickle"
  private val landing = work.resolve("landing")
  private val staging = work.resolve("staging")
  private val bronzeRoot = work.resolve("bronze")
  private val goldRoot = work.resolve("gold")
  private val martRoot = work.resolve("marts")
  private val ckptRoot = work.resolve("ckpt")
  private var files = Vector.empty[Vector[Gen.Line]]
  private val landed = mutable.ArrayBuffer.empty[Vector[Gen.Line]]
  private var queries = Map.empty[String, StreamingQuery]
  private var pending: Option[(Path, Vector[Gen.Line])] = None

  val tierByQueryId = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Write file `i` into the staging dir (not yet visible). */
  private def stage(i: Int): Unit = {
    val lines = files(i)
    val p = staging.resolve(f"part-$i%05d.json")
    Files.writeString(p, lines.map(_.text).mkString("", "\n", "\n"))
    pending = Some((p, lines))
  }

  /** Atomically publish the staged file into the landing zone. */
  private def land(i: Int): Unit = {
    val (p, lines) = pending.get
    Files.move(p, landing.resolve(p.getFileName), StandardCopyOption.ATOMIC_MOVE)
    landed += lines
    pending = None
  }

  private def startStreams(): Unit = {
    val trig = Trigger.ProcessingTime(0)
    val mf = if (trickle) 16 else 1
    val routes = (Tables :+ Quarantine).map(t => t -> bronzeRoot.resolve(t).toString).toMap
    def ck(t: String) = ckptRoot.resolve(t).toString
    val src = () => parsedStream(spark, landing.toString, mf)
    val qs = Seq(
      "bronze" -> CdcStream.routeToBronze(src(), routes, ck("bronze"), trigger = trig),
      "gold" -> MultiTableStream.start(
        src().filter(col("topic") =!= Quarantine).drop(Envelope.CorruptCol),
        goldRoot.toString, ck("gold"), "topic", dims, Seq.empty,
        deltaFacts = Seq(txnFact), audits = Seq(fkAudit), trigger = trig),
      "marts" -> AnalystMarts.refreshStream(
        src().filter(col("topic") === "transactions" && col("op") === "c")
          .select(col("account_id").as("user_id"), col("txn_type").as("event_type"),
            col("created_at").as("ts"), col("amount").as("value")),
        AnalystMarts.Mart(martRoot.toString), ck("marts"), maxDeltas = MaxDeltas,
        trigger = trig))
    qs.foreach { case (t, q) => tierByQueryId.put(q.id.toString, t) }
    queries = qs.toMap
  }

  /** Highest batch id the query has committed. An idle trigger reports
    * the id of the batch it would run next, with no input rows.
    */
  private def lastBatch(q: StreamingQuery): Long = {
    q.exception.foreach(e => throw e)
    Option(q.lastProgress).map(p => if (p.numInputRows > 0) p.batchId else p.batchId - 1)
      .getOrElse(-1L)
  }

  // ── phases ────────────────────────────────────────────────────────────

  var datagenS = 0.0

  def setup(): Unit = {
    Seq(landing, staging, bronzeRoot, goldRoot, martRoot, ckptRoot)
      .foreach(Files.createDirectories(_))
    val t0 = System.nanoTime()
    val gen = new Gen(spark, seed, tracer)
    files = Vector.fill(shapeNow.files)(gen.nextFile(shapeNow.eventsPerFile))
    if (trickle) stage(0)
    else (0 until shapeNow.files).foreach { i => stage(i); land(i) }
    datagenS = (System.nanoTime() - t0) / 1e9
    if (trickle) startStreams()
  }

  /** Per-file (trickle) or per-batch (backfill) latency of the slowest
    * tier, in seconds, in landing order; the first `warmupFiles` are the
    * warm-up.
    */
  def warmupFiles: Int = shapeNow.warmup

  val latencies = mutable.ArrayBuffer.empty[Double]
  val cpuPerFile = mutable.ArrayBuffer.empty[Double]
  var genLagMaxS = 0.0

  def run(): Unit = {
    if (trickle) {
      var i = 0
      var lastDone = System.nanoTime()
      while (i < shapeNow.files) {
        val trace = s"file-$i"
        val tLand = System.nanoTime()
        genLagMaxS = math.max(genLagMaxS, (tLand - lastDone) / 1e9)
        tracer.span("harness", "land", trace)(land(i))
        // write the next file while the tiers work on this one
        if (i + 1 < shapeNow.files)
          tracer.span("harness", "stage", s"file-${i + 1}")(stage(i + 1))
        val cpu0 = Main.processCpuS()
        while (queries.values.exists(q => lastBatch(q) < i)) Thread.sleep(1)
        lastDone = System.nanoTime()
        latencies += (lastDone - tLand) / 1e9
        cpuPerFile += Main.processCpuS() - cpu0
        i += 1
      }
    } else {
      startStreams()
      val last = shapeNow.files - 1
      while (queries.values.exists(q => lastBatch(q) < last)) Thread.sleep(2)
      val perTier = queries.values.map(batchSeconds).toSeq
      latencies ++= (0 to last).map(b => perTier.map(_.getOrElse(b.toLong, 0.0)).max)
    }
    queries.values.foreach(_.stop())
  }

  private def progress(q: StreamingQuery): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0)

  private def batchSeconds(q: StreamingQuery): Map[Long, Double] =
    progress(q).map(p => p.batchId -> p.durationMs.get("triggerExecution").toDouble / 1e3).toMap

  /** Lines per landed file, in landing order. */
  def eventsPerFile: Seq[Long] = landed.map(_.size.toLong).toSeq

  def landedLines: Seq[Gen.Line] = landed.flatten.toSeq

  // ── correctness gates ─────────────────────────────────────────────────

  private def versionsDf(vs: Seq[Fold.Version]): DataFrame =
    spark.createDataFrame(vs.map(v => Row(v.id, v.a, v.b, v.op, v.fromMs,
      v.toMs.map(Long.box).orNull)).asJava,
      StructType(Seq(StructField("id", LongType), StructField("a", LongType),
        StructField("b", StringType), StructField("op", StringType),
        StructField("from_ms", LongType), StructField("to_ms", LongType))))

  private def cents(c: String) = round(col(c) * 100).cast("long")

  private def versionsOf(dim: DataFrame, a: org.apache.spark.sql.Column,
                         b: org.apache.spark.sql.Column): DataFrame =
    dim.select(col("id"), a.as("a"), b.as("b"), col("op"),
      unix_millis(col(Scd2Merge.EffectiveFrom)).as("from_ms"),
      unix_millis(col(Scd2Merge.EffectiveTo)).as("to_ms"))

  /** Every gate compares the committed tables with [[Fold]] of `log`
    * (by default, everything landed this run).
    */
  def gates(log: Seq[Gen.Line] = landedLines): Seq[Gate] =
    tracer.span("gate", "cdc", "gates")(Main.inJobGroup(spark, "gate")(gateRows(log)))

  private def gateRows(log: Seq[Gen.Line]): Seq[Gate] = {
    val exp = Fold(log)
    def cmp(name: String, got: DataFrame, want: DataFrame): Gate = {
      val (g, w) = (Fp.of(got), Fp.of(want))
      Gate(name, g == w, s"got $g want $w")
    }
    val t = MultiTableStream.readCommitted(spark, goldRoot.toString, Seq(txnFact))
    val cust = versionsOf(t("customers"), lit(0L), col("email"))
    val acct = versionsOf(t("accounts"), cents("balance"), col("customer_id").cast("string"))
    def current(df: DataFrame) = df.filter(col("to_ms").isNull && col("op") =!= "d")
    val expCust = versionsDf(exp.customers)
    val expAcct = versionsDf(exp.accounts)
    val txnSchema = StructType(Seq(StructField("id", LongType),
      StructField("account_id", LongType), StructField("txn_type", StringType),
      StructField("amount_cents", LongType)))
    val expTxn = spark.createDataFrame(exp.txns.map(r =>
      Row(r.id, r.accountId, r.txnType, r.amountCents)).asJava, txnSchema)
    val gotTxn = t("transactions").select(col("id"), col("account_id"),
      col("txn_type"), cents("amount").as("amount_cents"))
    val bronze = (Tables :+ Quarantine).map { tb =>
      val n = spark.read.parquet(bronzeRoot.resolve(tb).toString).count()
      val want = if (tb == Quarantine) exp.quarantined else exp.bronze.getOrElse(tb, 0L)
      Gate(s"bronze.$tb.rows", n == want, s"got $n want $want")
    }
    val mart = AnalystMarts.Mart(martRoot.toString)
    val gotAct = AnalystMarts.activity(spark, mart)
      .select(col("user_id"), unix_date(col("day")).cast("long").as("day"))
    val expAct = spark.createDataFrame(exp.activity.toSeq.map { case (u, d) =>
      Row(u, d) }.asJava, StructType(Seq(StructField("user_id", LongType),
        StructField("day", LongType))))
    val gotAgg = AnalystMarts.dailyValueMart(spark, mart)
      .select(unix_date(col("day")).cast("long").as("day"), col("event_type"),
        col("n_rows"), cents("value_sum").as("sum_cents"))
    val expAgg = spark.createDataFrame(exp.agg.toSeq.map { case ((d, ty), (n, s)) =>
      Row(d, ty, n, s) }.asJava, StructType(Seq(StructField("day", LongType),
        StructField("event_type", StringType), StructField("n_rows", LongType),
        StructField("sum_cents", LongType))))
    Seq(
      cmp("gold.customers.history", cust, expCust),
      cmp("gold.accounts.history", acct, expAcct),
      cmp("gold.customers.current", current(cust), current(expCust)),
      cmp("gold.accounts.current", current(acct), current(expAcct)),
      cmp("gold.transactions.current", gotTxn, expTxn),
      cmp("marts.activity", gotAct, expAct),
      cmp("marts.daily_value", gotAgg, expAgg)) ++ bronze
  }

  // ── layer probes (traced runs, outside the timed phase) ───────────────

  def probes(): Map[String, Double] = {
    def tagged[A](group: String)(body: => A): (A, Double) = Main.inJobGroup(spark, group) {
      val t0 = System.nanoTime()
      (body, (System.nanoTime() - t0) / 1e9)
    }
    val raw = spark.read.text(landing.toString)
    val (parsedFp, parseS) = tracer.span("cdc", "Envelope.parse", "probe")(
      tagged("probe:cdc")(Fp.of(Envelope.parse(raw, "value", Union))))
    val clean = CdcStream.decodeKafka(
      raw.select(get_json_object(col("value"), "$.payload.source.table").as("topic"),
        col("value")), Union, routed = true)
      .filter(col(Envelope.CorruptCol).isNull)
    val (_, dedupS) = tracer.span("silver", "Staging.dedupLatest", "probe")(
      tagged("probe:silver")(Fp.of(graft.silver.Staging.dedupLatest(clean,
        Seq("topic", "id"), Seq(col("ts_ms").desc)))))
    val quarantined = spark.read.parquet(bronzeRoot.resolve(Quarantine).toString).count()
    Map("cdc.parse_s" -> parseS, "silver.dedup_s" -> dedupS,
      "cdc.events_in" -> (parsedFp.rows - quarantined).toDouble,
      "cdc.corrupt_quarantined" -> quarantined.toDouble)
  }

  // ── per-layer numbers from progress, the listener and the files ───────

  /** Durations and job costs are per micro-batch (streaming.* summed over
    * the three tiers), so runs that landed different numbers of files
    * compare; stored bytes and files are the state at the end.
    */
  def layerMetrics(): Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    val progs = queries.map { case (t, q) => t -> progress(q) }
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
    val batches = progs.values.map(_.size).min.max(1).toDouble
    def perBatch(k: String) = progs.values.flatten.map(dur(_, k)).sum / 1e3 / batches
    m("streaming.latest_offset_s") = perBatch("latestOffset")
    m("streaming.get_batch_s") = perBatch("getBatch")
    m("streaming.planning_s") = perBatch("queryPlanning")
    m("streaming.wal_commit_s") = perBatch("walCommit")
    m("streaming.commit_offsets_s") = perBatch("commitOffsets")
    m("streaming.batches") = progs.values.map(_.size).min.toDouble
    m("streaming.backlog_files_end") =
      (landed.size - progs.values.map(_.size).min).toDouble.max(0.0)
    m("streaming.gen_lag_max_s") = genLagMaxS
    m("streaming.checkpoint_bytes") = dirBytes(ckptRoot)._1.toDouble
    val roots = Map("bronze" -> bronzeRoot, "gold" -> goldRoot, "marts" -> martRoot)
    Tiers.foreach { t =>
      val ps = progs(t)
      val n = ps.size.max(1).toDouble
      m(s"$t.add_batch_s") = ps.map(dur(_, "addBatch")).sum / 1e3 / n
      val c = collector.map(_.cost(t)).getOrElse(Cost.zero)
      m(s"$t.jobs") = c.jobs / n
      m(s"$t.tasks") = c.tasks / n
      m(s"$t.executor_cpu_s") = c.cpuS / n
      m(s"$t.shuffle_write_bytes") = c.shuffleWriteBytes / n
      m(s"$t.spill_bytes") = c.spillBytes / n
      m(s"$t.peak_exec_mem_mb") = c.peakExecMemMb
      val jobs = collector.map(_.jobIntervals(_ == t)).getOrElse(Seq.empty)
      m(s"$t.driver_gap_s") = ps.map { p =>
        val end = java.time.Instant.parse(p.timestamp).toEpochMilli +
          dur(p, "triggerExecution") - dur(p, "commitOffsets")
        Intervals.uncoveredS(end - dur(p, "addBatch"), end, jobs)
      }.sum / n
      val (b, f) = dirBytes(roots(t))
      m(s"$t.bytes_stored") = b.toDouble
      m(s"$t.files_stored") = f.toDouble
      // spans: the trigger (streaming layer) with the sink's addBatch inside
      ps.foreach { p =>
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val end = start + dur(p, "triggerExecution")
        val trace = if (trickle) s"file-${p.batchId}" else s"batch-${p.batchId}"
        val id = tracer.add(0L, trace, "streaming", s"$t.trigger", start, end)
        val abEnd = end - dur(p, "commitOffsets")
        tracer.add(id, trace, t, s"$t.addBatch", abEnd - dur(p, "addBatch"), abEnd)
      }
    }
    m("gold.commits") = maxNumbered(goldRoot.resolve("_commit"), "v").toDouble
    m("gold.compactions") =
      (maxNumbered(Paths.get(txnFact.deltaTable(goldRoot.toString).path), "base_g") +
        maxNumbered(martRoot.resolve("activity"), "base_g")).toDouble
    val stored = Seq(bronzeRoot, goldRoot, martRoot, ckptRoot).map(dirBytes(_)._1).sum
    m("storage.bytes_per_input_byte") = stored.toDouble / dirBytes(landing)._1.max(1L)
    m.toMap
  }

  /** Every tier's raw progress reports, one JSON object per line. */
  def writeProgress(out: Path): Unit = queries.foreach { case (t, q) =>
    Files.writeString(out.resolve(s"progress_$t.jsonl"),
      q.recentProgress.map(_.json.replace("\n", " ")).mkString("", "\n", "\n"))
  }

  def cleanup(): Unit = queries.values.foreach(q => if (q.isActive) q.stop())
}
