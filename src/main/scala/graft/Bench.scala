package graft
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

object Bench {

  /** The median of `runs` timed executions of `body`, in seconds, or the
    * first non-fatal failure: a query that throws has no time, so it can
    * neither enter the total nor read as a fast query.
    */
  def timeQuery(runs: Int)(body: => Unit): Either[Throwable, Double] =
    try {
      val times = Vector.fill(runs) {
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }.sorted
      Right(times(times.length / 2))
    } catch { case NonFatal(e) => Left(e) }

  /** Host-calibration probe (round-13 verdict #1): a fixed ~2 s synthetic
    * workload run before the suite and emitted into every bench JSON, so
    * cross-round comparisons can normalize mechanically instead of
    * re-litigating "box or code?" from prose each round (r11 burned a
    * round on a sticky-profile phantom, r12 on /tmp pressure + host
    * frequency).
    *
    * - `calib_1c`: single-core xorshift64* loop — pure CPU frequency /
    *   steal-time probe, no allocation, no Spark. Seconds for a fixed
    *   iteration count; best-of-2.
    * - `calib_32w`: a 32-way shuffle+agg micro-bench on `spark.range`
    *   (20M rows → k = id%1000 → groupBy.sum) — probes the same JVM/
    *   scheduler/shuffle path the suite exercises. Best-of-2, run AFTER
    *   the codegen warmup so first-run init doesn't pollute it.
    *
    * To compare commits A and B benched on different days:
    * ratio_normalized = (tB / tA) / (calibB / calibA), per component.
    */
  def calibrate(spark: SparkSession): (Double, Double) = {
    def best2(body: => Unit): Double = {
      def once: Double = {
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }
      math.min(once, once)
    }
    // xorshift64* — the accumulator feeds a side-effect guard so the JIT
    // cannot dead-code the loop
    var sink = 0L
    val c1 = best2 {
      var x = 0x9E3779B97F4A7C15L
      var acc = 0L
      var i = 0L
      while (i < 600000000L) {
        x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
        acc += x * 0x2545F4914F6CDD1DL
        i += 1
      }
      sink ^= acc
    }
    if (sink == 42L) println("calib sink")
    import org.apache.spark.sql.functions._
    val c32 = best2 {
      spark.range(0L, 20000000L, 1L, 32)
        .withColumn("k", col("id") % 1000)
        .groupBy(col("k")).agg(sum(col("id")).as("s"))
        .agg(sum(col("s"))).collect()
    }
    (c1, c32)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // default matches the harness contract (local[32]); the driver can
    // still pin a different width via SPARK_GRAFT_CPUS. Log level ERROR
    // (the session's): the JSON result below must be the only thing this
    // main emits near shutdown — a WARN between it and process exit can
    // push it out of the driver's bounded output capture
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    Session.warmup(spark, sfDir)
    // host-calibration probe — after warmup, before the suite
    val (calib1c, calib32w) =
      try calibrate(spark) catch { case NonFatal(_) => (-1.0, -1.0) }
    // deterministic execution order → reproducible per-query numbers.
    // Each query runs 3× and reports its MEDIAN: a single-shot number on a
    // co-tenant box can read 3× slow (or fast) from load alone, which is
    // indistinguishable from a code regression; the median of three is
    // robust to one contended run and to first-run warmup effects.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    // SPARK_GRAFT_BENCH_ONLY=q231_corr_monitor,q242_… — standalone
    // re-measure of a watchlist (noise-ledger reconciliation) without
    // paying for the full suite
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val timed = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        name -> timeQuery(runs) { fn(spark, sfDir).count(); () }
      }
    // a failed query is left out of the total and the timing map and
    // named, with its exception class, under `failed`
    val results = timed.collect { case (name, Right(t)) => name -> t }
    val failed = timed.collect { case (name, Left(e)) => name -> e.getClass.getName }
    def ms(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    val calibJson =
      s"""{"calib_1c":${ms(calib1c)},"calib_32w":${ms(calib32w)}}"""
    val fullMap = results.map { case (k, v) => s"\"" + k + "\":" + ms(v) }
      .mkString("{", ",", "}")
    val failedJson = s""""n_failed":${failed.size},""" + failed
      .map { case (k, c) => s"\"" + k + "\":\"" + c + "\"" }
      .mkString("\"failed\":{", ",", "}")
    // STRUCTURED top-level fields (round-13 verdict #7): total_s,
    // n_queries, queries{}, calib{} as real JSON — no regex-parsing of
    // log tails required. `metric`/`value` stay for the driver's
    // backward-compatible reader.
    val fullJson =
      s"""{"metric":"total","value":${ms(total)},"unit":"sec","total_s":${ms(total)},"n_queries":${results.size},$failedJson,"runs":$runs,"calib":$calibJson,"queries":$fullMap,"sf":"$sfDir"}"""
    // The registry outgrew the driver's bounded (2000-char) tail capture:
    // a single line with all 157+ timings gets its HEAD truncated, which
    // makes the JSON unparseable and hides the front of the map (round-5
    // verdict item 2). So: (a) persist the complete map to
    // bench_latest.json in the repo root, (b) print the full line early
    // for humans/logs, and (c) make the FINAL line a compact JSON that is
    // guaranteed to fit in the tail — totals plus the slowest queries
    // (the ones perf grading reads), slowest LAST so even a clipped tail
    // ends with the most expensive entries.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_latest.json")
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        (fullJson + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case NonFatal(_) => } // read-only cwd: stdout still has it
    println(fullJson)
    val slowestAsc = results.sortBy(_._2).takeRight(55).map {
      case (k, v) => s"\"" + k + "\":" + ms(v)
    }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${ms(total)},"unit":"sec","total_s":${ms(total)},"n_queries":${results.size},$failedJson,"runs":$runs,"calib":$calibJson,"full_map":"$out","queries":$slowestAsc,"sf":"$sfDir"}""")
    System.out.flush()
    spark.stop()
  }
}
