package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The registry workloads: `gold_queries` replays the reference's own read
  * surface (q01–q15), `operator_loops` the iterative operators. One client
  * thread calls the queries in a seed-shuffled order per pass. The first
  * pass is the cold one (memo fills, fixture builds); every later pass is
  * warm. Each call is timed around one action — the result fingerprint —
  * which is checked against the recorded value, so every call is both
  * measured and verified.
  */
object QueryLoad {
  val Gold: Seq[String] = Seq("q01_dedup_latest", "q02_envelope_extract",
    "q03_fact_enrich", "q04_scd2_history", "q05_upsert_incremental",
    "q06_agg_pricing", "q07_having_dupes", "q08_anti_orphans", "q09_dq_suite",
    "q10_window_running", "q11_asof_join", "q12_tumbling_window",
    "q13_session_window", "q14_star_revenue", "q15_zscore_anomaly")
  val Loops: Seq[String] = Seq("q100_bpe_train", "q141_fuzzy_global",
    "q169_pagerank", "q264_cluster_erase")
  val All: Seq[String] = Gold ++ Loops

  def names(workload: String): Seq[String] =
    if (workload == "gold_queries") Gold else Loops

  def layer(workload: String): String =
    if (workload == "gold_queries") "queries" else "operators"

  /** Recorded fingerprints: one `name rows:hash` per line. */
  def readPrints(path: java.nio.file.Path): Map[String, String] =
    java.nio.file.Files.readAllLines(path).toArray(Array.empty[String]).toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(n, p) = l.split("\\s+"); n -> p }.toMap

  final case class Call(name: String, pass: Int, startMs: Double, endMs: Double,
                        ok: Boolean) {
    def seconds: Double = (endMs - startMs) / 1e3
  }
}

final class QueryLoad(spark: SparkSession, workload: String, seed: Long,
                      seconds: Int, dataDir: String, prints: Map[String, String],
                      tracer: Tracer, collector: Option[JobCollector]) {
  import QueryLoad._

  private val qs = names(workload)
  private val fns = graft.Queries.queries
  val calls = mutable.ArrayBuffer.empty[Call]
  val mismatches = mutable.ArrayBuffer.empty[String]
  private var coldCost = Map.empty[String, Cost]

  private def call(name: String, pass: Int): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup(s"q:$name", name, interruptOnCancel = false)
    val t0 = Clock.nowMs
    val got =
      try tracer.span(layer(workload), name, s"$name#$pass")(
        Some(Fp.of(fns(name)(spark, dataDir)).toString))
      catch { case e: Exception =>
        mismatches += s"$name pass $pass threw ${e.getClass.getSimpleName}: ${e.getMessage}"
        None
      }
      finally sc.clearJobGroup()
    val t1 = Clock.nowMs
    val ok = got.isDefined && got == prints.get(name)
    if (got.isDefined && !ok)
      mismatches += s"$name pass $pass fingerprint ${got.get} != recorded ${prints.getOrElse(name, "none")}"
    calls += Call(name, pass, t0, t1, ok)
  }

  private def pass(p: Int): Unit = {
    val order = new scala.util.Random(seed * 1000003L + p).shuffle(qs)
    tracer.span("harness", s"pass $p", s"pass-$p")(order.foreach(call(_, p)))
  }

  /** The cold pass, then one warm pass per 20 s of run length (at least
    * one) — a fixed count, so every run times the same calls.
    */
  def run(): Unit = {
    pass(0)
    coldCost = collector.map(_.snapshot).getOrElse(Map.empty)
    (1 to math.max(1, seconds / 20)).foreach(pass)
  }

  def warm: Seq[Call] = calls.filter(_.pass > 0).toSeq
  def warmPasses: Int = calls.map(_.pass).max
  def firstPassS: Double = calls.filter(_.pass == 0).map(_.seconds).sum

  /** Per-query warm medians, summed: one warm pass's worth of work. */
  def wallS: Double = qs.map(q => Stats.median(warm.filter(_.name == q).map(_.seconds))).sum

  def layerMetrics(): Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    val l = layer(workload)
    val passes = warmPasses.toDouble
    collector.foreach { c =>
      val now = c.snapshot
      val warmCost = qs.map(q => Cost.delta(now.getOrElse(s"q:$q", Cost.zero),
        coldCost.getOrElse(s"q:$q", Cost.zero))).foldLeft(Cost.zero)(_ + _)
      m(s"$l.jobs") = warmCost.jobs / passes
      m(s"$l.stages") = warmCost.stages / passes
      m(s"$l.tasks") = warmCost.tasks / passes
      m(s"$l.executor_cpu_s") = warmCost.cpuS / passes
      m(s"$l.shuffle_write_bytes") = warmCost.shuffleWriteBytes / passes
      m(s"$l.spill_bytes") = warmCost.spillBytes / passes
      m(s"$l.peak_exec_mem_mb") = warmCost.peakExecMemMb
      m(s"$l.driver_gap_s") = warm.map { k =>
        Intervals.uncoveredS(k.startMs, k.endMs, c.jobIntervals(_ == s"q:${k.name}"))
      }.sum / passes
      if (workload == "operator_loops") qs.foreach { q =>
        val jobs = c.jobIntervals(_ == s"q:$q")
        val ws = warm.filter(_.name == q)
        m(s"q.$q.jobs") = ws.map(k => jobs.count(j => j._1 >= k.startMs && j._1 <= k.endMs))
          .sum.toDouble / ws.size
      }
    }
    qs.foreach(q => m(s"q.$q.warm_s") = Stats.median(warm.filter(_.name == q).map(_.seconds)))
    m.toMap
  }
}
