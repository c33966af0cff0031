package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  *
  * {{{
  * Main run <workload> <seed> <seconds> <trace 0|1> <workDir> <outDir> <dataDir> <prints>
  * Main record <dataDir> <printsOut>
  * Main selftest <workDir>
  * }}}
  *
  * `run` prints one `PERFBENCH_RESULT {...}` line last; `perfbench/run.py`
  * turns it into the benchmark's result line.
  */
object Main {
  val Workloads: Seq[String] = Seq("cdc_trickle", "cdc_backfill", "gold_queries",
    "operator_loops")

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The first job of a session pays scheduler and executor start-up;
    * it runs here, in set-up, not in the first timed operation.
    */
  def warmup(spark: SparkSession): Unit = { spark.range(16).count(); () }

  /** Run `body` with its jobs tagged `group`, so the traced run's
    * listener attributes them.
    */
  def inJobGroup[A](spark: SparkSession, group: String)(body: => A): A = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }

  /** CPU seconds used by this JVM so far (all threads). */
  def processCpuS(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => Double.NaN
  }

  private def jvmSeconds(): (Double, Double) = {
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
    val peak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    (gc, peak)
  }

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("run") =>
      val Array(_, workload, seed, seconds, trace, work, out, data, prints) = args
      val code = run(workload, seed.toLong, seconds.toInt, trace == "1",
        Paths.get(work), Paths.get(out), data, Paths.get(prints))
      sys.exit(code)
    case Some("record") => Record.main(args.tail)
    case Some("selftest") => SelfTest.main(args.tail)
    case _ =>
      System.err.println("usage: Main run|record|selftest ...")
      sys.exit(2)
  }

  def run(workload: String, seed: Long, seconds: Int, traced: Boolean, work: Path,
          out: Path, dataDir: String, printsPath: Path): Int = {
    require(Workloads.contains(workload), s"unknown workload $workload")
    Files.createDirectories(out)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = session(work)
    val sessionReadyMs = Clock.nowMs
    val tracer = new Tracer(traced)
    var cdc: Option[Cdc] = None
    val collector =
      if (traced) Some(new JobCollector(id => cdc.flatMap(c => Option(c.tierByQueryId.get(id)))))
      else None
    collector.foreach(spark.sparkContext.addSparkListener)
    // One set-up (warmup job, then the workload's data generation, landing
    // and stream start) is the run's own and comes first, cold. Two more
    // run after the timed phase, so they do not warm it up. setup_s is
    // the session start plus the median of the three; setup.cold_s is JVM
    // start to the end of the first.
    val isCdc = workload.startsWith("cdc_")
    def setupOnce(rep: Int): (Double, Double, Option[Cdc]) = {
      val t0 = Clock.nowMs
      tracer.span("setup", s"setup $rep", "setup") {
        warmup(spark)
        val t1 = Clock.nowMs
        val c = if (isCdc) {
          val c = new Cdc(spark, workload, seed, seconds,
            work.resolve(if (rep == 1) "cdc" else s"setup-$rep"), tracer, collector)
          c.setup()
          Some(c)
        } else None
        ((t1 - t0) / 1e3, (Clock.nowMs - t1) / 1e3, c)
      }
    }
    val (warmupS, restS, firstCdc) = setupOnce(1)
    cdc = firstCdc
    val coldSetupS = (Clock.nowMs - jvmStartMs) / 1e3

    val e2e = scala.collection.mutable.LinkedHashMap.empty[String, Metric]
    val layers = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var attempted = 0L
    var failed = 0L
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    val diag = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var datagenS = 0.0

    if (isCdc) {
      val c = cdc.get
      datagenS = c.datagenS
      try tracer.span("harness", "timed", "run")(c.run())
      finally c.cleanup()
      if (traced) {
        layers ++= c.probes()
        c.writeProgress(out)
      }
      val gates = c.gates()
      gates.filterNot(_.ok).foreach(g => problems += s"gate ${g.name}: ${g.detail}")
      attempted = c.latencies.size + gates.size
      failed = gates.count(!_.ok)
      // the warm-up files are the cold ones; the rest are the warm sample
      val lat = c.latencies.toSeq
      val warm = lat.drop(c.warmupFiles)
      val warmEvents = c.eventsPerFile.drop(c.warmupFiles).take(warm.size).sum
      e2e("p50_s") = Metric(Stats.median(warm), "s")
      e2e("tail_s") = Metric(Stats.quantile(warm, 0.9), "s")
      e2e("throughput_per_s") = Metric(warmEvents / warm.sum, "1/s")
      layers("harness.first_pass_s") = lat.take(c.warmupFiles).sum
      diag("latencies_s") = Json.arr(lat.map(Json.num))
      diag("cpu_s") = Json.arr(c.cpuPerFile.toSeq.map(Json.num))
      collector.foreach(_.settle())
      layers ++= c.layerMetrics()
    } else {
      val prints = QueryLoad.readPrints(printsPath)
      val q = new QueryLoad(spark, workload, seed, seconds, dataDir, prints, tracer, collector)
      tracer.span("harness", "timed", "run")(q.run())
      problems ++= q.mismatches
      attempted = q.calls.size
      failed = q.calls.count(!_.ok)
      val warm = q.warm.map(_.seconds)
      e2e("p50_s") = Metric(Stats.median(warm), "s")
      e2e("tail_s") = Metric(Stats.quantile(warm, 0.9), "s")
      e2e("throughput_per_s") = Metric(warm.size / warm.sum, "1/s")
      layers("harness.first_pass_s") = q.firstPassS
      layers("harness.wall_s") = q.wallS
      collector.foreach(_.settle())
      layers ++= q.layerMetrics()
    }

    val sc = spark.sparkContext
    layers("operators.persisted_rdds_after") = sc.getPersistentRDDs.size.toDouble
    layers("operators.storage_mem_mb_after") =
      sc.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
    layers("setup.session_s") = (sessionReadyMs - jvmStartMs) / 1e3
    layers("setup.warmup_s") = warmupS
    layers("setup.datagen_s") = datagenS
    val (gcS, peakMb) = jvmSeconds()
    layers("jvm.gc_s") = gcS
    layers("jvm.peak_heap_mb") = peakMb
    layers("gate.failed_ratio") = failed.toDouble / attempted.max(1L)
    collector.foreach(c => layers("trace.unattributed_task_share") = c.unattributedShare)

    val later = (2 to 3).map { rep =>
      val (w, r, c) = setupOnce(rep)
      c.foreach(_.cleanup())
      w + r
    }
    e2e("setup_s") = Metric(
      (sessionReadyMs - jvmStartMs) / 1e3 + Stats.median(later :+ (warmupS + restS)), "s")
    layers("setup.cold_s") = coldSetupS

    if (traced) {
      tracer.writeJsonl(out.resolve("spans.jsonl"))
      Files.writeString(out.resolve("layer_self_time.json"), Json.obj(
        tracer.selfSeconds.toSeq.sortBy(-_._2).map { case (k, v) => k -> Json.num(v) }) + "\n")
    }
    spark.stop()

    val json = Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> Json.num(seed),
      "trace" -> Json.num(if (traced) 1L else 0L),
      "correct" -> (if (failed == 0) "true" else "false"),
      "attempted" -> Json.num(attempted), "failed" -> Json.num(failed),
      "e2e" -> Json.obj(e2e.toSeq.map { case (k, m) =>
        k -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit))) }),
      "layers" -> Json.obj(layers.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "problems" -> Json.arr(problems.toSeq.map(Json.str)),
      "samples" -> Json.obj(diag.toSeq)))
    Files.writeString(out.resolve("result.json"), json + "\n")
    problems.foreach(p => System.err.println(s"[perfbench] $p"))
    println("PERFBENCH_RESULT " + json)
    if (failed == 0) 0 else 1
  }
}
