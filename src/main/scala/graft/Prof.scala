package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-job time attribution inside a query — optimization-round measurement
  * tool (not part of the driver contract). A query like q268 runs dozens of
  * Spark actions (fixture copies, sweeps, materializations, pane counts);
  * the bench only reports the total. This main runs each named query under a
  * SparkListener and prints, per query, total wall time plus per-job wall time
  * keyed by the action's call site — which line of which operator paid.
  *
  * It also runs a 20 ms sampling profiler over the DRIVER thread while the
  * query runs: the "gap" (total − Σ job wall time) is driver-side work —
  * planning, manifest/dir metadata, hardlink farms — invisible to the
  * listener, and the sampler names the graft frame that owns it.
  *
  * Usage: runMain graft.Prof <sfDir> <q1,q2,...> [runs]
  */
object Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val runs = if (args.length > 2) args(2).toInt else 2
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    // (site, startedNs) per jobId; finished jobs accumulate into rows
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        // callSite lands in different property keys across Spark versions;
        // fall back to the result stage's name (which embeds the call site)
        val p = Option(js.properties)
        val site = p.flatMap(pp => Option(pp.getProperty("callSite.short")))
          .orElse(p.flatMap(pp => Option(pp.getProperty("spark.job.callSite.short"))))
          .orElse(js.stageInfos.lastOption.map(_.name))
          .getOrElse("?")
        starts.put(js.jobId, (site, System.nanoTime()))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val s = starts.remove(je.jobId)
        if (s != null) rows.add((s._1, (System.nanoTime() - s._2) / 1e9))
      }
    }
    // per-stage task-time attribution: stage name embeds the operator
    // call site of the exchange/action that produced it — the §1.1
    // "which stage is slow" readout without the UI
    val stageRows = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, Double, Long, Long, Long, Int)]()
    val stageListener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        if (m != null) stageRows.add((si.name,
          m.executorRunTime / 1e3,
          m.inputMetrics.bytesRead,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          si.numTasks))
      }
    }
    spark.sparkContext.addSparkListener(stageListener)
    spark.sparkContext.addSparkListener(listener)

    // same warmup as Bench so first-run init doesn't pollute attribution
    Session.warmup(spark, sfDir)

    val qmap = Queries.queries
    names.foreach { name =>
      (1 to runs).foreach { r =>
        rows.clear()
        stageRows.clear()
        // driver-thread sampler: collapse each sample to its deepest
        // graft.* frame (excluding Prof itself) so the gap time names the
        // operator method that owns it
        val driver = Thread.currentThread()
        val samples = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
        @volatile var sampling = true
        val sampler = new Thread(() => {
          while (sampling) {
            val st = driver.getStackTrace
            val frame = st.find { e =>
              val c = e.getClassName
              c.startsWith("graft.") && !c.startsWith("graft.Prof")
            }.map(e => s"${e.getClassName.stripPrefix("graft.")}.${e.getMethodName}")
              .getOrElse(st.headOption.map(e =>
                s"[ext] ${e.getClassName}.${e.getMethodName}").getOrElse("?"))
            samples.merge(frame, 1, (a, b) => a + b)
            Thread.sleep(20)
          }
        })
        sampler.setDaemon(true)
        sampler.start()
        val t0 = System.nanoTime()
        val n = try qmap(name)(spark, sfDir).count()
                catch { case e: Throwable =>
                  println(s"!! $name failed: ${e.getMessage}"); -1L }
        val total = (System.nanoTime() - t0) / 1e9
        sampling = false
        // drain any async listener stragglers
        Thread.sleep(200)
        import scala.jdk.CollectionConverters._
        val bySite = rows.asScala.toSeq.groupBy(_._1)
          .map { case (k, v) => (k, v.map(_._2).sum, v.size) }
          .toSeq.sortBy(-_._2)
        val jobSum = bySite.map(_._2).sum
        println(f"\n### $name run$r total=$total%.2f s rows=$n jobs_sum=$jobSum%.2f s gap=${total - jobSum}%.2f s")
        // the host-independent cost counts: jobs, stages run, their tasks
        println(s"  jobs=${rows.size} stages=${stageRows.size} " +
          s"tasks=${stageRows.asScala.map(_._6).sum}")
        bySite.take(30).foreach { case (site, t, c) =>
          println(f"  $t%8.3f s  x$c%-4d $site")
        }
        val totSamples = samples.values().asScala.map(_.toInt).sum.max(1)
        println(f"  -- driver samples (${totSamples * 0.02}%.1f s sampled) --")
        samples.asScala.toSeq.sortBy(-_._2.toInt).take(20).foreach {
          case (f, c) =>
            println(f"  ${c.toInt * 0.02}%8.2f s  $f")
        }
        println("  -- stages by task time --")
        stageRows.asScala.toSeq.groupBy(_._1).map { case (n, v) =>
          (n, v.map(_._2).sum, v.map(_._3).sum, v.map(_._4).sum,
            v.map(_._5).sum, v.size)
        }.toSeq.sortBy(-_._2).take(20).foreach {
          case (n, t, in, sr, sw, c) =>
            println(f"  $t%8.2f s  x$c%-3d in=${in / 1e6}%.0fMB sr=${sr / 1e6}%.0fMB sw=${sw / 1e6}%.0fMB  $n")
        }
      }
    }
    spark.stop()
  }
}
