package perfbench

import java.util.Properties

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Wall clock in epoch milliseconds with sub-millisecond resolution, so
  * spans, Spark listener events (epoch ms) and streaming progress
  * timestamps share one time axis.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

final case class Span(id: Long, parent: Long, trace: String, layer: String,
                      name: String, startMs: Double, endMs: Double)

/** In-memory span recorder. Disabled (the untraced end-to-end runs) it
  * records nothing and `span` is a plain call.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0L
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  private def newId(): Long = synchronized { nextId += 1; nextId }

  def span[A](layer: String, name: String, trace: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = newId()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t0 = Clock.nowMs
      try body
      finally {
        stack.set(stack.get.tail)
        record(Span(id, parent, trace, layer, name, t0, Clock.nowMs))
      }
    }

  /** Record a span measured elsewhere (e.g. from streaming progress);
    * returns its id so children can point at it.
    */
  def add(parent: Long, trace: String, layer: String, name: String,
          startMs: Double, endMs: Double): Long =
    if (!enabled) 0L
    else {
      val id = newId()
      record(Span(id, parent, trace, layer, name, startMs, endMs))
      id
    }

  private def record(s: Span): Unit = synchronized { spans += s; () }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Self time per layer: each span's duration minus its children's. */
  def selfSeconds: Map[String, Double] = {
    val ss = all
    val childMs = ss.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.endMs - c.startMs).sum
    }
    ss.groupBy(_.layer).map { case (layer, xs) =>
      layer -> xs.map(s =>
        math.max(0.0, (s.endMs - s.startMs) - childMs.getOrElse(s.id, 0.0))).sum / 1e3
    }
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startMs).map { s =>
      Json.obj(Seq("id" -> Json.num(s.id), "parent" -> Json.num(s.parent),
        "trace" -> Json.str(s.trace), "layer" -> Json.str(s.layer),
        "name" -> Json.str(s.name), "start_ms" -> Json.num(s.startMs),
        "end_ms" -> Json.num(s.endMs)))
    }
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

/** Job-level cost of everything attributed to one tag. */
final case class Cost(jobs: Long, stages: Long, tasks: Long, taskRunS: Double,
                      cpuS: Double, shuffleWriteBytes: Long, spillBytes: Long,
                      peakExecMemMb: Double) {
  /** Fields summed; peak memory is the max of the two. */
  def +(o: Cost): Cost = Cost(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    taskRunS + o.taskRunS, cpuS + o.cpuS, shuffleWriteBytes + o.shuffleWriteBytes,
    spillBytes + o.spillBytes, math.max(peakExecMemMb, o.peakExecMemMb))
}
object Cost {
  val zero: Cost = Cost(0, 0, 0, 0, 0, 0, 0, 0)

  /** What `later` added over `earlier`; peak memory stays `later`'s. */
  def delta(later: Cost, earlier: Cost): Cost = Cost(
    later.jobs - earlier.jobs, later.stages - earlier.stages,
    later.tasks - earlier.tasks, later.taskRunS - earlier.taskRunS,
    later.cpuS - earlier.cpuS, later.shuffleWriteBytes - earlier.shuffleWriteBytes,
    later.spillBytes - earlier.spillBytes, later.peakExecMemMb)
}

/** Benchmark-registered listener (traced runs only). Every job is
  * attributed to a tag: the streaming query it ran for
  * (`sql.streaming.queryId`, resolved to a tier name) or the job group the
  * benchmark sets around each call. Jobs with neither are "unattributed".
  */
final class JobCollector(tierOf: String => Option[String]) extends SparkListener {
  import JobCollector.JobRec
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageTag = mutable.HashMap.empty[Int, String]
  private val costs = mutable.HashMap.empty[String, Cost]

  val Unattributed = "-"

  // raw tags: a stream's jobs are keyed by query id and resolved to the
  // tier when read, so jobs that start before the id is registered count
  private def tagOf(p: Properties): String =
    if (p == null) Unattributed
    else Option(p.getProperty("sql.streaming.queryId")).map("qid:" + _)
      .orElse(Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse(Unattributed)

  private def resolve(raw: String): String =
    if (raw.startsWith("qid:")) tierOf(raw.drop(4)).getOrElse(raw) else raw

  @volatile private var lastEventNs = System.nanoTime()

  private def bump(tag: String)(f: Cost => Cost): Unit = {
    lastEventNs = System.nanoTime()
    costs(tag) = f(costs.getOrElse(tag, Cost.zero))
  }

  /** Wait (up to 5 s) until the asynchronous listener bus has delivered
    * every job's end and gone quiet for 200 ms.
    */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    def busy = synchronized(jobs.values.exists(_.endMs.isNaN)) ||
      System.nanoTime() - lastEventNs < 200000000L
    while (busy && System.nanoTime() < deadline) Thread.sleep(20)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = tagOf(e.properties)
    jobs(e.jobId) = JobRec(e.jobId, tag, e.time.toDouble, Double.NaN)
    e.stageIds.foreach(s => stageTag.getOrElseUpdate(s, tag))
    bump(tag)(c => c.copy(jobs = c.jobs + 1))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    lastEventNs = System.nanoTime()
    jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val tag = stageTag.getOrElse(e.stageInfo.stageId, Unattributed)
    bump(tag)(c => c.copy(stages = c.stages + 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val tag = stageTag.getOrElse(e.stageId, Unattributed)
    val m = e.taskMetrics
    if (m != null) bump(tag)(c => c + Cost(0, 0, 1, m.executorRunTime / 1e3,
      m.executorCpuTime / 1e9, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled,
      m.peakExecutionMemory / 1048576.0))
  }

  /** Per resolved tag, cumulative so far. */
  def snapshot: Map[String, Cost] = synchronized(
    costs.toSeq.groupBy(kv => resolve(kv._1)).map { case (t, kvs) =>
      t -> kvs.map(_._2).foldLeft(Cost.zero)(_ + _)
    })

  def cost(tag: String): Cost = snapshot.getOrElse(tag, Cost.zero)

  /** Share of executor task time no tag claimed. */
  def unattributedShare: Double = {
    val s = snapshot
    val total = s.values.map(_.taskRunS).sum
    if (total <= 0) 0.0 else s.get(Unattributed).map(_.taskRunS).getOrElse(0.0) / total
  }

  /** (start, end) of finished jobs whose resolved tag satisfies `p`. */
  def jobIntervals(p: String => Boolean): Seq[(Double, Double)] = synchronized(
    jobs.values.filter(j => p(resolve(j.tag)) && !j.endMs.isNaN)
      .map(j => (j.startMs, j.endMs)).toList)
}

object JobCollector {
  final case class JobRec(id: Int, tag: String, startMs: Double, var endMs: Double)
}

object Intervals {
  /** Length of `[lo, hi]` not covered by the union of `xs`, in seconds. */
  def uncoveredS(lo: Double, hi: Double, xs: Seq[(Double, Double)]): Double = {
    val clipped = xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { covered += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) covered += curB - curA
    math.max(0.0, (hi - lo) - covered) / 1e3
  }
}
