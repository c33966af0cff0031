package graft.gold

import org.apache.spark.sql.SparkSession

/** The JVM's memory-per-task-slot budget and the degradations the engine
  * applies automatically when a deployment runs below the measured
  * floors — slower-but-green instead of OOM, with no env overrides.
  *
  * The binding constraint below ~300 MB/core (soak-r9, scale-r10, and
  * the live lowmem-mode autopsies) is UNMANAGED per-task heap — spill-
  * merge read-ahead buffers (1 MB per open run, outside the task memory
  * manager), parquet writer row-group buffers, codegen scratch — times
  * the number of CONCURRENTLY RUNNING tasks. Slicing the data thinner
  * (more partitions) does not help: measured live, both a linear 8× and
  * a quadratic 64× partition scale at 96 MB/core still died in thread
  * "read-ahead", because 32 concurrent tasks each kept their fixed
  * overhead. What works is capping IN-FLIGHT tasks: run the memory-
  * hungry shuffle stages at `heap / floor` partitions, so each running
  * task owns at least the floor — fewer, bigger tasks that spill less
  * and whose overhead fits. Idle slots are the price; green is the
  * product.
  *
  * Second lever: parquet writer row groups shrink under the floor
  * (128 MB default × concurrent writers alone exceeds a 3 GB JVM).
  *
  * The session-conf degradations hold only inside
  * [[withLowMemoryProfile]]'s scope; nothing degrades a session for its
  * lifetime.
  */
object MemoryBudget {

  /** MB of JVM heap per task slot. `graft.test.mbPerCore` overrides
    * detection for deterministic specs.
    */
  def mbPerSlot(spark: SparkSession): Long = {
    val slots = math.max(spark.sparkContext.defaultParallelism, 1)
    sys.props.get("graft.test.mbPerCore").map(_.toLong)
      .getOrElse(Runtime.getRuntime.maxMemory() / 1048576L / slots)
  }

  /** Generic floor (MB per task slot) below which degradations engage. */
  val FloorMb = 300L

  private val ShuffleKey = "spark.sql.shuffle.partitions"

  /** The in-flight cap: how many concurrent tasks the heap can give
    * `floorMb` each (≥1). Uses the effective total (slots × per-slot
    * budget) so the test override composes.
    */
  private def slotCap(spark: SparkSession, floorMb: Long): Int = {
    val slots = math.max(spark.sparkContext.defaultParallelism, 1)
    val totalMb = mbPerSlot(spark) * slots
    math.max(1L, totalMb / floorMb).toInt
  }

  /** The session's shuffle width, capped at `floorMb`'s in-flight cap. */
  private def cappedParts(spark: SparkSession, floorMb: Long): Int =
    math.min(spark.conf.get(ShuffleKey, "200").toInt, slotCap(spark, floorMb))

  /** Low-memory degradation, scoped to `body`: when the budget sits below
    * `floorMb`, `body` runs with the session's default shuffle width
    * LOWERED to the in-flight cap (every downstream aggregation runs
    * ≤ cap tasks at once, each owning at least the floor) and
    * auto-broadcast OFF. Auto-broadcasts size themselves from compressed
    * stats, which under-estimate in-memory bytes — at a sub-floor heap a
    * single optimistic auto-broadcast is fatal (measured live at 3 GB/32).
    * The engine's own broadcast() hints stay: those frames are
    * deliberately bounded (request-sized subjects, nCells centroids).
    * No-op at or above the floor.
    *
    * Both values are computed at entry from the session as it stands, so
    * a nested scope with a tighter floor tightens the cap and a looser
    * one never loosens it. [[graft.ScopedConf]] restores the session's
    * own values — a deployment-configured broadcast threshold included —
    * when the last scope closes, also on a throw. The eager operators
    * that own their actions (the cluster fold / re-pair family) wrap
    * their bodies here, so a 267-query mixed workload doesn't pay
    * shuffle-capped, broadcast-less plans on every query that happens to
    * run AFTER the first sub-floor fold — a session-lifetime degradation
    * measured as a uniform ~1.2× across the whole benchmark suite at
    * 256 MB/slot. Concurrent queries on other threads DURING a scope
    * still see the degraded confs: conservative-correct, since a
    * memory-starved fold in flight is exactly when an optimistic
    * auto-broadcast is fatal.
    */
  def withLowMemoryProfile[A](spark: SparkSession,
                              floorMb: Long = FloorMb)(body: => A): A =
    if (mbPerSlot(spark) >= floorMb) body
    else graft.ScopedConf.within(spark, Seq(
      ShuffleKey -> cappedParts(spark, floorMb).toString,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1"))(body)

  /** Partition count for a pinned pair shuffle under `floorMb` — the
    * session's shuffle width capped at the in-flight cap — or None
    * at/above the floor. Pinned repartitions are AQE-coalesce-exempt, so
    * the cap holds exactly on the stages measured to OOM first.
    */
  private[graft] def pairParts(spark: SparkSession,
                               floorMb: Long): Option[Int] =
    Option.when(mbPerSlot(spark) < floorMb)(cappedParts(spark, floorMb))

  /** Parquet writer options for the current budget: empty at or above
    * the floor; below it, row groups shrink to ~budget/4 (floor 4 MB)
    * so `slots × rowGroup` stays a small fraction of the heap.
    */
  def parquetWriteOptions(spark: SparkSession): Map[String, String] = {
    val mb = mbPerSlot(spark)
    if (mb >= FloorMb) Map.empty
    else Map("parquet.block.size" ->
      (math.max(4L, mb / 4) * 1048576L).toString)
  }
}
