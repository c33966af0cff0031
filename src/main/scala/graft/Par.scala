package graft

/** Run independent per-table/per-root storage tasks concurrently from the
  * driver — guide §2.6 (overlap independent jobs): Spark happily runs
  * several jobs at once inside one application; sequential driver code is
  * the only reason a three-table rewrite leaves 2/3 of the cores idle
  * during each table's straggler tail. Strictly for tasks over DISJOINT
  * state (different BaseDelta tables, different snapshot roots): each
  * task keeps its own commit protocol, so parallelism changes wall-clock,
  * never outcomes.
  *
  * Results return in input order. All tasks are allowed to settle before
  * the first failure is rethrown (unwrapped, so typed conflicts like
  * CommitConflictException keep their type) — no half-running task
  * outlives the call.
  */
private[graft] object Par {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Some call sites run inside Spark's analyzer with the
    * SessionCatalog MONITOR HELD — the TVF surface executes its
    * side-effecting builders during function resolution, which is
    * synchronized. A pool thread analyzing any plan needs that same
    * lock → deadlock (caught live: q267's erase_subjects). Builders
    * wrap themselves in [[sequentialInThisThread]]; [[run]] then
    * degrades to in-order execution on the calling thread.
    */
  private val seqOnly = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = java.lang.Boolean.FALSE
  }

  def sequentialInThisThread[A](body: => A): A = {
    val prev = seqOnly.get()
    seqOnly.set(java.lang.Boolean.TRUE)
    try body finally seqOnly.set(prev)
  }

  def run[A](tasks: Seq[() => A], maxThreads: Int = 4): Seq[A] = {
    if (seqOnly.get() || tasks.sizeIs <= 1) return tasks.map(_())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(maxThreads, tasks.size))
    try {
      val futs = tasks.map { t =>
        pool.submit(new java.util.concurrent.Callable[A] {
          def call(): A = t()
        })
      }
      // Try does NOT catch InterruptedException (fatal to NonFatal), so a
      // caller interrupt while blocked in f.get() propagates immediately —
      // cancel still-queued/running tasks and wait for the workers to
      // unwind before rethrowing, so no half-running task outlives the
      // call (tasks are idempotent commit protocols; cancellation is
      // safe, and a plain shutdown() would leave them running detached).
      // A second interrupt cuts the wait short: the interrupt status is
      // restored and the ORIGINAL interrupt is what propagates.
      val settled =
        try futs.map(f => scala.util.Try(f.get()))
        catch {
          case ie: InterruptedException =>
            pool.shutdownNow()
            try {
              if (!pool.awaitTermination(10, java.util.concurrent.TimeUnit.MINUTES))
                log.warn("Par.run: interrupted, but tasks still running after " +
                  "10 minutes; rethrowing with them detached")
            } catch {
              case _: InterruptedException => Thread.currentThread().interrupt()
            }
            throw ie
        }
      settled.foreach {
        case scala.util.Failure(e: java.util.concurrent.ExecutionException) =>
          throw e.getCause
        case scala.util.Failure(e) => throw e
        case _ => ()
      }
      settled.map(_.get)
    } finally { pool.shutdown(); () }
  }
}
