package graft

import org.apache.spark.sql.functions._

/** Focused pins for the round-13 optimization internals: the width-pinned
  * iterative loops must RESTORE session planning confs on every path, and
  * the driver-side parallel helper must preserve order, propagate typed
  * failures, and degrade to sequential inside analyzer-held scopes.
  */
class OptimizationR13Spec extends SparkSpec {

  import spark.implicits._

  test("resolveClusters restores shuffle width and AQE confs") {
    val parts0 = spark.conf.get("spark.sql.shuffle.partitions")
    val aqe0 = spark.conf.get("spark.sql.adaptive.enabled")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val out = operators.Dedup.resolveClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    assert(spark.conf.get("spark.sql.shuffle.partitions") == parts0)
    assert(spark.conf.get("spark.sql.adaptive.enabled") == aqe0)
  }

  test("Bpe.train restores confs and still learns the top merge") {
    val parts0 = spark.conf.get("spark.sql.shuffle.partitions")
    val aqe0 = spark.conf.get("spark.sql.adaptive.enabled")
    val df = Seq("aa ab aa", "aa").toDF("text")
    val m = operators.Bpe.train(df, "text", nMerges = 1).collect()
    assert(m.head.getString(1) == "a" && m.head.getString(2) == "a")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == parts0)
    assert(spark.conf.get("spark.sql.adaptive.enabled") == aqe0)
  }

  test("Par.run preserves input order and runs every task") {
    val out = Par.run((1 to 9).map(i => () => i * 10))
    assert(out == (1 to 9).map(_ * 10))
  }

  test("Par.run rethrows the task's own exception type after settling") {
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    val e = intercept[gold.CommitConflictException] {
      Par.run(Seq(
        () => { hits.incrementAndGet(); 1 },
        () => throw new gold.CommitConflictException("typed"),
        () => { hits.incrementAndGet(); 3 }))
    }
    assert(e.getMessage == "typed")
    // all tasks settled before the failure was rethrown
    assert(hits.get() == 2)
  }

  test("Par.run: a second interrupt rethrows the first with the status kept") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val release = new java.util.concurrent.atomic.AtomicBoolean(false)
    val started = new CountDownLatch(2)
    // tasks that swallow interrupts: shutdownNow cannot stop them, so the
    // caller is still in awaitTermination when the second interrupt lands
    val stubborn = () => {
      started.countDown()
      while (!release.get())
        try Thread.sleep(5) catch { case _: InterruptedException => () }
      1
    }
    @volatile var thrown: Throwable = null
    @volatile var statusAfter = false
    val caller = new Thread(() =>
      try { Par.run(Seq(stubborn, stubborn)); () }
      catch {
        case t: Throwable =>
          thrown = t; statusAfter = Thread.currentThread().isInterrupted
      })
    def awaitState(s: Thread.State): Unit = {
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
      while (caller.getState != s && System.nanoTime() < deadline) Thread.sleep(5)
      assert(caller.getState == s)
    }
    try {
      caller.start()
      assert(started.await(30, TimeUnit.SECONDS))
      awaitState(Thread.State.WAITING)       // blocked in Future.get
      caller.interrupt()
      awaitState(Thread.State.TIMED_WAITING) // blocked in awaitTermination
      caller.interrupt()
      caller.join(30000)
      assert(!caller.isAlive)
    } finally release.set(true)
    // the original interrupt (raised by Future.get), not a new one from
    // the cut-short wait
    assert(thrown.isInstanceOf[InterruptedException])
    assert(!thrown.getStackTrace.exists(_.getMethodName == "awaitTermination"))
    assert(thrown.getStackTrace.exists(_.getClassName.contains("FutureTask")))
    assert(statusAfter)
  }

  test("Par.run degrades to the calling thread inside sequential scopes") {
    val caller = Thread.currentThread()
    val threads = Par.sequentialInThisThread {
      Par.run(Seq(() => Thread.currentThread(), () => Thread.currentThread()))
    }
    assert(threads.forall(_ eq caller))
    // and parallelism is back outside the scope
    val outside = Par.run(Seq(() => Thread.currentThread(),
      () => Thread.currentThread()))
    assert(outside.exists(_ ne caller))
  }
}
