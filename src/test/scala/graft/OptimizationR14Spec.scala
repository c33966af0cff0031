package graft

import org.apache.spark.sql.functions._

/** Focused pins for the round-14 optimization internals: the iterative
  * graph loops now use PLAN-LOCAL parallelism control (single-partition
  * frames under [[Width.SmallRows]] rows) instead of the r13
  * session-conf width pin — so they must mutate NO session confs, compose
  * under concurrency, and keep byte-identical outputs; pageRank must
  * materialize its edge frame exactly once (no candidate-plan
  * re-embedding); the erasure sweep's cluster tier joined the driver-side
  * pool but the receipt row order is a public contract.
  */
class OptimizationR14Spec extends SparkSpec {

  import spark.implicits._

  test("resolveClusters mutates no session conf and composes concurrently") {
    val parts0 = spark.conf.get("spark.sql.shuffle.partitions")
    val aqe0 = spark.conf.get("spark.sql.adaptive.enabled")
    // chain + star + singleton pair: exercises >1 pointer-doubling round
    val pairs = ((1L to 40L).map(i => (i, i + 1)) ++
      Seq((100L, 101L), (100L, 102L), (100L, 103L), (200L, 201L))).toDF("id_a", "id_b")
    val expected = ((1L to 41L).map(_ -> 1L) ++
      Seq(100L -> 100L, 101L -> 100L, 102L -> 100L, 103L -> 100L,
        200L -> 200L, 201L -> 200L)).toMap
    // 4 loops at once: the r13 semaphore is gone, so every concurrent
    // call must run fully pinned and none may leak planning confs
    val outs = Par.run((1 to 4).map(_ => () =>
      operators.Dedup.resolveClusters(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap))
    outs.foreach(out => assert(out == expected))
    assert(spark.conf.get("spark.sql.shuffle.partitions") == parts0)
    assert(spark.conf.get("spark.sql.adaptive.enabled") == aqe0)
  }

  test("pageRankInt: one edge materialization, shuffle-free plan, exact values") {
    // 3 -> 1, 2 -> 1, 1 -> 2 : hand-checkable fixed-point arithmetic
    val edges = Seq((3L, 1L), (2L, 1L), (1L, 2L)).toDF("src", "dst")
    val pr = operators.GraphOps.pageRankInt(edges, "src", "dst", iters = 1)
    // iter 1: inflow(1) = p/deg from 3 and 2 = 1000000 + 1000000;
    // inflow(2) = 1000000. p = 150000 + (85 * inflow) DIV 100
    val got = pr.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1850000L, 2L -> 1000000L, 3L -> 150000L))
    // the returned plan reads the CHECKPOINTED edge frame (no re-embedded
    // caller plan) and, for a small graph, plans no shuffle exchange —
    // the q169 before-plan carried 118 of them (plans/r14)
    val plan = pr.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"small-graph pageRank should plan shuffle-free, got:\n$plan")
    assert(plan.contains("Scan ExistingRDD"),
      "edge frame should be a checkpointed leaf")
  }

  test("Bpe merge-loop argmax plans are shuffle-free (corpus pass is not pinned)") {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    d: Long): Unit = plans.add(qe.executedPlan.toString)
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val df = Seq("aa ab aa ac", "ab aa").toDF("text")
      val m = operators.Bpe.train(df, "text", nMerges = 2).collect()
      assert(m.head.getString(1) == "a" && m.head.getString(2) == "a")
      // QueryExecutionListener events are delivered asynchronously
      org.apache.spark.ListenerBusDrain(spark)
      import scala.jdk.CollectionConverters._
      // the per-merge argmax collects (TakeOrdered over the vocab frame)
      // must plan without a shuffle; the ONE corpus-sized word count is
      // the plan allowed to exchange (ADVICE r13: it must NOT run at the
      // pinned loop width — no width pin exists at all now)
      val argmax = plans.asScala.filter(_.contains("TakeOrderedAndProject"))
        .filterNot(_.contains("Exchange hashpartitioning(w"))
      assert(argmax.nonEmpty, "expected captured argmax plans")
      argmax.foreach(p => assert(!p.contains("Exchange hashpartitioning"),
        s"merge-loop argmax should be shuffle-free:\n$p"))
    } finally spark.listenerManager.unregister(listener)
  }

  test("eraseDerived receipt rows keep tier order with the cluster tier pooled") {
    val d = "/root/testdata/sf0.001"
    val sst = Fixtures.search3Copy(spark, d)
    val cst = Fixtures.cluster3Copy(spark, d)
    val subj = Tables.documents(spark, d)
      .filter(pmod(col("doc_id"), lit(7)) === 2).select(col("doc_id"))
    val receipt = operators.ErasureSweep.eraseDerived(spark, subj,
      search = Seq(sst), cluster = Seq(cst), deferred = true)
      .select("artifact", "mode", "status").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    // search first, cluster after vector's slot — the pre-r14 public order
    assert(receipt == Seq(
      ("search_index", "deferred", "pending"),
      ("cluster_index", "deferred_structural", "pending")))
  }
}
