package graft

import java.sql.Timestamp
import java.util.concurrent.CountDownLatch

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.streaming.MultiTableStream
import graft.streaming.MultiTableStream.{DeltaFact, Scd2Dim}

object FoldWidthSpec {
  /** One routed change row: customers, accounts and transactions share
    * the envelope's columns.
    */
  final case class Ev(route: String, id: Long, name: Option[String],
                      customer_id: Option[Long], balance: Option[Double],
                      account_id: Option[Long], amount: Option[Double],
                      op: String, ts: Timestamp)
}

/** The fold's [[Width]]: a small coordinator fold (two SCD2 dims, an
  * O(batch) fact and the FK audit) plans every staged write and the
  * audit with no exchange and no broadcast, runs interpreted and, warm,
  * compiles no generated class; the same fold at session width keeps its
  * exchanges and its codegen stages; [[Width.run]] leaves the session's
  * codegen confs as it found them; schema-known committed reads still
  * refuse a drifted schema; an empty route stages nothing.
  */
class FoldWidthSpec extends SparkSpec {
  import FoldWidthSpec.Ev
  import spark.implicits._

  private val customers = Scd2Dim("customers", "customers", Seq("id"),
    Seq("name"), "ts", opCol = Some("op"),
    project = _.select("id", "name", "op", "ts"))
  private val accounts = Scd2Dim("accounts", "accounts", Seq("id"),
    Seq("balance"), "ts", opCol = Some("op"),
    project = _.select("id", "customer_id", "balance", "op", "ts"))
  private val txns = DeltaFact("transactions", "transactions", Seq("id"),
    Seq("ts"), opCol = Some("op"),
    project = _.select("id", "account_id", "amount", "op", "ts"))
  private val fk = MultiTableStream.fkAudit("transactions", "account_id",
    "accounts", "id", Some("op"))

  private def cust(id: Long, name: String, t: String) =
    Ev("customers", id, Some(name), None, None, None, None, "u", ts(t))
  private def acct(id: Long, c: Long, bal: Double, t: String) =
    Ev("accounts", id, None, Some(c), Some(bal), None, None, "u", ts(t))
  private def txn(id: Long, a: Long, amt: Double, t: String) =
    Ev("transactions", id, None, None, None, Some(a), Some(amt), "c", ts(t))

  private val batch0 = Seq(
    cust(1, "ann", "2024-01-01 00:00:00"), cust(2, "bob", "2024-01-01 00:00:00"),
    acct(10, 1, 5.0, "2024-01-01 00:00:01"), acct(11, 2, 7.0, "2024-01-01 00:00:01"),
    txn(100, 10, 1.5, "2024-01-01 00:00:02"), txn(101, 11, 2.5, "2024-01-01 00:00:02"))
  private val batch1 = Seq(
    cust(1, "anne", "2024-01-02 00:00:00"),
    acct(10, 1, 3.5, "2024-01-02 00:00:01"),
    txn(102, 10, 1.5, "2024-01-02 00:00:02"))
  private val batch2 = Seq(
    cust(2, "bo", "2024-01-03 00:00:00"),
    acct(11, 2, 4.0, "2024-01-03 00:00:01"),
    txn(103, 11, 0.5, "2024-01-03 00:00:02"))

  private def fold(root: String, rows: Seq[Ev], id: Long, width: Width,
                   dims: Seq[Scd2Dim] = Seq(customers, accounts),
                   fact: DeltaFact = txns, df: Option[DataFrame] = None,
                   audit: MultiTableStream.Audit = fk): Unit =
    MultiTableStream.foldBatchSized(spark, root,
      df.getOrElse(rows.toDF().coalesce(1)), "route", dims, Seq.empty, id,
      Seq(fact), Seq(audit), graft.gold.BaseDelta.DefaultTombstoneBudget,
      _ => width)

  /** The executed plans (final adaptive plans) of every SQL action `body`
    * runs.
    */
  private def executed(body: => Unit): Seq[SparkPlan] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        seen.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try { body; org.apache.spark.ListenerBusDrain(spark) }
    finally spark.listenerManager.unregister(l)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }

  private def plans(body: => Unit): Seq[String] = executed(body).map(_.toString)

  private def writes(ps: Seq[String]) = ps.filter(_.contains("InsertIntoHadoopFsRelation"))
  private def audits(ps: Seq[String]) = ps.filter(_.contains("LeftAnti"))

  private object Aqe extends AdaptiveSparkPlanHelper
  private def wholeStage(p: SparkPlan): Boolean =
    Aqe.find(p)(_.isInstanceOf[WholeStageCodegenExec]).isDefined

  /** Generated classes Janino has compiled in this JVM so far. */
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private val codegenConfs = Seq(SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key,
    SQLConf.CODEGEN_FACTORY_MODE.key)
  /** The two codegen confs as the session has them set (absent: unset). */
  private def setConfs: Map[String, String] =
    spark.conf.getAll.filter { case (k, _) => codegenConfs.contains(k) }
  private def interpreted: Boolean =
    setConfs == Map(SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key -> "false",
      SQLConf.CODEGEN_FACTORY_MODE.key -> "NO_CODEGEN")
  /** `body` on a session whose codegen confs are unset before and after. */
  private def unsetAround(body: => Unit): Unit = {
    codegenConfs.foreach(spark.conf.unset)
    try body finally codegenConfs.foreach(spark.conf.unset)
  }

  test("a small fold plans its staged writes and its audit with no exchange and no broadcast") {
    assert(Width.ofFold(batch1.size) == Width.Single)
    val root = tmpDir("fold-width-small")
    fold(root, batch0, 0L, Width.Single)
    val ps = plans(fold(root, batch1, 1L, Width.Single))
    // two dim generations and the fact's delta
    assert(writes(ps).size == 3, ps.mkString("\n\n"))
    assert(audits(ps).size == 1, ps.mkString("\n\n"))
    (writes(ps) ++ audits(ps)).foreach(p =>
      assert(!p.contains("Exchange"), s"the small fold planned an exchange:\n$p"))
    val t = MultiTableStream.readCommitted(spark, root, Seq(txns))
    assert(t("transactions").count() == 3)
    assert(t("customers").filter($"effective_to".isNull).select("name")
      .as[String].collect().sorted.toSeq == Seq("anne", "bob"))
  }

  test("above the threshold the same fold keeps its exchanges") {
    assert(Width.ofFold(Width.FoldRows + 1) == Width.Session)
    val root = tmpDir("fold-width-wide")
    fold(root, batch0, 0L, Width.Session)
    val ps = plans(fold(root, batch1, 1L, Width.Session))
    assert(writes(ps).exists(_.contains("Exchange")), ps.mkString("\n\n"))
    assert(audits(ps).exists(_.contains("Exchange")), ps.mkString("\n\n"))
    // both widths commit the same tables
    val small = tmpDir("fold-width-same")
    fold(small, batch0, 0L, Width.Single)
    fold(small, batch1, 1L, Width.Single)
    def rows(r: String) = MultiTableStream.readCommitted(spark, r, Seq(txns))
      .toSeq.sortBy(_._1).flatMap { case (n, df) => df.collect().map(x => s"$n:$x") }
      .sorted
    assert(rows(root) == rows(small))
  }

  test("a committed generation missing a batch column fails loudly without evolution") {
    val root = tmpDir("fold-width-drift")
    fold(root, batch0, 0L, Width.Single)
    // the customers route grows a column the committed generation lacks
    val grown = customers.copy(project = _.select("id", "name", "customer_id", "op", "ts"))
    intercept[AnalysisException](
      fold(root, batch1, 1L, Width.Single, dims = Seq(grown, accounts)))
    // the fact's delta grows one: the audit's as-of read refuses it
    val grownFact = txns.copy(project = _.select("id", "account_id", "amount",
      "balance", "op", "ts"))
    intercept[AnalysisException](
      fold(root, batch1, 1L, Width.Single, fact = grownFact))
    assert(MultiTableStream.lastFoldedBatch(spark, root).contains(0L))
  }

  test("an empty route stages no delta dir") {
    val root = tmpDir("fold-width-empty")
    fold(root, batch0, 0L, Width.Single)
    fold(root, batch1.filter(_.route != "transactions"), 1L, Width.Single)
    assert(MultiTableStream.lastFoldedBatch(spark, root).contains(1L))
    assert(!new java.io.File(txns.deltaTable(root).deltaPath(1L)).exists())
    assert(new java.io.File(txns.deltaTable(root).deltaPath(0L)).exists())
    assert(MultiTableStream.readCommitted(spark, root, Seq(txns))("transactions")
      .count() == 2)
  }

  test("a warm single-width fold compiles no generated class") {
    val root = tmpDir("fold-width-compile")
    fold(root, batch0, 0L, Width.Single)
    fold(root, batch1, 1L, Width.Single)
    // the next batch is the same fold over new rows and a new batch id
    val before = compiles
    fold(root, batch2, 2L, Width.Single)
    assert(compiles - before == 0L,
      s"the warm fold compiled ${compiles - before} generated classes")
    assert(MultiTableStream.lastFoldedBatch(spark, root).contains(2L))
  }

  test("a single-width fold plans no whole-stage codegen; session width keeps it") {
    def staged(width: Width) = {
      val root = tmpDir("fold-width-codegen")
      fold(root, batch0, 0L, width)
      executed(fold(root, batch1, 1L, width))
        .filter(_.toString.contains("InsertIntoHadoopFsRelation"))
    }
    val single = staged(Width.Single)
    assert(single.size == 3)
    single.foreach(p => assert(!wholeStage(p), s"single width fused a stage:\n$p"))
    assert(staged(Width.Session).exists(wholeStage))
  }

  test("Width.run restores unset and explicitly set codegen confs, also on a throw") {
    unsetAround {
      Width.Single.run(spark)(assert(interpreted))
      assert(setConfs.isEmpty)
      Width.Session.run(spark)(assert(setConfs.isEmpty))
      intercept[IllegalStateException](
        Width.Single.run(spark)(throw new IllegalStateException("boom")))
      assert(setConfs.isEmpty)
      spark.conf.set(SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key, "true")
      Width.Single.run(spark)(assert(interpreted))
      assert(setConfs == Map(SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key -> "true"))
    }
  }

  test("a refused single-width fold leaves the session's codegen confs as they were") {
    unsetAround {
      val root = tmpDir("fold-width-refused")
      fold(root, batch0, 0L, Width.Single)
      val refuseAll = MultiTableStream.Audit("refuse_all",
        (t, _) => t("transactions"))
      intercept[MultiTableStream.AuditFailedException](
        fold(root, batch1, 1L, Width.Single, audit = refuseAll))
      assert(setConfs.isEmpty)
      assert(MultiTableStream.lastFoldedBatch(spark, root).contains(0L))
    }
  }

  test("two overlapping single-width folds on one session leave it as it was") {
    unsetAround {
      spark.conf.set(SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key, "true")
      val (rootA, rootB) = (tmpDir("fold-width-overlap-a"), tmpDir("fold-width-overlap-b"))
      val aOpen = new CountDownLatch(1)
      val bDone = new CountDownLatch(1)
      implicit val ec: ExecutionContext = ExecutionContext.global
      // A holds a scope open across B's whole fold; B's scope closes first
      val a = Future(Width.Single.run(spark) {
        fold(rootA, batch0, 0L, Width.Single)
        aOpen.countDown()
        bDone.await()
        fold(rootA, batch1, 1L, Width.Single)
      })
      try {
        assert(aOpen.await(5, java.util.concurrent.TimeUnit.MINUTES))
        fold(rootB, batch0, 0L, Width.Single)
        assert(interpreted, "B's close restored the confs while A's scope was open")
      } finally bDone.countDown()
      Await.result(a, 5.minutes)
      assert(setConfs == Map(SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key -> "true"))
      assert(MultiTableStream.lastFoldedBatch(spark, rootA).contains(1L))
      assert(MultiTableStream.lastFoldedBatch(spark, rootB).contains(0L))
    }
  }
}
