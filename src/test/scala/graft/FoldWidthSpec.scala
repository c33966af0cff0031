package graft

import java.sql.Timestamp

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.execution.QueryExecution
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
  * audit with no exchange and no broadcast; the same fold at session
  * width keeps its exchanges; schema-known committed reads still refuse
  * a drifted schema; an empty route stages nothing.
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

  private def fold(root: String, rows: Seq[Ev], id: Long, width: Width,
                   dims: Seq[Scd2Dim] = Seq(customers, accounts),
                   fact: DeltaFact = txns, df: Option[DataFrame] = None): Unit =
    MultiTableStream.foldBatchSized(spark, root,
      df.getOrElse(rows.toDF().coalesce(1)), "route", dims, Seq.empty, id,
      Seq(fact), Seq(fk), graft.gold.BaseDelta.DefaultTombstoneBudget, _ => width)

  /** The executed plans (final adaptive plans) of every SQL action `body`
    * runs.
    */
  private def plans(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        seen.add(qe.executedPlan.toString)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try { body; org.apache.spark.ListenerBusDrain(spark) }
    finally spark.listenerManager.unregister(l)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }

  private def writes(ps: Seq[String]) = ps.filter(_.contains("InsertIntoHadoopFsRelation"))
  private def audits(ps: Seq[String]) = ps.filter(_.contains("LeftAnti"))

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
}
