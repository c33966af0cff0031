package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Synthetic

/** Deterministic Debezium-envelope change-log generator for the CDC
  * workloads. Every create image is a row of `graft.sources.Synthetic`
  * (customers, two accounts per customer, transactions; the `sources`
  * layer), fetched per file; this class interleaves them with updates,
  * deletes, replays and corrupt lines and writes the envelopes
  * `graft.cdc.Envelope.parse` consumes. One seed gives one byte-identical
  * sequence of landing files.
  *
  * Change mix, per loop of the reference generator (fake_generator.py:
  * 10 customers, 20 accounts and 50 transactions per loop, BASELINE.md):
  *  - creates in the reference's ratio: 10 customers (each followed by its
  *    two accounts) and 50 transactions;
  *  - 25 account balance updates and 10 customer email updates. The
  *    reference generator only inserts, so these two shares are an
  *    assumption (one balance change per two transactions, one email
  *    change per new customer), as is the hot set: 16 accounts take 30%
  *    of the balance updates, so key skew is present;
  *  - one transaction delete, a customer delete every other loop
  *    (~1.3% deletes), one verbatim replay of a recent envelope (~0.9%)
  *    and a corrupt line every fourth loop.
  * The actions of a loop run in a seeded shuffled order. File 0 opens
  * with a base population of 50 customers, so the first file's
  * transactions have accounts to reference. A file's transactions
  * reference only accounts created before the file. Accounts are never
  * deleted: the gold commit audits every transaction's account FK
  * against the live account dimension.
  */
object Gen {
  val BaseEpochS = 1704067200L // 2024-01-01T00:00:00Z
  val BaseCustomers = 50
  val LoopCustomers = 10
  val LoopTxns = 50
  val LoopBalanceUpdates = 25
  val LoopEmailUpdates = 10
  /** Mean lines per loop: creates, updates, 1.5 deletes, a replay and a
    * quarter corrupt line.
    */
  val LinesPerLoop: Double = LoopCustomers * 3 + LoopTxns + LoopBalanceUpdates +
    LoopEmailUpdates + 1.5 + 1 + 0.25
  val HotAccounts = 16
  /** Customers fetched from Synthetic per call, at least: a trickle run's
    * ~900 in one call.
    */
  val CustomerChunk = 1024
  val HotShare = 0.3

  sealed trait Image { def id: Long }
  final case class Cust(id: Long, first: String, last: String, email: String,
                        createdS: Long) extends Image
  final case class Acct(id: Long, customerId: Long, accountType: String,
                        balanceCents: Long, createdS: Long) extends Image
  final case class Txn(id: Long, accountId: Long, txnType: String,
                       amountCents: Long, related: Option[Long],
                       createdS: Long) extends Image

  /** One delivered change. `image` is the after-image, or the before-image
    * for a delete (what the parser surfaces for op='d').
    */
  final case class Change(table: String, op: String, lsn: Long, image: Image) {
    def tsMs: Long = (BaseEpochS + lsn) * 1000L
  }

  /** A landing-file line: the envelope text and its change (None for a
    * corrupt line).
    */
  final case class Line(text: String, change: Option[Change])

  private def iso(s: Long): String =
    java.time.Instant.ofEpochSecond(s).toString

  private def money(cents: Long): String = java.math.BigDecimal.valueOf(cents, 2).toPlainString

  private def imageJson(i: Image): String = i match {
    case c: Cust =>
      s"""{"id":${c.id},"first_name":"${c.first}","last_name":"${c.last}","email":"${c.email}","created_at":"${iso(c.createdS)}"}"""
    case a: Acct =>
      s"""{"id":${a.id},"customer_id":${a.customerId},"account_type":"${a.accountType}","balance":${money(a.balanceCents)},"currency":"USD","created_at":"${iso(a.createdS)}"}"""
    case t: Txn =>
      val rel = t.related.map(_.toString).getOrElse("null")
      s"""{"id":${t.id},"account_id":${t.accountId},"txn_type":"${t.txnType}","amount":${money(t.amountCents)},"related_account_id":$rel,"status":"COMPLETED","created_at":"${iso(t.createdS)}"}"""
  }

  def envelope(c: Change): String = {
    val img = imageJson(c.image)
    val (before, after) = if (c.op == "d") (img, "null") else ("null", img)
    s"""{"payload":{"before":$before,"after":$after,"source":{"table":"${c.table}","lsn":${c.lsn},"ts_ms":${c.tsMs}},"op":"${c.op}","ts_ms":${c.tsMs}}}"""
  }

  private sealed trait Action
  private case object NewCustomer extends Action
  private case object NewTxn extends Action
  private case object BalanceUpdate extends Action
  private case object EmailUpdate extends Action
  private case object TxnDelete extends Action
  private case object CustomerDelete extends Action
  private case object Replay extends Action
  private case object Corrupt extends Action
}

final class Gen(spark: SparkSession, seed: Long, tracer: Tracer) {
  import Gen._

  private val rnd = new java.util.Random(seed)
  private val synthSeed = seed.toInt
  private var lsn = 0L
  private val customers = mutable.ArrayBuffer.empty[Cust]     // live
  private val accounts = mutable.ArrayBuffer.empty[Acct]
  private val txns = mutable.ArrayBuffer.empty[Txn]           // live, deletable
  private val undeletable = mutable.HashSet.empty[Long]       // replayed txns
  private val deletedTxns = mutable.HashSet.empty[Long]
  private val recent = new Array[Change](4096)
  private var recentN = 0L
  private var custMade = 0L
  private val custBuf = mutable.Queue.empty[(Cust, Seq[Acct])]
  private var txnMade = 0L

  // ── create images from graft.sources.Synthetic ────────────────────────
  // Synthetic rows are a pure function of (id, seed) (and, for
  // transactions, the account count), so rows o+1..o+n of an (o+n)-row
  // table are the next n creates of one long seeded table.

  private def secs(r: Row, i: Int): Long = r.getTimestamp(i).getTime / 1000L
  private def cents(r: Row, i: Int): Long = math.round(r.getDouble(i) * 100)

  private def rows(df: DataFrame, from: Long): Seq[Row] =
    tracer.span("sources", "Synthetic", "datagen")(Main.inJobGroup(spark, "sources")(
      df.filter(col("id") > from).collect().toSeq
        .sortBy(_.getAs[Number](0).longValue)))

  /** The next `n` customers, each with its two accounts. Synthetic is
    * asked for at least [[CustomerChunk]] at a time and the rest kept for
    * later files: the rows are the same, with fewer set-up jobs.
    */
  private def fetchCustomers(n: Int): Seq[(Cust, Seq[Acct])] = {
    if (custBuf.size < n) {
      val m = math.max(n - custBuf.size, CustomerChunk)
      val cs = rows(Synthetic.customers(spark, custMade + m, synthSeed), custMade).map(r =>
        Cust(r.getInt(0).toLong, r.getString(1), r.getString(2), r.getString(3), secs(r, 4)))
      val as = rows(Synthetic.accounts(spark, custMade + m, synthSeed), 2 * custMade).map(r =>
        Acct(r.getInt(0).toLong, r.getInt(1).toLong, r.getString(2), cents(r, 3), secs(r, 5)))
      custMade += m
      val byCust = as.groupBy(_.customerId)
      custBuf ++= cs.map(c => c -> byCust(c.id).sortBy(_.id))
    }
    Seq.fill(n)(custBuf.dequeue())
  }

  /** The next `n` transactions, over the accounts created so far. */
  private def fetchTxns(n: Int): Seq[Txn] = {
    val ts = rows(Synthetic.transactions(spark, txnMade + n, accounts.size.toLong,
      synthSeed), txnMade).map(r =>
      Txn(r.getLong(0), r.getInt(1).toLong, r.getString(2), cents(r, 3),
        if (r.isNullAt(4)) None else Some(r.getInt(4).toLong), secs(r, 6)))
    txnMade += n
    ts
  }

  // ── the change log ────────────────────────────────────────────────────

  private def emit(out: mutable.ArrayBuffer[Line], table: String, op: String,
                   image: Image): Unit = {
    lsn += 1
    val c = Change(table, op, lsn, image)
    out += Line(envelope(c), Some(c))
    recent((recentN % recent.length).toInt) = c
    recentN += 1
  }

  private def pickAccount(): Acct =
    if (rnd.nextDouble() < HotShare) accounts(rnd.nextInt(HotAccounts))
    else accounts(rnd.nextInt(accounts.size))

  private def addCustomer(out: mutable.ArrayBuffer[Line], c: Cust, as: Seq[Acct]): Unit = {
    emit(out, "customers", "c", c)
    customers += c
    as.foreach { a => emit(out, "accounts", "c", a); accounts += a }
  }

  private def removeTxn(i: Int): Txn = {
    val t = txns(i)
    val last = txns.last
    txns(i) = last
    txns.remove(txns.size - 1)
    t
  }

  private def shuffled(xs: Vector[Action]): Vector[Action] = {
    val a = xs.toArray
    for (i <- a.indices.reverse.dropRight(1)) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toVector
  }

  private def act(out: mutable.ArrayBuffer[Line], a: Action,
                  newCust: Iterator[(Cust, Seq[Acct])], newTxn: Iterator[Txn]): Unit =
    a match {
      case NewCustomer =>
        val (c, as) = newCust.next()
        addCustomer(out, c, as)
      case NewTxn =>
        val t = newTxn.next()
        emit(out, "transactions", "c", t)
        txns += t
      case BalanceUpdate =>
        val acc = pickAccount()
        val i = (acc.id - 1).toInt // accounts are never deleted: id k sits at k - 1
        val upd = acc.copy(balanceCents = 1000L + rnd.nextInt(99000))
        accounts(i) = upd
        emit(out, "accounts", "u", upd)
      case EmailUpdate =>
        val i = rnd.nextInt(customers.size)
        val c = customers(i)
        val upd = c.copy(email = s"user${c.id}.${lsn + 1}@example.com")
        customers(i) = upd
        emit(out, "customers", "u", upd)
      case TxnDelete =>
        // never a replayed transaction: a late replay of its create must
        // not race the tombstone through compaction
        val cands = if (txns.isEmpty) Seq.empty
          else (0 until 8).map(_ => rnd.nextInt(txns.size))
        cands.find(i => !undeletable.contains(txns(i).id)).foreach { i =>
          val t = removeTxn(i)
          deletedTxns += t.id
          emit(out, "transactions", "d", t)
        }
      case CustomerDelete =>
        if (customers.size > BaseCustomers) {
          val i = rnd.nextInt(customers.size)
          val c = customers(i)
          customers(i) = customers.last
          customers.remove(customers.size - 1)
          emit(out, "customers", "d", c)
        }
      case Replay =>
        // at-least-once replay of a recent envelope, delivered verbatim
        val avail = math.min(recentN, recent.length.toLong).toInt
        val c = recent(rnd.nextInt(avail))
        if (c.table != "transactions" || !deletedTxns.contains(c.image.id)) {
          if (c.table == "transactions") undeletable += c.image.id
          out += Line(envelope(c), Some(c))
        }
      case Corrupt =>
        val j = envelope(Change("accounts", "u", lsn, accounts(0)))
        out += Line(j.take(10 + rnd.nextInt(j.length / 2)), None)
    }

  /** About `n` lines: whole loops of the mix above. */
  def nextFile(n: Int): Vector[Line] = {
    val out = mutable.ArrayBuffer.empty[Line]
    if (accounts.isEmpty)
      fetchCustomers(BaseCustomers).foreach { case (c, as) => addCustomer(out, c, as) }
    val loops = math.max(1, math.round(n / LinesPerLoop).toInt)
    val newCust = fetchCustomers(loops * LoopCustomers).iterator
    val newTxn = fetchTxns(loops * LoopTxns).iterator
    (0 until loops).foreach { _ =>
      val extra = Vector.newBuilder[Action]
      if (rnd.nextBoolean()) extra += CustomerDelete
      if (rnd.nextInt(4) == 0) extra += Corrupt
      val loop = Vector.fill(LoopCustomers)(NewCustomer) ++ Vector.fill(LoopTxns)(NewTxn) ++
        Vector.fill(LoopBalanceUpdates)(BalanceUpdate) ++
        Vector.fill(LoopEmailUpdates)(EmailUpdate) ++
        Vector(TxnDelete, Replay) ++ extra.result()
      shuffled(loop).foreach(act(out, _, newCust, newTxn))
    }
    out.toVector
  }
}

/** The independent fold of a delivered change log: what the pipeline's
  * tables must hold, computed in plain Scala with no Spark and none of the
  * engine's code.
  */
object Fold {
  import Gen._

  /** One SCD2 version row, normalized for comparison. */
  final case class Version(id: Long, a: Long, b: String, op: String,
                           fromMs: Long, toMs: Option[Long])
  final case class TxnRow(id: Long, accountId: Long, txnType: String,
                          amountCents: Long)

  final case class Expected(customers: Seq[Version], accounts: Seq[Version],
                            txns: Seq[TxnRow], bronze: Map[String, Long],
                            quarantined: Long,
                            activity: Set[(Long, Long)],
                            agg: Map[(Long, String), (Long, Long)])

  /** SCD2 history of one dim: per key, distinct changes in ts order; a
    * version opens on the first non-delete, on a delete after a live
    * version, on a re-create after a delete, or when `check` changes.
    */
  private def scd2[T <: Image](changes: Seq[Change], check: T => Any,
                              norm: T => (Long, String)): Seq[Version] =
    changes.groupBy(_.image.id).toSeq.flatMap { case (id, cs) =>
      val seq = cs.distinct.sortBy(_.lsn)
      val kept = mutable.ArrayBuffer.empty[Change]
      seq.zipWithIndex.foreach { case (c, i) =>
        val isDel = c.op == "d"
        val keep =
          if (i == 0) !isDel
          else {
            val prev = seq(i - 1)
            val prevDel = prev.op == "d"
            if (isDel) !prevDel
            else prevDel || check(c.image.asInstanceOf[T]) != check(prev.image.asInstanceOf[T])
          }
        if (keep) kept += c
      }
      kept.indices.map { i =>
        val c = kept(i)
        val (a, b) = norm(c.image.asInstanceOf[T])
        Version(id, a, b, c.op, c.tsMs,
          if (i + 1 < kept.size) Some(kept(i + 1).tsMs) else None)
      }
    }

  def apply(lines: Seq[Line]): Expected = {
    val changes = lines.flatMap(_.change)
    val byTable = changes.groupBy(_.table)
    def of(t: String) = byTable.getOrElse(t, Seq.empty)
    val customers = scd2[Cust](of("customers"), _.email, c => (0L, c.email))
    val accounts = scd2[Acct](of("accounts"), _.balanceCents,
      a => (a.balanceCents, a.customerId.toString))
    val txns = of("transactions").groupBy(_.image.id).values.flatMap { cs =>
      val last = cs.maxBy(_.lsn)
      last.image match {
        case t: Txn if last.op != "d" =>
          Some(TxnRow(t.id, t.accountId, t.txnType, t.amountCents))
        case _ => None
      }
    }.toSeq
    val creates = of("transactions").filter(_.op == "c").map(_.image)
      .collect { case t: Txn => t }
    Expected(customers, accounts, txns,
      byTable.map { case (t, cs) => t -> cs.size.toLong },
      lines.count(_.change.isEmpty).toLong,
      creates.map(t => (t.accountId, t.createdS / 86400)).toSet,
      creates.groupBy(t => (t.createdS / 86400, t.txnType)).map {
        case (k, ts) => k -> ((ts.size.toLong, ts.map(_.amountCents).sum))
      })
  }
}
