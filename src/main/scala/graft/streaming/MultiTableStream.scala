package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.Width
import graft.gold.{BaseDelta, MultiSnapshot, Scd2Merge, UpsertByKey}

/** Streaming multi-table ATOMIC commit — each micro-batch folds the SCD2
  * dimension(s) AND the fact table(s) it touches, then publishes ALL of
  * them through ONE [[MultiSnapshot]] coordinator pointer. This closes
  * the banking FK invariant end-to-end in streaming (readme.md:213-217's
  * orphan-transaction worry): the reference's stack can load
  * `fact_transactions` minutes before the `dim_accounts` snapshot run,
  * and a reader in that gap sees transactions whose account has no
  * current dim row. Here a reader resolving the coordinator gets the dim
  * generation and the fact generation written BY THE SAME micro-batch —
  * the torn pair is unrepresentable, across every batch boundary, crash,
  * and replay.
  *
  * Per micro-batch b (one `foreachBatch` body, batch-callable for tests
  * via [[foldBatch]]) — write–audit–publish over one pinned read of the
  * batch:
  *
  *  1. ledger check — the committed `@sys.batch` marker is the
  *     exactly-once ledger (see [[BatchLedger]]): a replayed batch sees
  *     its id already folded and skips whole — no table advances twice.
  *     Otherwise the batch is persisted once for the whole fold (every
  *     route slice, fold and audit reads that one copy, never the source
  *     again) and unpersisted when the fold ends. ONE job materializes
  *     it: a per-route row count, which sizes the fold's
  *     [[graft.Width]] (with the committed inputs' footer row counts)
  *     and tells which routes are empty.
  *  2. route + fold — the batch splits by `routeCol` (the topic/table
  *     column `fromKafkaRouted` carries through the envelope), each slice
  *     projected to its table's shape by the spec's `project`. Dims fold
  *     through [[Scd2Merge.applyLog]] (exact-changelog SCD2, per-row
  *     effective timestamps, tombstones via `opCol`), facts through
  *     [[UpsertByKey.mergeBatch]] (latest-wins keyed upsert with CDC
  *     deletes), each reading the generation committed by the
  *     coordinator — never a staged orphan.
  *  3. write — delta facts stage their batch-id delta dir, then
  *     `MultiSnapshot.stage` reserves and writes every new dim/fact
  *     generation (durable, invisible: no commit references them).
  *  4. audit — each [[Audit]] runs over the STAGED generation dirs (read
  *     with the written schema) and the delta facts as of this batch: the
  *     exact bytes the flip would publish, with no second fold. Any
  *     violation refuses the batch; its staged generations stay invisible
  *     orphans, as after a lost CAS.
  *  5. publish — `MultiSnapshot.commit` flips the single coordinator
  *     pointer (the `@sys.batch` marker rides the same flip). Crash
  *     anywhere before the pointer PUT leaves the previous commit fully
  *     intact; the replayed batch recomputes from the SAME committed
  *     inputs (the folds are deterministic) and stages again, and
  *     `MultiSnapshot.vacuum` or a later publish's retirement reclaims
  *     the orphans.
  *
  * Scale shape: per batch, each dim fold is O(touched keys' rows) window
  * work (applyLog's semi/anti split) and each fact merge is the keyed
  * merge the sink already pays — the coordinator adds one small-file PUT
  * per batch, nothing data-sized. Dimension tables rewrite per batch
  * (dimension-sized by assumption); a fact that outgrows whole-table
  * rewrites belongs in BaseDelta with the commit pointer naming its
  * manifest — same protocol, O(batch) staging. The fold's width is the
  * one [[graft.Width]] policy's fold rule ([[graft.Width.ofFold]]; the
  * policy's scaladoc has the rationale and the measured threshold),
  * decided from the rows the fold reads — the batch plus the committed
  * inputs' footer row counts — and passed to every read, merge and audit.
  * Everything after that decision (slices, folds, stage, audit, commit
  * and maintenance) runs inside [[graft.Width.run]], so a single-width
  * fold runs interpreted and a warm one compiles no generated class.
  * Committed inputs are read with the schema recorded in their footers,
  * never with an inference job.
  *
  * Concurrency contract: single writer (the stream), any number of
  * readers resolving the coordinator.
  */
object MultiTableStream {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** An SCD2 dimension fed by change-log rows routed at `route`.
    * `project` maps the routed slice (routeCol already dropped) to the
    * table's columns: key ++ payload ++ tsCol.
    */
  final case class Scd2Dim(table: String, route: String, keys: Seq[String],
                           checkCols: Seq[String], tsCol: String,
                           tieBreak: Seq[String] = Seq.empty,
                           opCol: Option[String] = None,
                           allowSchemaEvolution: Boolean = false,
                           project: DataFrame => DataFrame = identity)

  /** A keyed upsert fact fed by rows routed at `route` — whole-table
    * rewrite per batch (dimension-sized facts; a fact that outgrows this
    * belongs in [[DeltaFact]]).
    */
  final case class UpsertFact(table: String, route: String, keys: Seq[String],
                              orderCols: Seq[String],
                              opCol: Option[String] = None,
                              allowSchemaEvolution: Boolean = false,
                              project: DataFrame => DataFrame = identity)

  /** The O(batch) fact: state lives in a [[BaseDelta]] table (append-only
    * deltas + merge-on-read + periodic compaction), and the coordinator
    * commits only a POINTER (`@table = batchId`) in the same atomic flip
    * as the dims. Staging = the batch's own delta dir — durable but
    * invisible, because coordinator-resolved readers use
    * `BaseDelta.readAt(pointer)` and an uncommitted delta's id is above
    * every committed pointer. Per batch the fact pays one delta write,
    * never a table rewrite.
    *
    * Compaction note: `maxDeltas` bounds read amplification. A fold
    * raises `timeTravelFloor`, but the sink bounds each fold at the
    * PREVIOUS commit's pointer — the current and previous commits (the
    * coordinator's full retention window) always stay readable via
    * `readAt`; only readers pinned further back than the retained
    * commits lose their as-of point (the BaseDelta retention contract).
    *
    * `project` restates the route's rows (a column selection) and must
    * keep every row: the fold decides "an empty route stages nothing"
    * from the route's row count before projecting, so a filtering
    * project would stage an empty delta.
    */
  final case class DeltaFact(table: String, route: String, keys: Seq[String],
                             orderCols: Seq[String],
                             opCol: Option[String] = None,
                             maxDeltas: Int = 64,
                             allowSchemaEvolution: Boolean = false,
                             project: DataFrame => DataFrame = identity) {
    def deltaTable(root: String): BaseDelta.Table =
      BaseDelta.Table(s"$root/_delta/$table", keys, orderCols, opCol)
  }

  /** A write–audit–publish gate (Iceberg's WAP pattern, carrying the
    * reference's dbt-test semantics to the COMMIT): `check` receives the
    * candidate post-fold tables — dims and facts read back from their
    * STAGED generation dirs, delta facts as of this batch (staged delta
    * included) — and returns a VIOLATIONS frame. The audit only reads:
    * it runs after the write and before the pointer flip, so any
    * surviving row refuses the batch with readers on the previous
    * consistent commit and the staged state orphaned-but-invisible, and
    * a replay re-stages and re-audits (a poisoned batch keeps failing
    * until upstream or the audit is fixed — WAP's intent: bad data must
    * not publish silently). `check` also receives the fold's
    * [[graft.Width]], which its candidates are pinned to, so its own joins
    * can keep a small fold exchange-free. A single-width fold runs the
    * check interpreted ([[graft.Width.run]]), so every expression it
    * evaluates must have an interpreted `eval` — every built-in one does.
    */
  final case class Audit(name: String,
                         check: (Map[String, DataFrame], Width) => DataFrame)

  /** The banking FK audit: every fact `fkCol` must resolve to a LIVE
    * current dim row (readme.md:213-217's orphan check, enforced at
    * publish time instead of discovered after). In a single-width fold
    * the live keys are a shuffled-hash build, not a broadcast.
    */
  def fkAudit(factTable: String, fkCol: String, dimTable: String,
              dimKey: String, dimOpCol: Option[String] = None): Audit =
    Audit(s"fk_${factTable}_${fkCol}_to_$dimTable", { (t, width) =>
      val dim = t(dimTable)
      val live = dimOpCol match {
        case Some(op) => Scd2Merge.liveFromLog(dim, op)
        case None     => dim.filter(col(Scd2Merge.EffectiveTo).isNull)
      }
      t(factTable).join(width.hashSide(live.select(col(dimKey).as(fkCol)).distinct()),
        Seq(fkCol), "left_anti")
    })

  final class AuditFailedException(msg: String) extends RuntimeException(msg)

  /** Reserved coordinator pointer entry (`@sys.batch=<id>`) recording the
    * last batch id folded by [[foldBatch]] — THE exactly-once ledger. The
    * raw commit VERSION cannot be the ledger: out-of-band commits on the
    * same root (an [[graft.gold.Erasure.eraseCoordinated]] publish, a
    * manual repair) advance the version without consuming a batch id, and
    * a version-parity check would then skip the next real micro-batch —
    * one batch silently lost per erasure. The marker is carried forward
    * by every publish (MultiSnapshot commits are cumulative), so any
    * number of non-fold commits may interleave and the replay check stays
    * exact.
    */
  val BatchLedger = "sys.batch"

  /** The last batch id folded into the coordinator at `root`, if any. */
  def lastFoldedBatch(spark: SparkSession, root: String): Option[Long] =
    MultiSnapshot.currentCommit(spark, root)
      .flatMap(MultiSnapshot.pointer(_, BatchLedger))

  /** Fold ONE micro-batch into the coordinator. Batch-callable: the
    * streaming sink is exactly this, once per trigger.
    */
  def foldBatch(spark: SparkSession, root: String, batch: DataFrame,
                routeCol: String, dims: Seq[Scd2Dim],
                facts: Seq[UpsertFact], batchId: Long,
                deltaFacts: Seq[DeltaFact] = Seq.empty,
                audits: Seq[Audit] = Seq.empty,
                tombstoneBudget: Long = BaseDelta.DefaultTombstoneBudget): Unit =
    foldBatchSized(spark, root, batch, routeCol, dims, facts, batchId,
      deltaFacts, audits, tombstoneBudget, Width.ofFold)

  /** [[foldBatch]] with the width rule as an argument: `widthOf` maps the
    * rows the fold will read (batch plus committed inputs) to its
    * [[graft.Width]]. [[foldBatch]] passes `Width.ofFold`; a plan spec passes
    * a fixed width to pin both sides of the threshold.
    */
  private[graft] def foldBatchSized(spark: SparkSession, root: String,
      batch: DataFrame, routeCol: String, dims: Seq[Scd2Dim],
      facts: Seq[UpsertFact], batchId: Long, deltaFacts: Seq[DeltaFact],
      audits: Seq[Audit], tombstoneBudget: Long,
      widthOf: Long => Width): Unit = {
    require(dims.nonEmpty || facts.nonEmpty || deltaFacts.nonEmpty,
      "MultiTableStream: at least one table spec required")
    val names = dims.map(_.table) ++ facts.map(_.table) ++
      deltaFacts.map(_.table)
    require(names.distinct.size == names.size,
      s"MultiTableStream: duplicate table names in $names")
    require(!names.contains(BatchLedger),
      s"MultiTableStream: table name '$BatchLedger' is reserved for the batch ledger")
    val committed = MultiSnapshot.currentCommit(spark, root)
    // replayed batch: no-op. The ledger is the committed @sys.batch marker,
    // NOT the commit version — erasure/repair commits advance the version
    // without consuming a batch id (see BatchLedger).
    if (committed.flatMap(MultiSnapshot.pointer(_, BatchLedger))
        .exists(_ >= batchId)) return
    // one read of the micro-batch serves every slice, fold and audit
    val pinned = batch.persist()
    val width = try {
      // the whole read-fold-stage-commit phase is one transaction based
      // on `committed`: a concurrent erasure that retires the observed
      // generations mid-execution surfaces as the TYPED retryable
      // conflict (same race the commit point reports, caught earlier at
      // read execution), never a raw FILE_NOT_EXIST
      val (c, w) = MultiSnapshot.conflictIfRetired(spark, root, committed) {
        val gens = committed.map(_.gens).getOrElse(Map.empty)
        val routeRows = rowsByRoute(pinned, routeCol)
        val width = widthOf(routeRows.values.sum +
          committed.fold(0L)(MultiSnapshot.storedRows(spark, root, _,
            (dims.map(_.table) ++ facts.map(_.table)), Width.FoldRows)) +
          deltaFacts.map(f => BaseDelta.storedRows(spark, f.deltaTable(root),
            Width.FoldRows)).sum)
        // everything after the width decision runs in the width's mode
        // (interpreted when single: see graft.Width.run)
        width.run(spark) {
          val events = width.pin(pinned)

          def slice(route: String, project: DataFrame => DataFrame): DataFrame =
            project(events.filter(col(routeCol) === route).drop(routeCol))

          val newDims = dims.map { d =>
            val rows0 = slice(d.route, d.project)
            val snapshot0 =
              if (gens.contains(d.table))
                MultiSnapshot.readPinned(spark, root, committed.get, d.table, width)
              else width.pin(Scd2Merge.emptyLogSnapshot(rows0, d.tsCol))
            // opt-in evolution: an upstream ALTER TABLE that grew (or widened)
            // columns aligns both sides to the least-common-supertype union
            // schema — old versions read typed nulls for new columns, a NEW
            // check column opens versions where its value differs from null
            // (the correct SCD2 reading of "this attribute started existing").
            // Off by default so accidental drift fails loudly.
            val (snapshot, rows) =
              if (!d.allowSchemaEvolution) (snapshot0, rows0)
              else {
                import graft.sources.SchemaEvolution
                val target = SchemaEvolution.evolvedSchema(Seq(
                  snapshot0.drop(Scd2Merge.EffectiveFrom, Scd2Merge.EffectiveTo),
                  rows0.drop(d.tsCol)))
                val tsType = rows0.schema(d.tsCol).dataType
                val eff = org.apache.spark.sql.types.TimestampType
                (SchemaEvolution.alignTo(snapshot0,
                  target :+ (Scd2Merge.EffectiveFrom -> eff)
                    :+ (Scd2Merge.EffectiveTo -> eff)),
                  SchemaEvolution.alignTo(rows0, target :+ (d.tsCol -> tsType)))
              }
            d.table -> Scd2Merge.applyLog(snapshot, rows, d.keys, d.checkCols,
              d.tsCol, d.tieBreak, d.opCol, width)
          }
          val newFacts = facts.map { f =>
            val rows0 = slice(f.route, f.project)
            val existing0 =
              if (gens.contains(f.table))
                Some(MultiSnapshot.readPinned(spark, root, committed.get, f.table,
                  width))
              else None
            val (existing, rows) =
              if (!f.allowSchemaEvolution || existing0.isEmpty) (existing0, rows0)
              else {
                import graft.sources.SchemaEvolution
                val target = SchemaEvolution.evolvedSchema(Seq(existing0.get, rows0))
                (Some(SchemaEvolution.alignTo(existing0.get, target)),
                  SchemaEvolution.alignTo(rows0, target))
              }
            f.table -> UpsertByKey.mergeBatch(existing, rows, f.keys, f.orderCols,
              f.opCol, width)
          }
          // WRITE. O(batch) facts first: STAGE the delta dir (durable,
          // invisible — no committed pointer reaches this batch id yet); the
          // pointer advances to batchId in the same atomic flip as the dims.
          // An empty route stages nothing — readAt(batchId) then serves the
          // earlier deltas.
          val pointers = deltaFacts.map { f =>
            if (routeRows.getOrElse(f.route, 0L) > 0)
              // table-tier retired-state guard: an eager coordinated erasure
              // compacting/rewriting this member mid-append surfaces as the
              // typed conflict (the stream retries the batch), never a raw
              // task-level fs failure
              BaseDelta.conflictIfRetired(spark, f.deltaTable(root)) {
                BaseDelta.append(spark, f.deltaTable(root),
                  slice(f.route, f.project), batchId)
              }
            f.table -> batchId
          }.toMap
          // then the new generations. Every batch stages a commit (the
          // @sys.batch ledger marker rides it) even when all slices are
          // empty — the replay check needs the marker to advance
          // monotonically with batch ids. The publish is BASED ON the
          // commit this fold read (`committed`): an erasure/repair that
          // advanced one of our tables in between makes this batch a typed
          // conflict the stream retries, never a silent overwrite of the
          // erased state with our stale fold
          val staged = MultiSnapshot.stage(spark, root, committed,
            (newDims ++ newFacts).toMap, pointers + (BatchLedger -> batchId))
          // AUDIT the staged bytes before the flip (delta facts read as of
          // THIS batch — staged deltas included, which coordinator readers
          // cannot see yet)
          if (audits.nonEmpty) {
            val candidates: Map[String, DataFrame] =
              MultiSnapshot.readStaged(spark, staged, width) ++ deltaFacts.flatMap { f =>
                val t = f.deltaTable(root)
                val (base, ds) = BaseDelta.resolveSnapshot(spark, t)
                if (base.isEmpty && ds.isEmpty) None
                else Some(f.table -> BaseDelta.readAt(spark, t, batchId,
                  f.allowSchemaEvolution, width))
              }
            val failed = audits.flatMap { a =>
              val n = a.check(candidates, width).limit(21).count()
              if (n > 0) Some(s"${a.name} (${if (n > 20) ">20" else n} violations)")
              else None
            }
            if (failed.nonEmpty)
              throw new AuditFailedException(
                s"MultiTableStream: batch $batchId REFUSED at the publish gate — " +
                  s"${failed.mkString("; ")}. Readers keep commit " +
                  s"${committed.map(_.version).getOrElse(0L)}; staged state is " +
                  "invisible and a replay re-audits.")
          }
          // PUBLISH: the one pointer flip
          (MultiSnapshot.commit(spark, staged), width)
        }
      }
      require(c.version > committed.map(_.version).getOrElse(0L),
        s"MultiTableStream: version regressed to ${c.version} publishing " +
          s"batch $batchId")
      w
    } finally pinned.unpersist()
    // maintenance AFTER the flip, bounded at the PREVIOUS commit's
    // pointer: folding only deltas <= that pointer leaves this batch's
    // delta separable, so the time-travel floor lands on the previous
    // commit — BOTH retained commits stay readable via readAt for their
    // full retention cycle (matching MultiSnapshot's two-commit window)
    width.run(spark)(deltaFacts.foreach { f =>
      val t = f.deltaTable(root)
      val prevPtr = committed.flatMap(MultiSnapshot.pointer(_, f.table))
      if (BaseDelta.tombstoneBacklogOver(spark, t, tombstoneBudget))
        // BUDGET-TRIPPED erasure materialization: fold EVERYTHING through
        // the tombstone filter, bounded at THIS batch's just-committed
        // pointer (a full fold is what retires the ledgers — a
        // prev-pointer-bounded one keeps them pending). The floor lands
        // on the current commit, spending one readAt retention cycle —
        // the same trade the eager coordinated erasure makes, paid only
        // when the acked backlog has outgrown what every read should
        // keep anti-joining. A typed conflict (an eraser racing the
        // fold) leaves the upgrade to the next batch's re-check.
        try BaseDelta.compact(spark, t,
          transform = Some(identity), upTo = Some(batchId), width = width)
        catch {
          case e: graft.gold.CommitConflictException =>
            log.warn("MultiTableStream: budget-tripped compaction of " +
              s"${t.path} lost to a concurrent commit at batch $batchId; " +
              s"the next batch re-checks the budget (${e.getMessage})")
        }
      else if (BaseDelta.deltaBatches(spark, t).size > f.maxDeltas)
        BaseDelta.compact(spark, t, upTo = prevPtr, width = width)
    })
  }

  /** Rows per route value of the persisted batch `b` — ONE job, no
    * exchange (per-partition counts merged on the driver); this job is
    * also what fills `b`'s cache.
    */
  private def rowsByRoute(b: DataFrame, routeCol: String): Map[String, Long] = {
    def add(m: Map[String, Long], k: String, n: Long) =
      m.updated(k, m.getOrElse(k, 0L) + n)
    b.select(col(routeCol).cast("string")).rdd.aggregate(Map.empty[String, Long])(
      (m, r) => if (r.isNullAt(0)) m else add(m, r.getString(0), 1L),
      (a, o) => o.foldLeft(a) { case (m, (k, n)) => add(m, k, n) })
  }

  /** Start the streaming sink: one coordinator commit per micro-batch. */
  def start(parsed: DataFrame, root: String, checkpoint: String,
            routeCol: String, dims: Seq[Scd2Dim], facts: Seq[UpsertFact],
            deltaFacts: Seq[DeltaFact] = Seq.empty,
            audits: Seq[Audit] = Seq.empty,
            trigger: Trigger = Trigger.ProcessingTime("1 minute"),
            tombstoneBudget: Long = BaseDelta.DefaultTombstoneBudget): StreamingQuery =
    parsed.writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        foldBatch(b.sparkSession, root, b.toDF(), routeCol, dims, facts, id,
          deltaFacts, audits, tombstoneBudget)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** The consistent dim+fact readout of the CURRENT commit: every table
    * resolved from ONE coordinator read. `deltaFacts` members resolve
    * through their committed pointer (`BaseDelta.readAt`), so their view
    * is the state as of the SAME commit as the gen tables. For a
    * tombstone-maintained dim, join FK checks against
    * `Scd2Merge.liveFromLog(dim, opCol)` — live current versions only.
    */
  def readCommitted(spark: SparkSession, root: String,
                    deltaFacts: Seq[DeltaFact] = Seq.empty): Map[String, DataFrame] = {
    val genTables = MultiSnapshot.readAll(spark, root)
    val c = MultiSnapshot.currentCommit(spark, root).get
    genTables ++ deltaFacts.flatMap { f =>
      MultiSnapshot.pointer(c, f.table).flatMap { asOf =>
        val t = f.deltaTable(root)
        // a fact whose slices were all empty so far has a pointer but no
        // store yet — absent from the view rather than an error
        val (base, deltas) = BaseDelta.resolveSnapshot(spark, t)
        if (base.isEmpty && deltas.isEmpty) None
        else Some(f.table -> BaseDelta.readAt(spark, t, asOf,
          f.allowSchemaEvolution))
      }
    }
  }
}
