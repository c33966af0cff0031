package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.gold.{CommitCas, CommitConflictException}
import graft.operators.{ClusterIndex, SearchIndex, VectorIndex}

/** Streaming maintenance of the three persisted LLM-pipeline indexes —
  * each micro-batch runs the index's batch fold, which is already
  * exactly-once under replay (generation ledgers + batch-id-keyed delta
  * overwrites), so a checkpoint restart or redelivered trigger converges
  * to the same state the batch path produces. These are thin
  * `foreachBatch` shells by design: the fold IS the operator, the
  * stream only schedules it (the `MultiTableStream.start` pattern
  * applied to the index tier).
  *
  * Out-of-band erasure (`erase`/`eraseLogical`) against a live stream is
  * in-contract: a maintenance commit landing inside a fold's read
  * window surfaces as the typed retryable conflict, which the sink
  * absorbs with a bounded in-batch retry (the fold's per-table applied
  * ledgers make each retry exactly the remaining work). A conflict
  * storm beyond the bound fails the batch and falls back to the
  * checkpoint-restart replay — the same convergence, paid with a
  * restart.
  */
object IndexStreams {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Budget-tripped tombstone materialization, run as post-fold batch
    * maintenance: any state table whose acked-but-unmaterialized erasure
    * backlog exceeds `budget` takes the full fold that rewrites and
    * retires its ledgers ([[graft.gold.BaseDelta.materializePendingIfOverBudget]]),
    * so a long-running sink never lets every read pay an unbounded pile
    * of per-ledger anti-joins. Best-effort within the batch: a typed
    * conflict (an out-of-band eraser racing the fold) is retried briefly
    * and otherwise left for the NEXT batch's check — the backlog signal
    * re-fires until the upgrade lands, so the budget is enforced within
    * a bounded number of batches, never silently dropped.
    */
  private def materializeOverBudget(tables: Seq[graft.gold.BaseDelta.Table],
                                    spark: org.apache.spark.sql.SparkSession,
                                    budget: Long): Unit =
    tables.foreach { t =>
      try CommitCas.retryConflict(3) {
        graft.gold.BaseDelta.materializePendingIfOverBudget(spark, t, budget)
      }
      catch {
        case e: CommitConflictException =>
          log.warn(s"IndexStreams: over-budget materialization of ${t.path} " +
            "lost to a concurrent commit; the next batch re-checks the " +
            s"budget (${e.getMessage})")
      }
    }

  /** Continuously fold documents (idCol, textCol) into a BM25 + phrase
    * [[SearchIndex]].
    */
  def searchIndexStream(docs: DataFrame, st: SearchIndex.State,
                        checkpoint: String, idCol: String, textCol: String,
                        maxDeltas: Int = 16,
                        trigger: Trigger = Trigger.ProcessingTime("1 minute"),
                        tombstoneBudget: Long = graft.gold.BaseDelta.DefaultTombstoneBudget): StreamingQuery =
    docs.writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!b.isEmpty)
          CommitCas.retryConflict(5) {
            SearchIndex.fold(b.sparkSession, st, b.toDF(), id, idCol,
              textCol, maxDeltas)
          }
        materializeOverBudget(Seq(st.postingsTable, st.docstatsTable,
          st.positionsTable), b.sparkSession, tombstoneBudget)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** Governance-pane wiring for a streaming index sink: after each
    * batch's fold + maintenance, [[graft.operators.ErasureSweep.refreshGovernancePane]]
    * appends the current receipts/backlogs/markers snapshot (stamped with
    * the batch id) to the durable pane mart at `paneRoot` — ops watch the
    * erasure state CONVERGE live instead of querying after the run.
    * `ledgerRoot` is the sweep-receipts ledger the sink's erasers write
    * (empty until the first ledgered sweep — the pane shows an empty
    * receipts section, not an error).
    */
  case class PaneConfig(paneRoot: String, ledgerRoot: String)

  /** Continuously fold documents into the incremental near-dup
    * [[ClusterIndex]] (persisted postings + cluster assignments).
    */
  def clusterIndexStream(docs: DataFrame, st: ClusterIndex.State,
                         checkpoint: String, idCol: String, textCol: String,
                         k: Int = 3, threshold: Double = 0.2,
                         maxStateDf: Int = graft.operators.Dedup.DefaultMaxBucket,
                         maxDeltas: Int = 16,
                         trigger: Trigger = Trigger.ProcessingTime("1 minute"),
                         tombstoneBudget: Long = graft.gold.BaseDelta.DefaultTombstoneBudget,
                         pane: Option[PaneConfig] = None): StreamingQuery =
    docs.writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!b.isEmpty)
          CommitCas.retryConflict(5) {
            ClusterIndex.fold(b.sparkSession, st, b.toDF(), id, idCol,
              textCol, k, threshold, maxStateDf, maxDeltas)
          }
        materializeOverBudget(Seq(st.postingsTable, st.clustersTable),
          b.sparkSession, tombstoneBudget)
        // the async half of an over-budget deferred erasure: re-pair the
        // stale-merged clusters it marked — this per-batch cadence IS
        // the documented staleness bound; a typed conflict defers to the
        // next trigger
        try { CommitCas.retryConflict(3) {
          ClusterIndex.repairStructural(b.sparkSession, st, threshold)
        }; () }
        catch {
          case e: CommitConflictException =>
            log.warn(s"IndexStreams: structural repair of ${st.root} lost " +
              s"to a concurrent commit at batch $id; the next batch " +
              s"retries (${e.getMessage})")
        }
        // pane refresh LAST, so the snapshot reflects this batch's fold,
        // materializations, and repairs; batch-id idempotent like the fold
        pane.foreach(p =>
          graft.operators.ErasureSweep.refreshGovernancePane(b.sparkSession,
            p.paneRoot, id, p.ledgerRoot, cluster = Seq(st),
            tombstoneBudget = tombstoneBudget))
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** Continuously fold embeddings (idCol, vecCol) into the incremental
    * IVF [[VectorIndex]] (frozen quantizer + cell postings, optional PQ
    * codes).
    */
  def vectorIndexStream(embeddings: DataFrame, st: VectorIndex.State,
                        checkpoint: String, idCol: String, vecCol: String,
                        nCells: Int = 16, refineIters: Int = 0,
                        maxDeltas: Int = 64, pqM: Int = 0, pqK: Int = 16,
                        trigger: Trigger = Trigger.ProcessingTime("1 minute"),
                        tombstoneBudget: Long = graft.gold.BaseDelta.DefaultTombstoneBudget): StreamingQuery =
    embeddings.writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        CommitCas.retryConflict(5) {
          VectorIndex.fold(b.sparkSession, st, b.toDF(), id, idCol, vecCol,
            nCells, refineIters, maxDeltas, pqM, pqK)
        }
        materializeOverBudget(Seq(st.postingsTable), b.sparkSession,
          tombstoneBudget)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** Continuously fold embeddings into the hyperplane-LSH
    * [[graft.operators.LshVectorIndex]]. The family is data-independent,
    * so this sink has no refresh/repair arm at all — fold + budgeted
    * materialization is the WHOLE maintenance story (the structural
    * contrast with [[vectorIndexStream]]'s drift-prone quantizer).
    * Replays ride the per-table batch ledgers: a foreachBatch retry
    * after a crash between the two appends completes only the missing
    * side (bands recompute deterministically from the frozen planes).
    */
  def lshVectorIndexStream(embeddings: DataFrame,
                           st: graft.operators.LshVectorIndex.State,
                           checkpoint: String, idCol: String, vecCol: String,
                           numTables: Int = 8, numPlanes: Int = 8,
                           maxDeltas: Int = 64,
                           trigger: Trigger = Trigger.ProcessingTime("1 minute"),
                           tombstoneBudget: Long = graft.gold.BaseDelta.DefaultTombstoneBudget,
                           pane: Option[PaneConfig] = None): StreamingQuery =
    embeddings.writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        CommitCas.retryConflict(5) {
          graft.operators.LshVectorIndex.fold(b.sparkSession, st, b.toDF(),
            id, idCol, vecCol, numTables, numPlanes, maxDeltas)
        }
        materializeOverBudget(Seq(st.vectorsTable, st.bandsTable),
          b.sparkSession, tombstoneBudget)
        pane.foreach(p =>
          graft.operators.ErasureSweep.refreshGovernancePane(b.sparkSession,
            p.paneRoot, id, p.ledgerRoot, lsh = Seq(st),
            tombstoneBudget = tombstoneBudget))
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
}
