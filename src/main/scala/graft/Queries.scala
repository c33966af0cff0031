package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.cdc.Envelope
import graft.gold.{Marts, Scd2Merge, UpsertByKey}
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.silver.{CryptoShred, Masking, Quality, Reconcile, Staging}

/** The driver-checked query registry: one entry per implemented operator of
  * SURVEY.md §2 (+ the §7.5 / north-star extension operators), each with a
  * DuckDB-ANSI oracle where SQL can express it.
  *
  * Oracle-parity rules (SURVEY.md §7.5 risk 4):
  *  - money/value sums go through DECIMAL so they are exact and
  *    order-independent in both engines, then cast back to DOUBLE so the
  *    result schema matches;
  *  - every window/top-k has a total order (explicit tie-break keys);
  *  - float vector math folds left-to-right in DOUBLE in both engines and
  *    is rounded before ranking.
  */
object Queries {

  /** name -> (query fn, optional DuckDB oracle SQL) */
  case class Q(name: String,
               fn: (SparkSession, String) => DataFrame,
               oracle: Option[String])

  private def dec2(c: Column): Column = c.cast("decimal(18,2)")
  private def dec6(c: Column): Column = c.cast("decimal(38,6)")
  /** Exact, order-independent sum of a 2-dp double, surfaced as double. */
  private def sumMoney(c: Column): Column = sum(dec2(c)).cast("double")

  // Watermark split used by the incremental-upsert query: mid-range of the
  // events table (all SFs span 2024-01-01 .. 2024-01-30).
  private val Split = "2024-01-16 00:00:00"

  // The near-dup cluster frame q57/q61/q108 all build on, resolved ONCE per
  // (session, dataset) and reused — `resolveClusters` is iterative (its
  // rounds are driver-driven actions over checkpointed labels), so unlike a
  // lazy plan it cannot be deduplicated by Catalyst; recomputing it per
  // downstream query tripled the suite's most expensive path. Real
  // pipelines hold exactly this shape: resolve the components once, feed
  // representatives/split/filter stages from the same frame. The cache
  // holds the post-iteration checkpointed labels (lineage-free, a few
  // thousand (id, cluster_id) rows per corpus).
  private val clusterCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()
  private def docClusters(s: SparkSession, d: String): DataFrame =
    clusterCache.computeIfAbsent((s, d), _ =>
      Dedup.resolveClusters(
        Dedup.ngramJaccard(Tables.documents(s, d), "doc_id", "text",
          k = 3, threshold = 0.2)))

  // q131/q134 share one scored-pair frame the same way: the blocked
  // Jaro-Winkler verify is the expensive stage, the entity-resolution
  // composition only filters it tighter (0.97 ⊂ 0.96 on the ROUNDED
  // score, so the filter is exact). Persisted so the second query reads
  // the scored pairs, not the pair scan.
  private val jaroPairsCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()
  private def customerJaroPairs(s: SparkSession, d: String): DataFrame =
    jaroPairsCache.computeIfAbsent((s, d), _ =>
      operators.Linkage.fuzzyPairsJaro(
        s.read.parquet(s"$d/customer.parquet")
          .withColumn("name_pfx", substring(col("c_name"), 1, 12)),
        "c_custkey", "c_name", Seq("c_nationkey", "name_pfx"),
        minSim = 0.96)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  // q176/q177/q178 share ONE incrementally-folded mart state: events are
  // split into 3 event-time-interleaved micro-batches (the q142 recipe),
  // folded in batch-id order through AnalystMarts.foldBatch, and each
  // readout derives from the folded STATE only — raw events are never
  // rescanned by a readout, which is the property under test.
  private val martCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), gold.AnalystMarts.Mart]()
  private def foldedMart(s: SparkSession, d: String): gold.AnalystMarts.Mart =
    martCache.computeIfAbsent((s, d), _ => {
      val root = Scratch.dir("graft-mart") + "/m"
      val mart = gold.AnalystMarts.Mart(root)
      val ev = Tables.events(s, d)
        .select("user_id", "event_type", "ts", "value", "event_id")
      (0 to 2).foreach(i => gold.AnalystMarts.foldBatch(s,
        ev.filter(pmod(col("event_id"), lit(3)) === i), mart, i.toLong))
      mart
    })

  val all: Seq[Q] = Seq(

    // ── §2.4 row 18: latest-wins CDC dedup (stg_customers.sql:11-14,26) ──
    Q("q01_dedup_latest",
      (s, d) => Staging.dedupLatest(
        Tables.events(s, d), Seq("user_id", "event_type"),
        Seq(col("ts").desc, col("event_id").desc))
        .select("user_id", "event_type", "event_id", "ts", "value"),
      Some("""
        SELECT user_id, event_type, event_id, ts, value FROM (
          SELECT user_id, event_type, event_id, ts, value,
                 row_number() OVER (PARTITION BY user_id, event_type
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) WHERE rn = 1""")),

    // ── row 18 scale path: same dedup as a sort-free hash aggregation ──
    Q("q43_dedup_maxby",
      (s, d) => Staging.dedupLatestByMax(
        Tables.events(s, d), Seq("user_id", "event_type"), Seq("ts", "event_id"))
        .select("user_id", "event_type", "event_id", "ts", "value"),
      Some("""
        SELECT user_id, event_type, event_id, ts, value FROM (
          SELECT user_id, event_type, event_id, ts, value,
                 row_number() OVER (PARTITION BY user_id, event_type
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) WHERE rn = 1""")),

    // ── base+delta layout: append-only micro-batches + merge-on-read must
    //    equal a global latest-wins dedup regardless of how the stream was
    //    batched (the O(batch)-write upsert story; gold/BaseDelta.scala) ──
    Q("q45_base_delta",
      (s, d) => {
        val root = Scratch.dir("q45-bd") + "/t"
        val table = graft.gold.BaseDelta.Table(
          root, Seq("user_id", "event_type"), Seq("ts", "event_id"))
        val ev = Tables.events(s, d)
          .select("user_id", "event_type", "event_id", "ts", "value")
        // three uneven micro-batches by time range, appended out of order
        val cut1 = lit("2024-01-10 00:00:00").cast("timestamp")
        val cut2 = lit(Split).cast("timestamp")
        graft.gold.BaseDelta.append(s, table, ev.filter(col("ts") >= cut2), 2L)
        graft.gold.BaseDelta.append(s, table, ev.filter(col("ts") < cut1), 0L)
        graft.gold.BaseDelta.append(s, table,
          ev.filter(col("ts") >= cut1 && col("ts") < cut2), 1L)
        graft.gold.BaseDelta.compact(s, table)
        graft.gold.BaseDelta.read(s, table)
          .select("user_id", "event_type", "event_id", "ts", "value")
      },
      Some("""
        SELECT user_id, event_type, event_id, ts, value FROM (
          SELECT user_id, event_type, event_id, ts, value,
                 row_number() OVER (PARTITION BY user_id, event_type
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) WHERE rn = 1""")),

    // ── delete capture (readme.md:69): CDC merge with tombstones — a key
    //    whose latest incoming event is op='d' is removed from the sink ──
    Q("q44_cdc_tombstone",
      (s, d) => {
        val src = Tables.events(s, d)
          .withColumn("op",
            when(col("event_type") === "error", lit("d")).otherwise(lit("u")))
          .select("user_id", "event_id", "ts", "event_type", "value", "op")
        val keys = Seq("user_id")
        val ord = Seq(col("ts").desc, col("event_id").desc)
        val existing = Staging.dedupLatest(
          src.filter(col("ts") < lit(Split).cast("timestamp")), keys, ord)
        val incoming = src.filter(col("ts") >= lit(Split).cast("timestamp"))
        UpsertByKey.applyCdc(existing, incoming, keys, ord)
      },
      Some(s"""
        WITH src AS (
          SELECT user_id, event_id, ts, event_type, value,
                 CASE WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op
          FROM events),
        existing AS (
          SELECT user_id, event_id, ts, event_type, value, op FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id
                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM src WHERE ts < TIMESTAMP '$Split')
          WHERE rn = 1),
        latest AS (
          SELECT user_id, event_id, ts, event_type, value, op FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id
                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM src WHERE ts >= TIMESTAMP '$Split')
          WHERE rn = 1)
        SELECT e.* FROM existing e WHERE NOT EXISTS (
          SELECT 1 FROM latest l WHERE l.user_id = e.user_id)
        UNION ALL SELECT * FROM latest WHERE op <> 'd'""")),

    // ── §2.2 rows 12-15: typed JSON extraction, rename, CASE, audit date ──
    Q("q02_envelope_extract",
      (s, d) => Tables.events(s, d).select(
        col("event_id"),
        col("user_id").as("customer_id"),
        col("event_type").as("transaction_type"),
        col("ts").as("transaction_time"),
        col("value").as("amount"),
        Envelope.jsonField(col("props"), "k", "int").as("prop_k"),
        when(col("value") > 100, lit("HIGH")).otherwise(lit("LOW")).as("amount_band"),
        to_date(col("ts")).as("ingest_date")),
      Some("""
        SELECT event_id, user_id AS customer_id, event_type AS transaction_type,
               ts AS transaction_time, value AS amount,
               CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k,
               CASE WHEN value > 100 THEN 'HIGH' ELSE 'LOW' END AS amount_band,
               CAST(ts AS DATE) AS ingest_date
        FROM events""")),

    // ── §2.3 row 17a: left equi-join fact enrichment (broadcast dim) ──
    Q("q03_fact_enrich",
      (s, d) => Marts.enrich(
        Tables.lineitem(s, d).select(
          col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice").as("amount")),
        Tables.orders(s, d).select(
          col("o_orderkey").as("l_orderkey"),
          col("o_custkey").as("customer_id"),
          col("o_orderdate").as("order_date")),
        Seq("l_orderkey")),
      Some("""
        SELECT l.l_orderkey, l.l_linenumber, l.l_extendedprice AS amount,
               o.o_custkey AS customer_id, o.o_orderdate AS order_date
        FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey""")),

    // ── §2.6 rows 22-24: SCD2 history from a change log (backfill form) ──
    Q("q04_scd2_history",
      (s, d) => Scd2Merge.fromChangeLog(
        Tables.events(s, d), Seq("user_id"), "ts", Seq("event_id"))
        .select("user_id", "event_id", "value", "version_n",
          "effective_from", "effective_to", "is_current"),
      Some("""
        SELECT user_id, event_id, value,
               CAST(row_number() OVER w AS INTEGER) AS version_n,
               ts AS effective_from,
               lead(ts) OVER w AS effective_to,
               (lead(ts) OVER w) IS NULL AS is_current
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)""")),

    // ── §2.5 row 20 + §2.6 row 25: high-watermark + upsert-by-key ──
    Q("q05_upsert_incremental",
      (s, d) => {
        val ev = Tables.events(s, d)
        val keys = Seq("user_id", "event_type")
        val ord = Seq(col("ts").desc, col("event_id").desc)
        val existing = Staging.dedupLatest(
          ev.filter(col("ts") < lit(Split).cast("timestamp")), keys, ord)
        val incoming = ev.filter(col("ts") >= lit(Split).cast("timestamp"))
        UpsertByKey(existing, incoming, keys, ord)
          .select("user_id", "event_type", "event_id", "ts", "value")
      },
      Some(s"""
        WITH base AS (SELECT * FROM events WHERE ts < TIMESTAMP '$Split'),
        inc AS (SELECT * FROM events WHERE ts >= TIMESTAMP '$Split'),
        existing AS (
          SELECT user_id, event_type, event_id, ts, value FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                      ORDER BY ts DESC, event_id DESC) AS rn FROM base)
          WHERE rn = 1),
        incd AS (
          SELECT user_id, event_type, event_id, ts, value FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                      ORDER BY ts DESC, event_id DESC) AS rn FROM inc)
          WHERE rn = 1)
        SELECT e.* FROM existing e WHERE NOT EXISTS (
          SELECT 1 FROM incd i
          WHERE i.user_id = e.user_id AND i.event_type = e.event_type)
        UNION ALL SELECT * FROM incd""")),

    // ── §2.5 rows 19, 21: grouped aggregation (TPC-H Q1 shape) ──
    Q("q06_agg_pricing",
      (s, d) => Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sumMoney(col("l_quantity")).as("sum_qty"),
          sumMoney(col("l_extendedprice")).as("sum_base_price"),
          sum(dec6(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          (sum(dec2(col("l_quantity"))).cast("double") / count(lit(1)))
            .as("avg_qty"),
          count(lit(1)).as("n_rows")),
      Some("""
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS sum_disc_price,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM lineitem GROUP BY l_returnflag, l_linestatus""")),

    // ── §2.8 row 30 / row 19: GROUP BY + HAVING uniqueness audit ──
    Q("q07_having_dupes",
      (s, d) => Quality.unique(
        Tables.events(s, d), Seq("user_id", "event_type")),
      Some("""
        SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n_dupes
        FROM events GROUP BY user_id, event_type HAVING COUNT(*) > 1""")),

    // ── §2.3 R3/R4: anti-join (FK orphans) ──
    Q("q08_anti_orphans",
      (s, d) => Tables.customer(s, d)
        .join(Tables.orders(s, d).select(col("o_custkey").as("c_custkey")).distinct(),
          Seq("c_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment"),
      Some("""
        SELECT c_custkey, c_name, c_mktsegment FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""")),

    // ── §2.8: the full DQ suite as one summary frame ──
    Q("q09_dq_suite",
      (s, d) => {
        val ev = Tables.events(s, d)
        // row-level checks share ONE scan; key/FK checks need their own
        // shuffle/join and run separately
        val rowLevel = Quality.summaryOnePass(ev, Seq(
          "null_value" -> col("value").isNull,
          "nonpositive_value" -> (col("value") <= 0 || col("value").isNull),
          "bad_event_type" -> (!col("event_type")
            .isin("click", "view", "purchase", "signup") || col("event_type").isNull)))
        val keyed = Quality.summary(Seq(
          "dup_event_id" -> Quality.unique(ev, Seq("event_id")),
          "orphan_user" -> Quality.relationships(
            ev, "user_id", Tables.customer(s, d), "c_custkey")))
        rowLevel.unionByName(keyed)
      },
      Some("""
        SELECT 'dup_event_id' AS check_name, CAST((SELECT COUNT(*) FROM (
            SELECT event_id FROM events GROUP BY event_id HAVING COUNT(*) > 1)) AS BIGINT) AS n_violations
        UNION ALL SELECT 'null_value', CAST((SELECT COUNT(*) FROM events WHERE value IS NULL) AS BIGINT)
        UNION ALL SELECT 'nonpositive_value', CAST((SELECT COUNT(*) FROM events
            WHERE value <= 0 OR value IS NULL) AS BIGINT)
        UNION ALL SELECT 'bad_event_type', CAST((SELECT COUNT(*) FROM events
            WHERE event_type NOT IN ('click','view','purchase','signup')
               OR event_type IS NULL) AS BIGINT)
        UNION ALL SELECT 'orphan_user', CAST((SELECT COUNT(*) FROM events e
            WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)) AS BIGINT)""")),

    // ── §2.4: general ranking/analytic window (rank + running frame) ──
    Q("q10_window_running",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        Tables.orders(s, d).select(
          col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          row_number().over(w).as("order_seq"),
          sum(dec2(col("o_totalprice")))
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .cast("double").as("running_spend"))
      },
      Some("""
        SELECT o_custkey, o_orderkey, o_orderdate,
               CAST(row_number() OVER w AS INTEGER) AS order_seq,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER
                 (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
                  ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_spend
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)""")),

    // ── §2.3 R2 generalized: as-of (point-in-time) join ──
    Q("q11_asof_join",
      (s, d) => {
        val ev = Tables.events(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts", "value")
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts"),
            col("event_id").as("last_view_id"), col("ts").as("last_view_ts"))
        Marts.asOfJoin(purchases, views, Seq("user_id"), "ts", "ts",
          Seq("last_view_id", "last_view_ts"))
          .select("event_id", "user_id", "ts", "value", "last_view_id", "last_view_ts")
      },
      Some("""
        WITH u AS (
          SELECT user_id, ts, 1 AS side, event_id, value,
                 NULL::BIGINT AS last_view_id, NULL::TIMESTAMP AS last_view_ts
          FROM events WHERE event_type = 'purchase'
          UNION ALL
          SELECT user_id, ts, 0, NULL, NULL, event_id, ts
          FROM events WHERE event_type = 'view'),
        sw AS (
          SELECT side, event_id, user_id, ts, value,
                 last_value(last_view_id IGNORE NULLS) OVER w AS last_view_id,
                 last_value(last_view_ts IGNORE NULLS) OVER w AS last_view_ts
          FROM u
          WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, side ASC
                       ROWS UNBOUNDED PRECEDING))
        SELECT event_id, user_id, ts, value, last_view_id, last_view_ts
        FROM sw WHERE side = 1""")),

    // ── §2.7 extension: event-time tumbling window aggregation ──
    Q("q12_tumbling_window",
      (s, d) => Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), sumMoney(col("value")).as("total_value"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n_events"), col("total_value")),
      Some("""
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        FROM events GROUP BY 1, 2""")),

    // ── §2.7 extension: session windows (30-minute gap) ──
    Q("q13_session_window",
      (s, d) => Tables.events(s, d)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), sumMoney(col("value")).as("total_value"))
        .select(col("user_id"), col("session_window.start").as("session_start"),
          col("n_events"), col("total_value")),
      Some("""
        WITH x AS (
          SELECT user_id, ts, value,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS new_sess
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)),
        y AS (
          SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts ASC
                    ROWS UNBOUNDED PRECEDING) AS sess_id
          FROM x)
        SELECT user_id, MIN(ts) AS session_start,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        FROM y GROUP BY user_id, sess_id""")),

    // ── §2.7 extension: sliding (hopping) window aggregation ──
    Q("q37_sliding_window",
      (s, d) => Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), sumMoney(col("value")).as("total_value"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n_events"), col("total_value")),
      Some("""
        SELECT time_bucket(INTERVAL '15 minutes', ts)
                 - to_minutes(CAST(i.i * 15 AS BIGINT)) AS window_start,
               event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        FROM events, LATERAL (SELECT unnest(range(0, 4)) AS i) i
        GROUP BY 1, 2""")),

    // ── §2.3 R2 + §2.5: star-schema revenue rollup ──
    Q("q14_star_revenue",
      (s, d) => Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        // no broadcast hint: customer is unbounded (15M rows at TPC-H
        // sf100) — AQE's size-based decision picks the join strategy
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"), col("o_orderpriority"))
        .agg(
          sum(dec6(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_items")),
      Some("""
        SELECT c_mktsegment, o_orderpriority,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_items
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment, o_orderpriority""")),

    // ── §2.5 R5: aggregate reconciliation + z-score anomaly detection ──
    Q("q15_zscore_anomaly",
      (s, d) => Quality.zscoreAnomalies(
          Tables.events(s, d).withColumn("value", dec2(col("value"))),
          Seq("user_id", "event_type"), "value", k = 2.0)
        .select(col("user_id"), col("event_type"),
          col("group_total").cast("double").as("group_total"),
          round(col("zscore"), 4).as("zscore")),
      Some("""
        WITH totals AS (
          SELECT user_id, event_type,
                 SUM(CAST(value AS DECIMAL(18,2))) AS gt
          FROM events GROUP BY 1, 2),
        stats AS (
          SELECT avg(CAST(gt AS DOUBLE)) AS mu,
                 stddev_samp(CAST(gt AS DOUBLE)) AS sigma FROM totals)
        SELECT user_id, event_type, CAST(gt AS DOUBLE) AS group_total,
               round(abs(CAST(gt AS DOUBLE) - mu) / sigma, 4) AS zscore
        FROM totals, stats
        WHERE abs(CAST(gt AS DOUBLE) - mu) / sigma > 2.0""")),

    // ── north-star: exact dedup by normalized content hash ──
    Q("q16_dedup_exact",
      (s, d) => Dedup.exact(Tables.documents(s, d), "doc_id", "text"),
      Some("""
        SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS content_hash,
               MIN(doc_id) AS canonical_id,
               CAST(COUNT(*) AS BIGINT) AS n_copies
        FROM documents GROUP BY 1""")),

    // ── north-star: text quality scoring ──
    Q("q17_text_quality",
      (s, d) => TextAnalysis.quality(Tables.documents(s, d), "text")
        .select("doc_id", "n_chars_m", "n_tokens", "n_unique_tokens",
          "mean_token_len", "stopword_ratio", "punct_ratio", "upper_ratio"),
      Some(s"""
        WITH t AS (SELECT doc_id, text,
            string_split_regex(lower(trim(text)), '\\s+') AS toks
          FROM documents)
        SELECT doc_id,
          CAST(length(text) AS INTEGER) AS n_chars_m,
          CAST(len(toks) AS INTEGER) AS n_tokens,
          CAST(len(list_distinct(toks)) AS INTEGER) AS n_unique_tokens,
          CAST(list_sum(list_transform(toks, tk -> length(tk))) AS DOUBLE)
            / len(toks) AS mean_token_len,
          CAST(len(list_filter(toks, tk -> list_contains(
            [${TextAnalysis.Stopwords.map("'" + _ + "'").mkString(",")}], tk))) AS DOUBLE)
            / len(toks) AS stopword_ratio,
          CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
            / length(text) AS punct_ratio,
          CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE)
            / length(text) AS upper_ratio
        FROM t""")),

    // ── north-star: heuristic language ID (marker-token profiles) ──
    Q("q18_langid",
      (s, d) => TextAnalysis.langId(Tables.documents(s, d), "text")
        .select("doc_id", "lang", "score_de", "score_en", "score_es",
          "score_fr", "score_zh", "lang_pred"),
      Some {
        val profiles = TextAnalysis.LangProfiles
        val scoreCols = profiles.map { case (l, vocab) =>
          s"CAST(len(list_filter(toks, tk -> list_contains([${vocab.map("'" + _ + "'").mkString(",")}], tk))) AS INTEGER) AS score_$l"
        }.mkString(", ")
        val langs = profiles.map(_._1)
        val cases = langs.init.zipWithIndex.map { case (l, i) =>
          val rest = langs.drop(i + 1)
          s"WHEN ${rest.map(r => s"score_$l >= score_$r").mkString(" AND ")} THEN '$l'"
        }.mkString(" ")
        s"""
        WITH t AS (SELECT doc_id, lang,
            string_split_regex(lower(trim(text)), '\\s+') AS toks
          FROM documents),
        scored AS (SELECT doc_id, lang, $scoreCols FROM t)
        SELECT *, CASE $cases ELSE '${langs.last}' END AS lang_pred FROM scored"""
      }),

    // ── north-star: token counting (whitespace + BPE-ish regex) ──
    Q("q19_token_counts",
      (s, d) => TextAnalysis.tokenCounts(Tables.documents(s, d), "text")
        .select("doc_id", "n_ws_tokens", "n_bpe_tokens"),
      Some(s"""
        SELECT doc_id,
          CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS INTEGER) AS n_ws_tokens,
          CAST(len(regexp_extract_all(text, '${TextAnalysis.BpePattern}')) AS INTEGER) AS n_bpe_tokens
        FROM documents""")),

    // ── north-star: rolling-hash document fingerprint ──
    Q("q20_fingerprint",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp")),
      Some(s"""
        SELECT doc_id,
          list_reduce(
            list_prepend(CAST(0 AS BIGINT),
              list_transform(string_split_regex(lower(trim(text)), '\\s+'),
                tk -> CAST(length(tk) + 7 * ascii(tk[1]) AS BIGINT))),
            (acc, x) -> (acc * 31 + x) % ${TextAnalysis.FingerprintMod}) AS fp
        FROM documents""")),

    // ── north-star: MinHash+LSH near-dup recall, ORACLE-VISIBLE (the
    //    q220/q106 pattern): the fixture's planted near-dups — exact
    //    3-shingle Jaccard ≥ 0.5, computed in-query by the (already
    //    oracle-green) inverted-index ngramJaccard — each carry a
    //    found_by_lsh boolean the DuckDB oracle pins TRUE. The fixture
    //    has a clean margin (pairs are ≥0.9 or <0.35), and 16 bands ×
    //    2 rows at J≥0.9 collide with prob ≈1-(1-0.81)¹⁶; measured: 0
    //    missed at sf0.001/0.01/0.1. The raw candidate surface
    //    (est_jaccard from xxhash64 signatures) stays spec-verified. ──
    Q("q21_minhash_lsh",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val planted = Dedup.ngramJaccard(docs, "doc_id", "text",
          k = 3, threshold = 0.5)
        val found = Dedup.minHashLsh(docs, "doc_id", "text",
            bands = 16, rowsPerBand = 2, minEstJaccard = 0.25)
          .select(col("id_a"), col("id_b"), lit(true).as("__hit"))
        planted.join(found, Seq("id_a", "id_b"), "left")
          .select(col("id_a"), col("id_b"), col("jaccard"),
            coalesce(col("__hit"), lit(false)).as("found_by_lsh"))
      },
      Some(s"""
        WITH t AS (SELECT doc_id,
            list_distinct(list_transform(
              range(1, len(string_split_regex(lower(trim(text)), '\\s+')) - 1),
              i -> concat_ws(' ',
                string_split_regex(lower(trim(text)), '\\s+')[i],
                string_split_regex(lower(trim(text)), '\\s+')[i+1],
                string_split_regex(lower(trim(text)), '\\s+')[i+2]))) AS sh
          FROM documents),
        docs AS (SELECT doc_id, sh, len(sh) AS n_sh FROM t WHERE len(sh) > 0),
        inv AS (SELECT doc_id, n_sh, unnest(sh) AS s FROM docs),
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 a.n_sh AS n_a, b.n_sh AS n_b,
                 CAST(COUNT(*) AS BIGINT) AS n_shared
          FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2, 3, 4)
        SELECT id_a, id_b,
               CAST(n_shared AS DOUBLE) / (n_a + n_b - n_shared) AS jaccard,
               TRUE AS found_by_lsh
        FROM pairs
        WHERE CAST(n_shared AS DOUBLE) / (n_a + n_b - n_shared) >= 0.5""")),

    // ── north-star: SimHash near-dup invariant, ORACLE-VISIBLE: on the
    //    planted near-dup pairs (exact 3-shingle Jaccard ≥ 0.5), the
    //    64-bit simhash fingerprints must sit within Hamming 12 —
    //    measured max 7 at sf0.01, 5 at sf0.001, vs ~32 expected for
    //    unrelated docs. Raw fingerprints (xxhash64) stay spec-pinned. ──
    Q("q22_simhash",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val sim = Dedup.simHash(docs, "doc_id", "text")
        Dedup.ngramJaccard(docs, "doc_id", "text", k = 3, threshold = 0.5)
          .join(sim.select(col("id").as("id_a"), col("simhash").as("__ha")),
            Seq("id_a"))
          .join(sim.select(col("id").as("id_b"), col("simhash").as("__hb")),
            Seq("id_b"))
          .select(col("id_a"), col("id_b"),
            (bit_count(col("__ha").bitwiseXOR(col("__hb"))) <= lit(12))
              .as("hamming_within_12"))
      },
      Some(s"""
        WITH t AS (SELECT doc_id,
            list_distinct(list_transform(
              range(1, len(string_split_regex(lower(trim(text)), '\\s+')) - 1),
              i -> concat_ws(' ',
                string_split_regex(lower(trim(text)), '\\s+')[i],
                string_split_regex(lower(trim(text)), '\\s+')[i+1],
                string_split_regex(lower(trim(text)), '\\s+')[i+2]))) AS sh
          FROM documents),
        docs AS (SELECT doc_id, sh, len(sh) AS n_sh FROM t WHERE len(sh) > 0),
        inv AS (SELECT doc_id, n_sh, unnest(sh) AS s FROM docs),
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 a.n_sh AS n_a, b.n_sh AS n_b,
                 CAST(COUNT(*) AS BIGINT) AS n_shared
          FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2, 3, 4)
        SELECT id_a, id_b, TRUE AS hamming_within_12
        FROM pairs
        WHERE CAST(n_shared AS DOUBLE) / (n_a + n_b - n_shared) >= 0.5""")),

    // ── north-star: exact n-gram Jaccard over inverted-index candidates ──
    Q("q23_ngram_jaccard",
      (s, d) => Dedup.ngramJaccard(Tables.documents(s, d), "doc_id", "text",
        k = 3, threshold = 0.2),
      Some("""
        WITH t AS (SELECT doc_id,
            list_distinct(list_transform(
              range(1, len(string_split_regex(lower(trim(text)), '\s+')) - 1),
              i -> concat_ws(' ',
                string_split_regex(lower(trim(text)), '\s+')[i],
                string_split_regex(lower(trim(text)), '\s+')[i+1],
                string_split_regex(lower(trim(text)), '\s+')[i+2]))) AS sh
          FROM documents),
        docs AS (SELECT doc_id, sh, len(sh) AS n_sh FROM t WHERE len(sh) > 0),
        inv AS (SELECT doc_id, n_sh, unnest(sh) AS s FROM docs),
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 a.n_sh AS n_a, b.n_sh AS n_b,
                 CAST(COUNT(*) AS BIGINT) AS n_shared
          FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2, 3, 4)
        SELECT id_a, id_b,
               CAST(n_shared AS DOUBLE) / (n_a + n_b - n_shared) AS jaccard
        FROM pairs
        WHERE CAST(n_shared AS DOUBLE) / (n_a + n_b - n_shared) >= 0.2""")),

    // ── north-star: brute-force cosine top-k similarity search ──
    Q("q24_cosine_topk",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.bruteForceTopK(
          emb.filter(col("vec_id") < 20), emb, "vec_id", "embedding", k = 5)
      },
      Some("""
        WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                   FROM embeddings WHERE vec_id < 20),
        scored AS (
          SELECT query_id, vec_id AS neighbor_id,
                 round(list_dot_product(qv, embedding::DOUBLE[]) /
                   (sqrt(list_dot_product(qv, qv)) *
                    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 6) AS cosine
          FROM embeddings, q WHERE vec_id <> query_id)
        SELECT query_id, neighbor_id, cosine,
               CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER) AS rank
        FROM scored
        QUALIFY rank <= 5""")),

    // ── north-star: embedding near-dup via hyperplane LSH, ORACLE-
    //    VISIBLE: the fixture has no high-cosine pairs (max ~0.51), so
    //    the query PLANTS one exact twin per vector (vec_id + 1e6, same
    //    embedding) and runs the LSH near-dup over the doubled corpus.
    //    Identical vectors land in identical buckets in EVERY table —
    //    recall 1.0 is guaranteed by construction, not tuned — so the
    //    oracle pins every planted pair (found_by_lsh, cosine = 1.0 at
    //    round6). Intermediate-similarity recall stays spec-verified. ──
    Q("q25_embedding_neardup",
      (s, d) => {
        val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
        val corpus = emb.unionByName(emb.select(
          (col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
        val found = graft.operators.Dedup.embeddingNearDup(
            corpus, "vec_id", "embedding", minCosine = 0.9)
          .select(col("id_a"), col("id_b"),
            (floor(col("cosine") * 1e6 + 0.5) / 1e6).as("__cos"),
            lit(true).as("__hit"))
        emb.select(col("vec_id").as("id_a"),
            (col("vec_id") + 1000000L).as("id_b"))
          .join(found, Seq("id_a", "id_b"), "left")
          .select(col("id_a"), col("id_b"),
            coalesce(col("__cos"), lit(-1.0)).as("cosine"),
            coalesce(col("__hit"), lit(false)).as("found_by_lsh"))
      },
      Some("""
        SELECT vec_id AS id_a, vec_id + 1000000 AS id_b,
               CAST(1.0 AS DOUBLE) AS cosine, TRUE AS found_by_lsh
        FROM embeddings""")),

    // ── north-star: multimodal binary column + batch feature extraction ──
    Q("q26_multimodal_meta",
      (s, d) => Multimodal.extractFeatures(
          Multimodal.asPayload(Tables.documents(s, d), "text"))
        .select(col("doc_id"),
          col("media_meta.n_bytes").as("n_bytes"),
          col("media_meta.checksum").as("checksum"),
          col("media_meta.width").as("width"),
          col("media_meta.height").as("height")),
      Some("""
        WITH c AS (
          SELECT doc_id,
            CAST(length(text) AS INTEGER) AS n_bytes,
            CAST(list_sum(list_transform(range(1, least(length(text), 64) + 1),
              i -> ascii(text[i]) * i)) AS BIGINT) AS checksum
          FROM documents)
        SELECT doc_id, n_bytes, checksum,
               CAST(64 + checksum % 1024 AS INTEGER) AS width,
               CAST(64 + (checksum // 1024) % 1024 AS INTEGER) AS height
        FROM c""")),

    // ── north-star: frame sampling over binary payloads ──
    Q("q27_frame_sample",
      (s, d) => Multimodal.sampleFrames(
          Multimodal.asPayload(Tables.documents(s, d), "text"),
          frameBytes = 256, everyNth = 4)
        .select(col("doc_id"), col("frame_id").cast("long").as("frame_id"),
          length(col("frame")).as("frame_bytes")),
      Some("""
        SELECT doc_id, CAST(f.i AS BIGINT) AS frame_id,
               CAST(least(256, length(text) - f.i * 256) AS INTEGER) AS frame_bytes
        FROM documents,
             LATERAL (SELECT unnest(range(0, (length(text) - 1) // 256 + 1)) AS i) f
        WHERE f.i % 4 = 0""")),

    // ── north-star: IVF-style ANN, ORACLE-VISIBLE: recall<1 by design,
    //    so the query compares its own output to the in-query exact
    //    top-k (q24's brute force) and emits the invariants the oracle
    //    CAN pin: k rows per query, no self-pairs, and aggregate
    //    recall@5 ≥ 0.7 (measured 0.83 at sf0.001/0.01/0.1 with
    //    nProbe=10/16 — margin 0.13 at every scale). Raw neighbor rows
    //    stay spec-verified (OperatorsSpec) and served via q244. ──
    Q("q29_ann_ivf",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val q = emb.filter(col("vec_id") < 20)
        val exact = Similarity.bruteForceTopK(q, emb,
          "vec_id", "embedding", k = 5).select("query_id", "neighbor_id")
        val approx = Similarity.ivfTopK(q, emb,
          "vec_id", "embedding", k = 5, nCells = 16, nProbe = 10)
        val shape = approx.groupBy(col("query_id"))
          .agg(count(lit(1)).as("__n"),
            max((col("neighbor_id") === col("query_id")).cast("int")).as("__slf"))
          .agg(count(lit(1)).as("n_queries"),
            (min(col("__n")) === 5 && max(col("__n")) === 5).as("k_rows_per_query"),
            (max(col("__slf")) === 0).as("self_excluded"))
        // k×|Q| rows — broadcast so the comparison never shuffles
        val hits = exact.join(
            broadcast(approx.select("query_id", "neighbor_id")),
            Seq("query_id", "neighbor_id"), "left_semi")
          .agg(count(lit(1)).as("__nhit"))
        val nEx = exact.agg(count(lit(1)).as("__nex"))
        shape.crossJoin(hits).crossJoin(nEx)
          .select(col("n_queries"), col("k_rows_per_query"),
            col("self_excluded"),
            (col("__nhit").cast("double") / col("__nex") >= lit(0.7))
              .as("recall_ok"))
      },
      Some("""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
               TRUE AS k_rows_per_query, TRUE AS self_excluded,
               TRUE AS recall_ok
        FROM embeddings WHERE vec_id < 20""")),

    // ── the composed 100 TB ANN shape: IVF coarse routing → PQ-ADC code
    //    scan within probed cells → exact re-rank of the shortlist.
    //    ORACLE-VISIBLE like q29: k-rows/self-exclusion/recall@5 ≥ 0.7
    //    (measured 0.79–0.82 at the oracle scales with nProbe=10,
    //    shortlist=128), PLUS the rerank-agreement invariant — every
    //    hit both rankings share carries the same round6 cosine (the
    //    exact re-rank corrects ADC quantization error exactly). ──
    Q("q115_ivf_pq_rerank",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val q = emb.filter(col("vec_id") < 20)
        val exact = Similarity.bruteForceTopK(q, emb,
          "vec_id", "embedding", k = 5)
        // round-13: kCodes 16→64 + 2 Lloyd passes on BOTH quantizers +
        // shortlist 256 — the old config's recall@5 sank to 0.66 at sf0.1
        // (first-k-vectors codebook outgrown by the corpus; found by the
        // ScaleAudit ANN tier, not the sf0.01 gate). Measured recall@5
        // now 0.87/0.87/0.84/0.81 at sf0.001/0.01/0.1/sf1 — ≥ 0.11
        // margin at every scale with nProbe still 10/16 (real routing)
        val approx = Similarity.ivfPqTopK(q, emb,
          "vec_id", "embedding", k = 5, nCells = 16, nProbe = 10,
          m = 8, kCodes = 64, shortlist = 256, refineIters = 2)
        val r6 = (c: Column) => floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
        val shape = approx.groupBy(col("query_id"))
          .agg(count(lit(1)).as("__n"),
            max((col("neighbor_id") === col("query_id")).cast("int")).as("__slf"))
          .agg(count(lit(1)).as("n_queries"),
            (min(col("__n")) === 5 && max(col("__n")) === 5).as("k_rows_per_query"),
            (max(col("__slf")) === 0).as("self_excluded"))
        // k×|Q| rows — broadcast so the comparison never shuffles
        val common = exact
          .select(col("query_id"), col("neighbor_id"), r6(col("cosine")).as("__ce"))
          .join(broadcast(approx.select(col("query_id"), col("neighbor_id"),
            r6(col("cosine")).as("__ca"))), Seq("query_id", "neighbor_id"))
        val agree = common.agg(count(lit(1)).as("__nhit"),
          (count(lit(1)) === count(when(col("__ce") === col("__ca"), 1)))
            .as("rerank_agrees"))
        val nEx = exact.agg(count(lit(1)).as("__nex"))
        shape.crossJoin(agree).crossJoin(nEx)
          .select(col("n_queries"), col("k_rows_per_query"),
            col("self_excluded"), col("rerank_agrees"),
            (col("__nhit").cast("double") / col("__nex") >= lit(0.7))
              .as("recall_ok"))
      },
      Some("""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
               TRUE AS k_rows_per_query, TRUE AS self_excluded,
               TRUE AS rerank_agrees, TRUE AS recall_ok
        FROM embeddings WHERE vec_id < 20""")),

    // ── §2.1 rows 8-9: table registry + view materialization + SQL API ──
    Q("q30_sql_views",
      (s, d) => {
        Tables.registerAll(s, d)
        s.sql("""
          SELECT n_name,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS nation_revenue,
                 COUNT(*) AS n_orders
          FROM orders
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          GROUP BY n_name""")
      },
      Some("""
        SELECT n_name,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS nation_revenue,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name""")),

    // ── §2.2 row 12 (Spark 4 form): VARIANT path extraction — the
    //    Snowflake `v:field::type` idiom via parse_json + variant_get ──
    Q("q32_variant_extract",
      (s, d) => Tables.events(s, d).select(
        col("event_id"),
        try_variant_get(parse_json(col("props")), "$.k", "int").as("prop_k"),
        try_variant_get(parse_json(col("props")), "$.missing", "string").as("prop_missing")),
      Some("""
        SELECT event_id,
               CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k,
               json_extract_string(props, '$.missing') AS prop_missing
        FROM events""")),

    // ── §2.9: sort + limit (the reference's top-k ops query shape) ──
    Q("q31_topk_orders",
      (s, d) => Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10),
      Some("""
        SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""")),

    // ── §2.5 breadth: rollup (hierarchical totals in one pass) ──
    Q("q33_rollup",
      (s, d) => Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sumMoney(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n_rows")),
      Some("""
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""")),

    // ── §2.5 breadth: distinct aggregation ──
    Q("q34_distinct_agg",
      (s, d) => Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(countDistinct(col("o_custkey")).as("n_customers"),
          count(lit(1)).as("n_orders")),
      Some("""
        SELECT o_orderpriority,
               CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY o_orderpriority""")),

    // ── north-star: composed corpus-cleaning pipeline
    //    (dedup → quality filter → language tagging, one fused plan) ──
    Q("q35_corpus_pipeline",
      (s, d) => graft.pipelines.CorpusPipeline.clean(
          Tables.documents(s, d), "doc_id", "text")
        .select("doc_id", "lang", "n_tokens", "stopword_ratio", "lang_pred"),
      Some {
        val stop = TextAnalysis.Stopwords.map("'" + _ + "'").mkString(",")
        val scoreCols = TextAnalysis.LangProfiles.map { case (l, vocab) =>
          s"len(list_filter(toks, tk -> list_contains([${vocab.map("'" + _ + "'").mkString(",")}], tk))) AS score_$l"
        }.mkString(", ")
        val langs = TextAnalysis.LangProfiles.map(_._1)
        val cases = langs.init.zipWithIndex.map { case (l, i) =>
          val rest = langs.drop(i + 1)
          s"WHEN ${rest.map(r => s"score_$l >= score_$r").mkString(" AND ")} THEN '$l'"
        }.mkString(" ")
        s"""
        WITH canon AS (
          SELECT doc_id, lang, text FROM (
            SELECT doc_id, lang, text,
                   row_number() OVER (PARTITION BY
                     md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                     ORDER BY doc_id ASC) AS rn
            FROM documents) WHERE rn = 1),
        toks AS (
          SELECT doc_id, lang,
                 string_split_regex(lower(trim(text)), '\\s+') AS toks
          FROM canon),
        feat AS (
          SELECT doc_id, lang,
                 CAST(len(toks) AS INTEGER) AS n_tokens,
                 CAST(len(list_filter(toks, tk -> list_contains([$stop], tk))) AS DOUBLE)
                   / len(toks) AS stopword_ratio,
                 $scoreCols
          FROM toks)
        SELECT doc_id, lang, n_tokens, stopword_ratio,
               CASE $cases ELSE '${langs.last}' END AS lang_pred
        FROM feat
        WHERE n_tokens >= 30 AND stopword_ratio <= 0.9"""
      }),

    // ── training-data assembly: deterministic stratified sampling + split
    //    assignment (hash-of-key membership — reproducible across runs,
    //    retries, and engines; operators/Sampling.scala) ──
    Q("q46_stratified_sample",
      (s, d) => operators.Sampling.split(
          operators.Sampling.stratified(Tables.documents(s, d), "doc_id", "lang",
            Map("en" -> 0.3, "zh" -> 0.8, "es" -> 0.5, "de" -> 1.0, "fr" -> 0.25)),
          "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "lang", "split"),
      Some("""
        WITH f AS (
          SELECT doc_id, lang,
                 ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::UBIGINT
                   / 4294967296.0 AS hf,
                 ('0x' || substr(md5(doc_id::VARCHAR || 'split'), 1, 8))::UBIGINT
                   / 4294967296.0 AS hs
          FROM documents)
        SELECT doc_id, lang,
               CASE WHEN hs < 0.8 THEN 'train'
                    WHEN hs < 0.9 THEN 'val'
                    ELSE 'test' END AS split
        FROM f
        WHERE hf < CASE lang WHEN 'en' THEN 0.3 WHEN 'zh' THEN 0.8
                             WHEN 'es' THEN 0.5 WHEN 'de' THEN 1.0
                             WHEN 'fr' THEN 0.25 ELSE 0.0 END""")),

    // ── training-data quality: intra-document repetition filters
    //    (Gopher-style duplicate-token / heaviest-token char mass) ──
    Q("q47_repetition",
      (s, d) => operators.TextAnalysis.repetition(
          Tables.documents(s, d), "doc_id", "text")
        .select(col("doc_id"), col("n_tokens"), col("n_distinct_tokens"),
          round(col("dup_token_ratio"), 6).as("dup_token_ratio"),
          round(col("top_token_char_ratio"), 6).as("top_token_char_ratio")),
      Some("""
        WITH tk AS (
          SELECT doc_id,
                 unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
          FROM documents),
        per AS (
          SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS cnt,
                 CAST(COUNT(*) * length(tok) AS BIGINT) AS chars
          FROM tk WHERE length(tok) > 0 GROUP BY 1, 2),
        agg AS (
          SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
                 CAST(COUNT(*) AS BIGINT) AS n_distinct_tokens,
                 round(CAST(MAX(chars) AS DOUBLE) / CAST(SUM(chars) AS DOUBLE), 6)
                   AS top_token_char_ratio
          FROM per GROUP BY 1)
        SELECT doc_id, n_tokens, n_distinct_tokens,
               round(CAST(n_tokens - n_distinct_tokens AS DOUBLE) / n_tokens, 6)
                 AS dup_token_ratio,
               top_token_char_ratio
        FROM agg""")),

    // ── training-data scrubbing: PII redaction (emails + phone numbers),
    //    exercised on deterministically injected PII so the operator has
    //    real matches to remove; oracle replays the same injection ──
    Q("q48_pii_redact",
      (s, d) => {
        val injected = Tables.documents(s, d)
          .withColumn("text_pii",
            when(col("doc_id") % 5 === 0,
              concat(col("text"), lit(" contact user"), col("doc_id"),
                lit("@mail.example.com or +1 555-000-"),
                lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
              .otherwise(col("text")))
        injected.select(col("doc_id"),
          operators.TextAnalysis.piiCount(col("text_pii")).as("n_pii"),
          operators.TextAnalysis.redactPii(col("text_pii")).as("clean_text"))
      },
      Some(s"""
        WITH injected AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 5 = 0 THEN
                   text || ' contact user' || doc_id::VARCHAR ||
                   '@mail.example.com or +1 555-000-' ||
                   lpad((doc_id % 10000)::VARCHAR, 4, '0')
                 ELSE text END AS text_pii
          FROM documents)
        SELECT doc_id,
               CAST(len(regexp_extract_all(text_pii, '${TextAnalysis.EmailPattern}'))
                  + len(regexp_extract_all(text_pii, '${TextAnalysis.PhonePattern}'))
                 AS INTEGER) AS n_pii,
               regexp_replace(
                 regexp_replace(text_pii, '${TextAnalysis.EmailPattern}', '[PII]', 'g'),
                 '${TextAnalysis.PhonePattern}', '[PII]', 'g') AS clean_text
        FROM injected""")),

    // ── the full corpus-assembly flow, composed end to end: exact dedup →
    //    quality filter → language ID → repetition filter → deterministic
    //    50% sample → train/val split. One declarative plan; every stage
    //    is an already-oracled operator and the composition is re-checked
    //    value-exact against DuckDB ──
    Q("q49_corpus_assembly",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val cleaned = graft.pipelines.CorpusPipeline.clean(docs, "doc_id", "text")
          .select("doc_id", "lang", "n_tokens", "lang_pred")
        val keep = operators.TextAnalysis.repetition(docs, "doc_id", "text")
          .filter(col("dup_token_ratio") <= 0.6).select("doc_id")
        operators.Sampling.split(
          operators.Sampling.sample(cleaned.join(keep, "doc_id"), "doc_id", 0.5),
          "doc_id", Seq("train" -> 0.9, "val" -> 0.1))
          .select("doc_id", "lang", "n_tokens", "lang_pred", "split")
      },
      Some {
        val stop = TextAnalysis.Stopwords.map("'" + _ + "'").mkString(",")
        val scoreCols = TextAnalysis.LangProfiles.map { case (l, vocab) =>
          s"len(list_filter(toks, tk -> list_contains([${vocab.map("'" + _ + "'").mkString(",")}], tk))) AS score_$l"
        }.mkString(", ")
        val langs = TextAnalysis.LangProfiles.map(_._1)
        val cases = langs.init.zipWithIndex.map { case (l, i) =>
          val rest = langs.drop(i + 1)
          s"WHEN ${rest.map(r => s"score_$l >= score_$r").mkString(" AND ")} THEN '$l'"
        }.mkString(" ")
        s"""
        WITH canon AS (
          SELECT doc_id, lang, text FROM (
            SELECT doc_id, lang, text,
                   row_number() OVER (PARTITION BY
                     md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                     ORDER BY doc_id ASC) AS rn
            FROM documents) WHERE rn = 1),
        toks AS (
          SELECT doc_id, lang,
                 string_split_regex(lower(trim(text)), '\\s+') AS toks
          FROM canon),
        feat AS (
          SELECT doc_id, lang, CAST(len(toks) AS INTEGER) AS n_tokens,
                 CAST(len(list_filter(toks, tk -> list_contains([$stop], tk))) AS DOUBLE)
                   / len(toks) AS stopword_ratio,
                 $scoreCols
          FROM toks),
        cleaned AS (
          SELECT doc_id, lang, n_tokens,
                 CASE $cases ELSE '${langs.last}' END AS lang_pred
          FROM feat WHERE n_tokens >= 30 AND stopword_ratio <= 0.9),
        tk AS (
          SELECT doc_id,
                 unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
          FROM documents),
        per AS (
          SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM tk WHERE length(tok) > 0 GROUP BY 1, 2),
        rep AS (
          SELECT doc_id,
                 CAST(SUM(cnt) - COUNT(*) AS DOUBLE) / SUM(cnt) AS dup_ratio
          FROM per GROUP BY 1),
        sampled AS (
          SELECT c.doc_id, c.lang, c.n_tokens, c.lang_pred,
                 ('0x' || substr(md5(c.doc_id::VARCHAR || 'split'), 1, 8))::UBIGINT
                   / 4294967296.0 AS hs
          FROM cleaned c JOIN rep r ON c.doc_id = r.doc_id
          WHERE r.dup_ratio <= 0.6
            AND ('0x' || substr(md5(c.doc_id::VARCHAR), 1, 8))::UBIGINT
                  / 4294967296.0 < 0.5)
        SELECT doc_id, lang, n_tokens, lang_pred,
               CASE WHEN hs < 0.9 THEN 'train' ELSE 'val' END AS split
        FROM sampled"""
      }),

    // ── embedding storage: symmetric int8 quantization (4× cut), exploded
    //    per-dim so the oracle compares every quantized value exactly ──
    Q("q50_embedding_quantize",
      (s, d) => {
        val q = Tables.embeddings(s, d).select(col("vec_id"),
          graft.functions.VectorFunctions.quantizeInt8(col("embedding")).as("qz"))
        q.select(col("vec_id"), col("qz.scale").as("scale"),
            posexplode(col("qz.qvec")).as(Seq("dim", "q")))
          .select(col("vec_id"), col("dim"), col("q"), col("scale"))
      },
      Some("""
        WITH b AS (
          SELECT vec_id, embedding::DOUBLE[] AS v,
                 list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS am
          FROM embeddings)
        SELECT vec_id, CAST(d.i AS INTEGER) AS dim,
               CAST(CASE WHEN am = 0 THEN 0
                         ELSE floor(v[d.i + 1] * 127.0 / am + 0.5) END AS INTEGER) AS q,
               am / 127.0 AS scale
        FROM b, LATERAL (SELECT unnest(range(len(v))) AS i) d""")),

    // ── training-shard assembly: greedy contiguous sequence packing into
    //    fixed token budgets, sharded so no global sort exists ──
    Q("q51_sequence_packing",
      (s, d) => {
        val docs = Tables.documents(s, d).select(col("doc_id"),
          size(operators.TextAnalysis.tokens(col("text"))).as("n_tokens"))
        operators.Packing.packSummary(
          operators.Packing.packSequences(docs, "doc_id", "n_tokens",
            budget = 512, nShards = 8), "n_tokens")
      },
      Some("""
        WITH t AS (
          SELECT doc_id,
                 CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'pack-shard'), 1, 8))
                   AS UBIGINT) % 8 AS BIGINT) AS shard,
                 len(string_split_regex(lower(trim(text)), '\s+')) AS n_tokens
          FROM documents),
        pre AS (
          SELECT doc_id, shard, n_tokens,
                 COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre_tokens
          FROM t)
        SELECT CAST(shard AS BIGINT) AS shard,
               CAST(pre_tokens // 512 AS BIGINT) AS bin,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
        FROM pre GROUP BY 1, 2""")),

    // ── event-time interval join (batch form of the stream-stream join:
    //    same plan, watermark a no-op on bounded input) ──
    Q("q52_interval_join",
      (s, d) => {
        val e = Tables.events(s, d)
        val purchases = e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("purchase_id"), col("ts"))
        val errors = e.filter(col("event_type") === "error")
          .select(col("user_id"), col("event_id").as("error_id"), col("ts"))
        graft.streaming.CdcStream.intervalJoin(
            purchases, errors, "user_id", "ts", "ts", tolerance = "30 minutes")
          .select(col("l_user_id").as("user_id"),
            col("l_purchase_id").as("purchase_id"),
            col("r_error_id").as("error_id"))
      },
      Some("""
        SELECT a.user_id, a.event_id AS purchase_id, b.event_id AS error_id
        FROM events a JOIN events b ON a.user_id = b.user_id
        WHERE a.event_type = 'purchase' AND b.event_type = 'error'
          AND b.ts BETWEEN a.ts - INTERVAL 30 MINUTE
                       AND a.ts + INTERVAL 30 MINUTE""")),

    // ── group-level similarity via MinHash-union Aggregator: one 32-slot
    //    signature per source, pairwise Jaccard estimated from slot
    //    agreement — corpus-vs-corpus similarity with no document join.
    //    No SQL oracle (custom FNV hashing); union law + estimate accuracy
    //    are property-tested in FunctionsSpec ──
    // ── mergeable group-level MinHash union sketches, ORACLE-VISIBLE:
    //    each source-pair row carries the EXACT group-level 3-shingle
    //    Jaccard (distinct-shingle inverted join — oracle-computable)
    //    and the sketch-estimate error bound |est − exact| ≤ 0.2 the
    //    oracle pins TRUE (32 hashes → σ ≈ 0.09 at J≈0.5, and true J
    //    here is ≤ 0.09; measured max error 0.126 at both oracle
    //    scales). The raw union-signature surface stays spec-pinned. ──
    Q("q53_group_minhash",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val sigs = docs.select(col("source"),
            graft.functions.HashFunctions.minhash(
              graft.functions.HashFunctions.wordShingles(col("text"), 3), 32).as("sig"))
          .groupBy(col("source"))
          .agg(graft.functions.MinHashUnion.column(32)(col("sig")).as("usig"))
        val a = sigs.select(col("source").as("source_a"), col("usig").as("sig_a"))
        val b = sigs.select(col("source").as("source_b"), col("usig").as("sig_b"))
        val est = a.join(b, col("source_a") < col("source_b"))
          .select(col("source_a"), col("source_b"),
            graft.functions.MinHashUnion.estJaccard(col("sig_a"), col("sig_b"))
              .as("__est"))
        val sh = docs.select(col("source"),
            explode(graft.functions.HashFunctions.wordShingles(col("text"), 3))
              .as("__s")).distinct()
        val cnt = sh.groupBy(col("source")).agg(count(lit(1)).as("__n"))
        val inter = sh.alias("x").join(sh.alias("y"),
            col("x.__s") === col("y.__s") && col("x.source") < col("y.source"))
          .groupBy(col("x.source").as("source_a"), col("y.source").as("source_b"))
          .agg(count(lit(1)).as("__ni"))
        val exact = inter
          .join(cnt.select(col("source").as("source_a"), col("__n").as("__na")),
            Seq("source_a"))
          .join(cnt.select(col("source").as("source_b"), col("__n").as("__nb")),
            Seq("source_b"))
          .select(col("source_a"), col("source_b"),
            (col("__ni").cast("double") / (col("__na") + col("__nb") - col("__ni")))
              .as("__jac"))
        est.join(exact, Seq("source_a", "source_b"), "left")
          .select(col("source_a"), col("source_b"),
            (floor(coalesce(col("__jac"), lit(0.0)) * 1e6 + 0.5) / 1e6)
              .as("exact_jaccard"),
            (abs(col("__est") - coalesce(col("__jac"), lit(0.0))) <= lit(0.2))
              .as("within_bound"))
      },
      Some(s"""
        WITH t AS (SELECT source,
            unnest(list_distinct(list_transform(
              range(1, len(string_split_regex(lower(trim(text)), '\\s+')) - 1),
              i -> concat_ws(' ',
                string_split_regex(lower(trim(text)), '\\s+')[i],
                string_split_regex(lower(trim(text)), '\\s+')[i+1],
                string_split_regex(lower(trim(text)), '\\s+')[i+2])))) AS s
          FROM documents),
        u AS (SELECT DISTINCT source, s FROM t),
        cnt AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM u GROUP BY 1),
        inter AS (
          SELECT a.source AS sa, b.source AS sb, CAST(COUNT(*) AS BIGINT) AS ni
          FROM u a JOIN u b ON a.s = b.s AND a.source < b.source
          GROUP BY 1, 2),
        pairs AS (
          SELECT x.source AS sa, y.source AS sb, x.n AS na, y.n AS nb
          FROM cnt x JOIN cnt y ON x.source < y.source)
        SELECT p.sa AS source_a, p.sb AS source_b,
               floor(COALESCE(CAST(i.ni AS DOUBLE) / (p.na + p.nb - i.ni), 0.0)
                 * 1000000 + 0.5) / 1000000 AS exact_jaccard,
               TRUE AS within_bound
        FROM pairs p LEFT JOIN inter i ON p.sa = i.sa AND p.sb = i.sb""")),

    // ── training prep: fixed-token-window chunking with overlap (chunk
    //    budget 32 tokens, overlap 8 → stride 24) ──
    Q("q54_chunking",
      (s, d) => TextAnalysis.chunk(
          Tables.documents(s, d).select("doc_id", "text"), "doc_id", "text",
          chunkTokens = 32, overlap = 8)
        .select(col("doc_id"), col("chunk_id"), col("chunk_text"), col("n_chunk_tokens")),
      Some("""
        WITH t AS (
          SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk
          FROM documents WHERE length(trim(text)) > 0),
        n AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n FROM t),
        c AS (
          SELECT doc_id, tk, n,
                 unnest(range(GREATEST(CAST(ceil((n - 8) / 24.0) AS BIGINT), 1))) AS chunk_id
          FROM n)
        SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
               array_to_string(list_slice(tk, chunk_id * 24 + 1, chunk_id * 24 + 32), ' ') AS chunk_text,
               CAST(LEAST(32, n - chunk_id * 24) AS INTEGER) AS n_chunk_tokens
        FROM c""")),

    // ── training prep: benchmark decontamination — drop corpus docs that
    //    share any 5-gram with the benchmark set (source 'src0' stands in
    //    for the eval benchmark) ──
    Q("q55_decontaminate",
      (s, d) => {
        val docs = Tables.documents(s, d)
        TextAnalysis.decontaminate(
            docs.filter(col("source") =!= "src0"),
            docs.filter(col("source") === "src0"),
            "doc_id", "text", k = 5)
          .select("doc_id", "lang", "source")
      },
      Some("""
        WITH t AS (
          SELECT doc_id, source, string_split_regex(lower(trim(text)), '\s+') AS tk
          FROM documents),
        sh AS (
          SELECT doc_id, source, unnest(list_transform(range(1, len(tk) - 3),
            i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2], tk[i+3], tk[i+4]))) AS s
          FROM t),
        dirty AS (
          SELECT DISTINCT c.doc_id
          FROM sh c JOIN (SELECT DISTINCT s FROM sh WHERE source = 'src0') b
            ON c.s = b.s
          WHERE c.source <> 'src0')
        SELECT doc_id, lang, source FROM documents
        WHERE source <> 'src0' AND doc_id NOT IN (SELECT doc_id FROM dirty)""")),

    // ── text analysis: per-doc top-3 tokens by tf·idf ──
    Q("q56_tfidf",
      (s, d) => TextAnalysis.tfIdf(
        Tables.documents(s, d), "doc_id", "text", topK = 3),
      Some("""
        WITH toks AS (
          SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
          FROM documents),
        tf AS (
          SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
          FROM toks WHERE length(token) > 0 GROUP BY 1, 2),
        dfq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS nd FROM tf),
        scored AS (
          SELECT doc_id, token,
                 floor(tf * ln(nd / df) * 1000000 + 0.5) / 1000000 AS score
          FROM tf JOIN dfq USING (token), n)
        SELECT doc_id, token, score,
               CAST(row_number() OVER (PARTITION BY doc_id
                 ORDER BY score DESC, token ASC) AS INTEGER) AS rank
        FROM scored
        QUALIFY rank <= 3""")),

    // ── fuzzy dedup, closed end-to-end: candidate pairs → connected-
    //    component clusters (min-label propagation; oracle = recursive CTE
    //    transitive closure over the same pair set) ──
    Q("q57_dedup_clusters",
      (s, d) => docClusters(s, d)
        .select(col("id").as("doc_id"), col("cluster_id")),
      Some("""
        WITH RECURSIVE
        t AS (SELECT doc_id,
            list_distinct(list_transform(
              range(1, len(string_split_regex(lower(trim(text)), '\s+')) - 1),
              i -> concat_ws(' ',
                string_split_regex(lower(trim(text)), '\s+')[i],
                string_split_regex(lower(trim(text)), '\s+')[i+1],
                string_split_regex(lower(trim(text)), '\s+')[i+2]))) AS sh
          FROM documents),
        docs AS (SELECT doc_id, sh, len(sh) AS n_sh FROM t WHERE len(sh) > 0),
        inv AS (SELECT doc_id, n_sh, unnest(sh) AS s FROM docs),
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 a.n_sh AS n_a, b.n_sh AS n_b,
                 CAST(COUNT(*) AS BIGINT) AS n_shared
          FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2, 3, 4
          HAVING CAST(n_shared AS DOUBLE) / (n_a + n_b - n_shared) >= 0.2),
        edges AS (SELECT id_a AS id, id_b AS peer FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
        cc(id, lbl) AS (
          SELECT id, id AS lbl FROM (SELECT DISTINCT id FROM edges)
          UNION
          SELECT e.id, c.lbl FROM edges e JOIN cc c ON c.id = e.peer)
        SELECT id AS doc_id, CAST(MIN(lbl) AS BIGINT) AS cluster_id
        FROM cc GROUP BY id""")),

    // ── text analysis: bigram-LM negative log-likelihood (perplexity-
    //    style quality score; add-one smoothing, corpus-trained) ──
    Q("q58_bigram_nll",
      (s, d) => TextAnalysis.bigramNll(Tables.documents(s, d), "doc_id", "text"),
      Some("""
        WITH toks AS (
          SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk
          FROM documents),
        big AS (
          SELECT doc_id, tk[i] AS w1, tk[i] || ' ' || tk[i+1] AS bg
          FROM toks, LATERAL (SELECT unnest(range(1, len(tk))) AS i) x),
        bcnt AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS b FROM big GROUP BY 1),
        ucnt AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS u
                 FROM (SELECT unnest(tk) AS w FROM toks) GROUP BY 1),
        v AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM ucnt),
        terms AS (
          SELECT doc_id, CAST(floor(ln((b + 1.0) / (u + v)) * 1000000 + 0.5) / 1000000
            AS DECIMAL(18,6)) AS t
          FROM big JOIN bcnt USING (bg) JOIN ucnt ON big.w1 = ucnt.w, v)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               floor(-(CAST(SUM(t) AS DOUBLE) / COUNT(*)) * 1000000 + 0.5) / 1000000 AS nll
        FROM terms GROUP BY doc_id""")),

    // ── substring-level dedup audit: fraction of each doc's 8-token
    //    windows that also appear in ≥2 distinct docs (window hashes on
    //    the Spark side, window strings in the oracle — same no-collision
    //    equivalence as q55) ──
    Q("q59_window_dedup",
      (s, d) => Dedup.windowDupStats(
        Tables.documents(s, d), "doc_id", "text", k = 8, minDocFreq = 2),
      Some("""
        WITH t AS (
          SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk
          FROM documents),
        d AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n
              FROM t WHERE len(tk) >= 8),
        w AS (
          SELECT doc_id, unnest(list_transform(range(1, n - 6),
            i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2], tk[i+3],
                                tk[i+4], tk[i+5], tk[i+6], tk[i+7]))) AS win
          FROM d),
        dup AS (
          SELECT win FROM (
            SELECT win, COUNT(DISTINCT doc_id) AS df FROM w GROUP BY 1)
          WHERE df >= 2),
        pd AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup
          FROM w WHERE win IN (SELECT win FROM dup) GROUP BY 1)
        SELECT d.doc_id, (d.n - 7) AS n_windows,
               CAST(COALESCE(pd.n_dup, 0) AS BIGINT) AS n_dup_windows,
               CAST(COALESCE(pd.n_dup, 0) AS DOUBLE) / (d.n - 7) AS dup_fraction
        FROM d LEFT JOIN pd USING (doc_id)""")),

    // ── exact pairwise source-overlap matrix (shared distinct 3-shingles
    //    + exact Jaccard) — the oracle-checked exact counterpart of the
    //    q53 MinHash-union estimate ──
    Q("q60_source_overlap",
      (s, d) => Dedup.groupOverlap(Tables.documents(s, d), "source", "text", k = 3)
        .select(col("grp_a").as("source_a"), col("grp_b").as("source_b"),
          col("n_shared"), col("jaccard")),
      Some("""
        WITH t AS (
          SELECT source, list_distinct(list_transform(
            range(1, len(string_split_regex(lower(trim(text)), '\s+')) - 1),
            i -> concat_ws(' ',
              string_split_regex(lower(trim(text)), '\s+')[i],
              string_split_regex(lower(trim(text)), '\s+')[i+1],
              string_split_regex(lower(trim(text)), '\s+')[i+2]))) AS sh
          FROM documents),
        p AS (SELECT DISTINCT source, unnest(sh) AS s FROM t),
        sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM p GROUP BY 1),
        shared AS (
          SELECT a.source AS source_a, b.source AS source_b,
                 CAST(COUNT(*) AS BIGINT) AS n_shared
          FROM p a JOIN p b ON a.s = b.s AND a.source < b.source
          GROUP BY 1, 2)
        SELECT source_a, source_b, n_shared,
               CAST(n_shared AS DOUBLE) / (na.n + nb.n - n_shared) AS jaccard
        FROM shared
        JOIN sz na ON shared.source_a = na.source
        JOIN sz nb ON shared.source_b = nb.source""")),

    // ── keep-best-per-cluster: near-dup clusters (as q57) reduced to one
    //    representative each — longest doc wins, ties to the smallest id ──
    Q("q61_cluster_reps",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val scored = docs.select(col("doc_id"),
          size(TextAnalysis.tokens(col("text"))).as("n_tokens"))
        Dedup.clusterRepresentatives(docClusters(s, d), scored,
          "doc_id", "n_tokens")
      },
      Some("""
        WITH RECURSIVE
        t AS (SELECT doc_id,
            list_distinct(list_transform(
              range(1, len(string_split_regex(lower(trim(text)), '\s+')) - 1),
              i -> concat_ws(' ',
                string_split_regex(lower(trim(text)), '\s+')[i],
                string_split_regex(lower(trim(text)), '\s+')[i+1],
                string_split_regex(lower(trim(text)), '\s+')[i+2]))) AS sh
          FROM documents),
        docs AS (SELECT doc_id, sh, len(sh) AS n_sh FROM t WHERE len(sh) > 0),
        inv AS (SELECT doc_id, n_sh, unnest(sh) AS s FROM docs),
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 a.n_sh AS n_a, b.n_sh AS n_b,
                 CAST(COUNT(*) AS BIGINT) AS n_shared
          FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2, 3, 4
          HAVING CAST(n_shared AS DOUBLE) / (n_a + n_b - n_shared) >= 0.2),
        edges AS (SELECT id_a AS id, id_b AS peer FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
        cc(id, lbl) AS (
          SELECT id, id AS lbl FROM (SELECT DISTINCT id FROM edges)
          UNION
          SELECT e.id, c.lbl FROM edges e JOIN cc c ON c.id = e.peer),
        cl AS (SELECT id AS doc_id, CAST(MIN(lbl) AS BIGINT) AS cluster_id
               FROM cc GROUP BY id),
        sc AS (SELECT doc_id,
                 CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS INTEGER)
                   AS n_tokens
               FROM documents),
        r AS (
          SELECT cl.cluster_id, cl.doc_id, sc.n_tokens,
                 row_number() OVER (PARTITION BY cl.cluster_id
                   ORDER BY sc.n_tokens DESC, cl.doc_id ASC) AS rn,
                 CAST(COUNT(*) OVER (PARTITION BY cl.cluster_id) AS BIGINT) AS n_docs,
                 MAX(sc.n_tokens) OVER (PARTITION BY cl.cluster_id) AS rep_score
          FROM cl JOIN sc USING (doc_id))
        SELECT cluster_id, doc_id AS rep_id, n_docs, rep_score
        FROM r WHERE rn = 1""")),

    // ── per-source corpus profile: counts, token totals, discrete
    //    percentiles off a token-count histogram (integer-exact — no
    //    cross-engine interpolation hazard) ──
    Q("q62_corpus_stats",
      (s, d) => TextAnalysis.corpusStats(Tables.documents(s, d), "source", "text"),
      Some("""
        WITH b AS (
          SELECT source,
                 CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS INTEGER)
                   AS n_tok
          FROM documents),
        hist AS (
          SELECT source, n_tok, CAST(COUNT(*) AS BIGINT) AS c
          FROM b GROUP BY 1, 2),
        cum AS (
          SELECT source, n_tok, c,
                 SUM(c) OVER (PARTITION BY source ORDER BY n_tok) AS cumc
          FROM hist),
        s AS (
          SELECT source, CAST(SUM(c) AS BIGINT) AS n_docs,
                 CAST(SUM(CAST(n_tok AS BIGINT) * c) AS BIGINT) AS total_tokens
          FROM hist GROUP BY 1)
        SELECT cum.source, s.n_docs, s.total_tokens,
               CAST(s.total_tokens AS DOUBLE) / s.n_docs AS mean_tokens,
               MIN(CASE WHEN cumc >= ceil(0.5 * s.n_docs) THEN n_tok END) AS p50_tokens,
               MIN(CASE WHEN cumc >= ceil(0.9 * s.n_docs) THEN n_tok END) AS p90_tokens
        FROM cum JOIN s USING (source)
        GROUP BY cum.source, s.n_docs, s.total_tokens""")),

    // ── two-stage dedup composition, the canonical training-data order:
    //    document-level exact dedup first, then the substring-level window
    //    gate over the surviving canon (docs too short for one window pass
    //    the gate by definition) ──
    Q("q63_dedup_two_stage",
      (s, d) => {
        val canon = Dedup.exactKeepFirst(Tables.documents(s, d), "doc_id", "text")
        val stats = Dedup.windowDupStats(canon, "doc_id", "text", k = 8)
        canon.join(stats, Seq("doc_id"), "left")
          .filter(col("dup_fraction").isNull || col("dup_fraction") <= lit(1.0 / 3))
          .select(col("doc_id"), col("source"),
            coalesce(col("n_windows"), lit(0L)).as("n_windows"),
            coalesce(col("dup_fraction"), lit(0.0)).as("dup_fraction"))
      },
      Some("""
        WITH canon AS (
          SELECT doc_id, source, text FROM (
            SELECT doc_id, source, text,
                   row_number() OVER (PARTITION BY
                     md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
                     ORDER BY doc_id ASC) AS rn
            FROM documents) WHERE rn = 1),
        t AS (
          SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk
          FROM canon),
        d AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n
              FROM t WHERE len(tk) >= 8),
        w AS (
          SELECT doc_id, unnest(list_transform(range(1, n - 6),
            i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2], tk[i+3],
                                tk[i+4], tk[i+5], tk[i+6], tk[i+7]))) AS win
          FROM d),
        dup AS (
          SELECT win FROM (
            SELECT win, COUNT(DISTINCT doc_id) AS df FROM w GROUP BY 1)
          WHERE df >= 2),
        pd AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup
          FROM w WHERE win IN (SELECT win FROM dup) GROUP BY 1),
        stats AS (
          SELECT d.doc_id, (d.n - 7) AS n_windows,
                 CAST(COALESCE(pd.n_dup, 0) AS DOUBLE) / (d.n - 7) AS dup_fraction
          FROM d LEFT JOIN pd USING (doc_id))
        SELECT c.doc_id, c.source,
               CAST(COALESCE(s.n_windows, 0) AS BIGINT) AS n_windows,
               COALESCE(s.dup_fraction, 0.0) AS dup_fraction
        FROM canon c LEFT JOIN stats s USING (doc_id)
        WHERE s.dup_fraction IS NULL OR s.dup_fraction <= 1.0/3""")),

    // ── contamination audit (report form of q55): per-doc shared-shingle
    //    counts vs the benchmark source, before anything is dropped ──
    Q("q64_contamination_report",
      (s, d) => {
        val docs = Tables.documents(s, d)
        TextAnalysis.decontaminateReport(
          docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"),
          "doc_id", "text", k = 5)
      },
      Some("""
        WITH t AS (
          SELECT doc_id, source, list_distinct(list_transform(
            range(1, len(string_split_regex(lower(trim(text)), '\s+')) - 3),
            i -> concat_ws(' ',
              string_split_regex(lower(trim(text)), '\s+')[i],
              string_split_regex(lower(trim(text)), '\s+')[i+1],
              string_split_regex(lower(trim(text)), '\s+')[i+2],
              string_split_regex(lower(trim(text)), '\s+')[i+3],
              string_split_regex(lower(trim(text)), '\s+')[i+4]))) AS sh
          FROM documents),
        bench AS (
          SELECT DISTINCT unnest(sh) AS s FROM t WHERE source = 'src0'),
        hits AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_contaminated
          FROM (SELECT doc_id, unnest(sh) AS s FROM t WHERE source <> 'src0') p
          WHERE s IN (SELECT s FROM bench)
          GROUP BY 1)
        SELECT t.doc_id, CAST(len(t.sh) AS BIGINT) AS n_shingles,
               CAST(COALESCE(h.n_contaminated, 0) AS BIGINT) AS n_contaminated,
               CAST(COALESCE(h.n_contaminated, 0) > 0 AS INTEGER) AS contaminated
        FROM t LEFT JOIN hits h USING (doc_id)
        WHERE t.source <> 'src0'""")),

    // ── embedding-space outlier scoring: cosine of each vector to its own
    //    label centroid, DECIMAL-accumulated so both engines agree
    //    bit-for-bit ──
    Q("q65_embedding_outlier",
      (s, d) => operators.Similarity.centroidCosine(
        Tables.embeddings(s, d), "vec_id", "embedding", "label"),
      Some("""
        WITH comp AS (
          SELECT label, vec_id, i,
                 CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5) / 1000000
                   AS DECIMAL(18,6)) AS vd
          FROM embeddings, LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) x),
        cent AS (
          SELECT label, i,
                 CAST(floor((CAST(SUM(vd) AS DOUBLE) / COUNT(*)) * 1000000 + 0.5)
                   / 1000000 AS DECIMAL(18,6)) AS c
          FROM comp GROUP BY 1, 2),
        sc AS (
          SELECT vec_id, label,
                 CAST(SUM(vd * c) AS DOUBLE) AS dot,
                 CAST(SUM(vd * vd) AS DOUBLE) AS na,
                 CAST(SUM(c * c) AS DOUBLE) AS nc
          FROM comp JOIN cent USING (label, i) GROUP BY 1, 2)
        SELECT vec_id, label,
               CASE WHEN na = 0 OR nc = 0 THEN 0.0
                    ELSE floor(dot / sqrt(na * nc) * 1000000 + 0.5) / 1000000
               END AS cos_to_centroid
        FROM sc""")),

    // ── semantic dedup (SemDeDup): deterministic seed clusters, then drop
    //    near-identical members within each cluster. τ=0.4 sits at ~p99.9
    //    of the within-cluster pair-cosine distribution on this corpus, so
    //    both kept=1 and kept=0 paths are exercised. Per-pair cosine is a
    //    fixed-order double fold on both engines (q24's proven
    //    equivalence), floor-round6 before every comparison. ──
    Q("q66_semdedup",
      (s, d) => operators.Dedup.semDedup(
        Tables.embeddings(s, d), "vec_id", "embedding",
        // maxCluster must exceed the largest cluster (sf0.1: ~292 members
        // over 8 seeds) or capped clusters silently skip the prune pass
        nClusters = 8, minCosine = 0.4, maxCluster = 4096),
      Some("""
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
        seeds AS (SELECT vec_id AS sid, ev AS sv FROM v ORDER BY vec_id LIMIT 8),
        scored AS (
          SELECT v.vec_id, s.sid,
                 CASE WHEN list_dot_product(v.ev, v.ev) = 0
                       OR list_dot_product(s.sv, s.sv) = 0 THEN 0.0
                      ELSE floor(list_dot_product(v.ev, s.sv) /
                           (sqrt(list_dot_product(v.ev, v.ev)) *
                            sqrt(list_dot_product(s.sv, s.sv)))
                           * 1000000 + 0.5) / 1000000 END AS c
          FROM v CROSS JOIN seeds s),
        mx AS (SELECT vec_id, max(c) AS mc FROM scored GROUP BY 1),
        asg AS (SELECT scored.vec_id, min(sid) AS cluster_id
                FROM scored JOIN mx
                  ON scored.vec_id = mx.vec_id AND scored.c = mx.mc
                GROUP BY 1),
        dropped AS (
          SELECT DISTINCT b.vec_id
          FROM asg a JOIN asg b
            ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
          JOIN v va ON va.vec_id = a.vec_id
          JOIN v vb ON vb.vec_id = b.vec_id
          WHERE CASE WHEN list_dot_product(va.ev, va.ev) = 0
                      OR list_dot_product(vb.ev, vb.ev) = 0 THEN 0.0
                     ELSE floor(list_dot_product(va.ev, vb.ev) /
                          (sqrt(list_dot_product(va.ev, va.ev)) *
                           sqrt(list_dot_product(vb.ev, vb.ev)))
                          * 1000000 + 0.5) / 1000000 END >= 0.4)
        SELECT asg.vec_id, cluster_id,
               CAST(asg.vec_id NOT IN (SELECT vec_id FROM dropped) AS INTEGER) AS kept
        FROM asg""")),

    // ── DSIR-style importance weights: score raw docs by unigram
    //    log-likelihood ratio against the src0 target domain (add-one
    //    smoothing over the joint vocab; DECIMAL-summed per-word terms so
    //    both engines agree bit-for-bit) ──
    Q("q67_importance_weights",
      (s, d) => {
        val docs = Tables.documents(s, d)
        TextAnalysis.importanceWeights(
          docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"),
          "doc_id", "text")
      },
      Some("""
        WITH rt AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk
                    FROM documents WHERE source <> 'src0'),
        tt AS (SELECT string_split_regex(lower(trim(text)), '\s+') AS tk
               FROM documents WHERE source = 'src0'),
        rw AS (SELECT doc_id, unnest(tk) AS w FROM rt),
        tw AS (SELECT unnest(tk) AS w FROM tt),
        cr AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cr FROM rw GROUP BY 1),
        ct AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS ct FROM tw GROUP BY 1),
        vocab AS (SELECT w FROM cr UNION SELECT w FROM ct),
        nr AS (SELECT CAST(COUNT(*) AS BIGINT) AS nr FROM rw),
        nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt FROM tw),
        v AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM vocab),
        term AS (
          SELECT vocab.w,
                 CAST(floor(ln(((COALESCE(ct.ct, 0) + 1.0) / (nt.nt + v.v)) /
                               ((COALESCE(cr.cr, 0) + 1.0) / (nr.nr + v.v)))
                   * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS t
          FROM vocab LEFT JOIN cr USING (w) LEFT JOIN ct USING (w), nr, nt, v),
        dc AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c FROM rw GROUP BY 1, 2)
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
               CAST(SUM(c * t) AS DOUBLE) AS score
        FROM dc JOIN term USING (w) GROUP BY 1""")),

    // ── span-level dedup as a TRANSFORM: drop every token position covered
    //    by an 8-token window shared by ≥2 docs, re-join survivors into
    //    cleaned text (window hashes on the Spark side, window strings in
    //    the oracle — q59's no-collision equivalence) ──
    Q("q68_remove_dup_spans",
      (s, d) => Dedup.removeDupWindows(
        Tables.documents(s, d), "doc_id", "text", k = 8, minDocFreq = 2),
      Some("""
        WITH t AS (
          SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk
          FROM documents),
        d AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n FROM t),
        w AS (
          SELECT doc_id, i, concat_ws(' ', tk[i], tk[i+1], tk[i+2], tk[i+3],
                                           tk[i+4], tk[i+5], tk[i+6], tk[i+7]) AS win
          FROM d, LATERAL (SELECT unnest(range(1, n - 6)) AS i) x
          WHERE n >= 8),
        dup AS (
          SELECT win FROM (
            SELECT win, COUNT(DISTINCT doc_id) AS df FROM w GROUP BY 1)
          WHERE df >= 2),
        cov AS (
          SELECT DISTINCT doc_id, i + j AS p
          FROM w, LATERAL (SELECT unnest(range(0, 8)) AS j) y
          WHERE win IN (SELECT win FROM dup)),
        tok AS (
          SELECT doc_id, p, tk[p] AS tok
          FROM d, LATERAL (SELECT unnest(range(1, n + 1)) AS p) z),
        kept AS (
          SELECT tok.doc_id, CAST(COUNT(*) AS BIGINT) AS nk,
                 string_agg(tok, ' ' ORDER BY tok.p) AS txt
          FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.p = cov.p
          WHERE cov.p IS NULL GROUP BY 1)
        SELECT d.doc_id, d.n AS n_tokens,
               d.n - COALESCE(kept.nk, 0) AS n_removed,
               COALESCE(kept.txt, '') AS cleaned_text
        FROM d LEFT JOIN kept USING (doc_id)""")),

    // ── decontamination, 100 TB form: broadcast Bloom prefilter kills
    //    clean postings map-side, exact semi-join confirms the survivors —
    //    row-identical to q55 (no false negatives by construction), so it
    //    shares q55's oracle ──
    Q("q69_bloom_decontaminate",
      (s, d) => {
        val docs = Tables.documents(s, d)
        TextAnalysis.bloomDecontaminate(
            docs.filter(col("source") =!= "src0"),
            docs.filter(col("source") === "src0"),
            "doc_id", "text", k = 5)
          .select("doc_id", "lang", "source")
      },
      Some("""
        WITH t AS (
          SELECT doc_id, source, string_split_regex(lower(trim(text)), '\s+') AS tk
          FROM documents),
        sh AS (
          SELECT doc_id, source, unnest(list_transform(range(1, len(tk) - 3),
            i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2], tk[i+3], tk[i+4]))) AS s
          FROM t),
        dirty AS (
          SELECT DISTINCT c.doc_id
          FROM sh c JOIN (SELECT DISTINCT s FROM sh WHERE source = 'src0') b
            ON c.s = b.s
          WHERE c.source <> 'src0')
        SELECT doc_id, lang, source FROM documents
        WHERE source <> 'src0' AND doc_id NOT IN (SELECT doc_id FROM dirty)""")),

    // ── tokenizer prep: corpus vocabulary (top-k tokens by count, min-df
    //    floor, distributed TakeOrdered — no global sort) ──
    Q("q70_vocab",
      (s, d) => TextAnalysis.vocabulary(
        Tables.documents(s, d), "text", minCount = 2L, topK = 100),
      Some("""
        WITH toks AS (
          SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
          FROM documents)
        SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM toks WHERE length(token) > 0
        GROUP BY 1 HAVING COUNT(*) >= 2
        ORDER BY cnt DESC, token ASC LIMIT 100""")),

    // ── text analysis: bigram collocations by PMI (three hash aggs + two
    //    vocabulary-sized joins; PMI rounded to 6 decimals before the
    //    deterministic top-k cut) ──
    Q("q71_collocations",
      (s, d) => TextAnalysis.collocations(
        Tables.documents(s, d), "text", minCount = 5L, topK = 100),
      Some("""
        WITH t AS (
          SELECT string_split_regex(lower(trim(text)), '\s+') AS tk FROM documents),
        bg AS (
          SELECT tk[i] AS w1, tk[i+1] AS w2
          FROM t, LATERAL (SELECT unnest(range(1, len(tk))) AS i) x
          WHERE len(tk) >= 2),
        bgf AS (SELECT w1, w2 FROM bg WHERE length(w1) > 0 AND length(w2) > 0),
        pc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_ab FROM bgf GROUP BY 1, 2),
        lc AS (SELECT w1, CAST(SUM(n_ab) AS BIGINT) AS n_a FROM pc GROUP BY 1),
        rc AS (SELECT w2, CAST(SUM(n_ab) AS BIGINT) AS n_b FROM pc GROUP BY 1),
        n AS (SELECT CAST(SUM(n_ab) AS DOUBLE) AS nn FROM pc)
        SELECT w1, w2, n_ab,
               floor(ln(CAST(n_ab AS DOUBLE) * nn /
                 (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))) * 1000000 + 0.5)
                 / 1000000 AS pmi
        FROM pc JOIN lc USING (w1) JOIN rc USING (w2), n
        WHERE n_ab >= 5
        ORDER BY pmi DESC, w1 ASC, w2 ASC LIMIT 100""")),

    // ── sampling: exactly-n-per-stratum deterministic pick (hash-ranked
    //    per-group top-n; WindowGroupLimit keeps map-side state at n) ──
    Q("q72_sample_n",
      (s, d) => operators.Sampling.sampleN(
          Tables.documents(s, d), "doc_id", "lang", n = 20)
        .select("doc_id", "lang", "source"),
      Some("""
        SELECT doc_id, lang, source FROM (
          SELECT doc_id, lang, source,
                 row_number() OVER (PARTITION BY lang
                   ORDER BY ('0x' || substr(md5(doc_id::VARCHAR || 'samplen'), 1, 8))::UBIGINT
                              / 4294967296.0 ASC,
                            doc_id ASC) AS rn
          FROM documents) WHERE rn <= 20""")),

    // ── bucketed layout: both join sides pre-shuffled at write time →
    //    join AND group-by on the bucket key run with zero exchanges
    //    (PlanSpec-asserted); the per-query shuffle is paid once, at
    //    layout time ──
    Q("q73_bucketed_join",
      (s, d) => {
        val tmp = Scratch.dir("graft-bucket")
        sources.Bucketing.writeBucketed(
          s.read.parquet(s"$d/orders.parquet")
            .select("o_orderkey", "o_custkey", "o_totalprice"),
          "q73_orders", s"$tmp/orders", "o_custkey", 8)
        sources.Bucketing.writeBucketed(
          s.read.parquet(s"$d/customer.parquet").select("c_custkey", "c_name"),
          "q73_customer", s"$tmp/customer", "c_custkey", 8)
        sources.Bucketing.colocatedJoin(
            sources.Bucketing.table(s, "q73_orders"),
            sources.Bucketing.table(s, "q73_customer"),
            "o_custkey", "c_custkey")
          .groupBy(col("c_custkey"), col("c_name"))
          .agg(count(lit(1)).as("n_orders"),
            sumMoney(col("o_totalprice")).as("total_price"))
      },
      Some("""
        SELECT c_custkey, c_name, CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2""")),

    // ── hashed-BOW linear classifier scoring (feature hashing: no vocab
    //    dictionary, fixed-width weight vector, one hash agg) ──
    Q("q74_hashed_linear",
      (s, d) => TextAnalysis.hashedLinearScore(
        Tables.documents(s, d), "doc_id", "text"),
      Some("""
        WITH post AS (
          SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
          FROM documents),
        b AS (
          SELECT doc_id,
                 ('0x' || substr(md5(tok || 'hlm'), 1, 8))::UBIGINT % 1048576 AS bucket
          FROM post WHERE length(tok) > 0),
        w AS (
          SELECT doc_id,
                 floor((('0x' || substr(md5('w' || bucket::VARCHAR), 1, 8))::UBIGINT
                          / 4294967296.0 * 2.0 - 1.0) * 1000000 + 0.5) / 1000000 AS w6
          FROM b)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(CAST(w6 AS DECIMAL(18,6))) AS DOUBLE) AS score
        FROM w GROUP BY 1""")),

    // ── BM25 relevance against a query-term bag (corpus stats one agg;
    //    everything after the stats pass is query-sized) ──
    Q("q75_bm25",
      (s, d) => TextAnalysis.bm25(Tables.documents(s, d), "doc_id", "text",
        Seq("data", "bank", "account", "risk")),
      Some("""
        WITH post AS (
          SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
          FROM documents),
        p2 AS (SELECT doc_id, tok FROM post WHERE length(tok) > 0),
        dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM p2 GROUP BY 1),
        st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                      CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
               FROM dl),
        tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
               FROM p2 WHERE tok IN ('data', 'bank', 'account', 'risk')
               GROUP BY 1, 2),
        df AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
        t AS (
          SELECT tf.doc_id,
                 floor(((ln((st.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
                          * (CAST(tf.tf AS DOUBLE) * (1.2 + 1.0))) /
                        (CAST(tf.tf AS DOUBLE) +
                          1.2 * ((1.0 - 0.75) + 0.75 * (CAST(dl.dl AS DOUBLE) / st.avgdl))))
                       * 1000000 + 0.5) / 1000000 AS t6
          FROM tf JOIN df USING (tok) JOIN dl USING (doc_id), st)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
               CAST(SUM(CAST(t6 AS DECIMAL(18,6))) AS DOUBLE) AS score
        FROM t GROUP BY 1""")),

    // ── incremental exact dedup: new batch vs already-ingested corpus —
    //    index reduces to distinct content hashes before anything moves ──
    Q("q76_incremental_dedup",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.incrementalExact(
            docs.filter(col("source") =!= "src0"),
            docs.filter(col("source") === "src0"),
            "doc_id", "text")
          .select("doc_id", "lang", "source")
      },
      Some("""
        WITH norm AS (
          SELECT doc_id, source,
                 regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS nt
          FROM documents),
        idx AS (SELECT DISTINCT nt FROM norm WHERE source = 'src0'),
        fresh AS (
          SELECT n.doc_id, n.nt FROM norm n
          WHERE n.source <> 'src0' AND NOT EXISTS
            (SELECT 1 FROM idx WHERE idx.nt = n.nt)),
        winners AS (SELECT MIN(doc_id) AS doc_id FROM fresh GROUP BY nt)
        SELECT doc_id, lang, source FROM documents
        WHERE doc_id IN (SELECT doc_id FROM winners)""")),

    // ── deterministic training order: (shard, pos) coordinates, sorts
    //    only within shards — no global range exchange ──
    Q("q77_training_order",
      (s, d) => operators.Sampling.trainingOrder(
          Tables.documents(s, d), "doc_id", nShards = 8)
        .select("doc_id", "shard", "pos"),
      Some("""
        WITH s AS (
          SELECT doc_id,
                 CAST(('0x' || substr(md5(doc_id::VARCHAR || 'order-shard'), 1, 8))::UBIGINT
                        % 8 AS BIGINT) AS shard,
                 ('0x' || substr(md5(doc_id::VARCHAR || 'order-pos'), 1, 8))::UBIGINT
                   / 4294967296.0 AS r
          FROM documents)
        SELECT doc_id, shard,
               row_number() OVER (PARTITION BY shard ORDER BY r ASC, doc_id ASC) AS pos
        FROM s""")),

    // ── Z-order layout key: Morton interleave of two 16-bit range ranks
    //    (map-side bit ops; the layout's range exchange is the only
    //    shuffle and replaces the one a plain sorted write pays) ──
    Q("q78_zorder_key",
      (s, d) => {
        val o = s.read.parquet(s"$d/orders.parquet")
        val bounds = o.agg(
          min(col("o_totalprice")).as("plo"), max(col("o_totalprice")).as("phi"),
          min(col("o_custkey")).cast("double").as("clo"),
          max(col("o_custkey")).cast("double").as("chi"))
        o.crossJoin(broadcast(bounds))
          .select(col("o_orderkey"),
            sources.ZOrder.zValue(
              col("o_totalprice"), col("plo"), col("phi"),
              col("o_custkey").cast("double"), col("clo"), col("chi")).as("zval"))
      },
      Some("""
        WITH b AS (
          SELECT MIN(o_totalprice) AS plo, MAX(o_totalprice) AS phi,
                 CAST(MIN(o_custkey) AS DOUBLE) AS clo,
                 CAST(MAX(o_custkey) AS DOUBLE) AS chi
          FROM orders),
        r AS (
          SELECT o_orderkey,
                 CASE WHEN phi = plo THEN 0 ELSE
                   LEAST(GREATEST(CAST(floor((o_totalprice - plo) / (phi - plo)
                     * 65535.0) AS BIGINT), 0), 65535) END AS ra,
                 CASE WHEN chi = clo THEN 0 ELSE
                   LEAST(GREATEST(CAST(floor((CAST(o_custkey AS DOUBLE) - clo)
                     / (chi - clo) * 65535.0) AS BIGINT), 0), 65535) END AS rb
          FROM orders, b),
        sa AS (SELECT o_orderkey, ((ra | (ra << 8)) & 16711935) AS a1,
                      ((rb | (rb << 8)) & 16711935) AS b1 FROM r),
        sb AS (SELECT o_orderkey, ((a1 | (a1 << 4)) & 252645135) AS a2,
                      ((b1 | (b1 << 4)) & 252645135) AS b2 FROM sa),
        sc AS (SELECT o_orderkey, ((a2 | (a2 << 2)) & 858993459) AS a3,
                      ((b2 | (b2 << 2)) & 858993459) AS b3 FROM sb),
        sd AS (SELECT o_orderkey, ((a3 | (a3 << 1)) & 1431655765) AS a4,
                      ((b3 | (b3 << 1)) & 1431655765) AS b4 FROM sc)
        SELECT o_orderkey, ((a4 << 1) | b4) AS zval FROM sd""")),

    // ── record linkage: blocked fuzzy self-join (block → length-bound
    //    prune → Levenshtein verify); blocking is the contract, so the
    //    result is oracle-exact. Composite block key (nation, 12-char
    //    name prefix): nation alone has 25 distinct values, so blocks
    //    would grow LINEARLY with the table and pair work quadratically;
    //    the prefix subdivides them as the corpus grows while agreeing
    //    on any pair within 2 edits of the trailing characters — and the
    //    maxBlock cut drops whatever pathological block remains ──
    Q("q79_fuzzy_pairs",
      (s, d) => operators.Linkage.fuzzyPairsBlocked(
        s.read.parquet(s"$d/customer.parquet")
          .withColumn("name_pfx", substring(col("c_name"), 1, 12)),
        "c_custkey", "c_name", Seq("c_nationkey", "name_pfx"), maxDist = 2),
      Some("""
        SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
               CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
        FROM customer a JOIN customer b
          ON a.c_nationkey = b.c_nationkey
         AND substr(a.c_name, 1, 12) = substr(b.c_name, 1, 12)
        WHERE a.c_custkey < b.c_custkey
          AND abs(length(a.c_name) - length(b.c_name)) <= 2
          AND levenshtein(a.c_name, b.c_name) <= 2""")),

    // ── skew-proof two-phase aggregation: partial on (key, salt), final
    //    on key — DECIMAL accumulation makes the salting invisible ──
    Q("q80_salted_agg",
      (s, d) => operators.Skew.saltedAggregate(
          s.read.parquet(s"$d/lineitem.parquet"),
          Seq("l_returnflag"),
          Map("sum_qty" -> col("l_quantity").cast("decimal(18,2)")),
          saltFactor = 8)
        .withColumn("sum_qty", col("sum_qty").cast("double")),
      Some("""
        SELECT l_returnflag,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM lineitem GROUP BY 1""")),

    // ── temperature (α=0.5) source rebalancing: keep-rate √(n_min/n_s)
    //    per source — map-side filter, corpus never shuffles ──
    Q("q81_temperature_sample",
      (s, d) => operators.Sampling.temperatureSample(
          Tables.documents(s, d), "doc_id", "source")
        .select("doc_id", "lang", "source"),
      Some("""
        WITH c AS (
          SELECT source, CAST(COUNT(*) AS DOUBLE) AS n FROM documents GROUP BY 1),
        m AS (SELECT MIN(n) AS nmin FROM c),
        r AS (SELECT source, sqrt(nmin / n) AS rate FROM c, m)
        SELECT d.doc_id, d.lang, d.source
        FROM documents d JOIN r USING (source)
        WHERE ('0x' || substr(md5(d.doc_id::VARCHAR || 'temp'), 1, 8))::UBIGINT
                / 4294967296.0 < r.rate""")),

    // ── corpus assembly v2: the round-4 operator chain end to end —
    //    exact dedup → Bloom-prefiltered decontamination → temperature
    //    rebalance → deterministic training order. Every stage is
    //    individually oracle-proven; this proves the COMPOSITION (stage
    //    boundaries, population each stage computes its stats on) ──
    Q("q82_assembly_v2",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val corpus = docs.filter(col("source") =!= "src0")
        val bench = docs.filter(col("source") === "src0")
        val deduped = Dedup.exactKeepFirst(corpus, "doc_id", "text")
        val clean = TextAnalysis.bloomDecontaminate(deduped, bench,
          "doc_id", "text", k = 5)
        val balanced = operators.Sampling.temperatureSample(
          clean, "doc_id", "source")
        operators.Sampling.trainingOrder(balanced, "doc_id", nShards = 4)
          .select("doc_id", "source", "shard", "pos")
      },
      Some("""
        WITH corpus AS (
          SELECT doc_id, source, text,
                 regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS nt
          FROM documents WHERE source <> 'src0'),
        dedup AS (
          SELECT MIN(doc_id) AS doc_id FROM corpus GROUP BY nt),
        surv AS (
          SELECT c.* FROM corpus c JOIN dedup USING (doc_id)),
        tok AS (
          SELECT doc_id, source, string_split_regex(lower(trim(text)), '\s+') AS tk
          FROM documents),
        sh AS (
          SELECT doc_id, unnest(list_transform(range(1, len(tk) - 3),
            i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2], tk[i+3], tk[i+4]))) AS s
          FROM tok),
        bsh AS (
          SELECT DISTINCT s FROM sh
          WHERE doc_id IN (SELECT doc_id FROM documents WHERE source = 'src0')),
        dirty AS (
          SELECT DISTINCT sh.doc_id FROM sh JOIN bsh USING (s)
          WHERE sh.doc_id IN (SELECT doc_id FROM surv)),
        clean AS (
          SELECT * FROM surv WHERE doc_id NOT IN (SELECT doc_id FROM dirty)),
        cnt AS (
          SELECT source, CAST(COUNT(*) AS DOUBLE) AS n FROM clean GROUP BY 1),
        mn AS (SELECT MIN(n) AS nmin FROM cnt),
        rate AS (SELECT source, sqrt(nmin / n) AS rate FROM cnt, mn),
        bal AS (
          SELECT c.doc_id, c.source FROM clean c JOIN rate USING (source)
          WHERE ('0x' || substr(md5(c.doc_id::VARCHAR || 'temp'), 1, 8))::UBIGINT
                  / 4294967296.0 < rate.rate),
        coord AS (
          SELECT doc_id, source,
                 CAST(('0x' || substr(md5(doc_id::VARCHAR || 'order-shard'), 1, 8))::UBIGINT
                        % 4 AS BIGINT) AS shard,
                 ('0x' || substr(md5(doc_id::VARCHAR || 'order-pos'), 1, 8))::UBIGINT
                   / 4294967296.0 AS r
          FROM bal)
        SELECT doc_id, source, shard,
               row_number() OVER (PARTITION BY shard ORDER BY r ASC, doc_id ASC) AS pos
        FROM coord""")),

    // ── sketch profiling: HLL++ distinct counts + quantile sketch per
    //    source — mergeable partial aggregation, so corpus profiling at
    //    100 TB is one pass with bounded per-group state. No DuckDB
    //    oracle (different sketch impls); OperatorsSpec bounds the error
    //    against exact answers ──
    // ── approximate corpus profile, ORACLE-VISIBLE (q220's pattern):
    //    per source, the exact doc count rides next to the sketch
    //    invariants the oracle pins TRUE — HLL within max(3·rsd·n, 2)
    //    (the small-n absolute floor: HLL error at n≈25 is not yet
    //    normal), and each approx percentile inside the exact
    //    [p−0.05, p+0.05] interpolated band. Groups under 10 docs skip
    //    the percentile band (one element each side of the rank makes
    //    the band degenerate) — at the oracle scale every group has 25. ──
    Q("q83_approx_profile",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val lens = TextAnalysis.quality(docs, "text")
          .select(col("doc_id"), col("source"), col("n_tokens"))
        val approx = lens.groupBy(col("source")).agg(
          approx_count_distinct(col("doc_id"), rsd = 0.02).as("__ad"),
          percentile_approx(col("n_tokens"), lit(0.5), lit(10000)).as("__p50"),
          percentile_approx(col("n_tokens"), lit(0.9), lit(10000)).as("__p90"))
        val exact = lens.groupBy(col("source")).agg(
          countDistinct(col("doc_id")).as("n_docs"),
          expr("percentile(n_tokens, 0.45)").as("__e45"),
          expr("percentile(n_tokens, 0.55)").as("__e55"),
          expr("percentile(n_tokens, 0.85)").as("__e85"),
          expr("percentile(n_tokens, 0.95)").as("__e95"))
        approx.join(exact, Seq("source"))
          .select(col("source"), col("n_docs"),
            (abs(col("__ad") - col("n_docs")).cast("double")
              <= greatest(lit(3.0 * 0.02) * col("n_docs").cast("double"),
                lit(2.0))).as("hll_within_bound"),
            (col("n_docs") < 10 || (col("__p50").cast("double")
              .between(col("__e45"), col("__e55")))).as("p50_within_band"),
            (col("n_docs") < 10 || (col("__p90").cast("double")
              .between(col("__e85"), col("__e95")))).as("p90_within_band"))
      },
      Some("""
        SELECT source, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
               TRUE AS hll_within_bound, TRUE AS p50_within_band,
               TRUE AS p90_within_band
        FROM documents GROUP BY 1""")),

    // ── curriculum order: easy-to-hard (token count) within shards,
    //    hash tie-breaks keep equal-difficulty rows interleaved ──
    Q("q84_curriculum_order",
      (s, d) => {
        val docs = Tables.documents(s, d)
        operators.Sampling.curriculumOrder(docs, "doc_id",
            size(TextAnalysis.tokens(col("text"))), nShards = 8)
          .select("doc_id", "shard", "pos")
      },
      Some("""
        WITH s AS (
          SELECT doc_id,
                 CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS INTEGER) AS diff,
                 CAST(('0x' || substr(md5(doc_id::VARCHAR || 'order-shard'), 1, 8))::UBIGINT
                        % 8 AS BIGINT) AS shard,
                 ('0x' || substr(md5(doc_id::VARCHAR || 'order-pos'), 1, 8))::UBIGINT
                   / 4294967296.0 AS r
          FROM documents)
        SELECT doc_id, shard,
               row_number() OVER (PARTITION BY shard
                                  ORDER BY diff ASC, r ASC, doc_id ASC) AS pos
        FROM s""")),

    // ── semantic benchmark decontamination: drop corpus embeddings whose
    //    cosine to ANY benchmark (label-9) vector reaches 0.3 — LEFT ANTI
    //    broadcast nested-loop on the non-equi predicate; the corpus never
    //    shuffles and the anti-join short-circuits on first contamination ──
    Q("q85_semantic_decontam",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.semanticDecontaminate(
            emb.filter(col("label") =!= 9), emb.filter(col("label") === 9),
            "vec_id", "embedding", minCosine = 0.3)
          .select(col("vec_id"), col("label"))
      },
      Some("""
        WITH b AS (SELECT embedding::DOUBLE[] AS bv FROM embeddings WHERE label = 9)
        SELECT vec_id, label FROM embeddings c
        WHERE label <> 9 AND NOT EXISTS (
          SELECT 1 FROM b
          WHERE round(list_cosine_similarity(c.embedding::DOUBLE[], b.bv), 6) >= 0.3)""")),

    // ── hybrid retrieval: BM25 top-20 + embedding-cosine top-20 fused by
    //    reciprocal rank (k0=60). Both lists are TakeOrdered top-N frames,
    //    so fusion runs on 2·N rows regardless of corpus size ──
    Q("q86_hybrid_rrf",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val emb = Tables.embeddings(s, d)
        val lex = Similarity.topNRanked(
          TextAnalysis.bm25(docs, "doc_id", "text",
            Seq("data", "bank", "account", "risk")),
          "doc_id", "score", n = 20)
        val sem = Similarity.bruteForceTopK(
            emb.filter(col("vec_id") === 0), emb, "vec_id", "embedding", k = 20)
          .select(col("neighbor_id").as("doc_id"), col("rank"))
        Similarity.rrfFuse(lex, sem, "doc_id")
      },
      Some("""
        WITH post AS (
          SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
          FROM documents),
        p2 AS (SELECT doc_id, tok FROM post WHERE length(tok) > 0),
        dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM p2 GROUP BY 1),
        st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                      CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
               FROM dl),
        tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
               FROM p2 WHERE tok IN ('data', 'bank', 'account', 'risk')
               GROUP BY 1, 2),
        df AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
        t AS (
          SELECT tf.doc_id,
                 floor(((ln((st.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
                          * (CAST(tf.tf AS DOUBLE) * (1.2 + 1.0))) /
                        (CAST(tf.tf AS DOUBLE) +
                          1.2 * ((1.0 - 0.75) + 0.75 * (CAST(dl.dl AS DOUBLE) / st.avgdl))))
                       * 1000000 + 0.5) / 1000000 AS t6
          FROM tf JOIN df USING (tok) JOIN dl USING (doc_id), st),
        bm AS (
          SELECT doc_id, CAST(SUM(CAST(t6 AS DECIMAL(18,6))) AS DOUBLE) AS score
          FROM t GROUP BY 1),
        lex AS (
          SELECT doc_id, CAST(row_number() OVER (
            ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank_a
          FROM bm QUALIFY rank_a <= 20),
        q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        sem0 AS (
          SELECT vec_id AS doc_id,
                 round(list_dot_product(qv, embedding::DOUBLE[]) /
                   (sqrt(list_dot_product(qv, qv)) *
                    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 6) AS cosine
          FROM embeddings, q WHERE vec_id <> 0),
        sem AS (
          SELECT doc_id, CAST(row_number() OVER (
            ORDER BY cosine DESC, doc_id ASC) AS INTEGER) AS rank_b
          FROM sem0 QUALIFY rank_b <= 20),
        fused AS (
          SELECT doc_id, rank_a, rank_b,
                 round(coalesce(1.0 / (60 + rank_a), 0.0) +
                       coalesce(1.0 / (60 + rank_b), 0.0), 6) AS rrf
          FROM lex FULL OUTER JOIN sem USING (doc_id))
        SELECT doc_id, rank_a, rank_b, rrf,
               CAST(row_number() OVER (ORDER BY rrf DESC, doc_id ASC) AS INTEGER)
                 AS fused_rank
        FROM fused""")),

    // ── §4 skew: salted equi-join — key space spread over saltFactor
    //    tasks, small side replicated; result identical to the plain join ──
    Q("q87_salted_join",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("event_id"), col("user_id"), col("value"))
        val users = Tables.events(s, d)
          .groupBy(col("user_id")).agg(count(lit(1)).as("user_events"))
        graft.operators.Skew.saltedJoin(ev, users, Seq("user_id"),
          saltFactor = 8)
      },
      Some("""
        WITH u AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS user_events
                   FROM events GROUP BY 1)
        SELECT e.event_id, e.user_id, e.value, u.user_events
        FROM events e JOIN u USING (user_id)""")),

    // ── matryoshka truncation: first-8-dims prefix, L2-renormalized —
    //    the MRL cheap-retrieval trick (score at m dims, rerank at full
    //    width); map-only, zero shuffle ──
    Q("q88_matryoshka",
      (s, d) => Tables.embeddings(s, d)
        .select(col("vec_id"),
          posexplode(graft.functions.VectorFunctions.matryoshka(col("embedding"), 8)))
        .toDF("vec_id", "dim", "v"),
      Some("""
        WITH p AS (
          SELECT vec_id, list_transform(embedding[1:8], x -> x::DOUBLE) AS pre
          FROM embeddings),
        n AS (SELECT vec_id, pre, sqrt(list_dot_product(pre, pre)) AS nrm FROM p)
        SELECT vec_id, CAST(u.i - 1 AS INTEGER) AS dim,
               round(CASE WHEN nrm = 0 THEN 0.0 ELSE pre[u.i] / nrm END, 6) AS v
        FROM n, LATERAL (SELECT unnest(range(1, len(pre) + 1)) AS i) u""")),

    // ── perceptual image dedup: text → REAL PNG encode → javax.imageio
    //    decode → 64-bit dHash → pigeonhole hamming near-dup. The encode/
    //    decode round-trip exercises the genuine codec path (testdata has
    //    no image payloads). Codec output isn't SQL-expressible, so the
    //    oracle pins PLANTED-PAIR RECALL (q220/q106 pattern): for each
    //    base doc we plant an exact payload twin (identical raster →
    //    hamming 0) and a provably-bounded near twin
    //    (pngPayloadPerturbed inverts only dHash cell (0,0) → hamming ≤ 1
    //    by construction), run the near-dup join over the FULL corpus +
    //    twins, and emit found/bound booleans the oracle pins TRUE. A
    //    recall miss or a Hamming-bound violation is now a hard
    //    CORRECTNESS failure. Golden rasters/tweaks/corrupt payloads stay
    //    spec-pinned (OperatorsSpec). Twin ids live at +10M/+20M — a
    //    namespace disjoint from every scale factor's real doc_ids AND
    //    from the sf1 fixture's replica shift (make_sf1.py DOC_SHIFT =
    //    100k × 10 copies tops out below 1.1M), so the (lo,hi) recall
    //    join can never pair a twin against a replica doc. ──
    Q("q89_image_neardup",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val corpus = docs.select(col("doc_id"),
          Multimodal.pngPayload(col("text")).as("payload"))
        val planted = docs.filter(col("doc_id") < 12)
        val exactTwins = planted.select(
          (col("doc_id") + 10000000L).as("doc_id"),
          Multimodal.pngPayload(col("text")).as("payload"))
        val nearTwins = planted.select(
          (col("doc_id") + 20000000L).as("doc_id"),
          Multimodal.pngPayloadPerturbed(col("text")).as("payload"))
        val pairs = Multimodal.dhashNearDup(
            corpus.unionByName(exactTwins).unionByName(nearTwins),
            "doc_id", maxHamming = 6)
          .select(least(col("id_a"), col("id_b")).as("lo"),
            greatest(col("id_a"), col("id_b")).as("hi"),
            col("hamming"))
        val exact = planted
          .select(col("doc_id").as("lo"), (col("doc_id") + 10000000L).as("hi"))
          .join(pairs, Seq("lo", "hi"), "left")
          .select(col("lo").as("doc_id"),
            (col("hamming").isNotNull && col("hamming") === 0)
              .as("exact_twin_found_h0"))
        val near = planted
          .select(col("doc_id").as("lo"), (col("doc_id") + 20000000L).as("hi"))
          .join(pairs, Seq("lo", "hi"), "left")
          .select(col("lo").as("doc_id"),
            (col("hamming").isNotNull && col("hamming") <= 1)
              .as("near_twin_found_hle1"))
        exact.join(near, Seq("doc_id"))
      },
      Some("""
        SELECT doc_id, TRUE AS exact_twin_found_h0, TRUE AS near_twin_found_hle1
        FROM documents WHERE doc_id < 12""")),

    // ── bucketized range join: points-in-intervals as a hash equi-join on
    //    domain chunks + residual BETWEEN, instead of the BNLJ/cartesian
    //    Spark plans for a bare non-equi predicate. Intervals: each user's
    //    first two hours of activity; points: every event. PlanSpec pins
    //    the no-nested-loop property. ──
    Q("q90_range_join",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"), unix_timestamp(col("ts")).as("pt"), col("value"))
        val iv = Tables.events(s, d)
          .groupBy(col("user_id").as("iv_user"))
          .agg(min(unix_timestamp(col("ts"))).as("lo"))
          .withColumn("hi", col("lo") + 7200L)
        operators.RangeJoin.pointInInterval(ev, "pt", iv, "lo", "hi",
            bucketWidth = 3600L)
          .groupBy(col("iv_user"))
          .agg(count(lit(1)).as("n_hits"), sumMoney(col("value")).as("sum_value"))
      },
      Some("""
        WITH iv AS (
          SELECT user_id AS iv_user,
                 CAST(floor(epoch(min(ts))) AS BIGINT) AS lo,
                 CAST(floor(epoch(min(ts))) AS BIGINT) + 7200 AS hi
          FROM events GROUP BY 1)
        SELECT iv_user, CAST(COUNT(*) AS BIGINT) AS n_hits,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events e JOIN iv
          ON CAST(floor(epoch(e.ts)) AS BIGINT) BETWEEN iv.lo AND iv.hi
        GROUP BY 1""")),

    // ── one-pass distributed Gramian (X^T X upper triangle) in integer
    //    micro-units: the tall-skinny PCA reduction — a single map-side-
    //    combinable aggregation carries a fixed d(d+1)/2 buffer per task;
    //    the d×d eigensolve then runs driver-side (functions.Pca.fit).
    //    Integer term rounding makes the sum order-independent, so the
    //    partition-parallel Spark agg and DuckDB's serial one agree
    //    bit-for-bit. ──
    Q("q91_gramian",
      (s, d) => graft.functions.Pca.gramian(Tables.embeddings(s, d), "embedding", 64),
      Some("""
        WITH m AS (
          SELECT vec_id, CAST(u.i AS INTEGER) - 1 AS i,
                 CAST(floor(CAST(embedding[u.i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS mi
          FROM embeddings,
               LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) u)
        SELECT a.i AS i, b.i AS j,
               CAST(SUM(CAST(floor((a.mi * b.mi + 500000) / 1000000.0) AS BIGINT))
                 AS BIGINT) AS g_micro
        FROM m a JOIN m b ON a.vec_id = b.vec_id AND a.i <= b.i
        GROUP BY 1, 2""")),

    // ── hard-negative mining: per anchor, the top-k nearest DIFFERENT-
    //    label vectors (contrastive near-miss negatives). Broadcast-anchor
    //    BNLJ — the corpus never shuffles for scoring, same contract as
    //    q24. ──
    Q("q92_hard_negatives",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        operators.Similarity.hardNegatives(
          emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding", "label", k = 5)
      },
      Some("""
        WITH a AS (SELECT vec_id AS anchor_id, embedding::DOUBLE[] AS av,
                          label AS anchor_label
                   FROM embeddings WHERE vec_id < 10),
        scored AS (
          SELECT anchor_id, vec_id AS neg_id, label AS neg_label,
                 round(list_dot_product(av, embedding::DOUBLE[]) /
                   (sqrt(list_dot_product(av, av)) *
                    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 6) AS cosine
          FROM embeddings, a
          WHERE label <> anchor_label AND vec_id <> anchor_id)
        SELECT anchor_id, neg_id, neg_label, cosine,
               CAST(row_number() OVER (PARTITION BY anchor_id
                 ORDER BY cosine DESC, neg_id ASC) AS INTEGER) AS rank
        FROM scored
        QUALIFY rank <= 5""")),

    // ── batch gap-based sessionization: the classic clickstream operator —
    //    lag → boundary flag → running sum, ONE shuffle on the key, no
    //    global sort (the batch counterpart of q13's session_window). ──
    Q("q93_sessionize",
      (s, d) => operators.Sessionize.summarize(
        Tables.events(s, d), "user_id", "ts",
        gapSeconds = 1800L, tieCols = Seq("event_id")),
      Some("""
        WITH o AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN floor(epoch(ts)) - lag(floor(epoch(ts))) OVER w IS NULL
                        OR floor(epoch(ts)) - lag(floor(epoch(ts))) OVER w > 1800
                      THEN 1 ELSE 0 END AS is_new
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        s AS (
          SELECT user_id, ts,
                 SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS session_seq
          FROM o)
        SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               min(ts) AS session_start, max(ts) AS session_end,
               CAST(floor(epoch(max(ts))) - floor(epoch(min(ts))) AS BIGINT) AS duration_sec
        FROM s GROUP BY 1, 2""")),

    // ── count–min-sketch prefiltered heavy hitters: a fixed-size mergeable
    //    sketch pass + a codegen'd estimate probe kill tail tokens inside
    //    the scan stage, and the exact count only aggregates survivors.
    //    CMS never undercounts → lossless prefilter → byte-identical to
    //    the exact SQL (q70's plan would shuffle every distinct tail token
    //    at corpus scale; this one shuffles candidates only). ──
    Q("q94_heavy_hitters",
      (s, d) => TextAnalysis.heavyHitters(
        Tables.documents(s, d), "text", minCount = 50L, topK = 100),
      Some("""
        WITH toks AS (
          SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
          FROM documents)
        SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM toks WHERE length(token) > 0
        GROUP BY 1 HAVING COUNT(*) >= 50
        ORDER BY cnt DESC, token ASC LIMIT 100""")),

    // ── fractional-epoch resampling: "src0 ×2.5, src1 ×0.4" data mixing —
    //    floor(w) copies + one more iff hashFraction < frac(w); map-only
    //    sequence explode, per-key deterministic, w<1 degenerates to
    //    subsampling. The oracle reproduces the exact copy set. ──
    Q("q95_epoch_upsample",
      (s, d) => operators.Sampling.epochUpsample(
          Tables.documents(s, d), "doc_id", "source",
          Map("src0" -> 2.5, "src1" -> 0.4, "src2" -> 3.0), default = 1.0)
        .select("doc_id", "source", "copy_seq"),
      Some("""
        WITH w AS (
          SELECT doc_id, source,
                 CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 0.4
                             WHEN 'src2' THEN 3.0 ELSE 1.0 END AS ew,
                 ('0x' || substr(md5(doc_id::VARCHAR || 'epoch'), 1, 8))::UBIGINT
                   / 4294967296.0 AS hf
          FROM documents),
        n AS (
          SELECT doc_id, source,
                 CAST(floor(ew) AS BIGINT) +
                 CASE WHEN hf < ew - floor(ew) THEN 1 ELSE 0 END AS nc
          FROM w)
        SELECT doc_id, source, CAST(u.c AS BIGINT) AS copy_seq
        FROM n, LATERAL (SELECT unnest(range(1, nc + 1)) AS c) u
        WHERE nc > 0""")),

    // ── interval-overlap join: each user's first-2h window × each event
    //    type's first-hour window, as a bucketized hash equi-join with a
    //    canonical-bucket residual (one emission per pair, no distinct) —
    //    the nested-loop-free session-correlation shape. ──
    Q("q96_interval_overlap",
      (s, d) => {
        val ev = Tables.events(s, d)
        val ua = ev.groupBy(col("user_id").as("u_id"))
          .agg(min(unix_timestamp(col("ts"))).as("u_lo"))
          .withColumn("u_hi", col("u_lo") + 7200L)
        val tb = ev.groupBy(col("event_type").as("t_type"))
          .agg(min(unix_timestamp(col("ts"))).as("t_lo"))
          .withColumn("t_hi", col("t_lo") + 3600L)
        operators.RangeJoin.intervalOverlap(
            ua, "u_lo", "u_hi", tb, "t_lo", "t_hi", bucketWidth = 3600L)
          .select(col("u_id"), col("t_type"),
            greatest(col("u_lo"), col("t_lo")).as("overlap_start"),
            least(col("u_hi"), col("t_hi")).as("overlap_end"))
      },
      Some("""
        WITH ua AS (
          SELECT user_id AS u_id,
                 CAST(floor(epoch(min(ts))) AS BIGINT) AS u_lo,
                 CAST(floor(epoch(min(ts))) AS BIGINT) + 7200 AS u_hi
          FROM events GROUP BY 1),
        tb AS (
          SELECT event_type AS t_type,
                 CAST(floor(epoch(min(ts))) AS BIGINT) AS t_lo,
                 CAST(floor(epoch(min(ts))) AS BIGINT) + 3600 AS t_hi
          FROM events GROUP BY 1)
        SELECT u_id, t_type,
               greatest(u_lo, t_lo) AS overlap_start,
               least(u_hi, t_hi) AS overlap_end
        FROM ua JOIN tb ON u_lo <= t_hi AND t_lo <= u_hi""")),

    // ── product quantization: 4-subspace codebook from the 8 smallest-id
    //    vectors, map-only encode, broadcast per-anchor ADC LUTs — the
    //    corpus scans in code space (m bytes/vector at scale) and never
    //    shuffles for scoring. Integer micro-unit distances → the oracle
    //    reproduces encode+ADC bit-for-bit. ──
    Q("q97_pq_adc",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        operators.Pq.adcTopK(
          emb.filter(col("vec_id") < 3), emb, "vec_id", "embedding",
          m = 4, k = 8, topK = 10)
      },
      Some("""
        WITH seeds AS (
          SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INTEGER) - 1 AS code,
                 embedding
          FROM embeddings ORDER BY vec_id LIMIT 8),
        cent AS (
          SELECT (u.i - 1) // 16 AS sub, code, (u.i - 1) % 16 AS t,
                 CAST(floor(CAST(embedding[u.i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS c
          FROM seeds, LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) u),
        vel AS (
          SELECT vec_id, (u.i - 1) // 16 AS sub, (u.i - 1) % 16 AS t,
                 CAST(floor(CAST(embedding[u.i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS x
          FROM embeddings, LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) u),
        dist AS (
          SELECT v.vec_id, v.sub, c.code, SUM((v.x - c.c) * (v.x - c.c)) AS d2
          FROM vel v JOIN cent c ON v.sub = c.sub AND v.t = c.t
          GROUP BY 1, 2, 3),
        codes AS (
          SELECT vec_id, sub, code FROM (
            SELECT vec_id, sub, code,
                   row_number() OVER (PARTITION BY vec_id, sub
                                      ORDER BY d2 ASC, code ASC) AS rn
            FROM dist) WHERE rn = 1),
        alut AS (
          SELECT vec_id AS anchor_id, sub, code, d2 FROM dist WHERE vec_id < 3),
        est AS (
          SELECT a.anchor_id, c.vec_id AS neighbor_id, SUM(a.d2) AS adc_dist
          FROM codes c JOIN alut a ON a.sub = c.sub AND a.code = c.code
          WHERE c.vec_id <> a.anchor_id
          GROUP BY 1, 2)
        SELECT anchor_id, neighbor_id, CAST(adc_dist AS BIGINT) AS adc_dist,
               CAST(row_number() OVER (PARTITION BY anchor_id
                 ORDER BY adc_dist ASC, neighbor_id ASC) AS INTEGER) AS rank
        FROM est QUALIFY rank <= 10""")),

    // ── quality-threshold retention sweep: per (source, threshold) the
    //    fraction of docs whose stopword ratio clears the cut — ONE hash
    //    agg computes the whole grid as conditional sums (no corpus
    //    explode, no join); the unpivot runs on the group-sized result. ──
    Q("q98_retention_curve",
      (s, d) => TextAnalysis.retentionCurve(
        TextAnalysis.quality(Tables.documents(s, d), "text"),
        "source", col("stopword_ratio"),
        Seq(0.0, 0.05, 0.1, 0.15, 0.2, 0.25, 0.3)),
      Some(s"""
        WITH t AS (
          SELECT source,
                 CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                   tk -> list_contains(
                     [${TextAnalysis.Stopwords.map("'" + _ + "'").mkString(",")}], tk)))
                   AS DOUBLE)
                   / len(string_split_regex(lower(trim(text)), '\\s+')) AS sr
          FROM documents),
        grid AS (SELECT unnest([0.0, 0.05, 0.1, 0.15, 0.2, 0.25, 0.3]) AS threshold)
        SELECT source, threshold,
               CAST(COUNT(*) AS BIGINT) AS n_total,
               CAST(COUNT(*) FILTER (WHERE sr >= threshold) AS BIGINT) AS n_retained,
               CAST(COUNT(*) FILTER (WHERE sr >= threshold) AS DOUBLE) / COUNT(*)
                 AS retention
        FROM t CROSS JOIN grid
        GROUP BY 1, 2""")),

    // ── sparse tf·idf cosine pairs: idf-weighted trigram vectors, exact
    //    milli-unit integer weights → BIGINT norms/dots (order-independent,
    //    engine-exact); inverted-index join on 64-bit shingle hashes with
    //    the df > maxDf hot-term cut. Complements Jaccard (q23) and dense
    //    cosine (q24/q66). ──
    Q("q99_tfidf_cosine",
      (s, d) => operators.Dedup.tfidfCosinePairs(
        Tables.documents(s, d), "doc_id", "text", k = 3, minCosine = 0.2),
      Some("""
        WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk
                   FROM documents),
        tf AS (
          SELECT doc_id, concat_ws(' ', tk[u.i], tk[u.i+1], tk[u.i+2]) AS term,
                 CAST(COUNT(*) AS BIGINT) AS tf
          FROM t, LATERAL (SELECT unnest(range(1, len(tk) - 1)) AS i) u
          WHERE len(tk) >= 3
          GROUP BY 1, 2),
        dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
                FROM tf GROUP BY 1 HAVING COUNT(*) <= 256),
        n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS nd FROM tf),
        w AS (SELECT doc_id, term,
                     CAST(floor(tf * ln(nd / df) * 1000 + 0.5) AS BIGINT) AS w
              FROM tf JOIN dfq USING (term), n),
        nrm AS (SELECT doc_id, SUM(w * w) AS nsq
                FROM w GROUP BY 1 HAVING SUM(w * w) > 0),
        dots AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, SUM(a.w * b.w) AS dot
          FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        cosd AS (
          SELECT id_a, id_b,
                 floor(CAST(dot AS DOUBLE) /
                   (sqrt(CAST(na.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE)))
                   * 1000000 + 0.5) / 1000000 AS cosine
          FROM dots
          JOIN nrm na ON na.doc_id = dots.id_a
          JOIN nrm nb ON nb.doc_id = dots.id_b)
        SELECT id_a, id_b, cosine FROM cosd WHERE cosine >= 0.2""")),

    // ── BPE merge training: learn the subword merge table from the corpus
    //    — one corpus-sized word-count pass, collected once as the capped
    //    vocabulary; the nMerges rounds (weighted pair count, argmax,
    //    merge kernel) then run on the driver and launch no Spark job.
    //    No SQL oracle (iterative argmax); OperatorsSpec pins the exact
    //    merge sequence on a known corpus. ──
    // ── BPE merge training, ORACLE-VISIBLE (q106's trick): the learned
    //    merge table is iterative (not SQL-expressible), but its
    //    CONTRACT is — exactly nMerges ranks, contiguous 1..n, positive
    //    weighted pair counts, at least one multi-char merge applied,
    //    and the round-trip law: re-joining every doc's segmented
    //    symbols reproduces its normalized text exactly (merges only
    //    concatenate adjacent symbols). One summary row, oracle-pinned. ──
    Q("q100_bpe_train",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val merges = operators.Bpe.train(docs, "text", nMerges = 12)
          .orderBy(col("rank")).collect() // 12 rows, bounded by nMerges
        val ranksOk = merges.map(_.getInt(0)).toSeq == (1 to 12) &&
          merges.forall(_.getLong(3) > 0L)
        val ms = merges.map(r => (r.getString(1), r.getString(2))).toSeq
        val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
        val seg = operators.Bpe.segment(col("text"), ms)
        docs.select(
            (concat_ws("", seg) === norm).as("__rt"),
            (size(filter(seg, t => length(t) >= 2)) > 0).as("__merged"))
          .agg(count(lit(1)).as("n_docs"),
            lit(merges.length).as("n_merges"),
            lit(ranksOk).as("ranks_contiguous"),
            (count(when(col("__rt"), 1)) === count(lit(1))).as("round_trip_ok"),
            (count(when(col("__merged"), 1)) > 0L).as("merges_applied"))
      },
      Some("""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(12 AS INTEGER) AS n_merges, TRUE AS ranks_contiguous,
               TRUE AS round_trip_ok, TRUE AS merges_applied
        FROM documents""")),

    // ── phrase-blocklist screening: replace-length occurrence counting,
    //    one codegen'd scalar chain per phrase, map-only (the blocklist
    //    rides the expression tree — no join, no shuffle). ──
    Q("q101_blocklist",
      (s, d) => TextAnalysis.blocklistScreen(
        Tables.documents(s, d), "doc_id", "text",
        Seq("slow batch", "key agg", "merge batch")),
      Some("""
        WITH t AS (
          SELECT doc_id,
                 regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS nt
          FROM documents)
        SELECT doc_id,
               CAST((length(nt) - length(replace(nt, 'slow batch', ''))) / 10
                  + (length(nt) - length(replace(nt, 'key agg', ''))) / 7
                  + (length(nt) - length(replace(nt, 'merge batch', ''))) / 11
                 AS BIGINT) AS n_blocked,
               ((length(nt) - length(replace(nt, 'slow batch', '')))
                  + (length(nt) - length(replace(nt, 'key agg', '')))
                  + (length(nt) - length(replace(nt, 'merge batch', '')))) = 0 AS clean
        FROM t""")),

    // ── token-label chi-square: feature-selection / shortcut-leakage
    //    detection — presence/absence contingency per token against the
    //    language label; per-cell terms round6→DECIMAL (order-independent,
    //    engine-exact), absent cells from a token×label scaffold. ──
    Q("q102_chi2_tokens",
      (s, d) => TextAnalysis.chiSquareTokens(
        Tables.documents(s, d), "doc_id", "text", "lang", topK = 50),
      Some("""
        WITH post AS (
          SELECT DISTINCT doc_id, lang, token FROM (
            SELECT doc_id, lang,
                   unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
            FROM documents) u
          WHERE length(token) > 0),
        ctl AS (SELECT token, lang, CAST(COUNT(*) AS BIGINT) AS c
                FROM post GROUP BY 1, 2),
        nl AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_l
               FROM documents GROUP BY 1),
        nall AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_all FROM documents),
        dft AS (SELECT token, SUM(c) AS df_t FROM ctl GROUP BY 1),
        cells AS (
          SELECT d.token, n.lang, d.df_t, n.n_l, COALESCE(c.c, 0) AS c, a.n_all
          FROM dft d CROSS JOIN nl n CROSS JOIN nall a
          LEFT JOIN ctl c ON c.token = d.token AND c.lang = n.lang),
        terms AS (
          SELECT token, df_t,
            CAST(CASE WHEN df_t * n_l / n_all > 0 THEN
              floor((c - df_t * n_l / n_all) * (c - df_t * n_l / n_all)
                / (df_t * n_l / n_all) * 1000000 + 0.5) / 1000000
              ELSE 0 END AS DECIMAL(28,6)) AS t1,
            CAST(CASE WHEN (n_all - df_t) * n_l / n_all > 0 THEN
              floor(((n_l - c) - (n_all - df_t) * n_l / n_all)
                * ((n_l - c) - (n_all - df_t) * n_l / n_all)
                / ((n_all - df_t) * n_l / n_all) * 1000000 + 0.5) / 1000000
              ELSE 0 END AS DECIMAL(28,6)) AS t0
          FROM cells)
        SELECT token, CAST(MIN(df_t) AS BIGINT) AS df_t,
               CAST(SUM(t1) + SUM(t0) AS DOUBLE) AS chi2
        FROM terms GROUP BY 1
        ORDER BY chi2 DESC, token ASC LIMIT 50""")),

    // ── asymmetric containment pairs: |A∩B| / min(|A|,|B|) — the excerpt/
    //    quote duplication Jaccard misses (a snippet inside a page scores
    //    ~0 Jaccard but 1.0 containment); same single-shuffle inverted
    //    index as q23. ──
    Q("q103_containment",
      (s, d) => Dedup.containmentPairs(Tables.documents(s, d), "doc_id", "text",
        k = 3, threshold = 0.5),
      Some("""
        WITH t AS (SELECT doc_id,
            list_distinct(list_transform(
              range(1, len(string_split_regex(lower(trim(text)), '\s+')) - 1),
              i -> concat_ws(' ',
                string_split_regex(lower(trim(text)), '\s+')[i],
                string_split_regex(lower(trim(text)), '\s+')[i+1],
                string_split_regex(lower(trim(text)), '\s+')[i+2]))) AS sh
          FROM documents),
        docs AS (SELECT doc_id, sh, len(sh) AS n_sh FROM t WHERE len(sh) > 0),
        inv AS (SELECT doc_id, n_sh, unnest(sh) AS s FROM docs),
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 a.n_sh AS n_a, b.n_sh AS n_b,
                 CAST(COUNT(*) AS BIGINT) AS n_shared
          FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2, 3, 4)
        SELECT id_a, id_b, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
               n_shared,
               CAST(n_shared AS DOUBLE) / least(n_a, n_b) AS containment
        FROM pairs
        WHERE CAST(n_shared AS DOUBLE) / least(n_a, n_b) >= 0.5""")),

    // ── compression-ratio quality proxy: deflate length ratio per doc +
    //    per-source aggregate — the model-free repetitiveness filter
    //    (CCNet/RefinedWeb family); map-only codegen'd kernel. DuckDB has
    //    no deflate, so the oracle pins the codec's LAWS instead (q220/
    //    q106 pattern): inflate(deflate(x)) == x per row, and the ratio
    //    inside zlib's provable band (0, 1 + (6 + 5·⌈len/65535⌉)/len] —
    //    2 B zlib header + 4 B adler + a 5 B stored-block frame PER
    //    64 KiB block, so the bound holds for any input length (the old
    //    11/len form was only valid under 64 KiB) and any ratio outside
    //    it is a codec/buffer bug, not data. The raw ratio stats
    //    stay spec-pinned (OperatorsSpec: repetitive ≪ diverse, bounds,
    //    determinism). ──
    Q("q104_compression_ratio",
      (s, d) => Tables.documents(s, d)
        .select(col("source"),
          TextAnalysis.compressionRatio(col("text")).as("cr"),
          TextAnalysis.compressionRoundTrip(col("text")).as("rt"),
          octet_length(col("text")).as("len"))
        .withColumn("band",
          col("cr") > lit(0.0) &&
            col("cr") <= lit(1.0) +
              (lit(6.0) + lit(5.0) *
                ceil(col("len").cast("double") / lit(65535.0))) /
                greatest(col("len"), lit(1)))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          bool_and(col("rt")).as("round_trip_ok"),
          bool_and(col("band")).as("ratio_in_band")),
      Some("""
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               TRUE AS round_trip_ok, TRUE AS ratio_in_band
        FROM documents GROUP BY 1""")),

    // ── Jensen–Shannon drift matrix between language groups' unigram
    //    distributions — the distribution-level complement of q60's
    //    set-overlap matrix; per-term contributions round6→DECIMAL, the
    //    (token × group) scaffold bounds join fan-out at |groups|². ──
    Q("q105_js_divergence",
      (s, d) => TextAnalysis.jsDivergence(Tables.documents(s, d), "lang", "text"),
      Some("""
        WITH counts AS (
          SELECT lang AS grp, token, CAST(COUNT(*) AS BIGINT) AS n FROM (
            SELECT lang, unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
            FROM documents) u
          WHERE length(token) > 0 GROUP BY 1, 2),
        totals AS (SELECT grp, SUM(n) AS tot FROM counts GROUP BY 1),
        grid AS (
          SELECT t.token, g.grp, COALESCE(c.n, 0) / CAST(g.tot AS DOUBLE) AS p
          FROM (SELECT DISTINCT token FROM counts) t
          CROSS JOIN totals g
          LEFT JOIN counts c ON c.token = t.token AND c.grp = g.grp),
        terms AS (
          SELECT a.grp AS grp_a, b.grp AS grp_b,
            CAST(floor((
              CASE WHEN a.p > 0
                THEN a.p * ln(a.p / ((a.p + b.p) / 2)) / ln(2) * 0.5 ELSE 0 END +
              CASE WHEN b.p > 0
                THEN b.p * ln(b.p / ((a.p + b.p) / 2)) / ln(2) * 0.5 ELSE 0 END
              ) * 1000000 + 0.5) / 1000000 AS DECIMAL(28,6)) AS term
          FROM grid a JOIN grid b ON a.token = b.token AND a.grp < b.grp)
        SELECT grp_a, grp_b, CAST(SUM(term) AS DOUBLE) AS jsd_bits
        FROM terms GROUP BY 1, 2""")),

    // ── capstone tokenizer→batches composition: learn BPE merges on the
    //    corpus, segment every doc with the learned table (map-only merge
    //    kernels), then pack the tokenized docs into fixed token budgets
    //    (q51's sharded cumulative sum). The full "raw text → training
    //    batches" path as one plan; rows-only (iterative merges have no
    //    SQL oracle), each stage spec'd/oracled individually. ──
    // the BPE token counts and the pack distribution have no SQL oracle,
    // but the capstone's INVARIANTS do: every doc lands in exactly one
    // pack, and token mass is conserved end to end (Σ pack totals ≡ Σ
    // tokenized doc counts). Both are computed over the real
    // train→segment→pack path and pinned TRUE by the oracle alongside
    // the SQL-expressible doc count — a packing or segmentation
    // regression becomes a CORRECTNESS failure.
    Q("q106_tokenize_pack",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val merges = operators.Bpe.train(docs, "text", nMerges = 8)
          .orderBy(col("rank")).collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        val tokenized = docs.select(col("doc_id"),
          size(operators.Bpe.segment(col("text"), merges)).cast("long").as("n_tokens"))
        val packed = operators.Packing.packSequences(tokenized, "doc_id",
          "n_tokens", budget = 4096, nShards = 8)
        val summary = operators.Packing.packSummary(packed, "n_tokens")
        val inMass = tokenized.agg(
          count(lit(1)).as("__n_in"),
          coalesce(sum(col("n_tokens")), lit(0L)).as("__t_in"))
        summary.agg(
            coalesce(sum(col("n_docs")), lit(0L)).as("__n_out"),
            coalesce(sum(col("total_tokens")), lit(0L)).as("__t_out"))
          .crossJoin(inMass)
          .select(col("__n_in").as("n_docs"),
            (col("__n_out") === col("__n_in")).as("every_doc_packed_once"),
            (col("__t_out") === col("__t_in")).as("mass_conserved"))
      },
      Some("""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               TRUE AS every_doc_packed_once,
               TRUE AS mass_conserved
        FROM documents""")),

    // ── join-based blocklist matching (q101's scale path for big phrase
    //    lists): per phrase length, one token-aligned L-gram explode +
    //    broadcast hash join; corpus shuffles once (final per-doc agg). ──
    Q("q107_blocklist_join",
      (s, d) => TextAnalysis.blocklistScreenJoin(
        Tables.documents(s, d), "doc_id", "text",
        Seq("slow batch", "key agg", "merge batch", "vector")),
      Some("""
        WITH t AS (
          SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk
          FROM documents),
        g1 AS (
          SELECT doc_id, tk[u.i] AS gram
          FROM t, LATERAL (SELECT unnest(range(1, len(tk) + 1)) AS i) u),
        g2 AS (
          SELECT doc_id, concat_ws(' ', tk[u.i], tk[u.i+1]) AS gram
          FROM t, LATERAL (SELECT unnest(range(1, len(tk))) AS i) u
          WHERE len(tk) >= 2),
        hits AS (
          SELECT doc_id FROM g2
          WHERE gram IN ('slow batch', 'key agg', 'merge batch')
          UNION ALL
          SELECT doc_id FROM g1 WHERE gram = 'vector'),
        n AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_blocked
              FROM hits GROUP BY 1)
        SELECT t.doc_id, COALESCE(n.n_blocked, 0) AS n_blocked,
               COALESCE(n.n_blocked, 0) = 0 AS clean
        FROM t LEFT JOIN n ON t.doc_id = n.doc_id""")),

    // ── leakage-free split under near-duplication: split assignment
    //    hashes the near-dup CLUSTER id (q57's components), so a
    //    paraphrase can never land in train while its twin sits in test;
    //    singletons fall back to their own id. ──
    Q("q108_cluster_split",
      (s, d) => {
        val docs = Tables.documents(s, d)
        operators.Sampling.splitByCluster(docs, "doc_id", docClusters(s, d),
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
          .select("doc_id", "cluster_id", "split")
      },
      Some("""
        WITH RECURSIVE
        t AS (SELECT doc_id,
            list_distinct(list_transform(
              range(1, len(string_split_regex(lower(trim(text)), '\s+')) - 1),
              i -> concat_ws(' ',
                string_split_regex(lower(trim(text)), '\s+')[i],
                string_split_regex(lower(trim(text)), '\s+')[i+1],
                string_split_regex(lower(trim(text)), '\s+')[i+2]))) AS sh
          FROM documents),
        docs AS (SELECT doc_id, sh, len(sh) AS n_sh FROM t WHERE len(sh) > 0),
        inv AS (SELECT doc_id, n_sh, unnest(sh) AS s FROM docs),
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 a.n_sh AS n_a, b.n_sh AS n_b,
                 CAST(COUNT(*) AS BIGINT) AS n_shared
          FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2, 3, 4
          HAVING CAST(n_shared AS DOUBLE) / (n_a + n_b - n_shared) >= 0.2),
        edges AS (SELECT id_a AS id, id_b AS peer FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
        cc(id, lbl) AS (
          SELECT id, id AS lbl FROM (SELECT DISTINCT id FROM edges)
          UNION
          SELECT e.id, c.lbl FROM edges e JOIN cc c ON c.id = e.peer),
        cl AS (SELECT id AS doc_id, CAST(MIN(lbl) AS BIGINT) AS cluster_id
               FROM cc GROUP BY id),
        assigned AS (
          SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS cluster_id,
                 ('0x' || substr(md5(COALESCE(cl.cluster_id, d.doc_id)::VARCHAR
                    || 'split'), 1, 8))::UBIGINT / 4294967296.0 AS hs
          FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id)
        SELECT doc_id, cluster_id,
               CASE WHEN hs < 0.8 THEN 'train'
                    WHEN hs < 0.9 THEN 'val'
                    ELSE 'test' END AS split
        FROM assigned""")),

    // ── ordered funnel: view → click → purchase per user, each stage
    //    strictly after the previous stage's reached time; per stage one
    //    pushed-filter scan + one key join + one min agg — no windows, no
    //    per-key sorting. Micro-second compare on both engines. ──
    Q("q109_funnel",
      (s, d) => operators.Funnel.funnel(
        Tables.events(s, d), "user_id", "event_type", "ts",
        Seq("view", "click", "purchase")),
      Some("""
        WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        f1 AS (SELECT user_id, MIN(us) AS t1 FROM e
               WHERE event_type = 'view' GROUP BY 1),
        f2 AS (SELECT e.user_id, MIN(us) AS t2 FROM e JOIN f1 USING (user_id)
               WHERE event_type = 'click' AND us > t1 GROUP BY 1),
        f3 AS (SELECT e.user_id, MIN(us) AS t3 FROM e JOIN f2 USING (user_id)
               WHERE event_type = 'purchase' AND us > t2 GROUP BY 1)
        SELECT f1.user_id, t1, t2, t3,
               CAST(CASE WHEN t3 IS NOT NULL THEN 3
                         WHEN t2 IS NOT NULL THEN 2
                         ELSE 1 END AS INTEGER) AS stage_reached
        FROM f1
        LEFT JOIN f2 ON f1.user_id = f2.user_id
        LEFT JOIN f3 ON f1.user_id = f3.user_id""")),

    // ── weekly retention cohorts: cohort = ISO week of a user's first
    //    event, cell (cohort, weeks-since) = distinct active users — two
    //    hash aggs + one key join, the standard retention matrix. ──
    Q("q110_retention_cohorts",
      (s, d) => {
        val ev = Tables.events(s, d)
        val cohort = ev.groupBy(col("user_id"))
          .agg(to_date(date_trunc("week", min(col("ts")))).as("cohort_week"))
        val active = ev.select(col("user_id"),
          to_date(date_trunc("week", col("ts"))).as("week")).distinct()
        active.join(cohort, Seq("user_id"))
          .withColumn("week_offset",
            (datediff(col("week"), col("cohort_week")) / 7).cast("int"))
          .groupBy(col("cohort_week"), col("week_offset"))
          .agg(countDistinct(col("user_id")).as("n_active"))
      },
      Some("""
        WITH cohort AS (
          SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
          FROM events GROUP BY 1),
        active AS (
          SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
          FROM events)
        SELECT cohort_week,
               CAST(date_diff('day', cohort_week, week) / 7 AS INTEGER) AS week_offset,
               CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_active
        FROM active a JOIN cohort c ON a.user_id = c.user_id
        GROUP BY 1, 2""")),

    // ── A/B experiment readout: deterministic hash assignment (the same
    //    md5 recipe as every sampler), per-variant conversion to
    //    'purchase', pooled two-proportion z-score — one user-level agg,
    //    one variant agg, one-row combine; z rounds to 6 for the exact
    //    cross-engine compare. ──
    Q("q111_ab_test",
      (s, d) => {
        val perUser = Tables.events(s, d)
          .groupBy(col("user_id"))
          // conversion = any HIGH-VALUE purchase — partial conversion at
          // every SF (plain "any purchase" saturates: pooled rate 1.0 has
          // zero variance and an undefined z)
          .agg(max(when(col("event_type") === "purchase" && col("value") > 90.0,
            1L).otherwise(0L)).as("converted"))
          .withColumn("variant",
            when(operators.Sampling.hashFraction(col("user_id"), "ab") < 0.5, "A")
              .otherwise("B"))
        val byVariant = perUser.groupBy(col("variant"))
          .agg(count(lit(1)).as("n"), sum(col("converted")).as("conv"))
        val a = byVariant.filter(col("variant") === "A")
          .select(col("n").as("n_a"), col("conv").as("conv_a"))
        val b = byVariant.filter(col("variant") === "B")
          .select(col("n").as("n_b"), col("conv").as("conv_b"))
        a.crossJoin(b)
          .withColumn("rate_a", col("conv_a").cast("double") / col("n_a"))
          .withColumn("rate_b", col("conv_b").cast("double") / col("n_b"))
          .withColumn("pooled",
            (col("conv_a") + col("conv_b")).cast("double") / (col("n_a") + col("n_b")))
          // pooled 0 or 1 → zero variance → z undefined; report 0 (no
          // evidence of difference) instead of dividing by zero
          .withColumn("z", when(col("pooled") === 0.0 || col("pooled") === 1.0, 0.0)
            .otherwise(floor((col("rate_a") - col("rate_b")) /
              sqrt(col("pooled") * (lit(1.0) - col("pooled")) *
                (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))) * 1e6 + 0.5) / 1e6))
          .select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
            col("rate_a"), col("rate_b"), col("z"))
      },
      Some("""
        WITH pu AS (
          SELECT user_id,
                 MAX(CASE WHEN event_type = 'purchase' AND value > 90.0
                          THEN 1 ELSE 0 END) AS converted,
                 CASE WHEN ('0x' || substr(md5(user_id::VARCHAR || 'ab'), 1, 8))::UBIGINT
                        / 4294967296.0 < 0.5 THEN 'A' ELSE 'B' END AS variant
          FROM events GROUP BY 1),
        bv AS (SELECT variant, CAST(COUNT(*) AS BIGINT) AS n,
                      CAST(SUM(converted) AS BIGINT) AS conv
               FROM pu GROUP BY 1),
        a AS (SELECT n AS n_a, conv AS conv_a FROM bv WHERE variant = 'A'),
        b AS (SELECT n AS n_b, conv AS conv_b FROM bv WHERE variant = 'B')
        SELECT n_a, conv_a, n_b, conv_b,
               CAST(conv_a AS DOUBLE) / n_a AS rate_a,
               CAST(conv_b AS DOUBLE) / n_b AS rate_b,
               CASE WHEN CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) IN (0.0, 1.0)
                    THEN 0.0
                    ELSE floor((CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b) /
                      sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)) *
                        (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)) *
                        (1.0 / n_a + 1.0 / n_b)) * 1000000 + 0.5) / 1000000
               END AS z
        FROM a CROSS JOIN b""")),

    // ── event co-occurrence lift (market-basket pairs): distinct
    //    (user, type) → self-join on the user (fan-out bounded by the
    //    tiny type count) → pair support + lift vs independence; lift
    //    rounds to 6 for the exact compare. ──
    Q("q112_event_lift",
      (s, d) => {
        val ut = Tables.events(s, d)
          .select(col("user_id"), col("event_type")).distinct()
        val nUsers = Tables.events(s, d)
          .agg(countDistinct(col("user_id")).cast("double").as("n_users"))
        val marg = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n_t"))
        ut.select(col("user_id"), col("event_type").as("type_a"))
          .join(ut.select(col("user_id"), col("event_type").as("type_b")),
            Seq("user_id"))
          .filter(col("type_a") < col("type_b"))
          .groupBy(col("type_a"), col("type_b"))
          .agg(count(lit(1)).as("n_both"))
          .join(marg.select(col("event_type").as("type_a"), col("n_t").as("n_a")),
            Seq("type_a"))
          .join(marg.select(col("event_type").as("type_b"), col("n_t").as("n_b")),
            Seq("type_b"))
          .crossJoin(broadcast(nUsers))
          .withColumn("lift", floor(col("n_both").cast("double") * col("n_users") /
            (col("n_a").cast("double") * col("n_b").cast("double")) * 1e6 + 0.5) / 1e6)
          .select(col("type_a"), col("type_b"), col("n_both"),
            col("n_a"), col("n_b"), col("lift"))
      },
      Some("""
        WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        n AS (SELECT CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS n_users FROM events),
        marg AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_t FROM ut GROUP BY 1),
        pairs AS (
          SELECT a.event_type AS type_a, b.event_type AS type_b,
                 CAST(COUNT(*) AS BIGINT) AS n_both
          FROM ut a JOIN ut b ON a.user_id = b.user_id
            AND a.event_type < b.event_type
          GROUP BY 1, 2)
        SELECT type_a, type_b, n_both, ma.n_t AS n_a, mb.n_t AS n_b,
               floor(CAST(n_both AS DOUBLE) * n_users /
                 (CAST(ma.n_t AS DOUBLE) * CAST(mb.n_t AS DOUBLE)) * 1000000 + 0.5)
                 / 1000000 AS lift
        FROM pairs
        JOIN marg ma ON ma.event_type = type_a
        JOIN marg mb ON mb.event_type = type_b, n""")),

    // ── rolling 7-day active users (WAU): each (user, day) covers the 7
    //    window-ends it belongs to — a ×7 explode of the DAY-level frame
    //    (already distinct-collapsed, so amplification is bounded by the
    //    calendar, not the event count), then one distinct count. ──
    Q("q113_rolling_wau",
      (s, d) => {
        val ud = Tables.events(s, d)
          .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        ud.select(col("user_id"),
            explode(sequence(col("day"), date_add(col("day"), 6))).as("window_end"))
          .distinct()
          .groupBy(col("window_end"))
          .agg(countDistinct(col("user_id")).as("wau"))
      },
      Some("""
        WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        cover AS (
          SELECT DISTINCT user_id, CAST(u.w AS DATE) AS window_end
          FROM ud, LATERAL (SELECT unnest(generate_series(day, day + 6,
            INTERVAL 1 DAY)) AS w) u)
        SELECT window_end, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
        FROM cover GROUP BY 1""")),

    // ── DECIMAL(18,2) money fidelity end-to-end (reference
    //    schema.sql:17,27): silver re-types the double wire values as
    //    exact cents, per-line discount/tax round to cents (banking
    //    semantics: money rounds at each line item, not at the total),
    //    and the fact rollup SUMs stay DECIMAL to the output — no double
    //    anywhere past the staging boundary, so the result is bit-exact
    //    and order-independent across engines. Oracle uses ROUND (half
    //    away from zero = Spark's HALF_UP cast on non-negative amounts);
    //    DuckDB's own narrowing decimal CAST truncates. ──
    Q("q114_decimal_money",
      (s, d) => {
        val li = Staging.moneyStaging(
          s.read.parquet(s"$d/lineitem.parquet")
            .select("l_orderkey", "l_extendedprice", "l_discount", "l_tax"),
          amountCols = Seq("l_extendedprice"),
          rateCols = Seq("l_discount", "l_tax"))
          .withColumn("disc_amt",
            (col("l_extendedprice") * col("l_discount")).cast("decimal(18,2)"))
          .withColumn("tax_amt",
            ((col("l_extendedprice") - col("disc_amt")) * col("l_tax"))
              .cast("decimal(18,2)"))
        val o = s.read.parquet(s"$d/orders.parquet")
          .select("o_orderkey", "o_custkey")
        val c = s.read.parquet(s"$d/customer.parquet")
          .select("c_custkey", "c_mktsegment")
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(
            sum(col("l_extendedprice")).cast("decimal(18,2)").as("sum_base"),
            sum(col("l_extendedprice") - col("disc_amt") + col("tax_amt"))
              .cast("decimal(18,2)").as("sum_charge"),
            count(lit(1)).as("n_rows"))
      },
      Some("""
        WITH li AS (
          SELECT l_orderkey,
                 CAST(l_extendedprice AS DECIMAL(18,2)) AS price,
                 CAST(l_discount AS DECIMAL(4,2)) AS disc,
                 CAST(l_tax AS DECIMAL(4,2)) AS tax
          FROM lineitem),
        amt AS (
          SELECT l_orderkey, price,
                 CAST(ROUND(price * disc, 2) AS DECIMAL(18,2)) AS disc_amt,
                 CAST(ROUND((price - CAST(ROUND(price * disc, 2) AS DECIMAL(18,2)))
                   * tax, 2) AS DECIMAL(18,2)) AS tax_amt
          FROM li)
        SELECT c_mktsegment,
               CAST(SUM(price) AS DECIMAL(18,2)) AS sum_base,
               CAST(SUM(price - disc_amt + tax_amt) AS DECIMAL(18,2)) AS sum_charge,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM amt
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        GROUP BY 1""")),

    // ── Gopher-style quality-rule bundle: word-count bounds, mean word
    //    length bounds, stopword floor, top-token dominance ceiling — all
    //    thresholds compared as INTEGER cross-products so both engines
    //    agree on every boundary case ──
    Q("q116_quality_rules",
      (s, d) => TextAnalysis.qualityRules(Tables.documents(s, d),
        "doc_id", "text", minWords = 30, maxWords = 500,
        minMeanLenDeci = 30, maxMeanLenDeci = 60,
        minStopPct = 1, maxTopTokenPct = 20),
      Some("""
        WITH t AS (SELECT doc_id,
            string_split_regex(lower(trim(text)), '\s+') AS tk FROM documents),
        tf AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
               FROM (SELECT doc_id, unnest(tk) AS w FROM t)
               WHERE length(w) > 0 GROUP BY 1, 2),
        st AS (SELECT doc_id,
                 CAST(SUM(tf) AS BIGINT) AS n_words,
                 CAST(MAX(tf) AS BIGINT) AS top_tf,
                 CAST(SUM(tf * length(w)) AS BIGINT) AS sum_len,
                 CAST(SUM(CASE WHEN w IN ('the','a','an','and','or','of','to',
                   'in','is','it','that','for','on','with','as','at','by','be')
                   THEN tf ELSE 0 END) AS BIGINT) AS n_stop
               FROM tf GROUP BY 1)
        SELECT doc_id, n_words,
               floor(CAST(sum_len AS DOUBLE) / n_words * 1000000 + 0.5) / 1000000
                 AS mean_word_len,
               floor(CAST(top_tf AS DOUBLE) / n_words * 1000000 + 0.5) / 1000000
                 AS top_token_frac,
               floor(CAST(n_stop AS DOUBLE) / n_words * 1000000 + 0.5) / 1000000
                 AS stopword_frac,
               (n_words >= 30 AND n_words <= 500) AS pass_words,
               (sum_len * 10 >= 30 * n_words AND sum_len * 10 <= 60 * n_words)
                 AS pass_mean_len,
               (n_stop * 100 >= 1 * n_words) AS pass_stopwords,
               (top_tf * 100 <= 20 * n_words) AS pass_top_token,
               ((n_words >= 30 AND n_words <= 500)
                 AND (sum_len * 10 >= 30 * n_words AND sum_len * 10 <= 60 * n_words)
                 AND (n_stop * 100 >= 1 * n_words)
                 AND (top_tf * 100 <= 20 * n_words)) AS pass
        FROM st""")),

    // ── dataset-version diff by content hash: added / removed / changed /
    //    unchanged between two corpus snapshots — the release audit and
    //    the input to incremental re-processing ──
    Q("q117_corpus_diff",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val old = docs.filter(col("doc_id") % 7 =!= 0)
        val nw = docs.filter(col("doc_id") % 5 =!= 0)
          .withColumn("text", when(col("doc_id") % 11 === 0,
            concat(col("text"), lit(" revised"))).otherwise(col("text")))
        Dedup.corpusDiff(old, nw, "doc_id", "text")
      },
      Some("""
        WITH o AS (SELECT doc_id,
            md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h
          FROM documents WHERE doc_id % 7 <> 0),
        n AS (SELECT doc_id, md5(regexp_replace(lower(trim(
            CASE WHEN doc_id % 11 = 0 THEN text || ' revised' ELSE text END)),
            '\s+', ' ', 'g')) AS h
          FROM documents WHERE doc_id % 5 <> 0)
        SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
               CASE WHEN o.h IS NULL THEN 'added'
                    WHEN n.h IS NULL THEN 'removed'
                    WHEN o.h <> n.h THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id""")),

    // ── exact tail trim without a global sort: value-histogram cumulative
    //    cuts (whole value-classes drop together — deterministic, engine-
    //    exact, and the shuffle carries (value, count) pairs only) ──
    Q("q118_trim_outliers",
      (s, d) => TextAnalysis.trimOutliers(Tables.documents(s, d),
          "n_chars", lowPct = 5, highPct = 5)
        .select("doc_id", "n_chars"),
      Some("""
        WITH c AS (SELECT n_chars, CAST(COUNT(*) AS BIGINT) AS cnt
                   FROM documents GROUP BY 1),
        cum AS (SELECT n_chars,
                 CAST(SUM(cnt) OVER (ORDER BY n_chars ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS lo,
                 CAST(SUM(cnt) OVER (ORDER BY n_chars DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS hi
                FROM c),
        t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
        k AS (SELECT n_chars FROM cum, t
              WHERE lo * 100 > 5 * n AND hi * 100 > 5 * n)
        SELECT d.doc_id, d.n_chars FROM documents d JOIN k USING (n_chars)""")),

    // ── per-source ECDF score calibration: rank-normalize a quality
    //    metric within each source so one corpus-wide threshold means the
    //    same thing everywhere; histogram + bounded windows, corpus never
    //    shuffles ──
    Q("q119_score_calibration",
      (s, d) => TextAnalysis.calibrateScores(Tables.documents(s, d),
          "n_chars", "source")
        .select("doc_id", "source", "n_chars", "ecdf"),
      Some("""
        WITH c AS (SELECT source, n_chars, CAST(COUNT(*) AS BIGINT) AS cnt
                   FROM documents GROUP BY 1, 2),
        cum AS (SELECT source, n_chars,
                 CAST(SUM(cnt) OVER (PARTITION BY source ORDER BY n_chars ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cm
                FROM c),
        t AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
              FROM documents GROUP BY 1)
        SELECT d.doc_id, d.source, d.n_chars,
               floor(CAST(cm AS DOUBLE) / n * 1000000 + 0.5) / 1000000 AS ecdf
        FROM documents d
        JOIN cum ON d.source = cum.source AND d.n_chars = cum.n_chars
        JOIN t ON d.source = t.source""")),

    // ── greedy budgeted selection: the best docs up to a token/char
    //    budget, whole score-classes admitted in descending order — the
    //    final cut of a fixed-budget training run, without a global sort ──
    Q("q120_budget_select",
      (s, d) => TextAnalysis.selectByBudgetPct(Tables.documents(s, d),
          "n_chars", "n_chars", budgetPct = 50)
        .select("doc_id", "n_chars"),
      Some("""
        WITH c AS (SELECT n_chars, CAST(SUM(n_chars) AS BIGINT) AS cost
                   FROM documents GROUP BY 1),
        cum AS (SELECT n_chars,
                 CAST(SUM(cost) OVER (ORDER BY n_chars DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cm
                FROM c),
        t AS (SELECT CAST(SUM(n_chars) AS BIGINT) AS tot FROM documents)
        SELECT d.doc_id, d.n_chars FROM documents d
        JOIN (SELECT n_chars FROM cum, t WHERE cm * 100 <= 50 * tot) k
          USING (n_chars)""")),

    // ── exact per-source discrete percentiles (PERCENTILE_DISC by
    //    integer cross-compare) from a value histogram — the corpus-health
    //    p25/p50/p75/p95 readout, exact, no global sort ──
    Q("q121_percentiles",
      (s, d) => TextAnalysis.percentilesExact(Tables.documents(s, d),
          "n_chars", "source", Seq(25, 50, 75, 95)),
      Some("""
        WITH c AS (SELECT source, n_chars, CAST(COUNT(*) AS BIGINT) AS cnt
                   FROM documents GROUP BY 1, 2),
        cum AS (SELECT source, n_chars,
                 CAST(SUM(cnt) OVER (PARTITION BY source ORDER BY n_chars ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cm
                FROM c),
        t AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
              FROM documents GROUP BY 1),
        p AS (SELECT CAST(pct AS INTEGER) AS pct
              FROM (VALUES (25), (50), (75), (95)) AS v(pct))
        SELECT cum.source, p.pct, MIN(n_chars) AS value
        FROM cum JOIN t USING (source) CROSS JOIN p
        WHERE cm * 100 >= p.pct * n
        GROUP BY 1, 2""")),

    // ── Benford first-digit forensic audit on transaction amounts —
    //    per-priority-class leading-digit distribution vs log10(1+1/d),
    //    with per-digit chi-squared contributions (banking DQ) ──
    Q("q122_benford",
      (s, d) => Quality.benford(Tables.orders(s, d), "o_totalprice",
          Seq("o_orderpriority")),
      Some {
        // exponent form: DuckDB types bare decimal literals DECIMAL
        // (lossy at 17 digits); an exponent makes them DOUBLE, bit-exact
        val whens = (1 to 9)
          .map(dd => s"WHEN $dd THEN ${math.log10(1.0 + 1.0 / dd)}e0")
          .mkString(" ")
        s"""
        WITH v AS (
          SELECT o_orderpriority,
                 CAST(SUBSTR(CAST(CAST(FLOOR(ABS(o_totalprice)) AS BIGINT)
                   AS VARCHAR), 1, 1) AS INTEGER) AS digit
          FROM orders WHERE ABS(o_totalprice) >= 1),
        c AS (SELECT o_orderpriority, digit, CAST(COUNT(*) AS BIGINT) AS n
              FROM v GROUP BY 1, 2),
        t AS (SELECT o_orderpriority, digit, n,
                CAST(SUM(n) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS total,
                CASE digit $whens END AS expected_pct
              FROM c)
        SELECT o_orderpriority, digit, n,
               CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS observed_pct,
               expected_pct,
               (CAST(n AS DOUBLE) - expected_pct * CAST(total AS DOUBLE))
                 * (CAST(n AS DOUBLE) - expected_pct * CAST(total AS DOUBLE))
                 / (expected_pct * CAST(total AS DOUBLE)) AS chi2
        FROM t"""
      }),

    // ── point-in-time snapshot from the raw CDC change log: table state
    //    as of T (latest-wins, deletes shadow earlier upserts) ──
    Q("q123_snapshot_asof",
      (s, d) => {
        val src = Tables.events(s, d)
          .withColumn("op",
            when(col("event_type") === "error", lit("d")).otherwise(lit("u")))
          .select("user_id", "event_id", "ts", "event_type", "value", "op")
        Staging.snapshotAsOf(src, Seq("user_id"),
          Seq(col("ts").desc, col("event_id").desc),
          "ts", lit(Split).cast("timestamp"))
      },
      Some(s"""
        WITH src AS (
          SELECT user_id, event_id, ts, event_type, value,
                 CASE WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op
          FROM events WHERE ts <= TIMESTAMP '$Split')
        SELECT user_id, event_id, ts, event_type, value, op FROM (
          SELECT *, row_number() OVER (PARTITION BY user_id
                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM src)
        WHERE rn = 1 AND op <> 'd'""")),

    // ── gaps-and-islands activity spans: per-customer consecutive order
    //    runs with the dormancy gap preceding each (churn/reactivation) ──
    Q("q124_activity_islands",
      (s, d) => operators.Sessionize.islands(Tables.orders(s, d),
          "o_custkey", "o_orderdate", 180),
      Some("""
        WITH g AS (
          SELECT o_custkey, o_orderdate,
                 CASE WHEN lag(o_orderdate) OVER w IS NULL
                       OR date_diff('day', lag(o_orderdate) OVER w, o_orderdate) > 180
                      THEN 1 ELSE 0 END AS brk
          FROM orders
          WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC)),
        i AS (SELECT o_custkey, o_orderdate,
                CAST(SUM(brk) OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate ASC ROWS UNBOUNDED PRECEDING) AS BIGINT)
                  AS island_seq
              FROM g),
        s AS (SELECT o_custkey, island_seq,
                MIN(o_orderdate) AS start_date, MAX(o_orderdate) AS end_date,
                CAST(COUNT(*) AS BIGINT) AS n_events,
                CAST(date_diff('day', MIN(o_orderdate), MAX(o_orderdate))
                  AS INTEGER) + 1 AS span_days
              FROM i GROUP BY 1, 2)
        SELECT s.*, CAST(date_diff('day',
                 lag(end_date) OVER (PARTITION BY o_custkey ORDER BY island_seq ASC),
                 start_date) AS INTEGER) AS gap_before_days
        FROM s""")),

    // ── incremental MinHash-LSH: probe a new batch against the persisted
    //    signature index — corpus text never re-shingled (no SQL oracle:
    //    xxhash sketch; equivalence-to-full-LSH is spec-pinned) ──
    // ── incremental MinHash probe against the persisted signature
    //    index, ORACLE-VISIBLE (q21's pattern on the cross split): the
    //    planted near-dup pairs with exactly one side in the src0 batch
    //    (exact 3-shingle Jaccard ≥ 0.5, in-query ngramJaccard) must
    //    each surface from the probe — which re-derives bands from
    //    STORED signatures, never re-reading corpus text. ──
    Q("q125_minhash_probe",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val idx = Dedup.minHashSigs(
          docs.filter(col("source") =!= "src0"), "doc_id", "text",
          numHashes = 32)
        val found = Dedup.minHashProbe(
            docs.filter(col("source") === "src0"), idx, "doc_id", "text",
            bands = 16, rowsPerBand = 2, minEstJaccard = 0.25)
          .select(col("id_new"), col("id_indexed"), lit(true).as("__hit"))
        val srcs = docs.select(col("doc_id"), (col("source") === "src0").as("__b"))
        Dedup.ngramJaccard(docs, "doc_id", "text", k = 3, threshold = 0.5)
          .join(srcs.select(col("doc_id").as("id_a"), col("__b").as("__a0")),
            Seq("id_a"))
          .join(srcs.select(col("doc_id").as("id_b"), col("__b").as("__b0")),
            Seq("id_b"))
          .filter(col("__a0") =!= col("__b0"))
          .select(
            when(col("__a0"), col("id_a")).otherwise(col("id_b")).as("id_new"),
            when(col("__a0"), col("id_b")).otherwise(col("id_a")).as("id_indexed"),
            col("jaccard"))
          .join(found, Seq("id_new", "id_indexed"), "left")
          .select(col("id_new"), col("id_indexed"), col("jaccard"),
            coalesce(col("__hit"), lit(false)).as("found_by_probe"))
      },
      Some(s"""
        WITH t AS (SELECT doc_id, source,
            list_distinct(list_transform(
              range(1, len(string_split_regex(lower(trim(text)), '\\s+')) - 1),
              i -> concat_ws(' ',
                string_split_regex(lower(trim(text)), '\\s+')[i],
                string_split_regex(lower(trim(text)), '\\s+')[i+1],
                string_split_regex(lower(trim(text)), '\\s+')[i+2]))) AS sh
          FROM documents),
        docs AS (SELECT doc_id, source, sh, len(sh) AS n_sh
                 FROM t WHERE len(sh) > 0),
        inv AS (SELECT doc_id, source, n_sh, unnest(sh) AS s FROM docs),
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 a.source AS src_a, b.source AS src_b,
                 a.n_sh AS n_a, b.n_sh AS n_b,
                 CAST(COUNT(*) AS BIGINT) AS n_shared
          FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2, 3, 4, 5, 6)
        SELECT CASE WHEN src_a = 'src0' THEN id_a ELSE id_b END AS id_new,
               CASE WHEN src_a = 'src0' THEN id_b ELSE id_a END AS id_indexed,
               CAST(n_shared AS DOUBLE) / (n_a + n_b - n_shared) AS jaccard,
               TRUE AS found_by_probe
        FROM pairs
        WHERE CAST(n_shared AS DOUBLE) / (n_a + n_b - n_shared) >= 0.5
          AND ((src_a = 'src0') <> (src_b = 'src0'))""")),

    // ── equi-depth quality binning: per-source NTILE tiers over a
    //    (metric, key) total order — curriculum buckets ──
    Q("q126_equidepth_bins",
      (s, d) => operators.Sampling.equiDepthBins(
          Tables.documents(s, d).select("doc_id", "source", "n_chars"),
          "doc_id", "n_chars", 8, "source"),
      Some("""
        SELECT doc_id, source, n_chars,
               CAST(NTILE(8) OVER (PARTITION BY source
                 ORDER BY n_chars ASC, doc_id ASC) AS INTEGER) AS bin
        FROM documents""")),

    // ── one-pass column profile: per-column rows/nulls/exact-distinct
    //    (the post-ingest "what landed" readout; drift-alert input) ──
    Q("q127_column_profile",
      (s, d) => Quality.profile(Tables.customer(s, d),
          Seq("c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal")),
      Some {
        val per = Seq("c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal")
          .map(c => s"""
            SELECT '$c' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
                   CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct
            FROM customer""")
        per.mkString(" UNION ALL ")
      }),

    // ── per-key rolling z-score anomalies: an order whose amount deviates
    //    > k·σ from the SAME customer's preceding-window history (exact
    //    integer sums → bit-identical rolling stats across engines) ──
    Q("q128_rolling_anomaly",
      (s, d) => Quality.rollingAnomalies(
          Tables.orders(s, d)
            .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"),
          "o_custkey", "o_orderdate", "o_orderkey", "o_totalprice",
          window = 7, k = 2.0),
      Some("""
        WITH b AS (
          SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
                 CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
          FROM orders),
        r AS (
          SELECT *, CAST(COUNT(c) OVER w AS BIGINT) AS n,
                 CAST(SUM(c) OVER w AS BIGINT) AS s,
                 CAST(SUM(c * c) OVER w AS BIGINT) AS q
          FROM b
          WINDOW w AS (PARTITION BY o_custkey
                       ORDER BY o_orderdate ASC, o_orderkey ASC
                       ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
        m AS (
          SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice, c, n,
                 CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
                 SQRT(CAST(n * q - s * s AS DOUBLE)
                   / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1e0))) AS std
          FROM r)
        SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
               mean / 100e0 AS roll_mean, std / 100e0 AS roll_std,
               CASE WHEN std <> 0
                    THEN (CAST(c AS DOUBLE) - mean) / std END AS zscore
        FROM m
        WHERE n >= 3 AND ((std > 0 AND ABS(CAST(c AS DOUBLE) - mean) > 2e0 * std)
                       OR (std = 0 AND CAST(c AS DOUBLE) <> mean))""")),

    // ── funnel time-to-convert percentiles: q109's funnel composed with
    //    exact discrete percentiles over transition latencies ──
    Q("q129_funnel_latency",
      (s, d) => {
        val f = operators.Funnel.funnel(
          Tables.events(s, d), "user_id", "event_type", "ts",
          Seq("view", "click", "purchase"))
        val lat = f.filter(col("t2").isNotNull)
          .select(lit("view_to_click").as("transition"),
            expr("(t2 - t1) div 1000000").as("lat_s"))
          .unionByName(f.filter(col("t3").isNotNull)
            .select(lit("click_to_purchase").as("transition"),
              expr("(t3 - t2) div 1000000").as("lat_s")))
        TextAnalysis.percentilesExact(lat, "lat_s", "transition",
          Seq(50, 90, 99))
      },
      Some("""
        WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        f1 AS (SELECT user_id, MIN(us) AS t1 FROM e
               WHERE event_type = 'view' GROUP BY 1),
        f2 AS (SELECT e.user_id, MIN(us) AS t2 FROM e JOIN f1 USING (user_id)
               WHERE event_type = 'click' AND us > t1 GROUP BY 1),
        f3 AS (SELECT e.user_id, MIN(us) AS t3 FROM e JOIN f2 USING (user_id)
               WHERE event_type = 'purchase' AND us > t2 GROUP BY 1),
        lat AS (
          SELECT 'view_to_click' AS transition,
                 CAST((t2 - t1) // 1000000 AS BIGINT) AS lat_s
          FROM f1 JOIN f2 USING (user_id)
          UNION ALL
          SELECT 'click_to_purchase',
                 CAST((t3 - t2) // 1000000 AS BIGINT)
          FROM f2 JOIN f3 USING (user_id)),
        c AS (SELECT transition, lat_s, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM lat GROUP BY 1, 2),
        cum AS (SELECT transition, lat_s,
                 CAST(SUM(cnt) OVER (PARTITION BY transition ORDER BY lat_s ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cm
                FROM c),
        t AS (SELECT transition, CAST(COUNT(*) AS BIGINT) AS n
              FROM lat GROUP BY 1),
        p AS (SELECT CAST(pct AS INTEGER) AS pct
              FROM (VALUES (50), (90), (99)) AS v(pct))
        SELECT cum.transition, p.pct, MIN(lat_s) AS value
        FROM cum JOIN t USING (transition) CROSS JOIN p
        WHERE cm * 100 >= p.pct * n
        GROUP BY 1, 2""")),

    // ── periodic snapshot fact: per-user end-of-day state forward-filled
    //    across quiet days, from first activity through corpus end ──
    Q("q130_daily_snapshot",
      (s, d) => {
        val ev = Tables.events(s, d)
        val endD = ev.agg(max(to_date(col("ts")))).head().getDate(0)
        Marts.dailySnapshot(ev, Seq("user_id"), "ts",
          Seq("event_id"), Seq("value"), lit(endD))
      },
      Some("""
        WITH st AS (
          SELECT user_id, CAST(ts AS DATE) AS day, value,
                 row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM events),
        ds AS (SELECT user_id, day, value FROM st WHERE rn = 1),
        mx AS (SELECT MAX(CAST(ts AS DATE)) AS mxd FROM events),
        sp AS (SELECT user_id,
                 CAST(UNNEST(generate_series(CAST(f AS TIMESTAMP),
                   CAST(mxd AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE)
                   AS snapshot_date
               FROM (SELECT user_id, MIN(day) AS f FROM ds GROUP BY 1), mx),
        j AS (SELECT sp.user_id, sp.snapshot_date, ds.value
              FROM sp LEFT JOIN ds ON ds.user_id = sp.user_id
                                  AND ds.day = sp.snapshot_date)
        SELECT user_id, snapshot_date,
               LAST_VALUE(value IGNORE NULLS) OVER (
                 PARTITION BY user_id ORDER BY snapshot_date ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
        FROM j""")),

    // ── scoring record linkage: same blocked+capped candidate shape as
    //    q79, verified by a native Jaro-Winkler expression (prefix-reward
    //    name matcher) behind a lossless length-ratio prune ──
    Q("q131_jaro_linkage",
      (s, d) => customerJaroPairs(s, d),
      Some("""
        SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
               round(jaro_winkler_similarity(a.c_name, b.c_name), 6) AS jw
        FROM customer a JOIN customer b
          ON a.c_nationkey = b.c_nationkey
         AND substr(a.c_name, 1, 12) = substr(b.c_name, 1, 12)
        WHERE a.c_custkey < b.c_custkey
          AND round(jaro_winkler_similarity(a.c_name, b.c_name), 6) >= 0.96""")),

    // ── weight-proportional k-sample without replacement: DLT priority
    //    sampling with exact integer-division priorities (no libm pow/log
    //    → bit-identical across engines); map + distributed TakeOrdered ──
    Q("q132_priority_sample",
      (s, d) => operators.Sampling.prioritySample(
          Tables.documents(s, d), "doc_id", "n_chars", k = 100)
        .select("doc_id", "lang", "n_chars", "priority"),
      Some("""
        SELECT doc_id, lang, n_chars, priority FROM (
          SELECT doc_id, lang, n_chars,
                 CAST(n_chars AS DOUBLE) /
                 CAST((('0x' || substr(md5(doc_id::VARCHAR || 'priority'), 1, 8))::UBIGINT
                       + 1) AS DOUBLE) AS priority
          FROM documents WHERE n_chars > 0)
        ORDER BY priority DESC, doc_id ASC LIMIT 100""")),

    // ── Unicode canonicalization: inject decomposed accents (e+U+0301),
    //    NFC-compose them back — the composed/decomposed unification every
    //    crawled corpus needs before dedup/tokenization keys agree ──
    Q("q133_unicode_nfc",
      (s, d) => Tables.documents(s, d).select(
        col("doc_id"),
        functions.HashFunctions.unicodeNorm(
          regexp_replace(col("text"), "e", "e\u0301")).as("norm"),
        length(regexp_replace(col("text"), "e", "e\u0301")).as("n_decomposed"),
        length(functions.HashFunctions.unicodeNorm(
          regexp_replace(col("text"), "e", "e\u0301"))).as("n_nfc")),
      Some("""
        SELECT doc_id,
               nfc_normalize(replace(text, 'e', 'e' || chr(769))) AS norm,
               CAST(length(replace(text, 'e', 'e' || chr(769))) AS INTEGER) AS n_decomposed,
               CAST(length(nfc_normalize(replace(text, 'e', 'e' || chr(769)))) AS INTEGER)
                 AS n_nfc
        FROM documents""")),

    // ── end-to-end entity resolution: blocked Jaro-Winkler linkage →
    //    connected components → one entity id per customer cluster (the
    //    MDM golden-record assignment, composed from spec'd operators) ──
    Q("q134_entity_resolution",
      (s, d) => {
        val pairs = customerJaroPairs(s, d).filter(col("jw") >= 0.97)
        operators.Dedup.resolveClusters(pairs)
          .select(col("id").as("c_custkey"), col("cluster_id").as("entity_id"))
      },
      Some("""
        WITH RECURSIVE
        pairs AS (
          SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
          FROM customer a JOIN customer b
            ON a.c_nationkey = b.c_nationkey
           AND substr(a.c_name, 1, 12) = substr(b.c_name, 1, 12)
          WHERE a.c_custkey < b.c_custkey
            AND round(jaro_winkler_similarity(a.c_name, b.c_name), 6) >= 0.97),
        edges AS (SELECT id_a AS id, id_b AS peer FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
        cc(id, lbl) AS (
          SELECT id, id AS lbl FROM (SELECT DISTINCT id FROM edges)
          UNION
          SELECT e.id, c.lbl FROM edges e JOIN cc c ON c.id = e.peer)
        SELECT id AS c_custkey, CAST(MIN(lbl) AS BIGINT) AS entity_id
        FROM cc GROUP BY id""")),

    // ── RFM segmentation: recency/frequency/monetary quintile scores from
    //    PERCENTILE_DISC boundaries (no single-partition global ntile) ──
    Q("q135_rfm",
      (s, d) => {
        val ev = Tables.events(s, d)
        val asOf = ev.agg(max(to_date(col("ts")))).head().getDate(0)
        Marts.rfm(ev.filter(col("event_type") === "purchase"),
          "user_id", "ts", "value", lit(asOf))
      },
      Some("""
        WITH mx AS (SELECT MAX(CAST(ts AS DATE)) AS cutoff_d FROM events),
        per0 AS (
          SELECT user_id, MAX(CAST(ts AS DATE)) AS lastd,
                 CAST(COUNT(*) AS BIGINT) AS frequency,
                 CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                   AS monetary_cents
          FROM events WHERE event_type = 'purchase' GROUP BY 1),
        per AS (
          SELECT user_id,
                 CAST(date_diff('day', lastd, cutoff_d) AS BIGINT) AS recency_days,
                 frequency, monetary_cents
          FROM per0, mx),
        n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM per),
        p(pct) AS (VALUES (20), (40), (60), (80)),
        rh AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cum FROM
               (SELECT recency_days AS v, COUNT(*) AS c FROM per GROUP BY 1)),
        rb AS (SELECT MAX(CASE WHEN pct = 20 THEN b END) AS b20,
                      MAX(CASE WHEN pct = 40 THEN b END) AS b40,
                      MAX(CASE WHEN pct = 60 THEN b END) AS b60,
                      MAX(CASE WHEN pct = 80 THEN b END) AS b80
               FROM (SELECT p.pct, MIN(v) AS b FROM rh, p, n
                     WHERE cum * 100 >= p.pct * n.n GROUP BY 1)),
        fh AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cum FROM
               (SELECT frequency AS v, COUNT(*) AS c FROM per GROUP BY 1)),
        fb AS (SELECT MAX(CASE WHEN pct = 20 THEN b END) AS b20,
                      MAX(CASE WHEN pct = 40 THEN b END) AS b40,
                      MAX(CASE WHEN pct = 60 THEN b END) AS b60,
                      MAX(CASE WHEN pct = 80 THEN b END) AS b80
               FROM (SELECT p.pct, MIN(v) AS b FROM fh, p, n
                     WHERE cum * 100 >= p.pct * n.n GROUP BY 1)),
        mh AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cum FROM
               (SELECT monetary_cents AS v, COUNT(*) AS c FROM per GROUP BY 1)),
        mb AS (SELECT MAX(CASE WHEN pct = 20 THEN b END) AS b20,
                      MAX(CASE WHEN pct = 40 THEN b END) AS b40,
                      MAX(CASE WHEN pct = 60 THEN b END) AS b60,
                      MAX(CASE WHEN pct = 80 THEN b END) AS b80
               FROM (SELECT p.pct, MIN(v) AS b FROM mh, p, n
                     WHERE cum * 100 >= p.pct * n.n GROUP BY 1))
        SELECT user_id, recency_days, frequency, monetary_cents,
               CAST(6 - (1 + (recency_days > rb.b20)::INT + (recency_days > rb.b40)::INT
                           + (recency_days > rb.b60)::INT + (recency_days > rb.b80)::INT)
                    AS INTEGER) AS r_score,
               CAST(1 + (frequency > fb.b20)::INT + (frequency > fb.b40)::INT
                      + (frequency > fb.b60)::INT + (frequency > fb.b80)::INT
                    AS INTEGER) AS f_score,
               CAST(1 + (monetary_cents > mb.b20)::INT + (monetary_cents > mb.b40)::INT
                      + (monetary_cents > mb.b60)::INT + (monetary_cents > mb.b80)::INT
                    AS INTEGER) AS m_score,
               (6 - (1 + (recency_days > rb.b20)::INT + (recency_days > rb.b40)::INT
                       + (recency_days > rb.b60)::INT + (recency_days > rb.b80)::INT))::VARCHAR
               || (1 + (frequency > fb.b20)::INT + (frequency > fb.b40)::INT
                     + (frequency > fb.b60)::INT + (frequency > fb.b80)::INT)::VARCHAR
               || (1 + (monetary_cents > mb.b20)::INT + (monetary_cents > mb.b40)::INT
                     + (monetary_cents > mb.b60)::INT + (monetary_cents > mb.b80)::INT)::VARCHAR
                 AS segment
        FROM per, rb, fb, mb""")),

    // ── accumulating snapshot fact: first-timestamp per lifecycle
    //    milestone + inter-milestone latencies, one hash agg ──
    Q("q136_accumulating_snapshot",
      (s, d) => Marts.accumulatingSnapshot(Tables.events(s, d),
        "user_id", "event_type", "ts",
        Seq("signup", "view", "click", "purchase")),
      Some("""
        SELECT user_id,
               MIN(CASE WHEN event_type = 'signup' THEN ts END) AS signup_at,
               MIN(CASE WHEN event_type = 'view' THEN ts END) AS view_at,
               MIN(CASE WHEN event_type = 'click' THEN ts END) AS click_at,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS purchase_at,
               CAST(epoch_us(MIN(CASE WHEN event_type = 'view' THEN ts END)) // 1000000
                  - epoch_us(MIN(CASE WHEN event_type = 'signup' THEN ts END)) // 1000000
                    AS BIGINT) AS signup_to_view_s,
               CAST(epoch_us(MIN(CASE WHEN event_type = 'click' THEN ts END)) // 1000000
                  - epoch_us(MIN(CASE WHEN event_type = 'view' THEN ts END)) // 1000000
                    AS BIGINT) AS view_to_click_s,
               CAST(epoch_us(MIN(CASE WHEN event_type = 'purchase' THEN ts END)) // 1000000
                  - epoch_us(MIN(CASE WHEN event_type = 'click' THEN ts END)) // 1000000
                    AS BIGINT) AS click_to_purchase_s
        FROM events GROUP BY 1""")),

    // ── last-touch attribution: each purchase credits the user's most
    //    recent click at-or-before it (asOfJoin composition, union+window
    //    sweep — one key shuffle, no non-equi join) ──
    Q("q137_last_touch",
      (s, d) => {
        val ev = Tables.events(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts").as("cts"),
            col("event_id").as("click_id"))
        Marts.asOfJoin(purchases, clicks, Seq("user_id"), "ts", "cts",
            valueCols = Seq("click_id", "cts"),
            rightTieBreak = Seq("click_id"))
          .select(col("event_id"), col("user_id"), col("ts"), col("value"),
            col("click_id"), col("cts"),
            (col("ts").cast("long") - col("cts").cast("long")).as("gap_s"))
      },
      Some("""
        WITH ev AS (
          SELECT user_id, ts, event_id, value, event_type FROM events
          WHERE event_type IN ('click', 'purchase')),
        w AS (
          SELECT user_id, ts, event_id, value, event_type,
                 LAST_VALUE(CASE WHEN event_type = 'click' THEN event_id END
                            IGNORE NULLS) OVER aw AS click_id,
                 LAST_VALUE(CASE WHEN event_type = 'click' THEN ts END
                            IGNORE NULLS) OVER aw AS cts
          FROM ev
          WINDOW aw AS (
            PARTITION BY user_id
            ORDER BY ts ASC,
                     CASE WHEN event_type = 'click' THEN 0 ELSE 1 END ASC,
                     CASE WHEN event_type = 'click' THEN event_id END ASC NULLS FIRST
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        SELECT event_id, user_id, ts, value, click_id, cts,
               CAST(epoch_us(ts) // 1000000 - epoch_us(cts) // 1000000 AS BIGINT)
                 AS gap_s
        FROM w WHERE event_type = 'purchase'""")),

    // ── join-key skew detector: the heaviest keys with share and
    //    times-uniform ratio — the decide-before-you-shuffle readout that
    //    picks saltedJoin/saltedAggregate candidates ──
    Q("q138_skew_report",
      (s, d) => operators.Skew.skewReport(Tables.events(s, d), "user_id"),
      Some("""
        WITH c AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
                   FROM events GROUP BY 1),
        t AS (SELECT CAST(SUM(n) AS BIGINT) AS total,
                     CAST(COUNT(*) AS BIGINT) AS nd FROM c)
        SELECT user_id, n, CAST(n AS DOUBLE) / total AS share,
               CAST(n AS DOUBLE) * nd / total AS skew_x
        FROM c, t ORDER BY n DESC, user_id ASC LIMIT 20""")),

    // ── assembly disposition ledger: every corpus doc gets exactly one
    //    reason it is or isn't in the training set (the governance audit
    //    for q82's chain — same stages, same salt, id-only marker joins) ──
    Q("q139_disposition_ledger",
      (s, d) => {
        val docs = Tables.documents(s, d)
        pipelines.CorpusPipeline.dispositionLedger(
          docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"),
          "doc_id", "text", "source")
      },
      Some("""
        WITH corpus AS (
          SELECT doc_id, source, text,
                 regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS nt
          FROM documents WHERE source <> 'src0'),
        dedup AS (
          SELECT MIN(doc_id) AS doc_id FROM corpus GROUP BY nt),
        surv AS (
          SELECT c.* FROM corpus c JOIN dedup USING (doc_id)),
        tok AS (
          SELECT doc_id, source, string_split_regex(lower(trim(text)), '\s+') AS tk
          FROM documents),
        sh AS (
          SELECT doc_id, unnest(list_transform(range(1, len(tk) - 3),
            i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2], tk[i+3], tk[i+4]))) AS s
          FROM tok),
        bsh AS (
          SELECT DISTINCT s FROM sh
          WHERE doc_id IN (SELECT doc_id FROM documents WHERE source = 'src0')),
        dirty AS (
          SELECT DISTINCT sh.doc_id FROM sh JOIN bsh USING (s)
          WHERE sh.doc_id IN (SELECT doc_id FROM surv)),
        clean AS (
          SELECT * FROM surv WHERE doc_id NOT IN (SELECT doc_id FROM dirty)),
        cnt AS (
          SELECT source, CAST(COUNT(*) AS DOUBLE) AS n FROM clean GROUP BY 1),
        mn AS (SELECT MIN(n) AS nmin FROM cnt),
        rate AS (SELECT source, sqrt(nmin / n) AS rate FROM cnt, mn),
        bal AS (
          SELECT c.doc_id FROM clean c JOIN rate USING (source)
          WHERE ('0x' || substr(md5(c.doc_id::VARCHAR || 'temp'), 1, 8))::UBIGINT
                  / 4294967296.0 < rate.rate)
        SELECT d.doc_id, d.source,
               CASE WHEN d.doc_id NOT IN (SELECT doc_id FROM dedup)
                      THEN 'exact_dup'
                    WHEN d.doc_id IN (SELECT doc_id FROM dirty)
                      THEN 'contaminated'
                    WHEN d.doc_id NOT IN (SELECT doc_id FROM bal)
                      THEN 'rebalanced'
                    ELSE 'kept' END AS disposition
        FROM (SELECT doc_id, source FROM documents WHERE source <> 'src0') d""")),

    // ── SCD2 history validity audit: interval-chain violations (overlap /
    //    gap / zero-negative spans / current-not-last) on the q04 dim ──
    Q("q140_scd2_audit",
      (s, d) => silver.Quality.scd2Audit(
        Scd2Merge.fromChangeLog(Tables.events(s, d), Seq("user_id"), "ts",
          Seq("event_id")),
        Seq("user_id"), "effective_from", "effective_to",
        orderCols = Seq("version_n")),
      Some("""
        WITH dim AS (
          SELECT user_id,
                 CAST(row_number() OVER w AS INTEGER) AS version_n,
                 ts AS effective_from, lead(ts) OVER w AS effective_to
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        x AS (
          SELECT user_id, effective_from, effective_to,
                 lag(effective_to) OVER v AS prev_to,
                 lag(1) OVER v AS has_prev
          FROM dim
          WINDOW v AS (PARTITION BY user_id
                       ORDER BY effective_from ASC, effective_to ASC NULLS LAST,
                                version_n ASC)),
        lab AS (
          SELECT user_id, effective_from,
                 CASE WHEN effective_to IS NOT NULL
                       AND effective_to < effective_from THEN 'negative_span'
                      WHEN effective_to IS NOT NULL
                       AND effective_to = effective_from THEN 'zero_span'
                      WHEN has_prev IS NOT NULL AND prev_to IS NULL
                        THEN 'open_interval_before_last'
                      WHEN prev_to > effective_from THEN 'overlap'
                      WHEN prev_to < effective_from THEN 'gap'
                 END AS violation
          FROM x)
        SELECT user_id, effective_from, violation FROM lab
        WHERE violation IS NOT NULL""")),

    // ── UNBLOCKED edit-distance self-join (EDJoin family): every pair
    //    within 1 edit across the WHOLE table, no block key — rare-prefix
    //    q-gram candidates + banded verify, never all-pairs ──
    Q("q141_fuzzy_global",
      (s, d) => operators.Linkage.fuzzyPairsGlobal(
        s.read.parquet(s"$d/customer.parquet"),
        "c_custkey", "c_name", maxDist = 1, q = 3),
      Some("""
        SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
               CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
        FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
        WHERE abs(length(a.c_name) - length(b.c_name)) <= 1
          AND levenshtein(a.c_name, b.c_name) <= 1""")),

    // ── incremental aggregate maintenance: three disjoint batches fold
    //    into one mergeable state (order-free), readout == full recompute ──
    Q("q142_incremental_agg",
      (s, d) => {
        val ev = Tables.events(s, d)
        val keys = Seq("user_id", "event_type")
        val m = gold.IncrementalAgg.Measures(Seq("value"))
        val parts = (0 to 2).map(i =>
          gold.IncrementalAgg.partial(
            ev.filter(pmod(col("event_id"), lit(3)) === i), keys, m))
        // fold out of order on purpose: merge is associative+commutative
        val state = gold.IncrementalAgg.merge(
          gold.IncrementalAgg.merge(parts(2), parts(0), keys, m),
          parts(1), keys, m)
        gold.IncrementalAgg.readout(state, keys, m)
      },
      Some("""
        SELECT user_id, event_type,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS value_sum,
               MIN(value) AS value_min, MAX(value) AS value_max,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)
                 AS value_avg
        FROM events GROUP BY 1, 2""")),

    // ── FK inference by value containment: distinct-reduced probes over
    //    candidate edges propose relationships tests for undocumented
    //    sources (1.0 = candidate FK; the last edge is the negative) ──
    Q("q143_fk_inference",
      (s, d) => {
        val li = s.read.parquet(s"$d/lineitem.parquet")
        val ord = s.read.parquet(s"$d/orders.parquet")
        val cust = s.read.parquet(s"$d/customer.parquet")
        val nat = s.read.parquet(s"$d/nation.parquet")
        Seq(
          silver.Quality.containmentProfile(li, "l_orderkey", ord, "o_orderkey",
            "lineitem.l_orderkey->orders.o_orderkey"),
          silver.Quality.containmentProfile(cust, "c_nationkey", nat, "n_nationkey",
            "customer.c_nationkey->nation.n_nationkey"),
          silver.Quality.containmentProfile(ord, "o_custkey", cust, "c_custkey",
            "orders.o_custkey->customer.c_custkey"),
          silver.Quality.containmentProfile(ord, "o_orderkey", cust, "c_custkey",
            "orders.o_orderkey->customer.c_custkey")
        ).reduce(_ unionByName _)
      },
      Some("""
        WITH e1 AS (
          SELECT 'lineitem.l_orderkey->orders.o_orderkey' AS edge,
                 CAST(COUNT(*) AS BIGINT) AS n_child_distinct,
                 CAST(COUNT(*) FILTER (WHERE v IN
                   (SELECT o_orderkey FROM orders)) AS BIGINT) AS n_matched
          FROM (SELECT DISTINCT l_orderkey AS v FROM lineitem WHERE l_orderkey IS NOT NULL)),
        e2 AS (
          SELECT 'customer.c_nationkey->nation.n_nationkey' AS edge,
                 CAST(COUNT(*) AS BIGINT),
                 CAST(COUNT(*) FILTER (WHERE v IN
                   (SELECT n_nationkey FROM nation)) AS BIGINT)
          FROM (SELECT DISTINCT c_nationkey AS v FROM customer WHERE c_nationkey IS NOT NULL)),
        e3 AS (
          SELECT 'orders.o_custkey->customer.c_custkey' AS edge,
                 CAST(COUNT(*) AS BIGINT),
                 CAST(COUNT(*) FILTER (WHERE v IN
                   (SELECT c_custkey FROM customer)) AS BIGINT)
          FROM (SELECT DISTINCT o_custkey AS v FROM orders WHERE o_custkey IS NOT NULL)),
        e4 AS (
          SELECT 'orders.o_orderkey->customer.c_custkey' AS edge,
                 CAST(COUNT(*) AS BIGINT),
                 CAST(COUNT(*) FILTER (WHERE v IN
                   (SELECT c_custkey FROM customer)) AS BIGINT)
          FROM (SELECT DISTINCT o_orderkey AS v FROM orders WHERE o_orderkey IS NOT NULL)),
        u AS (SELECT * FROM e1 UNION ALL SELECT * FROM e2
              UNION ALL SELECT * FROM e3 UNION ALL SELECT * FROM e4)
        SELECT edge, n_child_distinct, n_matched,
               CAST(n_matched AS DOUBLE) / n_child_distinct AS containment,
               n_matched = n_child_distinct AS is_fk
        FROM u""")),

    // ── per-stratum weighted k-sample: DLT priorities under a hard
    //    per-source quota (WindowGroupLimit streaming top-k per stratum) ──
    Q("q144_priority_sample_n",
      (s, d) => operators.Sampling.prioritySampleN(
          Tables.documents(s, d), "doc_id", "n_chars", "lang", k = 15)
        .select("doc_id", "lang", "n_chars", "priority"),
      Some("""
        SELECT doc_id, lang, n_chars, priority FROM (
          SELECT doc_id, lang, n_chars, priority,
                 row_number() OVER (PARTITION BY lang
                   ORDER BY priority DESC, doc_id ASC) AS rn
          FROM (
            SELECT doc_id, lang, n_chars,
                   CAST(n_chars AS DOUBLE) /
                   CAST((('0x' || substr(md5(doc_id::VARCHAR || 'priority'), 1, 8))::UBIGINT
                         + 1) AS DOUBLE) AS priority
            FROM documents WHERE n_chars > 0))
        WHERE rn <= 15""")),

    // ── small-file compaction plan: ordered first-fit binning of a file
    //    listing to a target rewrite size, per partition (the OPTIMIZE
    //    planning step; integer `div` keeps bin boundaries exact) ──
    Q("q145_compaction_plan",
      (s, d) => graft.bronze.Layout.compactionPlan(
          Tables.documents(s, d).select("source", "doc_id", "n_chars"),
          Seq("source"), "doc_id", "n_chars", targetBytes = 4000L),
      Some("""
        SELECT source, doc_id, n_chars,
               CAST(COALESCE(SUM(n_chars) OVER (PARTITION BY source
                 ORDER BY doc_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) // 4000 AS bin
        FROM documents""")),

    // ── Spearman rank agreement between two quality signals per source:
    //    integer doubled average ranks → exact BIGINT moments → one
    //    deterministic double quotient ──
    Q("q146_score_agreement",
      (s, d) => {
        val toks = split(lower(trim(col("text"))), "\\s+")
        Quality.rankAgreement(
          Tables.documents(s, d)
            .withColumn("n_ws_tokens", size(toks).cast("long"))
            .withColumn("n_distinct_tokens",
              size(array_distinct(toks)).cast("long")),
          "source", "n_ws_tokens", "n_distinct_tokens")
      },
      Some("""
        WITH t AS (
          SELECT source,
                 CAST(len(string_split_regex(lower(trim(text)), '\s+'))
                   AS BIGINT) AS x,
                 CAST(len(list_distinct(
                   string_split_regex(lower(trim(text)), '\s+')))
                   AS BIGINT) AS y
          FROM documents),
        r AS (
          SELECT source,
            CAST(rank() OVER (PARTITION BY source ORDER BY x ASC)
              + COUNT(*) OVER (PARTITION BY source) + 1
              - rank() OVER (PARTITION BY source ORDER BY x DESC)
              AS BIGINT) AS rx,
            CAST(rank() OVER (PARTITION BY source ORDER BY y ASC)
              + COUNT(*) OVER (PARTITION BY source) + 1
              - rank() OVER (PARTITION BY source ORDER BY y DESC)
              AS BIGINT) AS ry
          FROM t),
        m AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_rows,
                 CAST(SUM(rx) AS BIGINT) AS sx, CAST(SUM(ry) AS BIGINT) AS sy,
                 CAST(SUM(rx * ry) AS BIGINT) AS sxy,
                 CAST(SUM(rx * rx) AS BIGINT) AS sxx,
                 CAST(SUM(ry * ry) AS BIGINT) AS syy
          FROM r GROUP BY 1)
        SELECT source, n_rows,
          CASE WHEN (n_rows * sxx - sx * sx) > 0
                AND (n_rows * syy - sy * sy) > 0
               THEN ROUND(CAST(n_rows * sxy - sx * sy AS DOUBLE) /
                    (sqrt(CAST(n_rows * sxx - sx * sx AS DOUBLE)) *
                     sqrt(CAST(n_rows * syy - sy * sy AS DOUBLE))), 6)
               END AS spearman_rho
        FROM m""")),

    // ── k-anonymity export audit: salted SHA-256 pseudonyms + quasi-
    //    identifier group sizes (balance banded to exact-cents bins;
    //    the +200000 offset keeps the integer division in positive
    //    territory where both engines agree) ──
    Q("q147_k_anonymity",
      (s, d) => Quality.kAnonymity(
          Tables.customer(s, d).withColumn("bal_band",
            expr("(cast(cast(c_acctbal as decimal(18,2)) * 100 as bigint)" +
              " + 200000L) div 200000L")),
          "c_custkey", Seq("c_nationkey", "c_mktsegment", "bal_band"),
          k = 5, salt = "graft"),
      Some("""
        SELECT sha256(concat('graft|', CAST(c_custkey AS VARCHAR)))
                 AS pseud_id,
               c_nationkey, c_mktsegment, bal_band,
               CAST(COUNT(*) OVER (PARTITION BY c_nationkey, c_mktsegment,
                 bal_band) AS BIGINT) AS group_n,
               (CAST(COUNT(*) OVER (PARTITION BY c_nationkey, c_mktsegment,
                 bal_band) AS BIGINT) < 5) AS suppressed
        FROM (SELECT c_custkey, c_nationkey, c_mktsegment,
                (CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
                  + 200000) // 200000 AS bal_band
              FROM customer)""")),

    // ── event-time lateness profile per stream: out-of-order rate, worst
    //    case, and exact p99 lateness — the measured watermark size ──
    Q("q148_lateness_profile",
      (s, d) => Quality.latenessProfile(Tables.events(s, d),
          "event_type", "event_id", "ts", pct = 99),
      Some("""
        WITH l AS (
          SELECT event_type,
                 GREATEST(CAST(0 AS BIGINT),
                   CAST(floor(epoch(MAX(ts) OVER (PARTITION BY event_type
                       ORDER BY event_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)))
                     AS BIGINT)
                   - CAST(floor(epoch(ts)) AS BIGINT)) AS late_s
          FROM events),
        c AS (SELECT event_type, late_s, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM l GROUP BY 1, 2),
        cum AS (SELECT event_type, late_s,
                  CAST(SUM(cnt) OVER (PARTITION BY event_type
                    ORDER BY late_s ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cm
                FROM c),
        t AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
                     CAST(SUM(CASE WHEN late_s > 0 THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_late,
                     CAST(MAX(late_s) AS BIGINT) AS max_late_s
              FROM l GROUP BY 1)
        SELECT cum.event_type, t.n_events, t.n_late, t.max_late_s,
               CAST(MIN(late_s) AS BIGINT) AS p_late_s
        FROM cum JOIN t USING (event_type)
        WHERE cm * 100 >= 99 * n_events
        GROUP BY 1, 2, 3, 4""")),

    // ── zone-map pruning effectiveness: simulated 1000-row files under a
    //    time-range predicate, arrival layout vs time-clustered layout —
    //    the measured "should I re-cluster?" readout ──
    Q("q149_pruning_stats",
      (s, d) => {
        val ev = Tables.events(s, d)
        val lo = lit("2024-01-10 00:00:00").cast("timestamp")
        val hi = lit("2024-01-12 00:00:00").cast("timestamp")
        sources.ZOrder.pruningStats(ev, "natural",
            Seq(col("event_id")), col("ts"), 1000, lo, hi)
          .unionByName(sources.ZOrder.pruningStats(ev, "time_sorted",
            Seq(col("ts"), col("event_id")), col("ts"), 1000, lo, hi))
      },
      Some {
        def arm(label: String, order: String) = s"""
          SELECT CAST('$label' AS VARCHAR) AS layout,
                 CAST(COUNT(*) AS BIGINT) AS n_files,
                 CAST(SUM(CASE WHEN zmax >= TIMESTAMP '2024-01-10 00:00:00'
                            AND zmin <= TIMESTAMP '2024-01-12 00:00:00'
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_scanned,
                 CAST(SUM(CASE WHEN zmax >= TIMESTAMP '2024-01-10 00:00:00'
                            AND zmin <= TIMESTAMP '2024-01-12 00:00:00'
                          THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
                 CAST(SUM(n_match) AS BIGINT) AS rows_matched
          FROM (
            SELECT f, MIN(ts) AS zmin, MAX(ts) AS zmax,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(CASE WHEN ts BETWEEN
                       TIMESTAMP '2024-01-10 00:00:00'
                       AND TIMESTAMP '2024-01-12 00:00:00'
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_match
            FROM (SELECT ts,
                    (row_number() OVER (ORDER BY $order) - 1) // 1000 AS f
                  FROM events)
            GROUP BY f)"""
        arm("natural", "event_id ASC") + " UNION ALL " +
          arm("time_sorted", "ts ASC, event_id ASC")
      }),

    // ── deterministic surrogate-key assignment: existing keys keep
    //    theirs, new business keys get max(existing) + dense_rank —
    //    replay-stable, unlike monotonically_increasing_id ──
    Q("q150_surrogate_keys",
      (s, d) => {
        val c = Tables.customer(s, d)
        // fixture mapping is a map-only arithmetic rank, NOT a global
        // window: for keys 1..N, the dense rank of the keys with
        // k % 3 != 0 is exactly k - k div 3 — same numbering the old
        // single-partition dense_rank produced, no exchange at all
        val existing = c.filter(col("c_custkey") % 3 =!= 0)
          .withColumn("sk",
            (col("c_custkey") - expr("c_custkey DIV 3")).cast("long"))
          .select("c_custkey", "sk")
        Marts.assignSurrogates(existing, c.select("c_custkey"), "c_custkey")
      },
      Some("""
        WITH existing AS (
          SELECT c_custkey,
                 CAST(c_custkey - (c_custkey // 3) AS BIGINT) AS sk
          FROM customer WHERE c_custkey % 3 <> 0),
        mx AS (SELECT CAST(COALESCE(MAX(sk), 0) AS BIGINT) AS m
               FROM existing),
        nk AS (SELECT DISTINCT c_custkey FROM customer
               WHERE c_custkey % 3 = 0)
        SELECT c_custkey, sk FROM existing
        UNION ALL
        SELECT c_custkey,
               (SELECT m FROM mx)
                 + CAST(dense_rank() OVER (ORDER BY c_custkey ASC) AS BIGINT)
                 AS sk
        FROM nk""")),

    // ── Gini concentration of per-customer spend within each priority
    //    class: exact-cents rank moments → one rounded double ──
    Q("q151_gini",
      (s, d) => {
        val spend = Tables.orders(s, d)
          .groupBy(col("o_orderpriority"), col("o_custkey"))
          .agg(sum(dec2(col("o_totalprice")) * 100).cast("long").as("cents"))
        Quality.gini(spend, "o_orderpriority", "o_custkey", "cents")
      },
      Some("""
        WITH s AS (SELECT o_orderpriority, o_custkey,
            CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
              AS BIGINT)) AS BIGINT) AS cents
          FROM orders GROUP BY 1, 2),
        r AS (SELECT o_orderpriority, cents,
            CAST(row_number() OVER (PARTITION BY o_orderpriority
              ORDER BY cents ASC, o_custkey ASC) AS BIGINT) AS i
          FROM s),
        m AS (SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_keys,
            CAST(SUM(cents) AS BIGINT) AS total_cents,
            CAST(SUM(i * cents) AS BIGINT) AS six
          FROM r GROUP BY 1)
        SELECT o_orderpriority, n_keys, total_cents,
          CASE WHEN total_cents > 0
               THEN ROUND(CAST(2 * six - (n_keys + 1) * total_cents
                 AS DOUBLE) / CAST(n_keys * total_cents AS DOUBLE), 6)
               END AS gini
        FROM m""")),

    // ── per-stream daily-volume OLS trend: drift detection with exact
    //    integer moments; intercept uses the UNROUNDED slope on both
    //    sides so the op trees match bit-for-bit ──
    Q("q152_daily_trend",
      (s, d) => Quality.dailyTrend(Tables.events(s, d), "event_type", "ts"),
      Some("""
        WITH d0 AS (SELECT event_type, CAST(ts AS DATE) AS day,
            CAST(COUNT(*) AS BIGINT) AS y
          FROM events GROUP BY 1, 2),
        x AS (SELECT event_type, y,
            CAST(date_diff('day',
              MIN(day) OVER (PARTITION BY event_type), day) AS BIGINT) AS x
          FROM d0),
        m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
            CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
            CAST(SUM(x * y) AS BIGINT) AS sxy,
            CAST(SUM(x * x) AS BIGINT) AS sxx
          FROM x GROUP BY 1)
        SELECT event_type, n_days,
          CASE WHEN (n_days * sxx - sx * sx) > 0
               THEN ROUND(CAST(n_days * sxy - sx * sy AS DOUBLE) /
                 CAST(n_days * sxx - sx * sx AS DOUBLE), 6) END AS slope,
          CASE WHEN (n_days * sxx - sx * sx) > 0
               THEN ROUND((CAST(sy AS DOUBLE) -
                 (CAST(n_days * sxy - sx * sy AS DOUBLE) /
                  CAST(n_days * sxx - sx * sx AS DOUBLE))
                 * CAST(sx AS DOUBLE)) / CAST(n_days AS DOUBLE), 6)
               END AS intercept
        FROM m""")),

    // ── split-leakage audit: near-dup pairs straddling a naive per-doc
    //    train/val/test split — the contamination q108's cluster-aware
    //    split exists to prevent, measured directly ──
    Q("q153_split_leakage",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val pairs = Dedup.ngramJaccard(docs, "doc_id", "text",
          k = 3, threshold = 0.2)
        val assigned = operators.Sampling.split(docs.select("doc_id"),
          "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        operators.Sampling.splitLeakage(pairs, assigned, "doc_id")
          .select("id_a", "id_b", "jaccard", "split_a", "split_b")
      },
      Some("""
        WITH t AS (SELECT doc_id,
            list_distinct(list_transform(
              range(1, len(string_split_regex(lower(trim(text)), '\s+')) - 1),
              i -> concat_ws(' ',
                string_split_regex(lower(trim(text)), '\s+')[i],
                string_split_regex(lower(trim(text)), '\s+')[i+1],
                string_split_regex(lower(trim(text)), '\s+')[i+2]))) AS sh
          FROM documents),
        docs AS (SELECT doc_id, sh, len(sh) AS n_sh FROM t WHERE len(sh) > 0),
        inv AS (SELECT doc_id, n_sh, unnest(sh) AS s FROM docs),
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 a.n_sh AS n_a, b.n_sh AS n_b,
                 CAST(COUNT(*) AS BIGINT) AS n_shared
          FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2, 3, 4
          HAVING CAST(n_shared AS DOUBLE) / (n_a + n_b - n_shared) >= 0.2),
        j AS (SELECT id_a, id_b,
                CAST(n_shared AS DOUBLE) / (n_a + n_b - n_shared) AS jaccard
              FROM pairs),
        asg AS (SELECT doc_id,
                CASE WHEN hs < 0.8 THEN 'train'
                     WHEN hs < 0.9 THEN 'val'
                     ELSE 'test' END AS split
          FROM (SELECT doc_id,
                  ('0x' || substr(md5(doc_id::VARCHAR || 'split'), 1, 8))
                    ::UBIGINT / 4294967296.0 AS hs
                FROM documents))
        SELECT j.id_a, j.id_b, j.jaccard,
               a.split AS split_a, b.split AS split_b
        FROM j JOIN asg a ON j.id_a = a.doc_id
               JOIN asg b ON j.id_b = b.doc_id
        WHERE a.split <> b.split""")),

    // ── per-source winsorization: clamp to PERCENTILE_DISC boundaries
    //    instead of dropping (trimOutliers' complement) — all-integer
    //    boundary compares, corpus never shuffles ──
    Q("q154_winsorize",
      (s, d) => TextAnalysis.winsorize(
        Tables.documents(s, d).select("doc_id", "source", "n_chars"),
        "n_chars", "source", lowPct = 5, highPct = 95)
        .select("doc_id", "source", "n_chars", "n_chars_w"),
      Some("""
        WITH c AS (SELECT source, n_chars, CAST(COUNT(*) AS BIGINT) AS c
          FROM documents GROUP BY 1, 2),
        cum AS (SELECT source, n_chars,
            CAST(SUM(c) OVER (PARTITION BY source ORDER BY n_chars ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cm
          FROM c),
        t AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
          FROM documents GROUP BY 1),
        b AS (SELECT cum.source,
            MIN(CASE WHEN cm * 100 >= 5 * n THEN n_chars END) AS lo,
            MIN(CASE WHEN cm * 100 >= 95 * n THEN n_chars END) AS hi
          FROM cum JOIN t ON cum.source = t.source GROUP BY 1)
        SELECT d.doc_id, d.source, d.n_chars,
          CASE WHEN d.n_chars IS NOT NULL AND b.lo IS NOT NULL
               THEN LEAST(GREATEST(d.n_chars, b.lo), b.hi)
               ELSE d.n_chars END AS n_chars_w
        FROM documents d LEFT JOIN b ON d.source = b.source""")),

    // ── first-order Markov transition matrix over the event stream:
    //    P(next type | type), one key shuffle, matrix-sized output ──
    Q("q155_transition_matrix",
      (s, d) => operators.Sessionize.transitionMatrix(
        Tables.events(s, d), "user_id", "ts", "event_type",
        tieCols = Seq("event_id")),
      Some("""
        WITH p AS (SELECT
            lag(event_type) OVER (PARTITION BY user_id
              ORDER BY ts ASC, event_id ASC) AS from_type,
            event_type AS to_type
          FROM events),
        c AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
          FROM p WHERE from_type IS NOT NULL GROUP BY 1, 2)
        SELECT from_type, to_type, n,
          CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT) AS n_from,
          ROUND(CAST(n AS DOUBLE) /
            CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE), 6) AS p
        FROM c""")),

    // ── Wilson score interval per group: the small-n-safe rate CI
    //    (q111's per-group complement); fixed IEEE op tree both sides ──
    Q("q156_wilson_ci",
      (s, d) => Quality.wilsonCi(
        Tables.orders(s, d), "o_orderpriority",
        col("o_orderstatus") === "F"),
      Some("""
        WITH a AS (SELECT o_orderpriority,
            CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
              AS BIGINT) AS k
          FROM orders GROUP BY 1)
        SELECT o_orderpriority, n, k,
          ROUND(CAST(k AS DOUBLE) / CAST(n AS DOUBLE), 6) AS p_hat,
          ROUND((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
                 + (1.96 * 1.96) / (2.0 * CAST(n AS DOUBLE)))
                / (1.0 + (1.96 * 1.96) / CAST(n AS DOUBLE))
              - (1.96 * sqrt(
                  CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
                  * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                  / CAST(n AS DOUBLE)
                  + (1.96 * 1.96)
                    / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
                / (1.0 + (1.96 * 1.96) / CAST(n AS DOUBLE)), 6) AS ci_lo,
          ROUND((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
                 + (1.96 * 1.96) / (2.0 * CAST(n AS DOUBLE)))
                / (1.0 + (1.96 * 1.96) / CAST(n AS DOUBLE))
              + (1.96 * sqrt(
                  CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
                  * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                  / CAST(n AS DOUBLE)
                  + (1.96 * 1.96)
                    / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
                / (1.0 + (1.96 * 1.96) / CAST(n AS DOUBLE)), 6) AS ci_hi
        FROM a""")),

    // ── week-over-week volume growth per stream: drift alerting; events
    //    collapse to (stream, week) before any window ──
    Q("q157_period_growth",
      (s, d) => Quality.periodGrowth(Tables.events(s, d), "event_type", "ts"),
      Some("""
        WITH wk AS (SELECT event_type,
            CAST(date_trunc('week', ts) AS DATE) AS week_start,
            CAST(COUNT(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2),
        l AS (SELECT event_type, week_start, n,
            lag(n) OVER (PARTITION BY event_type
              ORDER BY week_start ASC NULLS LAST) AS prev_n
          FROM wk)
        SELECT event_type, week_start, n, prev_n,
          n - prev_n AS delta,
          CASE WHEN prev_n > 0
               THEN ROUND(CAST(n - prev_n AS DOUBLE) * 100.0 /
                 CAST(prev_n AS DOUBLE), 6) END AS growth_pct
        FROM l""")),

    // ── two-sample KS drift per stream: max ECDF gap across the Split,
    //    histogram-shaped (distinct values only), gaps rounded pre-max ──
    Q("q159_ks_drift",
      (s, d) => Quality.ksDrift(Tables.events(s, d), "value", "event_type",
        col("ts") >= lit(Split).cast("timestamp")),
      Some(s"""
        WITH t AS (SELECT event_type, value,
            CASE WHEN ts >= TIMESTAMP '$Split' THEN 1 ELSE 0 END AS r
          FROM events WHERE value IS NOT NULL),
        c AS (SELECT event_type, value,
            CAST(SUM(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
            CAST(SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
          FROM t GROUP BY 1, 2),
        cum AS (SELECT event_type,
            CAST(SUM(ca) OVER (PARTITION BY event_type ORDER BY value ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cuma,
            CAST(SUM(cb) OVER (PARTITION BY event_type ORDER BY value ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumb
          FROM c),
        tot AS (SELECT event_type,
            CAST(SUM(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
            CAST(SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
          FROM t GROUP BY 1)
        SELECT cum.event_type, MAX(n_a) AS n_a, MAX(n_b) AS n_b,
          MAX(CASE WHEN n_a > 0 AND n_b > 0 THEN
            ROUND(ABS(CAST(cuma AS DOUBLE) / CAST(n_a AS DOUBLE)
              - CAST(cumb AS DOUBLE) / CAST(n_b AS DOUBLE)), 6) END) AS ks
        FROM cum JOIN tot ON cum.event_type = tot.event_type
        GROUP BY 1""")),

    // ── PSI drift per stream: 10 equal-width bins over the combined
    //    range, Laplace-smoothed shares, ln terms rounded into DECIMAL ──
    Q("q160_psi_drift",
      (s, d) => Quality.psiDrift(Tables.events(s, d), "value", "event_type",
        col("ts") >= lit(Split).cast("timestamp"), bins = 10),
      Some(s"""
        WITH t AS (SELECT event_type, CAST(value AS DOUBLE) AS v,
            CASE WHEN ts >= TIMESTAMP '$Split' THEN 1 ELSE 0 END AS r
          FROM events WHERE value IS NOT NULL),
        ext AS (SELECT event_type, MIN(v) AS mn, MAX(v) AS mx,
            CAST(SUM(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
            CAST(SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
          FROM t GROUP BY 1),
        b AS (SELECT t.event_type, r,
            CASE WHEN mx > mn
                 THEN LEAST(9, CAST(FLOOR((v - mn) * 10 / (mx - mn)) AS INTEGER))
                 ELSE 0 END AS bin
          FROM t JOIN ext ON t.event_type = ext.event_type),
        c AS (SELECT event_type, bin,
            CAST(SUM(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
            CAST(SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
          FROM b GROUP BY 1, 2),
        s AS (SELECT event_type, n_a, n_b, unnest(range(0, 10)) AS bin
          FROM ext),
        f AS (SELECT s.event_type, s.n_a, s.n_b,
            COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
          FROM s LEFT JOIN c ON s.event_type = c.event_type AND s.bin = c.bin),
        terms AS (SELECT event_type, n_a, n_b,
            CAST(FLOOR(((ca + 1.0) / (n_a + 10.0) - (cb + 1.0) / (n_b + 10.0))
              * LN(((ca + 1.0) / (n_a + 10.0)) / ((cb + 1.0) / (n_b + 10.0)))
              * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS trm
          FROM f)
        SELECT event_type, MAX(n_a) AS n_a, MAX(n_b) AS n_b,
          CAST(SUM(trm) AS DOUBLE) AS psi
        FROM terms GROUP BY 1""")),

    // ── n-gram novelty of one source against the rest of the corpus:
    //    shingle hashes on the Spark side, shingle strings in the oracle
    //    (the q55/q59 no-collision equivalence) ──
    Q("q161_ngram_novelty",
      (s, d) => TextAnalysis.ngramNovelty(
        Tables.documents(s, d), "doc_id", "text",
        isRef = col("source") =!= "src0", k = 3)
        .select(col("id").as("doc_id"), col("n_shingles"),
          col("n_novel"), col("novelty")),
      Some("""
        WITH t AS (SELECT doc_id, source,
            list_distinct(list_transform(
              range(1, len(string_split_regex(lower(trim(text)), '\s+')) - 1),
              i -> concat_ws(' ',
                string_split_regex(lower(trim(text)), '\s+')[i],
                string_split_regex(lower(trim(text)), '\s+')[i+1],
                string_split_regex(lower(trim(text)), '\s+')[i+2]))) AS sh
          FROM documents),
        cand AS (SELECT doc_id, unnest(sh) AS sg
          FROM t WHERE source = 'src0' AND len(sh) > 0),
        ref AS (SELECT DISTINCT unnest(sh) AS sg FROM t WHERE source <> 'src0'),
        tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles
          FROM cand GROUP BY 1),
        nov AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_novel
          FROM cand WHERE sg NOT IN (SELECT sg FROM ref) GROUP BY 1)
        SELECT tot.doc_id, n_shingles,
          CAST(COALESCE(n_novel, 0) AS BIGINT) AS n_novel,
          ROUND(CAST(COALESCE(n_novel, 0) AS DOUBLE)
            / CAST(n_shingles AS DOUBLE), 6) AS novelty
        FROM tot LEFT JOIN nov ON tot.doc_id = nov.doc_id""")),

    // ── dbt-docs lineage analog: (model, source_table) edges from the
    //    ANALYZED plans of the declarative tier — metadata-only, pinned
    //    against a literal oracle ──
    Q("q162_lineage",
      (s, d) => Lineage.edges(s, d, Seq(
        "q01_dedup_latest", "q03_fact_enrich", "q06_agg_pricing",
        "q08_anti_orphans", "q14_star_revenue")),
      Some("""
        SELECT * FROM (VALUES
          ('q01_dedup_latest', 'events'),
          ('q03_fact_enrich', 'lineitem'),
          ('q03_fact_enrich', 'orders'),
          ('q06_agg_pricing', 'lineitem'),
          ('q08_anti_orphans', 'customer'),
          ('q08_anti_orphans', 'orders'),
          ('q14_star_revenue', 'customer'),
          ('q14_star_revenue', 'lineitem'),
          ('q14_star_revenue', 'orders')) AS t(model, source_table)""")),

    // ── MAD anomaly screen: heavy-tail-robust complement of q15's
    //    z-score — exact-cents integer medians, both off histograms ──
    Q("q163_mad_anomaly",
      (s, d) => Quality.madAnomalies(
        Tables.events(s, d).select(col("event_id"), col("event_type"),
          floor(col("value") * 100).cast("long").as("cents")),
        "cents", "event_type", k = 3)
        .select("event_type", "event_id", "cents", "med", "dev", "mad"),
      Some("""
        WITH e AS (SELECT event_id, event_type,
            CAST(FLOOR(value * 100) AS BIGINT) AS cents FROM events),
        c AS (SELECT event_type, cents, CAST(COUNT(*) AS BIGINT) AS c
          FROM e GROUP BY 1, 2),
        cum AS (SELECT event_type, cents,
            CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY cents ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cm
          FROM c),
        t AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
          FROM e GROUP BY 1),
        m AS (SELECT cum.event_type,
            MIN(CASE WHEN cm * 100 >= 50 * n THEN cents END) AS med
          FROM cum JOIN t ON cum.event_type = t.event_type GROUP BY 1),
        dv AS (SELECT e.event_id, e.event_type, e.cents, m.med,
            ABS(e.cents - m.med) AS dev
          FROM e JOIN m ON e.event_type = m.event_type),
        dc AS (SELECT event_type, dev, CAST(COUNT(*) AS BIGINT) AS c
          FROM dv GROUP BY 1, 2),
        dcum AS (SELECT event_type, dev,
            CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY dev ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cm
          FROM dc),
        md AS (SELECT dcum.event_type,
            MIN(CASE WHEN cm * 100 >= 50 * n THEN dev END) AS mad
          FROM dcum JOIN t ON dcum.event_type = t.event_type GROUP BY 1)
        SELECT dv.event_type, dv.event_id, dv.cents, dv.med, dv.dev, md.mad
        FROM dv JOIN md ON dv.event_type = md.event_type
        WHERE dv.dev > 3 * md.mad""")),

    // ── near-dup cluster size histogram off the SHARED resolved frame
    //    (q57/q61/q108's cluster cache): the "how much boilerplate is in
    //    this corpus" dedup diagnostic — non-singleton clusters only ──
    Q("q164_cluster_sizes",
      (s, d) => docClusters(s, d)
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("n_members"))
        .groupBy(col("n_members"))
        .agg(count(lit(1)).cast("long").as("n_clusters")),
      Some("""
        WITH RECURSIVE
        t AS (SELECT doc_id,
            list_distinct(list_transform(
              range(1, len(string_split_regex(lower(trim(text)), '\s+')) - 1),
              i -> concat_ws(' ',
                string_split_regex(lower(trim(text)), '\s+')[i],
                string_split_regex(lower(trim(text)), '\s+')[i+1],
                string_split_regex(lower(trim(text)), '\s+')[i+2]))) AS sh
          FROM documents),
        docs AS (SELECT doc_id, sh, len(sh) AS n_sh FROM t WHERE len(sh) > 0),
        inv AS (SELECT doc_id, n_sh, unnest(sh) AS s FROM docs),
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 a.n_sh AS n_a, b.n_sh AS n_b,
                 CAST(COUNT(*) AS BIGINT) AS n_shared
          FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2, 3, 4
          HAVING CAST(n_shared AS DOUBLE) / (n_a + n_b - n_shared) >= 0.2),
        edges AS (SELECT id_a AS id, id_b AS peer FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
        cc(id, lbl) AS (
          SELECT id, id AS lbl FROM (SELECT DISTINCT id FROM edges)
          UNION
          SELECT e.id, c.lbl FROM edges e JOIN cc c ON c.id = e.peer),
        lab AS (SELECT id, CAST(MIN(lbl) AS BIGINT) AS cluster_id
          FROM cc GROUP BY id),
        sz AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members
          FROM lab GROUP BY 1)
        SELECT n_members, CAST(COUNT(*) AS BIGINT) AS n_clusters
        FROM sz GROUP BY 1""")),

    // ── linear multi-touch attribution: q137's complement — every click
    //    in the 3-day window shares the purchase credit equally; user-key
    //    hash join + residual window, never a nested loop ──
    Q("q165_linear_attribution",
      (s, d) => Marts.linearAttribution(Tables.events(s, d),
        "user_id", "ts", "event_id", "event_type",
        touchType = "click", convType = "purchase",
        windowSec = 3L * 24 * 3600),
      Some("""
        WITH conv AS (SELECT user_id, event_id AS conv_id,
            epoch_us(ts) AS cus FROM events WHERE event_type = 'purchase'),
        tch AS (SELECT user_id, event_id AS touch_id,
            epoch_us(ts) AS tus FROM events WHERE event_type = 'click'),
        j AS (SELECT c.user_id, conv_id, touch_id
          FROM conv c JOIN tch t ON c.user_id = t.user_id
          WHERE tus <= cus AND tus >= cus - 259200000000)
        SELECT user_id, conv_id, touch_id,
          CAST(COUNT(*) OVER (PARTITION BY conv_id) AS BIGINT) AS n_touches,
          ROUND(CAST(1.0 AS DOUBLE) /
            CAST(COUNT(*) OVER (PARTITION BY conv_id) AS DOUBLE), 6) AS credit
        FROM j""")),

    // ── mutual information between two categorical columns: the
    //    column-dependency / label-leakage profiler, one contingency agg ──
    Q("q166_mutual_info",
      (s, d) => Quality.mutualInfo(Tables.orders(s, d),
        "o_orderstatus", "o_orderpriority"),
      Some("""
        WITH j AS (SELECT o_orderstatus AS x, o_orderpriority AS y,
            CAST(COUNT(*) AS BIGINT) AS nxy
          FROM orders
          WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL
          GROUP BY 1, 2),
        n AS (SELECT CAST(SUM(nxy) AS BIGINT) AS n FROM j),
        mx AS (SELECT x, CAST(SUM(nxy) AS BIGINT) AS nx FROM j GROUP BY 1),
        my AS (SELECT y, CAST(SUM(nxy) AS BIGINT) AS ny FROM j GROUP BY 1),
        terms AS (SELECT n,
            CAST(FLOOR((CAST(nxy AS DOUBLE) / CAST(n AS DOUBLE))
              * LN((CAST(nxy AS DOUBLE) / CAST(n AS DOUBLE))
                  / ((CAST(nx AS DOUBLE) / CAST(n AS DOUBLE))
                     * (CAST(ny AS DOUBLE) / CAST(n AS DOUBLE))))
              * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS trm
          FROM j JOIN mx ON j.x = mx.x JOIN my ON j.y = my.y, n)
        SELECT CAST(MAX(n) AS BIGINT) AS n_rows,
          CAST(SUM(trm) AS DOUBLE) AS mi
        FROM terms""")),

    // ── per-group top-k: rank filter pushes into WindowGroupLimit, so
    //    map tasks hold ≤k rows per group before the shuffle (the §2.9
    //    top-k generalized per group; total order via the key tie-break) ──
    Q("q167_topk_per_group",
      (s, d) => {
        val w = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        Tables.orders(s, d)
          .select(col("o_orderpriority"), col("o_orderkey"),
            col("o_totalprice"), row_number().over(w).as("rk"))
          .filter(col("rk") <= 3)
      },
      Some("""
        SELECT o_orderpriority, o_orderkey, o_totalprice, rk FROM (
          SELECT o_orderpriority, o_orderkey, o_totalprice,
                 CAST(row_number() OVER (PARTITION BY o_orderpriority
                   ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER) AS rk
          FROM orders) WHERE rk <= 3""")),

    // ── weekly percentile bands per stream: p50/p95 of exact cents per
    //    (stream, ISO week) — percentilesExact composed over a composite
    //    group; the ops-dashboard complement of q157's volume growth ──
    Q("q168_weekly_percentiles",
      (s, d) => {
        val ev = Tables.events(s, d).select(
          concat(col("event_type"), lit("|"),
            date_trunc("week", col("ts")).cast("date").cast("string"))
            .as("stream_week"),
          floor(col("value") * 100).cast("long").as("cents"))
        TextAnalysis.percentilesExact(ev, "cents", "stream_week", Seq(50, 95))
      },
      Some("""
        WITH e AS (SELECT
            event_type || '|' ||
              CAST(CAST(date_trunc('week', ts) AS DATE) AS VARCHAR) AS stream_week,
            CAST(FLOOR(value * 100) AS BIGINT) AS cents
          FROM events),
        c AS (SELECT stream_week, cents, CAST(COUNT(*) AS BIGINT) AS c
          FROM e GROUP BY 1, 2),
        cum AS (SELECT stream_week, cents,
            CAST(SUM(c) OVER (PARTITION BY stream_week ORDER BY cents ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cm
          FROM c),
        t AS (SELECT stream_week, CAST(COUNT(*) AS BIGINT) AS n
          FROM e GROUP BY 1)
        SELECT cum.stream_week, p.pct,
          MIN(CASE WHEN cm * 100 >= p.pct * n THEN cents END) AS value
        FROM cum JOIN t ON cum.stream_week = t.stream_week,
          (SELECT UNNEST([50, 95]) AS pct) p
        GROUP BY 1, 2""")),

    // ── integer PageRank over the near-dup graph: boilerplate-hub
    //    centrality, exact by construction (micro-unit DIV arithmetic),
    //    3 fixed rounds ≡ 3 chained CTEs in the oracle ──
    Q("q169_pagerank",
      (s, d) => {
        val pairs = Dedup.ngramJaccard(Tables.documents(s, d), "doc_id", "text",
          k = 3, threshold = 0.2)
        val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
          .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
        operators.GraphOps.pageRankInt(edges, "src", "dst", iters = 3)
          .select(col("id").as("doc_id"), col("p").as("rank_micro"))
      },
      Some("""
        WITH t AS (SELECT doc_id,
            list_distinct(list_transform(
              range(1, len(string_split_regex(lower(trim(text)), '\s+')) - 1),
              i -> concat_ws(' ',
                string_split_regex(lower(trim(text)), '\s+')[i],
                string_split_regex(lower(trim(text)), '\s+')[i+1],
                string_split_regex(lower(trim(text)), '\s+')[i+2]))) AS sh
          FROM documents),
        docs AS (SELECT doc_id, sh, len(sh) AS n_sh FROM t WHERE len(sh) > 0),
        inv AS (SELECT doc_id, n_sh, unnest(sh) AS s FROM docs),
        prs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 a.n_sh AS n_a, b.n_sh AS n_b,
                 CAST(COUNT(*) AS BIGINT) AS n_shared
          FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2, 3, 4
          HAVING CAST(n_shared AS DOUBLE) / (n_a + n_b - n_shared) >= 0.2),
        edges AS (SELECT id_a AS src, id_b AS dst FROM prs
                  UNION ALL SELECT id_b, id_a FROM prs),
        deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
                FROM edges GROUP BY 1),
        nodes AS (SELECT DISTINCT id FROM
          (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)),
        p0 AS (SELECT id, CAST(1000000 AS BIGINT) AS p FROM nodes),
        c1 AS (SELECT e.dst AS id, CAST(SUM(p.p // d.deg) AS BIGINT) AS i
               FROM edges e JOIN deg d ON e.src = d.src
               JOIN p0 p ON e.src = p.id GROUP BY 1),
        p1 AS (SELECT n.id,
               CAST(150000 + (85 * COALESCE(c1.i, 0)) // 100 AS BIGINT) AS p
               FROM nodes n LEFT JOIN c1 ON n.id = c1.id),
        c2 AS (SELECT e.dst AS id, CAST(SUM(p.p // d.deg) AS BIGINT) AS i
               FROM edges e JOIN deg d ON e.src = d.src
               JOIN p1 p ON e.src = p.id GROUP BY 1),
        p2 AS (SELECT n.id,
               CAST(150000 + (85 * COALESCE(c2.i, 0)) // 100 AS BIGINT) AS p
               FROM nodes n LEFT JOIN c2 ON n.id = c2.id),
        c3 AS (SELECT e.dst AS id, CAST(SUM(p.p // d.deg) AS BIGINT) AS i
               FROM edges e JOIN deg d ON e.src = d.src
               JOIN p2 p ON e.src = p.id GROUP BY 1),
        p3 AS (SELECT n.id,
               CAST(150000 + (85 * COALESCE(c3.i, 0)) // 100 AS BIGINT) AS p
               FROM nodes n LEFT JOIN c3 ON n.id = c3.id)
        SELECT id AS doc_id, p AS rank_micro FROM p3""")),

    // ── same-weekday volume residual: Monday vs last Monday via a
    //    calendar-exact day−7 self-join on the daily-count frame ──
    Q("q170_week_over_week",
      (s, d) => Quality.weekOverWeekResidual(Tables.events(s, d),
        "event_type", "ts"),
      Some("""
        WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
            CAST(COUNT(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2)
        SELECT a.event_type, a.day, a.n,
          b.n AS n_week_ago,
          a.n - b.n AS delta,
          CASE WHEN b.n > 0 THEN
            ROUND(CAST(a.n - b.n AS DOUBLE) * 100.0 / CAST(b.n AS DOUBLE), 6)
          END AS pct
        FROM daily a LEFT JOIN daily b
          ON a.event_type = b.event_type AND a.day = b.day + 7""")),

    // ── weight-of-evidence scorecard bins over order value: the credit-
    //    scoring feature transform + per-bin information value ──
    Q("q171_woe_bins",
      (s, d) => Quality.weightOfEvidence(Tables.orders(s, d),
        "o_totalprice", col("o_orderstatus") === "F", bins = 5),
      Some("""
        WITH t AS (SELECT CAST(o_totalprice AS DOUBLE) AS v,
            (o_orderstatus = 'F') AS g
          FROM orders WHERE o_totalprice IS NOT NULL),
        ext AS (SELECT MIN(v) AS mn, MAX(v) AS mx,
            CAST(SUM(CASE WHEN g THEN 1 ELSE 0 END) AS BIGINT) AS ng,
            CAST(SUM(CASE WHEN g THEN 0 ELSE 1 END) AS BIGINT) AS nb
          FROM t),
        b AS (SELECT CASE WHEN mx > mn
                THEN LEAST(4, CAST(FLOOR((v - mn) * 5 / (mx - mn)) AS INTEGER))
                ELSE 0 END AS bin, g
          FROM t, ext),
        c AS (SELECT bin,
            CAST(SUM(CASE WHEN g THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
            CAST(SUM(CASE WHEN g THEN 0 ELSE 1 END) AS BIGINT) AS n_bad
          FROM b GROUP BY 1),
        s AS (SELECT ng, nb, CAST(UNNEST(range(0, 5)) AS INTEGER) AS bin
          FROM ext),
        f AS (SELECT s.bin, s.ng, s.nb,
            COALESCE(c.n_good, 0) AS n_good, COALESCE(c.n_bad, 0) AS n_bad
          FROM s LEFT JOIN c ON s.bin = c.bin)
        SELECT bin, n_good, n_bad,
          FLOOR(LN(((n_good + 1.0) / (ng + 5.0)) / ((n_bad + 1.0) / (nb + 5.0)))
            * 1000000 + 0.5) / 1000000 AS woe,
          FLOOR(((n_good + 1.0) / (ng + 5.0) - (n_bad + 1.0) / (nb + 5.0))
            * LN(((n_good + 1.0) / (ng + 5.0)) / ((n_bad + 1.0) / (nb + 5.0)))
            * 1000000 + 0.5) / 1000000 AS iv_term
        FROM f""")),

    // ── incremental novelty gate: persisted reference-shingle index
    //    probed by the batch (q161's O(batch) steady-state form; same
    //    oracle — probe ≡ full recompute by construction) ──
    Q("q172_novelty_probe",
      (s, d) => {
        val idx = Scratch.dir("q172-idx") + "/novelty_index"
        val docs = Tables.documents(s, d)
        TextAnalysis.ngramNoveltyIndex(
          docs.filter(col("source") =!= "src0"), "text", k = 3, idx)
        TextAnalysis.ngramNoveltyProbe(
          docs.filter(col("source") === "src0"), "doc_id", "text", idx, k = 3)
          .select(col("id").as("doc_id"), col("n_shingles"),
            col("n_novel"), col("novelty"))
      },
      Some("""
        WITH t AS (SELECT doc_id, source,
            list_distinct(list_transform(
              range(1, len(string_split_regex(lower(trim(text)), '\s+')) - 1),
              i -> concat_ws(' ',
                string_split_regex(lower(trim(text)), '\s+')[i],
                string_split_regex(lower(trim(text)), '\s+')[i+1],
                string_split_regex(lower(trim(text)), '\s+')[i+2]))) AS sh
          FROM documents),
        cand AS (SELECT doc_id, unnest(sh) AS sg
          FROM t WHERE source = 'src0' AND len(sh) > 0),
        ref AS (SELECT DISTINCT unnest(sh) AS sg FROM t WHERE source <> 'src0'),
        tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles
          FROM cand GROUP BY 1),
        nov AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_novel
          FROM cand WHERE sg NOT IN (SELECT sg FROM ref) GROUP BY 1)
        SELECT tot.doc_id, n_shingles,
          CAST(COALESCE(n_novel, 0) AS BIGINT) AS n_novel,
          ROUND(CAST(COALESCE(n_novel, 0) AS DOUBLE)
            / CAST(n_shingles AS DOUBLE), 6) AS novelty
        FROM tot LEFT JOIN nov ON tot.doc_id = nov.doc_id""")),

    // ── per-source duplicate-rate ledger: fraction of each ingest
    //    batch's docs whose exact content arrived in an EARLIER batch
    //    (or earlier id within the batch) — the "is this source worth
    //    crawling again" readout; one content-hash shuffle ──
    Q("q173_dup_rate_by_source",
      (s, d) => {
        val w = Window.partitionBy(col("__h"))
          .orderBy(col("source").asc, col("doc_id").asc)
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"), md5(col("text")).as("__h"))
          .withColumn("__rn", row_number().over(w))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("__rn") > 1, 1L).otherwise(0L)).as("n_dup"))
          .withColumn("dup_rate",
            round(col("n_dup").cast("double") / col("n_docs").cast("double"), 6))
      },
      Some("""
        WITH h AS (SELECT doc_id, source, md5(text) AS hh FROM documents),
        r AS (SELECT source,
            row_number() OVER (PARTITION BY hh
              ORDER BY source ASC, doc_id ASC) AS rn
          FROM h)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
          ROUND(CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS DOUBLE)
            / CAST(COUNT(*) AS DOUBLE), 6) AS dup_rate
        FROM r GROUP BY 1""")),

    // ── cumulative distinct-user growth curve: each day's new-user count
    //    and running total — first-seen election + calendar window, both
    //    on the user/day frame, never event volume ──
    Q("q174_user_growth",
      (s, d) => {
        val firstDay = Tables.events(s, d)
          .groupBy(col("user_id"))
          .agg(min(to_date(col("ts"))).as("first_day"))
        // global cumulative window — deliberately unpartitioned: it runs
        // over the DAILY frame, bounded by the calendar (≤ a few thousand
        // rows for a decade of history), never event or user volume
        val w = Window.orderBy(col("first_day").asc)
          .rowsBetween(Window.unboundedPreceding, 0)
        firstDay.groupBy(col("first_day"))
          .agg(count(lit(1)).as("n_new_users"))
          .withColumn("cum_users", sum(col("n_new_users")).over(w))
      },
      Some("""
        WITH f AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
          FROM events GROUP BY 1),
        daily AS (SELECT first_day, CAST(COUNT(*) AS BIGINT) AS n_new_users
          FROM f GROUP BY 1)
        SELECT first_day, n_new_users,
          CAST(SUM(n_new_users) OVER (ORDER BY first_day ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS cum_users
        FROM daily""")),

    // ── executing OPTIMIZE: publish events as a many-small-files
    //    snapshot (the reference's 50-record-file CDC pathology,
    //    kafka_to_minio.py:54), compact it through plan → rewrite →
    //    pointer-swap publish, and read the table back. The oracle is the
    //    UNTOUCHED source table: a compaction that drops, duplicates, or
    //    mutates one row hash-mismatches ──
    Q("q175_optimize_roundtrip",
      (s, d) => {
        val root = Scratch.dir("q175-opt") + "/t"
        val ev = Tables.events(s, d)
          .select("event_id", "user_id", "event_type", "ts", "value")
        graft.gold.SnapshotStore.publish(ev.repartition(64), root)
        graft.gold.Optimize.compactSnapshot(s, root,
          targetBytes = 256L << 10, sortCols = Seq(col("user_id")))
        graft.gold.SnapshotStore.read(s, root)
          .select("event_id", "user_id", "event_type", "ts", "value")
      },
      Some("SELECT event_id, user_id, event_type, ts, value FROM events")),

    // ── incremental analyst marts: q110/q113/q142's readouts served
    //    from state folded one micro-batch at a time (AnalystMarts) —
    //    the reference's is_incremental() promise (readme.md:142-151)
    //    applied to its analyst queries. The oracles recompute from raw
    //    events, so any fold that loses, double-counts, or reorders a
    //    batch hash-mismatches ──
    Q("q176_mart_retention",
      (s, d) => gold.AnalystMarts.retentionCohorts(s, foldedMart(s, d)),
      Some("""
        WITH cohort AS (
          SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
          FROM events GROUP BY 1),
        active AS (
          SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
          FROM events)
        SELECT cohort_week,
               CAST(date_diff('day', cohort_week, week) / 7 AS INTEGER) AS week_offset,
               CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_active
        FROM active a JOIN cohort c ON a.user_id = c.user_id
        GROUP BY 1, 2""")),

    Q("q177_mart_wau",
      (s, d) => gold.AnalystMarts.rollingWau(s, foldedMart(s, d)),
      Some("""
        WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        cover AS (
          SELECT DISTINCT user_id, CAST(u.w AS DATE) AS window_end
          FROM ud, LATERAL (SELECT unnest(generate_series(day, day + 6,
            INTERVAL 1 DAY)) AS w) u)
        SELECT window_end, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
        FROM cover GROUP BY 1""")),

    Q("q178_mart_daily_value",
      (s, d) => gold.AnalystMarts.dailyValueMart(s, foldedMart(s, d)),
      Some("""
        SELECT CAST(ts AS DATE) AS day, event_type,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS value_sum,
               MIN(value) AS value_min, MAX(value) AS value_max,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)
                 AS value_avg
        FROM events GROUP BY 1, 2""")),

    // ── persisted-reference PSI (the streaming drift monitor's batch
    //    form, DriftStream): bin edges FROZEN from the reference window
    //    — q160's psiDrift derives edges from the combined data, which a
    //    stream cannot do — with out-of-range current values clamped
    //    into the edge bins. Same smoothing/round6/decimal-sum parity
    //    recipe as q160 ──
    Q("q179_psi_reference",
      (s, d) => {
        val ev = Tables.events(s, d)
        val isCur = col("ts") >= lit(Split).cast("timestamp")
        Quality.psiAgainstReference(ev.filter(!isCur), ev.filter(isCur),
          "value", "event_type", bins = 10)
      },
      Some(s"""
        WITH t AS (SELECT event_type, CAST(value AS DOUBLE) AS v,
            CASE WHEN ts >= TIMESTAMP '$Split' THEN 1 ELSE 0 END AS r
          FROM events WHERE value IS NOT NULL),
        ext AS (SELECT event_type,
            MIN(CASE WHEN r = 0 THEN v END) AS mn,
            MAX(CASE WHEN r = 0 THEN v END) AS mx,
            CAST(SUM(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
            CAST(SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
          FROM t GROUP BY 1
          HAVING SUM(CASE WHEN r = 0 THEN 1 ELSE 0 END) > 0),
        b AS (SELECT t.event_type, r,
            CASE WHEN mx > mn
                 THEN GREATEST(0, LEAST(9,
                      CAST(FLOOR((v - mn) * 10 / (mx - mn)) AS INTEGER)))
                 ELSE 0 END AS bin
          FROM t JOIN ext ON t.event_type = ext.event_type),
        c AS (SELECT event_type, bin,
            CAST(SUM(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
            CAST(SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
          FROM b GROUP BY 1, 2),
        s AS (SELECT event_type, n_a, n_b, unnest(range(0, 10)) AS bin
          FROM ext),
        f AS (SELECT s.event_type, s.n_a, s.n_b,
            COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
          FROM s LEFT JOIN c ON s.event_type = c.event_type AND s.bin = c.bin),
        terms AS (SELECT event_type, n_a, n_b,
            CAST(FLOOR(((ca + 1.0) / (n_a + 10.0) - (cb + 1.0) / (n_b + 10.0))
              * LN(((ca + 1.0) / (n_a + 10.0)) / ((cb + 1.0) / (n_b + 10.0)))
              * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS trm
          FROM f)
        SELECT event_type, MAX(n_a) AS n_ref, MAX(n_b) AS n_cur,
          CAST(SUM(trm) AS DOUBLE) AS psi
        FROM terms GROUP BY 1""")),

    // ── binned two-sample KS from the SAME frozen-edge histograms the
    //    PSI monitor persists (DriftStream.ksReadout's batch form): max
    //    binned-ECDF gap, round6 before the max (q159 discipline) ──
    Q("q180_ks_reference",
      (s, d) => {
        val ev = Tables.events(s, d)
        val isCur = col("ts") >= lit(Split).cast("timestamp")
        Quality.ksAgainstReference(ev.filter(!isCur), ev.filter(isCur),
          "value", "event_type", bins = 10)
      },
      Some(s"""
        WITH t AS (SELECT event_type, CAST(value AS DOUBLE) AS v,
            CASE WHEN ts >= TIMESTAMP '$Split' THEN 1 ELSE 0 END AS r
          FROM events WHERE value IS NOT NULL),
        ext AS (SELECT event_type,
            MIN(CASE WHEN r = 0 THEN v END) AS mn,
            MAX(CASE WHEN r = 0 THEN v END) AS mx,
            CAST(SUM(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
            CAST(SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
          FROM t GROUP BY 1
          HAVING SUM(CASE WHEN r = 0 THEN 1 ELSE 0 END) > 0),
        b AS (SELECT t.event_type, r,
            CASE WHEN mx > mn
                 THEN GREATEST(0, LEAST(9,
                      CAST(FLOOR((v - mn) * 10 / (mx - mn)) AS INTEGER)))
                 ELSE 0 END AS bin
          FROM t JOIN ext ON t.event_type = ext.event_type),
        c AS (SELECT event_type, bin,
            CAST(SUM(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
            CAST(SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
          FROM b GROUP BY 1, 2),
        s AS (SELECT event_type, n_a, n_b, unnest(range(0, 10)) AS bin
          FROM ext),
        f AS (SELECT s.event_type, s.n_a, s.n_b, s.bin,
            COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
          FROM s LEFT JOIN c ON s.event_type = c.event_type AND s.bin = c.bin),
        cum AS (SELECT event_type, n_a, n_b,
            SUM(ca) OVER (PARTITION BY event_type ORDER BY bin
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cra,
            SUM(cb) OVER (PARTITION BY event_type ORDER BY bin
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS crb
          FROM f),
        gaps AS (SELECT event_type, n_a, n_b,
            FLOOR(ABS(CAST(cra AS DOUBLE) / n_a
              - CAST(crb AS DOUBLE) / n_b) * 1000000 + 0.5) / 1000000 AS gap
          FROM cum)
        SELECT event_type, MAX(n_a) AS n_ref, MAX(n_b) AS n_cur,
          CASE WHEN MAX(n_b) > 0 THEN CAST(MAX(gap) AS DOUBLE)
               ELSE NULL END AS ks
        FROM gaps GROUP BY 1""")),

    // ── categorical mix drift (DriftStream.tvdReadout's batch form):
    //    total-variation distance of the order-status mix per priority
    //    class, recent orders vs the pre-1998 reference — categories are
    //    their own bins, a never-seen category carries its whole current
    //    share ──
    Q("q181_tvd_reference",
      (s, d) => {
        val o = s.read.parquet(s"$d/orders.parquet")
        val isCur = col("o_orderdate") >= lit("1998-01-01").cast("timestamp")
        Quality.tvdAgainstReference(o.filter(!isCur), o.filter(isCur),
          "o_orderstatus", "o_orderpriority")
      },
      Some("""
        WITH t AS (SELECT o_orderpriority AS g, o_orderstatus AS c,
            CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01' THEN 1 ELSE 0 END AS r
          FROM orders WHERE o_orderstatus IS NOT NULL),
        ext AS (SELECT g,
            CAST(SUM(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
            CAST(SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
          FROM t GROUP BY 1
          HAVING SUM(CASE WHEN r = 0 THEN 1 ELSE 0 END) > 0),
        cc AS (SELECT g, c,
            CAST(SUM(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
            CAST(SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
          FROM t GROUP BY 1, 2),
        terms AS (SELECT cc.g, n_a, n_b,
            CASE WHEN n_b > 0 THEN
              CAST(FLOOR(ABS(CAST(ca AS DOUBLE) / n_a
                - CAST(cb AS DOUBLE) / n_b) * 1000000 + 0.5) / 1000000
                AS DECIMAL(18,6))
            END AS trm
          FROM cc JOIN ext ON cc.g = ext.g)
        SELECT g AS o_orderpriority, MAX(n_a) AS n_ref, MAX(n_b) AS n_cur,
          CASE WHEN MAX(n_b) > 0 THEN CAST(SUM(trm) AS DOUBLE) / 2
               ELSE NULL END AS tvd
        FROM terms GROUP BY 1""")),

    // ── partitioned OPTIMIZE round trip: a Hive-partitioned snapshot
    //    (the reference's date-partitioned bronze shape, §2 row 5)
    //    accretes small files per partition, compacts with bins that
    //    never span a partition dir, and reads back bit-identical ──
    Q("q182_optimize_partitioned",
      (s, d) => {
        val root = Scratch.dir("q182-opt") + "/t"
        val ev = Tables.events(s, d)
          .select("event_id", "user_id", "ts", "value", "event_type")
        graft.gold.SnapshotStore.publish(ev.repartition(40), root,
          partitionCols = Seq("event_type"))
        graft.gold.Optimize.compactSnapshot(s, root, targetBytes = 64L << 20,
          partitionCols = Seq("event_type"))
        graft.gold.SnapshotStore.read(s, root)
          .select("event_id", "user_id", "ts", "value", "event_type")
      },
      Some("SELECT event_id, user_id, ts, value, event_type FROM events")),

    // ── exact-changelog SCD2 fold (Scd2Merge.applyLog): three ts-split
    //    micro-batches folded one at a time — per-ROW effective
    //    timestamps, several versions of a key per batch, dbt `check`
    //    change-dedup — against a full-log rebuild in the oracle. A fold
    //    that loses a version, mis-orders a tie, double-applies a row, or
    //    dedups against the wrong predecessor hash-mismatches ──
    Q("q183_scd2_changelog_fold",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select("user_id", "event_id", "event_type", "ts")
        val cut1 = lit("2024-01-11 00:00:00").cast("timestamp")
        val cut2 = lit("2024-01-21 00:00:00").cast("timestamp")
        val batches = Seq(
          ev.filter(col("ts") < cut1),
          ev.filter(col("ts") >= cut1 && col("ts") < cut2),
          ev.filter(col("ts") >= cut2))
        batches.foldLeft(gold.Scd2Merge.emptyLogSnapshot(ev, "ts")) {
          (snap, b) =>
            gold.Scd2Merge.applyLog(snap, b, Seq("user_id"),
              Seq("event_type"), "ts", tieBreak = Seq("event_id"))
        }
      },
      Some("""
        WITH o AS (
          SELECT user_id, event_id, event_type, ts,
                 row_number() OVER (PARTITION BY user_id
                   ORDER BY ts ASC, event_id ASC) AS rn,
                 lag(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts ASC, event_id ASC) AS pv
          FROM events),
        k AS (SELECT user_id, event_id, event_type, ts FROM o
              WHERE rn = 1 OR pv IS DISTINCT FROM event_type)
        SELECT user_id, event_id, event_type, ts AS effective_from,
               lead(ts) OVER (PARTITION BY user_id
                 ORDER BY ts ASC, event_id ASC) AS effective_to
        FROM k""")),

    // ── GDPR right-to-erasure on a date-partitioned table (Erasure):
    //    subjects' rows physically removed by rewriting ONLY the
    //    partitions that held them; the oracle is the source table minus
    //    the subjects — a rewrite that drops a bystander row, misses a
    //    partition, or leaves a subject row behind hash-mismatches ──
    Q("q184_erase_partitioned",
      (s, d) => {
        val root = Scratch.dir("q184-era") + "/t"
        val ev = Tables.events(s, d)
          .select("event_id", "user_id", "event_type", "ts", "value")
          .withColumn("day", to_date(col("ts")))
        ev.write.partitionBy("day").parquet(root)
        val subjects = ev.select(col("user_id"))
          .where(pmod(col("user_id"), lit(7)) === 3).distinct()
        gold.Erasure.erasePartitioned(s, root, "day", "user_id", subjects)
        s.read.parquet(root)
          .select("event_id", "user_id", "event_type", "ts", "value", "day")
      },
      Some("""
        SELECT event_id, user_id, event_type, ts, value,
               CAST(ts AS DATE) AS day
        FROM events WHERE user_id % 7 <> 3""")),

    // ── the erasure receipt: per-subject erased-row counts, including a
    //    zero row for a subject with no data (the request was evaluated,
    //    not skipped) ──
    Q("q185_erase_receipt",
      (s, d) => {
        import s.implicits._
        val root = Scratch.dir("q185-era") + "/t"
        val ev = Tables.events(s, d)
          .select("event_id", "user_id", "ts")
          .withColumn("day", to_date(col("ts")))
        ev.write.partitionBy("day").parquet(root)
        val subjects = ev.select(col("user_id"))
          .where(pmod(col("user_id"), lit(7)) === 3).distinct()
          // a subject the table has never seen → receipt row with 0
          .unionByName(Seq(-12345L).toDF("user_id"))
        gold.Erasure.erasePartitioned(s, root, "day", "user_id", subjects)
      },
      Some("""
        WITH subj AS (
          SELECT DISTINCT user_id FROM events WHERE user_id % 7 = 3
          UNION ALL SELECT CAST(-12345 AS BIGINT)),
        hits AS (
          SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM events
          WHERE user_id % 7 = 3 GROUP BY 1)
        SELECT s.user_id, COALESCE(n, 0) AS n_rows_erased
        FROM subj s LEFT JOIN hits USING (user_id)""")),

    // ── erasure on the pointer-published snapshot layout: filtered
    //    generation committed atomically, retired generations vacuumed so
    //    the subject rows' bytes are gone (spec checks the files; the
    //    oracle checks the surviving table) ──
    Q("q186_erase_snapshot",
      (s, d) => {
        val root = Scratch.dir("q186-era") + "/t"
        val ev = Tables.events(s, d)
          .select("event_id", "user_id", "event_type", "ts", "value")
        graft.gold.SnapshotStore.publish(ev, root)
        val subjects = ev.select(col("user_id"))
          .where(pmod(col("user_id"), lit(7)) === 3).distinct()
        gold.Erasure.eraseSnapshot(s, root, "user_id", subjects)
        graft.gold.SnapshotStore.read(s, root)
          .select("event_id", "user_id", "event_type", "ts", "value")
      },
      Some("""
        SELECT event_id, user_id, event_type, ts, value
        FROM events WHERE user_id % 7 <> 3""")),

    // ── keyed pseudonymization + display masking (Masking): direct
    //    identifiers leave the serving layer as salted deterministic
    //    tokens, account-shaped fields keep only their tail — map-only
    //    scan-stage expressions, zero shuffle ──
    Q("q187_pseudonymize",
      (s, d) => {
        val c = Tables.customer(s, d)
          .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
        Masking.pseudonymize(c, Seq("c_custkey"), salt = "q187-salt")
          .withColumn("c_name", Masking.maskTail(col("c_name"), 4))
      },
      Some("""
        SELECT substr(sha256('q187-salt:' || CAST(c_custkey AS VARCHAR)), 1, 16)
                 AS c_custkey,
               repeat('*', length(c_name) - 4)
                 || substr(c_name, length(c_name) - 3) AS c_name,
               c_mktsegment, c_acctbal
        FROM customer""")),

    // ── referential integrity under pseudonymization: fact and dim
    //    tokenized with the SAME salt still join — per-token order
    //    counts and spend match the clear-key rollup re-keyed by token ──
    Q("q188_pseudonym_join",
      (s, d) => {
        val salt = "q188-salt"
        val c = Masking.pseudonymize(
          Tables.customer(s, d).select("c_custkey", "c_mktsegment"),
          Seq("c_custkey"), salt)
        val o = Masking.pseudonymize(
          Tables.orders(s, d).select("o_custkey", "o_totalprice"),
          Seq("o_custkey"), salt)
        o.join(c, col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_custkey"), col("c_mktsegment"))
          .agg(count(lit(1)).as("n_orders"),
            sumMoney(col("o_totalprice")).as("total_spend"))
      },
      Some("""
        SELECT substr(sha256('q188-salt:' || CAST(c_custkey AS VARCHAR)), 1, 16)
                 AS c_custkey,
               c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total_spend
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2""")),

    // ── streaming maintenance cadence: 8 merge-publishes with
    //    Optimize.maybeCompact(every=4) interleaved — the compactions
    //    land between the merges and the table stays bit-identical to
    //    the plain union (cadence correctness; the file-count bound is
    //    OptimizeSpec's assertion) ──
    Q("q189_compaction_cadence",
      (s, d) => {
        val root = Scratch.dir("q189-cad") + "/t"
        val ev = Tables.events(s, d)
          .select("event_id", "user_id", "event_type", "ts", "value")
        (0 until 8).foreach { i =>
          val slice = ev.filter(pmod(col("event_id"), lit(8)) === i)
            .repartition(8)
          val existing =
            if (graft.gold.SnapshotStore.exists(s, root))
              Some(graft.gold.SnapshotStore.read(s, root))
            else None
          graft.gold.SnapshotStore.publish(
            graft.gold.UpsertByKey.mergeBatch(existing, slice,
              Seq("event_id"), Seq("ts", "event_id"), None), root)
          graft.gold.Optimize.maybeCompact(s, root, every = 4,
            targetBytes = 256L << 20)
        }
        graft.gold.SnapshotStore.read(s, root)
          .select("event_id", "user_id", "event_type", "ts", "value")
      },
      Some("SELECT event_id, user_id, event_type, ts, value FROM events")),

    // ── incremental near-dup cluster maintenance (ClusterIndex): ONE
    //    live batch folded against a memoized 2-batch persisted index
    //    (Fixtures.cluster2Copy hardlink copy) — cross pairs probe the
    //    accumulated postings, old clusters enter as super-nodes,
    //    bridged clusters remap. This measures the operator's CONTRACT —
    //    the O(batch) incremental fold, the thing that never rebuilds at
    //    100 TB — not a from-scratch 3× rebuild (that build stays timed
    //    as `Perf clusterbuild`; round-13 verdict #2). Final state is
    //    identical to the 3-batch build, so the oracle is unchanged: it
    //    recomputes components from scratch (q57's recursive CTE), and a
    //    fold that misses a cross pair, skips a bridge remap, or
    //    double-applies the batch hash-mismatches ──
    Q("q190_incremental_clusters",
      (s, d) => {
        val st = Fixtures.cluster2Copy(s, d)
        val docs = Tables.documents(s, d)
        operators.ClusterIndex.fold(s, st,
          docs.filter(pmod(col("doc_id"), lit(3)) === 2), 2L,
          "doc_id", "text")
        operators.ClusterIndex.clustersNonSingleton(s, st)
          .select(col("id").as("doc_id"), col("cluster_id"))
      },
      Some("""
        WITH RECURSIVE
        t AS (SELECT doc_id,
            list_distinct(list_transform(
              range(1, len(string_split_regex(lower(trim(text)), '\s+')) - 1),
              i -> concat_ws(' ',
                string_split_regex(lower(trim(text)), '\s+')[i],
                string_split_regex(lower(trim(text)), '\s+')[i+1],
                string_split_regex(lower(trim(text)), '\s+')[i+2]))) AS sh
          FROM documents),
        docs AS (SELECT doc_id, sh, len(sh) AS n_sh FROM t WHERE len(sh) > 0),
        inv AS (SELECT doc_id, n_sh, unnest(sh) AS s FROM docs),
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 a.n_sh AS n_a, b.n_sh AS n_b,
                 CAST(COUNT(*) AS BIGINT) AS n_shared
          FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2, 3, 4
          HAVING CAST(n_shared AS DOUBLE) / (n_a + n_b - n_shared) >= 0.2),
        edges AS (SELECT id_a AS id, id_b AS peer FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
        cc(id, lbl) AS (
          SELECT id, id AS lbl FROM (SELECT DISTINCT id FROM edges)
          UNION
          SELECT e.id, c.lbl FROM edges e JOIN cc c ON c.id = e.peer)
        SELECT id AS doc_id, CAST(MIN(lbl) AS BIGINT) AS cluster_id
        FROM cc GROUP BY id""")),

    // ── change data feed between snapshot generations (ChangeFeed): a
    //    second publish with updates, inserts, and deletes diffs against
    //    the retained previous generation — row-level insert / delete /
    //    update pre+post images, reconstructed by the oracle from the
    //    same two relations ──
    Q("q191_change_feed",
      (s, d) => {
        val root = Scratch.dir("q191-cdf") + "/t"
        val ev = Tables.events(s, d).select("event_id", "user_id", "value")
        val m = pmod(col("event_id"), lit(10))
        graft.gold.SnapshotStore.publish(ev.filter(m < 8), root)
        val next = ev.filter(m.isin(0, 1))
            .withColumn("value", col("value") + 1.0)
          .unionByName(ev.filter(m >= 2 && m =!= 7))
        graft.gold.SnapshotStore.publish(next, root)
        graft.gold.ChangeFeed.latest(s, root, Seq("event_id"))
      },
      Some("""
        WITH oldt AS (
          SELECT event_id, user_id, value FROM events WHERE event_id % 10 < 8),
        newt AS (
          SELECT event_id, user_id, value + 1.0 AS value FROM events
          WHERE event_id % 10 IN (0, 1)
          UNION ALL
          SELECT event_id, user_id, value FROM events
          WHERE event_id % 10 >= 2 AND event_id % 10 <> 7)
        SELECT * FROM (
          SELECT n.event_id, n.user_id, n.value,
                 'insert' AS _change_type, CAST(2 AS BIGINT) AS _commit_gen
          FROM newt n LEFT JOIN oldt o USING (event_id) WHERE o.event_id IS NULL
          UNION ALL
          SELECT o.event_id, o.user_id, o.value, 'delete', 2
          FROM oldt o LEFT JOIN newt n USING (event_id) WHERE n.event_id IS NULL
          UNION ALL
          SELECT o.event_id, o.user_id, o.value, 'update_preimage', 2
          FROM oldt o JOIN newt n USING (event_id)
          WHERE o.value IS DISTINCT FROM n.value
             OR o.user_id IS DISTINCT FROM n.user_id
          UNION ALL
          SELECT n.event_id, n.user_id, n.value, 'update_postimage', 2
          FROM oldt o JOIN newt n USING (event_id)
          WHERE o.value IS DISTINCT FROM n.value
             OR o.user_id IS DISTINCT FROM n.user_id)""")),

    // ── multi-table atomic publish (MultiSnapshot): fact + dim land
    //    under ONE coordinator commit; the read resolves the commit once
    //    and joins a mutually consistent pair — the oracle is the plain
    //    source join, so a torn or stale member table hash-mismatches ──
    Q("q192_multi_table_commit",
      (s, d) => {
        val root = Scratch.dir("q192-ms") + "/r"
        val cust = Tables.customer(s, d)
          .select("c_custkey", "c_mktsegment")
        val ord = Tables.orders(s, d)
          .select("o_orderkey", "o_custkey", "o_totalprice")
        // two commits: v1 with half the orders, v2 with all — the read
        // must resolve v2 for BOTH tables
        graft.gold.MultiSnapshot.publish(s, root, Map(
          "customers" -> cust,
          "orders" -> ord.filter(pmod(col("o_orderkey"), lit(2)) === 0)))
        graft.gold.MultiSnapshot.publish(s, root, Map("orders" -> ord))
        val t = graft.gold.MultiSnapshot.readAll(s, root)
        t("orders").join(t("customers"),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_orders"),
            sumMoney(col("o_totalprice")).as("total_price"))
      },
      Some("""
        SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total_price
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1""")),

    // ── SCD2 changelog fold with CDC hard deletes (q183 + tombstones):
    //    'error' events act as Debezium op='d' — a delete closes the
    //    open version and persists as a tombstone until a re-create.
    //    Oracle reconstructs the same keep/close rules over the full
    //    log: redundant tombstones and first-ever deletes drop, a
    //    re-create after a delete always opens even with an unchanged
    //    payload ──
    Q("q193_scd2_tombstones",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("event_id"), col("event_type"),
            when(col("event_type") === "error", lit("d")).otherwise(lit("c"))
              .as("op"),
            col("ts"))
        val cut1 = lit("2024-01-11 00:00:00").cast("timestamp")
        val cut2 = lit("2024-01-21 00:00:00").cast("timestamp")
        val batches = Seq(
          ev.filter(col("ts") < cut1),
          ev.filter(col("ts") >= cut1 && col("ts") < cut2),
          ev.filter(col("ts") >= cut2))
        batches.foldLeft(gold.Scd2Merge.emptyLogSnapshot(ev, "ts")) {
          (snap, b) =>
            gold.Scd2Merge.applyLog(snap, b, Seq("user_id"),
              Seq("event_type"), "ts", tieBreak = Seq("event_id"),
              opCol = Some("op"))
        }
      },
      Some("""
        WITH o AS (
          SELECT user_id, event_id, event_type,
                 CASE WHEN event_type = 'error' THEN 'd' ELSE 'c' END AS op,
                 ts,
                 row_number() OVER w AS rn,
                 lag(event_type) OVER w AS pv,
                 lag(CASE WHEN event_type = 'error' THEN 'd' ELSE 'c' END)
                   OVER w AS pop
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        k AS (SELECT user_id, event_id, event_type, op, ts FROM o
              WHERE CASE
                WHEN rn = 1 THEN op <> 'd'
                WHEN op = 'd' THEN pop <> 'd'
                ELSE pop = 'd' OR pv IS DISTINCT FROM event_type END)
        SELECT user_id, event_id, event_type, op, ts AS effective_from,
               lead(ts) OVER (PARTITION BY user_id
                 ORDER BY ts ASC, event_id ASC) AS effective_to
        FROM k""")),

    // ── Merkle-style replica reconciliation (Reconcile): events vs a
    //    mutated copy — bucket digests decide WHERE to look, the keyed
    //    diff runs only over dirty buckets; the oracle reconstructs all
    //    four divergence classes from the same two relations ──
    Q("q194_reconcile",
      (s, d) => {
        val a = Tables.events(s, d).select("event_id", "user_id", "value")
        val m = pmod(col("event_id"), lit(13))
        val b = a.filter(m === 0).withColumn("value", col("value") + 1.0)
          .unionByName(a.filter(m >= 2))
          .unionByName(a.filter(m === 1)
            .withColumn("event_id", col("event_id") + 500000000L))
        Reconcile.diff(a, b, Seq("event_id"), nBuckets = 1 << 10)
      },
      Some("""
        WITH a AS (SELECT event_id, user_id, value FROM events),
        b AS (
          SELECT event_id, user_id, value + 1.0 AS value FROM events
          WHERE event_id % 13 = 0
          UNION ALL
          SELECT event_id, user_id, value FROM events WHERE event_id % 13 >= 2
          UNION ALL
          SELECT event_id + 500000000, user_id, value FROM events
          WHERE event_id % 13 = 1)
        SELECT * FROM (
          SELECT x.event_id, x.user_id, x.value, 'only_in_a' AS diff_type
          FROM a x LEFT JOIN b y USING (event_id) WHERE y.event_id IS NULL
          UNION ALL
          SELECT y.event_id, y.user_id, y.value, 'only_in_b'
          FROM b y LEFT JOIN a x USING (event_id) WHERE x.event_id IS NULL
          UNION ALL
          SELECT x.event_id, x.user_id, x.value, 'differs_in_a'
          FROM a x JOIN b y USING (event_id)
          WHERE x.value IS DISTINCT FROM y.value
             OR x.user_id IS DISTINCT FROM y.user_id
          UNION ALL
          SELECT y.event_id, y.user_id, y.value, 'differs_in_b'
          FROM a x JOIN b y USING (event_id)
          WHERE x.value IS DISTINCT FROM y.value
             OR x.user_id IS DISTINCT FROM y.user_id)""")),

    // ── crypto-shredding end to end (CryptoShred): per-user AES keys,
    //    payload encrypted at ingest, subjects user_id%7==3 shredded by
    //    deleting their KEY ROW (no data rewrite), then a decrypt pass —
    //    shredded subjects read null, everyone else round-trips exactly.
    //    The oracle states that semantic directly ──
    Q("q195_crypto_shred",
      (s, d) => {
        val ev = Tables.events(s, d).select("event_id", "user_id", "value")
        val keys = CryptoShred.subjectKeys(ev, "user_id", "q195-master")
        val enc = CryptoShred.encryptColumns(ev, "user_id", keys,
          Seq("value"))
        val kept = CryptoShred.shred(keys, "user_id",
          ev.filter(pmod(col("user_id"), lit(7)) === 3).select("user_id"))
        CryptoShred.decryptColumns(enc, "user_id", kept, Seq("value"))
          .select(col("event_id"), col("user_id"),
            col("value").cast("double").as("value"))
      },
      Some("""
        SELECT event_id, user_id,
               CASE WHEN user_id % 7 = 3 THEN NULL ELSE value END AS value
        FROM events""")),

    // ── retention-policy enforcement (Erasure.enforceRetention): whole
    //    partition directories below the cutoff drop with zero rewrite —
    //    the partition layout is the retention index ──
    Q("q196_retention_ttl",
      (s, d) => {
        val root = Scratch.dir("q196-ttl") + "/t"
        val ev = Tables.events(s, d)
          .select("event_id", "user_id", "event_type", "ts", "value")
          .withColumn("day", to_date(col("ts")).cast("string"))
        ev.write.partitionBy("day").parquet(root)
        gold.Erasure.enforceRetention(s, root, "day", "2024-01-15")
        // partition-type inference reads the dir values back as DATE —
        // re-cast so both engines emit the string form
        s.read.parquet(root)
          .withColumn("day", col("day").cast("string"))
          .select("event_id", "user_id", "event_type", "ts", "value",
            "day")
      },
      Some("""
        SELECT event_id, user_id, event_type, ts, value,
               CAST(CAST(ts AS DATE) AS VARCHAR) AS day
        FROM events WHERE CAST(ts AS DATE) >= DATE '2024-01-15'""")),

    // ── feature-store point-in-time join: purchase anchors pick up two
    //    features strictly as-of their own timestamp (cumulative prior
    //    view count, last error time) via chained asOfJoin sweeps — the
    //    leakage-free training-set assembly; the oracle states the
    //    point-in-time semantics directly with correlated subqueries,
    //    so any future-data leak or off-by-one at ties hash-mismatches ──
    Q("q197_point_in_time_features",
      (s, d) => {
        val ev = Tables.events(s, d)
        val anchors = ev.filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts")
        val wv = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("view_event_id").asc)
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts"),
            col("event_id").as("view_event_id"))
          .withColumn("n_views_before", row_number().over(wv).cast("long"))
        val errs = ev.filter(col("event_type") === "error")
          .select(col("user_id"), col("ts"),
            col("event_id").as("err_event_id"),
            col("ts").as("last_error_ts"))
        val f1 = Marts.asOfJoin(anchors, views, Seq("user_id"), "ts", "ts",
          Seq("n_views_before", "view_event_id"), Seq("view_event_id"))
        val f2 = Marts.asOfJoin(f1, errs, Seq("user_id"), "ts", "ts",
          Seq("last_error_ts", "err_event_id"), Seq("err_event_id"))
        f2.select(col("event_id"), col("user_id"), col("ts"),
          coalesce(col("n_views_before"), lit(0L)).as("n_views_before"),
          col("last_error_ts"))
      },
      Some("""
        SELECT p.event_id, p.user_id, p.ts,
               CAST((SELECT COUNT(*) FROM events v
                     WHERE v.user_id = p.user_id AND v.event_type = 'view'
                       AND v.ts <= p.ts) AS BIGINT) AS n_views_before,
               (SELECT MAX(e.ts) FROM events e
                WHERE e.user_id = p.user_id AND e.event_type = 'error'
                  AND e.ts <= p.ts) AS last_error_ts
        FROM events p WHERE p.event_type = 'purchase'""")),

    // ── uniform negative sampling for contrastive pairs: per document,
    //    up to 5 deterministic md5-drawn corpus negatives (self-draws
    //    excluded, duplicates collapse) — the reproducible background
    //    mix alongside q92's similarity-mined hard negatives ──
    Q("q198_negative_sample",
      (s, d) => operators.Sampling.negativeSample(
        Tables.documents(s, d), Tables.documents(s, d)
          .select("doc_id", "lang"),
        "doc_id", "doc_id", k = 5, lo = 0L, hi = 499L, salt = "s198")
        .select("anchor_id", "neg_id", "lang"),
      Some("""
        WITH draws AS (
          SELECT a.doc_id AS anchor_id,
                 CAST(('0x' || substr(md5(a.doc_id::VARCHAR || ':'
                     || j::VARCHAR || ':s198'), 1, 8))::UBIGINT % 500
                   AS BIGINT) AS neg_id
          FROM documents a,
               LATERAL (SELECT unnest(range(0, 5)) AS j) u),
        dd AS (SELECT DISTINCT anchor_id, neg_id FROM draws
               WHERE neg_id <> anchor_id)
        SELECT anchor_id, neg_id, c.lang
        FROM dd JOIN documents c ON c.doc_id = dd.neg_id""")),

    // ── SCD Type 3 off the Type 2 fold: current + immediately-previous
    //    value per key, derived by one window pass over the q183
    //    snapshot (T3's write-path lossiness disappears when T2 is
    //    underneath) ──
    Q("q199_scd_type3",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select("user_id", "event_id", "event_type", "ts")
        val snap = gold.Scd2Merge.applyLog(
          gold.Scd2Merge.emptyLogSnapshot(ev, "ts"), ev, Seq("user_id"),
          Seq("event_type"), "ts", tieBreak = Seq("event_id"))
        gold.Scd2Merge.toType3(snap, Seq("user_id"), Seq("event_type"),
            tieBreak = Seq("event_id"))
          .select("user_id", "event_type", "prev_event_type")
      },
      Some("""
        WITH o AS (
          SELECT user_id, event_id, event_type, ts,
                 row_number() OVER w AS rn,
                 lag(event_type) OVER w AS pv
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        k AS (SELECT user_id, event_id, event_type, ts FROM o
              WHERE rn = 1 OR pv IS DISTINCT FROM event_type),
        r AS (SELECT user_id, event_type,
                     row_number() OVER (PARTITION BY user_id
                       ORDER BY ts DESC, event_id DESC) AS rd
              FROM k)
        SELECT cur.user_id, cur.event_type, prev.event_type AS prev_event_type
        FROM (SELECT * FROM r WHERE rd = 1) cur
        LEFT JOIN (SELECT * FROM r WHERE rd = 2) prev USING (user_id)""")),

    // ── HLL distinct-count mart (DistinctMart): per-day Datasketches
    //    HLL state folded one micro-batch at a time; daily estimates +
    //    an any-range union readout. No DuckDB oracle (different sketch
    //    implementation) — batch-cut bit-invariance and the error bound
    //    vs exact are DistinctMartSpec's assertions ──
    // ── HLL distinct mart, ORACLE-VISIBLE (q220's bound made stateful):
    //    three micro-batch folds build the per-day sketch state, then
    //    the daily readout rides next to the exact per-day distinct and
    //    the oracle pins |hll − exact| ≤ max(5%·exact, 2) TRUE (lgK=12
    //    → rsd ≈1.6%; measured error 0 at both oracle scales — the
    //    fixture's daily cardinalities sit in HLL's exact regime). The
    //    bit-for-bit fold-vs-oneshot sketch equality stays spec-pinned. ──
    Q("q200_hll_distinct_mart",
      (s, d) => {
        val root = Scratch.dir("q200-dm") + "/s"
        val ev = Tables.events(s, d)
        (0 to 2).foreach(i => gold.DistinctMart.foldBatch(s,
          ev.filter(pmod(col("event_id"), lit(3)) === i), root,
          "user_id", "ts", i.toLong))
        val exact = ev.groupBy(to_date(col("ts")).as("day"))
          .agg(countDistinct(col("user_id")).as("n_users_exact"))
        gold.DistinctMart.dailyDistinct(s, root)
          .join(exact, Seq("day"))
          .select(col("day"), col("n_users_exact"),
            (abs(col("n_distinct") - col("n_users_exact")).cast("double")
              <= greatest(lit(0.05) * col("n_users_exact").cast("double"),
                lit(2.0))).as("within_bound"))
      },
      Some("""
        SELECT CAST(ts AS DATE) AS day,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_exact,
               TRUE AS within_bound
        FROM events GROUP BY 1""")),

    // ── embedding drift (Similarity.embeddingDrift): per-label PSI
    //    between reference and current cosine-to-REFERENCE-centroid
    //    distributions — the ANN-index/model staleness alarm; both
    //    windows anchored to the reference centroids so centroid
    //    movement cannot cancel out of the score. Oracle composes q65's
    //    decimal cosine with q179's frozen-edge PSI ──
    Q("q201_embedding_drift",
      (s, d) => {
        val em = Tables.embeddings(s, d)
        operators.Similarity.embeddingDrift(
          em.filter(pmod(col("vec_id"), lit(2)) === 0),
          em.filter(pmod(col("vec_id"), lit(2)) === 1),
          "vec_id", "embedding", "label", bins = 10)
      },
      Some("""
        WITH comp AS (
          SELECT label, vec_id,
                 CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END AS r, i,
                 CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5)
                   / 1000000 AS DECIMAL(18,6)) AS vd
          FROM embeddings,
               LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) x),
        cent AS (
          SELECT label, i,
                 CAST(floor((CAST(SUM(vd) AS DOUBLE) / COUNT(*)) * 1000000
                   + 0.5) / 1000000 AS DECIMAL(18,6)) AS c
          FROM comp WHERE r = 0 GROUP BY 1, 2),
        sc AS (
          SELECT vec_id, comp.label AS label, r,
                 CAST(SUM(vd * c) AS DOUBLE) AS dot,
                 CAST(SUM(vd * vd) AS DOUBLE) AS na,
                 CAST(SUM(c * c) AS DOUBLE) AS nc
          FROM comp JOIN cent USING (label, i) GROUP BY 1, 2, 3),
        t AS (
          SELECT label,
                 CASE WHEN na = 0 OR nc = 0 THEN 0.0
                      ELSE floor(dot / sqrt(na * nc) * 1000000 + 0.5)
                        / 1000000 END AS v,
                 r
          FROM sc),
        ext AS (SELECT label,
            MIN(CASE WHEN r = 0 THEN v END) AS mn,
            MAX(CASE WHEN r = 0 THEN v END) AS mx,
            CAST(SUM(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
            CAST(SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
          FROM t GROUP BY 1
          HAVING SUM(CASE WHEN r = 0 THEN 1 ELSE 0 END) > 0),
        b AS (SELECT t.label, r,
            CASE WHEN mx > mn
                 THEN GREATEST(0, LEAST(9,
                      CAST(FLOOR((v - mn) * 10 / (mx - mn)) AS INTEGER)))
                 ELSE 0 END AS bin
          FROM t JOIN ext ON t.label = ext.label),
        c AS (SELECT label, bin,
            CAST(SUM(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
            CAST(SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
          FROM b GROUP BY 1, 2),
        s AS (SELECT label, n_a, n_b, unnest(range(0, 10)) AS bin
          FROM ext),
        f AS (SELECT s.label, s.n_a, s.n_b,
            COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
          FROM s LEFT JOIN c ON s.label = c.label AND s.bin = c.bin),
        terms AS (SELECT label, n_a, n_b,
            CAST(FLOOR(((ca + 1.0) / (n_a + 10.0) - (cb + 1.0) / (n_b + 10.0))
              * LN(((ca + 1.0) / (n_a + 10.0)) / ((cb + 1.0) / (n_b + 10.0)))
              * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS trm
          FROM f)
        SELECT label, MAX(n_a) AS n_ref, MAX(n_b) AS n_cur,
          CAST(SUM(trm) AS DOUBLE) AS psi
        FROM terms GROUP BY 1""")),

    // ── incremental BM25 search index (SearchIndex): postings / doc
    //    lengths / corpus stats folded per batch; the query scores from
    //    state only. BM25 statistics are additive, so the fold must
    //    match q75's from-scratch posting-list oracle hash-exactly ──
    Q("q202_search_index",
      (s, d) => {
        val root = Scratch.dir("q202-si") + "/s"
        val st = operators.SearchIndex.State(root)
        val docs = Tables.documents(s, d)
        (0 to 2).foreach(i => operators.SearchIndex.fold(s, st,
          docs.filter(pmod(col("doc_id"), lit(3)) === i), i.toLong,
          "doc_id", "text"))
        operators.SearchIndex.search(s, st,
          Seq("data", "bank", "account", "risk"))
      },
      Some("""
        WITH post AS (
          SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
          FROM documents),
        p2 AS (SELECT doc_id, tok FROM post WHERE length(tok) > 0),
        dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM p2 GROUP BY 1),
        st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                      CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
               FROM dl),
        tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
               FROM p2 WHERE tok IN ('data', 'bank', 'account', 'risk')
               GROUP BY 1, 2),
        df AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
        t AS (
          SELECT tf.doc_id,
                 floor(((ln((st.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
                          * (CAST(tf.tf AS DOUBLE) * (1.2 + 1.0))) /
                        (CAST(tf.tf AS DOUBLE) +
                          1.2 * ((1.0 - 0.75) + 0.75 * (CAST(dl.dl AS DOUBLE) / st.avgdl))))
                       * 1000000 + 0.5) / 1000000 AS t6
          FROM tf JOIN df USING (tok) JOIN dl USING (doc_id), st)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
               CAST(SUM(CAST(t6 AS DECIMAL(18,6))) AS DOUBLE) AS score
        FROM t GROUP BY 1""")),

    // ── right-to-erasure over the SEARCH INDEX (SearchIndex.erase):
    //    q202's fold, then every doc_id % 7 == 2 is erased — postings,
    //    positions, doc lengths, AND the corpus statistics (N/avgdl,
    //    which shift every surviving score). Oracle = q75's posting-list
    //    SQL over the surviving corpus only: scoring after erasure must
    //    be bit-identical to an index that never saw those docs ──
    Q("q246_index_erasure",
      (s, d) => {
        // ERASE-cost query over a private copy of the shared fixture:
        // the timing is rewrite + vacuum + serve, not the re-fold
        val st = Fixtures.search3Copy(s, d)
        val docs = Tables.documents(s, d)
        operators.SearchIndex.erase(s, st,
          docs.filter(pmod(col("doc_id"), lit(7)) === 2).select(col("doc_id")))
        operators.SearchIndex.search(s, st,
          Seq("data", "bank", "account", "risk"))
      },
      Some("""
        WITH post AS (
          SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
          FROM documents WHERE doc_id % 7 <> 2),
        p2 AS (SELECT doc_id, tok FROM post WHERE length(tok) > 0),
        dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM p2 GROUP BY 1),
        st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                      CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
               FROM dl),
        tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
               FROM p2 WHERE tok IN ('data', 'bank', 'account', 'risk')
               GROUP BY 1, 2),
        df AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
        t AS (
          SELECT tf.doc_id,
                 floor(((ln((st.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
                          * (CAST(tf.tf AS DOUBLE) * (1.2 + 1.0))) /
                        (CAST(tf.tf AS DOUBLE) +
                          1.2 * ((1.0 - 0.75) + 0.75 * (CAST(dl.dl AS DOUBLE) / st.avgdl))))
                       * 1000000 + 0.5) / 1000000 AS t6
          FROM tf JOIN df USING (tok) JOIN dl USING (doc_id), st)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
               CAST(SUM(CAST(t6 AS DECIMAL(18,6))) AS DOUBLE) AS score
        FROM t GROUP BY 1""")),

    // ── column-level diff summary (Reconcile.columnStats): which columns
    //    drifted between two keyed copies and by how much — clean buckets
    //    counted as matches arithmetically, only dirty buckets re-joined ──
    Q("q203_column_diff",
      (s, d) => {
        val a = Tables.events(s, d).select("event_id", "user_id", "value")
        val m = pmod(col("event_id"), lit(13))
        val b = a.filter(m === 0).withColumn("value", col("value") + 1.0)
          .unionByName(a.filter(m === 1)
            .withColumn("user_id", col("user_id") + 1L))
          .unionByName(a.filter(m >= 3))
          .unionByName(a.filter(m === 3)
            .withColumn("event_id", col("event_id") + 500000000L))
        Reconcile.columnStats(a, b, Seq("event_id"), nBuckets = 1 << 10)
      },
      Some("""
        WITH a AS (SELECT event_id, user_id, value FROM events),
        b AS (
          SELECT event_id, user_id, value + 1.0 AS value FROM events
          WHERE event_id % 13 = 0
          UNION ALL
          SELECT event_id, user_id + 1, value FROM events WHERE event_id % 13 = 1
          UNION ALL
          SELECT event_id, user_id, value FROM events WHERE event_id % 13 >= 3
          UNION ALL
          SELECT event_id + 500000000, user_id, value FROM events
          WHERE event_id % 13 = 3),
        j AS (SELECT a.event_id AS ak, b.event_id AS bk,
                a.user_id AS au, b.user_id AS bu, a.value AS av, b.value AS bv
              FROM a FULL OUTER JOIN b ON a.event_id = b.event_id),
        s AS (SELECT
            CAST(COUNT(*) FILTER (ak IS NOT NULL AND bk IS NOT NULL) AS BIGINT) AS n_common,
            CAST(COUNT(*) FILTER (ak IS NOT NULL AND bk IS NULL) AS BIGINT) AS n_only_a,
            CAST(COUNT(*) FILTER (ak IS NULL AND bk IS NOT NULL) AS BIGINT) AS n_only_b,
            CAST(COUNT(*) FILTER (ak IS NOT NULL AND bk IS NOT NULL
                 AND au IS DISTINCT FROM bu) AS BIGINT) AS d_user,
            CAST(COUNT(*) FILTER (ak IS NOT NULL AND bk IS NOT NULL
                 AND av IS DISTINCT FROM bv) AS BIGINT) AS d_value
          FROM j)
        SELECT 'user_id' AS column_name, n_common, n_common - d_user AS n_match,
               d_user AS n_differs, n_only_a, n_only_b,
               ROUND(CAST(n_common - d_user AS DOUBLE) / CAST(n_common AS DOUBLE), 6) AS match_rate
        FROM s
        UNION ALL
        SELECT 'value', n_common, n_common - d_value, d_value, n_only_a, n_only_b,
               ROUND(CAST(n_common - d_value AS DOUBLE) / CAST(n_common AS DOUBLE), 6)
        FROM s""")),

    // ── dbt-snapshot `timestamp` strategy (Scd2Merge.applyTimestamp):
    //    updated_at is the whole change signal — same-value rows with a
    //    newer ts DO version, stale arrivals are dropped ──
    Q("q204_scd2_timestamp",
      (s, d) => {
        val c = Tables.customer(s, d).select("c_custkey", "c_name", "c_acctbal")
        val m = pmod(col("c_custkey"), lit(5))
        val t1 = lit("2024-01-01 00:00:00").cast("timestamp")
        val t2 = lit("2024-02-01 00:00:00").cast("timestamp")
        val t0 = lit("2023-12-01 00:00:00").cast("timestamp")
        val b1 = c.withColumn("updated_at", t1)
        val b2 = c.filter(m === 0)
          .withColumn("c_acctbal", col("c_acctbal") + 10.0)
          .withColumn("updated_at", t2)
          .unionByName(c.filter(m === 1).withColumn("updated_at", t2))
          .unionByName(c.filter(m === 2)
            .withColumn("c_acctbal", col("c_acctbal") + 99.0)
            .withColumn("updated_at", t0))
        val s1 = Scd2Merge.applyTimestamp(Scd2Merge.emptySnapshot(b1), b1,
          Seq("c_custkey"), "updated_at")
        Scd2Merge.applyTimestamp(s1, b2, Seq("c_custkey"), "updated_at")
      },
      Some("""
        WITH c AS (SELECT c_custkey, c_name, c_acctbal FROM customer)
        SELECT c_custkey, c_name, c_acctbal,
               TIMESTAMP '2024-01-01 00:00:00' AS updated_at,
               TIMESTAMP '2024-01-01 00:00:00' AS effective_from,
               TIMESTAMP '2024-02-01 00:00:00' AS effective_to
        FROM c WHERE c_custkey % 5 IN (0, 1)
        UNION ALL
        SELECT c_custkey, c_name, c_acctbal,
               TIMESTAMP '2024-01-01 00:00:00',
               TIMESTAMP '2024-01-01 00:00:00', CAST(NULL AS TIMESTAMP)
        FROM c WHERE c_custkey % 5 NOT IN (0, 1)
        UNION ALL
        SELECT c_custkey, c_name, c_acctbal + 10.0,
               TIMESTAMP '2024-02-01 00:00:00',
               TIMESTAMP '2024-02-01 00:00:00', CAST(NULL AS TIMESTAMP)
        FROM c WHERE c_custkey % 5 = 0
        UNION ALL
        SELECT c_custkey, c_name, c_acctbal,
               TIMESTAMP '2024-02-01 00:00:00',
               TIMESTAMP '2024-02-01 00:00:00', CAST(NULL AS TIMESTAMP)
        FROM c WHERE c_custkey % 5 = 1""")),

    // ── per-node triangle counts on the near-dup graph (GraphOps
    //    .triangles): degree-oriented compact-forward — template CLIQUES
    //    light up where pageRank's hubs can also be stars ──
    Q("q205_triangles",
      (s, d) => {
        val pairs = Dedup.ngramJaccard(Tables.documents(s, d), "doc_id", "text",
          k = 3, threshold = 0.2)
        operators.GraphOps.triangles(pairs, "id_a", "id_b")
          .select(col("id").as("doc_id"), col("n_triangles"))
      },
      Some("""
        WITH t AS (SELECT doc_id,
            list_distinct(list_transform(
              range(1, len(string_split_regex(lower(trim(text)), '\s+')) - 1),
              i -> concat_ws(' ',
                string_split_regex(lower(trim(text)), '\s+')[i],
                string_split_regex(lower(trim(text)), '\s+')[i+1],
                string_split_regex(lower(trim(text)), '\s+')[i+2]))) AS sh
          FROM documents),
        docs AS (SELECT doc_id, sh, len(sh) AS n_sh FROM t WHERE len(sh) > 0),
        inv AS (SELECT doc_id, n_sh, unnest(sh) AS s FROM docs),
        prs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 a.n_sh AS n_a, b.n_sh AS n_b,
                 CAST(COUNT(*) AS BIGINT) AS n_shared
          FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2, 3, 4
          HAVING CAST(n_shared AS DOUBLE) / (n_a + n_b - n_shared) >= 0.2),
        und AS (SELECT id_a AS lo, id_b AS hi FROM prs),
        deg AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS deg FROM
          (SELECT lo AS id FROM und UNION ALL SELECT hi FROM und) GROUP BY 1),
        o AS (SELECT
            CASE WHEN (da.deg, u.lo) < (db.deg, u.hi) THEN u.lo ELSE u.hi END AS src,
            CASE WHEN (da.deg, u.lo) < (db.deg, u.hi) THEN u.hi ELSE u.lo END AS dst,
            CASE WHEN (da.deg, u.lo) < (db.deg, u.hi) THEN db.deg ELSE da.deg END AS d_dst
          FROM und u JOIN deg da ON u.lo = da.id JOIN deg db ON u.hi = db.id),
        wdg AS (SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
                FROM o e1 JOIN o e2 ON e1.src = e2.src
                WHERE (e1.d_dst, e1.dst) < (e2.d_dst, e2.dst)),
        tri AS (SELECT u, v, w FROM wdg
                JOIN o ON o.src = wdg.v AND o.dst = wdg.w)
        SELECT id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM
          (SELECT u AS id FROM tri UNION ALL SELECT v FROM tri
           UNION ALL SELECT w FROM tri)
        GROUP BY 1""")),

    // ── l-diversity audit (Quality.lDiversity): k-anonymity's companion —
    //    large groups still leak when every member shares one sensitive
    //    value; one distinct-count hash agg per quasi group ──
    Q("q206_l_diversity",
      (s, d) => Quality.lDiversity(
        Tables.customer(s, d).withColumn("bal_band",
          floor(col("c_acctbal") / 1000.0).cast("long")),
        Seq("c_nationkey", "c_mktsegment"), "bal_band", l = 3)
        .select("c_nationkey", "c_mktsegment", "group_n", "n_sensitive",
          "diverse"),
      Some("""
        WITH t AS (SELECT c_nationkey, c_mktsegment,
            CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bal_band
          FROM customer)
        SELECT c_nationkey, c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS group_n,
               CAST(COUNT(DISTINCT bal_band) AS BIGINT) AS n_sensitive,
               COUNT(DISTINCT bal_band) >= 3 AS diverse
        FROM t GROUP BY 1, 2""")),

    // ── top event-sequence paths (Marts.topPaths): each user's first 8
    //    events as a '>' path, counted, top-20 with a total-order
    //    tie-break; WindowGroupLimit truncates per user map-side ──
    Q("q207_top_paths",
      (s, d) => Marts.topPaths(Tables.events(s, d),
        "user_id", "ts", "event_id", "event_type", maxLen = 8, k = 20),
      Some("""
        WITH r AS (SELECT user_id, event_type,
            row_number() OVER (PARTITION BY user_id
              ORDER BY ts ASC, event_id ASC) AS rn
          FROM events),
        p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
              FROM r WHERE rn <= 8 GROUP BY 1),
        c AS (SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users
              FROM p GROUP BY 1)
        SELECT path, n_users FROM c
        ORDER BY n_users DESC, path ASC LIMIT 20""")),

    // ── corpus-frequency line removal (Dedup.lineDedup): the C4/CCNet
    //    boilerplate pass — lines in > maxDocFreq distinct docs struck
    //    from every doc, short lines exempt; span surgery, not doc drops ──
    Q("q208_line_dedup",
      (s, d) => {
        val docs = Tables.documents(s, d).select(col("doc_id"),
          concat_ws("\n", col("text"),
            when(pmod(col("doc_id"), lit(2)) === 0,
              lit("subscribe to our newsletter today"))
              .otherwise(concat(lit("unique tail "), col("doc_id"))),
            lit("copyright footer all rights reserved")).as("text"))
        Dedup.lineDedup(docs, "doc_id", "text", maxDocFreq = 10,
          minLineChars = 5)
      },
      Some("""
        WITH d0 AS (SELECT doc_id,
            text || chr(10) ||
            CASE WHEN doc_id % 2 = 0 THEN 'subscribe to our newsletter today'
                 ELSE 'unique tail ' || doc_id END || chr(10) ||
            'copyright footer all rights reserved' AS text
          FROM documents),
        t AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM d0),
        l AS (SELECT doc_id, unnest(ls) AS line,
                     unnest(range(1, len(ls) + 1)) AS pos FROM t),
        f AS (SELECT line FROM (
                SELECT line, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
                FROM l WHERE length(trim(line)) >= 5 GROUP BY 1)
              WHERE df > 10),
        k AS (SELECT doc_id, line, pos FROM l
              WHERE line NOT IN (SELECT line FROM f)),
        r AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text,
                     CAST(COUNT(*) AS BIGINT) AS n_kept
              FROM k GROUP BY 1)
        SELECT d0.doc_id,
               COALESCE(r.clean_text, '') AS clean_text,
               CAST(len(string_split(d0.text, chr(10))) AS BIGINT)
                 - COALESCE(r.n_kept, 0) AS n_removed
        FROM d0 LEFT JOIN r ON d0.doc_id = r.doc_id""")),

    // ── position-based (U-shaped) attribution (Marts
    //    .positionAttribution): 40/20/40 credit with exact degenerate
    //    cases; same join shape as q165, plus the (ts, id) order rank ──
    Q("q209_position_attribution",
      (s, d) => Marts.positionAttribution(Tables.events(s, d),
        "user_id", "ts", "event_id", "event_type",
        touchType = "click", convType = "purchase",
        windowSec = 3L * 24 * 3600, endPct = 40),
      Some("""
        WITH conv AS (SELECT user_id, event_id AS conv_id,
            epoch_us(ts) AS cus FROM events WHERE event_type = 'purchase'),
        tch AS (SELECT user_id, event_id AS touch_id,
            epoch_us(ts) AS tus FROM events WHERE event_type = 'click'),
        j AS (SELECT c.user_id, conv_id, touch_id, tus
          FROM conv c JOIN tch t ON c.user_id = t.user_id
          WHERE tus <= cus AND tus >= cus - 259200000000),
        r AS (SELECT user_id, conv_id, touch_id,
            CAST(COUNT(*) OVER (PARTITION BY conv_id) AS BIGINT) AS n_touches,
            CAST(row_number() OVER (PARTITION BY conv_id
              ORDER BY tus ASC, touch_id ASC) AS BIGINT) AS pos
          FROM j)
        SELECT user_id, conv_id, touch_id, n_touches, pos,
          ROUND(CASE WHEN n_touches = 1 THEN CAST(1.0 AS DOUBLE)
                     WHEN n_touches = 2 THEN CAST(0.5 AS DOUBLE)
                     WHEN pos = 1 OR pos = n_touches THEN CAST(0.4 AS DOUBLE)
                     ELSE CAST(0.2 AS DOUBLE) / CAST(n_touches - 2 AS DOUBLE)
                END, 6) AS credit
        FROM r""")),

    // ── truncated half-life smoothing of daily volume (Quality
    //    .ewmaDaily): dyadic weights via bit shift → bit-exact sums in
    //    any order; gaps excluded by present-weight normalization ──
    Q("q210_ewma",
      (s, d) => Quality.ewmaDaily(Tables.events(s, d), "event_type", "ts",
        lookback = 10, halfLifeDays = 2),
      Some("""
        WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
            CAST(COUNT(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2),
        j AS (SELECT d.event_type, d.day, d.n, p.n AS pn,
                1.0 / CAST(CAST(1 AS BIGINT)
                  << CAST(FLOOR(date_diff('day', p.day, d.day) / 2)
                          AS INTEGER) AS DOUBLE) AS w
              FROM daily d JOIN daily p ON d.event_type = p.event_type
                AND p.day <= d.day AND p.day >= d.day - 9)
        SELECT event_type, day, n,
               ROUND(SUM(w * CAST(pn AS DOUBLE)) / SUM(w), 6) AS ewma
        FROM j GROUP BY 1, 2, 3""")),

    // ── conformed calendar spine + gap-filled daily series (Marts
    //    .dateSpine / .gapFillDaily): calendar attrs by arithmetic (ISO
    //    dow anchored to a known Monday), absent days read 0 ──
    Q("q211_date_spine",
      (s, d) => Marts.gapFillDaily(s, Tables.events(s, d), "ts",
        "2024-01-01", "2024-03-31"),
      Some("""
        WITH spine AS (
          SELECT CAST(unnest(generate_series(DATE '2024-01-01',
            DATE '2024-03-31', INTERVAL 1 DAY)) AS DATE) AS day),
        cal AS (SELECT day,
            CAST(year(day) AS INTEGER) AS year,
            CAST(quarter(day) AS INTEGER) AS quarter,
            CAST(month(day) AS INTEGER) AS month,
            CAST(dayofmonth(day) AS INTEGER) AS day_of_month,
            CAST(((date_diff('day', DATE '2024-01-01', day) % 7 + 7) % 7)
                 + 1 AS INTEGER) AS iso_dow
          FROM spine),
        cal2 AS (SELECT *,
            day - CAST(iso_dow - 1 AS INTEGER) AS week_start,
            iso_dow >= 6 AS is_weekend,
            day = last_day(day) AS is_month_end
          FROM cal),
        daily AS (SELECT CAST(ts AS DATE) AS day,
            CAST(COUNT(*) AS BIGINT) AS n
          FROM events GROUP BY 1)
        SELECT cal2.*, COALESCE(daily.n, 0) AS n_rows
        FROM cal2 LEFT JOIN daily ON cal2.day = daily.day""")),

    // ── schema-evolution union (sources.SchemaEvolution): three epochs
    //    of a drifting schema read as one frame — by-name alignment,
    //    typed nulls for absent columns, numeric widening, loud failure
    //    on incompatible drift ──
    Q("q212_schema_evolution",
      (s, d) => {
        val ev = Tables.events(s, d)
        val m = pmod(col("event_id"), lit(3))
        val v1 = ev.filter(m === 0).select(col("event_id"),
          col("user_id").cast("int").as("user_id"),
          col("value").cast("float").as("value"))
        val v2 = ev.filter(m === 1).select(col("event_id"), col("user_id"),
          col("value"), col("event_type"))
        val v3 = ev.filter(m === 2).select(col("event_id"), col("value"),
          col("props"))
        graft.sources.SchemaEvolution.unionEvolved(Seq(v1, v2, v3))
      },
      Some("""
        SELECT event_id, CAST(user_id AS BIGINT) AS user_id,
               CAST(CAST(value AS REAL) AS DOUBLE) AS value,
               CAST(NULL AS VARCHAR) AS event_type,
               CAST(NULL AS VARCHAR) AS props
        FROM events WHERE event_id % 3 = 0
        UNION ALL
        SELECT event_id, user_id, value, event_type, CAST(NULL AS VARCHAR)
        FROM events WHERE event_id % 3 = 1
        UNION ALL
        SELECT event_id, CAST(NULL AS BIGINT), value,
               CAST(NULL AS VARCHAR), props
        FROM events WHERE event_id % 3 = 2""")),

    // ── merge overlapping validity intervals per key (RangeJoin
    //    .mergeIntervals): gaps-and-islands, one key shuffle serving
    //    both windows and the final agg; tie-order invariant ──
    Q("q213_interval_merge",
      (s, d) => {
        val iv = Tables.orders(s, d).select(col("o_custkey"),
          to_date(col("o_orderdate")).as("lo"),
          date_add(to_date(col("o_orderdate")),
            (pmod(col("o_orderkey"), lit(5)) + 1).cast("int")).as("hi"))
        operators.RangeJoin.mergeIntervals(iv, Seq("o_custkey"), "lo", "hi")
      },
      Some("""
        WITH iv AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS lo,
            CAST(o_orderdate AS DATE)
              + CAST(o_orderkey % 5 + 1 AS INTEGER) AS hi
          FROM orders),
        m AS (SELECT o_custkey, lo, hi,
            MAX(hi) OVER (PARTITION BY o_custkey ORDER BY lo ASC, hi ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
          FROM iv),
        i AS (SELECT o_custkey, lo, hi,
            SUM(CASE WHEN pm IS NULL OR lo > pm THEN 1 ELSE 0 END)
              OVER (PARTITION BY o_custkey ORDER BY lo ASC, hi ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
          FROM m)
        SELECT o_custkey, MIN(lo) AS merged_lo, MAX(hi) AS merged_hi,
               CAST(COUNT(*) AS BIGINT) AS n_merged
        FROM i GROUP BY o_custkey, island""")),

    // ── robust per-group feature scaling (TextAnalysis.robustScale):
    //    (v − median)/IQR with type-1 exact quartiles; constant groups
    //    scale to null, not ±∞ ──
    Q("q214_robust_scale",
      (s, d) => TextAnalysis.robustScale(
        Tables.events(s, d).select("event_id", "event_type", "value"),
        "value", "event_type")
        .select("event_id", "event_type", "value", "scaled"),
      Some("""
        WITH c AS (SELECT event_type, value, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        cum AS (SELECT event_type, value,
            CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY value ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cm
          FROM c),
        t AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM events
              WHERE value IS NOT NULL GROUP BY 1),
        p AS (SELECT CAST(pct AS INTEGER) AS pct
              FROM (VALUES (25), (50), (75)) AS v(pct)),
        q AS (SELECT cum.event_type, p.pct, MIN(value) AS qv
              FROM cum JOIN t USING (event_type) CROSS JOIN p
              WHERE cm * 100 >= p.pct * n GROUP BY 1, 2),
        wide AS (SELECT event_type,
            MAX(CASE WHEN pct = 25 THEN qv END) AS p25,
            MAX(CASE WHEN pct = 50 THEN qv END) AS p50,
            MAX(CASE WHEN pct = 75 THEN qv END) AS p75
          FROM q GROUP BY 1)
        SELECT e.event_id, e.event_type, e.value,
          CASE WHEN p75 > p25
               THEN ROUND((e.value - p50) / (p75 - p25), 6) END AS scaled
        FROM events e LEFT JOIN wide USING (event_type)""")),

    // ── pairwise Pearson correlation matrix (Quality.corrMatrix): one
    //    full-scan agg of decimal moments, one explode — the
    //    multicollinearity profiler, engine-exact by construction ──
    Q("q215_corr_matrix",
      (s, d) => Quality.corrMatrix(Tables.lineitem(s, d),
        Seq("l_quantity", "l_extendedprice", "l_discount")),
      Some("""
        WITH m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
            SUM(CAST(l_quantity AS DECIMAL(28,6))) AS s_q,
            SUM(CAST(l_quantity AS DECIMAL(28,6))
                * CAST(l_quantity AS DECIMAL(28,6))) AS ss_q,
            SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS s_e,
            SUM(CAST(l_extendedprice AS DECIMAL(28,6))
                * CAST(l_extendedprice AS DECIMAL(28,6))) AS ss_e,
            SUM(CAST(l_discount AS DECIMAL(28,6))) AS s_d,
            SUM(CAST(l_discount AS DECIMAL(28,6))
                * CAST(l_discount AS DECIMAL(28,6))) AS ss_d,
            SUM(CAST(l_quantity AS DECIMAL(28,6))
                * CAST(l_extendedprice AS DECIMAL(28,6))) AS sp_qe,
            SUM(CAST(l_quantity AS DECIMAL(28,6))
                * CAST(l_discount AS DECIMAL(28,6))) AS sp_qd,
            SUM(CAST(l_extendedprice AS DECIMAL(28,6))
                * CAST(l_discount AS DECIMAL(28,6))) AS sp_ed
          FROM lineitem
          WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
            AND l_discount IS NOT NULL),
        e AS (SELECT n, CAST(n AS DOUBLE) AS nd,
            CAST(s_q AS DOUBLE) AS dsq, CAST(ss_q AS DOUBLE) AS dssq,
            CAST(s_e AS DOUBLE) AS dse, CAST(ss_e AS DOUBLE) AS dsse,
            CAST(s_d AS DOUBLE) AS dsd, CAST(ss_d AS DOUBLE) AS dssd,
            CAST(sp_qe AS DOUBLE) AS dqe, CAST(sp_qd AS DOUBLE) AS dqd,
            CAST(sp_ed AS DOUBLE) AS ded
          FROM m)
        SELECT 'l_quantity' AS col_x, 'l_extendedprice' AS col_y,
          n AS n_rows,
          CASE WHEN nd * dssq - dsq * dsq > 0 AND nd * dsse - dse * dse > 0
               THEN ROUND((nd * dqe - dsq * dse)
                 / (SQRT(nd * dssq - dsq * dsq)
                    * SQRT(nd * dsse - dse * dse)), 6) END AS corr
        FROM e
        UNION ALL
        SELECT 'l_quantity', 'l_discount', n,
          CASE WHEN nd * dssq - dsq * dsq > 0 AND nd * dssd - dsd * dsd > 0
               THEN ROUND((nd * dqd - dsq * dsd)
                 / (SQRT(nd * dssq - dsq * dsq)
                    * SQRT(nd * dssd - dsd * dsd)), 6) END
        FROM e
        UNION ALL
        SELECT 'l_extendedprice', 'l_discount', n,
          CASE WHEN nd * dsse - dse * dse > 0 AND nd * dssd - dsd * dsd > 0
               THEN ROUND((nd * ded - dse * dsd)
                 / (SQRT(nd * dsse - dse * dse)
                    * SQRT(nd * dssd - dsd * dsd)), 6) END
        FROM e""")),

    // ── survivorship golden record (Linkage.goldenRecord): per-COLUMN
    //    latest-non-null beats whole-record latest-wins — the MDM step
    //    after entity resolution ──
    Q("q216_golden_record",
      (s, d) => {
        val ev = Tables.events(s, d).select(col("user_id"), col("event_id"),
          col("ts"), col("event_type"),
          when(pmod(col("event_id"), lit(3)) === 0, lit(null))
            .otherwise(col("value")).as("value"))
        operators.Linkage.goldenRecord(ev, "user_id",
          Seq("ts", "event_id"), Seq("value", "event_type"))
      },
      Some("""
        WITH ev AS (SELECT user_id, event_id, ts, event_type,
            CASE WHEN event_id % 3 = 0 THEN NULL ELSE value END AS value
          FROM events),
        f AS (SELECT user_id,
            CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_records,
            first_value(value IGNORE NULLS) OVER (PARTITION BY user_id
              ORDER BY ts DESC, event_id DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
              AS golden_value,
            first_value(event_type IGNORE NULLS) OVER (PARTITION BY user_id
              ORDER BY ts DESC, event_id DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
              AS golden_event_type,
            row_number() OVER (PARTITION BY user_id
              ORDER BY ts DESC, event_id DESC) AS rn
          FROM ev)
        SELECT user_id, n_records, golden_value, golden_event_type
        FROM f WHERE rn = 1""")),

    // ── functional-dependency violation audit (Quality.fdViolations):
    //    determinants mapping to >1 distinct dependent value ──
    Q("q217_fd_violations",
      (s, d) => Quality.fdViolations(Tables.orders(s, d),
        Seq("o_custkey"), "o_orderstatus"),
      Some("""
        SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_distinct
        FROM orders GROUP BY 1
        HAVING COUNT(DISTINCT o_orderstatus) > 1""")),

    // ── ledger-continuity audit (Quality.sequenceGaps): missing ranges
    //    in a per-key monotone sequence, one lag window ──
    Q("q218_sequence_gaps",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("event_id").asc)
        val ledger = Tables.events(s, d)
          .withColumn("seq", row_number().over(w).cast("long"))
          .filter(pmod(col("seq"), lit(7)) =!= 0)
        Quality.sequenceGaps(ledger, Seq("user_id"), "seq")
      },
      Some("""
        WITH led AS (SELECT user_id,
            CAST(row_number() OVER (PARTITION BY user_id
              ORDER BY ts ASC, event_id ASC) AS BIGINT) AS seq
          FROM events),
        k AS (SELECT user_id, seq FROM led WHERE seq % 7 <> 0),
        l AS (SELECT user_id, seq,
            lag(seq, 1) OVER (PARTITION BY user_id ORDER BY seq ASC) AS prev
          FROM k)
        SELECT user_id, prev + 1 AS gap_start, seq - 1 AS gap_end,
               seq - prev - 1 AS n_missing
        FROM l WHERE seq - prev > 1""")),

    // ── LOCF daily position series (Marts.locfDaily): sparse events →
    //    dense per-day carried-forward values; "no balance yet" stays
    //    null, not 0 ──
    Q("q219_locf",
      (s, d) => Marts.locfDaily(s,
        Tables.events(s, d).filter(pmod(col("user_id"), lit(50)) === 0),
        "user_id", "ts", "event_id", "value", "2024-01-01", "2024-01-30"),
      Some("""
        WITH k AS (SELECT DISTINCT user_id FROM events WHERE user_id % 50 = 0),
        spine AS (SELECT CAST(unnest(generate_series(DATE '2024-01-01',
            DATE '2024-01-30', INTERVAL 1 DAY)) AS DATE) AS day),
        grid AS (SELECT user_id, day FROM k CROSS JOIN spine),
        r AS (SELECT user_id, CAST(ts AS DATE) AS day, value,
            row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
              ORDER BY ts DESC, event_id DESC) AS rn
          FROM events WHERE user_id % 50 = 0),
        daily AS (SELECT user_id, day, value AS obs FROM r WHERE rn = 1),
        g AS (SELECT grid.user_id, grid.day, daily.obs
              FROM grid LEFT JOIN daily
                ON grid.user_id = daily.user_id AND grid.day = daily.day)
        SELECT user_id, day, obs IS NOT NULL AS observed,
          last_value(obs IGNORE NULLS) OVER (PARTITION BY user_id
            ORDER BY day ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled
        FROM g""")),

    // ── COUNT(DISTINCT) → HLL++ acceleration rule (plans
    //    .ApproxDistinctRewrite): per-query opt-in, deterministic sketch,
    //    no oracle (DuckDB's approx_count_distinct is a different
    //    algorithm) — equivalence/error bounds are spec-pinned ──
    // the HLL estimate itself has no SQL oracle, but its ERROR BOUND
    // does: the accelerated plan's estimate joins the exact
    // COUNT(DISTINCT) and the query emits `within_bound` — the oracle
    // pins it TRUE per group (alongside the exact counts), so an
    // estimator drifting past 3·rsd becomes a CORRECTNESS failure, not
    // a spec-only assertion. (That the rewrite actually fires is
    // ApproxDistinctRuleSpec's plan guard.)
    Q("q220_accel_distinct",
      (s, d) => {
        val rsd = 0.05
        val approx = graft.plans.ApproxDistinctRewrite.accelerate(
          Tables.events(s, d).groupBy(col("event_type"))
            .agg(countDistinct(col("user_id")).as("n_users_approx"),
              count(lit(1)).as("n_events")),
          rsd = rsd)
        val exact = Tables.events(s, d).groupBy(col("event_type"))
          .agg(countDistinct(col("user_id")).as("n_users_exact"))
        approx.join(exact, Seq("event_type"))
          .select(col("event_type"), col("n_events"), col("n_users_exact"),
            (abs(col("n_users_approx") - col("n_users_exact")).cast("double")
              <= lit(3.0 * rsd) * col("n_users_exact").cast("double"))
              .as("within_bound"))
      },
      Some("""
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_exact,
               TRUE AS within_bound
        FROM events GROUP BY 1""")),

    // ── band join through the range-join REWRITE RULE (plans
    //    .RangeJoinRewrite.accelerate): the user writes a plain BETWEEN
    //    join, the rule rewrites it to the bucketed equi-join — exact,
    //    so oracle-checked; the plan guard lives in RangeJoinRuleSpec ──
    Q("q221_rule_range_join",
      (s, d) => {
        val pts = Tables.events(s, d).select(col("event_id"), col("value"))
        val iv = Tables.customer(s, d).select(col("c_custkey"),
          col("c_acctbal").as("lo"), (col("c_acctbal") + 20.0).as("hi"))
        graft.plans.RangeJoinRewrite.accelerate(
          pts.join(iv, col("value") >= col("lo") && col("value") <= col("hi")),
          width = 20.0)
          .groupBy(col("c_custkey"))
          .agg(count(lit(1)).as("n_points"),
            sumMoney(col("value")).as("total_value"))
      },
      Some("""
        SELECT c_custkey, CAST(COUNT(*) AS BIGINT) AS n_points,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        FROM events e JOIN customer c
          ON e.value >= c.c_acctbal AND e.value <= c.c_acctbal + 20.0
        GROUP BY 1""")),

    // ── arbitrary GROUPING SETS with grouping markers (§2.5 breadth
    //    beyond rollup/cube): the SQL surface form, markers disambiguate
    //    aggregate nulls from data nulls ──
    Q("q222_grouping_sets",
      (s, d) => {
        Tables.registerAll(s, d)
        s.sql("""
          SELECT o_orderstatus, o_orderpriority,
                 CAST(grouping(o_orderstatus) AS INT) AS g_status,
                 CAST(grouping(o_orderpriority) AS INT) AS g_priority,
                 CAST(COUNT(*) AS BIGINT) AS n_orders,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_price
          FROM orders
          GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
            (o_orderstatus, o_orderpriority), ())""")
      },
      Some("""
        SELECT o_orderstatus, o_orderpriority,
               CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
               CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
          (o_orderstatus, o_orderpriority), ())""")),

    // ── streaming ledger-gap monitor (streaming.GapStream): q218's
    //    audit folded per batch into RUN-SIZED interval state; 3-batch
    //    fold ≡ the batch audit, which the oracle states directly ──
    Q("q223_gap_monitor",
      (s, d) => {
        val st = Scratch.dir("q223-gap") + "/s"
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("event_id").asc)
        val ledger = Tables.events(s, d)
          .withColumn("seq", row_number().over(w).cast("long"))
          .filter(pmod(col("seq"), lit(7)) =!= 0)
        (0 to 2).foreach(i => graft.streaming.GapStream.foldBatch(s,
          ledger.filter(pmod(col("user_id"), lit(3)) === i), st,
          Seq("user_id"), "seq", batchId = i.toLong))
        graft.streaming.GapStream.readout(s, st, Seq("user_id"))
      },
      Some("""
        WITH led AS (SELECT user_id,
            CAST(row_number() OVER (PARTITION BY user_id
              ORDER BY ts ASC, event_id ASC) AS BIGINT) AS seq
          FROM events),
        k AS (SELECT user_id, seq FROM led WHERE seq % 7 <> 0),
        l AS (SELECT user_id, seq,
            lag(seq, 1) OVER (PARTITION BY user_id ORDER BY seq ASC) AS prev
          FROM k)
        SELECT user_id, prev + 1 AS gap_start, seq - 1 AS gap_end,
               seq - prev - 1 AS n_missing
        FROM l WHERE seq - prev > 1""")),

    // ── hierarchy flattening (GraphOps.ancestors): transitive ancestor
    //    closure by pointer DOUBLING — log₂(depth) self-joins, the
    //    roll-up-to-any-level dimension explode ──
    Q("q224_hierarchy",
      (s, d) => {
        val e = Tables.customer(s, d)
          .filter(col("c_custkey") >= 2)
          .select(col("c_custkey").as("child"),
            expr("c_custkey DIV 2").as("parent"))
        operators.GraphOps.ancestors(e, "child", "parent", maxDepth = 16)
      },
      Some("""
        WITH RECURSIVE e AS (
          SELECT c_custkey AS child, c_custkey // 2 AS parent
          FROM customer WHERE c_custkey >= 2),
        anc AS (
          SELECT child AS node, parent AS ancestor, CAST(1 AS BIGINT) AS dist
          FROM e
          UNION ALL
          SELECT anc.node, e.parent, anc.dist + 1
          FROM anc JOIN e ON anc.ancestor = e.child
          WHERE anc.dist < 16)
        SELECT node, ancestor, dist FROM anc""")),

    // ── quantile normalization (TextAnalysis.quantileNormalize): each
    //    source's score distribution mapped onto the pooled one — the
    //    batch-effect corrector; histogram-sized walk, corpus never
    //    shuffles ──
    Q("q225_quantile_normalize",
      (s, d) => TextAnalysis.quantileNormalize(
        Tables.events(s, d).select("event_type", "value"),
        "value", "event_type"),
      Some("""
        WITH base AS (SELECT event_type, value FROM events
                      WHERE value IS NOT NULL),
        g AS (SELECT event_type, value, CAST(COUNT(*) AS BIGINT) AS c
              FROM base GROUP BY 1, 2),
        gt AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
               FROM base GROUP BY 1),
        ge AS (SELECT g.event_type, g.value,
            FLOOR((CAST(SUM(c) OVER (PARTITION BY g.event_type
                ORDER BY g.value ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
              / CAST(n AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS prob
          FROM g JOIN gt ON g.event_type = gt.event_type),
        p AS (SELECT value, CAST(COUNT(*) AS BIGINT) AS c
              FROM base GROUP BY 1),
        pt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM base),
        pe AS (SELECT value AS x,
            FLOOR((CAST(SUM(c) OVER (ORDER BY value ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
              / CAST(n AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS prob
          FROM p, pt),
        u AS (
          SELECT event_type, value, prob, CAST(NULL AS DOUBLE) AS x,
                 0 AS pooled
          FROM ge
          UNION ALL
          SELECT CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE), prob, x, 1
          FROM pe),
        w AS (SELECT *, first_value(x IGNORE NULLS) OVER (
                ORDER BY prob ASC, pooled ASC, x ASC NULLS FIRST
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
              AS normalized FROM u)
        SELECT event_type, value, normalized FROM w WHERE pooled = 0""")),

    // ── exact phrase matching over positional postings (TextAnalysis
    //    .phraseMatch): what bag-of-words BM25 can't say; k−1 postings
    //    joins, text never shuffles ──
    Q("q226_phrase_search",
      (s, d) => TextAnalysis.phraseMatch(Tables.documents(s, d),
        "doc_id", "text", Seq("batch", "batch")),
      Some("""
        WITH tk AS (SELECT doc_id,
            string_split_regex(lower(trim(text)), '\s+') AS ts
          FROM documents),
        l AS (SELECT doc_id, unnest(ts) AS tok,
                     unnest(range(1, len(ts) + 1)) AS pos FROM tk),
        f0 AS (SELECT doc_id, pos AS start FROM l WHERE tok = 'batch'),
        f1 AS (SELECT doc_id, pos - 1 AS start FROM l WHERE tok = 'batch'),
        m AS (SELECT f0.doc_id, f0.start
              FROM f0 JOIN f1 ON f0.doc_id = f1.doc_id
                AND f0.start = f1.start)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_occurrences
        FROM m GROUP BY 1""")),

    // ── per-group median imputation (TextAnalysis.imputeMedian):
    //    outlier-immune fill, originals flagged, all-null groups stay
    //    null ──
    Q("q227_impute",
      (s, d) => TextAnalysis.imputeMedian(
        Tables.events(s, d).select(col("event_id"), col("event_type"),
          when(pmod(col("event_id"), lit(5)) === 0, lit(null))
            .otherwise(col("value")).as("value")),
        "value", "event_type")
        .select("event_id", "event_type", "value", "was_null", "imputed"),
      Some("""
        WITH ev AS (SELECT event_id, event_type,
            CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS value
          FROM events),
        c AS (SELECT event_type, value, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM ev WHERE value IS NOT NULL GROUP BY 1, 2),
        cum AS (SELECT event_type, value,
            CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY value ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cm
          FROM c),
        t AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM ev
              WHERE value IS NOT NULL GROUP BY 1),
        med AS (SELECT cum.event_type, MIN(value) AS m
                FROM cum JOIN t USING (event_type)
                WHERE cm * 100 >= 50 * n GROUP BY 1)
        SELECT event_id, ev.event_type, ev.value,
               ev.value IS NULL AS was_null,
               COALESCE(ev.value, med.m) AS imputed
        FROM ev LEFT JOIN med ON ev.event_type = med.event_type""")),

    // ── two-sided CUSUM change-point alarm (Quality.cusumDaily): slow
    //    leaks the daily screens miss; integer running-extremum
    //    identity, engine-exact ──
    Q("q228_cusum",
      (s, d) => {
        val daily = Tables.events(s, d)
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).cast("long").as("n"))
        Quality.cusumDaily(daily, "event_type", "day", "n",
          target = 50L, h = 100L)
      },
      Some("""
        WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
            CAST(COUNT(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2),
        c AS (SELECT event_type, day, n,
            CAST(SUM(n - 50) OVER (PARTITION BY event_type ORDER BY day ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              AS cum
          FROM daily),
        e AS (SELECT event_type, day, n, cum,
            CAST(MIN(cum) OVER (PARTITION BY event_type ORDER BY day ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              AS mn,
            CAST(MAX(cum) OVER (PARTITION BY event_type ORDER BY day ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              AS mx
          FROM c)
        SELECT event_type, day, n,
               cum - LEAST(0, mn) AS s_pos,
               GREATEST(0, mx) - cum AS s_neg,
               (cum - LEAST(0, mn)) > 100 OR (GREATEST(0, mx) - cum) > 100
                 AS alarm
        FROM e""")),

    // ── supply-network revenue rollup: the Q9-flavored 4-way star over
    //    the LAST two unused tables (supplier, part) — fact shuffles
    //    once for the agg, all three dims broadcast ──
    Q("q229_supply_network",
      (s, d) => Tables.lineitem(s, d)
        .join(broadcast(Tables.supplier(s, d)),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.part(s, d)),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), col("p_brand"))
        .agg(count(lit(1)).as("n_items"),
          sum(dec6(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .cast("double").as("revenue"),
          sumMoney(col("l_quantity")).as("total_qty")),
      Some("""
        SELECT n_name, p_brand, CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                 AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                 AS total_qty
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN part ON l_partkey = p_partkey
        JOIN nation ON s_nationkey = n_nationkey
        GROUP BY 1, 2""")),

    // ── phrase search from the PERSISTED incremental index (SearchIndex
    //    .phraseSearch): q226's semantics served off positional postings
    //    folded in 3 batches — same oracle, text never read at query
    //    time ──
    Q("q230_index_phrase",
      (s, d) => {
        // SERVE-cost query: the index fixture builds once per sf
        // (Fixtures.search3 — q202 keeps the build path timed)
        val st = Fixtures.search3(s, d)
        operators.SearchIndex.phraseSearch(s, st, Seq("batch", "batch"))
      },
      Some("""
        WITH tk AS (SELECT doc_id,
            string_split_regex(lower(trim(text)), '\s+') AS ts
          FROM documents),
        l AS (SELECT doc_id, unnest(ts) AS tok,
                     unnest(range(1, len(ts) + 1)) AS pos FROM tk),
        f0 AS (SELECT doc_id, pos AS start FROM l WHERE tok = 'batch'),
        f1 AS (SELECT doc_id, pos - 1 AS start FROM l WHERE tok = 'batch'),
        m AS (SELECT f0.doc_id, f0.start
              FROM f0 JOIN f1 ON f0.doc_id = f1.doc_id
                AND f0.start = f1.start)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_occurrences
        FROM m GROUP BY 1""")),

    // ── streaming correlation monitor (streaming.MomentsStream):
    //    additive decimal moments folded per batch — readout EXACTLY the
    //    batch matrix, so it shares q215's oracle ──
    Q("q231_corr_monitor",
      (s, d) => {
        val st = Scratch.dir("q231-mom") + "/s"
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
        val li = Tables.lineitem(s, d)
        (0 to 2).foreach(i => graft.streaming.MomentsStream.foldBatch(s,
          li.filter(pmod(col("l_orderkey"), lit(3)) === i), st, cols,
          batchId = i.toLong))
        graft.streaming.MomentsStream.readout(s, st, cols)
      },
      Some("""
        WITH m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
            SUM(CAST(l_quantity AS DECIMAL(28,6))) AS s_q,
            SUM(CAST(l_quantity AS DECIMAL(28,6))
                * CAST(l_quantity AS DECIMAL(28,6))) AS ss_q,
            SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS s_e,
            SUM(CAST(l_extendedprice AS DECIMAL(28,6))
                * CAST(l_extendedprice AS DECIMAL(28,6))) AS ss_e,
            SUM(CAST(l_discount AS DECIMAL(28,6))) AS s_d,
            SUM(CAST(l_discount AS DECIMAL(28,6))
                * CAST(l_discount AS DECIMAL(28,6))) AS ss_d,
            SUM(CAST(l_quantity AS DECIMAL(28,6))
                * CAST(l_extendedprice AS DECIMAL(28,6))) AS sp_qe,
            SUM(CAST(l_quantity AS DECIMAL(28,6))
                * CAST(l_discount AS DECIMAL(28,6))) AS sp_qd,
            SUM(CAST(l_extendedprice AS DECIMAL(28,6))
                * CAST(l_discount AS DECIMAL(28,6))) AS sp_ed
          FROM lineitem
          WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
            AND l_discount IS NOT NULL),
        e AS (SELECT n, CAST(n AS DOUBLE) AS nd,
            CAST(s_q AS DOUBLE) AS dsq, CAST(ss_q AS DOUBLE) AS dssq,
            CAST(s_e AS DOUBLE) AS dse, CAST(ss_e AS DOUBLE) AS dsse,
            CAST(s_d AS DOUBLE) AS dsd, CAST(ss_d AS DOUBLE) AS dssd,
            CAST(sp_qe AS DOUBLE) AS dqe, CAST(sp_qd AS DOUBLE) AS dqd,
            CAST(sp_ed AS DOUBLE) AS ded
          FROM m)
        SELECT 'l_quantity' AS col_x, 'l_extendedprice' AS col_y,
          n AS n_rows,
          CASE WHEN nd * dssq - dsq * dsq > 0 AND nd * dsse - dse * dse > 0
               THEN ROUND((nd * dqe - dsq * dse)
                 / (SQRT(nd * dssq - dsq * dsq)
                    * SQRT(nd * dsse - dse * dse)), 6) END AS corr
        FROM e
        UNION ALL
        SELECT 'l_quantity', 'l_discount', n,
          CASE WHEN nd * dssq - dsq * dsq > 0 AND nd * dssd - dsd * dsd > 0
               THEN ROUND((nd * dqd - dsq * dsd)
                 / (SQRT(nd * dssq - dsq * dsq)
                    * SQRT(nd * dssd - dsd * dsd)), 6) END
        FROM e
        UNION ALL
        SELECT 'l_extendedprice', 'l_discount', n,
          CASE WHEN nd * dsse - dse * dse > 0 AND nd * dssd - dsd * dsd > 0
               THEN ROUND((nd * ded - dse * dsd)
                 / (SQRT(nd * dsse - dse * dse)
                    * SQRT(nd * dssd - dsd * dsd)), 6) END
        FROM e""")),

    // ── deterministic per-group mode (TextAnalysis.modeBy): (count
    //    desc, value asc) total order — engine-exact ties ──
    Q("q232_mode",
      (s, d) => TextAnalysis.modeBy(Tables.events(s, d),
        "event_type", "user_id"),
      Some("""
        WITH c AS (SELECT user_id, event_type,
            CAST(COUNT(*) AS BIGINT) AS n
          FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2),
        r AS (SELECT user_id, event_type, n,
            row_number() OVER (PARTITION BY user_id
              ORDER BY n DESC, event_type ASC) AS rn
          FROM c)
        SELECT user_id, event_type AS mode, n AS n_mode
        FROM r WHERE rn = 1""")),

    // ── weighted type-1 median (TextAnalysis.weightedMedian): the price
    //    at which half the QUANTITY trades; integer cumulative compare,
    //    no division ──
    Q("q233_weighted_median",
      (s, d) => TextAnalysis.weightedMedian(Tables.lineitem(s, d),
        "l_extendedprice", "l_quantity", "l_returnflag"),
      Some("""
        WITH base AS (SELECT l_returnflag, l_extendedprice,
            CAST(l_quantity AS BIGINT) AS w
          FROM lineitem
          WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
            AND CAST(l_quantity AS BIGINT) > 0),
        t AS (SELECT l_returnflag, CAST(SUM(w) AS BIGINT) AS tot
              FROM base GROUP BY 1),
        c AS (SELECT l_returnflag, l_extendedprice,
            CAST(SUM(w) AS BIGINT) AS w
          FROM base GROUP BY 1, 2),
        cum AS (SELECT l_returnflag, l_extendedprice,
            CAST(SUM(w) OVER (PARTITION BY l_returnflag
              ORDER BY l_extendedprice ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              AS cm
          FROM c)
        SELECT cum.l_returnflag,
               MIN(l_extendedprice) AS weighted_median,
               MAX(tot) AS total_weight
        FROM cum JOIN t ON cum.l_returnflag = t.l_returnflag
        WHERE cm * 2 >= tot
        GROUP BY 1""")),

    // ── nearest-in-time join (Marts.nearestJoin): bidirectional ±band,
    //    band in the JOIN condition so matchless lefts survive; pinned
    //    tie order ──
    Q("q234_nearest_event",
      (s, d) => {
        val ev = Tables.events(s, d)
        Marts.nearestJoin(
          ev.filter(col("event_type") === "purchase"),
          ev.filter(col("event_type") === "click"),
          "user_id", "ts", "event_id", "ts", "event_id",
          tolSec = 24 * 3600L)
      },
      Some("""
        WITH l AS (SELECT user_id, event_id AS l_id, epoch_us(ts) AS lus
                   FROM events WHERE event_type = 'purchase'),
        r AS (SELECT user_id, event_id AS r_id, epoch_us(ts) AS rus
              FROM events WHERE event_type = 'click'),
        j AS (SELECT l.user_id, l_id, lus, r_id, rus
              FROM l LEFT JOIN r ON l.user_id = r.user_id
                AND ABS(rus - lus) <= 86400000000),
        k AS (SELECT user_id, l_id, r_id, rus - lus AS delta_us,
                row_number() OVER (PARTITION BY l_id
                  ORDER BY ABS(rus - lus) ASC NULLS LAST,
                    rus ASC NULLS LAST, r_id ASC NULLS LAST) AS rn
              FROM j)
        SELECT user_id, l_id, r_id, delta_us FROM k WHERE rn = 1""")),

    // ── §2.9 breadth: percent_rank / cume_dist / ntile under a total
    //    order — deterministic distribution ranks ──
    Q("q235_rank_surface",
      (s, d) => {
        val w = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
        Tables.orders(s, d).select(col("o_orderpriority"),
          col("o_orderkey"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cume"),
          ntile(4).over(w).as("quartile"))
      },
      Some("""
        SELECT o_orderpriority, o_orderkey,
               ROUND(percent_rank() OVER w, 6) AS pct_rank,
               ROUND(cume_dist() OVER w, 6) AS cume,
               CAST(ntile(4) OVER w AS INTEGER) AS quartile
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority
          ORDER BY o_totalprice ASC, o_orderkey ASC)""")),

    // ── daily column-health profile: the observability TIME SERIES the
    //    static q127 profile can't give — null-rate spikes and
    //    distinct-count collapses localized to their day ──
    Q("q236_profile_daily",
      (s, d) => Tables.events(s, d)
        .select(to_date(col("ts")).as("day"), col("user_id"),
          when(pmod(col("event_id"), lit(5)) === 0, lit(null))
            .otherwise(col("value")).as("value"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("user_id")).as("n_users"),
          round(avg(col("value").isNull.cast("double")), 6).as("null_rate"),
          countDistinct(col("value")).as("n_distinct_values")),
      Some("""
        WITH t AS (SELECT CAST(ts AS DATE) AS day, user_id,
            CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS value
          FROM events)
        SELECT day, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
               ROUND(CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
                   AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS null_rate,
               CAST(COUNT(DISTINCT value) AS BIGINT) AS n_distinct_values
        FROM t GROUP BY 1""")),

    // ── plan-linter guardrail (plans.PlanLint): scale antipatterns
    //    (cartesian / BNLJ / single-partition exchange) counted per
    //    query plan — no oracle (the report is about SPARK's plan, which
    //    DuckDB cannot know); PlanLintSpec pins the semantics ──
    Q("q237_plan_lint",
      (s, d) => graft.plans.PlanLint.report(s, Seq(
        "star_q14" -> Queries.queries("q14_star_revenue")(s, d),
        "locf_grid_q219" -> Queries.queries("q219_locf")(s, d))),
      None),

    // ── time-weighted average balance (locfDaily → avg): the banking
    //    TWAB at daily grain — carried days count, pre-first-observation
    //    days don't (null-skipping avg), which is exactly LOCF's null
    //    discipline paying off ──
    Q("q238_twab",
      (s, d) => Marts.locfDaily(s,
        Tables.events(s, d).filter(pmod(col("user_id"), lit(50)) === 0),
        "user_id", "ts", "event_id", "value", "2024-01-01", "2024-01-30")
        .groupBy(col("user_id"))
        .agg(count(when(col("observed"), 1)).as("n_observed"),
          count(col("value_filled")).as("n_effective_days"),
          round(sum(dec2(col("value_filled"))).cast("double") /
            count(col("value_filled")), 6).as("twab")),
      Some("""
        WITH k AS (SELECT DISTINCT user_id FROM events WHERE user_id % 50 = 0),
        spine AS (SELECT CAST(unnest(generate_series(DATE '2024-01-01',
            DATE '2024-01-30', INTERVAL 1 DAY)) AS DATE) AS day),
        grid AS (SELECT user_id, day FROM k CROSS JOIN spine),
        r AS (SELECT user_id, CAST(ts AS DATE) AS day, value,
            row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
              ORDER BY ts DESC, event_id DESC) AS rn
          FROM events WHERE user_id % 50 = 0),
        daily AS (SELECT user_id, day, value AS obs FROM r WHERE rn = 1),
        g AS (SELECT grid.user_id, grid.day, daily.obs
              FROM grid LEFT JOIN daily
                ON grid.user_id = daily.user_id AND grid.day = daily.day),
        f AS (SELECT user_id, obs IS NOT NULL AS observed,
            last_value(obs IGNORE NULLS) OVER (PARTITION BY user_id
              ORDER BY day ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vf
          FROM g)
        SELECT user_id,
               CAST(COUNT(CASE WHEN observed THEN 1 END) AS BIGINT)
                 AS n_observed,
               CAST(COUNT(vf) AS BIGINT) AS n_effective_days,
               ROUND(CAST(SUM(CAST(vf AS DECIMAL(18,2))) AS DOUBLE)
                 / COUNT(vf), 6) AS twab
        FROM f GROUP BY 1""")),

    // ── share-of-parent rollup: each nation's revenue share within its
    //    region — the hierarchy-percentage readout, one agg + one
    //    region-keyed window over the NATION-sized frame ──
    Q("q239_share_of_parent",
      (s, d) => {
        val rev = Tables.orders(s, d)
          .join(broadcast(Tables.customer(s, d)),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.nation(s, d)),
            col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(s, d)),
            col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(sum(dec2(col("o_totalprice"))).as("__rev"))
        val w = Window.partitionBy(col("r_name"))
        rev.select(col("r_name"), col("n_name"),
          col("__rev").cast("double").as("revenue"),
          round(col("__rev").cast("double") /
            sum(col("__rev")).over(w).cast("double"), 6).as("share"))
      },
      Some("""
        WITH rev AS (SELECT r_name, n_name,
            SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rv
          FROM orders
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          GROUP BY 1, 2)
        SELECT r_name, n_name, CAST(rv AS DOUBLE) AS revenue,
               ROUND(CAST(rv AS DOUBLE) /
                 CAST(SUM(rv) OVER (PARTITION BY r_name) AS DOUBLE), 6)
                 AS share
        FROM rev""")),

    // ── session bounce rate: 30-min-gap sessionization → share of
    //    single-event sessions per day — the product-analytics readout
    //    over the q93 session machinery, restated declaratively ──
    Q("q240_bounce_rate",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("event_id").asc)
        val cum = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("event_id").asc)
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)
        Tables.events(s, d)
          .withColumn("__gap",
            when(unix_micros(col("ts")) -
              unix_micros(lag(col("ts"), 1).over(w)) > 1800L * 1000000L ||
              lag(col("ts"), 1).over(w).isNull, 1L).otherwise(0L))
          .withColumn("__sid", sum(col("__gap")).over(cum))
          .groupBy(col("user_id"), col("__sid"))
          .agg(min(to_date(col("ts"))).as("day"),
            count(lit(1)).as("__n"))
          .groupBy(col("day"))
          .agg(count(lit(1)).as("n_sessions"),
            sum(when(col("__n") === 1L, 1L).otherwise(0L)).as("n_bounces"),
            round(sum(when(col("__n") === 1L, 1L).otherwise(0L))
              .cast("double") / count(lit(1)).cast("double"), 6)
              .as("bounce_rate"))
      },
      Some("""
        WITH g AS (SELECT user_id, ts, event_id,
            CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                 THEN 1 ELSE 0 END AS brk
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        sess AS (SELECT user_id, ts,
            SUM(brk) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM g),
        per AS (SELECT user_id, sid, MIN(CAST(ts AS DATE)) AS day,
                CAST(COUNT(*) AS BIGINT) AS n
                FROM sess GROUP BY 1, 2)
        SELECT day, CAST(COUNT(*) AS BIGINT) AS n_sessions,
               CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_bounces,
               ROUND(CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS bounce_rate
        FROM per GROUP BY 1""")),

    // ── top-k + OTHER rollup: the reporting shape every dashboard uses
    //    — k biggest categories keep their name, the tail collapses;
    //    deterministic cut via (measure desc, name asc) ──
    Q("q241_topk_others",
      (s, d) => {
        val per = Tables.orders(s, d)
          .join(broadcast(Tables.customer(s, d)),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.nation(s, d)),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(sum(dec2(col("o_totalprice"))).as("__rev"))
        val w = Window.orderBy(col("__rev").desc, col("n_name").asc)
        per
          .withColumn("__rk", row_number().over(w))
          .withColumn("bucket",
            when(col("__rk") <= 5, col("n_name")).otherwise(lit("OTHER")))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_nations"),
            sum(col("__rev")).cast("double").as("revenue"))
      },
      Some("""
        WITH per AS (SELECT n_name,
            SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rv
          FROM orders
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          GROUP BY 1),
        rk AS (SELECT n_name, rv,
            row_number() OVER (ORDER BY rv DESC, n_name ASC) AS r
          FROM per)
        SELECT CASE WHEN r <= 5 THEN n_name ELSE 'OTHER' END AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_nations,
               CAST(SUM(rv) AS DOUBLE) AS revenue
        FROM rk GROUP BY 1""")),

    // ── native expressions surfaced as SQL functions (GraftExtensions) ──
    Q("q36_sql_functions",
      (s, d) => {
        graft.functions.GraftExtensions.register(s)
        Tables.registerAll(s, d)
        s.sql("""
          SELECT doc_id,
                 length(norm_text(text)) AS normed_len,
                 size(word_shingles(text, 3)) AS n_shingles
          FROM documents""")
      },
      Some("""
        WITH t AS (SELECT doc_id, text,
            string_split_regex(lower(trim(text)), '\s+') AS toks
          FROM documents)
        SELECT doc_id,
          CAST(length(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS INTEGER) AS normed_len,
          CAST(len(list_distinct(list_transform(range(1, len(toks) - 1),
            i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))) AS INTEGER) AS n_shingles
        FROM t""")),

    // ── §2.5 breadth: cube (all grouping-set combinations) ──
    Q("q38_cube",
      (s, d) => Tables.orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sumMoney(col("o_totalprice")).as("total_price")),
      Some("""
        SELECT o_orderstatus, o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""")),

    // ── breadth: pivot (conditional aggregation into columns) ──
    Q("q39_pivot",
      (s, d) => Tables.events(s, d)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(sumMoney(col("value")))
        .na.fill(0.0, Seq("click", "view", "purchase", "signup", "error")),
      Some("""
        SELECT user_id,
               COALESCE(CAST(SUM(CAST(value AS DECIMAL(18,2))) FILTER (event_type = 'click') AS DOUBLE), 0.0) AS click,
               COALESCE(CAST(SUM(CAST(value AS DECIMAL(18,2))) FILTER (event_type = 'view') AS DOUBLE), 0.0) AS view,
               COALESCE(CAST(SUM(CAST(value AS DECIMAL(18,2))) FILTER (event_type = 'purchase') AS DOUBLE), 0.0) AS purchase,
               COALESCE(CAST(SUM(CAST(value AS DECIMAL(18,2))) FILTER (event_type = 'signup') AS DOUBLE), 0.0) AS signup,
               COALESCE(CAST(SUM(CAST(value AS DECIMAL(18,2))) FILTER (event_type = 'error') AS DOUBLE), 0.0) AS error
        FROM events GROUP BY user_id""")),

    // ── breadth: analytic window functions (lag/lead/rank/ntile/frames) ──
    Q("q40_analytics",
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
        Tables.events(s, d).select(
          col("event_id"), col("user_id"), col("ts"), col("value"),
          lag(col("value"), 1).over(w).as("prev_value"),
          lead(col("value"), 1).over(w).as("next_value"),
          rank().over(w).as("rnk"),
          dense_rank().over(w).as("drnk"),
          ntile(4).over(w).as("quartile"),
          // exact decimal sum / count, divided in double — Spark's decimal
          // avg() rounds at 6 places, which DuckDB's double avg doesn't
          (sum(dec2(col("value"))).over(w.rowsBetween(-2, 0)).cast("double")
            / count(lit(1)).over(w.rowsBetween(-2, 0))).as("move_avg"))
      },
      Some("""
        SELECT event_id, user_id, ts, value,
               lag(value, 1) OVER w AS prev_value,
               lead(value, 1) OVER w AS next_value,
               CAST(rank() OVER w AS INTEGER) AS rnk,
               CAST(dense_rank() OVER w AS INTEGER) AS drnk,
               CAST(ntile(4) OVER w AS INTEGER) AS quartile,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER
                 (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
                 / COUNT(*) OVER
                 (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS move_avg
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)""")),

    // ── breadth: string function library ──
    Q("q41_string_funcs",
      (s, d) => Tables.documents(s, d).select(
        col("doc_id"),
        upper(substring(col("text"), 1, 10)).as("head_upper"),
        length(replace(col("text"), lit(" "), lit(""))).as("n_nonspace"),
        concat_ws("|", col("lang"), col("source")).as("tag"),
        lpad(col("lang"), 5, "_").as("lang_pad"),
        reverse(col("source")).as("src_rev"),
        substring_index(col("text"), " ", 2).as("first_two_words")),
      Some("""
        SELECT doc_id,
               upper(substring(text, 1, 10)) AS head_upper,
               CAST(length(replace(text, ' ', '')) AS INTEGER) AS n_nonspace,
               concat_ws('|', lang, source) AS tag,
               lpad(lang, 5, '_') AS lang_pad,
               reverse(source) AS src_rev,
               array_to_string(string_split(text, ' ')[1:2], ' ') AS first_two_words
        FROM documents""")),

    // ── breadth: date/time function library ──
    Q("q42_date_funcs",
      (s, d) => Tables.orders(s, d).select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dom"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        datediff(lit("2026-01-01").cast("date"), col("o_orderdate")).as("days_ago"),
        date_add(col("o_orderdate").cast("date"), 30).as("due_date")),
      Some("""
        SELECT o_orderkey,
               CAST(year(o_orderdate) AS INTEGER) AS yr,
               CAST(month(o_orderdate) AS INTEGER) AS mo,
               CAST(day(o_orderdate) AS INTEGER) AS dom,
               date_trunc('month', o_orderdate) AS month_start,
               CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2026-01-01') AS INTEGER) AS days_ago,
               CAST(o_orderdate AS DATE) + 30 AS due_date
        FROM orders""")),

    // ── object-store-safe publish: the q05 merge run through the
    //    SnapshotStore pointer protocol (stage gen → pointer PUT → read
    //    through the committed pointer); same algebra, so the same oracle —
    //    proves the atomic-publish path returns byte-identical results ──
    Q("q158_snapshot_publish",
      (s, d) => {
        val root = Scratch.dir("q158-snap") + "/t"
        val ev = Tables.events(s, d)
        val keys = Seq("user_id", "event_type")
        val ord = Seq(col("ts").desc, col("event_id").desc)
        graft.gold.SnapshotStore.upsertInto(s,
          ev.filter(col("ts") < lit(Split).cast("timestamp")), root, keys, ord)
        graft.gold.SnapshotStore.upsertInto(s,
          ev.filter(col("ts") >= lit(Split).cast("timestamp")), root, keys, ord)
        graft.gold.SnapshotStore.read(s, root)
          .select("user_id", "event_type", "event_id", "ts", "value")
      },
      Some(s"""
        WITH base AS (SELECT * FROM events WHERE ts < TIMESTAMP '$Split'),
        inc AS (SELECT * FROM events WHERE ts >= TIMESTAMP '$Split'),
        existing AS (
          SELECT user_id, event_type, event_id, ts, value FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                      ORDER BY ts DESC, event_id DESC) AS rn FROM base)
          WHERE rn = 1),
        incd AS (
          SELECT user_id, event_type, event_id, ts, value FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                      ORDER BY ts DESC, event_id DESC) AS rn FROM inc)
          WHERE rn = 1)
        SELECT e.* FROM existing e WHERE NOT EXISTS (
          SELECT 1 FROM incd i
          WHERE i.user_id = e.user_id AND i.event_type = e.event_type)
        UNION ALL SELECT * FROM incd""")),

    // ── §2.1 rows 5-8: Bronze date-partitioned projection ──
    Q("q28_bronze_partition",
      (s, d) => graft.bronze.Bronze.project(Tables.events(s, d), "ts")
        .groupBy(col("ingest_date"))
        .agg(count(lit(1)).as("n_rows"), sumMoney(col("value")).as("total_value")),
      Some("""
        SELECT CAST(ts AS DATE) AS ingest_date,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        FROM events GROUP BY 1""")),

    // ── streaming multi-table ATOMIC commit (MultiTableStream): the
    //    events log routes into an SCD2 user dim (event_type tracked)
    //    AND an event fact, folded batch-by-batch with ONE coordinator
    //    pointer per batch — the banking FK invariant (readme.md:213-217)
    //    in streaming form. The readout joins the fact to the CURRENT
    //    dim version resolved from the SAME commit; oracle = the
    //    batch-equivalent (current dim row per user is the last event by
    //    (ts, event_id); the fact is the full keyed event set) ──
    Q("q242_multi_commit_stream",
      (s, d) => {
        val root = Scratch.dir("q242-mts") + "/r"
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("event_id"), col("event_type"),
            col("value"), col("ts"))
        // both tables feed from the same log: tag each row for each route
        val routed = ev.withColumn("route", lit("dim"))
          .unionByName(ev.withColumn("route", lit("fact")))
        val dimSpec = graft.streaming.MultiTableStream.Scd2Dim(
          "user_dim", "dim", Seq("user_id"), Seq("event_type"), "ts",
          tieBreak = Seq("event_id"),
          project = _.select("user_id", "event_type", "event_id", "ts"))
        val factSpec = graft.streaming.MultiTableStream.UpsertFact(
          "event_fact", "fact", Seq("event_id"), Seq("ts", "event_id"),
          project = _.select("event_id", "user_id", "value", "ts"))
        val cut1 = lit("2024-01-11 00:00:00").cast("timestamp")
        val cut2 = lit("2024-01-21 00:00:00").cast("timestamp")
        Seq(routed.filter(col("ts") < cut1),
          routed.filter(col("ts") >= cut1 && col("ts") < cut2),
          routed.filter(col("ts") >= cut2)).zipWithIndex.foreach {
          case (b, i) => graft.streaming.MultiTableStream.foldBatch(
            s, root, b, "route", Seq(dimSpec), Seq(factSpec), i.toLong)
        }
        val t = graft.streaming.MultiTableStream.readCommitted(s, root)
        val cur = t("user_dim").filter(col("effective_to").isNull)
          .select(col("user_id"), col("event_type").as("current_type"))
        t("event_fact").join(cur, Seq("user_id"))
          .groupBy(col("current_type"))
          .agg(count(lit(1)).as("n_facts"),
            sumMoney(col("value")).as("total_value"))
      },
      Some("""
        WITH cur AS (
          SELECT user_id, event_type AS current_type FROM (
            SELECT user_id, event_type,
                   row_number() OVER (PARTITION BY user_id
                     ORDER BY ts DESC, event_id DESC) AS rn
            FROM events) WHERE rn = 1)
        SELECT current_type,
               CAST(COUNT(*) AS BIGINT) AS n_facts,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        FROM events e JOIN cur c ON e.user_id = c.user_id
        GROUP BY 1""")),

    // ── q242's O(batch) fact shape (MultiTableStream.DeltaFact): the
    //    fact never rewrites — each batch stages one BaseDelta delta dir
    //    and the coordinator commits a pointer (`@table=batchId`) in the
    //    same atomic flip as the dim generation; readers resolve
    //    `readAt(pointer)`. Same readout, same oracle — the storage
    //    shape changes, the committed view must not ──
    Q("q243_delta_fact_commit",
      (s, d) => {
        val root = Scratch.dir("q243-mts") + "/r"
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("event_id"), col("event_type"),
            col("value"), col("ts"))
        val routed = ev.withColumn("route", lit("dim"))
          .unionByName(ev.withColumn("route", lit("fact")))
        val dimSpec = graft.streaming.MultiTableStream.Scd2Dim(
          "user_dim", "dim", Seq("user_id"), Seq("event_type"), "ts",
          tieBreak = Seq("event_id"),
          project = _.select("user_id", "event_type", "event_id", "ts"))
        val factSpec = graft.streaming.MultiTableStream.DeltaFact(
          "event_fact", "fact", Seq("event_id"), Seq("ts", "event_id"),
          maxDeltas = 2, // force a compaction mid-run: the fold must not change the view
          project = _.select("event_id", "user_id", "value", "ts"))
        val cut1 = lit("2024-01-11 00:00:00").cast("timestamp")
        val cut2 = lit("2024-01-21 00:00:00").cast("timestamp")
        Seq(routed.filter(col("ts") < cut1),
          routed.filter(col("ts") >= cut1 && col("ts") < cut2),
          routed.filter(col("ts") >= cut2)).zipWithIndex.foreach {
          case (b, i) => graft.streaming.MultiTableStream.foldBatch(
            s, root, b, "route", Seq(dimSpec), Seq.empty, i.toLong,
            deltaFacts = Seq(factSpec))
        }
        val t = graft.streaming.MultiTableStream.readCommitted(s, root,
          deltaFacts = Seq(factSpec))
        val cur = t("user_dim").filter(col("effective_to").isNull)
          .select(col("user_id"), col("event_type").as("current_type"))
        t("event_fact").join(cur, Seq("user_id"))
          .groupBy(col("current_type"))
          .agg(count(lit(1)).as("n_facts"),
            sumMoney(col("value")).as("total_value"))
      },
      Some("""
        WITH cur AS (
          SELECT user_id, event_type AS current_type FROM (
            SELECT user_id, event_type,
                   row_number() OVER (PARTITION BY user_id
                     ORDER BY ts DESC, event_id DESC) AS rn
            FROM events) WHERE rn = 1)
        SELECT current_type,
               CAST(COUNT(*) AS BIGINT) AS n_facts,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        FROM events e JOIN cur c ON e.user_id = c.user_id
        GROUP BY 1""")),

    // ── incremental IVF vector index (VectorIndex): embeddings fold in
    //    three batches into persisted (centroids ∪ cell postings) state —
    //    the steady-state ANN shape where nothing re-elects or re-assigns
    //    per batch. Served with nProbe = nCells the probe covers every
    //    cell, so the persisted index must reproduce brute-force top-k
    //    EXACTLY — q24's oracle, now against folded state ──
    Q("q244_vector_index",
      (s, d) => {
        val root = Scratch.dir("q244-vidx") + "/s"
        val st = graft.operators.VectorIndex.State(root)
        val emb = Tables.embeddings(s, d)
        Seq(emb.filter(col("vec_id") % 3 === 0),
          emb.filter(col("vec_id") % 3 === 1),
          emb.filter(col("vec_id") % 3 === 2)).zipWithIndex.foreach {
          case (b, i) => graft.operators.VectorIndex.fold(s, st, b,
            i.toLong, "vec_id", "embedding", nCells = 8)
        }
        graft.operators.VectorIndex.topK(s, st,
          emb.filter(col("vec_id") < 20), "vec_id", "embedding",
          k = 5, nProbe = graft.operators.VectorIndex.nCells(s, st))
      },
      Some("""
        WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                   FROM embeddings WHERE vec_id < 20),
        scored AS (
          SELECT query_id, vec_id AS neighbor_id,
                 round(list_dot_product(qv, embedding::DOUBLE[]) /
                   (sqrt(list_dot_product(qv, qv)) *
                    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 6) AS cosine
          FROM embeddings, q WHERE vec_id <> query_id)
        SELECT query_id, neighbor_id, cosine,
               CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER) AS rank
        FROM scored
        QUALIFY rank <= 5""")),

    // ── coordinated right-to-erasure over the multi-table commit
    //    (Erasure.eraseCoordinated on q242's coordinator): subjects are
    //    erased from the SCD2 dim AND the fact in ONE atomic flip
    //    (delta/fact members first — never an orphan state), pre-erasure
    //    bytes vacuumed. Readout = q242's consistent join AFTER erasure;
    //    oracle = the same SQL with the subjects excluded ──
    Q("q245_coordinated_erasure",
      (s, d) => {
        // erasure cost over a private copy of the shared coordinator
        // fixture (the fold's batch-cut invariance makes the final state
        // identical to the original 2-cut build)
        val root = Fixtures.mts3Copy(s, d)
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("event_id"), col("event_type"),
            col("value"), col("ts"))
        graft.gold.Erasure.eraseCoordinated(s, root,
          keyCols = Map("user_dim" -> "user_id", "event_fact" -> "user_id"),
          subjects = ev.select(col("user_id"))
            .filter(pmod(col("user_id"), lit(10)) === 3).distinct())
        val t = graft.streaming.MultiTableStream.readCommitted(s, root)
        val cur = t("user_dim").filter(col("effective_to").isNull)
          .select(col("user_id"), col("event_type").as("current_type"))
        t("event_fact").join(cur, Seq("user_id"))
          .groupBy(col("current_type"))
          .agg(count(lit(1)).as("n_facts"),
            sumMoney(col("value")).as("total_value"))
      },
      Some("""
        WITH kept AS (SELECT * FROM events WHERE user_id % 10 <> 3),
        cur AS (
          SELECT user_id, event_type AS current_type FROM (
            SELECT user_id, event_type,
                   row_number() OVER (PARTITION BY user_id
                     ORDER BY ts DESC, event_id DESC) AS rn
            FROM kept) WHERE rn = 1)
        SELECT current_type,
               CAST(COUNT(*) AS BIGINT) AS n_facts,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        FROM kept e JOIN cur c ON e.user_id = c.user_id
        GROUP BY 1""")),

    // ── write–audit–publish gate on the coordinator
    //    (MultiTableStream.Audit + fkAudit): two clean batches publish;
    //    a third batch poisoned with facts referencing users NO dim row
    //    creates is REFUSED at the gate — the pointer never flips, so
    //    the committed readout is exactly the clean prefix. Oracle = the
    //    q242 SQL restricted to the two clean batches' window ──
    Q("q247_publish_gate",
      (s, d) => {
        // the clean two-batch prefix comes from the fixture cache; the
        // timed work is the poisoned batch's audit + refusal
        val root = Fixtures.mts2Copy(s, d)
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("event_id"), col("event_type"),
            col("value"), col("ts"))
        val routed = Fixtures.routedEvents(s, d)
        val gate = graft.streaming.MultiTableStream.fkAudit(
          "event_fact", "user_id", "user_dim", "user_id")
        val cut2 = lit("2024-01-21 00:00:00").cast("timestamp")
        // batch 2 is poisoned: its fact slice gains rows whose user has
        // no dim row anywhere — the gate must refuse the WHOLE batch
        val poison = ev.filter(col("ts") >= cut2).limit(50)
          .withColumn("user_id", col("user_id") + lit(10000000L))
          .withColumn("route", lit("fact"))
        val b2 = routed.filter(col("ts") >= cut2).unionByName(poison)
        val refused =
          try {
            graft.streaming.MultiTableStream.foldBatch(s, root, b2, "route",
              Seq(Fixtures.mtsDimSpec), Seq(Fixtures.mtsFactSpec), 2L,
              audits = Seq(gate))
            false
          } catch {
            case _: graft.streaming.MultiTableStream.AuditFailedException => true
          }
        require(refused, "q247: the poisoned batch must be refused")
        val t = graft.streaming.MultiTableStream.readCommitted(s, root)
        val cur = t("user_dim").filter(col("effective_to").isNull)
          .select(col("user_id"), col("event_type").as("current_type"))
        t("event_fact").join(cur, Seq("user_id"))
          .groupBy(col("current_type"))
          .agg(count(lit(1)).as("n_facts"),
            sumMoney(col("value")).as("total_value"))
      },
      Some("""
        WITH kept AS (SELECT * FROM events
                      WHERE ts < TIMESTAMP '2024-01-21 00:00:00'),
        cur AS (
          SELECT user_id, event_type AS current_type FROM (
            SELECT user_id, event_type,
                   row_number() OVER (PARTITION BY user_id
                     ORDER BY ts DESC, event_id DESC) AS rn
            FROM kept) WHERE rn = 1)
        SELECT current_type,
               CAST(COUNT(*) AS BIGINT) AS n_facts,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        FROM kept e JOIN cur c ON e.user_id = c.user_id
        GROUP BY 1""")),

    // ── cross-table TIME TRAVEL (MultiSnapshot.readAllAt): after three
    //    coordinator commits, read the PREVIOUS one — dim and fact AS OF
    //    v2, mutually consistent. Oracle = the batch-equivalent SQL over
    //    the first two batches' window only ──
    Q("q248_coordinator_time_travel",
      (s, d) => {
        // pure READ-cost query over the shared fixture: resolve the
        // retained previous commit and read both tables through it
        val root = Fixtures.mts3(s, d)
        val t = graft.gold.MultiSnapshot.readAllAt(s, root, 2L)
        val cur = t("user_dim").filter(col("effective_to").isNull)
          .select(col("user_id"), col("event_type").as("current_type"))
        t("event_fact").join(cur, Seq("user_id"))
          .groupBy(col("current_type"))
          .agg(count(lit(1)).as("n_facts"),
            sumMoney(col("value")).as("total_value"))
      },
      Some("""
        WITH kept AS (SELECT * FROM events
                      WHERE ts < TIMESTAMP '2024-01-21 00:00:00'),
        cur AS (
          SELECT user_id, event_type AS current_type FROM (
            SELECT user_id, event_type,
                   row_number() OVER (PARTITION BY user_id
                     ORDER BY ts DESC, event_id DESC) AS rn
            FROM kept) WHERE rn = 1)
        SELECT current_type,
               CAST(COUNT(*) AS BIGINT) AS n_facts,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        FROM kept e JOIN cur c ON e.user_id = c.user_id
        GROUP BY 1""")),

    // ── POST-RACE readout (MultiSnapshot.publishFrom contention
    //    protocol): a streaming fact fold shares one coordinator with
    //    TWO CONCURRENT committers publishing disjoint member tables —
    //    generation reservations keep their staging collision-free and
    //    the commuting CAS rebase lands both, so the outcome is
    //    deterministic and oracle-exact. Readout joins the stream's fact
    //    with both racers' tables through one commit resolve ──
    Q("q249_post_race_readout",
      (s, d) => {
        val root = Scratch.dir("q249-race") + "/r"
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("event_id"), col("event_type"),
            col("value"), col("ts"))
        val factSpec = graft.streaming.MultiTableStream.UpsertFact(
          "event_fact", "fact", Seq("event_id"), Seq("ts", "event_id"),
          project = _.select("event_id", "user_id", "event_type", "ts"))
        val routed = ev.withColumn("route", lit("fact"))
        val cut = lit("2024-01-15 00:00:00").cast("timestamp")
        Seq(routed.filter(col("ts") < cut),
          routed.filter(col("ts") >= cut)).zipWithIndex.foreach {
          case (b, i) => graft.streaming.MultiTableStream.foldBatch(
            s, root, b, "route", Seq.empty, Seq(factSpec), i.toLong)
        }
        // two committers race the SAME coordinator pointer with disjoint
        // member tables (blind publishes of input-derived content)
        val even = ev.filter(col("user_id") % 2 === 0)
          .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        val odd = ev.filter(col("user_id") % 2 === 1)
          .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
        val start = new java.util.concurrent.CountDownLatch(1)
        def submit(name: String, df: org.apache.spark.sql.DataFrame) =
          pool.submit(new java.util.concurrent.Callable[Unit] {
            def call(): Unit = { start.await()
              graft.gold.MultiSnapshot.publish(s, root, Map(name -> df),
                conflictRetries = 8); () }
          })
        val fa = submit("even_counts", even)
        val fb = submit("odd_counts", odd)
        start.countDown(); fa.get(); fb.get(); pool.shutdown()
        val t = graft.streaming.MultiTableStream.readCommitted(s, root)
        val facts = t("event_fact").groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_total"))
        val e = graft.gold.MultiSnapshot.read(s, root, "even_counts")
          .select(col("event_type"), col("n").as("n_even"))
        val o = graft.gold.MultiSnapshot.read(s, root, "odd_counts")
          .select(col("event_type"), col("n").as("n_odd"))
        facts.join(e, Seq("event_type"), "left")
          .join(o, Seq("event_type"), "left")
          .select(col("event_type"),
            coalesce(col("n_even"), lit(0L)).as("n_even"),
            coalesce(col("n_odd"), lit(0L)).as("n_odd"),
            col("n_total"))
      },
      Some("""
        SELECT event_type,
               CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_even,
               CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_odd,
               CAST(COUNT(*) AS BIGINT) AS n_total
        FROM events GROUP BY 1""")),

    // ── quantizer REFRESH generation (VectorIndex.refreshQuantizer):
    //    the index folds under a gen-1 quantizer, then re-elects from
    //    the current corpus and atomically swaps to gen 2 (the
    //    rebuild-offline-swap-pointer recipe FAISS/Milvus production
    //    uses). Serving exactness is generation-INDEPENDENT: full probe
    //    over the rebuilt index must still reproduce brute-force top-k
    //    exactly — q244's oracle, post-refresh ──
    Q("q250_vector_index_refresh",
      (s, d) => {
        val m = graft.operators.VectorIndex.Managed(
          Scratch.dir("q250-vr"))
        val emb = Tables.embeddings(s, d)
        Seq(emb.filter(col("vec_id") % 2 === 0),
          emb.filter(col("vec_id") % 2 === 1)).zipWithIndex.foreach {
          case (b, i) => graft.operators.VectorIndex.fold(s,
            graft.operators.VectorIndex.active(s, m), b, i.toLong,
            "vec_id", "embedding", nCells = 8)
        }
        val st2 = graft.operators.VectorIndex.refreshQuantizer(s, m,
          nCells = 8, refineIters = 2)
        graft.operators.VectorIndex.topK(s, st2,
          emb.filter(col("vec_id") < 20), "vec_id", "embedding",
          k = 5, nProbe = graft.operators.VectorIndex.nCells(s, st2))
      },
      Some("""
        WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                   FROM embeddings WHERE vec_id < 20),
        scored AS (
          SELECT query_id, vec_id AS neighbor_id,
                 round(list_dot_product(qv, embedding::DOUBLE[]) /
                   (sqrt(list_dot_product(qv, qv)) *
                    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 6) AS cosine
          FROM embeddings, q WHERE vec_id <> query_id)
        SELECT query_id, neighbor_id, cosine,
               CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER) AS rank
        FROM scored
        QUALIFY rank <= 5""")),

    // ── DEFERRED right-to-erasure (SearchIndex.eraseLogical): q246's
    //    erasure with the immediate-ack tombstone ledger instead of the
    //    three-table rewrite — scoring must be bit-identical to an index
    //    that never saw the docs BEFORE any physical rewrite happens
    //    (the oracle is q246's surviving-corpus SQL, reached while every
    //    erased byte is still on disk behind the ledger) ──
    Q("q251_deferred_erasure",
      (s, d) => {
        // the deferred form on the same private-copy fixture as q246:
        // its timing vs q246's IS the ack-latency argument (ledger
        // publish + corrected-stats serve vs three-table rewrite)
        val st = Fixtures.search3Copy(s, d)
        val docs = Tables.documents(s, d)
        operators.SearchIndex.eraseLogical(s, st,
          docs.filter(pmod(col("doc_id"), lit(7)) === 2).select(col("doc_id")))
        operators.SearchIndex.search(s, st,
          Seq("data", "bank", "account", "risk"))
      },
      Some("""
        WITH post AS (
          SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
          FROM documents WHERE doc_id % 7 <> 2),
        p2 AS (SELECT doc_id, tok FROM post WHERE length(tok) > 0),
        dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM p2 GROUP BY 1),
        st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                      CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
               FROM dl),
        tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
               FROM p2 WHERE tok IN ('data', 'bank', 'account', 'risk')
               GROUP BY 1, 2),
        df AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
        t AS (
          SELECT tf.doc_id,
                 floor(((ln((st.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
                          * (CAST(tf.tf AS DOUBLE) * (1.2 + 1.0))) /
                        (CAST(tf.tf AS DOUBLE) +
                          1.2 * ((1.0 - 0.75) + 0.75 * (CAST(dl.dl AS DOUBLE) / st.avgdl))))
                       * 1000000 + 0.5) / 1000000 AS t6
          FROM tf JOIN df USING (tok) JOIN dl USING (doc_id), st)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
               CAST(SUM(CAST(t6 AS DECIMAL(18,6))) AS DOUBLE) AS score
        FROM t GROUP BY 1""")),

    // ── warehouse QUERY-HISTORY runbook readout (plans.QueryHistory —
    //    the reference's readme.md:388-393 ops query over Snowflake's
    //    QUERY_HISTORY, re-expressed over any run log): top queries by
    //    total execution time with run counts, exact p50/p95, max, and
    //    last-run — histogram-based, no global sort over runs ──
    Q("q252_query_history",
      (s, d) => graft.plans.QueryHistory.topQueries(
        Tables.events(s, d).select(col("event_type"), col("value"), col("ts")),
        "event_type", "value", "ts", topN = 10),
      Some("""
        WITH runs AS (SELECT event_type AS query_id, value AS v, ts FROM events),
        base AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_runs,
                 CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS total_sec,
                 MAX(v) AS max_sec, MAX(ts) AS last_run
                 FROM runs GROUP BY 1),
        c AS (SELECT query_id, v, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM runs GROUP BY 1, 2),
        cum AS (SELECT query_id, v,
                 CAST(SUM(cnt) OVER (PARTITION BY query_id ORDER BY v ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cm
                FROM c),
        p AS (SELECT CAST(pct AS INTEGER) AS pct
              FROM (VALUES (50), (95)) AS vv(pct)),
        q AS (SELECT cum.query_id, p.pct, MIN(v) AS val
              FROM cum JOIN base USING (query_id) CROSS JOIN p
              WHERE cm * 100 >= p.pct * n_runs
              GROUP BY 1, 2),
        piv AS (SELECT query_id,
                 MAX(CASE WHEN pct = 50 THEN val END) AS p50_sec,
                 MAX(CASE WHEN pct = 95 THEN val END) AS p95_sec
                FROM q GROUP BY 1)
        SELECT b.query_id, b.n_runs, b.total_sec, piv.p50_sec, piv.p95_sec,
               b.max_sec, b.last_run,
               CAST(row_number() OVER (ORDER BY b.total_sec DESC,
                 b.query_id ASC) AS INTEGER) AS rank
        FROM base b JOIN piv USING (query_id)
        QUALIFY rank <= 10""")),

    // ── regression screen over the same run log: exact per-query median
    //    before vs after a release cutoff, flagged at 1.5× — "what got
    //    slower since the deploy" ──
    Q("q253_query_regressions",
      (s, d) => graft.plans.QueryHistory.regressions(
        Tables.events(s, d).select(col("event_type"), col("value"), col("ts")),
        "event_type", "value", "ts",
        cutoff = lit("2024-01-16 00:00:00").cast("timestamp"),
        ratioThreshold = 1.5),
      Some("""
        WITH runs AS (SELECT event_type AS query_id, value AS v,
               CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                 THEN 'before' ELSE 'after' END AS ep FROM events),
        c AS (SELECT query_id, ep, v, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM runs GROUP BY 1, 2, 3),
        cum AS (SELECT query_id, ep, v,
                 CAST(SUM(cnt) OVER (PARTITION BY query_id, ep ORDER BY v ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cm
                FROM c),
        t AS (SELECT query_id, ep, CAST(COUNT(*) AS BIGINT) AS n
              FROM runs GROUP BY 1, 2),
        med AS (SELECT cum.query_id, cum.ep, MIN(v) AS med
                FROM cum JOIN t USING (query_id, ep)
                WHERE cm * 2 >= n GROUP BY 1, 2),
        wide AS (SELECT query_id,
                  MAX(CASE WHEN ep = 'before' THEN med END) AS p50_before,
                  MAX(CASE WHEN ep = 'after' THEN med END) AS p50_after
                 FROM med GROUP BY 1)
        SELECT query_id, p50_before, p50_after,
               floor((p50_after / p50_before) * 1000000 + 0.5) / 1000000 AS ratio,
               floor((p50_after / p50_before) * 1000000 + 0.5) / 1000000 >= 1.5 AS regressed
        FROM wide
        WHERE p50_before IS NOT NULL AND p50_after IS NOT NULL""")),

    // ── DEFERRED coordinated erasure (Erasure.eraseCoordinated with
    //    deferred=true) over the q243 DeltaFact coordinator: the staged
    //    dim rewrites eagerly (dimension-sized), the O(batch) fact takes
    //    the tombstone-ledger ack — the readout runs BEFORE any fact
    //    rewrite, and must already equal q245's post-erasure join
    //    (subjects unreachable through the committed pointer) ──
    Q("q254_deferred_coordinated_erasure",
      (s, d) => {
        val root = Fixtures.mtsd3Copy(s, d)
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("event_id"), col("event_type"),
            col("value"), col("ts"))
        graft.gold.Erasure.eraseCoordinated(s, root,
          keyCols = Map("user_dim" -> "user_id", "event_fact" -> "user_id"),
          subjects = ev.select(col("user_id"))
            .filter(pmod(col("user_id"), lit(10)) === 3).distinct(),
          deltaMembers = Map("event_fact" ->
            Fixtures.mtsDeltaFactSpec.deltaTable(root)),
          deferred = true)
        val t = graft.streaming.MultiTableStream.readCommitted(s, root,
          deltaFacts = Seq(Fixtures.mtsDeltaFactSpec))
        val cur = t("user_dim").filter(col("effective_to").isNull)
          .select(col("user_id"), col("event_type").as("current_type"))
        t("event_fact").join(cur, Seq("user_id"))
          .groupBy(col("current_type"))
          .agg(count(lit(1)).as("n_facts"),
            sumMoney(col("value")).as("total_value"))
      },
      Some("""
        WITH kept AS (SELECT * FROM events WHERE user_id % 10 <> 3),
        cur AS (
          SELECT user_id, event_type AS current_type FROM (
            SELECT user_id, event_type,
                   row_number() OVER (PARTITION BY user_id
                     ORDER BY ts DESC, event_id DESC) AS rn
            FROM kept) WHERE rn = 1)
        SELECT current_type,
               CAST(COUNT(*) AS BIGINT) AS n_facts,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        FROM kept e JOIN cur c ON e.user_id = c.user_id
        GROUP BY 1""")),

    // ── tombstone-ledger BUDGET readout (BaseDelta.tombstoneReport):
    //    every read anti-joins one broadcast per pending erasure ledger,
    //    so the backlog of acked-but-unmaterialized requests needs a
    //    backstop — two subject batches land in one column ledger
    //    (union, deduped), and the report adjudicates the count against
    //    the budget, flipping the recommendation to 'materialize' (the
    //    signal to schedule materializeErasures at a maintenance slot) ──
    Q("q255_tombstone_budget",
      (s, d) => {
        val root = Scratch.dir("q255-tomb") + "/t"
        val t = graft.gold.BaseDelta.Table(root, Seq("doc_id"),
          Seq("doc_id"), None)
        val docs = Tables.documents(s, d).select(col("doc_id"))
        graft.gold.BaseDelta.append(s, t, docs, 0L)
        graft.gold.BaseDelta.logicalErase(s, t, "doc_id",
          docs.filter(pmod(col("doc_id"), lit(7)) === 2), countRows = false)
        graft.gold.BaseDelta.logicalErase(s, t, "doc_id",
          docs.filter(pmod(col("doc_id"), lit(11)) === 3), countRows = false)
        val before = graft.gold.BaseDelta.tombstoneReport(s, t, budget = 10L)
        // round 11: the SINK-SIDE auto-upgrade the report recommends —
        // the backlog exceeds the budget, so the in-band materialization
        // fires (the hook IndexStreams/MultiTableStream run per batch),
        // retires the ledgers, and physically rewrites the subject rows
        val upgraded = graft.gold.BaseDelta
          .materializePendingIfOverBudget(s, t, budget = 10L)
        val cleared = graft.gold.BaseDelta.pendingTombstones(s, t).isEmpty
        val remaining = graft.gold.BaseDelta.read(s, t)
          .filter(pmod(col("doc_id"), lit(7)) === 2 ||
            pmod(col("doc_id"), lit(11)) === 3).count()
        before.select(col("erase_col"), col("pending_values"), col("budget"),
          col("over_budget"), col("recommendation"),
          lit(upgraded).as("auto_upgraded"),
          lit(cleared).as("pending_cleared"),
          lit(remaining == 0L).as("subject_rows_gone"))
      },
      Some("""
        SELECT 'doc_id' AS erase_col,
               CAST(COUNT(*) AS BIGINT) AS pending_values,
               CAST(10 AS BIGINT) AS budget,
               COUNT(*) > 10 AS over_budget,
               CASE WHEN COUNT(*) > 10 THEN 'materialize' ELSE 'ok'
                 END AS recommendation,
               TRUE AS auto_upgraded, TRUE AS pending_cleared,
               TRUE AS subject_rows_gone
        FROM (SELECT DISTINCT doc_id FROM documents
              WHERE doc_id % 7 = 2 OR doc_id % 11 = 3)""")),

    // ── SQL-first surface: the flagship whole-table operators as
    //    TABLE-VALUED FUNCTIONS (GraftExtensions.tableBuilders) — the
    //    reference's consumers are dbt/SQL users, so the SCD2 merge must
    //    be reachable from pure `spark.sql` with no Scala in sight; the
    //    TVF expands to the IDENTICAL DataFrame plan q04 builds, proven
    //    by sharing q04's oracle ──
    Q("q256_sql_tvf_scd2",
      (s, d) => {
        graft.functions.GraftExtensions.register(s)
        Tables.events(s, d).createOrReplaceTempView("events_tvf")
        s.sql("""
          SELECT user_id, event_id, value, version_n,
                 effective_from, effective_to, is_current
          FROM scd2_from_changelog('events_tvf', 'user_id', 'ts', 'event_id')""")
      },
      Some("""
        SELECT user_id, event_id, value,
               CAST(row_number() OVER w AS INTEGER) AS version_n,
               ts AS effective_from,
               lead(ts) OVER w AS effective_to,
               (lead(ts) OVER w) IS NULL AS is_current
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)""")),

    // ── q257/q258: the remaining high-traffic TVFs proven the same way —
    //    each expands to the identical DataFrame plan its Scala form
    //    builds, so each shares that query's oracle verbatim (q01, q08) ──
    Q("q257_sql_tvf_dedup",
      (s, d) => {
        graft.functions.GraftExtensions.register(s)
        Tables.events(s, d).createOrReplaceTempView("events_tvf2")
        s.sql("""
          SELECT user_id, event_type, event_id, ts, value
          FROM dedup_latest('events_tvf2', 'user_id,event_type',
                            'ts desc,event_id desc')""")
      },
      Some("""
        SELECT user_id, event_type, event_id, ts, value FROM (
          SELECT user_id, event_type, event_id, ts, value,
                 row_number() OVER (PARTITION BY user_id, event_type
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) WHERE rn = 1""")),

    Q("q258_sql_tvf_fk_orphans",
      (s, d) => {
        graft.functions.GraftExtensions.register(s)
        Tables.customer(s, d).createOrReplaceTempView("customer_tvf")
        Tables.orders(s, d).createOrReplaceTempView("orders_tvf")
        s.sql("""
          SELECT c_custkey, c_name, c_mktsegment
          FROM fk_orphans('customer_tvf', 'c_custkey',
                          'orders_tvf', 'o_custkey')""")
      },
      Some("""
        SELECT c_custkey, c_name, c_mktsegment FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""")),

    // ── q259–q262: the PERSISTED INDEX TIER from pure SQL — each TVF
    //    expands to the identical serve plan its Scala form builds over
    //    the shared read-only fixture (build cost stays timed in
    //    q202/q244/q190), so each shares that query's oracle verbatim.
    //    The SQL user points at an index ROOT (a path literal), names
    //    their terms/queries, and never touches Scala — the dbt-style
    //    consumption story for the search/vector/cluster indexes ──
    Q("q259_sql_tvf_search",
      (s, d) => {
        val st = Fixtures.search3(s, d)
        graft.functions.GraftExtensions.register(s)
        s.sql(s"""
          SELECT doc_id, n_terms, score
          FROM search_bm25('${st.root}', 'data,bank,account,risk')""")
      },
      Some("""
        WITH post AS (
          SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
          FROM documents),
        p2 AS (SELECT doc_id, tok FROM post WHERE length(tok) > 0),
        dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM p2 GROUP BY 1),
        st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                      CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
               FROM dl),
        tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
               FROM p2 WHERE tok IN ('data', 'bank', 'account', 'risk')
               GROUP BY 1, 2),
        df AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
        t AS (
          SELECT tf.doc_id,
                 floor(((ln((st.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
                          * (CAST(tf.tf AS DOUBLE) * (1.2 + 1.0))) /
                        (CAST(tf.tf AS DOUBLE) +
                          1.2 * ((1.0 - 0.75) + 0.75 * (CAST(dl.dl AS DOUBLE) / st.avgdl))))
                       * 1000000 + 0.5) / 1000000 AS t6
          FROM tf JOIN df USING (tok) JOIN dl USING (doc_id), st)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
               CAST(SUM(CAST(t6 AS DECIMAL(18,6))) AS DOUBLE) AS score
        FROM t GROUP BY 1""")),

    Q("q260_sql_tvf_phrase",
      (s, d) => {
        val st = Fixtures.search3(s, d)
        graft.functions.GraftExtensions.register(s)
        s.sql(s"""
          SELECT doc_id, n_occurrences
          FROM phrase_search('${st.root}', 'batch batch')""")
      },
      Some("""
        WITH tk AS (SELECT doc_id,
            string_split_regex(lower(trim(text)), '\s+') AS ts
          FROM documents),
        l AS (SELECT doc_id, unnest(ts) AS tok,
                     unnest(range(1, len(ts) + 1)) AS pos FROM tk),
        f0 AS (SELECT doc_id, pos AS start FROM l WHERE tok = 'batch'),
        f1 AS (SELECT doc_id, pos - 1 AS start FROM l WHERE tok = 'batch'),
        m AS (SELECT f0.doc_id, f0.start
              FROM f0 JOIN f1 ON f0.doc_id = f1.doc_id
                AND f0.start = f1.start)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_occurrences
        FROM m GROUP BY 1""")),

    Q("q261_sql_tvf_vector",
      (s, d) => {
        val st = Fixtures.vector3(s, d)
        graft.functions.GraftExtensions.register(s)
        Tables.embeddings(s, d).filter(col("vec_id") < 20)
          .createOrReplaceTempView("vec_queries_tvf")
        // nProbe 0 = full probe: exact over the index, q244's oracle
        s.sql(s"""
          SELECT query_id, neighbor_id, cosine, rank
          FROM vector_topk('${st.root}', 'vec_queries_tvf',
                           'vec_id', 'embedding', 5, 0)""")
      },
      Some("""
        WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                   FROM embeddings WHERE vec_id < 20),
        scored AS (
          SELECT query_id, vec_id AS neighbor_id,
                 round(list_dot_product(qv, embedding::DOUBLE[]) /
                   (sqrt(list_dot_product(qv, qv)) *
                    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 6) AS cosine
          FROM embeddings, q WHERE vec_id <> query_id)
        SELECT query_id, neighbor_id, cosine,
               CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER) AS rank
        FROM scored
        QUALIFY rank <= 5""")),

    Q("q262_sql_tvf_clusters",
      (s, d) => {
        val st = Fixtures.cluster3(s, d)
        graft.functions.GraftExtensions.register(s)
        // singleton filter in SQL over the TVF — q190's
        // clustersNonSingleton semantics, reproduced by the consumer
        s.sql(s"""
          SELECT id AS doc_id, cluster_id
          FROM cluster_assignments('${st.root}')
          WHERE cluster_id IN (
            SELECT cluster_id FROM cluster_assignments('${st.root}')
            GROUP BY cluster_id HAVING COUNT(*) >= 2)""")
      },
      Some("""
        WITH RECURSIVE
        t AS (SELECT doc_id,
            list_distinct(list_transform(
              range(1, len(string_split_regex(lower(trim(text)), '\s+')) - 1),
              i -> concat_ws(' ',
                string_split_regex(lower(trim(text)), '\s+')[i],
                string_split_regex(lower(trim(text)), '\s+')[i+1],
                string_split_regex(lower(trim(text)), '\s+')[i+2]))) AS sh
          FROM documents),
        docs AS (SELECT doc_id, sh, len(sh) AS n_sh FROM t WHERE len(sh) > 0),
        inv AS (SELECT doc_id, n_sh, unnest(sh) AS s FROM docs),
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 a.n_sh AS n_a, b.n_sh AS n_b,
                 CAST(COUNT(*) AS BIGINT) AS n_shared
          FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2, 3, 4
          HAVING CAST(n_shared AS DOUBLE) / (n_a + n_b - n_shared) >= 0.2),
        edges AS (SELECT id_a AS id, id_b AS peer FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
        cc(id, lbl) AS (
          SELECT id, id AS lbl FROM (SELECT DISTINCT id FROM edges)
          UNION
          SELECT e.id, c.lbl FROM edges e JOIN cc c ON c.id = e.peer)
        SELECT id AS doc_id, CAST(MIN(lbl) AS BIGINT) AS cluster_id
        FROM cc GROUP BY id""")),

    // ── one deletion request, every derived artifact
    //    (ErasureSweep.eraseDerived): the subject set sweeps the given
    //    indexes in one call; the combined receipt audits what each
    //    artifact held. Deferred mode is the production ack path
    //    (tombstone flips; serving immediately excludes the subjects);
    //    the cluster tier — whose erase is structural (bridge-split) and
    //    timed separately in q264 — is covered by ErasureSpec's 3-tier
    //    sweep. Oracle: the per-artifact subject-row counts ──
    Q("q263_erase_sweep",
      (s, d) => {
        val sst = Fixtures.search3Copy(s, d)
        val vst = Fixtures.vector3Copy(s, d)
        val mst = Fixtures.vector3ManagedCopy(s, d)
        val subjects = Tables.documents(s, d).select(col("doc_id").as("id"))
          .unionByName(Tables.embeddings(s, d).select(col("vec_id").as("id")))
          .filter(pmod(col("id"), lit(7)) === 2).distinct()
        graft.operators.ErasureSweep.eraseDerived(s, subjects,
          search = Seq(sst), vector = Seq(vst), managedVector = Seq(mst),
          deferred = true)
          .select(col("artifact"), col("mode"), col("status"),
            col("n_subject_rows"))
      },
      Some("""
        SELECT 'search_index' AS artifact, 'deferred' AS mode,
               'pending' AS status,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
                WHERE doc_id % 7 = 2) AS n_subject_rows
        UNION ALL
        SELECT 'vector_index', 'deferred', 'pending',
               (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings
                WHERE vec_id % 7 = 2)
        UNION ALL
        SELECT 'vector_index_managed', 'deferred', 'pending',
               (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings
                WHERE vec_id % 7 = 2)""")),

    // ── right-to-erasure over the CLUSTER index (ClusterIndex.erase):
    //    structural, not a row filter — removing a doc that BRIDGED two
    //    families must SPLIT the merged cluster, so the erase re-pairs
    //    the affected clusters' survivors from the (filtered) shingle
    //    postings. Oracle: q190's from-scratch connected components over
    //    the SURVIVING corpus only — post-erase state must equal an
    //    index that never saw the subjects ──
    Q("q264_cluster_erase",
      (s, d) => {
        val st = Fixtures.cluster3Copy(s, d)
        val subjects = Tables.documents(s, d).select(col("doc_id"))
          .filter(pmod(col("doc_id"), lit(7)) === 2)
        operators.ClusterIndex.erase(s, st, subjects)
        operators.ClusterIndex.clustersNonSingleton(s, st)
          .select(col("id").as("doc_id"), col("cluster_id"))
      },
      Some("""
        WITH RECURSIVE
        surv AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 2),
        t AS (SELECT doc_id,
            list_distinct(list_transform(
              range(1, len(string_split_regex(lower(trim(text)), '\s+')) - 1),
              i -> concat_ws(' ',
                string_split_regex(lower(trim(text)), '\s+')[i],
                string_split_regex(lower(trim(text)), '\s+')[i+1],
                string_split_regex(lower(trim(text)), '\s+')[i+2]))) AS sh
          FROM surv),
        docs AS (SELECT doc_id, sh, len(sh) AS n_sh FROM t WHERE len(sh) > 0),
        inv AS (SELECT doc_id, n_sh, unnest(sh) AS s FROM docs),
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 a.n_sh AS n_a, b.n_sh AS n_b,
                 CAST(COUNT(*) AS BIGINT) AS n_shared
          FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2, 3, 4
          HAVING CAST(n_shared AS DOUBLE) / (n_a + n_b - n_shared) >= 0.2),
        edges AS (SELECT id_a AS id, id_b AS peer FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
        cc(id, lbl) AS (
          SELECT id, id AS lbl FROM (SELECT DISTINCT id FROM edges)
          UNION
          SELECT e.id, c.lbl FROM edges e JOIN cc c ON c.id = e.peer)
        SELECT id AS doc_id, CAST(MIN(lbl) AS BIGINT) AS cluster_id
        FROM cc GROUP BY id""")),

    // ── DEFERRED cluster erasure (ClusterIndex.eraseLogical): the
    //    structural re-pair + small clusters-table rewrite run eagerly,
    //    the EXPENSIVE shingle-postings rewrite rides a tombstone
    //    ledger — serving is exact the moment the ack returns, proven
    //    by sharing q264's from-scratch-over-survivors oracle while the
    //    postings ledger is still pending ──
    Q("q265_cluster_erase_deferred",
      (s, d) => {
        val st = Fixtures.cluster3Copy(s, d)
        val subjects = Tables.documents(s, d).select(col("doc_id"))
          .filter(pmod(col("doc_id"), lit(7)) === 2)
        operators.ClusterIndex.eraseLogical(s, st, subjects)
        operators.ClusterIndex.clustersNonSingleton(s, st)
          .select(col("id").as("doc_id"), col("cluster_id"))
      },
      Some("""
        WITH RECURSIVE
        surv AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 2),
        t AS (SELECT doc_id,
            list_distinct(list_transform(
              range(1, len(string_split_regex(lower(trim(text)), '\s+')) - 1),
              i -> concat_ws(' ',
                string_split_regex(lower(trim(text)), '\s+')[i],
                string_split_regex(lower(trim(text)), '\s+')[i+1],
                string_split_regex(lower(trim(text)), '\s+')[i+2]))) AS sh
          FROM surv),
        docs AS (SELECT doc_id, sh, len(sh) AS n_sh FROM t WHERE len(sh) > 0),
        inv AS (SELECT doc_id, n_sh, unnest(sh) AS s FROM docs),
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 a.n_sh AS n_a, b.n_sh AS n_b,
                 CAST(COUNT(*) AS BIGINT) AS n_shared
          FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2, 3, 4
          HAVING CAST(n_shared AS DOUBLE) / (n_a + n_b - n_shared) >= 0.2),
        edges AS (SELECT id_a AS id, id_b AS peer FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
        cc(id, lbl) AS (
          SELECT id, id AS lbl FROM (SELECT DISTINCT id FROM edges)
          UNION
          SELECT e.id, c.lbl FROM edges e JOIN cc c ON c.id = e.peer)
        SELECT id AS doc_id, CAST(MIN(lbl) AS BIGINT) AS cluster_id
        FROM cc GROUP BY id""")),

    // ── DURABLE erasure receipts (ErasureSweep.eraseDerivedLedgered +
    //    receiptStatus): the sweep's combined receipt persists into an
    //    append-only BaseDelta ledger — the GDPR audit trail surviving
    //    the session — and the readout joins it to the CURRENT
    //    per-artifact tombstone state: here the search tier is
    //    materialized after the ack (its 'pending' receipt row upgrades
    //    to current_status 'materialized') while the vector tier's
    //    ledger is still pending ──
    Q("q266_erasure_receipts",
      (s, d) => {
        val sst = Fixtures.search3Copy(s, d)
        val vst = Fixtures.vector3Copy(s, d)
        val ledger = Scratch.dir("q266-receipts") + "/r"
        val subjects = Tables.documents(s, d).select(col("doc_id").as("id"))
          .unionByName(Tables.embeddings(s, d).select(col("vec_id").as("id")))
          .filter(pmod(col("id"), lit(7)) === 2).distinct()
        graft.operators.ErasureSweep.eraseDerivedLedgered(s, ledger, 1L,
          subjects, search = Seq(sst), vector = Seq(vst), deferred = true)
        graft.gold.BaseDelta.materializeErasuresAll(s,
          Seq(sst.postingsTable, sst.docstatsTable, sst.positionsTable))
        graft.operators.ErasureSweep.receiptStatus(s, ledger,
            search = Seq(sst), vector = Seq(vst))
          .select(col("sweep_id"), col("artifact"), col("mode"),
            col("status"), col("current_status"), col("n_subject_rows"))
      },
      Some("""
        SELECT CAST(1 AS BIGINT) AS sweep_id, 'search_index' AS artifact,
               'deferred' AS mode, 'pending' AS status,
               'materialized' AS current_status,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
                WHERE doc_id % 7 = 2) AS n_subject_rows
        UNION ALL
        SELECT CAST(1 AS BIGINT), 'vector_index', 'deferred', 'pending',
               'pending',
               (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings
                WHERE vec_id % 7 = 2)""")),

    // ── the GDPR path END-TO-END from pure SQL (GraftExtensions
    //    procedure-shaped TVFs): erase_subjects acks the deferred
    //    erasure, materialize_erasures upgrades the pending ledgers,
    //    search_bm25 serves — no Scala in sight. The serve result is
    //    q251's exact semantics (the materialization changes bytes, not
    //    answers), so this shares q251's oracle verbatim ──
    Q("q267_sql_erase_subjects",
      (s, d) => {
        graft.functions.GraftExtensions.register(s)
        val st = Fixtures.search3Copy(s, d)
        Tables.documents(s, d).filter(pmod(col("doc_id"), lit(7)) === 2)
          .select(col("doc_id")).createOrReplaceTempView("subjects_q267")
        s.sql(s"""SELECT * FROM erase_subjects('search', '${st.root}',
          'subjects_q267', true)""").collect()
        s.sql(s"""SELECT * FROM materialize_erasures('search', '${st.root}')""")
          .collect()
        s.sql(s"""
          SELECT doc_id, n_terms, score
          FROM search_bm25('${st.root}', 'data,bank,account,risk')""")
      },
      Some("""
        WITH post AS (
          SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
          FROM documents WHERE doc_id % 7 <> 2),
        p2 AS (SELECT doc_id, tok FROM post WHERE length(tok) > 0),
        dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM p2 GROUP BY 1),
        st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                      CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
               FROM dl),
        tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
               FROM p2 WHERE tok IN ('data', 'bank', 'account', 'risk')
               GROUP BY 1, 2),
        df AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
        t AS (
          SELECT tf.doc_id,
                 floor(((ln((st.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
                          * (CAST(tf.tf AS DOUBLE) * (1.2 + 1.0))) /
                        (CAST(tf.tf AS DOUBLE) +
                          1.2 * ((1.0 - 0.75) + 0.75 * (CAST(dl.dl AS DOUBLE) / st.avgdl))))
                       * 1000000 + 0.5) / 1000000 AS t6
          FROM tf JOIN df USING (tok) JOIN dl USING (doc_id), st)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
               CAST(SUM(CAST(t6 AS DECIMAL(18,6))) AS DOUBLE) AS score
        FROM t GROUP BY 1""")),

    // ── the GOVERNANCE-HEALTH mart (ErasureSweep.governanceHealth): the
    //    ops single pane joining the erasure ledgers — receipts awaiting
    //    materialization, per-table tombstone backlogs vs budget, and
    //    marked-but-unrepaired clusters. Fixture: sweep 1 erases doc
    //    subjects from search+cluster (deferred) and the search tier is
    //    then fully materialized (its receipt must upgrade, its ledgers
    //    read 'clear'); sweep 2 erases vector subjects and stays pending.
    //    Every status/count is a deterministic function of the planted
    //    subject sets, so the whole mart rides the hard DuckDB gate; the
    //    pending-marker row's lifecycle (mark → repair → clear) is
    //    spec-pinned (GovernanceHealthSpec) since marker counts depend
    //    on cluster structure ──
    Q("q268_governance_health",
      (s, d) => {
        val sst = Fixtures.search3Copy(s, d)
        val vst = Fixtures.vector3Copy(s, d)
        val cst = Fixtures.cluster3Copy(s, d)
        val ledger = Scratch.dir("q268-receipts") + "/r"
        val docSubj = Tables.documents(s, d)
          .filter(pmod(col("doc_id"), lit(7)) === 2).select(col("doc_id"))
        val vecSubj = Tables.embeddings(s, d)
          .filter(pmod(col("vec_id"), lit(11)) === 3).select(col("vec_id"))
        graft.operators.ErasureSweep.eraseDerivedLedgered(s, ledger, 1L,
          docSubj, search = Seq(sst), cluster = Seq(cst), deferred = true)
        graft.gold.BaseDelta.materializeErasuresAll(s,
          Seq(sst.postingsTable, sst.docstatsTable, sst.positionsTable))
        graft.operators.ErasureSweep.eraseDerivedLedgered(s, ledger, 2L,
          vecSubj, vector = Seq(vst), deferred = true)
        graft.operators.ErasureSweep.governanceHealth(s, ledger,
          search = Seq(sst), vector = Seq(vst), cluster = Seq(cst))
          // root is a scratch path — drop it for the deterministic oracle
          // shape (the streaming pane keeps it as a key disambiguator)
          .drop("root")
      },
      Some("""
        WITH nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents
                    WHERE doc_id % 7 = 2),
        nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings
               WHERE vec_id % 11 = 3)
        SELECT 'receipt' AS component, 'search_index' AS artifact,
               'sweep_1' AS item, 'materialized' AS status,
               CAST(0 AS BIGINT) AS n_pending, 'ok' AS action
        UNION ALL
        SELECT 'receipt', 'cluster_index', 'sweep_1', 'pending',
               (SELECT n FROM nd), 'materialize'
        UNION ALL
        SELECT 'receipt', 'vector_index', 'sweep_2', 'pending',
               (SELECT n FROM nv), 'materialize'
        UNION ALL
        SELECT 'tombstone_ledger', 'search_index', 'postings', 'clear',
               CAST(0 AS BIGINT), 'ok'
        UNION ALL
        SELECT 'tombstone_ledger', 'search_index', 'docstats', 'clear',
               CAST(0 AS BIGINT), 'ok'
        UNION ALL
        SELECT 'tombstone_ledger', 'search_index', 'positions', 'clear',
               CAST(0 AS BIGINT), 'ok'
        UNION ALL
        SELECT 'tombstone_ledger', 'vector_index', 'postings', 'pending',
               (SELECT n FROM nv), 'scheduled'
        UNION ALL
        SELECT 'tombstone_ledger', 'cluster_index', 'postings', 'pending',
               (SELECT n FROM nd), 'scheduled'
        UNION ALL
        SELECT 'tombstone_ledger', 'cluster_index', 'clusters', 'clear',
               CAST(0 AS BIGINT), 'ok'
        UNION ALL
        SELECT 'repair_marker', 'cluster_index', 'marked_clusters', 'clear',
               CAST(0 AS BIGINT), 'ok'""")),

    // ── second modality (round-13 verdict #5): REAL RIFF/WAVE containers
    //    synthesized from the text (8 kHz mono 16-bit PCM, frame count a
    //    pure function of byte length — wavFromBytes), parsed back by the
    //    codegen'd AudioMeta expression walking the actual chunk bytes.
    //    The oracle recomputes EVERY header field from octet_length(text)
    //    — a parse that misreads fmt/data chunk layout, frame math, or
    //    container size hash-mismatches. Corrupt/truncated containers
    //    stay spec-pinned (OperatorsSpec golden headers). duration_ms is
    //    the same double expression on both sides (IEEE-deterministic). ──
    Q("q269_audio_meta",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), Multimodal.wavPayload(col("text")).as("payload"))
        .withColumn("m", Multimodal.audioMeta(col("payload")))
        .select(col("doc_id"),
          col("m.format").as("format"),
          col("m.n_channels").as("n_channels"),
          col("m.sample_rate").as("sample_rate"),
          col("m.bits_per_sample").as("bits_per_sample"),
          col("m.n_frames").as("n_frames"),
          col("m.n_bytes").as("n_bytes"),
          (col("m.n_frames").cast("double") / col("m.sample_rate") * 1000.0)
            .as("duration_ms")),
      Some("""
        WITH f AS (SELECT doc_id,
            16 + strlen(text) % 480 AS nf FROM documents)
        SELECT doc_id, 'wav' AS format, CAST(1 AS INTEGER) AS n_channels,
               CAST(8000 AS INTEGER) AS sample_rate,
               CAST(16 AS INTEGER) AS bits_per_sample,
               CAST(nf AS BIGINT) AS n_frames,
               CAST(44 + nf * 2 AS INTEGER) AS n_bytes,
               CAST(nf AS DOUBLE) / 8000 * 1000.0 AS duration_ms
        FROM f""")),

    // ── interleaved image-text corpus stats (round-13 verdict #5): a
    //    media side-table synthesized from documents (doc k carries
    //    doc_id%4 REAL PNG images; every (doc_id+seq)%3=0 image has a
    //    caption), aggregated back to per-doc multimodal coverage — the
    //    images-per-doc / caption-coverage profile an interleaved
    //    pretraining mix needs. Counting fields are SQL-derivable and
    //    oracle-pinned exactly; the decode law (every synthesized payload
    //    parses as a real PNG container via the codegen'd MediaMeta) is
    //    pinned as the all_decoded_png boolean. Payload bytes never
    //    reach the aggregate — metadata-only columns flow, the 100 TB
    //    layout contract. ──
    Q("q270_interleaved_corpus",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val media = docs
          .select(col("doc_id"), col("text"),
            posexplode(array_repeat(lit(1),
              pmod(col("doc_id"), lit(4)).cast("int"))))
          .select(col("doc_id"), col("text"), col("pos").as("seq"))
          .withColumn("payload",
            Multimodal.pngPayload(concat(col("text"), lit("#"), col("seq"))))
          .withColumn("caption",
            when(pmod(col("doc_id") + col("seq"), lit(3)) === 0,
              substring(col("text"), 1, 16)))
        val agg = media
          .withColumn("fmt",
            Multimodal.mediaMeta(col("payload")).getField("format"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_images"),
            count(col("caption")).as("n_captioned"),
            bool_and(col("fmt") === "png").as("all_png"))
        docs.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_images"), lit(0L)).as("n_images"),
            coalesce(col("n_captioned"), lit(0L)).as("n_captioned"),
            when(coalesce(col("n_images"), lit(0L)) === 0, lit(0.0))
              .otherwise(floor(col("n_captioned").cast("double")
                / col("n_images") * 1e6 + 0.5) / 1e6)
              .as("caption_coverage"),
            coalesce(col("all_png"), lit(true)).as("all_decoded_png"))
      },
      Some("""
        WITH m AS (
          SELECT doc_id, u.seq
          FROM documents,
               LATERAL (SELECT unnest(range(0, doc_id % 4)) AS seq) u),
        a AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_images,
                 CAST(SUM(CASE WHEN (doc_id + seq) % 3 = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_captioned
          FROM m GROUP BY 1)
        SELECT d.doc_id,
               COALESCE(a.n_images, 0) AS n_images,
               COALESCE(a.n_captioned, 0) AS n_captioned,
               CASE WHEN COALESCE(a.n_images, 0) = 0 THEN 0.0
                    ELSE floor(CAST(a.n_captioned AS DOUBLE)
                      / a.n_images * 1000000 + 0.5) / 1000000
               END AS caption_coverage,
               TRUE AS all_decoded_png
        FROM documents d LEFT JOIN a USING (doc_id)""")),

    // ── third modality (video): REAL ISO-BMFF/MP4 containers synthesized
    //    from the text (full moov tree — mvhd/tkhd/mdhd/hdlr/stbl — every
    //    parsed field a pure function of octet_length(text); mp4FromBytes),
    //    parsed back by the codegen'd VideoMeta expression doing an actual
    //    nested box walk (largesize/size-0/corruption-rejecting). The
    //    oracle recomputes EVERY field from strlen — a walk that misreads
    //    box nesting, 16.16 fixed-point size, v0 field offsets, or stsz
    //    hash-mismatches. v1/largesize/corrupt layouts are spec-pinned
    //    (OperatorsSpec hand-built boxes). ──
    Q("q271_video_meta",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), Multimodal.mp4Payload(col("text")).as("payload"))
        .withColumn("m", Multimodal.videoMeta(col("payload")))
        .select(col("doc_id"),
          col("m.format").as("format"),
          col("m.major_brand").as("major_brand"),
          col("m.timescale").as("timescale"),
          col("m.duration").as("duration"),
          col("m.width").as("width"),
          col("m.height").as("height"),
          col("m.n_samples").as("n_samples"),
          col("m.n_bytes").as("n_bytes"),
          (col("m.duration").cast("double") / col("m.timescale"))
            .as("duration_s")),
      Some("""
        WITH f AS (SELECT doc_id, strlen(text) AS l FROM documents)
        SELECT doc_id, 'mp4' AS format, 'isom' AS major_brand,
               CAST(25 AS INTEGER) AS timescale,
               CAST(25 + l % 480 AS BIGINT) AS duration,
               CAST(160 + l % 320 AS INTEGER) AS width,
               CAST(120 + l % 240 AS INTEGER) AS height,
               CAST(25 + l % 480 AS BIGINT) AS n_samples,
               CAST(438 + l % 480 AS INTEGER) AS n_bytes,
               CAST(25 + l % 480 AS DOUBLE) / 25 AS duration_s
        FROM f""")),

    // ── frame sampling over the video tier: every-4th-frame ids from the
    //    PARSED sample count. The stride is pushed INTO the generator
    //    (sequence(0, n-1, 4)) instead of explode-then-filter — at 100 TB
    //    the difference is generating n/4 rows vs n rows then discarding
    //    3/4 of them; payload bytes are projected away before the explode
    //    so only (doc_id, n_samples) rides the generate. ──
    Q("q272_frame_sample",
      (s, d) => {
        val v = Tables.documents(s, d)
          .select(col("doc_id"), Multimodal.mp4Payload(col("text")).as("payload"))
          .select(col("doc_id"),
            Multimodal.videoMeta(col("payload")).getField("n_samples")
              .as("n_samples"))
        v.select(col("doc_id"), col("n_samples"),
            explode(sequence(lit(0L), col("n_samples") - 1, lit(4L)))
              .as("frame_id"))
          .groupBy(col("doc_id"), col("n_samples"))
          .agg(count(lit(1)).as("n_sampled"),
            max(col("frame_id")).as("last_frame"))
          .select(col("doc_id"), col("n_samples"), col("n_sampled"),
            col("last_frame"))
      },
      Some("""
        WITH f AS (SELECT doc_id,
            25 + strlen(text) % 480 AS n FROM documents)
        SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
               CAST(floor((n - 1) / 4.0) + 1 AS BIGINT) AS n_sampled,
               CAST(floor((n - 1) / 4.0) * 4 AS BIGINT) AS last_frame
        FROM f""")),

    // ── the LSH-bucketed ANN scale path (data-independent counterpart
    //    of q29's IVF and q115's IVF→PQ→rerank — no centroid training,
    //    so it can't be outgrown the way q115's codebook was). ORACLE-
    //    VISIBLE via the q25 planted-twin recipe: every query's exact
    //    twin (vec_id + 1e6, identical embedding) collides in EVERY
    //    hash table by construction, so twin_rank = 1 / twin_cosine =
    //    1.0 is a theorem, not a tuning; the fixture's max true cosine
    //    (~0.51) can't outrank it. Intermediate-similarity recall is
    //    spec-verified on a clustered fixture (OperatorsSpec). ──
    Q("q273_ann_lsh",
      (s, d) => {
        val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
        val corpus = emb.unionByName(emb.select(
          (col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
        val q = emb.filter(col("vec_id") < 20)
        val approx = Similarity.lshTopK(q, corpus, "vec_id", "embedding",
          k = 5, numTables = 8, numPlanes = 8)
        approx.groupBy(col("query_id"))
          .agg(count(lit(1)).as("n_rows"),
            max(when(col("neighbor_id") === col("query_id") + 1000000L,
              col("rank"))).as("twin_rank"),
            max(when(col("neighbor_id") === col("query_id") + 1000000L,
              col("cosine"))).as("twin_cosine"),
            max((col("neighbor_id") === col("query_id")).cast("int")).as("__slf"))
          .select(col("query_id"), col("n_rows"), col("twin_rank"),
            col("twin_cosine"), (col("__slf") === 0).as("self_excluded"))
      },
      Some("""
        SELECT vec_id AS query_id, CAST(5 AS BIGINT) AS n_rows,
               CAST(1 AS INTEGER) AS twin_rank,
               CAST(1.0 AS DOUBLE) AS twin_cosine,
               TRUE AS self_excluded
        FROM embeddings WHERE vec_id < 20""")),

    // ── q273's PERSISTED form (LshVectorIndex): the index folds in
    //    three batches, then serves from state — no corpus recompute.
    //    numPlanes = 0 puts every vector in one bucket, making the
    //    serve EXACTLY brute-force top-k (the nProbe = nCells role for
    //    IVF, q244), so the whole fold→serve path is pinned by the
    //    same SQL-expressible exact-cosine oracle ──
    Q("q274_lsh_index",
      (s, d) => {
        val root = Scratch.dir("q274-lshidx") + "/s"
        val st = graft.operators.LshVectorIndex.State(root)
        val emb = Tables.embeddings(s, d)
        Seq(emb.filter(col("vec_id") % 3 === 0),
          emb.filter(col("vec_id") % 3 === 1),
          emb.filter(col("vec_id") % 3 === 2)).zipWithIndex.foreach {
          case (b, i) => graft.operators.LshVectorIndex.fold(s, st, b,
            i.toLong, "vec_id", "embedding", numTables = 4, numPlanes = 0)
        }
        graft.operators.LshVectorIndex.topK(s, st,
          emb.filter(col("vec_id") < 20), "vec_id", "embedding", k = 5)
      },
      Some("""
        WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                   FROM embeddings WHERE vec_id < 20),
        scored AS (
          SELECT query_id, vec_id AS neighbor_id,
                 round(list_dot_product(qv, embedding::DOUBLE[]) /
                   (sqrt(list_dot_product(qv, qv)) *
                    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 6) AS cosine
          FROM embeddings, q WHERE vec_id <> query_id)
        SELECT query_id, neighbor_id, cosine,
               CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER) AS rank
        FROM scored
        QUALIFY rank <= 5""")),

    // ── right-to-erasure ON the persisted LSH index, oracle-pinned via
    //    the planted-twin theorem: every query's identical twin
    //    (vec_id + 1e6) collides in every table; odd queries' twins are
    //    then ACKED via the deferred-erasure ledger (no physical
    //    rewrite), so the serve law is exact — even queries see their
    //    twin at rank 1, odd queries must not see it at all ──
    Q("q275_lsh_erase_serve",
      (s, d) => {
        val root = Scratch.dir("q275-lshidx") + "/s"
        val st = graft.operators.LshVectorIndex.State(root)
        val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
        val twins = emb.select(
          (col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
        graft.operators.LshVectorIndex.fold(s, st, emb, 0L,
          "vec_id", "embedding", numTables = 8, numPlanes = 8)
        graft.operators.LshVectorIndex.fold(s, st, twins, 1L,
          "vec_id", "embedding", numTables = 8, numPlanes = 8)
        graft.operators.LshVectorIndex.eraseLogical(s, st,
          emb.filter(col("vec_id") < 20 && col("vec_id") % 2 === 1)
            .select((col("vec_id") + 1000000L).as("vec_id")))
        val served = graft.operators.LshVectorIndex.topK(s, st,
          emb.filter(col("vec_id") < 20), "vec_id", "embedding", k = 5)
        val summary = served.groupBy(col("query_id"))
          .agg(max(when(col("neighbor_id") === col("query_id") + 1000000L,
            col("rank"))).as("__twin_rank"),
            max((col("neighbor_id") === col("query_id")).cast("int")).as("__slf"))
        emb.filter(col("vec_id") < 20).select(col("vec_id").as("query_id"))
          .join(summary, Seq("query_id"), "left")
          .select(col("query_id"),
            col("__twin_rank").isNotNull.as("twin_served"),
            coalesce(col("__twin_rank") === 1, lit(true))
              .as("twin_at_top_when_served"),
            coalesce(col("__slf") === 0, lit(true)).as("self_excluded"))
      },
      Some("""
        SELECT vec_id AS query_id,
               (vec_id % 2 = 0) AS twin_served,
               TRUE AS twin_at_top_when_served,
               TRUE AS self_excluded
        FROM embeddings WHERE vec_id < 20""")),

    // ── the persisted LSH index from pure SQL (lsh_topk TVF over the
    //    cached exact-mode fixture) — the q261 recipe for the new tier:
    //    serve plan identical to the Scala API's, raw corpus never read
    //    at query time, brute-force oracle via numPlanes = 0 ──
    Q("q276_sql_tvf_lsh",
      (s, d) => {
        val st = Fixtures.lsh3(s, d)
        graft.functions.GraftExtensions.register(s)
        Tables.embeddings(s, d).filter(col("vec_id") < 20)
          .createOrReplaceTempView("lsh_queries_tvf")
        s.sql(s"""
          SELECT query_id, neighbor_id, cosine, rank
          FROM lsh_topk('${st.root}', 'lsh_queries_tvf',
                        'vec_id', 'embedding', 5)""")
      },
      Some("""
        WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                   FROM embeddings WHERE vec_id < 20),
        scored AS (
          SELECT query_id, vec_id AS neighbor_id,
                 round(list_dot_product(qv, embedding::DOUBLE[]) /
                   (sqrt(list_dot_product(qv, qv)) *
                    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 6) AS cosine
          FROM embeddings, q WHERE vec_id <> query_id)
        SELECT query_id, neighbor_id, cosine,
               CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER) AS rank
        FROM scored
        QUALIFY rank <= 5""")),

    // ── the GDPR loop on the LSH tier from pure SQL (q267's recipe):
    //    erase_subjects('lsh_vector', …, deferred) acks through the
    //    tombstone ledgers, materialize_erasures upgrades them, and the
    //    post-erasure lsh_topk serve must equal brute force over the
    //    SURVIVORS — erased vectors gone as neighbors, exact mode makes
    //    the whole readout SQL-expressible ──
    Q("q277_sql_lsh_erase",
      (s, d) => {
        graft.functions.GraftExtensions.register(s)
        val st = Fixtures.lsh3Copy(s, d)
        Tables.embeddings(s, d).filter(pmod(col("vec_id"), lit(7)) === 2)
          .select(col("vec_id")).createOrReplaceTempView("subjects_q277")
        s.sql(s"""SELECT * FROM erase_subjects('lsh_vector', '${st.root}',
          'subjects_q277', true)""").collect()
        s.sql(s"""SELECT * FROM materialize_erasures('lsh_vector',
          '${st.root}')""").collect()
        Tables.embeddings(s, d).filter(col("vec_id") < 20)
          .createOrReplaceTempView("lsh_queries_q277")
        s.sql(s"""
          SELECT query_id, neighbor_id, cosine, rank
          FROM lsh_topk('${st.root}', 'lsh_queries_q277',
                        'vec_id', 'embedding', 5)""")
      },
      Some("""
        WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                   FROM embeddings WHERE vec_id < 20),
        corp AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 7 <> 2),
        scored AS (
          SELECT query_id, vec_id AS neighbor_id,
                 round(list_dot_product(qv, embedding::DOUBLE[]) /
                   (sqrt(list_dot_product(qv, qv)) *
                    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 6) AS cosine
          FROM corp, q WHERE vec_id <> query_id)
        SELECT query_id, neighbor_id, cosine,
               CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER) AS rank
        FROM scored
        QUALIFY rank <= 5""")),

    // ── concat-and-chunk sequence packing (Sampling.packSequences): the
    //    pretraining layout — fixed 512-token context windows cut from
    //    the shard-concatenated token stream, one segment row per
    //    (document, chunk) with exact token coordinates. Pure function
    //    of (doc_id, token count) → fully SQL-expressible: the oracle
    //    recomputes the same salted-hash shard/order, running cumsum,
    //    and boundary-straddle explode ──
    Q("q278_pack_sequences",
      (s, d) => {
        val lens = Tables.documents(s, d)
          .withColumn("tok_len", size(TextAnalysis.tokens(col("text"))))
        operators.Packing.packSegments(lens, "doc_id", "tok_len",
          capacity = 512, nShards = 8)
      },
      Some("""
        WITH lens AS (
          SELECT doc_id,
                 CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS tok_len
          FROM documents),
        p AS (
          SELECT doc_id, tok_len,
                 CAST(('0x' || substr(md5(doc_id::VARCHAR || 'pack-shard'), 1, 8))::UBIGINT
                        % 8 AS BIGINT) AS shard,
                 ('0x' || substr(md5(doc_id::VARCHAR || 'pack-pos'), 1, 8))::UBIGINT
                   / 4294967296.0 AS r
          FROM lens WHERE tok_len > 0),
        o AS (
          SELECT doc_id, tok_len, shard,
                 CAST(row_number() OVER (PARTITION BY shard
                   ORDER BY r ASC, doc_id ASC) AS BIGINT) AS pos,
                 CAST(SUM(tok_len) OVER (PARTITION BY shard
                   ORDER BY r ASC, doc_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS e
          FROM p),
        seg AS (
          SELECT doc_id, shard, pos, e - tok_len AS s, e,
                 unnest(generate_series((e - tok_len) // 512, (e - 1) // 512)) AS chunk
          FROM o)
        SELECT doc_id, shard, pos, chunk,
               GREATEST(s - chunk * 512, 0) AS chunk_offset,
               GREATEST(chunk * 512 - s, 0) AS seg_start,
               LEAST(e, chunk * 512 + 512) - GREATEST(s, chunk * 512) AS seg_len
        FROM seg""")),

    // ── packing audit (Sampling.packingStats): per-shard chunk/token
    //    totals, straddle counts, and the fill ratio — 1.0 everywhere
    //    except each shard's final partial chunk by construction, so
    //    the layout's only waste is nShards tails. Output bounded by
    //    nShards ──
    Q("q279_packing_stats",
      (s, d) => {
        val lens = Tables.documents(s, d)
          .withColumn("tok_len", size(TextAnalysis.tokens(col("text"))))
        operators.Packing.packStats(
          operators.Packing.packSegments(lens, "doc_id", "tok_len",
            capacity = 512, nShards = 8),
          capacity = 512)
      },
      Some("""
        WITH lens AS (
          SELECT doc_id,
                 CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS tok_len
          FROM documents),
        p AS (
          SELECT doc_id, tok_len,
                 CAST(('0x' || substr(md5(doc_id::VARCHAR || 'pack-shard'), 1, 8))::UBIGINT
                        % 8 AS BIGINT) AS shard,
                 ('0x' || substr(md5(doc_id::VARCHAR || 'pack-pos'), 1, 8))::UBIGINT
                   / 4294967296.0 AS r
          FROM lens WHERE tok_len > 0),
        o AS (
          SELECT doc_id, tok_len, shard,
                 CAST(SUM(tok_len) OVER (PARTITION BY shard
                   ORDER BY r ASC, doc_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS e
          FROM p),
        seg AS (
          SELECT doc_id, shard, e - tok_len AS s, e,
                 unnest(generate_series((e - tok_len) // 512, (e - 1) // 512)) AS chunk
          FROM o),
        segc AS (
          SELECT shard, chunk,
                 GREATEST(chunk * 512 - s, 0) AS seg_start,
                 LEAST(e, chunk * 512 + 512) - GREATEST(s, chunk * 512) AS seg_len
          FROM seg)
        SELECT shard,
               CAST(COUNT(DISTINCT chunk) AS BIGINT) AS n_chunks,
               CAST(COUNT(*) AS BIGINT) AS n_segments,
               CAST(SUM(CASE WHEN seg_start > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_straddles,
               CAST(SUM(seg_len) AS BIGINT) AS total_tokens,
               round(CAST(SUM(seg_len) AS DOUBLE) /
                 (COUNT(DISTINCT chunk) * 512.0), 6) AS fill_ratio
        FROM segc GROUP BY 1""")),

    // ── boundary-respecting greedy packing (packGreedyNoSplit): next-fit
    //    with NO document splits — the layout when a doc must never
    //    straddle a context window. History-dependent running fill →
    //    the documented mapPartitions scan on the Spark side; the oracle
    //    walks the same per-shard order with a recursive CTE, so every
    //    chunk assignment and offset is pinned exactly ──
    Q("q280_pack_nosplit",
      (s, d) => {
        val lens = Tables.documents(s, d)
          .withColumn("tok_len", size(TextAnalysis.tokens(col("text"))))
        operators.Packing.packNoSplit(lens, "doc_id", "tok_len",
          capacity = 512, nShards = 8)
      },
      Some("""
        WITH RECURSIVE lens AS (
          SELECT doc_id,
                 CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS tok_len
          FROM documents),
        p AS (
          SELECT doc_id, tok_len,
                 CAST(('0x' || substr(md5(doc_id::VARCHAR || 'pack-shard'), 1, 8))::UBIGINT
                        % 8 AS BIGINT) AS shard,
                 ('0x' || substr(md5(doc_id::VARCHAR || 'pack-pos'), 1, 8))::UBIGINT
                   / 4294967296.0 AS r
          FROM lens WHERE tok_len > 0),
        o AS (
          SELECT doc_id, tok_len, shard,
                 CAST(row_number() OVER (PARTITION BY shard
                   ORDER BY r ASC, doc_id ASC) AS BIGINT) AS pos
          FROM p),
        walk AS (
          SELECT doc_id, shard, pos, tok_len,
                 CAST(0 AS BIGINT) AS chunk, CAST(0 AS BIGINT) AS chunk_offset
          FROM o WHERE pos = 1
          UNION ALL
          SELECT o.doc_id, o.shard, o.pos, o.tok_len,
                 CASE WHEN w.chunk_offset + w.tok_len + o.tok_len > 512
                      THEN w.chunk + 1 ELSE w.chunk END,
                 CASE WHEN w.chunk_offset + w.tok_len + o.tok_len > 512
                      THEN CAST(0 AS BIGINT)
                      ELSE w.chunk_offset + w.tok_len END
          FROM walk w JOIN o ON o.shard = w.shard AND o.pos = w.pos + 1)
        SELECT doc_id, shard, pos, chunk, chunk_offset, tok_len FROM walk"""))
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap

  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(sql => q.name -> sql.trim.replaceAll("\\s+", " "))).toMap
}
