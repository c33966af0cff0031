package graft

import org.apache.spark.sql.functions._

/** Measurements behind published figures (not part of the driver
  * contract). Each mode generates its own synthetic input:
  *  - `scale`: the batch-core operators over 10M synthetic CDC rows
  *    (README, "Measured vs the reference's published numbers");
  *  - `sinks`: the per-micro-batch merge cost of the two sink tiers
  *    (same README section);
  *  - `fold-width`: single width (interpreted and with codegen) against
  *    session width for the per-batch folds, the measurement behind
  *    [[Width.FoldRows]].
  *
  * Usage: runMain graft.Perf <scale|sinks|fold-width>. The mode is the
  * last argument, so a leading sfDir argument is accepted and ignored.
  */
object Perf {
  val Modes: Seq[String] = Seq("scale", "sinks", "fold-width")

  def main(args: Array[String]): Unit = {
    val what = args.lastOption.getOrElse("")
    require(Modes.contains(what),
      s"usage: graft.Perf <${Modes.mkString("|")}> (got '$what')")
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")

    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"PERF $name: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
    }

    if (what == "scale") {
      // 10M-row synthetic CDC stress of the core stateful operators —
      // validates the shuffle/plan shapes hold beyond the sf0.1 testdata
      val n = 10000000L
      val txns = sources.Synthetic.transactions(spark, n, nAccounts = 1000000)
      time("scale-generate-count")(txns.count())
      time("scale-dedup-latest") {
        silver.Staging.dedupLatest(txns, Seq("account_id"),
          Seq(col("created_at").desc, col("id").desc)).count()
      }
      time("scale-dedup-maxby") {
        silver.Staging.dedupLatestByMax(txns, Seq("account_id"),
          Seq("created_at", "id")).count()
      }
      time("scale-upsert") {
        val existing = txns.filter(col("id") % 2 === 0)
        val incoming = txns.filter(col("id") % 3 === 0)
        gold.UpsertByKey(existing, incoming, Seq("id"), Seq(col("created_at").desc)).count()
      }
      time("scale-scd2-changelog") {
        gold.Scd2Merge.fromChangeLog(
          txns.limit(2000000), Seq("account_id"), "created_at", Seq("id")).count()
      }
      time("scale-agg") {
        txns.groupBy(col("account_id")).agg(
          sum(col("amount").cast("decimal(18,2)")).as("t"), count(lit(1)).as("n"))
          .agg(sum(col("n"))).head().getLong(0)
      }
    }
    if (what == "sinks") {
      // per-micro-batch merge cost of the two sink tiers, same 5M-row
      // fact spread over 30 date partitions, same 50k-row batch touching
      // exactly ONE partition: whole-table publish is O(table), base+delta
      // O(batch)
      val root = Scratch.dir("sinks")
      val n = 5000000L
      val fact = sources.Synthetic.transactions(spark, n, nAccounts = 500000)
        .withColumn("part_date", to_date(
          date_add(lit("2024-01-01").cast("date"), pmod(col("id"), lit(30)).cast("int"))))
      val batch = fact.filter(col("part_date") === lit("2024-01-01").cast("date"))
        .limit(50000)
        .withColumn("amount", col("amount") + 1.0)
      batch.cache().count()
      val keys = Seq("id"); val ord = Seq("created_at", "id")
      // tier 1: whole-table rewrite, committed through the snapshot pointer
      val whole = root + "/whole"
      gold.SnapshotStore.publish(fact, whole)
      time("sink-whole-table") {
        gold.SnapshotStore.publish(gold.UpsertByKey.byMax(
          gold.SnapshotStore.read(spark, whole), batch, keys, ord), whole)
        gold.SnapshotStore.read(spark, whole).count()
      }
      // tier 2: base+delta append (write cost) + merge-on-read (read cost)
      val bdTable = gold.BaseDelta.Table(root + "/bd", keys, ord)
      gold.BaseDelta.append(spark, bdTable, fact, 0L)
      gold.BaseDelta.compact(spark, bdTable)
      time("sink-basedelta-append") {
        gold.BaseDelta.append(spark, bdTable, batch, 1L); 1L
      }
      time("sink-basedelta-read")(gold.BaseDelta.read(spark, bdTable).count())
    }
    if (what == "fold-width") {
      // where a per-batch fold stops gaining from single-partition width:
      // the same coordinator fold (an SCD2 dim, a DeltaFact, the FK audit)
      // and marts fold at Width.Single (interpreted: `interp`), at single
      // width with codegen (`codegen`) and at Width.Session over batches
      // of B rows, three batches per root (maxDeltas 2, as the CDC
      // benchmark keeps: the third batch compacts); each line reports the
      // rows the fold reads (batch + committed state, footer counts). The
      // widths' order rotates per size.
      import graft.streaming.MultiTableStream
      import graft.streaming.MultiTableStream.{DeltaFact, Scd2Dim}
      val dimSpec = Scd2Dim("accounts", "acct", Seq("account_id"),
        Seq("account_type"), "ts", tieBreak = Seq("seq"))
      val dFact = DeltaFact("txns", "txn", Seq("txn_id"), Seq("seq"),
        maxDeltas = 2)
      val fk = MultiTableStream.fkAudit("txns", "account_id", "accounts",
        "account_id")
      // batch b of size n: n/10 dim rows, one new version of every
      // account (17 is coprime to every n/10 used), the rest facts
      def mtsBatch(n: Long, b: Long): org.apache.spark.sql.DataFrame = {
        val nDim = n / 10
        val base = timestamp_seconds(lit(1704067200L + b * 86400L))
        val facts = spark.range(b * n, b * n + n - nDim)
          .select(lit("txn").as("route"), (col("id") % nDim).as("account_id"),
            col("id").as("txn_id"), lit(null).cast("string").as("account_type"),
            (col("id") % 997L).cast("double").as("amount"), col("id").as("seq"),
            base.as("ts"))
        val dims = spark.range(nDim)
          .select(lit("acct").as("route"),
            ((col("id") * 17L + lit(b)) % nDim).as("account_id"),
            lit(-1L).as("txn_id"),
            concat(lit("T"), lit(b), lit("_"), col("id") % 3).as("account_type"),
            lit(0.0).as("amount"), (lit(b * n) + col("id")).as("seq"),
            base.as("ts"))
        facts.unionByName(dims)
      }
      def martBatch(n: Long, b: Long) = spark.range(b * n, (b + 1) * n)
        .select(pmod(hash(col("id")), lit(math.max(n / 5, 1000L))).cast("long")
            .as("user_id"),
          concat(lit("t"), pmod(col("id"), lit(5)).cast("string")).as("event_type"),
          to_timestamp(lit("2024-01-01 00:00:00"))
            .plus(expr(s"make_interval(0,0,0,0,0,0, pmod(hash(id * 7), ${86400L * 56}))"))
            .as("ts"),
          (pmod(hash(col("id") * 13), lit(10000)) / lit(100.0)).as("value"))
      // the first size is an untimed warm-up: a JVM's first fold pays
      // class loading and JIT at whichever width runs it
      val sizes = Seq(10000L, 50000L, 100000L, 150000L, 250000L, 500000L,
        1000000L)
      for ((n, i) <- sizes.zipWithIndex) {
        val widths = Seq[(Width, String)](Width.Single -> "interp",
          Width.SingleCompiled -> "codegen", Width.Session -> "session")
        for ((w, mode) <- widths.drop(i % 3) ++ widths.take(i % 3)) {
          val tag = mode + (if (i == 0) "-warmup" else "")
          val root = Scratch.dir(s"perf-fw-mts-$n-$tag") + "/r"
          for (b <- 0L until 3L) {
            val read = n + gold.MultiSnapshot.currentCommit(spark, root).fold(0L)(c =>
              gold.MultiSnapshot.storedRows(spark, root, c, Seq("accounts"))) +
              gold.BaseDelta.storedRows(spark, dFact.deltaTable(root))
            val batch = mtsBatch(n, b)
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            batch.count()
            time(s"fw-mts-$tag-n$n-b$b-read$read") {
              MultiTableStream.foldBatchSized(spark, root, batch, "route",
                Seq(dimSpec), Seq.empty, b, Seq(dFact), Seq(fk),
                gold.BaseDelta.DefaultTombstoneBudget, _ => w)
              read
            }
            batch.unpersist()
          }
          val mart = gold.AnalystMarts.Mart(Scratch.dir(s"perf-fw-mart-$n-$tag") + "/m")
          for (b <- 0L until 3L) {
            val read = n + gold.BaseDelta.storedRows(spark, mart.activityTable) +
              gold.SnapshotStore.storedRows(spark, mart.aggStatePath)
            val batch = martBatch(n, b)
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            batch.count()
            time(s"fw-mart-$tag-n$n-b$b-read$read") {
              gold.AnalystMarts.foldBatchSized(spark, batch, mart, b, 2, _ => w)
              read
            }
            batch.unpersist()
          }
        }
      }
    }
    spark.stop()
  }
}
