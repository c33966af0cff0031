package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scratch micro-benchmark entry point for plan iteration (not part of the
  * driver contract). Usage: runMain graft.Perf <sfDir> <what>
  */
object Perf {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val what = if (args.length > 1) args(1) else "all"
    // SPARK_GRAFT_CPUS: constrained-memory soaks vary memory-per-core by
    // holding the heap (SPARK_DRIVER_MEM) and varying task slots — the
    // production sizing lever is MB/core, not MB/JVM.
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // under very tight heaps the spill READERS' 1 MB read-ahead buffers
    // (one per open spill file, unmanaged by the task memory manager)
    // are what actually OOM — disabling read-ahead trades sequential-read
    // throughput for a hard memory bound (SPARK_GRAFT_NO_READAHEAD=1)
    val spark = (if (sys.env.contains("SPARK_GRAFT_NO_READAHEAD"))
      b.config("spark.unsafe.sorter.spill.read.ahead.enabled", "false")
    else b).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"PERF $name: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
    }

    val docs = Tables.documents(spark, d)
    if (what == "all" || what == "shingles")
      time("shingles-only") {
        docs.select(operators.Dedup.shingles(col("text"), 3).as("sh"))
          .select(sum(size(col("sh")))).head().getLong(0)
      }
    if (what == "all" || what == "minhash")
      time("minhash-sig-only") {
        docs.select(graft.functions.HashFunctions.minhash(
          operators.Dedup.shingles(col("text"), 3), 32).as("sig"))
          .select(sum(size(col("sig")))).head().getLong(0)
      }
    if (what == "all" || what == "q21")
      time("q21-full")(operators.Dedup.minHashLsh(docs, "doc_id", "text",
        bands = 16, rowsPerBand = 2, minEstJaccard = 0.25).count())
    if (what == "all" || what == "q23")
      time("q23-full")(operators.Dedup.ngramJaccard(docs, "doc_id", "text",
        k = 3, threshold = 0.01).count())
    if (what == "bcl") {
      // isolate BoundedCollectList vs plain collect_list on the q23 bucket shape
      val inv = docs.select(col("doc_id").as("id"),
          operators.Dedup.shingles(col("text"), 3).as("sh"))
        .filter(size(col("sh")) > 0).withColumn("n_sh", size(col("sh")))
        .select(col("id"), col("n_sh"), explode(expr("transform(sh, s -> xxhash64(s))")).as("s"))
      for (rep <- 1 to 2) {
        time(s"collect_list-r$rep")(inv.groupBy(col("s"))
          .agg(sort_array(collect_list(struct(col("id"), col("n_sh")))).as("ms"))
          .filter(size(col("ms")) > 1).select(sum(size(col("ms")))).head().getLong(0))
        time(s"bounded-r$rep")(inv.groupBy(col("s"))
          .agg(sort_array(graft.functions.BoundedCollectList.column(
            struct(col("id"), col("n_sh")), 4096)).as("ms"))
          .filter(col("ms").isNotNull && size(col("ms")) > 1)
          .select(sum(size(col("ms")))).head().getLong(0))
      }
    }
    if (what == "q23cmp")
      for (t <- Seq(0.2, 0.01); pf <- Seq(true, false); rep <- 1 to 2)
        time(s"q23-t$t-prefix$pf-r$rep")(operators.Dedup.ngramJaccard(
          docs, "doc_id", "text", k = 3, threshold = t, prefixFilter = pf).count())
    if (what == "q35") {
      time("q35-dedup-only")(operators.Dedup.exactKeepFirst(docs, "doc_id", "text").count())
      time("q35-quality-only")(operators.TextAnalysis.quality(docs, "text")
        .agg(sum(col("n_tokens"))).head().getLong(0))
      time("q35-langid-only")(operators.TextAnalysis.langId(docs, "text")
        .groupBy(col("lang_pred")).count().count())
      time("q35-full")(Queries.queries("q35_corpus_pipeline")(spark, d).count())
      time("q35-full-again")(Queries.queries("q35_corpus_pipeline")(spark, d).count())
    }
    if (what == "stream") {
      // end-to-end streaming ingest throughput: envelope JSON → parse →
      // date-partitioned bronze parquet with checkpoint (the reference's
      // whole Kafka→consumer→MinIO path, readme baseline: 100 msg/s)
      import java.nio.file.{Files, Paths}
      val n = 500000L
      val in = Scratch.dir("st-in")
      val bronze = Scratch.dir("st-bronze") + "/tx"
      val ckpt = Scratch.dir("st-ckpt")
      sources.Synthetic.asEnvelopes(
          sources.Synthetic.transactions(spark, n, nAccounts = 10000), "transactions")
        .repartition(20)
        .write.mode("overwrite").text(in)
      val t0 = System.nanoTime()
      val q = streaming.CdcStream.toBronze(
        streaming.CdcStream.fromJsonFiles(spark, in, model.Schemas.transactions,
          maxFilesPerTrigger = 4).drop(cdc.Envelope.CorruptCol),
        bronze, ckpt,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      q.processAllAvailable(); q.stop()
      val secs = (System.nanoTime() - t0) / 1e9
      val rows = spark.read.parquet(bronze).count()
      println(f"PERF stream-ingest: $rows rows in $secs%.1f s = ${rows / secs}%.0f rows/s")
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
    // synthetic 10M-doc corpus for the LLM-operator stress: ~10% exact
    // duplicates (so LSH finds real pairs), two boilerplate shingles per
    // doc ("terms of service", "of service apply" — the realistic hot-
    // bucket shape the DF cut must absorb), and key-derived tokens
    // interleaved so the remaining shingles are doc-specific
    def syntheticDocs(n: Long) = {
      val key = when(col("id") < n / 10, col("id") % (n / 20)).otherwise(col("id"))
      spark.range(n).select(col("id"),
        concat_ws(" ", lit("terms of service apply"), key,
          lit("alpha"), pmod(key, lit(9973L)), lit("beta"), pmod(key, lit(97L)),
          lit("gamma"), pmod(key, lit(13L))).as("text"))
    }
    if (what == "docsdist") {
      // natural-corpus bucket maxima: how hot do shingle/band buckets get
      // on the harness documents table (bounds a safe DefaultMaxBucket)
      val inv = docs.select(col("doc_id"),
        explode(operators.Dedup.shingles(col("text"), 3)).as("sh"))
      println("DOCSDIST max-shingle-df: " + inv.groupBy(col("sh")).count()
        .agg(max(col("count"))).head().getLong(0))
      val sigs = docs.select(col("doc_id"),
        graft.functions.HashFunctions.minhash(
          operators.Dedup.shingles(col("text"), 3), 32).as("sig"))
      val banded = sigs.select(col("doc_id"), explode(array((0 until 16).map { b =>
        struct(lit(b).as("band"), hash(slice(col("sig"), b * 2 + 1, 2)).as("bucket"))
      }: _*)).as("bb")).select(col("doc_id"), col("bb.band"), col("bb.bucket"))
      println("DOCSDIST max-band-bucket: " + banded.groupBy(col("band"), col("bucket"))
        .count().agg(max(col("count"))).head().getLong(0))
    }
    if (what == "lshdist") {
      // bucket-size histogram of the banded LSH index — calibrates the
      // pair volume the synthetic corpus generates before running 10M
      val n = sys.env.getOrElse("SPARK_GRAFT_N", "1000000").toLong
      val sdocs = syntheticDocs(n)
      val sigs = sdocs.select(col("id"),
        graft.functions.HashFunctions.minhash(
          operators.Dedup.shingles(col("text"), 3), 32).as("sig"))
      val banded = sigs.select(col("id"), explode(array((0 until 8).map { b =>
        struct(lit(b).as("band"), hash(slice(col("sig"), b * 4 + 1, 4)).as("bucket"))
      }: _*)).as("bb")).select(col("id"), col("bb.band"), col("bb.bucket"))
      val sizes = banded.groupBy(col("band"), col("bucket")).count()
      val hist = sizes.groupBy(ceil(log2(col("count"))).as("log2_size"))
        .agg(count(lit(1)).as("n_buckets"), sum(col("count") * (col("count") - 1) / 2).as("pairs"))
        .orderBy(col("log2_size"))
      hist.collect().foreach(r => println(s"LSHDIST log2<=${r.get(0)}: " +
        s"buckets=${r.get(1)} pairs=${r.get(2)}"))
    }
    if (what == "scalellm-minhash") {
      val n = sys.env.getOrElse("SPARK_GRAFT_N", "10000000").toLong
      time(s"minhash-only-$n")(
        operators.Dedup.minHashLsh(syntheticDocs(n), "id", "text",
          bands = 8, rowsPerBand = 4, minEstJaccard = 0.9).count())
    }
    if (what == "scalellm-r3b") {
      // late-round-3 operators at stress scale: window-dup audit over 10M
      // docs, exact source-overlap over 8 synthetic sources, bigram-NLL
      // exact vs hashed join keys at 2M docs
      val n = sys.env.getOrElse("SPARK_GRAFT_N", "10000000").toLong
      val sdocs = syntheticDocs(n)
      time(s"windowdup-$n") {
        operators.Dedup.windowDupStats(sdocs, "id", "text", k = 8)
          .agg(sum(col("n_dup_windows"))).head()
        n
      }
      time(s"groupoverlap-$n")(
        operators.Dedup.groupOverlap(
          sdocs.withColumn("src", concat(lit("src"), pmod(col("id"), lit(8L)))),
          "src", "text").count())
      val m = 2000000
      time(s"bigram-exact-$m")(
        operators.TextAnalysis.bigramNll(sdocs.limit(m), "id", "text",
          hashedKeys = false).count())
      time(s"bigram-hashed-$m")(
        operators.TextAnalysis.bigramNll(sdocs.limit(m), "id", "text",
          hashedKeys = true).count())
    }
    if (what == "scalellm-centroid") {
      // 10M×64 vectors → 640M exploded components through the two hash aggs
      val n = sys.env.getOrElse("SPARK_GRAFT_N", "10000000").toLong
      val vecs = spark.range(n).select(col("id"),
        concat(lit("lbl"), pmod(col("id"), lit(16L))).as("label"),
        transform(sequence(lit(0), lit(63)), dd =>
          (pmod(xxhash64(col("id") * 64 + dd), lit(2000L)).cast("double") / 1000.0 - 1.0)
            .cast("float")).as("embedding"))
      time(s"centroid-cosine-$n") {
        operators.Similarity.centroidCosine(vecs, "id", "embedding", "label")
          .agg(sum(col("cos_to_centroid"))).head(); n
      }
    }
    if (what == "scalellm-clusters") {
      val n = sys.env.getOrElse("SPARK_GRAFT_N", "10000000").toLong
      time(s"clusters-only-$n")(
        operators.Dedup.resolveClusters(
          operators.Dedup.minHashLsh(syntheticDocs(n), "id", "text",
            bands = 8, rowsPerBand = 4, minEstJaccard = 0.9)).count())
    }
    if (what == "scalellm-r5") {
      // round-5 stress: (1) fuzzy linkage on a pathologically skewed block
      // key — 25 blocks over n rows is Σ(n/25)² pair work uncapped, a
      // scale-killer; with the maxBlock df-cut every block drops WHOLE
      // (audited) and the run is a fast key scan; (2) the q79-shaped
      // composite key (nation, name-prefix) — block sizes bounded by the
      // key, pair work linear in n·|block|; (3) resolveClusters at 10M
      // docs after the convergence-fold (round-4 measurement: 104 s).
      val n = sys.env.getOrElse("SPARK_GRAFT_N", "10000000").toLong
      val nL = math.min(n, 1000000L)
      val named = spark.range(nL).select(col("id"),
        concat(lit("Customer#"), lpad(col("id").cast("string"), 12, "0")).as("name"),
        pmod(col("id"), lit(25L)).as("nation"))
        .withColumn("pfx", substring(col("name"), 1, 17))
      val obs = org.apache.spark.sql.Observation()
      time(s"linkage-skew-capped-$nL") {
        operators.Linkage.fuzzyPairsBlocked(named, "id", "name",
          Seq("nation"), maxDist = 2, audit = Some(obs)).count()
      }
      // all 25 blocks exceed the cap → empty result; AQE collapses the
      // empty plan before CollectMetrics reports, so an empty map IS the
      // all-dropped signal (Linkage scaladoc)
      println(s"PERF linkage-skew audit (empty map = every block dropped): ${obs.get}")
      time(s"linkage-composite-$nL") {
        operators.Linkage.fuzzyPairsBlocked(named, "id", "name",
          Seq("nation", "pfx"), maxDist = 2).count()
      }
      time(s"clusters-fold-$n")(
        operators.Dedup.resolveClusters(
          operators.Dedup.minHashLsh(syntheticDocs(n), "id", "text",
            bands = 8, rowsPerBand = 4, minEstJaccard = 0.9)).count())
      // Jaro-Winkler verify on the same composite-key blocks: the scoring
      // path pays the match scan instead of the banded DP — confirm the
      // ratio prune + block cap keep it in the same cost class
      time(s"linkage-jaro-$nL") {
        operators.Linkage.fuzzyPairsJaro(named, "id", "name",
          Seq("nation", "pfx"), minSim = 0.96).count()
      }
    }
    if (what == "scalellm-r5d") {
      // unblocked edit-distance self-join at scale: base-36 random 12-char
      // strings (gram space 36^3 = 47k, so rare-prefix buckets stay small
      // — the shape the operator is FOR; template corpora trip the audit
      // and belong on the blocked path) + 10% planted 1-edit mutants
      val n = sys.env.getOrElse("SPARK_GRAFT_N", "200000").toLong
      def b36(seed: Long) = lpad(conv(pmod(xxhash64(col("id"), lit(seed)),
        lit(2176782336L)).cast("string"), 10, 36), 6, "0")
      val bases = spark.range(n).select(col("id"),
        concat(b36(1L), b36(2L)).as("s"))
      val mutants = bases.filter(pmod(col("id"), lit(10L)) === 0)
        .select((col("id") + n).as("id"),
          concat(lit("z"), substring(col("s"), 2, 11)).as("s"))
      val corpus = bases.unionByName(mutants)
      val obs = org.apache.spark.sql.Observation()
      time(s"fuzzy-global-$n") {
        operators.Linkage.fuzzyPairsGlobal(corpus, "id", "s", maxDist = 1,
          q = 3, audit = Some(obs)).count()
      }
      println(s"PERF fuzzy-global audit: ${obs.get}")
    }
    if (what == "scalellm-probe") {
      // incremental LSH at scale: build the signature index over a 10M-doc
      // corpus ONCE (persisted — the durable artifact), then probe a 100k
      // batch with planted near-dups against it, vs the naive alternative
      // of re-running full LSH over corpus ∪ batch. The probe should cost
      // ~the batch, not ~the corpus (the corpus text is never re-read).
      val n = sys.env.getOrElse("SPARK_GRAFT_N", "10000000").toLong
      val corpus = syntheticDocs(n)
      val dir = Scratch.dir("sigidx")
      time(s"probe-index-build-$n") {
        operators.Dedup.minHashSigs(corpus, "id", "text", numHashes = 32)
          .write.mode("overwrite").parquet(dir)
        spark.read.parquet(dir).count()
      }
      val idx = spark.read.parquet(dir)
      // even batch ids duplicate a corpus key (planted cross near-dup);
      // odd ids are novel
      // integer key both branches: Column `/` is DOUBLE division, which
      // would render keys as "0.5"-style strings that match nothing
      val bkey = when(pmod(col("id"), lit(2L)) === 0,
        ((col("id") - n) / 2).cast("long")).otherwise(col("id"))
      val batch = spark.range(n, n + 100000L).select(col("id"),
        concat_ws(" ", lit("terms of service apply"), bkey,
          lit("alpha"), pmod(bkey, lit(9973L)), lit("beta"), pmod(bkey, lit(97L)),
          lit("gamma"), pmod(bkey, lit(13L))).as("text"))
      time("probe-batch-100k")(
        operators.Dedup.minHashProbe(batch, idx, "id", "text",
          bands = 8, rowsPerBand = 4, minEstJaccard = 0.9).count())
      time("full-relsh-union")(
        operators.Dedup.minHashLsh(corpus.unionByName(batch), "id", "text",
          bands = 8, rowsPerBand = 4, minEstJaccard = 0.9).count())
    }
    if (what == "scalellm") {
      // 10M-doc / 10M-vector stress of the LLM-pipeline operators — the
      // same linear-plan evidence `scale` gives the CDC operators.
      val n = 10000000L
      val sdocs = syntheticDocs(n)
      time("scalellm-docs-count")(sdocs.count())
      time("scalellm-exact-dedup")(
        operators.Dedup.exactKeepFirst(sdocs, "id", "text").count())
      time("scalellm-minhash-lsh")(
        operators.Dedup.minHashLsh(sdocs, "id", "text",
          bands = 8, rowsPerBand = 4, minEstJaccard = 0.9).count())
      time("scalellm-repetition")(
        operators.TextAnalysis.repetition(sdocs, "id", "text").count())
      val vecs = spark.range(n).select(col("id"),
        transform(sequence(lit(0), lit(63)), d =>
          (pmod(xxhash64(col("id") * 64 + d), lit(2000L)).cast("double") / 1000.0 - 1.0)
            .cast("float")).as("embedding"))
      time("scalellm-quantize")(
        vecs.select(graft.functions.VectorFunctions.quantizeInt8(col("embedding")).as("q"))
          .select(sum(element_at(col("q.qvec"), 1).cast("long"))).head().getLong(0))
      time("scalellm-chunking")(
        operators.TextAnalysis.chunk(sdocs, "id", "text",
          chunkTokens = 8, overlap = 2).count())
      time("scalellm-decontaminate")(
        operators.TextAnalysis.decontaminate(
          sdocs.filter(col("id") % 100L =!= 0L),
          sdocs.filter(col("id") % 100L === 0L), "id", "text", k = 5).count())
      time("scalellm-clusters")(
        operators.Dedup.resolveClusters(
          operators.Dedup.minHashLsh(sdocs, "id", "text",
            bands = 8, rowsPerBand = 4, minEstJaccard = 0.9)).count())
      time("scalellm-bigram-nll")(
        operators.TextAnalysis.bigramNll(sdocs.limit(2000000), "id", "text").count())
    }
    if (what == "scalellm-r4") {
      // stress for the round-4 operators: semantic dedup (2M×64 vectors,
      // 1024 seed clusters — assignment is the O(n·k·d) broadcast pass,
      // prune bounded by the default cluster cap), DSIR weights (2M docs),
      // span-removal transform (full 10M docs)
      val n = sys.env.getOrElse("SPARK_GRAFT_N", "10000000").toLong
      val sdocs = syntheticDocs(n)
      // 2M×64 / 1024 clusters: before the packed-key election this spilled
      // ~80 GB (the join-back election shuffled all n·k candidate rows)
      // and filled the disk; with the one-aggregation election the n·k
      // frame collapses map-side and the pass is compute-bound
      val nv = 2000000L
      val vecs = spark.range(nv).select(col("id"),
        transform(sequence(lit(0), lit(63)), d =>
          (pmod(xxhash64(col("id") * 64 + d), lit(2000L)).cast("double") / 1000.0 - 1.0)
            .cast("float")).as("embedding"))
      time(s"semdedup-$nv")(
        operators.Dedup.semDedup(vecs, "id", "embedding",
          nClusters = 1024, minCosine = 0.9)
          .agg(sum(col("kept")).cast("long")).head().getLong(0))
      time("importance-weights-2M")(
        operators.TextAnalysis.importanceWeights(
          sdocs.limit(2000000).filter(col("id") % 100L =!= 0L),
          sdocs.limit(2000000).filter(col("id") % 100L === 0L),
          "id", "text").count())
      time(s"remove-dup-spans-$n") {
        operators.Dedup.removeDupWindows(sdocs, "id", "text",
          k = 4, minDocFreq = 2).agg(sum(col("n_removed"))).head(); n
      }
    }
    if (what == "scalellm-r4b") {
      // stress for the round-4b operators at 10M docs; the headline is
      // exact vs Bloom-prefiltered decontamination on the identical split
      val n = sys.env.getOrElse("SPARK_GRAFT_N", "10000000").toLong
      val sdocs = syntheticDocs(n)
      val corpus = sdocs.filter(col("id") % 100L =!= 0L)
      val bench = sdocs.filter(col("id") % 100L === 0L)
      time(s"r4b-decontaminate-exact-$n")(
        operators.TextAnalysis.decontaminate(corpus, bench, "id", "text", k = 5).count())
      time(s"r4b-decontaminate-bloom-$n")(
        operators.TextAnalysis.bloomDecontaminate(corpus, bench, "id", "text", k = 5).count())
      time(s"r4b-incremental-dedup-$n")(
        operators.Dedup.incrementalExact(
          sdocs.filter(col("id") % 10L =!= 0L),
          sdocs.filter(col("id") % 10L === 0L), "id", "text").count())
      time(s"r4b-training-order-$n")(
        operators.Sampling.trainingOrder(sdocs, "id", nShards = 64)
          .agg(max(col("pos"))).head().getLong(0))
      time(s"r4b-sample-n-$n")(
        operators.Sampling.sampleN(
          sdocs.withColumn("lang", pmod(col("id"), lit(20L)).cast("string")),
          "id", "lang", n = 1000).count())
      time(s"r4b-hashed-linear-$n")(
        operators.TextAnalysis.hashedLinearScore(sdocs, "id", "text").count())
      time(s"r4b-bm25-$n")(
        operators.TextAnalysis.bm25(sdocs, "id", "text",
          Seq("alpha", "beta", "gamma", "service")).count())
      time(s"r4b-vocabulary-$n")(
        operators.TextAnalysis.vocabulary(sdocs, "text", minCount = 2L, topK = 1000).count())
      time("r4b-collocations-2M")(
        operators.TextAnalysis.collocations(sdocs.limit(2000000), "text",
          minCount = 5L, topK = 1000).count())
    }
    if (what == "scalellm-r4c") {
      // stress for the late-round-4 operators: sessionization over 10M
      // events / 1M users, CMS-prefiltered vs exact heavy hitters on 10M
      // docs, fractional-epoch upsampling of 10M rows, interval-overlap
      // join of 1M×100k interval sets, PQ encode of 10M×64 vectors +
      // ADC top-k against 8 anchors
      val n = sys.env.getOrElse("SPARK_GRAFT_N", "10000000").toLong
      val ev = spark.range(n).select(col("id"),
        pmod(xxhash64(col("id")), lit(1000000L)).as("user_id"),
        timestamp_seconds(lit(1700000000L) +
          pmod(xxhash64(col("id"), lit(7L)), lit(30L * 86400L))).as("ts"))
      time(s"r4c-sessionize-$n")(
        operators.Sessionize.summarize(ev, "user_id", "ts", 1800L, Seq("id")).count())
      val sdocs = syntheticDocs(n)
      time(s"r4c-heavy-hitters-exact-$n")(
        operators.TextAnalysis.vocabulary(sdocs, "text",
          minCount = 1000L, topK = 1000).count())
      time(s"r4c-heavy-hitters-cms-$n")(
        operators.TextAnalysis.heavyHitters(sdocs, "text",
          minCount = 1000L, topK = 1000, width = 1 << 20).count())
      time(s"r4c-heavy-hitters-cms-d2-$n")(
        operators.TextAnalysis.heavyHitters(sdocs, "text",
          minCount = 1000L, topK = 1000, width = 1 << 21, depth = 2).count())
      time(s"r4c-epoch-upsample-$n")(
        operators.Sampling.epochUpsample(
          sdocs.withColumn("src", pmod(col("id"), lit(20L)).cast("string")),
          "id", "src", Map("0" -> 2.5, "1" -> 0.4, "2" -> 3.0)).count())
      val ivA = spark.range(1000000L).select(col("id").as("a_id"),
        pmod(xxhash64(col("id")), lit(100000000L)).as("a_lo"))
        .withColumn("a_hi", col("a_lo") + 5000L)
      val ivB = spark.range(100000L).select(col("id").as("b_id"),
        pmod(xxhash64(col("id"), lit(3L)), lit(100000000L)).as("b_lo"))
        .withColumn("b_hi", col("b_lo") + 20000L)
      time("r4c-interval-overlap-1Mx100k")(
        operators.RangeJoin.intervalOverlap(ivA, "a_lo", "a_hi",
          ivB, "b_lo", "b_hi", bucketWidth = 10000L).count())
      val vecs = spark.range(n).select(col("id"),
        transform(sequence(lit(0), lit(63)), dd =>
          (pmod(xxhash64(col("id") * 64 + dd), lit(2000L)).cast("double") / 1000.0 - 1.0)
            .cast("float")).as("embedding"))
      time(s"r4c-pq-adc-topk-$n")(
        operators.Pq.adcTopK(vecs.filter(col("id") < 8L), vecs,
          "id", "embedding", m = 4, k = 16, topK = 10).count())
      // tfidf cosine on the templated corpus: the df cut (256) is what
      // keeps the "terms of service apply" trigrams from fanning out
      // (n/20)² join rows — without it the posting self-join is unrunnable
      time(s"r4c-tfidf-cosine-$n")(
        operators.Dedup.tfidfCosinePairs(sdocs, "id", "text",
          k = 3, minCosine = 0.5).count())
      time(s"r4c-bpe-train-$n")(
        operators.Bpe.train(sdocs, "text", nMerges = 8).count())
    }
    if (what == "scalellm-r4d") {
      // stress for the last round-4 operators: chi2/JSD scaffolds multiply
      // |tokens|·|labels|, blocklist literal-vs-join, containment pairs
      val n = sys.env.getOrElse("SPARK_GRAFT_N", "10000000").toLong
      val sdocs = syntheticDocs(n)
      val labeled = sdocs.withColumn("lbl", pmod(col("id"), lit(16L)).cast("string"))
      time(s"r4d-chi2-$n")(
        operators.TextAnalysis.chiSquareTokens(labeled, "id", "text", "lbl",
          topK = 100).count())
      time(s"r4d-chi2-mindf2-$n")(
        operators.TextAnalysis.chiSquareTokens(labeled, "id", "text", "lbl",
          topK = 100, minDf = 2L).count())
      val grouped = sdocs.withColumn("src", pmod(col("id"), lit(8L)).cast("string"))
      time(s"r4d-jsdiv-$n")(
        operators.TextAnalysis.jsDivergence(grouped, "src", "text").count())
      time(s"r4d-blocklist-literal-$n")(
        operators.TextAnalysis.blocklistScreen(sdocs, "id", "text",
          Seq("terms of service", "alpha 7 beta", "gamma 12")).count())
      time(s"r4d-blocklist-join-$n")(
        operators.TextAnalysis.blocklistScreenJoin(sdocs, "id", "text",
          Seq("terms of service", "alpha 7 beta", "gamma 12")).count())
      // 0.4, not 0.8: the maxBucket cut discounts the shingles shared
      // corpus-wide (documented stopword-discount semantics), so the
      // planted full-dup pairs score 4/9 ≈ 0.44 at this n (5/9 at 1M —
      // one more bucket survives the 256 cap there)
      time(s"r4d-containment-$n")(
        operators.Dedup.containmentPairs(sdocs, "id", "text",
          k = 3, threshold = 0.4).count())
      time(s"r4d-compression-$n")(
        sdocs.select(operators.TextAnalysis.compressionRatio(col("text")).as("cr"))
          .agg(avg(col("cr"))).count())
    }
    if (what == "scalellm-r5b") {
      // round-5 analyst/DQ tier stress: islands / rolling anomalies /
      // Benford / exact percentiles / column profile / daily snapshot
      // over 10M events, 1M users (snapshot scaffold: 100k keys × 90 d)
      val n = sys.env.getOrElse("SPARK_GRAFT_N", "10000000").toLong
      val ev = spark.range(n).select(col("id"),
        pmod(xxhash64(col("id")), lit(1000000L)).as("user_id"),
        timestamp_seconds(lit(1700000000L) +
          pmod(xxhash64(col("id"), lit(7L)), lit(90L * 86400L))).as("ts"),
        (pmod(xxhash64(col("id"), lit(11L)), lit(100000L)).cast("double") / 100.0)
          .as("amount"))
        .withColumn("day", to_date(col("ts")))
      time(s"r5b-islands-$n")(
        operators.Sessionize.islands(ev, "user_id", "day", 3).count())
      time(s"r5b-rolling-anomaly-$n")(
        silver.Quality.rollingAnomalies(ev, "user_id", "ts", "id",
          "amount", window = 7, k = 3.0).count())
      time(s"r5b-benford-$n")(
        silver.Quality.benford(ev, "amount",
          Seq("user_id")).filter(col("chi2") > 100).count())
      time(s"r5b-percentiles-$n")(
        operators.TextAnalysis.percentilesExact(
          ev.withColumn("cents", (col("amount") * 100).cast("long")),
          "cents", "day", Seq(50, 95, 99)).count())
      time(s"r5b-profile-$n")(
        silver.Quality.profile(ev, Seq("user_id", "amount", "day")).count())
      time(s"r5b-daily-snapshot-$n")(
        gold.Marts.dailySnapshot(
          ev.filter(col("user_id") < 100000L), Seq("user_id"), "ts",
          Seq("id"), Seq("amount"),
          lit(java.sql.Date.valueOf("2023-12-15"))).count())
    }
    if (what == "scalellm-r4e") {
      // analyst-tier stress: funnel / cohorts / lift / rolling WAU over
      // 10M events, 1M users, 5 types, 90 days
      val n = sys.env.getOrElse("SPARK_GRAFT_N", "10000000").toLong
      val types = array(lit("view"), lit("click"), lit("purchase"),
        lit("signup"), lit("error"))
      val ev = spark.range(n).select(col("id"),
        pmod(xxhash64(col("id")), lit(1000000L)).as("user_id"),
        element_at(types, (pmod(xxhash64(col("id"), lit(5L)), lit(5L)) + 1).cast("int"))
          .as("event_type"),
        timestamp_seconds(lit(1700000000L) +
          pmod(xxhash64(col("id"), lit(7L)), lit(90L * 86400L))).as("ts"))
      time(s"r4e-funnel-$n")(
        operators.Funnel.funnel(ev, "user_id", "event_type", "ts",
          Seq("view", "click", "purchase")).count())
      time(s"r4e-cohorts-$n") {
        val cohort = ev.groupBy(col("user_id"))
          .agg(to_date(date_trunc("week", min(col("ts")))).as("cohort_week"))
        val active = ev.select(col("user_id"),
          to_date(date_trunc("week", col("ts"))).as("week")).distinct()
        active.join(cohort, Seq("user_id"))
          .withColumn("week_offset",
            (datediff(col("week"), col("cohort_week")) / 7).cast("int"))
          .groupBy(col("cohort_week"), col("week_offset"))
          .agg(countDistinct(col("user_id")).as("n_active")).count()
      }
      time(s"r4e-event-lift-$n") {
        val ut = ev.select(col("user_id"), col("event_type")).distinct()
        ut.select(col("user_id"), col("event_type").as("a"))
          .join(ut.select(col("user_id"), col("event_type").as("b")), Seq("user_id"))
          .filter(col("a") < col("b"))
          .groupBy(col("a"), col("b")).agg(count(lit(1))).count()
      }
      time(s"r4e-rolling-wau-$n") {
        val ud = ev.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        ud.select(col("user_id"),
            explode(sequence(col("day"), date_add(col("day"), 6))).as("we"))
          .distinct().groupBy(col("we"))
          .agg(countDistinct(col("user_id"))).count()
      }
    }
    if (what == "sinks") {
      // per-micro-batch merge cost of the three sink tiers, same 5M-row
      // fact spread over 30 date partitions, same 50k-row batch touching
      // exactly ONE partition: whole-table publish is O(table), the pruned
      // sink O(touched partition), base+delta O(batch)
      import java.nio.file.Files
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
      // tier 2: partition-pruned dynamic overwrite
      val pruned = root + "/pruned"
      gold.PartitionedUpsert.writeDynamic(fact, pruned, "part_date")
      time("sink-partition-pruned") {
        gold.PartitionedUpsert.upsert(spark, batch, pruned, keys, ord, "part_date")
        1L
      }
      // tier 3: base+delta append (write cost) + merge-on-read (read cost)
      val bdTable = gold.BaseDelta.Table(root + "/bd", keys, ord)
      gold.BaseDelta.append(spark, bdTable, fact, 0L)
      gold.BaseDelta.compact(spark, bdTable)
      time("sink-basedelta-append") {
        gold.BaseDelta.append(spark, bdTable, batch, 1L); 1L
      }
      time("sink-basedelta-read")(gold.BaseDelta.read(spark, bdTable).count())
    }
    if (what == "ann") {
      val emb = Tables.embeddings(spark, d)
      val queries = emb.filter(col("vec_id") < 20)
      val exact = operators.Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      Seq(0, 1, 2).foreach { it =>
        val t0 = System.nanoTime()
        val approx = operators.Similarity.ivfTopK(queries, emb, "vec_id", "embedding",
          k = 5, nCells = 16, nProbe = 4, refineIters = it)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val recall = (exact & approx).size.toDouble / exact.size
        println(f"PERF ivf refineIters=$it: recall=$recall%.3f time=${(System.nanoTime()-t0)/1e9}%.2f s")
      }
    }
    if (what == "scd2stream") {
      // end-to-end drive of the streaming SCD2 maintenance path
      import java.nio.file.{Files, Paths}
      val in = Scratch.dir("scd-in")
      val snap = Scratch.dir("scd-out") + "/dim"
      val ckpt = Scratch.dir("scd-ckpt")
      def env(id: Int, bal: Double, ts: String, lsn: Long) =
        s"""{"payload":{"before":null,"after":{"id":$id,"customer_id":1,"account_type":"SAVINGS","balance":$bal,"currency":"USD","created_at":"$ts"},"source":{"table":"accounts","lsn":$lsn,"ts_ms":$lsn},"op":"c","ts_ms":$lsn}}"""
      Files.writeString(Paths.get(s"$in/b1.json"),
        env(1, 100.0, "2024-01-01T10:00:00Z", 1) + "\n" + env(2, 50.0, "2024-01-01T10:00:00Z", 2))
      val q = streaming.CdcStream.scd2Stream(
        streaming.CdcStream.fromJsonFiles(spark, in, model.Schemas.accounts, maxFilesPerTrigger = 1)
          .drop(cdc.Envelope.CorruptCol).drop("op", "ts_ms"),
        snap, ckpt, Seq("id"), Seq("customer_id", "account_type", "balance"),
        "created_at", Seq("created_at"),
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      q.processAllAvailable()
      Files.writeString(Paths.get(s"$in/b2.json"), env(1, 999.0, "2024-01-02T10:00:00Z", 3))
      q.processAllAvailable(); q.stop()
      println("SCD2 snapshot after 2 epochs:")
      spark.read.parquet(snap).orderBy("id", "effective_from").show(10, false)
    }
    if (what == "q19") {
      val q = Queries.queries("q19_token_counts")
      time("docs-count-only")(docs.count())
      time("q19-run1")(q(spark, d).count())
      time("q19-run2")(q(spark, d).count())
      time("q19-bpe-only")(docs.select(
        regexp_count(col("text"), lit(operators.TextAnalysis.BpePattern)).as("n"))
        .agg(sum(col("n"))).head().getLong(0))
    }
    if (what == "scalellm-r6") {
      // round-6 drift operators at synthetic 50M-row scale: both are
      // histogram-shaped, so runtime should track the (group, value)
      // domain (100 groups × ≤20k distinct values here), not the row
      // count — the property that makes them 100 TB-viable.
      val n = 50_000_000L
      val ev = spark.range(n)
        .withColumn("g", concat(lit("s"), (col("id") % 100).cast("string")))
        .withColumn("v", (pmod(hash(col("id")), lit(10000)) +
          when(col("id") % 2 === 0, lit(0)).otherwise(lit(5000))).cast("double"))
        .withColumn("r", col("id") % 2 === 0)
      time(s"ksDrift-${n / 1000000}M")(
        silver.Quality.ksDrift(ev, "v", "g", col("r")).count())
      time(s"psiDrift-${n / 1000000}M")(
        silver.Quality.psiDrift(ev, "v", "g", col("r")).count())
      // MAD: two histogram medians + two broadcast joins back; output is
      // the flagged subset, corpus scanned twice
      val cents = spark.range(n)
        .withColumn("g", concat(lit("s"), (col("id") % 100).cast("string")))
        .withColumn("cents", pmod(hash(col("id")), lit(100000)))
      time(s"madAnomalies-${n / 1000000}M")(
        silver.Quality.madAnomalies(cents, "cents", "g", k = 3).count())
      // novelty at 2M docs: candidates = 5% of the corpus
      val nd = 2_000_000L
      val words = (i: org.apache.spark.sql.Column) =>
        concat_ws(" ", (0 until 12).map(j =>
          concat(lit("w"), pmod(hash(i * 31 + j), lit(50000)).cast("string"))): _*)
      val docs2 = spark.range(nd)
        .withColumn("text", words(col("id")))
        .withColumn("ref", col("id") % 20 =!= 0)
      time(s"ngramNovelty-${nd / 1000000}M")(
        operators.TextAnalysis.ngramNovelty(docs2, "id", "text", col("ref"), k = 3)
          .agg(sum(col("n_novel"))).head().getLong(0))
    }
    if (what == "marts-r7") {
      // incremental marts + streaming PSI at synthetic 10M-event scale:
      // the claim under test is that FOLD cost tracks the batch (and the
      // key-sized state), not accumulated history — fold times should
      // stay flat across batches while the full-recompute baseline pays
      // the whole corpus every time.
      val n = 10_000_000L
      val users = 200_000L
      def batchDf(b: Int) = spark.range(b * n / 4, (b + 1) * n / 4)
        .select(col("id").as("event_id"),
          pmod(hash(col("id")), lit(users)).cast("long").as("user_id"),
          concat(lit("t"), pmod(col("id"), lit(5)).cast("string"))
            .as("event_type"),
          to_timestamp(lit("2024-01-01 00:00:00"))
            .plus(expr(s"make_interval(0,0,0,0,0,0, pmod(hash(id * 7), ${86400L * 56}))"))
            .as("ts"),
          (pmod(hash(col("id") * 13), lit(10000)) / lit(100.0)).as("value"))
      val root = Scratch.dir("perf-marts")
      val mart = gold.AnalystMarts.Mart(s"$root/m")
      for (b <- 0 until 4)
        time(s"mart-fold-b$b-${n / 4 / 1000000}M")(
          { gold.AnalystMarts.foldBatch(spark, batchDf(b), mart, b.toLong); n / 4 })
      time("mart-readout-retention")(
        gold.AnalystMarts.retentionCohorts(spark, mart).count())
      time("mart-readout-wau")(
        gold.AnalystMarts.rollingWau(spark, mart).count())
      time("mart-readout-daily")(
        gold.AnalystMarts.dailyValueMart(spark, mart).count())
      val all = (0 until 4).map(batchDf).reduce(_.unionByName(_))
      time("full-recompute-retention-baseline") {
        val cohort = all.groupBy(col("user_id"))
          .agg(to_date(date_trunc("week", min(col("ts")))).as("cohort_week"))
        all.select(col("user_id"),
            to_date(date_trunc("week", col("ts"))).as("week")).distinct()
          .join(cohort, Seq("user_id"))
          .groupBy(col("cohort_week"),
            (datediff(col("week"), col("cohort_week")) / 7).cast("int"))
          .agg(countDistinct(col("user_id"))).count()
      }
      // streaming PSI: reference histogram from batch 0, fold 1..3
      val (refP, stateP) = (s"$root/ref", s"$root/state")
      time("psi-publish-reference-2.5M")(
        { streaming.DriftStream.publishReference(batchDf(0), refP,
            "value", "event_type"); n / 4 })
      for (b <- 1 until 4)
        time(s"psi-fold-b$b-2.5M")(
          { streaming.DriftStream.foldBatch(spark, batchDf(b), refP, stateP,
              "value", "event_type", batchId = (b - 1).toLong); n / 4 })
      time("psi-readout")(
        streaming.DriftStream.readout(spark, refP, stateP, "event_type")
          .count())
    }
    if (what == "cluster-r7") {
      // incremental cluster maintenance at 2M synthetic docs: fold 4
      // batches of 500k; 5% of each later batch near-duplicates a doc
      // from the PREVIOUS batch (cross-batch edges the probe must find).
      // Claims under test: fold cost stays in the same band as the index
      // grows (the broadcast-semi-join prefilter keeps the postings
      // shuffle bucket-sharing-only), and the steady-state fold beats the
      // full recompute the pipeline would otherwise re-run per batch.
      val nb = 500000L
      val mkWords = (seed: org.apache.spark.sql.Column) =>
        concat_ws(" ", (0 until 12).map(j =>
          concat(lit("w"), pmod(hash(seed * 31 + j), lit(50000)).cast("string"))): _*)
      def batchDocs(b: Int) = {
        val ids = spark.range(b * nb, (b + 1) * nb)
        // every 20th doc (past batch 0) re-generates its predecessor's
        // words plus one extra token: ~10/11 Jaccard, a guaranteed edge
        val seed = when(col("id") % 20 === 0 && col("id") >= nb,
          col("id") - nb).otherwise(col("id"))
        ids.select(col("id").as("doc_id"),
          when(col("id") % 20 === 0 && col("id") >= nb,
            concat(mkWords(seed), lit(" dupmark")))
            .otherwise(mkWords(seed)).as("text"))
      }
      val root = Scratch.dir("perf-clidx")
      val st = operators.ClusterIndex.State(s"$root/s")
      for (b <- 0 until 4)
        time(s"cluster-fold-b$b-500k")(
          { operators.ClusterIndex.fold(spark, st, batchDocs(b), b.toLong,
              "doc_id", "text"); nb })
      // STEADY STATE — the claim that matters: a daily-sized 50k batch
      // against the 2M-doc index. The alternative the operator replaces
      // is re-running the full pair generation + clustering over the
      // whole grown corpus for every arriving batch.
      val probe = spark.range(4 * nb, 4 * nb + 50000L)
        .select(col("id").as("doc_id"),
          when(col("id") % 20 === 0,
            concat(mkWords(col("id") - 4 * nb + 3 * nb), lit(" dupmark")))
            .otherwise(mkWords(col("id"))).as("text"))
      time("cluster-fold-steady-50k-into-2M")(
        { operators.ClusterIndex.fold(spark, st, probe, 4L,
            "doc_id", "text"); 50000L })
      time("cluster-readout")(
        operators.ClusterIndex.clustersNonSingleton(spark, st).count())
      val all = (0 until 4).map(batchDocs).reduce(_.unionByName(_))
        .unionByName(probe)
      time("full-recompute-baseline-2.05M")(
        operators.Dedup.resolveClusters(operators.Dedup.ngramJaccard(
          all, "doc_id", "text", k = 3, threshold = 0.2)).count())
    }
    if (what == "clusterbuild") {
      // the FROM-SCRATCH 3-batch cluster index build over the sf docs —
      // q190's pre-round-13 bench shape, kept here as the build-path
      // timing now that q190 benches the incremental fold contract
      // (one live batch onto the memoized 2-batch Fixtures base)
      val root = Scratch.dir("perf-clbuild")
      val st = operators.ClusterIndex.State(s"$root/s")
      for (i <- 0 to 2)
        time(s"cluster-build-fold-b$i")(
          { operators.ClusterIndex.fold(spark, st,
              docs.filter(pmod(col("doc_id"), lit(3)) === i), i.toLong,
              "doc_id", "text"); 0L })
      time("cluster-build-readout")(
        operators.ClusterIndex.clustersNonSingleton(spark, st).count())
    }
    if (what == "q190parts") {
      // where does the incremental-fold bench line spend its time?
      // (copy of the memoized 2-batch base vs the one live fold vs the
      // readout) — run twice so warm-JIT numbers are visible
      for (r <- 1 to 2) {
        var st: operators.ClusterIndex.State = null
        time(s"r$r-cluster2Copy")({ st = Fixtures.cluster2Copy(spark, d); 0L })
        time(s"r$r-fold-b2")({ operators.ClusterIndex.fold(spark, st,
          docs.filter(pmod(col("doc_id"), lit(3)) === 2), 2L,
          "doc_id", "text"); 0L })
        time(s"r$r-readout")(
          operators.ClusterIndex.clustersNonSingleton(spark, st).count())
      }
    }
    if (what == "q190stages") {
      // stage-level cost of the single incremental fold: within-batch
      // pairs vs label propagation vs the delta appends
      val st = Fixtures.cluster2Copy(spark, d)
      val batch = docs.filter(pmod(col("doc_id"), lit(3)) === 2)
      time("batchPostings")(
        operators.ClusterIndex.batchPostings(batch, "doc_id", "text", 3).count())
      var within: org.apache.spark.sql.DataFrame = null
      time("within-pairs")({
        within = operators.Dedup.ngramJaccard(batch, "doc_id", "text", 3, 0.2)
          .select(col("id_a"), col("id_b"))
          .persist()
        within.count()
      })
      time("resolveClusters-within")(
        operators.Dedup.resolveClusters(within).count())
      time("full-fold")({ operators.ClusterIndex.fold(spark, st, batch, 2L,
        "doc_id", "text"); 0L })
      within.unpersist()
    }
    if (what == "q115tune") {
      // recall@5 of the IVF->PQ->rerank path vs exact, across shortlist/
      // kCodes/nProbe combos — find the smallest config whose recall
      // clears 0.7 with margin at EVERY scale factor
      val emb = Tables.embeddings(spark, d)
      val nCorpus = emb.count()
      val q = emb.filter(col("vec_id") < 20)
      val exact = operators.Similarity.bruteForceTopK(q, emb,
        "vec_id", "embedding", k = 5).select("query_id", "neighbor_id")
        .persist()
      val nEx = exact.count()
      for (rf <- Seq(0, 2); kc <- Seq(16, 64); sl <- Seq(128, 256);
           np <- Seq(10)) {
        if (kc <= nCorpus) {
          val approx = operators.Similarity.ivfPqTopK(q, emb,
            "vec_id", "embedding", k = 5, nCells = 16, nProbe = np,
            m = 8, kCodes = kc, shortlist = sl, refineIters = rf)
          val nHit = exact.join(approx.select("query_id", "neighbor_id"),
            Seq("query_id", "neighbor_id"), "left_semi").count()
          println(f"PQTUNE corpus=$nCorpus refine=$rf kCodes=$kc " +
            f"shortlist=$sl nProbe=$np recall=${nHit.toDouble / nEx}%.3f")
        }
      }
      exact.unpersist()
    }
    if (what == "gov-r7") {
      // governance ops at 10M rows: partitioned GDPR erasure (touched
      // partitions only) and the exact-changelog SCD2 fold
      val n = 10000000L
      val users = 500000L
      val ev = spark.range(n).select(
        col("id").as("event_id"),
        pmod(hash(col("id")), lit(users)).cast("long").as("user_id"),
        concat(lit("d"), pmod(hash(col("id") * 3), lit(60)).cast("string"))
          .as("day"),
        concat(lit("s"), pmod(hash(col("id") * 7), lit(6)).cast("string"))
          .as("status"),
        to_timestamp(lit("2024-01-01 00:00:00"))
          .plus(expr(s"make_interval(0,0,0,0,0,0, id)")).as("ts"))
      val root = Scratch.dir("perf-gov") + "/t"
      time("erasure-write-10M-60parts")(
        { ev.write.partitionBy("day").parquet(root); n })
      // 100 subjects: ~2k rows spread over all 60 partitions (worst-case
      // touched set for a uniform table; a date-clustered subject would
      // touch a handful)
      val subjects = spark.range(100).select((col("id") * 4999L).as("user_id"))
      time("erasure-100-subjects")(
        { gold.Erasure.erasePartitioned(spark, root, "day", "user_id",
            subjects).count() })
      time("erasure-readback")(spark.read.parquet(root).count())
      // SCD2 changelog fold: 4 batches of 2.5M rows, ~500k keys, status
      // changes create real versions
      val scdRoot = Scratch.dir("perf-scd") + "/dim"
      def logBatch(b: Int) = spark.range(b * n / 4, (b + 1) * n / 4)
        .select(pmod(hash(col("id")), lit(users)).cast("long").as("k"),
          col("id").as("seq"),
          concat(lit("s"), pmod(hash(col("id") * 7), lit(6)).cast("string"))
            .as("status"),
          to_timestamp(lit("2024-01-01 00:00:00"))
            .plus(expr("make_interval(0,0,0,0,0,0, id)")).as("ts"))
      var snap = gold.Scd2Merge.emptyLogSnapshot(logBatch(0), "ts")
      for (b <- 0 until 4)
        time(s"scd2log-fold-b$b-2.5M") {
          snap = gold.Scd2Merge.applyLog(snap, logBatch(b), Seq("k"),
            Seq("status"), "ts", tieBreak = Seq("seq"))
            .localCheckpoint(true)
          snap.count()
        }
      time("scd2log-current-dim")(
        snap.filter(col("effective_to").isNull).count())
    }
    if (what == "recon-r7") {
      // Merkle reconciliation at 10M rows with 100 divergent rows: the
      // digest pass decides everything; the row diff touches only dirty
      // buckets. Baseline: the unpruned full-outer diff.
      val n = 10000000L
      val mk = spark.range(n).select(col("id"),
        pmod(hash(col("id")), lit(1000L)).as("grp"),
        (col("id") % 9973).cast("double").as("amt"))
      val a = mk
      val b = mk.withColumn("amt",
        when(col("id") % 100003 === 0, col("amt") + 1.0).otherwise(col("amt")))
      time("recon-digest-only-clean")(
        silver.Reconcile.dirtyBuckets(a, a, Seq("id"), 1 << 12).count())
      time("recon-pruned-diff-100-dirty")(
        silver.Reconcile.diff(a, b, Seq("id"), 1 << 12).count())
      time("recon-unpruned-diff-baseline")(
        silver.Reconcile.diff(a, b, Seq("id"), 1).count())
    }
    if (what == "optimize-r7") {
      // executing OPTIMIZE against the reference's own pathology: a CDC
      // sink that writes ~50-record files (kafka_to_minio.py:54). Build
      // that layout from events at the bench SF, compact through
      // plan → rewrite → pointer-swap, and measure what a reader pays
      // before/after: file count, full-scan aggregate latency, and
      // zone-pruned scanned rows for a selective user_id range.
      val root = Scratch.dir("perf-opt") + "/t"
      val ev = Tables.events(spark, d)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
      val nRows = ev.count()
      val nFiles = math.max(1, (nRows / 50).toInt) // ~50-record files
      time(s"accrete-${nFiles}-files")(
        { gold.SnapshotStore.publish(ev.repartition(nFiles), root); nRows })
      def genDir = gold.SnapshotStore.genPath(root,
        gold.SnapshotStore.currentGen(spark, root).get)
      def fullScan(): Long = {
        spark.read.parquet(genDir)
          .agg(sum(col("value")), countDistinct(col("user_id"))).head()
        nRows
      }
      time("read-small-files")(fullScan())
      val loU = lit(1000L); val hiU = lit(1099L)
      val scanBefore = gold.Optimize.scannedRows(
        spark, genDir, col("user_id"), loU, hiU)
      // target ~1/16 of the accreted bytes so the sorted rewrite spreads
      // across many files — that's what makes the zone pruning visible
      val totalBytes = {
        val f = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        f.getContentSummary(new org.apache.hadoop.fs.Path(genDir)).getLength
      }
      var st: gold.Optimize.OptimizeStats = null
      time("optimize-compact+sort")({
        st = gold.Optimize.compactSnapshot(spark, root, totalBytes / 16 + 1,
          sortCols = Seq(col("user_id")))
        st.filesAfter
      })
      time("read-compacted")(fullScan())
      val scanAfter = gold.Optimize.scannedRows(
        spark, genDir, col("user_id"), loU, hiU)
      println(s"PERF optimize-r7: files ${st.filesBefore} -> " +
        s"${st.filesAfter} (${st.bins} bins), bytes ${st.bytesBefore} -> " +
        s"${st.bytesAfter}, scanned rows for user_id range " +
        s"$scanBefore -> $scanAfter of $nRows")
    }
    if (what == "graph") {
      // triangle counting under skew: 2M pseudo-random edges over 200k
      // nodes PLUS a 50k-edge celebrity hub. Degree orientation caps the
      // hub's out-degree (edges orient INTO high-degree nodes), so wedge
      // fan-out stays O(m^1.5)-bounded instead of deg(hub)^2 ≈ 2.5e9.
      val nNodes = 200000L
      val rand = spark.range(2000000L).select(
        (col("id") % nNodes).as("u"),
        ((col("id") * 2654435761L + 12345L) % nNodes).as("v"))
      val hub = spark.range(50000L).select(
        lit(0L).as("u"), (col("id") % nNodes).as("v"))
      val edges = rand.unionByName(hub)
      time("triangles-2M-edges-skew-hub")(
        operators.GraphOps.triangles(edges, "u", "v")
          .agg(sum(col("n_triangles"))).head().getLong(0) / 3)
      time("pagerank-2M-edges-3-iters")(
        operators.GraphOps.pageRankInt(edges, "u", "v", iters = 3).count())
    }
    if (what == "linededup") {
      // corpus-frequency line removal at 2M docs × 8 lines = 16M lines:
      // 2 boilerplate lines planted corpus-wide, 1 in half the docs,
      // the rest unique. The df aggregation's skew is exactly the
      // boilerplate keys, whose groups collapse to (line, count).
      val docs = spark.range(2000000L).select(col("id").as("doc_id"),
        concat_ws("\n",
          concat(lit("document body line one for "), col("id")),
          lit("subscribe to our newsletter today"),
          concat(lit("unique middle "), col("id") * 7),
          when(col("id") % 2 === 0, lit("cookie consent banner text here"))
            .otherwise(concat(lit("tail "), col("id"))),
          concat(lit("second body line for "), col("id")),
          lit("copyright footer all rights reserved"),
          concat(lit("third body line for "), col("id")),
          concat(lit("fourth body line for "), col("id"))).as("text"))
      time("linededup-16M-lines")(
        operators.Dedup.lineDedup(docs, "doc_id", "text", maxDocFreq = 100)
          .agg(sum(col("n_removed"))).head().getLong(0))
    }
    if (what == "rules-r8") {
      // the two opt-in Catalyst rules at real scale (VERDICT r7 #7):
      // 1) COUNT(DISTINCT) → HLL++ at 10M rows / ~2M distinct per the
      //    whole domain: the rewrite removes the Expand+second-shuffle
      //    exact-distinct plan in favor of one mergeable sketch agg;
      val ev = spark.range(50000000L)
        .select((col("id") % 64).as("g"),
          pmod(xxhash64(col("id")), lit(20000000L)).as("u"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      ev.count()
      // consume the DISTINCT VALUES (sum over groups), not the group
      // count — `.count()` would let column pruning delete the
      // countDistinct expression and measure an empty plan
      for (rep <- 1 to 2) {
        time(s"exact-countdistinct-50M-r$rep")(
          ev.groupBy(col("g")).agg(countDistinct(col("u")).as("n"))
            .agg(sum(col("n"))).head().getLong(0))
        time(s"hll-rewrite-50M-r$rep")(
          graft.plans.ApproxDistinctRewrite.accelerate(
            ev.groupBy(col("g")).agg(countDistinct(col("u")).as("n")),
            rsd = 0.05).agg(sum(col("n"))).head().getLong(0))
      }
      ev.unpersist()
      // 2) band join → bucketed equi-join: the BNLJ baseline is
      //    quadratic (every point × every interval predicate eval), so
      //    it only completes at a deliberately small size; the rewrite
      //    runs the SAME small size for the apples-to-apples cliff and
      //    then 25× bigger to show the equi-join shape is what survives
      def pts(n: Long) = spark.range(n).select(col("id").as("pid"),
        (col("id") % 1000000L).cast("double").as("p"))
      def ivs(m: Long) = spark.range(m).select(col("id").as("iid"),
          ((col("id") * 37L) % 999000L).cast("double").as("lo"))
        .withColumn("hi", col("lo") + lit(50.0))
      def band(n: Long, m: Long) = pts(n).join(ivs(m),
        col("p") >= col("lo") && col("p") <= col("hi"))
      time("band-bnlj-200k-x-2k")(band(200000L, 2000L).count())
      time("band-rewrite-200k-x-2k")(
        graft.plans.RangeJoinRewrite.accelerate(band(200000L, 2000L),
          width = 64.0).count())
      time("band-bnlj-1M-x-10k")(band(1000000L, 10000L).count())
      time("band-rewrite-1M-x-10k")(
        graft.plans.RangeJoinRewrite.accelerate(band(1000000L, 10000L),
          width = 64.0).count())
      time("band-rewrite-5M-x-50k")(
        graft.plans.RangeJoinRewrite.accelerate(band(5000000L, 50000L),
          width = 64.0).count())
    }
    if (what == "mts-r8") {
      // streaming multi-table atomic commit at scale: per-batch fold cost
      // of the whole-table-rewrite fact (UpsertFact) vs the O(batch)
      // BaseDelta pointer fact (DeltaFact), 1M fact rows + 5k dim
      // changes per batch over 12 batches (12M-row fact by the end)
      import graft.streaming.MultiTableStream
      import graft.streaming.MultiTableStream.{DeltaFact, Scd2Dim, UpsertFact}
      val dimSpec = Scd2Dim("accounts", "acct", Seq("account_id"),
        Seq("account_type"), "ts", tieBreak = Seq("seq"))
      val upFact = UpsertFact("txns", "txn", Seq("txn_id"), Seq("seq"))
      val dFact = DeltaFact("txns", "txn", Seq("txn_id"), Seq("seq"))
      def batchOf(b: Long): org.apache.spark.sql.DataFrame = {
        val base = timestamp_seconds(lit(1704067200L + b * 86400L)) // 2024-01-01 + b days
        val facts = spark.range(b * 1000000L, (b + 1) * 1000000L)
          .select(lit("txn").as("route"), (col("id") % 100000L).as("account_id"),
            col("id").as("txn_id"), lit(null).cast("string").as("account_type"),
            (col("id") % 997L).cast("double").as("amount"), col("id").as("seq"),
            base.as("ts"))
        val nDim = if (b == 0) 100000L else 5000L
        val dims = spark.range(nDim)
          .select(lit("acct").as("route"),
            (col("id") * (if (b == 0) 1L else 17L) % 100000L).as("account_id"),
            lit(-1L).as("txn_id"),
            concat(lit("T"), lit(b), lit("_"), col("id") % 3).as("account_type"),
            lit(0.0).as("amount"), (lit(b * 1000000L) + col("id")).as("seq"),
            base.as("ts"))
        facts.unionByName(dims)
      }
      val rootUp = Scratch.dir("perf-mts-up") + "/r"
      val rootD = Scratch.dir("perf-mts-d") + "/r"
      for (b <- 0L until 12L) {
        val batch = batchOf(b)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        batch.count()
        time(s"mts-upsert-fact-b$b") {
          MultiTableStream.foldBatch(spark, rootUp, batch, "route",
            Seq(dimSpec), Seq(upFact), b)
          1L
        }
        time(s"mts-delta-fact-b$b") {
          MultiTableStream.foldBatch(spark, rootD, batch, "route",
            Seq(dimSpec), Seq.empty, b, deltaFacts = Seq(dFact))
          1L
        }
        batch.unpersist()
      }
      // the two committed views agree (and the reader's cost readout)
      time("mts-read-upsert")(MultiTableStream.readCommitted(spark, rootUp)
        .apply("txns").count())
      time("mts-read-delta")(MultiTableStream.readCommitted(spark, rootD,
        deltaFacts = Seq(dFact)).apply("txns").count())
    }
    if (what == "fold-width") {
      // where a per-batch fold stops gaining from single-partition width:
      // the same coordinator fold (an SCD2 dim, a DeltaFact, the FK audit)
      // and marts fold at Width.Single and Width.Session over batches of
      // B rows, three batches per root (maxDeltas 2, as the CDC benchmark
      // keeps: the third batch compacts); each line reports the rows the
      // fold reads (batch + committed state, footer counts). Widths run
      // in alternating order per size.
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
        val widths = Seq[Width](Width.Single, Width.Session)
        for (w <- if (i % 2 == 0) widths else widths.reverse) {
          val tag = (if (w.single) "single" else "session") +
            (if (i == 0) "-warmup" else "")
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
    if (what == "gov-r8") {
      // index-tier erasure at scale: fold a 10M-doc search index, erase
      // 1k docs (ONE batched call — the amortization pattern), verify
      // folds continue O(batch) afterwards
      val n = 10000000L
      val big = syntheticDocs(n)
      val st = operators.SearchIndex.State(
        Scratch.dir("gov-r8-si") + "/s")
      for (b <- 0 until 4)
        time(s"si-fold-2.5M-b$b")(
          { operators.SearchIndex.fold(spark, st,
              big.filter(col("id") % 4 === b)
                .select(col("id").as("doc_id"), col("text")),
              b.toLong, "doc_id", "text"); 1L })
      time("si-search-pre")(operators.SearchIndex.search(spark, st,
        Seq("alpha", "beta", "gamma")).count())
      val subjects = spark.range(1000L).select((col("id") * 9973L % n).as("doc_id"))
      time("si-erase-1k-of-10M")(
        { operators.SearchIndex.erase(spark, st, subjects); 1L })
      time("si-search-post")(operators.SearchIndex.search(spark, st,
        Seq("alpha", "beta", "gamma")).count())
      time("si-fold-after-erase")(
        { operators.SearchIndex.fold(spark, st,
            spark.range(n, n + 100000L)
              .select(col("id").as("doc_id"),
                concat_ws(" ", lit("fresh doc"), col("id")).as("text")),
            4L, "doc_id", "text"); 1L })
    }
    if (what == "soak-r9") {
      // CONSTRAINED-MEMORY soak of the pair generators (r8 verdict #6):
      // the Σdf² / Σ|block|² cost arguments were measured at 8 GB+ heap;
      // this mode reruns the three generators at 10M docs under whatever
      // heap the caller pinned (SPARK_DRIVER_MEM=3g ≈ 96 MB/core at
      // local[32]) — the required behavior is GRACEFUL SPILL (slower,
      // green), never OOM. The heap line makes the log self-describing.
      val n = sys.env.getOrElse("SPARK_GRAFT_N", "10000000").toLong
      println(s"SOAK heap max = ${Runtime.getRuntime.maxMemory() / (1 << 20)} MiB, n = $n")
      val sdocs = syntheticDocs(n)
      time(s"soak-minhash-lsh-$n")(
        operators.Dedup.minHashLsh(sdocs, "id", "text",
          bands = 8, rowsPerBand = 4, minEstJaccard = 0.9).count())
      time(s"soak-tfidf-cosine-$n")(
        operators.Dedup.tfidfCosinePairs(sdocs, "id", "text",
          k = 3, minCosine = 0.5).count())
      time(s"soak-containment-$n")(
        operators.Dedup.containmentPairs(sdocs, "id", "text",
          k = 3, threshold = 0.4).count())
    }

    // deterministic clustered embeddings: `clusters` distinct directions
    // (primary axis c%dim at 10, secondary axis (7c+3)%dim at a
    // group-dependent 3/5/7/9 so groups 16 apart stay separable) + hash
    // noise — no RNG, same recipe every run
    def syntheticVecs(n: Long, dim: Int = 16, clusters: Int = 64) = {
      val c = pmod(col("id"), lit(clusters.toLong))
      val w2 = lit(3.0) + (floor(c / lit(16)) * lit(2.0))
      val comps = (0 until dim).map { d2 =>
        (when(pmod(c, lit(dim.toLong)) === d2, lit(10.0)).otherwise(lit(0.0)) +
          when(pmod(c * 7 + 3, lit(dim.toLong)) === d2, w2).otherwise(lit(0.0)) +
          (pmod(xxhash64(col("id"), lit(d2)), lit(1000L)).cast("double") /
            lit(1000.0) - lit(0.5))).cast("float")
      }
      spark.range(n).select(col("id"), array(comps: _*).as("vec"))
    }

    if (what == "elect-r10") {
      // quantizer-election scaling (r9 verdict #3): k-means|| must hold
      // a FLAT distributed-pass count while farthest-point pays one
      // sequential corpus pass per cell — measured at 1M vectors
      val n = sys.env.getOrElse("SPARK_GRAFT_N", "1000000").toLong
      val vecs = syntheticVecs(n)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      time(s"elect-warm-count-$n")(vecs.count())
      time(s"elect-kmeans-par-64-$n")(
        operators.Similarity.centroidsKMeansParallel(vecs, "id", "vec", 64).count())
      time(s"elect-kcenter-64-$n")(
        operators.Similarity.centroidsFarthest(vecs, "id", "vec", 64).count())
      // the scale point farthest-point cannot reach: 4× the cells for
      // ~the same pass count (rounds stays 5; only the literal batch and
      // the driver election grow)
      time(s"elect-kmeans-par-256-$n")(
        operators.Similarity.centroidsKMeansParallel(vecs, "id", "vec", 256).count())
      vecs.unpersist()
    }

    if (what == "lowmem") {
      // the scale-r10 OOM shape — the 10M-doc ClusterIndex 3-batch fold
      // that failed at 250 MB/core — run UNDER the documented floor
      // (e.g. SPARK_DRIVER_MEM=3g SPARK_GRAFT_CPUS=32 → 96 MB/core):
      // Dedup.adaptivePairParts must scale the pair shuffles so the fold
      // completes green with no env overrides
      import java.nio.file.Files
      val n = sys.env.getOrElse("SPARK_GRAFT_N", "10000000").toLong
      println(s"PERF lowmem: heapMb=${Runtime.getRuntime.maxMemory() / 1048576} " +
        s"slots=${spark.sparkContext.defaultParallelism} adaptiveParts=" +
        operators.Dedup.adaptivePairParts(spark, operators.ClusterIndex.FoldFloorMb))
      val sdocs = syntheticDocs(n)
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      sdocs.count()
      time(s"lowmem-clusterindex-fold3-$n") {
        val st = operators.ClusterIndex.State(
          Scratch.dir("lowmem-ci") + "/c")
        (0 until 3).foreach(b => operators.ClusterIndex.fold(spark, st,
          sdocs.filter(pmod(col("id"), lit(3)) === b), b.toLong, "id", "text",
          threshold = 0.9, maxStateDf = 1000))
        operators.ClusterIndex.clustersNonSingleton(spark, st).count()
      }
      sdocs.unpersist()
    }

    if (what == "scale-r10") {
      // weak-scaling refresh of the round-9 state-tier BUILD paths
      // (r9 verdict #7): each family's fold at n and 10n on the same
      // synthetic recipes — the ratio column for SURVEY §9. Fixture
      // queries (q230/q248 etc.) serve from cache and are excluded by
      // design; these are the build-path shapes of q202/q190/q244/q250/
      // q242.
      import java.nio.file.Files
      val base = sys.env.getOrElse("SPARK_GRAFT_N", "1000000").toLong
      for (n <- Seq(base, base * 10)) {
        val sdocs = syntheticDocs(n)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        sdocs.count()
        time(s"r10-searchindex-fold3-$n") { // q202's 3-batch build
          val st = operators.SearchIndex.State(
            Scratch.dir("r10-si") + "/s")
          (0 until 3).foreach(b => operators.SearchIndex.fold(spark, st,
            sdocs.filter(pmod(col("id"), lit(3)) === b), b.toLong, "id", "text"))
          operators.SearchIndex.search(spark, st, Seq("alpha", "beta")).count()
        }
        time(s"r10-clusterindex-fold3-$n") { // q190's 3-batch build
          val st = operators.ClusterIndex.State(
            Scratch.dir("r10-ci") + "/c")
          (0 until 3).foreach(b => operators.ClusterIndex.fold(spark, st,
            sdocs.filter(pmod(col("id"), lit(3)) === b), b.toLong, "id", "text",
            threshold = 0.9, maxStateDf = 1000))
          operators.ClusterIndex.clustersNonSingleton(spark, st).count()
        }
        sdocs.unpersist()
      }
      for (nv <- Seq(base / 10, base)) {
        val vecs = syntheticVecs(nv)
        time(s"r10-vectorindex-fold-refresh-$nv") { // q244 fold + q250 refresh
          val m = operators.VectorIndex.Managed(
            Scratch.dir("r10-vi") + "/v")
          operators.VectorIndex.fold(spark,
            operators.VectorIndex.active(spark, m), vecs, 0L, "id", "vec",
            nCells = 64)
          operators.VectorIndex.refreshQuantizer(spark, m, nCells = 64)
          operators.VectorIndex.nCells(spark,
            operators.VectorIndex.active(spark, m)).toLong
        }
      }
      for (n <- Seq(base, base * 10)) {
        // q242's coordinator fold: one SCD2 dim + one upsert fact in one
        // atomic multi-table commit
        val cdcRows = spark.range(n).select(
          when(pmod(col("id"), lit(5)) === 0, lit("acct"))
            .otherwise(lit("txn")).as("route"),
          pmod(col("id"), lit(100000L)).as("account_id"),
          col("id").as("txn_id"),
          (pmod(col("id"), lit(9973L)).cast("double") / lit(100.0)).as("amount"),
          lit("c").as("op"), col("id").as("seq"),
          to_timestamp(lit("2024-01-05 00:00:00")).as("ts"))
        time(s"r10-multitable-fold-$n") {
          val root = Scratch.dir("r10-mts") + "/r"
          val dim = streaming.MultiTableStream.Scd2Dim("accounts", "acct",
            Seq("account_id"), Seq("amount"), "ts", tieBreak = Seq("seq"),
            opCol = Some("op"),
            project = _.select("account_id", "amount", "op", "seq", "ts"))
          val fact = streaming.MultiTableStream.UpsertFact("txns", "txn",
            Seq("txn_id"), Seq("seq"), opCol = Some("op"),
            project = _.select("txn_id", "account_id", "amount", "op", "seq", "ts"))
          streaming.MultiTableStream.foldBatch(spark, root, cdcRows,
            "route", Seq(dim), Seq(fact), 0L)
          streaming.MultiTableStream.readCommitted(spark, root)("txns").count()
        }
      }
    }
    if (what == "sweep-r10") {
      // cross-artifact erasure sweep at scale (ErasureSweep.eraseDerived):
      // the number that matters is the DEFERRED ACK — it must be
      // corpus-size-independent for the ledger tiers (pointer flips +
      // O(docstats) stats re-agg) while the cluster tier's eager
      // re-pair tracks its state size (the documented structural
      // exception, reported separately). 1k-subject batched request,
      // the same amortization pattern as gov-r8.
      import java.nio.file.Files
      val n = sys.env.getOrElse("SPARK_GRAFT_N", "1000000").toLong
      val sdocs = syntheticDocs(n)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      sdocs.count()
      val sst = operators.SearchIndex.State(
        Scratch.dir("sw-si") + "/s")
      time(s"sweep-build-search-$n")(
        { operators.SearchIndex.fold(spark, sst, sdocs, 0L, "id", "text"); 1L })
      val m = operators.VectorIndex.Managed(
        Scratch.dir("sw-vi") + "/v")
      val nv = n / 5
      time(s"sweep-build-vector-managed-$nv") {
        operators.VectorIndex.fold(spark,
          operators.VectorIndex.active(spark, m), syntheticVecs(nv), 0L,
          "id", "vec", nCells = 64)
        // a refresh so a RETIRED generation exists — eraseManaged must
        // destroy its bytes inside the ack
        operators.VectorIndex.refreshQuantizer(spark, m, nCells = 64); 1L
      }
      val cst = operators.ClusterIndex.State(
        Scratch.dir("sw-ci") + "/c")
      val nc = n / 5
      time(s"sweep-build-cluster-$nc")(
        { operators.ClusterIndex.fold(spark, cst,
            sdocs.filter(col("id") < nc), 0L, "id", "text",
            threshold = 0.9, maxStateDf = 1000); 1L })
      val subjects = spark.range(1000L).select((col("id") * 9973L % (n / 5)).as("id"))
      time(s"sweep-deferred-ack-1k-of-$n")(
        { operators.ErasureSweep.eraseDerived(spark, subjects,
            search = Seq(sst), cluster = Seq(cst), managedVector = Seq(m),
            deferred = true).count() })
      time("sweep-serve-post-search")(operators.SearchIndex.search(spark, sst,
        Seq("alpha", "beta")).count())
      time("sweep-serve-post-vector")(operators.VectorIndex.topK(spark,
        operators.VectorIndex.active(spark, m),
        syntheticVecs(10), "id", "vec", k = 5, nProbe = 4).count())
      sdocs.unpersist()
    }
    if (what == "eraseack") {
      // Deferred cluster-erase ACK latency as a function of AFFECTED-
      // cluster size (the one tier whose ack is not O(1): the bridge-
      // split contract forces the structural re-pair to run eagerly).
      // Synthetic state built directly (bypassing fold — the fixture is
      // the point, not ingestion): a CHAIN cluster (doc i ~ doc i+1 via
      // one shared shingle; erasing the middle doc splits it into two
      // halves — re-pair is O(members) pairs + O(log diameter)
      // label-propagation rounds) and a STAR cluster (erasing the hub
      // shatters it into singletons — the re-pair finds zero pairs).
      import graft.gold.BaseDelta
      import graft.operators.ClusterIndex
      for (n <- Seq(100, 10000, 1000000); shape <- Seq("chain", "star")) {
        val root = Scratch.dir(s"eraseack-$shape-$n") + "/cx"
        val st = ClusterIndex.State(root)
        val ids = spark.range(n.toLong).select(col("id"))
        val postings = shape match {
          case "chain" =>
            ids.select(col("id"),
              explode(array(col("id"), col("id") + 1)).as("s"),
              lit(2).as("n_sh"))
          case "star" =>
            val hub = ids.filter(col("id") > 0)
              .select(lit(0L).as("id"), col("id").as("s"),
                lit(n - 1).as("n_sh"))
            val mem = ids.filter(col("id") > 0)
              .select(col("id"),
                explode(array(col("id"), col("id") + n)).as("s"),
                lit(2).as("n_sh"))
            hub.unionByName(mem)
        }
        BaseDelta.append(spark, st.postingsTable, postings, 0L)
        BaseDelta.append(spark, st.clustersTable,
          ids.select(col("id"), lit(0L).as("cluster_id"),
            lit(0L).as("as_of")), 0L)
        val subject = if (shape == "chain") n / 2L else 0L
        time(s"eraseack-$shape-n$n")(
          ClusterIndex.eraseLogical(spark, st,
            spark.range(subject, subject + 1).select(col("id").as("doc_id")))
            .count())
      }
      // the budgeted fallback at the worst measured point: ack is the
      // relabel-only path, the re-pair moves to repairStructural
      locally {
        val n = 1000000
        val root = Scratch.dir("eraseack-budget") + "/cx"
        val st = ClusterIndex.State(root)
        val ids = spark.range(n.toLong).select(col("id"))
        BaseDelta.append(spark, st.postingsTable,
          ids.select(col("id"),
            explode(array(col("id"), col("id") + 1)).as("s"),
            lit(2).as("n_sh")), 0L)
        BaseDelta.append(spark, st.clustersTable,
          ids.select(col("id"), lit(0L).as("cluster_id"),
            lit(0L).as("as_of")), 0L)
        time(s"eraseack-chain-n$n-budgeted-ack")(
          ClusterIndex.eraseLogical(spark, st,
            spark.range(n / 2L, n / 2L + 1).select(col("id").as("doc_id")),
            maxAffected = 100000L).count())
        time(s"eraseack-chain-n$n-async-repair")(
          { ClusterIndex.repairStructural(spark, st); 1L })
      }
    }

    if (what == "gov-soak-r12") {
      // STEADY-STATE governance soak (r11 verdict #5): the full loop —
      // fold + deferred erasure + budget-tripped auto-materialization +
      // async structural repair — TOGETHER for many batches through the
      // real IndexStreams sink. Records per-batch fold latency, pending-
      // ledger depth, and marked-cluster staleness; the committed SURVEY
      // table asserts flat latency and bounded staleness.
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import graft.gold.BaseDelta
      import graft.operators.ClusterIndex
      import spark.implicits._
      val nBatches = sys.env.getOrElse("SPARK_GRAFT_BATCHES", "50").toInt
      val batchDocsN = sys.env.getOrElse("SPARK_GRAFT_BATCH_DOCS", "40000").toInt
      val eraseEvery = 5
      val budget = sys.env.getOrElse("SPARK_GRAFT_TOMB_BUDGET", "120").toLong
      val root = Scratch.dir("gov-soak")
      val st = ClusterIndex.State(s"$root/cx")
      implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
      val ms = MemoryStream[(Long, String)]
      // round-13: the sink refreshes the STREAMING governance pane after
      // every batch — the soak's per-batch numbers below read from the
      // PANE mart, proving the ops view converges live with the ledgers
      val q = graft.streaming.IndexStreams.clusterIndexStream(
        ms.toDF().toDF("doc_id", "text"), st, s"$root/ckpt",
        "doc_id", "text",
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0),
        tombstoneBudget = budget,
        pane = Some(graft.streaming.IndexStreams.PaneConfig(
          s"$root/pane", s"$root/receipts")))
      // 10% of each batch lands in 50-member exact-dup families (key =
      // floor-to-500-block), so folds and erasures do real cluster work.
      // Every 3-shingle carries >= 2 key-derived wide-modulus tokens, so
      // shingle df ~= family size — the corpus shape the df-cap contract
      // assumes (boilerplate-heavy corpora are the caps' job, not the
      // steady-state soak's)
      // SPARK_GRAFT_SOAK_SHAPE=boiler: every doc shares a 4-token
      // boilerplate prefix (hot shingles in EVERY batch) — the shape
      // that exposed the pre-r12 linear fold-cost growth and now pins
      // the cross-side prefix cut's flatness
      val boiler = sys.env.get("SPARK_GRAFT_SOAK_SHAPE").contains("boiler")
      def batchDocs(b: Int): Seq[(Long, String)] =
        (0 until batchDocsN).map { j =>
          val id = b.toLong * batchDocsN + j
          val key = if (id % 10 == 0) id - (id % 500) else id
          val text =
            if (boiler) s"terms of service apply $key alpha ${key % 9973} " +
              s"beta ${key % 97} gamma ${key % 13}"
            else s"k$key a${key % 9973} b${key * 31 % 100003} " +
              s"c${key * 17 % 1000003} d${key % 97} e${key % 13}"
          (id, text)
        }
      println(s"GOVSOAK batches=$nBatches batchDocs=$batchDocsN " +
        s"eraseEvery=$eraseEvery budget=$budget " +
        s"heap=${Runtime.getRuntime.maxMemory() / (1 << 20)}MiB")
      var staleSince = -1
      (0 until nBatches).foreach { b =>
        val t0 = System.nanoTime()
        ms.addData(batchDocs(b))
        q.processAllAvailable()
        val foldS = (System.nanoTime() - t0) / 1e9
        var eraseS = 0.0
        if (b > 0 && b % eraseEvery == 0) {
          // HALF of one family from the PREVIOUS batch (survivors remain,
          // so there is structure to re-pair), budget 0 → the relabel-only
          // ack marks clusters for async repair
          val subs = (0 until 500 by 20)
            .map(j => (b - 1).toLong * batchDocsN + j)
          val t1 = System.nanoTime()
          graft.gold.CommitCas.retryConflict(5)(
            ClusterIndex.eraseLogical(spark, st, subs.toDF("doc_id"),
              maxAffected = 0L).count())
          eraseS = (System.nanoTime() - t1) / 1e9
        }
        // per-batch numbers from the PANE SNAPSHOT (what ops would watch),
        // cross-checked against the direct ledger probes every batch
        val snap = graft.operators.ErasureSweep
          .governancePaneLatest(spark, s"$root/pane")
          .filter(org.apache.spark.sql.functions.col("item")
            .isin("postings", "marked_clusters"))
          .collect()
          .map(r => r.getAs[String]("item") -> r.getAs[Long]("n_pending"))
          .toMap
        val pendingPane = snap.getOrElse("postings", -1L)
        val marksPane = snap.getOrElse("marked_clusters", -1L)
        val pending = BaseDelta.pendingTombstones(spark, st.postingsTable)
          .values.map(_.count()).sum
        val marks = ClusterIndex.pendingRepairs(spark, st)
          .map(_.count()).getOrElse(0L)
        val paneOk = pendingPane == pending && marksPane == marks
        if (marks > 0 && staleSince < 0) staleSince = b
        val staleness = if (marks > 0) b - staleSince + 1 else { staleSince = -1; 0 }
        println(f"GOVSOAK batch=$b%02d fold_s=$foldS%.2f erase_s=$eraseS%.2f " +
          s"pending=$pending markers=$marks staleness=$staleness " +
          s"pane_pending=$pendingPane pane_markers=$marksPane pane_ok=$paneOk")
        System.out.flush()
      }
      q.stop()
    }

    if (what == "lowmem-overhead") {
      // r11 verdict #7: the scoped low-memory profile's cost when NOT
      // needed. Above the floor the wrapper short-circuits before any
      // session mutation; this pins the per-call primitive cost next to
      // a real fold so the <1% claim is a measurement. MemoryBudgetSpec
      // pins the byte-identical-confs contract.
      import graft.gold.MemoryBudget
      println(s"LOWMEM-OVERHEAD mbPerSlot=${MemoryBudget.mbPerSlot(spark)}")
      time("wrapper-noop-x1e6") {
        var i = 0
        while (i < 1000000) {
          MemoryBudget.withLowMemoryProfile(spark)(()); i += 1
        }
        1000000L
      }
      val root = Scratch.dir("lowmem-ovh") + "/cx"
      val st = operators.ClusterIndex.State(root)
      time("cluster-fold-3batch-roomy") {
        (0 to 2).foreach(i => operators.ClusterIndex.fold(spark, st,
          docs.filter(pmod(col("doc_id"), lit(3)) === i), i.toLong,
          "doc_id", "text"))
        operators.ClusterIndex.clusters(spark, st).count()
      }
    }
    spark.stop()
  }
}
