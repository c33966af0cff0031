package graft

/** The mechanical scale adjudication (round-12 verdict #1): for the
  * pair-OUTPUT-bound operators, measure wall time AND output rows at two
  * scale factors and print the ratio table — so "the sf1 outlier is
  * output growth, not the engine" is a pinned measurement
  * (`time_ratio <= c * output_ratio`), not prose. Output: one JSON line
  * per query + a summary line; the committed table lives in SCALE.md.
  *
  * Usage: runMain graft.ScaleAudit <sfDirA> <sfDirB> [q1,q2,...]
  */
object ScaleAudit {

  /** Pair/output-bound registry queries whose result size scales with
    * the TRUE duplicate/similarity population, not the corpus.
    */
  val PairBound: Seq[String] = Seq(
    "q21_minhash_lsh", "q22_simhash", "q23_ngram_jaccard",
    "q99_tfidf_cosine", "q103_containment", "q108_cluster_split",
    "q125_minhash_probe", "q141_fuzzy_global", "q190_incremental_clusters",
    "q262_sql_tvf_clusters", "q264_cluster_erase", "q25_embedding_neardup")

  /** The ANN tier (round-13 verdict #4): output is a fixed-size law
    * summary (recall/shape booleans), so the output-ratio law is
    * meaningless — the mechanical law here is `time_ratio <= data_ratio`
    * (serve/build work is at worst linear in the corpus: fixed nProbe/
    * nCells probe a constant corpus fraction) AND every boolean law
    * column in the summary row — including recall@5 >= 0.7 — must hold
    * at BOTH scale factors. q244/q250 (index build / managed refresh)
    * carry corpus-sized outputs but belong to the same data-linear law.
    */
  val CorpusBound: Seq[String] = Seq(
    "q29_ann_ivf", "q115_ivf_pq_rerank", "q244_vector_index",
    "q250_vector_index_refresh", "q273_ann_lsh", "q274_lsh_index")

  def main(args: Array[String]): Unit = {
    val (a, b) = (args(0), args(1))
    val names = args.drop(2).headOption
      .map(_.split(",").map(_.trim).toSeq).getOrElse(PairBound)
      .filter(SparkEntry.queries.contains)
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    def measure(name: String, dir: String): (Long, Double) = {
      val runs = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        val n = SparkEntry.queries(name)(spark, dir).count()
        (n, (System.nanoTime() - t0) / 1e9)
      }
      (runs.last._1, runs.map(_._2).min) // rows identical; best-of-2 time
    }

    def ms(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    names.foreach { name =>
      val (rowsA, secA) = measure(name, a)
      val (rowsB, secB) = measure(name, b)
      val outR = if (rowsA > 0) rowsB.toDouble / rowsA else Double.NaN
      val timeR = if (secA > 0) secB / secA else Double.NaN
      println(s"""{"query":"$name","rows_a":$rowsA,"rows_b":$rowsB,""" +
        s""""sec_a":${ms(secA)},"sec_b":${ms(secB)},""" +
        s""""output_ratio":${ms(outR)},"time_ratio":${ms(timeR)}}""")
      System.out.flush()
    }

    // ── corpus-bound (ANN) tier, unless an explicit list was given ──
    if (args.drop(2).isEmpty) {
      val dataRatio = {
        val nA = spark.read.parquet(s"$a/embeddings.parquet").count()
        val nB = spark.read.parquet(s"$b/embeddings.parquet").count()
        nB.toDouble / math.max(nA, 1L)
      }
      // every boolean column of a law-summary row must be TRUE (recall,
      // shape, rerank agreement); corpus-sized outputs have no booleans
      // and report laws_ok = true vacuously
      def lawsOk(name: String, dir: String): Boolean = {
        val df = SparkEntry.queries(name)(spark, dir)
        val boolCols = df.schema.fields.filter(
          _.dataType == org.apache.spark.sql.types.BooleanType).map(_.name)
        if (boolCols.isEmpty) true
        else df.collect().forall(r =>
          boolCols.forall(c => r.getAs[Boolean](c)))
      }
      CorpusBound.filter(SparkEntry.queries.contains).foreach { name =>
        val (rowsA, secA) = measure(name, a)
        val (rowsB, secB) = measure(name, b)
        val timeR = if (secA > 0) secB / secA else Double.NaN
        val okA = lawsOk(name, a)
        val okB = lawsOk(name, b)
        println(s"""{"query":"$name","law":"corpus","rows_a":$rowsA,""" +
          s""""rows_b":$rowsB,"sec_a":${ms(secA)},"sec_b":${ms(secB)},""" +
          s""""data_ratio":${ms(dataRatio)},"time_ratio":${ms(timeR)},""" +
          s""""laws_ok_a":$okA,"laws_ok_b":$okB}""")
        System.out.flush()
      }
    }
    spark.stop()
  }
}
