package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.LongType
import graft.operators.{Bpe, Dedup, GraphOps, Similarity}

/** The iterative-loop policy ([[operators.Loop]]): what a loop
  * materializes it releases, the session's checkpoint dir switches every
  * loop to reliable checkpoints, and empty input short-circuits.
  */
class LoopSpec extends SparkSpec {

  import spark.implicits._

  private def persistedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def leafIds(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.id }.toSet

  /** Runs `op` and returns the RDDs it left persisted beyond its result's
    * own leaves.
    */
  private def leaked(op: => DataFrame): Set[Int] = {
    val before = persistedIds
    val out = op
    (persistedIds -- before) -- leafIds(out)
  }

  private def rows(df: DataFrame): Set[String] = df.collect().map(_.toString).toSet

  test("loops release what they checkpoint: only the result's own leaves stay persisted") {
    // a 40-link chain needs ~6 pointer-doubling rounds
    val chain = (1L to 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    var labels: DataFrame = null
    val docs = (1L to 30L).map(i => (i, s"alpha beta gamma lower upper doc$i"))
      .toDF("doc_id", "text")
    val tree = (2L to 64L).map(i => (i, i / 2)).toDF("child", "parent")
    var anc: DataFrame = null
    val vecs = (1 to 60).map(i => (i.toLong, Array(math.cos(i).toFloat,
      math.sin(i).toFloat, (i % 7).toFloat))).toDF("id", "vec")
    val leaks = Map(
      "resolveClusters" -> leaked { labels = Dedup.resolveClusters(chain); labels },
      "Bpe.train" -> leaked(Bpe.train(docs, "text", nMerges = 6)),
      "ancestors" -> leaked {
        anc = GraphOps.ancestors(tree, "child", "parent", maxDepth = 8); anc },
      "centroidsKMeansParallel" ->
        leaked(Similarity.centroidsKMeansParallel(vecs, "id", "vec", nCells = 4)))
    assert(leaks.forall(_._2.isEmpty), s"persisted RDDs left behind: $leaks")
    assert(labels.select("cluster_id").distinct().as[Long].collect().toSeq == Seq(1L))
    assert(leafIds(labels).nonEmpty, "the labels are a checkpointed leaf")
    assert(anc.filter($"node" === 64L).count() == 6) // 32, 16, 8, 4, 2, 1
  }

  test("a session checkpoint dir makes loop checkpoints reliable, with the same rows") {
    val pairs = ((1L to 20L).map(i => (i, i + 1)) ++ Seq((50L, 51L), (52L, 51L)))
      .toDF("id_a", "id_b")
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (4L, 2L))
      .toDF("src", "dst")
    val localClusters = rows(Dedup.resolveClusters(pairs))
    val localRanks = rows(GraphOps.pageRankInt(edges, "src", "dst", iters = 3))
    val dir = new java.io.File(tmpDir("loop-ckpt"))
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f +: f.listFiles().toSeq.flatMap(walk) else Seq(f)
    def written(): Int = walk(dir).count(_.getName.startsWith("part-"))
    // the rdd-N checkpoint dirs left on disk, and those a frame reads
    def rddDirs(): Set[String] =
      walk(dir).filter(f => f.isDirectory && f.getName.startsWith("rdd-"))
        .map(_.getName).toSet
    def ownDirs(df: DataFrame): Set[String] =
      df.queryExecution.analyzed.collect { case l: LogicalRDD =>
        l.rdd.getCheckpointFile.map(new org.apache.hadoop.fs.Path(_).getName)
      }.flatten.toSet
    spark.sparkContext.setCheckpointDir(dir.getPath)
    try {
      val clusters = Dedup.resolveClusters(pairs)
      assert(rows(clusters) == localClusters)
      val afterClusters = written()
      assert(afterClusters > 0, "resolveClusters wrote no checkpoint under the dir")
      assert(ownDirs(clusters).nonEmpty && rddDirs() == ownDirs(clusters),
        s"released rounds' files stayed: on disk ${rddDirs()}, result reads ${ownDirs(clusters)}")
      val ranks = GraphOps.pageRankInt(edges, "src", "dst", iters = 3)
      assert(rows(ranks) == localRanks)
      assert(written() > afterClusters, "pageRankInt wrote no checkpoint under the dir")
      assert(rddDirs() == ownDirs(clusters) ++ ownDirs(ranks),
        s"released rounds' files stayed: on disk ${rddDirs()}, results read " +
          s"${ownDirs(clusters) ++ ownDirs(ranks)}")
    } finally org.apache.spark.CheckpointDirReset(spark)
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
  }

  test("empty pair input resolves to zero typed rows") {
    val out = Dedup.resolveClusters(Seq.empty[(Long, Long)].toDF("id_a", "id_b"))
    assert(out.count() == 0)
    assert(out.schema.map(f => f.name -> f.dataType) ==
      Seq("id" -> LongType, "cluster_id" -> LongType))
  }
}
