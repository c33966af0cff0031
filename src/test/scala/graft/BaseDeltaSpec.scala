package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.gold.{BaseDelta, UpsertByKey}

/** Base+delta keyed table: append-only micro-batches, merge-on-read,
  * periodic compaction (the O(batch)-write upsert layout).
  */
class BaseDeltaSpec extends SparkSpec {
  import spark.implicits._

  private def t(path: String, opAware: Boolean = false) =
    BaseDelta.Table(path, Seq("id"), Seq("ver", "id"),
      if (opAware) Some("op") else None)

  private def snap(df: org.apache.spark.sql.DataFrame): Map[Long, (String, Int)] =
    df.collect().map(r => r.getAs[Long]("id") ->
      ((r.getAs[String]("v"), r.getAs[Int]("ver")))).toMap

  test("merge-on-read equals iterated mergeBatch over the same batches") {
    val path = tmpDir("bd-eq") + "/t"
    val table = t(path)
    // deterministic pseudo-random batches: key collisions, replays, ties
    val batches = (0 until 6).map { b =>
      (0 until 40).map { i =>
        val id = (b * 7 + i * 13) % 25L
        (id, s"v$b-$i", b * 100 + i)
      }.toDF("id", "v", "ver")
    }
    batches.zipWithIndex.foreach { case (df, i) =>
      BaseDelta.append(spark, table, df, i.toLong)
    }
    val expected = batches.foldLeft(Option.empty[org.apache.spark.sql.DataFrame]) {
      case (acc, df) => Some(UpsertByKey.mergeBatch(acc, df, Seq("id"), Seq("ver", "id"), None))
    }.get
    assert(snap(BaseDelta.read(spark, table)) == snap(expected))
    // compaction preserves the view and clears the deltas
    BaseDelta.compact(spark, table)
    assert(BaseDelta.deltaBatches(spark, table).isEmpty)
    assert(snap(BaseDelta.read(spark, table)) == snap(expected))
  }

  test("time travel: readAt(b) reproduces each prefix state; compaction floors the window") {
    val path = tmpDir("bd-tt") + "/t"
    val table = t(path)
    val batches = Seq(
      Seq((1L, "a1", 1), (2L, "b1", 1)),
      Seq((1L, "a2", 2), (3L, "c1", 1)),
      Seq((2L, "b2", 2))
    ).map(_.toDF("id", "v", "ver"))
    batches.zipWithIndex.foreach { case (df, i) =>
      BaseDelta.append(spark, table, df, i.toLong)
    }
    // as-of each batch equals the iterated-merge prefix state
    assert(snap(BaseDelta.readAt(spark, table, 0L)) ==
      Map(1L -> (("a1", 1)), 2L -> (("b1", 1))))
    assert(snap(BaseDelta.readAt(spark, table, 1L)) ==
      Map(1L -> (("a2", 2)), 2L -> (("b1", 1)), 3L -> (("c1", 1))))
    assert(snap(BaseDelta.readAt(spark, table, 2L)) ==
      snap(BaseDelta.read(spark, table)))
    // a future as-of point sees the latest state
    assert(snap(BaseDelta.readAt(spark, table, 99L)) ==
      snap(BaseDelta.read(spark, table)))
    // compaction folds history THROUGH batch 2: the manifest records the
    // boundary, as-of points below it now throw instead of silently
    // serving the fold state; the boundary itself is the fold state
    assert(BaseDelta.timeTravelFloor(spark, table).isEmpty) // never compacted
    BaseDelta.compact(spark, table)
    BaseDelta.append(spark, table, Seq((1L, "a3", 3)).toDF("id", "v", "ver"), 3L)
    assert(BaseDelta.timeTravelFloor(spark, table) == Some(2L))
    assert(snap(BaseDelta.readAt(spark, table, 2L)) ==
      Map(1L -> (("a2", 2)), 2L -> (("b2", 2)), 3L -> (("c1", 1))))
    assert(snap(BaseDelta.readAt(spark, table, 3L)) ==
      Map(1L -> (("a3", 3)), 2L -> (("b2", 2)), 3L -> (("c1", 1))))
    val refused = intercept[IllegalArgumentException] {
      BaseDelta.readAt(spark, table, 1L)
    }
    assert(refused.getMessage.contains("fold boundary 2"), refused.getMessage)
    // the floor is monotone across further compactions
    BaseDelta.compact(spark, table)
    assert(BaseDelta.timeTravelFloor(spark, table) == Some(3L))
  }

  test("tombstones: latest op='d' hides the key; compaction removes it physically") {
    val path = tmpDir("bd-del") + "/t"
    val table = t(path, opAware = true)
    BaseDelta.append(spark, table,
      Seq((1L, "a", 1, "u"), (2L, "b", 1, "u")).toDF("id", "v", "ver", "op"), 0L)
    BaseDelta.append(spark, table,
      Seq((1L, "x", 2, "d")).toDF("id", "v", "ver", "op"), 1L)
    assert(snap(BaseDelta.read(spark, table)) == Map(2L -> (("b", 1))))
    BaseDelta.compact(spark, table)
    // base holds only the surviving key
    assert(spark.read.parquet(
      BaseDelta.currentBasePath(spark, table).get).count() == 1)
    // re-insert after delete wins (newer version)
    BaseDelta.append(spark, table,
      Seq((1L, "back", 3, "u")).toDF("id", "v", "ver", "op"), 2L)
    assert(snap(BaseDelta.read(spark, table)) == Map(1L -> (("back", 3)), 2L -> (("b", 1))))
  }

  test("replayed batch id overwrites its own delta; stale deltas re-merge as no-ops") {
    val path = tmpDir("bd-replay") + "/t"
    val table = t(path)
    val b0 = Seq((1L, "a", 1), (2L, "b", 1)).toDF("id", "v", "ver")
    BaseDelta.append(spark, table, b0, 0L)
    BaseDelta.append(spark, table, b0, 0L)  // replay: same batch id
    assert(BaseDelta.deltaBatches(spark, table) == Seq(0L))
    assert(snap(BaseDelta.read(spark, table)) == Map(1L -> (("a", 1)), 2L -> (("b", 1))))
    // crash shape: base already compacted, an old delta survives cleanup
    BaseDelta.compact(spark, table)
    BaseDelta.append(spark, table, b0, 0L)  // stale replay after compaction
    assert(snap(BaseDelta.read(spark, table)) == Map(1L -> (("a", 1)), 2L -> (("b", 1))))
  }

  test("legacy dangling base: read falls back WITHOUT mutating; the writer recovers") {
    // legacy layout = what pre-manifest code wrote: flat base, no _manifest
    val path = tmpDir("bd-dangle") + "/t"
    val table = t(path)
    Seq((1L, "a", 1)).toDF("id", "v", "ver").write.parquet(table.basePath)
    BaseDelta.append(spark, table, Seq((2L, "b", 1)).toDF("id", "v", "ver"), 1L)
    val fs = new org.apache.hadoop.fs.Path(table.basePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(BaseDelta.readManifest(spark, table).isEmpty,
      "an append onto a flat base must stay legacy")
    // read resolves the flat base plus the on-disk deltas by listing, and
    // must not migrate anything — a reader racing a writer's compact must
    // never mutate the layout
    assert(snap(BaseDelta.read(spark, table)) ==
      Map(1L -> (("a", 1)), 2L -> (("b", 1))))
    assert(BaseDelta.readManifest(spark, table).isEmpty)
    assert(fs.exists(new org.apache.hadoop.fs.Path(table.basePath)))
    // the WRITE path migrates the flat base to a manifest generation
    BaseDelta.compact(spark, table)
    assert(BaseDelta.readManifest(spark, table).exists(_.generation == 1))
    assert(snap(BaseDelta.read(spark, table)) ==
      Map(1L -> (("a", 1)), 2L -> (("b", 1))))
  }

  test("snapshot isolation: a read planned before compact() still collects correctly") {
    val path = tmpDir("bd-iso") + "/t"
    val table = t(path)
    BaseDelta.append(spark, table, Seq((1L, "a", 1)).toDF("id", "v", "ver"), 0L)
    BaseDelta.compact(spark, table)  // generation 1
    BaseDelta.append(spark, table, Seq((1L, "a2", 2), (2L, "b", 1)).toDF("id", "v", "ver"), 1L)
    // reader resolves the manifest now: (base_g1, [1])
    val snapshotDf = BaseDelta.read(spark, table)
    // writer compacts to generation 2 concurrently; retention must keep
    // generation 1 and delta 1 alive for the in-flight reader
    BaseDelta.compact(spark, table)
    assert(BaseDelta.readManifest(spark, table).exists(_.generation == 2))
    assert(snap(snapshotDf) == Map(1L -> (("a2", 2)), 2L -> (("b", 1))))
    // post-compaction readers resolve the new generation and agree
    assert(snap(BaseDelta.read(spark, table)) ==
      Map(1L -> (("a2", 2)), 2L -> (("b", 1))))
    // the cycle AFTER retires generation 1 (bounded retention, not a leak)
    BaseDelta.append(spark, table, Seq((3L, "c", 1)).toDF("id", "v", "ver"), 2L)
    BaseDelta.compact(spark, table)  // generation 3
    assert(!Files.exists(Paths.get(table.baseGenPath(1))))
    assert(Files.exists(Paths.get(table.baseGenPath(2))))
  }

  test("schema evolution: a column added mid-stream null-fills older rows on read") {
    val path = tmpDir("bd-evo") + "/t"
    val table = t(path)
    BaseDelta.append(spark, table,
      Seq((1L, "a", 1)).toDF("id", "v", "ver"), 0L)
    // upstream ALTER TABLE: later deltas carry an extra column
    BaseDelta.append(spark, table,
      Seq((2L, "b", 1, "eu")).toDF("id", "v", "ver", "region"), 1L)
    // strict read fails loudly on the drift
    intercept[org.apache.spark.sql.AnalysisException] {
      BaseDelta.read(spark, table).collect()
    }
    val out = BaseDelta.read(spark, table, allowSchemaEvolution = true).collect()
      .map(r => r.getAs[Long]("id") -> Option(r.getAs[String]("region"))).toMap
    assert(out == Map(1L -> None, 2L -> Some("eu")))
    // compaction under evolution folds to the widened schema
    BaseDelta.compact(spark, table, allowSchemaEvolution = true)
    assert(spark.read.parquet(BaseDelta.currentBasePath(spark, table).get)
      .columns.contains("region"))
    assert(BaseDelta.read(spark, table).count() == 2)
  }

  test("streaming base+delta sink: appends per trigger, compacts past maxDeltas") {
    val in = tmpDir("bd-in"); val sink = tmpDir("bd-sink") + "/t"; val ckpt = tmpDir("bd-ckpt")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("ver", org.apache.spark.sql.types.IntegerType)))
    Files.writeString(Paths.get(s"$in/b1.json"),
      Seq("""{"id":1,"v":"a","ver":1}""", """{"id":2,"v":"b","ver":1}""").mkString("\n"))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(in)
    // the gold sink's DeltaFact over one route
    val fact = graft.streaming.MultiTableStream.DeltaFact("t", "t",
      keys = Seq("id"), orderCols = Seq("ver", "id"), maxDeltas = 1)
    val q = graft.streaming.MultiTableStream.start(
      stream.withColumn("route", lit("t")), sink, ckpt, "route", Seq.empty,
      Seq.empty, Seq(fact), trigger = Trigger.ProcessingTime(0))
    q.processAllAvailable()
    Files.writeString(Paths.get(s"$in/b2.json"),
      Seq("""{"id":1,"v":"a2","ver":2}""", """{"id":3,"v":"c","ver":1}""").mkString("\n"))
    q.processAllAvailable(); q.stop()
    val table = fact.deltaTable(sink)
    // two batches with maxDeltas=1 → at least one compaction ran
    assert(BaseDelta.readManifest(spark, table).exists(_.generation >= 1))
    assert(snap(BaseDelta.read(spark, table)) ==
      Map(1L -> (("a2", 2)), 2L -> (("b", 1)), 3L -> (("c", 1))))
  }

  test("vacuum retires folded deltas and old bases; the current view survives") {
    val path = tmpDir("bd-vac") + "/t"
    val table = t(path)
    BaseDelta.append(spark, table,
      Seq((1L, "a", 1), (2L, "b", 1)).toDF("id", "v", "ver"), 0L)
    BaseDelta.append(spark, table,
      Seq((1L, "a2", 2)).toDF("id", "v", "ver"), 1L)
    BaseDelta.compact(spark, table) // gen 1; folded delta dirs retained
    BaseDelta.append(spark, table,
      Seq((3L, "c", 1)).toDF("id", "v", "ver"), 2L)
    BaseDelta.compact(spark, table) // gen 2; gen-1 base retained
    val dir = new java.io.File(path)
    assert(dir.listFiles().exists(_.getName == "base_g1"))
    assert(new java.io.File(s"$path/delta").listFiles() != null)

    val before = snap(BaseDelta.read(spark, table))
    val deleted = BaseDelta.vacuum(spark, table)
    assert(deleted.nonEmpty, "vacuum should have retired state")
    // folded deltas and the superseded base are gone; current base stays
    assert(!dir.listFiles().exists(_.getName == "base_g1"))
    assert(dir.listFiles().exists(_.getName == "base_g2"))
    val deltaDir = new java.io.File(s"$path/delta")
    assert(!deltaDir.exists() || deltaDir.listFiles().isEmpty)
    // the table reads identically, and vacuum is idempotent
    assert(snap(BaseDelta.read(spark, table)) == before)
    assert(BaseDelta.vacuum(spark, table).isEmpty)
    // a post-vacuum append + read still works: vacuum may prune manifest
    // history again, but must never touch a LIVE delta
    BaseDelta.append(spark, table,
      Seq((4L, "d", 1)).toDF("id", "v", "ver"), 3L)
    val deleted2 = BaseDelta.vacuum(spark, table)
    assert(!deleted2.exists(_.contains("delta/batch=3")),
      s"live delta vacuumed: $deleted2")
    assert(snap(BaseDelta.read(spark, table)) ==
      before + (4L -> (("d", 1))))
    assert(BaseDelta.readManifest(spark, table).exists(_.generation == 2L))
  }

  test("deferred erasure: logical erase is immediately read-unreachable; fold latency untouched; compaction materializes") {
    val path = tmpDir("bd-defer") + "/t"
    val table = t(path)
    (0 until 3).foreach { b =>
      BaseDelta.append(spark, table,
        (0 until 20).map(i => ((b * 5 + i) % 12L, s"v$b-$i", b * 100 + i))
          .toDF("id", "v", "ver"), b.toLong)
    }
    val before = snap(BaseDelta.read(spark, table))
    // immediate ack: one tiny publish, no table rewrite
    val receipt = BaseDelta.logicalErase(spark, table, "id",
      Seq(3L, 7L, 99L).toDF("id")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(receipt(3L)._1 == 1 && receipt(7L)._1 == 1 &&
      receipt(99L) == ((0L, "pending")), receipt.toString)
    // unreachable NOW — through read AND every retained time-travel point
    assert(snap(BaseDelta.read(spark, table)) == before - 3L - 7L)
    (0L to 2L).foreach { b =>
      val ids = BaseDelta.readAt(spark, table, b).select("id").collect()
        .map(_.getLong(0)).toSet
      assert(!ids.contains(3L) && !ids.contains(7L),
        s"erased ids reachable via readAt($b)")
    }
    // nothing was rewritten: no compacted base exists yet
    assert(BaseDelta.currentBasePath(spark, table).isEmpty)
    assert(BaseDelta.pendingTombstones(spark, table).keySet == Set("id"))
    // fold latency untouched: appends proceed normally; a row for an
    // erased id appended inside the pending window stays suppressed
    BaseDelta.append(spark, table,
      Seq((3L, "returned", 999), (11L, "fresh", 999)).toDF("id", "v", "ver"), 3L)
    val mid = snap(BaseDelta.read(spark, table))
    assert(!mid.contains(3L) && mid(11L) == (("fresh", 999)))
    // materialization: the next full compaction applies + clears the
    // ledger; bytes of the erased rows leave the layout after vacuum
    BaseDelta.compact(spark, table)
    assert(BaseDelta.pendingTombstones(spark, table).isEmpty,
      "full fold must clear the materialized ledger")
    assert(snap(BaseDelta.read(spark, table)) == mid)
    BaseDelta.vacuum(spark, table)
    val baseFiles = new java.io.File(
      BaseDelta.currentBasePath(spark, table).get)
    assert(spark.read.parquet(baseFiles.toString)
      .filter($"id".isin(3L, 7L)).isEmpty,
      "erased rows survived materialization in the base files")
    // explicit materialization path: no-op when nothing pending
    assert(BaseDelta.materializeErasures(spark, table).isEmpty)
    // and a ledger with no live deltas still materializes on demand
    BaseDelta.logicalErase(spark, table, "id", Seq(11L).toDF("id"))
    assert(BaseDelta.materializeErasures(spark, table).nonEmpty)
    assert(BaseDelta.pendingTombstones(spark, table).isEmpty)
    assert(!snap(BaseDelta.read(spark, table)).contains(11L))
  }

  test("deferred erasure under bounded folds: ledger survives until the full fold") {
    val path = tmpDir("bd-defer-upto") + "/t"
    val table = t(path)
    (0 until 3).foreach { b =>
      BaseDelta.append(spark, table,
        Seq((b.toLong, s"v$b", b)).toDF("id", "v", "ver"), b.toLong)
    }
    BaseDelta.logicalErase(spark, table, "id", Seq(2L).toDF("id"))
    // bounded fold: delta 2 (holding id=2) stays live — the ledger must
    // NOT clear, or the suppressed row would resurface
    BaseDelta.compact(spark, table, upTo = Some(1L))
    assert(BaseDelta.pendingTombstones(spark, table).keySet == Set("id"),
      "bounded fold cleared a ledger whose rows are still live")
    assert(!BaseDelta.read(spark, table).select("id").collect()
      .map(_.getLong(0)).contains(2L))
    // the eventual full fold materializes and clears
    BaseDelta.compact(spark, table, transform = Some(identity))
    assert(BaseDelta.pendingTombstones(spark, table).isEmpty)
    assert(BaseDelta.read(spark, table).select("id").collect()
      .map(_.getLong(0)).toSet == Set(0L, 1L))
  }

  test("read-window CAS: a commit between the pin and the write forces the typed conflict; a fresh pin commits") {
    val table = t(tmpDir("bd-pin") + "/t")
    def batch(id: Long, b: Int) = Seq((id, s"v$b", b)).toDF("id", "v", "ver")
    BaseDelta.append(spark, table, batch(1L, 0), 0L)
    // pin, then a contender commits (the ClusterIndex fold-vs-erase
    // shape: content derived from state read at the pin must not land)
    val pin = BaseDelta.manifestVersion(spark, table)
    BaseDelta.append(spark, table, batch(2L, 1), 1L)
    intercept[graft.gold.CommitConflictException] {
      BaseDelta.append(spark, table, batch(3L, 2), 2L,
        pinnedFrom = Some(pin))
    }
    intercept[graft.gold.CommitConflictException] {
      BaseDelta.compact(spark, table, pinnedFrom = Some(pin))
    }
    // the conflicted append staged nothing reader-visible
    assert(BaseDelta.read(spark, table).select("id").as[Long]
      .collect().toSet == Set(1L, 2L))
    // fresh pins: both commit
    BaseDelta.append(spark, table, batch(3L, 2), 2L,
      pinnedFrom = Some(BaseDelta.manifestVersion(spark, table)))
    BaseDelta.compact(spark, table,
      pinnedFrom = Some(BaseDelta.manifestVersion(spark, table)))
    assert(BaseDelta.read(spark, table).select("id").as[Long]
      .collect().toSet == Set(1L, 2L, 3L))
    // the pre-manifest (virgin-table) pin is version 0 and commits too
    val t2 = t(tmpDir("bd-pin0") + "/t")
    val pin0 = BaseDelta.manifestVersion(spark, t2)
    assert(pin0 == 0L)
    BaseDelta.append(spark, t2, batch(9L, 0), 0L, pinnedFrom = Some(pin0))
    assert(BaseDelta.read(spark, t2).count() == 1L)
    // and a stale virgin pin conflicts once someone else committed
    intercept[graft.gold.CommitConflictException] {
      BaseDelta.append(spark, t2, batch(8L, 1), 1L, pinnedFrom = Some(0L))
    }
  }

  test("crashed-swap leftovers: an erasure re-run reclaims its predecessor's trash; full vacuum sweeps stage and trash") {
    val path = tmpDir("bd-swapleft") + "/t"
    val table = t(path)
    (0 until 3).foreach(i => BaseDelta.append(spark, table,
      Seq((i.toLong, s"v$i", i)).toDF("id", "v", "ver"), i.toLong))
    val f = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    // simulate a swap that crashed between rename(live→trash) and
    // delete(trash): the trash holds the PRE-rewrite (subject) bytes —
    // and one that crashed before the announce: a stale stage dir
    spark.read.parquet(table.deltaPath(0L))
      .write.parquet(table.deltaPath(0L) + ".trash-deadbeef")
    spark.read.parquet(table.deltaPath(1L))
      .write.parquet(table.deltaPath(1L) + ".stage-deadbeef")
    // neither leftover is reader-visible
    assert(BaseDelta.read(spark, table).count() == 3L)
    // the erasure re-run path: rewriteKeptDeltas swaps each live delta
    // in place, sweeping same-id trash from the crashed predecessor
    BaseDelta.rewriteKeptDeltas(spark, table, None,
      df => df.filter(col("id") =!= 0L))
    assert(!f.exists(p(table.deltaPath(0L) + ".trash-deadbeef")),
      "re-run left the crashed predecessor's trash (pre-erasure bytes)")
    assert(BaseDelta.read(spark, table).select("id").as[Long]
      .collect().toSet == Set(1L, 2L))
    // the rewrite's own swaps left no stage/trash siblings
    val leftovers = f.listStatus(p(table.deltaRoot)).map(_.getPath.getName)
      .filter(n => n.contains(".stage-") || n.contains(".trash-")).toSet
    assert(leftovers == Set("batch=1.stage-deadbeef"),
      s"unexpected swap siblings: $leftovers")
    // full vacuum (writer-quiet) reclaims the pre-announce stage orphan
    BaseDelta.vacuum(spark, table)
    assert(f.listStatus(p(table.deltaRoot)).map(_.getPath.getName)
      .forall(n => !n.contains(".stage-") && !n.contains(".trash-")),
      "full vacuum left swap leftovers under deltaRoot")
    assert(BaseDelta.read(spark, table).select("id").as[Long]
      .collect().toSet == Set(1L, 2L))
    // writer-safe vacuum must NOT touch a (possibly live) swap sibling
    val t2 = t(tmpDir("bd-swapws") + "/t")
    BaseDelta.append(spark, t2,
      Seq((1L, "a", 1)).toDF("id", "v", "ver"), 0L)
    spark.read.parquet(t2.deltaPath(0L))
      .write.parquet(t2.deltaPath(0L) + ".trash-11111111")
    BaseDelta.vacuum(spark, t2, writerSafeUpTo = Some(99L))
    assert(f.exists(p(t2.deltaPath(0L) + ".trash-11111111")),
      "writer-safe vacuum deleted a swap sibling it must not touch")
  }

  test("rewriteKeptDeltas on a manifest-less table fails fast, not retryably") {
    val path = tmpDir("bd-legacyswap") + "/t"
    val table = t(path)
    // legacy layout: a delta dir on disk, no manifest ever committed
    Seq((1L, "a", 1)).toDF("id", "v", "ver")
      .write.parquet(table.deltaPath(0L))
    val e = intercept[IllegalStateException] {
      BaseDelta.rewriteKeptDeltas(spark, table, None, identity)
    }
    assert(e.getMessage.contains("no manifest"))
  }
}
