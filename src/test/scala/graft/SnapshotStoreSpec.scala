package graft

import org.apache.spark.sql.functions._
import graft.gold.{SnapshotStore, UpsertByKey}

/** The object-store-safe publish protocol: pointer-swap commits, reader
  * isolation across a crash between data write and publish, bounded
  * retention, and merge parity with [[UpsertByKey]]'s algebra.
  */
class SnapshotStoreSpec extends SparkSpec {
  import spark.implicits._

  private def table(rows: (Int, String)*) = rows.toDF("id", "v")

  test("publish then read round-trips; republish supersedes") {
    val path = tmpDir("snap-rt") + "/t"
    assert(!SnapshotStore.exists(spark, path))
    val g1 = SnapshotStore.publish(table(1 -> "a", 2 -> "b"), path)
    assert(g1 == 1L && SnapshotStore.currentGen(spark, path).contains(1L))
    assert(SnapshotStore.read(spark, path).as[(Int, String)].collect().toSet ==
      Set(1 -> "a", 2 -> "b"))
    val g2 = SnapshotStore.publish(table(1 -> "a2"), path)
    assert(g2 == 2L)
    assert(SnapshotStore.read(spark, path).as[(Int, String)].collect().toSet ==
      Set(1 -> "a2"))
  }

  test("crash between stage and commit: readers keep the old snapshot") {
    val path = tmpDir("snap-crash") + "/t"
    SnapshotStore.publish(table(1 -> "old"), path)
    // writer "crashes" here: generation 2's data is fully written but the
    // pointer was never moved — exactly the window where a directory-rename
    // publish would expose a half-table on S3
    val staged = SnapshotStore.stage(table(1 -> "new", 2 -> "extra"), path)
    assert(staged == 2L)
    assert(SnapshotStore.currentGen(spark, path).contains(1L),
      "commit point must not move on a crashed publish")
    assert(SnapshotStore.read(spark, path).as[(Int, String)].collect().toSet ==
      Set(1 -> "old"), "reader must still see the pre-crash snapshot")
    // recovery is just the replayed publish. Generation numbers are
    // RESERVED (create-exclusive markers), so the replay never reuses —
    // and can never tear — the crashed attempt's number: it claims the
    // next one, and the orphaned gen 2 stays invisible until vacuum.
    val g = SnapshotStore.publish(table(1 -> "new", 2 -> "extra"), path)
    assert(g == 3L)
    assert(SnapshotStore.read(spark, path).as[(Int, String)].collect().toSet ==
      Set(1 -> "new", 2 -> "extra"))
    SnapshotStore.vacuum(spark, path)
    val f = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!f.exists(new org.apache.hadoop.fs.Path(
      SnapshotStore.genPath(path, 2L))), "crashed orphan survived vacuum")
  }

  test("a reader holding the previous generation survives one publish") {
    val path = tmpDir("snap-iso") + "/t"
    SnapshotStore.publish(table(1 -> "v1"), path)
    // reader resolves the pointer ONCE (the protocol's contract), then a
    // publish commits underneath it
    val held = SnapshotStore.read(spark, path)
    SnapshotStore.publish(table(1 -> "v2"), path)
    assert(held.as[(Int, String)].collect().toSet == Set(1 -> "v1"),
      "previous generation must be retained for one publish cycle")
    // the generation BEFORE that is retired by the next commit
    SnapshotStore.publish(table(1 -> "v3"), path)
    val f = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!f.exists(new org.apache.hadoop.fs.Path(
      SnapshotStore.genPath(path, 1L))), "gen 1 should be retired")
    assert(f.exists(new org.apache.hadoop.fs.Path(
      SnapshotStore.genPath(path, 2L))), "gen 2 retained for readers")
  }

  test("vacuum retires orphans and the retained generation, keeps current") {
    val path = tmpDir("snap-vac") + "/t"
    SnapshotStore.publish(table(1 -> "v1"), path)
    SnapshotStore.publish(table(1 -> "v2"), path)
    SnapshotStore.stage(table(1 -> "orphan"), path) // crashed publish
    val deleted = SnapshotStore.vacuum(spark, path)
    assert(deleted.exists(_.contains("gen=1")), deleted.toString)
    assert(deleted.exists(_.contains("gen=3")), deleted.toString)
    assert(SnapshotStore.read(spark, path).as[(Int, String)].collect().toSet ==
      Set(1 -> "v2"))
  }

  test("upsertInto matches the UpsertByKey merge and replays idempotently") {
    val path = tmpDir("snap-merge") + "/t"
    val keys = Seq("id"); val ord = Seq(col("seq").desc)
    val b1 = Seq((1, "a", 1L), (2, "b", 1L)).toDF("id", "v", "seq")
    val b2 = Seq((2, "b2", 2L), (3, "c", 2L)).toDF("id", "v", "seq")
    SnapshotStore.upsertInto(spark, b1, path, keys, ord)
    SnapshotStore.upsertInto(spark, b2, path, keys, ord)
    // parity with the batch merge algebra
    val expected = UpsertByKey(
      graft.silver.Staging.dedupLatest(b1, keys, ord), b2, keys, ord)
      .select("id", "v", "seq").as[(Int, String, Long)].collect().toSet
    val got = SnapshotStore.read(spark, path)
      .select("id", "v", "seq").as[(Int, String, Long)].collect().toSet
    assert(got == expected)
    assert(got == Set((1, "a", 1L), (2, "b2", 2L), (3, "c", 2L)))
    // replayed batch publishes a new generation with identical content
    SnapshotStore.upsertInto(spark, b2, path, keys, ord)
    assert(SnapshotStore.read(spark, path).as[(Int, String, Long)]
      .collect().toSet == Set((1, "a", 1L), (2, "b2", 2L), (3, "c", 2L)))
  }

  test("random publish/crash sequences: a reader always sees the last COMMITTED table") {
    // deterministic pseudo-random walk over {publish, stage-then-crash};
    // after every step the committed view must equal the last published
    // frame exactly — no torn, partial, or rolled-forward state
    val path = tmpDir("snap-walk") + "/t"
    val rnd = new scala.util.Random(42)
    var lastPublished: Option[Set[(Int, String)]] = None
    for (step <- 1 to 12) {
      val data = (1 to rnd.nextInt(5) + 1).map(i => (i, s"v$step-$i"))
      val df = data.toDF("id", "v")
      if (rnd.nextBoolean()) {
        SnapshotStore.publish(df, path)
        lastPublished = Some(data.toSet)
      } else {
        SnapshotStore.stage(df, path) // crash before commit
      }
      lastPublished match {
        case Some(expect) =>
          assert(SnapshotStore.read(spark, path)
            .as[(Int, String)].collect().toSet == expect, s"step $step")
        case None =>
          assert(!SnapshotStore.exists(spark, path), s"step $step")
      }
    }
  }
}
