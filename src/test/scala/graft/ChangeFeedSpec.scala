package graft

import org.apache.spark.sql.functions._
import graft.gold.{ChangeFeed, SnapshotStore}

/** Snapshot-diff change feed semantics: the four change classes, null
  * discipline, unchanged-row silence, and the vacuumed-generation
  * refusal.
  */
class ChangeFeedSpec extends SparkSpec {
  import spark.implicits._

  private def rows(xs: (Long, Option[String], Double)*) =
    xs.toSeq.toDF("id", "tag", "amt")

  test("insert / delete / update pre+post images; unchanged rows emit nothing") {
    val oldDf = rows((1L, Some("a"), 1.0), (2L, Some("b"), 2.0),
      (3L, Some("c"), 3.0))
    val newDf = rows((2L, Some("b"), 2.0),            // unchanged
      (3L, Some("c"), 30.0),                          // updated
      (4L, Some("d"), 4.0))                           // inserted
    val out = ChangeFeed.diff(oldDf, newDf, Seq("id"))
      .collect().map(r => (r.getLong(0), r.getString(3), r.getDouble(2))).toSet
    assert(out == Set(
      (1L, "delete", 1.0),
      (3L, "update_preimage", 3.0), (3L, "update_postimage", 30.0),
      (4L, "insert", 4.0)), s"got $out")
  }

  test("null payloads compare null-safe; null keys join null-safe") {
    val oldDf = Seq((Some(1L), Option.empty[String]),
      (Option.empty[Long], Some("x"))).toDF("id", "tag")
    val newDf = Seq((Some(1L), Option.empty[String]),   // null == null: silent
      (Option.empty[Long], Some("y"))).toDF("id", "tag") // null key updates
    val out = ChangeFeed.diff(oldDf, newDf, Seq("id"))
      .collect().map(r => (Option(r.get(0)), r.getString(2))).toSet
    assert(out == Set((None, "update_preimage"), (None, "update_postimage")),
      s"got $out")
  }

  test("between reads retained generations; vacuumed history fails loudly") {
    val path = tmpDir("cdf") + "/t"
    SnapshotStore.publish(rows((1L, Some("a"), 1.0)), path)
    SnapshotStore.publish(rows((1L, Some("a"), 9.0), (2L, Some("b"), 2.0)), path)
    val ch = ChangeFeed.between(spark, path, 1L, 2L, Seq("id"))
      .collect().map(r => (r.getLong(0), r.getString(3))).toSet
    assert(ch == Set((1L, "update_preimage"), (1L, "update_postimage"),
      (2L, "insert")))
    // third publish retires generation 1; diffing against it must refuse
    SnapshotStore.publish(rows((1L, Some("a"), 9.0)), path)
    val e = intercept[IllegalArgumentException](
      ChangeFeed.between(spark, path, 1L, 3L, Seq("id")).collect())
    assert(e.getMessage.contains("no longer derivable"))
    // foreign names under the root are not generations: a bare prefix, a
    // suffix past Long range, a non-numeric suffix
    val root = new org.apache.hadoop.fs.Path(path)
    val f = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("gen=", "gen=" + "9" * 25, "gen=x1").foreach(n =>
      f.mkdirs(new org.apache.hadoop.fs.Path(root, n)))
    // latest() diffs 2 -> 3: the delete of id 2
    val latest = ChangeFeed.latest(spark, path, Seq("id"))
      .collect().map(r => (r.getLong(0), r.getString(3))).toSet
    assert(latest == Set((2L, "delete")))
  }
}
