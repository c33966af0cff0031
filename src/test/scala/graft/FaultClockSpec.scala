package graft

import org.apache.hadoop.fs.Path
import graft.gold.SnapshotStore

/** [[FaultClock]]'s trace normalization: one protocol records the same
  * normalized trace on every run, so two runs (or two commits) of a crash
  * sweep can be diffed step for step.
  */
class FaultClockSpec extends CrashSweepHarness {
  import spark.implicits._

  test("normalize maps commitNext's tmp nonce to one token") {
    val a = FaultClock.normalize(new Path("/t/_ptr/.v00000000000000000002.1f0c9a7e.tmp"))
    val b = FaultClock.normalize(new Path("/t/_ptr/.v00000000000000000002.b3d5e6f1.tmp"))
    assert(a == "/t/_ptr/.vN.H.tmp" && b == a)
    assert(FaultClock.normalize(new Path("/t/delta/batch=3.stage-0a1b2c3d")) ==
      "/t/delta/batch=N.stage-H")
  }

  test("two record passes of one sweep give identical normalized traces") {
    def trace(): Seq[String] = {
      val r = freshRoot("fault-clock", "faulty")
      SnapshotStore.publish(Seq((1L, "a")).toDF("id", "v").coalesce(1), r)
      val (res, ops) = FaultClock.record(localDirOf(r)) {
        SnapshotStore.publish(Seq((1L, "b")).toDF("id", "v").coalesce(1), r)
      }
      assert(res.isRight, s"record pass failed: $res")
      ops
    }
    val first = trace()
    val second = trace()
    assert(first == second,
      s"traces differ:\n  ${first.mkString("\n  ")}\nvs\n  ${second.mkString("\n  ")}")
    assert(first.exists(_.endsWith(".H.tmp")), s"no commit tmp step in $first")
  }
}
