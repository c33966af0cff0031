package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.{FileSystem, Path}
import graft.gold.{BaseDelta, CommitCas, CommitConflictException,
  MultiSnapshot, SnapshotStore, UnsupportedCommitStoreException}

/** Scheme-capability gating of the commit-CAS primitives: filesystems
  * whose rename/create are not exclusive-atomic (the object-store
  * connector shape) must be REFUSED with the typed exception — never
  * silently degraded to a non-CAS commit — and a registered
  * conditional-PUT backend must carry the full concurrency protocol on
  * exactly such a filesystem.
  */
class CommitStoreSpec extends SparkSpec {
  import spark.implicits._

  private def mockReady(): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.mock.impl", classOf[MockObjectStoreFileSystem].getName)
  }

  private def tagged(tag: String, n: Int) =
    spark.range(n).select(col("id"), lit(tag).as("writer"))

  private def race(bodies: Seq[() => Unit]): Seq[Try[Unit]] = {
    val pool = Executors.newFixedThreadPool(bodies.size)
    val start = new CountDownLatch(1)
    val futures = bodies.map { b =>
      pool.submit(new java.util.concurrent.Callable[Try[Unit]] {
        def call(): Try[Unit] = { start.await(); Try(b()) }
      })
    }
    start.countDown()
    val out = futures.map(_.get(120, TimeUnit.SECONDS))
    pool.shutdown()
    out
  }

  test("the mock object store's rename really is non-atomic (both racers can win)") {
    mockReady()
    val f = new org.apache.hadoop.fs.Path("mock:/tmp")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(f.isInstanceOf[MockObjectStoreFileSystem])
    // the primitive-level hole: rename replaces nothing, but two
    // contenders checking dest-absent then copying can interleave — at
    // minimum, rename-over-existing returns false only via a CLIENT-side
    // check, and create(overwrite=true) inside it replaces silently.
    val dir = tmpDir("mock-prim")
    val a = new org.apache.hadoop.fs.Path(s"mock:$dir/a")
    val b = new org.apache.hadoop.fs.Path(s"mock:$dir/b")
    val dst = new org.apache.hadoop.fs.Path(s"mock:$dir/dst")
    Seq(a, b).foreach { p => val o = f.create(p, true); o.write(1); o.close() }
    // interleave manually: both "check" (dst absent), then both copy —
    // simulated by bypassing the check for the second call the way a
    // real race would: the create(dst, true) inside rename replaces
    assert(f.rename(a, dst))
    val o = f.create(dst, true) // what contender B's copy step does
    o.write(2); o.close()
    assert(f.exists(dst), "second writer silently replaced the committed file")
  }

  test("unregistered scheme: every pointer store refuses with the typed exception, nothing half-commits") {
    mockReady()
    val path = s"mock:${tmpDir("mock-refuse")}/t"
    val e = intercept[UnsupportedCommitStoreException](
      SnapshotStore.publish(tagged("w", 3), path))
    assert(e.getMessage.contains("mock"))
    assert(!SnapshotStore.exists(spark, path),
      "a refused commit must leave nothing resolvable")
    val root = s"mock:${tmpDir("mock-refuse2")}/r"
    intercept[UnsupportedCommitStoreException](
      MultiSnapshot.publish(spark, root, Map("t" -> tagged("w", 3))))
    assert(MultiSnapshot.currentCommit(spark, root).isEmpty)
  }

  test("conditional-PUT backend carries the race matrix on the non-atomic filesystem") {
    mockReady()
    CommitCas.register("mock", MockConditionalPut)
    try {
      // same-table contention: one clean winner, typed loser, no mixing
      for (round <- 1 to 2) {
        val root = s"mock:${tmpDir(s"mock-race-$round")}/r"
        MultiSnapshot.publish(spark, root, Map("t" -> tagged("seed", 2)))
        val results = race(Seq(
          () => { MultiSnapshot.publish(spark, root,
            Map("t" -> tagged("alpha", 50)), conflictRetries = 3); () },
          () => { MultiSnapshot.publish(spark, root,
            Map("t" -> tagged("beta", 50)), conflictRetries = 3); () }))
        results.collect { case Failure(e) => e }.foreach(e =>
          assert(e.isInstanceOf[CommitConflictException],
            s"round $round: untyped failure $e"))
        assert(results.exists(_.isSuccess), s"round $round: no writer won")
        val writers = MultiSnapshot.read(spark, root, "t")
          .select("writer").distinct().collect().map(_.getString(0)).toSet
        assert(writers.size == 1 && Set("alpha", "beta").contains(writers.head),
          s"round $round: committed data mixed/torn: $writers")
        assert(MultiSnapshot.read(spark, root, "t").count() == 50)
      }
      // commuting writers rebase cleanly
      val root = s"mock:${tmpDir("mock-race-disj")}/r"
      MultiSnapshot.publish(spark, root,
        Map("x" -> tagged("seed", 1), "y" -> tagged("seed", 1)))
      val results = race(Seq(
        () => { MultiSnapshot.publish(spark, root,
          Map("x" -> tagged("alpha", 10)), conflictRetries = 5); () },
        () => { MultiSnapshot.publish(spark, root,
          Map("y" -> tagged("beta", 20)), conflictRetries = 5); () }))
      results.foreach {
        case Failure(e) => fail(s"commuting writer failed on mock: $e")
        case Success(_) => ()
      }
      assert(MultiSnapshot.read(spark, root, "x").count() == 10)
      assert(MultiSnapshot.read(spark, root, "y").count() == 20)
      assert(MultiSnapshot.currentCommit(spark, root).get.version == 3L)
    } finally { CommitCas.deregister("mock"); () }
  }

  test("a genuine I/O fault is NOT reported as a lost CAS (no redo loop against a phantom commit)") {
    // LinkBackend: destination parent missing is a real fault — the
    // pre-fix blanket IOException→false would have surfaced it as
    // CommitConflictException and sent the caller into re-derive loops
    val f = new org.apache.hadoop.fs.Path("/tmp")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = tmpDir("cas-fault")
    val tmp = new org.apache.hadoop.fs.Path(s"$dir/src.tmp")
    val o = f.create(tmp, true); o.write(1); o.close()
    val dst = new org.apache.hadoop.fs.Path(s"$dir/no-such-dir/deeper/dst")
    intercept[java.io.IOException] { CommitCas.publish(f, tmp, dst) }
    // while a contended destination still reports false, not a throw
    val tmp2 = new org.apache.hadoop.fs.Path(s"$dir/src2.tmp")
    val o2 = f.create(tmp2, true); o2.write(1); o2.close()
    val taken = new org.apache.hadoop.fs.Path(s"$dir/taken")
    val o3 = f.create(taken, true); o3.write(9); o3.close()
    assert(!CommitCas.publish(f, tmp2, taken))
  }

  test("SnapshotStore.publishFrom: racing read-merge-publish writers never lose a merge") {
    for (round <- 1 to 2) {
      val path = tmpDir(s"ss-rmw-$round") + "/t"
      SnapshotStore.publish(Seq((0L, "seed")).toDF("id", "tag"), path)
      def rmw(tag: String, ids: Seq[Long]): Unit = {
        var attempt = 0
        var done = false
        while (!done) {
          val observed = SnapshotStore.currentGen(spark, path)
          val cur = spark.read.parquet(
            SnapshotStore.genPath(path, observed.get))
          val merged = cur.unionByName(
            ids.map(i => (i, tag)).toDF("id", "tag"))
          try { SnapshotStore.publishFrom(merged, path, observed); done = true }
          catch {
            case e: CommitConflictException =>
              attempt += 1; if (attempt > 5) throw e
          }
        }
      }
      val results = race(Seq(
        () => rmw("alpha", Seq(1L, 2L)),
        () => rmw("beta", Seq(10L, 11L))))
      results.foreach {
        case Failure(e) => fail(s"round $round: retrying writer failed: $e")
        case Success(_) => ()
      }
      // BOTH merges present — the pre-reservation/pre-observed protocol
      // let the later committer's stale-read merge silently drop the
      // earlier one (and its Overwrite stage could tear the winner's
      // committed dir)
      val got = SnapshotStore.read(spark, path)
        .select("id").as[Long].collect().toSet
      assert(got == Set(0L, 1L, 2L, 10L, 11L),
        s"round $round: a committed merge was lost: $got")
    }
  }

  // ── on-disk formats: committed bytes, and hand-written files read ──

  private def localFs: FileSystem =
    new Path("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def versionName(v: Long) = f"v$v%020d"

  private def bodyOf(dir: String, v: Long): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, versionName(v))), "UTF-8")

  private def writeVersion(dir: String, v: Long, body: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, versionName(v)),
      body.getBytes("UTF-8"))
  }

  private def names(dir: String): Set[String] =
    Option(new java.io.File(dir).list()).map(_.toSet).getOrElse(Set.empty)

  test("committed bytes: SnapshotStore {\"gen\":N}, MultiSnapshot sorted lines, BaseDelta manifest JSON") {
    val path = tmpDir("fmt-ss") + "/t"
    SnapshotStore.publish(tagged("a", 2), path)
    SnapshotStore.publish(tagged("b", 2), path)
    assert(bodyOf(s"$path/_ptr", 1) == """{"gen":1}""")
    assert(bodyOf(s"$path/_ptr", 2) == """{"gen":2}""")
    assert(names(s"$path/_ptr") == Set(versionName(1), versionName(2)))

    val root = tmpDir("fmt-ms") + "/r"
    MultiSnapshot.publish(spark, root,
      Map("orders" -> tagged("a", 1), "accounts" -> tagged("a", 1)),
      pointers = Map("fact" -> 7L))
    MultiSnapshot.publish(spark, root, Map("orders" -> tagged("b", 1)))
    assert(bodyOf(s"$root/_commit", 1) == "@fact=7\naccounts=1\norders=1")
    assert(bodyOf(s"$root/_commit", 2) == "@fact=7\naccounts=1\norders=2")
    assert(names(s"$root/_commit") == Set(versionName(1), versionName(2)))

    val t = BaseDelta.Table(tmpDir("fmt-bd") + "/t", Seq("id"), Seq("ver"))
    def batch(ids: Long*) = ids.map(i => (i, 1)).toDF("id", "ver")
    BaseDelta.append(spark, t, batch(1L), 3L)
    BaseDelta.append(spark, t, batch(2L), 5L)
    BaseDelta.compact(spark, t, upTo = Some(3L))
    val m = s"${t.path}/_manifests"
    assert(bodyOf(m, 1) == """{"generation":0,"deltas":[3]}""")
    assert(bodyOf(m, 2) == """{"generation":0,"deltas":[3,5]}""")
    assert(bodyOf(m, 3) == """{"generation":1,"deltas":[5],"folded_through":3}""")
    assert(names(m).filterNot(_.startsWith(".reserve.")) ==
      Set(versionName(1), versionName(2), versionName(3)))
  }

  test("hand-written version files in each store's format still read") {
    val path = tmpDir("old-ss") + "/t"
    tagged("old", 3).write.parquet(SnapshotStore.genPath(path, 5))
    writeVersion(s"$path/_ptr", 3, """{"gen":5}""")
    assert(SnapshotStore.currentGen(spark, path).contains(5L))
    assert(SnapshotStore.read(spark, path).count() == 3)

    val root = tmpDir("old-ms") + "/r"
    tagged("old", 4).write.parquet(MultiSnapshot.genPath(root, "t", 2))
    writeVersion(s"$root/_commit", 4, "@p=9\nt=2")
    assert(MultiSnapshot.currentCommit(spark, root).contains(
      MultiSnapshot.Commit(4, Map("t" -> 2L, "@p" -> 9L))))
    assert(MultiSnapshot.read(spark, root, "t").count() == 4)

    val t = BaseDelta.Table(tmpDir("old-bd") + "/t", Seq("id"), Seq("ver"))
    Seq((1L, 1), (2L, 1)).toDF("id", "ver").write.parquet(t.deltaPath(3))
    writeVersion(t.manifestRoot, 2, """{"generation":0,"deltas":[3]}""")
    assert(BaseDelta.readManifest(spark, t).contains(
      BaseDelta.Manifest(0L, Seq(3L), None)))
    assert(BaseDelta.read(spark, t).count() == 2)
    Seq((1L, 1)).toDF("id", "ver").write.parquet(t.baseGenPath(1))
    writeVersion(t.manifestRoot, 3,
      """{"generation":1,"deltas":[],"folded_through":3}""")
    assert(BaseDelta.readManifest(spark, t).contains(
      BaseDelta.Manifest(1L, Seq.empty, Some(3L))))
    assert(BaseDelta.timeTravelFloor(spark, t).contains(3L))
    assert(BaseDelta.read(spark, t).count() == 1)
  }

  // ── the versioned-log primitives ──

  test("CommitCas.commitNext: a lost CAS returns false and leaves no tmp file") {
    val dir = new Path(tmpDir("cas-next") + "/log")
    assert(CommitCas.commitNext(localFs, dir, 1L, "first"))
    assert(!CommitCas.commitNext(localFs, dir, 1L, "second"))
    assert(names(dir.toString) == Set(versionName(1)))
    assert(CommitCas.readVersion(localFs, dir, 1L) == "first")
    assert(CommitCas.versions(localFs, dir) == Seq(1L))
  }

  test("CommitCas.reserve skips taken numbers") {
    val dir = new Path(tmpDir("cas-reserve") + "/t")
    assert(CommitCas.reserve(localFs, dir, ".reserve.g", 3L) == 3L)
    assert(CommitCas.reserve(localFs, dir, ".reserve.g", 3L) == 4L)
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(dir.toString, ".reserve.g5"))
    assert(CommitCas.reserve(localFs, dir, ".reserve.g", 3L) == 6L)
    assert(CommitCas.reserve(localFs, dir, ".reserve.base", 3L) == 3L)
  }

  test("CommitCas.numbered ignores foreign names") {
    val dir = tmpDir("cas-numbered") + "/t"
    Seq("gen=12", "gen=2", "gen=", "gen=abc", "gen=1x").foreach(n =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir, n)))
    Seq(".reserve.g3", ".reserve.gx", "v12.tmp", ".v12.ab12cd34.tmp",
        versionName(7)).foreach(n =>
      java.nio.file.Files.createFile(java.nio.file.Paths.get(dir, n)))
    val d = new Path(dir)
    assert(CommitCas.numbered(localFs, d, "gen=").map(_._1) == Seq(2L, 12L))
    assert(CommitCas.numbered(localFs, d, ".reserve.g").map(_._1) == Seq(3L))
    assert(CommitCas.versions(localFs, d) == Seq(7L))
    assert(CommitCas.numbered(localFs, new Path(dir + "/absent"), "gen=")
      .isEmpty)
    assert(CommitCas.retire(localFs, d, "gen=")(_ < 12).map(new Path(_).getName)
      == Seq("gen=2"))
    assert(names(dir).contains("gen=12") && names(dir).contains("gen=abc"))
  }
}
