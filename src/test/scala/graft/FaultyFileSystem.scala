package graft

import java.io.IOException
import java.net.URI

import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Crash-point clock for systematic crash-consistency sweeps
  * (CrashSweepSpec). Two phases per protocol:
  *
  *  1. RECORD: run the protocol once, logging every MUTATING filesystem
  *     op as a normalized signature (op kind + digit/uuid/nonce-stripped
  *     relative path) in execution order.
  *  2. ARMED(k): re-run from a fresh fixture; the k-th mutating op — and
  *     every mutating op after it — throws. The post-trigger poisoning is
  *     the point: a real crash runs NOTHING after the failed op, so
  *     catch/finally compensation paths must not be allowed to mutate
  *     disk either. (Reads keep working — recovery decisions read.)
  *
  * This is the per-op atomicity crash model: ops 1..k-1 landed, op k and
  * everything after did not. Partial single-file writes are not modeled —
  * every protocol under test already treats file CONTENT as atomic only
  * via exclusive-create/rename-into-place, which is exactly what this
  * clock exercises.
  */
object FaultClock {
  /** Distinct from any storage error the protocols classify: must never
    * match [[graft.gold.MultiSnapshot.snapshotReadFailure]]'s message
    * family, so the guard propagates it raw instead of translating it
    * into a retryable conflict (a crash is not a concurrent-maintenance
    * race).
    */
  final class InjectedCrash(msg: String) extends IOException(msg)

  private val OFF = 0
  private val RECORD = 1
  private val ARMED = 2

  @volatile private var mode: Int = OFF
  @volatile private var crashAt: Long = Long.MaxValue
  @volatile private var prefix: String = ""
  @volatile private var firstHit: String = null
  private val opCount = new java.util.concurrent.atomic.AtomicLong(0)
  private val log = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  private val Uuid =
    "[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}".r

  /** The 8-hex scratch nonces of `CommitCas.commitNext`
    * (`.v<N>.<hex8>.tmp`) and of a delta swap (`.stage-<hex8>`,
    * `.trash-<hex8>`): random per call, so each maps to one token `H` —
    * otherwise one protocol step records a different signature on every
    * run and two traces cannot be diffed.
    */
  private val Nonce = "(\\.v[0-9]+\\.|\\.stage-|\\.trash-)[0-9a-f]{8}(?![0-9a-f])".r

  def normalize(p: Path): String = {
    val raw = p.toUri.getPath
    val rel =
      if (prefix.nonEmpty && raw.startsWith(prefix)) raw.substring(prefix.length)
      else raw
    Nonce.replaceAllIn(Uuid.replaceAllIn(rel, "U"), m => s"${m.group(1)}H")
      .replaceAll("[0-9]+", "N")
  }

  /** Called by [[FaultyFileSystem]] on every mutating op. Throws
    * [[InjectedCrash]] when armed and the clock has reached the crash
    * point (and keeps throwing for every later op — post-crash poison).
    */
  def note(op: String, sigPath: => String): Unit = {
    val m = mode
    if (m == OFF) return
    if (m == RECORD) {
      opCount.incrementAndGet()
      log.add(op + ":" + sigPath)
      return
    }
    val k = opCount.incrementAndGet()
    if (k >= crashAt) {
      val sig = op + ":" + sigPath
      if (firstHit == null) firstHit = s"op $k $sig"
      throw new InjectedCrash(
        s"graft-injected-crash (armed at $crashAt, first hit: $firstHit; " +
          s"this is op $k $sig)")
    }
  }

  /** Record pass: the ordered mutating-op signature list (and the body's
    * outcome — a record pass is fault-free, so a Left is a broken
    * fixture, not a finding).
    */
  def record[A](rootPrefix: String)(body: => A): (Either[Throwable, A], Seq[String]) = {
    log.clear(); opCount.set(0); prefix = rootPrefix; mode = RECORD
    val r =
      try Right(body)
      catch { case t: Throwable => Left(t) }
      finally mode = OFF
    (r, log.toArray(Array.empty[String]).toSeq)
  }

  /** Armed pass: crash at mutating op `k`. Returns (crash fired?, body
    * outcome). The clock STAYS ARMED after the body returns/throws:
    * Spark kills sibling tasks of a failed job asynchronously, and a
    * straggler still running must keep hitting poison while the harness
    * observes the torn state (reads are never clocked, so observing
    * under arms is safe). The harness calls [[disarm]] explicitly once
    * it has observed and is about to run recovery.
    */
  def armed[A](rootPrefix: String, k: Long)(body: => A): (Boolean, Either[Throwable, A]) = {
    opCount.set(0); firstHit = null; prefix = rootPrefix
    crashAt = k; mode = ARMED
    val r =
      try Right(body)
      catch { case t: Throwable => Left(t) }
    (firstHit != null, r)
  }

  /** Stand down an armed clock (harness-driven, after observation). */
  def disarm(): Unit = { mode = OFF; crashAt = Long.MaxValue }
}

/** Stackable fault-clock layer: every mutating op consults [[FaultClock]]
  * before delegating. Mixed over both local-POSIX and mock-object-store
  * bases — on the latter, a single-file rename decomposes into
  * clocked create(dst) + delete(src) steps (virtual dispatch through the
  * mix-in), so the sweep also gets the object-store-only crash shape
  * where BOTH source and destination survive a died-mid-rename writer.
  */
trait FaultClockedFs extends org.apache.hadoop.fs.FileSystem {
  abstract override def create(f: Path, permission: FsPermission,
                               overwrite: Boolean, bufferSize: Int,
                               replication: Short, blockSize: Long,
                               progress: Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream = {
    FaultClock.note("create", FaultClock.normalize(f))
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  abstract override def createNonRecursive(f: Path, permission: FsPermission,
                                           flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag],
                                           bufferSize: Int, replication: Short,
                                           blockSize: Long, progress: Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream = {
    FaultClock.note("create", FaultClock.normalize(f))
    super.createNonRecursive(f, permission, flags, bufferSize, replication,
      blockSize, progress)
  }

  abstract override def rename(src: Path, dst: Path): Boolean = {
    FaultClock.note("rename",
      FaultClock.normalize(src) + "->" + FaultClock.normalize(dst))
    super.rename(src, dst)
  }

  abstract override def delete(p: Path, recursive: Boolean): Boolean = {
    FaultClock.note("delete", FaultClock.normalize(p))
    super.delete(p, recursive)
  }

  abstract override def mkdirs(f: Path): Boolean = {
    FaultClock.note("mkdirs", FaultClock.normalize(f))
    super.mkdirs(f)
  }

  abstract override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    FaultClock.note("mkdirs", FaultClock.normalize(f))
    super.mkdirs(f, permission)
  }
}

/** Local-disk FileSystem (scheme `faulty`) whose mutating ops consult
  * [[FaultClock]] — the substrate for crash-at-every-protocol-step
  * sweeps. Read ops are untouched.
  */
class FaultyFileSystem extends RawLocalFileSystem with FaultClockedFs {
  override def getScheme: String = "faulty"
  override def getUri: URI = URI.create("faulty:///")
}

/** The object-store shape under the fault clock (scheme `faultymock`):
  * [[MockObjectStoreFileSystem]] single-file renames are client-side
  * check + copy + delete, each step individually crashable — a writer
  * dying mid-rename leaves src AND dst on disk, the failure mode POSIX
  * rename atomicity can never produce.
  */
class FaultyMockFileSystem extends MockObjectStoreFileSystem with FaultClockedFs {
  override def getScheme: String = "faultymock"
  override def getUri: URI = URI.create("faultymock:///")
}

/** Commit backend for the `faulty` scheme: the atomic commit point itself
  * is one clocked op (`condput`), so the sweep also covers "crashed
  * exactly instead of committing". Delegates to the same POSIX-link
  * conditional PUT the mock object store uses.
  */
object FaultyConditionalPut extends graft.gold.ConditionalPutBackend {
  def putIfAbsent(f: FileSystem, dst: Path, bytes: Array[Byte]): Boolean = {
    FaultClock.note("condput", FaultClock.normalize(dst))
    MockConditionalPut.putIfAbsent(f, dst, bytes)
  }
}
