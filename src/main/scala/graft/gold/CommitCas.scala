package graft.gold

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}

/** A commit-CAS primitive was requested on a filesystem scheme with no
  * registered atomic backend. This is a deliberate LOUD refusal, not a
  * degraded fallback: Hadoop's `rename`/`create(overwrite=false)` on
  * object-store connectors (s3a, and MinIO behind it — the reference's
  * own substrate, consumer/kafka_to_minio.py:45-51) are client-side
  * checked copy+delete / exists-then-create with no exclusivity, so
  * treating them as CAS would silently void every atomicity guarantee
  * the concurrency protocol makes (two contenders could both "win" a
  * pointer — the exact lost-update class the q249 races pin). Recovery:
  * register a [[CommitBackend]] for the scheme that maps the two
  * primitives onto the store's own conditional-write API (S3
  * `If-None-Match: *` PUT, GCS `x-goog-if-generation-match: 0`, Azure
  * `If-None-Match: *`) via [[CommitCas.register]].
  */
final class UnsupportedCommitStoreException(msg: String)
  extends RuntimeException(msg)

/** The two atomic primitives every pointer store here commits through,
  * implementable per storage scheme:
  *
  *  - [[publish]]: move `tmp` to the fresh name `dst` such that EXACTLY
  *    ONE contender can succeed; `true` iff this contender committed
  *    `dst`. Any return of `false` MUST mean "a contender owns `dst`" —
  *    genuine I/O faults must throw, not report a lost CAS (callers
  *    translate `false` into re-derive/retry loops that would spin
  *    against a commit that never happened).
  *  - [[createExclusive]]: atomically create empty `p` iff absent — the
  *    reservation primitive; same false-means-contended contract.
  *
  * On an object store, both map to ONE conditional PUT (create-if-absent
  * of a small object); [[ConditionalPutBackend]] adapts that single
  * primitive to this interface.
  */
trait CommitBackend {
  def publish(f: FileSystem, tmp: Path, dst: Path): Boolean
  def createExclusive(f: FileSystem, p: Path): Boolean
}

/** Adapter for stores whose native atomic primitive is a conditional
  * "PUT if absent" of object bytes (S3/GCS/Azure conditional writes):
  * implement [[putIfAbsent]] with the store's API and both CAS
  * primitives follow — [[publish]] reads the staged tmp file's bytes
  * (pointer files here are tiny by design: a generation map or
  * `{"gen":N}`) and conditionally PUTs them at `dst`, deleting `tmp`
  * only after a win; [[createExclusive]] is a conditional PUT of an
  * empty object.
  */
abstract class ConditionalPutBackend extends CommitBackend {
  /** Atomically create `dst` with `bytes` iff `dst` is absent; `true`
    * iff this caller created it. Must throw (not return false) on
    * genuine I/O faults.
    */
  def putIfAbsent(f: FileSystem, dst: Path, bytes: Array[Byte]): Boolean

  final def publish(f: FileSystem, tmp: Path, dst: Path): Boolean = {
    val in = f.open(tmp)
    val bytes = try in.readAllBytes() finally in.close()
    val won = putIfAbsent(f, dst, bytes)
    if (won) f.delete(tmp, false)
    won
  }

  final def createExclusive(f: FileSystem, p: Path): Boolean =
    putIfAbsent(f, p, Array.emptyByteArray)
}

/** The commit-point primitives shared by every pointer store here
  * (SnapshotStore, MultiSnapshot, BaseDelta manifests), and the
  * versioned commit log all three keep on top of them. Each store owns
  * only its body format and its conflict policy; the log is:
  *
  * {{{
  * <dir>/v<N>                    committed version N (20-digit N) —
  *                               readers resolve the HIGHEST version
  * <dir>/.v<N>.<nonce>.tmp       a contender's scratch body, published
  *                               to the fresh name v<N> ([[commitNext]])
  * <dir>/<prefix><N>             create-exclusive reservation markers
  *                               ([[reserve]]), numbered dirs
  *                               ([[numbered]], [[retire]])
  * }}}
  *
  * Committed version files are IMMUTABLE HISTORY: deleting one inline
  * would free its number, and a freed number is a hole a stalled
  * contender can still publish into — its "successful" commit lands
  * BELOW the real latest, an invisible phantom whose caller believes it
  * committed (StorageChaosSpec caught this live on BaseDelta manifests:
  * a phantom fold's retirement dropped acked erasure ids). Only the
  * stores' writer-quiet `vacuum` and single-writer `reclaimHistory`
  * delete version files.
  *
  * The two CAS primitives are dispatched by filesystem scheme through
  * an explicit capability registry — a scheme with no registered
  * backend gets a typed [[UnsupportedCommitStoreException]] instead of
  * a silently non-atomic rename (see that exception's scaladoc for why
  * the refusal is the only safe default on object stores).
  *
  * Built-in backends:
  *
  *  - `file` — commit via hard LINK: `FileSystem.rename` on RawLocal
  *    delegates to POSIX rename(2), which silently REPLACES an existing
  *    destination and reports success — two contenders racing one
  *    version name would both "win" and the second would clobber the
  *    first's committed pointer (observed live in a q249 race). link(2)
  *    is atomic and fails with EEXIST when the target exists.
  *    Reservations use `java.io.File.createNewFile` (O_CREAT|O_EXCL) —
  *    Hadoop's `create(p, false)` on RawLocal is a non-atomic
  *    exists-check-then-create that barrier-synchronized writers
  *    actually hit.
  *  - `hdfs` / `viewfs` — rename to a nonexistent target and
  *    `create(overwrite=false)` are both atomic at the NameNode (the
  *    classic HDFS contracts).
  *
  * Exception discipline (both primitives): only the already-exists
  * family maps to `false` ("lost the CAS"); every other I/O failure
  * (disk full, permissions, connection loss) PROPAGATES — mapping it to
  * false would surface a storage fault as CommitConflictException and
  * send callers into redo loops against a commit that never happened.
  */
private[graft] object CommitCas {

  /** file:// — link(2) commit + O_EXCL reservation. */
  object LinkBackend extends CommitBackend {
    def publish(f: FileSystem, tmp: Path, dst: Path): Boolean =
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(dst.toUri.getPath),
          java.nio.file.Paths.get(tmp.toUri.getPath))
        f.delete(tmp, false)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        // some local filesystems surface EEXIST as a bare
        // FileSystemException with reason "File exists"
        case e: java.nio.file.FileSystemException
            if Option(e.getReason).exists(_.toLowerCase.contains("file exists")) =>
          false
      }

    def createExclusive(f: FileSystem, p: Path): Boolean =
      new java.io.File(p.toUri.getPath).createNewFile()
  }

  /** NameNode-atomic rename / create(overwrite=false) — HDFS-family. */
  object RenameBackend extends CommitBackend {
    // rename-to-fresh-name reports a contended target by RETURNING
    // false (the HDFS contract); genuine faults throw from the RPC
    def publish(f: FileSystem, tmp: Path, dst: Path): Boolean =
      f.rename(tmp, dst)

    def createExclusive(f: FileSystem, p: Path): Boolean =
      try { f.create(p, false).close(); true }
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case _: java.nio.file.FileAlreadyExistsException => false
      }
  }

  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, CommitBackend]()
  registry.put("file", LinkBackend)
  registry.put("hdfs", RenameBackend)
  registry.put("viewfs", RenameBackend)

  /** Register (or replace) the backend for a scheme — how object-store
    * deployments plug their conditional-PUT implementation in (a
    * [[ConditionalPutBackend]] over the store's native conditional
    * write). Returns the previous backend, if any.
    */
  def register(scheme: String, backend: CommitBackend): Option[CommitBackend] =
    Option(registry.put(scheme.toLowerCase, backend))

  /** Remove a registered backend (tests; a removed built-in scheme
    * reverts to the typed refusal).
    */
  def deregister(scheme: String): Option[CommitBackend] =
    Option(registry.remove(scheme.toLowerCase))

  /** The scheme's backend, or the typed loud refusal. */
  def backendFor(f: FileSystem): CommitBackend = {
    val scheme = Option(f.getUri.getScheme).getOrElse("file").toLowerCase
    Option(registry.get(scheme)).getOrElse(
      throw new UnsupportedCommitStoreException(
        s"CommitCas: no atomic commit backend registered for scheme " +
          s"'$scheme' — its FileSystem rename/create(overwrite=false) " +
          "are not exclusive-atomic (on s3a they are client-side-checked " +
          "copy+delete / exists-then-create), so the concurrency " +
          "protocol's commit points would silently stop being CAS. " +
          "Register a ConditionalPutBackend over the store's " +
          "conditional-write API via CommitCas.register(scheme, backend)."))
  }

  /** Move `tmp` to the fresh name `dst`; `true` iff this contender
    * committed it. See [[CommitBackend.publish]] for the contract.
    */
  def publish(f: FileSystem, tmp: Path, dst: Path): Boolean =
    backendFor(f).publish(f, tmp, dst)

  /** Atomic create-no-overwrite — the reservation primitive. */
  def createExclusive(f: FileSystem, p: Path): Boolean =
    backendFor(f).createExclusive(f, p)

  /** The file of committed version `v` in `dir`. */
  def versionPath(dir: Path, v: Long): Path = new Path(dir, f"v$v%020d")

  /** Committed versions in `dir`, ascending. */
  def versions(f: FileSystem, dir: Path): Seq[Long] =
    numbered(f, dir, "v").map(_._1)

  /** The body of committed version `v` of `dir`. */
  def readVersion(f: FileSystem, dir: Path, v: Long): String = {
    val in = f.open(versionPath(dir, v))
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  /** Commit `body` as version `v` of `dir`; `true` iff this contender
    * committed it. A lost CAS commits nothing and leaves no tmp file.
    */
  def commitNext(f: FileSystem, dir: Path, v: Long, body: String): Boolean = {
    f.mkdirs(dir)
    // nonce'd tmp: contenders must not share a scratch file (the
    // winner's publish would steal the loser's and turn its clean CAS
    // loss into a spurious I/O error)
    val tmp = new Path(dir,
      f".v$v%020d.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val out = f.create(tmp, true)
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
    publish(f, tmp, versionPath(dir, v)) || { f.delete(tmp, false); false }
  }

  /** Claim the first number >= `start` whose marker `dir/<prefix><N>`
    * this caller creates exclusively. A marker left by a crashed or
    * losing contender just bumps the number, so progress never waits on
    * cleanup.
    */
  def reserve(f: FileSystem, dir: Path, prefix: String, start: Long): Long = {
    f.mkdirs(dir)
    var n = start
    while (!createExclusive(f, f.makeQualified(new Path(dir, s"$prefix$n"))))
      n += 1
    n
  }

  /** The `<prefix><N>` entries of `dir` by ascending N; names whose
    * suffix is not a number are foreign and skipped.
    */
  def numbered(f: FileSystem, dir: Path, prefix: String): Seq[(Long, Path)] =
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq.flatMap { st =>
      val n = st.getPath.getName
      val digits = n.stripPrefix(prefix)
      if (n.startsWith(prefix) && digits.forall(_.isDigit))
        digits.toLongOption.map(_ -> st.getPath)
      else None
    }.sortBy(_._1)

  /** Delete every `<prefix><N>` entry of `dir` with `drop(N)`; the
    * paths deleted.
    */
  def retire(f: FileSystem, dir: Path, prefix: String)(
      drop: Long => Boolean): Seq[String] =
    numbered(f, dir, prefix).collect {
      case (n, p) if drop(n) && f.delete(p, true) => p.toString
    }

  /** The one conflict-retry policy: run `body` up to `attempts` times
    * while it throws the typed [[CommitConflictException]], with jittered
    * exponential backoff between attempts (100ms·2^n ± half, capped at
    * 2s): an immediate re-run against an in-flight competitor — whose
    * retired-state grace loop alone holds 3×250ms — would hot-spin full
    * state re-reads that mostly re-conflict; the backoff lets the
    * competing window close first. The last conflict is rethrown.
    */
  def retryConflict[A](attempts: Int)(body: => A): A = {
    var n = 0
    var out: Option[A] = None
    while (out.isEmpty) {
      try out = Some(body)
      catch {
        case e: CommitConflictException =>
          n += 1
          if (n >= attempts) throw e
          val base = math.min(100L << (n - 1), 2000L)
          Thread.sleep(base / 2 +
            java.util.concurrent.ThreadLocalRandom.current().nextLong(base))
      }
    }
    out.get
  }
}
