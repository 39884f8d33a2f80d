package graft.sources

import java.nio.file.{Files, Path}

import graft.operators.Versioned

/** Object-store emulation (the S3+coordinator shape): the version
  * CLAIM is a putIfAbsent on a concurrent map (the conditional put /
  * DynamoDB LogStore entry — the only atomic primitive assumed), the
  * data then moves by per-file COPY + DELETE — deliberately not a
  * rename, and deliberately after the claim. `spuriousLosses` makes
  * the first N claims report "lost" even when free, forcing the
  * callers' rebase loops to run. */
private[graft] final class ObjectStoreSim(spuriousLosses: Int) extends CommitStore {
  val claims = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
  // a version is COMMITTED when its copy finished — the claim record,
  // not the directory listing, is the log (the seam's list contract)
  val completed = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
  private val spurious =
    new java.util.concurrent.atomic.AtomicInteger(spuriousLosses)
  val lostClaims = new java.util.concurrent.atomic.AtomicInteger(0)

  private def key(root: Path, version: Long): String =
    root.resolve(s"v=$version").toString

  /** Did `root/v=<version>` publish through this store's claim log? */
  def published(root: Path, version: Long): Boolean =
    completed.containsKey(key(root, version))

  override def publishVersion(root: Path, staged: Path,
                              version: Long): Boolean = {
    if (spurious.getAndUpdate(x => math.max(0, x - 1)) > 0) {
      lostClaims.incrementAndGet()
      return false
    }
    val target = root.resolve(s"v=$version")
    val won = Files.notExists(target) &&
      claims.putIfAbsent(key(root, version), java.lang.Boolean.TRUE) == null
    if (!won) { lostClaims.incrementAndGet(); return false }
    // non-atomic data movement AFTER the atomic claim: copy the
    // staged tree file by file, then delete the staging dir; a
    // racing lister must not see this half-copied dir as committed
    Files.createDirectories(target)
    val stream = Files.walk(staged)
    try {
      val it = stream.iterator()
      while (it.hasNext) {
        val p = it.next()
        val rel = staged.relativize(p)
        if (Files.isDirectory(p)) {
          if (rel.toString.nonEmpty)
            Files.createDirectories(target.resolve(rel.toString))
        } else Files.copy(p, target.resolve(rel.toString))
      }
    } finally stream.close()
    Versioned.deleteRecursively(staged)
    completed.put(key(root, version), java.lang.Boolean.TRUE)
    true
  }

  override def publishFile(target: Path, bytes: Array[Byte]): Unit =
    PosixCommitStore.publishFile(target, bytes)

  // the log: every directory the sim didn't claim (pre-existing
  // history) plus claims whose copy COMPLETED — never an in-flight one
  override def listVersions(root: Path): Seq[Long] =
    PosixCommitStore.listVersions(root).filter { v =>
      val k = key(root, v)
      !claims.containsKey(k) || completed.containsKey(k)
    }

  override def latestVersion(root: Path): Option[Long] =
    listVersions(root).lastOption
}

/** A deterministic lost race: the FIRST claim through this store runs
  * `rival` — another writer's whole commit, which claims through this
  * store too — before delegating to `inner`, so the first claimant
  * finds its version already taken and must rebase or fail. */
private[graft] final class RaceOnFirstClaim(inner: CommitStore, rival: () => Unit)
    extends CommitStore {
  private val armed = new java.util.concurrent.atomic.AtomicBoolean(true)

  /** Has a claim arrived (and the rival run)? */
  def fired: Boolean = !armed.get()

  override def publishVersion(root: Path, staged: Path,
                              version: Long): Boolean = {
    if (armed.compareAndSet(true, false)) rival()
    inner.publishVersion(root, staged, version)
  }

  override def publishFile(target: Path, bytes: Array[Byte]): Unit =
    inner.publishFile(target, bytes)

  override def listVersions(root: Path): Seq[Long] = inner.listVersions(root)

  override def latestVersion(root: Path): Option[Long] = inner.latestVersion(root)
}

/** A writer that dies right after winning its claim: the claim is
  * delegated to `inner` (so the version is published), then the
  * commit routine gets an exception instead of returning — nothing
  * the routine runs after `publishVersion` happens. `claimed` holds
  * the version that published. */
private[graft] final class CrashAfterClaim(inner: CommitStore) extends CommitStore {
  val claimed = new java.util.concurrent.atomic.AtomicLong(-1L)

  override def publishVersion(root: Path, staged: Path,
                              version: Long): Boolean = {
    val won = inner.publishVersion(root, staged, version)
    if (won) {
      claimed.set(version)
      throw new IllegalStateException(
        s"${CrashAfterClaim.Marker} v=$version under $root")
    }
    won
  }

  override def publishFile(target: Path, bytes: Array[Byte]): Unit =
    inner.publishFile(target, bytes)

  override def listVersions(root: Path): Seq[Long] = inner.listVersions(root)

  override def latestVersion(root: Path): Option[Long] = inner.latestVersion(root)
}

private[graft] object CrashAfterClaim {
  val Marker = "writer crashed right after claiming"
}
