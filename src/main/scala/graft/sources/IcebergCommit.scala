package graft.sources

import java.nio.file.{Files, Path}

/** The cross-process commit protocol of [[IcebergLite]]. It relies on
  * atomic hard links, so it stays on the local disk until commits claim
  * their version with a conditional create.
  *
  * Within one JVM, TableLocks serializes writers; across PROCESSES the
  * version file itself is the lock. Publishing vN.metadata.json goes
  * tmp-file → Files.createLink(target, tmp): the hard link is an atomic
  * O_EXCL claim WITH content — either this process wins version N or the
  * link fails because another process already committed it, and the
  * loser aborts loudly with nothing published (the single-box analog of
  * Iceberg's optimistic catalog commit). Data-writing commits
  * additionally claim vN.claim BEFORE touching data/sN, so a losing
  * process can never clobber the winner's already-published snapshot
  * directory. A claim left by a crashed process blocks later writers
  * loudly (the error names the file); it never silently unblocks.
  */
private[sources] object IcebergCommit {

  /** Atomically publish `bytes` as `path`; loud conflict when another
    * process committed the same version first. */
  def publishMetadata(metadataPath: String, bytes: Array[Byte]): Unit = {
    val path = Path.of(metadataPath)
    Files.createDirectories(path.getParent)
    val tmp = Files.createTempFile(path.getParent, ".commit-", ".tmp")
    try {
      Files.write(tmp, bytes)
      try Files.createLink(path, tmp)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new java.util.ConcurrentModificationException(
            s"concurrent commit: $path was published by another writer " +
              "(another engine process committed this version first) — " +
              "re-run the statement against the table's current state")
      }
    } finally Files.deleteIfExists(tmp)
  }

  /** Claim a data-writing commit's version before any data lands; `f`
    * runs holding the claim. Loud when the version is already claimed by
    * a LIVE writer in another process or already committed. A claim
    * whose recorded holder pid no longer exists is a crashed writer's
    * leftover: it is reclaimed LOUDLY (stderr names the stale claim and
    * the dead holder) and the acquire retried, so no manual recovery
    * step is needed.
    *
    * Reclaim safety: deleting someone else's claim is only ever done
    * while holding `<claim>.reclaimlock` (O_EXCL), and only after
    * RE-READING the claim under that lock and re-verifying its recorded
    * holder is still a dead pid. The earlier rename-based reclaim had a
    * stolen-claim race (caught by the 4-way SIGKILL scenario): a
    * reclaimer that read the dead claim could ATOMIC_MOVE a FRESH claim
    * created in between — content is not part of a rename's atomicity —
    * letting two writers into one snapshot directory. Under the lock,
    * a wrong delete is impossible: new claims can only appear after the
    * old file is gone, only the lock holder deletes foreign claims, and
    * it deletes only what it re-verified as dead.
    *
    * Claims are ATOMIC-WITH-CONTENT: the pid is
    * written to a tmp file first and the claim appears via
    * `Files.createLink` — the same publish trick [[publishMetadata]]
    * uses — so a claim either exists with its holder pid or not at all.
    * The old `createFile` + `writeString` two-step had a SIGKILL window
    * that left an EMPTY claim, which (by policy: unparseable pid is
    * never auto-reclaimed) blocked every later writer forever. That
    * pid-less branch still blocks loudly, but it is dead code for
    * claims this engine wrote — only a foreign tool's file trips it. */
  def withVersionClaim[T](metadataFile: String)(f: => T): T = {
    val metadataPath = Path.of(metadataFile)
    val claim = metadataPath.resolveSibling(metadataPath.getFileName.toString + ".claim")
    Files.createDirectories(claim.getParent)
    val self = ProcessHandle.current().pid()
    val pidRe = "pid=(\\d+)".r
    def pidOf(s: String): Option[Long] =
      pidRe.findFirstMatchIn(s).flatMap(m => m.group(1).toLongOption)
    def deadForeign(p: Long): Boolean = p != self && ProcessHandle.of(p).isEmpty
    /** O_EXCL-create `target` already containing `pid=self`: hard-link
      * from a written tmp file, so there is no observable empty state. */
    def claimWithPid(target: Path): Boolean = {
      val tmp = Files.createTempFile(target.getParent, ".claim-", ".tmp")
      try {
        Files.writeString(tmp, s"pid=$self\n")
        try { Files.createLink(target, tmp); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } finally Files.deleteIfExists(tmp)
    }
    var attempts = 0
    var acquired = false
    while (!acquired) {
      if (claimWithPid(claim)) acquired = true
      else {
          attempts += 1
          val holder =
            try Files.readString(claim).trim catch { case _: Throwable => "?" }
          val holderDead = pidOf(holder).exists(deadForeign)
          if (holderDead && attempts <= 10) {
            val rlock = claim.resolveSibling(
              claim.getFileName.toString + ".reclaimlock")
            // atomic-with-pid like the claim itself: a reclaimer
            // SIGKILLed at lock-create can never leave an empty rlock
            val gotLock = claimWithPid(rlock) || {
              // a reclaimer that crashed HOLDING the lock is itself a
              // dead holder — clear it and retry on the next loop
              val rh = try Files.readString(rlock).trim
                       catch { case _: Throwable => "" }
              if (pidOf(rh).exists(deadForeign))
                Files.deleteIfExists(rlock)
              false
            }
            if (gotLock) {
              try {
                // re-verify UNDER the lock before deleting: the claim we
                // read may have been replaced by a live writer's
                val cur = try Files.readString(claim).trim
                          catch { case _: Throwable => "" }
                if (pidOf(cur).exists(deadForeign)) {
                  Files.deleteIfExists(claim)
                  System.err.println("[graft] reclaimed stale version " +
                    s"claim $claim ($cur — holder process is dead); " +
                    "retrying the commit acquire")
                }
              } finally Files.deleteIfExists(rlock)
            } else Thread.sleep(25)
            // loop: retry the O_EXCL create
          } else {
            val ageSec =
              try (System.currentTimeMillis() -
                Files.getLastModifiedTime(claim).toMillis) / 1000
              catch { case _: Throwable => -1L }
            throw new java.util.ConcurrentModificationException(
              s"concurrent commit: version claim $claim is held ($holder, " +
                s"${ageSec}s old) — another engine process is committing " +
                "this version (if its holder crashed before recording a " +
                "pid, delete the claim file manually). Re-run the " +
                "statement.")
          }
      }
    }
    try {
      if (Files.exists(metadataPath))
        throw new java.util.ConcurrentModificationException(
          s"concurrent commit: $metadataPath already exists — another " +
            "process committed this version; re-run the statement " +
            "against the table's current state")
      f
    } finally Files.deleteIfExists(claim)
  }
}
