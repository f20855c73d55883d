package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/** Advisory single-writer guard for the persisted serving indexes
  * ([[graft.ops.DedupIndex]], [[graft.ops.NearDupIndex]],
  * [[graft.ops.AnnIndex]]) — the same protocol
  * [[graft.core.SummaryDB]] uses for its versioned swap.
  *
  * Why: each index's mutators are individually crash-safe, but they
  * are NOT safe against each other. The concrete hazard is compact
  * racing ingest/append — compact snapshots the live table, writes a
  * fresh generation, and swaps the directory in; rows appended between
  * the snapshot and the swap are silently dropped from the new
  * generation (for a dedup index that silently un-sees hashes, so
  * previously-kept duplicates pass the filter forever after). Two
  * concurrent ingests of one index can also double-append survivors.
  *
  * Mechanics: every mutating call holds `<indexRoot>/_writer.lock` for
  * the CALL's duration — acquired with atomic create-if-absent,
  * token-checked on release (never deletes a lock someone re-acquired
  * after a [[break]] of ours), reentrant within a thread (ingest may
  * call append under the same lock). A second concurrent writer fails
  * LOUDLY instead of racing. Readers/probes never take the lock: every
  * reader-visible mutation is already atomic on its own (bucketed
  * appends, single-name installs, directory swaps).
  *
  * A writer that DIES mid-call leaves a stale lock; that is
  * intentionally loud (the dead writer may have left a half-applied
  * batch worth inspecting) and is cleared with [[break]]. The
  * underscore name keeps the lock file invisible to parquet readers.
  *
  * Portability contract: the guarantee is exactly as strong as the
  * filesystem's create-if-absent. On HDFS `create(overwrite=false)` is
  * an atomic namespace operation; on the local filesystem Hadoop's
  * `RawLocalFileSystem`/`ChecksumFileSystem` implement it as
  * exists-check-then-create (NOT atomic), so local paths are acquired
  * through `java.nio.file.Files.createFile` (O_EXCL — atomic).
  * Non-local paths acquire through the `createFile(path)
  * .overwrite(false)` BUILDER rather than the legacy two-arg create:
  * on stores where a plain create can't be conditional, the builder is
  * the surface that can — recent S3A (Hadoop 3.4.1+ conditional-write
  * support) maps it to a conditional PUT (`If-None-Match: *`) that
  * commits at close(), so create-if-absent is atomic on S3 too, and
  * the token goes up IN the conditional write (no empty-lock cleanup
  * window at all — the losing writer's object never materializes).
  * On object stores where neither primitive exists, two writers can
  * still both "acquire": run mutators for one index from one
  * coordinator there, or front the lock with a store that has the
  * primitive (HDFS, ABFS, GCS preconditions, S3 If-None-Match).
  * SCALING.md §locks records the same contract.
  */
object WriterLock {

  private val held = new ThreadLocal[collection.mutable.Map[String, (Int, String)]] {
    override def initialValue(): collection.mutable.Map[String, (Int, String)] =
      collection.mutable.Map.empty
  }

  /** The lock file for an index rooted at `dir`. */
  def lockPath(dir: String): Path = new Path(dir, "_writer.lock")

  private def holder(fs: FileSystem, lock: Path): String =
    try {
      val in = fs.open(lock)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    } catch { case _: Throwable => "<unreadable>" }

  /** Run `body` holding the single-writer lock at `lock`; `what` names
    * the index in the failure message.
    */
  def withLock[T](fs: FileSystem, lock: Path, what: String)(body: => T): T = {
    val key = lock.toString
    val m = held.get()
    m.get(key) match {
      case Some((depth, token)) =>
        m(key) = (depth + 1, token)
        try body
        finally m(key) = (m(key)._1 - 1, token)
      case None =>
        val token = acquire(fs, lock, what)
        m(key) = (1, token)
        try body
        finally {
          m.remove(key)
          release(fs, lock, token)
        }
    }
  }

  /** Delete `lock` only if it still holds `token` — never a lock
    * someone re-acquired after a [[break]] of ours.
    */
  private[graft] def release(fs: FileSystem, lock: Path, token: String): Unit =
    if (holder(fs, lock) == token) fs.delete(lock, false)

  private def lockedBy(fs: FileSystem, lock: Path, what: String) =
    new IllegalStateException(
      s"$what is locked by another writer (${holder(fs, lock)}); " +
        "wait for it, or clear a stale lock from a dead writer with WriterLock.break")

  /** Create the lock file with a fresh holder token (uuid, pid,
    * acquisition time) inside, atomically-if-absent; returns the token.
    *
    * Only "already exists" maps to the locked-by-another-writer error;
    * any OTHER IOException (permissions, quota, transient FS failure)
    * propagates as what it is — misreporting those as "locked" would
    * steer an operator toward [[break]], which breaks a lock someone
    * may actually hold. If the create succeeded but the token write
    * failed, the just-created file is removed before rethrowing (an
    * empty lock with no holder bookkeeping would wedge every later
    * mutator until a manual break).
    */
  private[graft] def acquire(fs: FileSystem, lock: Path, what: String): String = {
    val token = java.util.UUID.randomUUID().toString +
      " pid=" + ProcessHandle.current().pid() + " at=" + System.currentTimeMillis()
    fs.mkdirs(lock.getParent)
    if (fs.getUri.getScheme == "file") {
      // Hadoop's local create(overwrite=false) is exists-check-then-
      // create — two processes can both win. O_EXCL via nio is atomic.
      val nio = java.nio.file.Paths.get(lock.toUri.getPath)
      try java.nio.file.Files.createFile(nio)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw lockedBy(fs, lock, what)
      }
      try java.nio.file.Files.write(nio, token.getBytes("UTF-8"))
      catch {
        case e: Throwable =>
          try java.nio.file.Files.deleteIfExists(nio) catch { case _: Throwable => () }
          throw e
      }
    } else {
      // The builder path: create-if-absent that stores with conditional
      // writes can honor atomically (see the class doc). Where the
      // store rejects early (HDFS — namespace create at build()), the
      // failure surfaces here; where it commits late (S3A conditional
      // PUT), it surfaces at close() — both funnel to the same
      // taxonomy: "already exists" means locked, anything else
      // propagates as what it is.
      val out =
        try fs.createFile(lock).overwrite(false).build()
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
            throw lockedBy(fs, lock, what)
          // some filesystems signal an existing file as a bare
          // IOException — treat it as locked only when the file IS there
          case e: java.io.IOException =>
            if (fs.exists(lock)) throw lockedBy(fs, lock, what) else throw e
        }
      // Early-commit stores (HDFS namespace create) have the file on
      // disk NOW, empty — a later write/close failure must clean OUR
      // file up or every future mutator wedges on an empty lock.
      // Late-commit stores (S3A conditional PUT at close) have nothing
      // yet — any file present at a close() failure is a RACING
      // WINNER's lock and must never be deleted.
      val earlyCommit = try fs.exists(lock) catch { case _: Throwable => false }
      try {
        out.write(token.getBytes("UTF-8"))
        out.close()
      } catch {
        case e: Throwable =>
          // the stream is dead on EVERY failure path — close it (best
          // effort) before deciding whose lock is on disk, or the
          // handle leaks
          try out.close() catch { case _: Throwable => () }
          if (e.isInstanceOf[org.apache.hadoop.fs.FileAlreadyExistsException] &&
              !earlyCommit)
            // late-commit conditional PUT lost the race at close(): the
            // other writer's lock is the one on disk — ours never landed
            throw lockedBy(fs, lock, what)
          // An early-commit store surfacing "already exists" at
          // write/close is NOT a lost race — our build() already won
          // the namespace create, so the file on disk is OURS and must
          // go through the same holder-token cleanup as any other
          // write failure (reporting it as locked would leave our own
          // lock wedging every later mutator until a manual break).
          val h = try {
            if (fs.exists(lock)) Some(holder(fs, lock)) else None
          } catch { case _: Throwable => None }
          h match {
            case Some(s) if s == token || (earlyCommit && token.startsWith(s)) =>
              // ours (fully or partially written — a partial write is a
              // prefix of our UUID token, a foreign token never is) —
              // remove before rethrowing
              try fs.delete(lock, false) catch { case _: Throwable => () }
              throw e
            case Some(_) =>
              // a complete foreign token: a racing writer holds the lock
              throw lockedBy(fs, lock, what)
            case None => throw e
          }
      }
    }
    token
  }

  /** Forcibly clear a stale lock left by a dead writer. Returns true
    * when a lock file was removed.
    */
  def break(fs: FileSystem, lock: Path): Boolean = fs.delete(lock, false)
}
