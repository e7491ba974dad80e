package graft.orchestrate

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}

/** Per-table process lock.
  *
  * Reference: clickhouse_migrator/utils/lock.py — fcntl.flock(LOCK_EX |
  * LOCK_NB) on `./locks/{db}_{table}.lock` with pid+timestamp content,
  * 3600 s acquire timeout polling every 5 s (lock.py:27-57), plus an
  * `is_locked` probe that garbage-collects stale lock files left by dead
  * pids (lock.py:76-101). The live reference code acquires without a
  * finally-release (SURVEY.md A39 quirk); here the caller releases in a
  * finally (Migrator's `underLock`, the designed fix).
  *
  * ONE OPEN FD PER LOCK FILE PER PROCESS — the load-bearing rule.
  * `FileChannel` locks are POSIX record locks on Linux, and POSIX drops
  * EVERY lock a process holds on a file the moment ANY fd of that
  * process referring to the file is closed — even a read-only probe's.
  * A prior revision opened a verification fd right after acquiring (and
  * a probe fd on every contended retry); each close silently released
  * the held lock at the OS level, so two PROCESSES could both "hold"
  * the lock — in-JVM tests stayed green because the JVM arbitrates
  * same-process contention in its own lock table, masking the loss.
  * Found by a two-JVM soak over a shared index store (two real JVMs
  * both wrote under the lock; TableLockCrossProcessSpec now holds two
  * JVMs to disjoint hold intervals); mechanism isolated by a
  * two-process probe: tryLock excludes correctly until a second fd is
  * opened and closed. Therefore:
  *  - same-JVM contention is arbitrated by a process-wide GATE (one
  *    `ReentrantLock` per absolute lock path) — waiting threads never
  *    open the file at all;
  *  - only the gate holder opens the file (exactly one fd) and flocks
  *    it for CROSS-process arbitration;
  *  - [[isLocked]] takes the gate before probing, so its probe fd can
  *    never coexist with a held lock in this process.
  *
  * Unlink-race safety: the classic flock pitfall is deleting the lock
  * file while a waiter still holds the old inode — a third process can
  * create and lock a fresh file at the same path, leaving two
  * "holders". Two measures close it:
  *  - [[release]] leaves the file in place (the flock is the mutex; the
  *    file is reusable and its pid+timestamp is refreshed per acquire);
  *  - [[acquire]] verifies by INODE (fd-free stats, nothing to close)
  *    that the path names the same file before the open and after the
  *    lock; a GC unlink in between surfaces as a key change and the
  *    acquire retries on a fresh open. (Residual window: the file would
  *    have to be unlinked and recreated TWICE inside the open→lock
  *    microseconds with the second recreation reusing the first inode
  *    number — no shipped code path can unlink the same lock file twice
  *    in that window, and the stale-GC deletes at most once per dead
  *    pid.) This keeps the stale-file GC in [[isLocked]] safe.
  */
final class TableLock(lockDir: String, db: String, table: String,
    timeoutSec: Double = 3600.0, retrySec: Double = 5.0) {

  val path: Path = Paths.get(lockDir, s"${db}_${table}.lock")
  @volatile private var channel: FileChannel = _
  @volatile private var lock: java.nio.channels.FileLock = _
  @volatile private var gated: Boolean = false

  private def gate = TableLock.gateFor(path)

  /** Inode identity of whatever `path` currently names (a stat, never
    * an open — nothing to close, no lock to drop). None = no file.
    */
  private def fileKey(): Option[AnyRef] =
    try Option(Files.readAttributes(path,
      classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey())
    catch { case _: java.io.IOException => None }

  /** Non-blocking probe, like the reference's `is_locked` (lock.py:76-101).
    * As in the reference, a probe that finds the lock file unheld checks
    * the recorded pid and garbage-collects the file if that process is
    * dead (or the content is unreadable), so crash leftovers don't carry
    * stale pid/timestamp diagnostics forever. Gate-guarded: if this
    * process holds (or is acquiring) the lock, report true WITHOUT
    * opening a probe fd — the probe's close would release our own lock.
    */
  def isLocked: Boolean = {
    val g = gate
    if (g.isHeldByCurrentThread || !g.tryLock()) return true
    try {
      if (!Files.exists(path)) return false
      val ch =
        try FileChannel.open(path, StandardOpenOption.WRITE, StandardOpenOption.READ)
        catch { case _: java.nio.file.NoSuchFileException => return false }
      try {
        val l = ch.tryLock()
        if (l == null) true
        else {
          try {
            if (isStale(ch)) Files.deleteIfExists(path)
          } finally l.release()
          false
        }
      } finally ch.close()
    } finally g.unlock()
  }

  /** The recorded pid is dead or the content is unparseable
    * (reference: lock.py:84-99 — dead pid or invalid content → remove).
    * A live pid (e.g. a clean release leaves the file behind) is not
    * stale: the flock, not the file, is the mutex.
    */
  private def isStale(ch: FileChannel): Boolean = {
    try {
      val buf = ByteBuffer.allocate(math.min(ch.size(), 4096L).toInt)
      ch.read(buf, 0L)
      val text = new String(buf.array(), 0, buf.position(), StandardCharsets.UTF_8)
      """"pid"\s*:\s*(\d+)""".r.findFirstMatchIn(text) match {
        case Some(m) =>
          val owner = ProcessHandle.of(m.group(1).toLong)
          !(owner.isPresent && owner.get().isAlive)
        case None => true // unreadable content → treat as stale
      }
    } catch { case _: Exception => true }
  }

  /** Acquire with timeout/retry (lock.py:27-57). Returns false on timeout.
    * Two levels: the process-wide gate first (same-JVM threads queue
    * here, fd-free), then the flock (cross-process). The lock is not
    * reentrant: a same-thread re-acquire would open a second fd on a
    * file whose lock this process holds, so it times out instead of
    * silently dropping the lock.
    */
  def acquire(): Boolean = {
    Files.createDirectories(path.getParent)
    val deadline = System.nanoTime() + (timeoutSec * 1e9).toLong
    val g = gate
    if (g.isHeldByCurrentThread) {
      // a same-thread second acquire on one path can never succeed
      // (this thread would have to release first), and the reentrant
      // gate would wave it through to a second fd — which would drop
      // our own held flock. Wait out the deadline and report timeout,
      // the same observable behavior the flock retry loop had.
      Thread.sleep(math.max(0L, (deadline - System.nanoTime()) / 1000000L))
      return false
    }
    val remaining = math.max(0L, deadline - System.nanoTime())
    if (!g.tryLock(remaining, java.util.concurrent.TimeUnit.NANOSECONDS))
      return false
    // gate held: this thread is the only one in this JVM touching the
    // file — exactly one fd exists below, and no sibling probe can
    // close one under us
    while (true) {
      val k0 = fileKey().getOrElse {
        try Files.createFile(path)
        catch { case _: java.nio.file.FileAlreadyExistsException => () }
        fileKey().orNull
      }
      if (k0 != null) {
        val ch =
          try FileChannel.open(path, StandardOpenOption.WRITE)
          catch { case _: java.nio.file.NoSuchFileException => null }
        if (ch != null) {
          val l = ch.tryLock()
          if (l != null && fileKey().contains(k0)) {
            val info = s"""{"pid": ${ProcessHandle.current().pid()}, "time": ${System.currentTimeMillis() / 1000}}"""
            ch.truncate(0)
            ch.write(ByteBuffer.wrap(info.getBytes(StandardCharsets.UTF_8)), 0L)
            ch.force(true)
            channel = ch
            lock = l
            gated = true
            return true
          }
          if (l != null) l.release() // locked an orphaned inode — retry fresh
          ch.close()
          if (System.nanoTime() > deadline) { g.unlock(); return false }
          if (l == null) Thread.sleep((retrySec * 1000).toLong) // peer process holds
          else Thread.sleep(10L) // orphan retry: brief backoff
        } else if (System.nanoTime() > deadline) { g.unlock(); return false }
        else Thread.sleep(10L) // file unlinked between stat and open
      } else if (System.nanoTime() > deadline) { g.unlock(); return false }
      else Thread.sleep(10L) // could not stat or create — brief backoff
    }
    false
  }

  /** Release the flock, then the gate; the file stays behind (see class
    * doc — deleting it here is the unlink race the reference's
    * release+unlink had, lock.py:59-74).
    */
  def release(): Unit = {
    if (lock != null) { lock.release(); lock = null }
    if (channel != null) { channel.close(); channel = null }
    if (gated) { gated = false; gate.unlock() }
  }
}

object TableLock {
  /** Process-wide gates, one per ABSOLUTE lock path: same-JVM
    * arbitration that never touches the file. Entries are one small
    * object per distinct lock file (one per table — a bounded set);
    * they live for the JVM.
    */
  private val gates =
    new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.locks.ReentrantLock]()

  private def gateFor(p: Path): java.util.concurrent.locks.ReentrantLock =
    gates.computeIfAbsent(p.toAbsolutePath.toString,
      _ => new java.util.concurrent.locks.ReentrantLock())
}
