package graft.orchestrate

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

class TableLockSpec extends AnyFunSuite {

  private def freshDir = Files.createTempDirectory("lock").toString

  test("release leaves the lock file in place (flock is the mutex)") {
    val dir = freshDir
    val lock = new TableLock(dir, "db", "t")
    assert(lock.acquire())
    lock.release()
    assert(Files.exists(lock.path))
    // and the path is immediately re-acquirable
    assert(lock.acquire())
    lock.release()
  }

  test("stale lock file from a dead pid is garbage-collected by the probe") {
    val dir = freshDir
    val lock = new TableLock(dir, "db", "t")
    Files.createDirectories(lock.path.getParent)
    // pid far above any live process (kernel pid_max default 4M)
    Files.write(lock.path,
      """{"pid": 999999999, "time": 0}""".getBytes(StandardCharsets.UTF_8))
    assert(!lock.isLocked)
    assert(!Files.exists(lock.path), "stale file should be removed")
    assert(lock.acquire(), "acquisition proceeds after GC")
    lock.release()
  }

  test("unparseable lock file content is treated as stale and removed") {
    val dir = freshDir
    val lock = new TableLock(dir, "db", "t")
    Files.createDirectories(lock.path.getParent)
    Files.write(lock.path, "garbage".getBytes(StandardCharsets.UTF_8))
    assert(!lock.isLocked)
    assert(!Files.exists(lock.path))
  }

  test("live-pid leftover file is NOT garbage-collected") {
    val dir = freshDir
    val lock = new TableLock(dir, "db", "t")
    assert(lock.acquire())
    lock.release() // file remains, records OUR (live) pid
    assert(!lock.isLocked)
    assert(Files.exists(lock.path), "file with a live pid must survive the probe")
  }

  test("probe does not steal a held lock and reports it locked") {
    val dir = freshDir
    val holder = new TableLock(dir, "db", "t")
    val prober = new TableLock(dir, "db", "t")
    assert(holder.acquire())
    assert(prober.isLocked)
    assert(Files.exists(holder.path))
    holder.release()
    assert(!prober.isLocked)
  }

  test("mutual exclusion across threads") {
    val dir = freshDir
    val inside = new AtomicInteger
    val maxInside = new AtomicInteger
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    // one TableLock per thread, one lock file: the process-wide gate
    // must admit a single holder at a time
    val threads = (1 to 4).map(_ => new Thread(() =>
      try {
        val lock = new TableLock(dir, "db", "t", timeoutSec = 60,
          retrySec = 0.05)
        assert(lock.acquire(), "acquire timed out")
        try {
          val n = inside.incrementAndGet()
          maxInside.updateAndGet(m => math.max(m, n))
          Thread.sleep(100)
          inside.decrementAndGet()
        } finally lock.release()
      } catch { case t: Throwable => errs.add(t) }))
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errs.isEmpty, s"lock contention errored: ${errs.peek()}")
    assert(maxInside.get() == 1,
      s"${maxInside.get()} holders inside the critical section at once")
  }
}
