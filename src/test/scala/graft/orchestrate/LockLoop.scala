package graft.orchestrate

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

/** Forked-JVM contender for TableLockCrossProcessSpec: loops `holds`
  * times acquire → append one `<tag> <start> <end>` line (epoch
  * nanoseconds, stamped inside the hold) to the shared log → release.
  * Before the first acquire it touches `ready_<tag>` in the lock dir and
  * waits for the peer's, so the two loops contend instead of running
  * one after the other.
  *
  * Args: lockDir log tag peerTag holds
  * Exit 0 on success; any exception (including an acquire timeout)
  * exits nonzero.
  */
object LockLoop {
  private def nowNanos(): Long = {
    val t = java.time.Instant.now()
    t.getEpochSecond * 1000000000L + t.getNano
  }

  def main(args: Array[String]): Unit = {
    val Array(lockDir, log, tag, peer, holdsS) = args
    Files.createDirectories(Paths.get(lockDir))
    Files.write(Paths.get(lockDir, s"ready_$tag"), Array.emptyByteArray)
    val deadline = System.nanoTime() + 60000000000L
    while (!Files.exists(Paths.get(lockDir, s"ready_$peer"))) {
      require(System.nanoTime() < deadline, s"peer $peer never started")
      Thread.sleep(5)
    }
    val lock = new TableLock(lockDir, "db", "t", timeoutSec = 60,
      retrySec = 0.01)
    (1 to holdsS.toInt).foreach { _ =>
      require(lock.acquire(), s"$tag: acquire timed out")
      try {
        val start = nowNanos()
        Thread.sleep(20)
        val end = nowNanos()
        Files.write(Paths.get(log),
          s"$tag $start $end\n".getBytes(StandardCharsets.UTF_8),
          StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      } finally lock.release()
      // a pause longer than the waiter's retry interval: the lock has
      // no FIFO hand-off, so a holder that re-acquired at once could
      // keep its peer polling
      Thread.sleep(30)
    }
  }
}
