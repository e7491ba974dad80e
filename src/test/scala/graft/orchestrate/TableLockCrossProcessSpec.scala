package graft.orchestrate

import java.nio.file.Files
import java.util.concurrent.TimeUnit

import org.scalatest.funsuite.AnyFunSuite

/** [[TableLock]] across real processes: two forked JVMs ([[LockLoop]])
  * loop acquire/release on ONE lock file. In-JVM specs cannot show this
  * — same-process contention is arbitrated by the JVM's own lock table
  * and the process-wide gate, so a lock dropped at the OS level (the
  * one-fd-per-lock-file rule in TableLock's scaladoc) stays invisible
  * there. Only the flock separates these two.
  */
class TableLockCrossProcessSpec extends AnyFunSuite {

  test("two JVMs loop on one lock file: both acquire, no two holds overlap") {
    val dir = Files.createTempDirectory("xlock").toFile
    val lockDir = new java.io.File(dir, "locks").toString
    val log = new java.io.File(dir, "holds.log")
    val holds = 15
    val javaBin = s"${sys.props("java.home")}/bin/java"
    def fork(tag: String, peer: String): (Process, java.io.File) = {
      val out = new java.io.File(dir, s"$tag.out")
      val pb = new ProcessBuilder(javaBin, "-Xmx64m",
        "-cp", sys.props("java.class.path"), "graft.orchestrate.LockLoop",
        lockDir, log.toString, tag, peer, holds.toString)
      pb.redirectErrorStream(true)
      pb.redirectOutput(ProcessBuilder.Redirect.to(out))
      (pb.start(), out)
    }
    val (procA, outA) = fork("a", "b")
    val (procB, outB) = fork("b", "a")
    assert(procA.pid() != procB.pid() &&
      procA.pid() != ProcessHandle.current().pid(),
      "the contenders must be distinct real processes")
    def tail(f: java.io.File): String =
      scala.util.Try(Files.readString(f.toPath)).getOrElse("<no output>")
        .takeRight(2000)
    try {
      assert(procA.waitFor(3, TimeUnit.MINUTES), s"a hung\n${tail(outA)}")
      assert(procB.waitFor(3, TimeUnit.MINUTES), s"b hung\n${tail(outB)}")
    } finally { procA.destroyForcibly(); procB.destroyForcibly() }
    assert(procA.exitValue() == 0, s"a failed\n${tail(outA)}")
    assert(procB.exitValue() == 0, s"b failed\n${tail(outB)}")

    import scala.jdk.CollectionConverters._
    val held = Files.readAllLines(log.toPath).asScala.toSeq
      .map(_.split(" ")).map(f => (f(0), f(1).toLong, f(2).toLong))
    assert(held.count(_._1 == "a") == holds &&
      held.count(_._1 == "b") == holds,
      s"each JVM must record every one of its holds: $held")
    val byStart = held.sortBy(_._2)
    byStart.zip(byStart.tail).foreach { case (x, y) =>
      assert(y._2 >= x._3, s"hold $y began inside hold $x")
    }
  }
}
