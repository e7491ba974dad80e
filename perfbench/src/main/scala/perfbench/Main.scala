package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `run.py` generates the inputs, writes
  * `config.json` into a scratch working directory and starts this main
  * there; it writes `result.json` next to it with raw samples (the
  * statistics are computed by `run.py`).
  *
  * Usage: `perfbench.Main <workDir>`
  */
object Main {

  def main(args: Array[String]): Unit = {
    val work = args(0)
    val cfg = new Config(new ObjectMapper().readValue(
      Paths.get(work, "config.json").toFile, classOf[java.util.Map[String, Object]]).asScala.toMap)
    val cpus = Runtime.getRuntime.availableProcessors()
    // One session for every workload: local[nproc], the session settings
    // graft.Bench and MigrateCli share.
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val run = new Run(spark, cfg, work)
    val result =
      try cfg.workload match {
        case "migration" => Migration.run(run)
        case "analytics" => Analytics.run(run)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      } catch {
        case e: Throwable =>
          run.fail(s"workload aborted: $e")
          Map.empty[String, Any]
      }
    val out = result ++ run.summary
    Files.writeString(Paths.get(work, "result.json.tmp"), Json.render(out))
    Files.move(Paths.get(work, "result.json.tmp"), Paths.get(work, "result.json"))
    spark.stop()
  }
}

/** Typed view of `config.json`. */
final class Config(m: Map[String, Object]) {
  def str(k: String): String = m(k).toString
  def int(k: String): Int = m(k).toString.toInt
  def double(k: String): Double = m(k).toString.toDouble
  def opt(k: String): Option[String] = m.get(k).filter(_ != null).map(_.toString)
  def strings(k: String): Seq[String] =
    m(k).asInstanceOf[java.util.List[Object]].asScala.map(_.toString).toSeq
  def counts(k: String): Map[String, Long] =
    m(k).asInstanceOf[java.util.Map[String, Object]].asScala
      .map { case (a, b) => a -> b.toString.toLong }.toMap
  def workload: String = str("workload")
  def seconds: Double = double("seconds")
  def traced: Boolean = int("trace") == 1
  /** Units a window runs at least: one, or in a traced run plain, traced,
    * plain.
    */
  def minUnits: Int = if (traced) 3 else 1
}

/** State shared by a run: the window clock, the attempted/failed tally
  * and the process-wide CPU, GC and heap probes.
  */
final class Run(val spark: SparkSession, val cfg: Config, val work: String) {
  private var attempted = 0L
  private val errors = scala.collection.mutable.ArrayBuffer.empty[String]
  private var readyEpochMs = 0L

  /** Count one checked operation; `ok == false` counts it failed. */
  def check(ok: Boolean, what: => String): Boolean = {
    attempted += 1
    if (!ok) errors += what
    ok
  }

  /** Record a failure that is not tied to one checked operation. */
  def fail(what: String): Unit = { attempted += 1; errors += what }

  /** Marks the end of setup (JVM start, session, inputs, warm pass). */
  def ready(): Unit = readyEpochMs = System.currentTimeMillis()

  def summary: Map[String, Any] = Map(
    "attempted" -> attempted, "failed" -> errors.size,
    "errors" -> errors.take(20).toSeq, "ready_epoch_ms" -> readyEpochMs)

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs: Long = os.getProcessCpuTime

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Run `unit(i)` repeatedly until `seconds` have passed since the first
    * call began and at least `min` units ran (a unit that is running when
    * the window closes finishes).
    */
  def window[T](seconds: Double, min: Int = 1)(unit: Int => T): Seq[T] = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    val out = Seq.newBuilder[T]
    var i = 0
    while (i < min || System.nanoTime() < end) { out += unit(i); i += 1 }
    out.result()
  }

  /** Wall and process-CPU seconds of `body`. */
  def timed[T](body: => T): (T, Double, Double) = {
    val (c0, t0) = (cpuNs, System.nanoTime())
    val r = body
    (r, (System.nanoTime() - t0) / 1e9, (cpuNs - c0) / 1e9)
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
