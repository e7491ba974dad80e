package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.perfbenchshim.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One timed region: a name, start and end (ns, JVM monotonic clock) and
  * the id of the enclosing span (-1 at the root).
  */
final case class Span(id: Int, name: String, parent: Int, startNs: Long) {
  var endNs: Long = startNs
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span. */
final class SparkCounts {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var bytesRead = 0L
  var recordsRead = 0L
  var bytesWritten = 0L
  var recordsWritten = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L

  def add(o: SparkCounts): SparkCounts = {
    jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs
    bytesRead += o.bytesRead; recordsRead += o.recordsRead
    bytesWritten += o.bytesWritten
    recordsWritten += o.recordsWritten
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    this
  }
}

/** Wraps a call in a named span, or (`Spans.none`) just runs it. */
trait Spans {
  def span[T](name: String)(body: => T): T
}

object Spans {
  val none: Spans = new Spans { def span[T](name: String)(body: => T): T = body }
}

/** In-memory span recorder plus a SparkListener that charges every job,
  * and every task of its stages, to the innermost span open on the
  * submitting thread (carried as a SparkContext local property, which
  * Spark propagates to the threads it submits broadcast and subquery
  * jobs from). Spans are only recorded while a traced unit runs; an
  * untraced unit never touches the tracer.
  */
final class Tracer(sc: SparkContext) extends SparkListener with Spans {
  import Tracer.SpanKey

  private val recorded = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val counts = mutable.HashMap.empty[Int, SparkCounts]
  val originNs: Long = System.nanoTime()

  sc.addSparkListener(this)

  def span[T](name: String)(body: => T): T = {
    val s = Span(recorded.size, name, open.headOption.fold(-1)(_.id), System.nanoTime())
    recorded += s
    open = s :: open
    sc.setLocalProperty(SpanKey, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
      sc.setLocalProperty(SpanKey, open.headOption.map(_.id.toString).orNull)
    }
  }

  def allSpans: Seq[Span] = recorded.toSeq

  /** Spark counts of one span, after every event posted so far is seen. */
  def countsOf(spanId: Int): SparkCounts = synchronized {
    counts.getOrElse(spanId, new SparkCounts)
  }

  def drain(): Unit = ListenerBusDrain(sc)

  def close(): Unit = sc.removeSparkListener(this)

  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    spanOf(e.properties).foreach { id =>
      counts.getOrElseUpdate(id, new SparkCounts).jobs += 1
      e.stageIds.foreach(st => stageSpan(st) = id)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (id <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = counts.getOrElseUpdate(id, new SparkCounts)
      c.tasks += 1
      c.cpuNs += m.executorCpuTime
      c.bytesRead += m.inputMetrics.bytesRead
      c.recordsRead += m.inputMetrics.recordsRead
      c.bytesWritten += m.outputMetrics.bytesWritten
      c.recordsWritten += m.outputMetrics.recordsWritten
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled
    }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Per span name: total seconds, and Spark counts of the spans of that
    * name (jobs are charged to the innermost span only, so the sums over
    * names add up to the unit's total).
    */
  final case class Layers(seconds: Map[String, Double], spark: Map[String, SparkCounts],
      total: SparkCounts) {
    def s(name: String): Double = seconds.getOrElse(name, 0.0)
    def c(name: String): SparkCounts = spark.getOrElse(name, new SparkCounts)
  }

  def layers(t: Tracer, spans: Seq[Span]): Layers = {
    t.drain()
    val secs = spans.groupBy(_.name).view.mapValues(_.map(_.seconds).sum).toMap
    val spark = spans.groupBy(_.name).view.mapValues(
      _.foldLeft(new SparkCounts)((acc, s) => acc.add(t.countsOf(s.id)))).toMap
    val total = spark.values.foldLeft(new SparkCounts)((acc, c) => acc.add(c))
    Layers(secs, spark, total)
  }

  /** A span's duration minus the time its direct children cover. */
  def selfSeconds(span: Span, spans: Seq[Span]): Double =
    span.seconds - spans.filter(_.parent == span.id).map(_.seconds).sum

  def toJson(t: Tracer): Seq[Map[String, Any]] = t.allSpans.map { s =>
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_s" -> (s.startNs - t.originNs) / 1e9,
      "end_s" -> (s.endNs - t.originNs) / 1e9)
  }
}
