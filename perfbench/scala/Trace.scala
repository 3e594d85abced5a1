package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

import scala.collection.mutable

/** Spark job/task counts per span. The span id travels as a local
  * property, which Spark copies into every job submitted while it is
  * set, so a job is charged to the span open when it started even
  * though listener events arrive later on the bus thread. */
final class LayerListener extends SparkListener {
  final class Counts {
    var jobs, tasks, cpuNs, shuffleRead, shuffleWrite, spill,
      bytesRead = 0L
  }
  private val bySpan = mutable.Map.empty[Int, Counts]
  private val stageSpan = mutable.Map.empty[Int, Int]

  private def of(span: Int) = bySpan.getOrElseUpdate(span, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(0)
    of(span).jobs += 1
    e.stageIds.foreach(stageSpan(_) = span)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stageSpan.getOrElse(e.stageId, 0))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.cpuNs += m.executorCpuTime
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.bytesRead += m.inputMetrics.bytesRead
    }
  }

  def counts(span: Int): Option[Counts] = synchronized(bySpan.get(span))
}

/** In-memory spans around the benchmark's calls into each layer: name,
  * start, end, parent span and op id. Written out once, when the run
  * ends. With tracing off `span` only runs its body. */
final class Tracer(sc: SparkContext, enabled: Boolean) {
  final case class Span(id: Int, name: String, parent: Int, op: Int,
      start: Long, var end: Long = 0L)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  val listener: Option[LayerListener] =
    if (enabled) Some(new LayerListener) else None
  listener.foreach(sc.addSparkListener)

  def span[T](name: String, op: Int)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size + 1, name, stack.headOption.fold(0)(_.id), op,
        System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey,
          stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** One JSON object per span; times are seconds since `origin`. */
  def write(path: String, origin: Long): Unit = {
    listener.foreach(_ => org.apache.spark.PerfbenchBus.drain(sc))
    val out = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      val c = listener.flatMap(_.counts(s.id))
      def n(f: LayerListener#Counts => Long) = c.fold(0L)(f)
      out.println(Json.obj(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start" -> (s.start - origin) / 1e9, "end" -> (s.end - origin) / 1e9,
        "jobs" -> n(_.jobs), "tasks" -> n(_.tasks),
        "cpu_s" -> n(_.cpuNs) / 1e9, "shuffle_read" -> n(_.shuffleRead),
        "shuffle_write" -> n(_.shuffleWrite), "spill" -> n(_.spill),
        "bytes_read" -> n(_.bytesRead)))
    }
    finally out.close()
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Already-encoded JSON, embedded as is. */
final case class RawJson(s: String)

/** Just enough JSON for flat records of numbers, strings and lists. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case RawJson(s) => s
    case s: String =>
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case o => value(o.toString)
  }
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}
