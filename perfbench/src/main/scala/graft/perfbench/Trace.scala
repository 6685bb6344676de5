package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext

/** Spark counters summed over the jobs and tasks attributed to a span. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var runNs = 0L
  var cpuNs = 0L
  var schedDelayMs = 0L
  var gcMs = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; runNs += o.runNs; cpuNs += o.cpuNs
    schedDelayMs += o.schedDelayMs; gcMs += o.gcMs; inputRecords += o.inputRecords
    outputBytes += o.outputBytes
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes
  }
}

/** One traced interval. `parent` is the enclosing span's id (0 at the
  * root); `run` is the unit operation (sweep, round or pass) it belongs
  * to. Times are `System.nanoTime` values. */
final case class Span(id: Long, name: String, parent: Long, run: Int,
    startNs: Long, var endNs: Long = -1L) {
  val counters = new Counters
  def durNs: Long = endNs - startNs
}

object Span {
  /** Self time per span: its duration minus its direct children's.
    * Children of one span run one after another on the driver thread,
    * so their durations do not overlap. */
  def selfNs(spans: Seq[Span]): Map[Long, Long] = {
    val childNs = spans.groupBy(_.parent).view.mapValues(_.map(_.durNs).sum).toMap
    spans.map(s => s.id -> (s.durNs - childNs.getOrElse(s.id, 0L))).toMap
  }
}

/** Records spans on the driver thread. When `sc` is given, every span
  * also sets the [[Tracer.SpanProperty]] local property while it is
  * open, so the listener can charge the Spark jobs it starts to it.
  * An inactive tracer records nothing and costs one branch per call. */
final class Tracer(sc: Option[SparkContext]) {
  @volatile var active = false
  var run = 0
  private var nextId = 1L
  private val open = mutable.Stack.empty[Span]
  val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = mutable.Map.empty[Long, Span]

  def spanById(id: Long): Option[Span] = synchronized(byId.get(id))

  def begin(name: String): Span =
    if (!active) null
    else synchronized {
      val s = Span(nextId, name, open.headOption.map(_.id).getOrElse(0L), run, System.nanoTime())
      nextId += 1
      open.push(s)
      spans += s
      byId(s.id) = s
      sc.foreach(_.setLocalProperty(Tracer.SpanProperty, s.id.toString))
      s
    }

  /** Closes `s` and every span opened after it that is still open. */
  def end(s: Span): Unit =
    if (s != null) synchronized {
      val now = System.nanoTime()
      while (open.nonEmpty && (open.top ne s)) open.pop().endNs = now
      if (open.nonEmpty) open.pop()
      s.endNs = now
      sc.foreach(_.setLocalProperty(Tracer.SpanProperty, open.headOption.map(_.id.toString).orNull))
    }

  /** Closes the innermost open span with this name, if any. */
  def endNamed(name: String): Unit = synchronized {
    open.find(_.name == name).foreach(end)
  }

  def span[T](name: String)(body: => T): T = {
    val s = begin(name)
    try body finally end(s)
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"
}
