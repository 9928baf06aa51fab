package graft.perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One traced interval. Jobs started while the span is the innermost
  * open one carry its id as their job group, and the listener charges
  * their tasks to it.
  */
final class Span(val id: Int, val parent: Int, val name: String, val pass: Int) {
  var startNs = 0L
  var endNs = 0L
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  val taskDurMs = mutable.ArrayBuffer.empty[Long]
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory; written out once the run ends. When tracing
  * is enabled, spans are recorded between `begin(pass)` and `end()`,
  * the listener is registered only then, and the set-up and
  * verification pass stay untraced. When disabled, `span` only runs
  * its body: no job groups, no listener.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = mutable.Map.empty[Int, Span]
  private val open = mutable.Stack.empty[Span]
  private val stageSpan = mutable.Map.empty[Int, Span]
  private var pass = 0
  var active = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith("span-"))
        .flatMap(g => byId.synchronized(byId.get(g.stripPrefix("span-").toInt)))
        .foreach { s =>
          s.jobs += 1
          e.stageIds.foreach(stageSpan(_) = s)
        }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageSpan.get(e.stageId).foreach { s =>
        s.tasks += 1
        s.taskDurMs += e.taskInfo.duration
        Option(e.taskMetrics).foreach { m =>
          s.taskMs += m.executorRunTime
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
  }

  def begin(p: Int): Unit = {
    pass = p
    active = enabled
    if (active) sc.addSparkListener(listener)
  }

  /** Delivers pending listener events, so the counters are complete. */
  def end(): Unit = if (active) {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    active = false
  }

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val s = new Span(spans.size, open.headOption.map(_.id).getOrElse(-1), name, pass)
      byId.synchronized(byId(s.id) = s)
      spans += s
      open.push(s)
      sc.setJobGroup(s"span-${s.id}", name)
      s.startNs = System.nanoTime()
      try body
      finally {
        s.endNs = System.nanoTime()
        open.pop()
        open.headOption match {
          case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name)
          case None    => sc.clearJobGroup()
        }
      }
    }

  def toJsonLines: Iterator[String] = spans.iterator.map { s =>
    Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "pass" -> s.pass,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs, "jobs" -> s.jobs, "tasks" -> s.tasks,
      "task_ms" -> s.taskMs, "shuffle_read" -> s.shuffleRead, "shuffle_write" -> s.shuffleWrite,
      "spill" -> s.spill).s
  }
}

/** Just enough JSON output for the result and trace files. */
object Json {
  /** Already-rendered JSON, embedded as is. */
  final case class Raw(s: String)
  def value(v: Any): String = v match {
    case null                 => "null"
    case Raw(s)               => s
    case s: String            => quote(s)
    case b: Boolean           => b.toString
    case d: Double            => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int               => n.toString
    case n: Long              => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]      => xs.map(value).mkString("[", ",", "]")
    case other                => quote(other.toString)
  }
  def obj(kv: (String, Any)*): Raw = Raw(value(mutable.LinkedHashMap(kv: _*)))
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
