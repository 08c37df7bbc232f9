package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory span recorder. Spans are taken only around calls the
  * benchmark makes into the engine's public API (name, start, end,
  * parent span, request id); the whole list is written as one JSON file
  * when the run ends. With tracing off `span` is a plain call.
  */
final class Trace(val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, name: String, req: String,
      startNs: Long, endNs: Long)

  private val t0 = System.nanoTime()
  private val spans = ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 1

  def span[T](name: String, req: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val s = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, name, req, s - t0, System.nanoTime() - t0)
        stack = stack.tail
      }
    }

  /** Summed wall seconds of every span with this name. */
  def seconds(name: String): Double =
    spans.iterator.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).sum

  def toJson: String = spans.iterator.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
      s""""req":${Json.str(s.req)},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[", ",\n", "]")
}

/** Spark task metrics per benchmark phase. The phase travels with each
  * job as the `perfbench.phase` local property, so the asynchronous
  * listener bus attributes every task to the phase that submitted it.
  */
final class PhaseListener extends SparkListener {
  final class Counters {
    val jobs, tasks, cpuNs, gcMs, shuffleWrite, spill = new LongAdder
  }
  private val byPhase = new ConcurrentHashMap[String, Counters]()
  private val stagePhase = new ConcurrentHashMap[Int, String]()

  def counters(phase: String): Counters = byPhase.computeIfAbsent(phase, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val phase = Option(e.properties).flatMap(p => Option(p.getProperty(PhaseListener.Key)))
      .getOrElse("other")
    counters(phase).jobs.increment()
    e.stageIds.foreach(id => stagePhase.put(id, phase))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val c = counters(stagePhase.getOrDefault(e.stageId, "other"))
      c.tasks.increment()
      c.cpuNs.add(m.executorCpuTime)
      c.gcMs.add(m.jvmGCTime)
      c.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      c.spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
}

object PhaseListener {
  val Key = "perfbench.phase"

  def inPhase[T](sc: SparkContext, phase: String)(body: => T): T = {
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, phase)
    try body finally sc.setLocalProperty(Key, prev)
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}
