package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One timed interval around a call into a layer. */
final case class Span(name: String, startNs: Long, endNs: Long, parent: Int) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Disabled, `span` is a bare call; enabled, it
  * appends (name, start, end, parent) and nothing else — the spans are
  * written out once, after the timed region. */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val idx = spans.length
      val parent = open
      spans += Span(name, System.nanoTime(), 0L, parent)
      open = idx
      try body
      finally {
        spans(idx) = spans(idx).copy(endNs = System.nanoTime())
        open = parent
      }
    }

  def seconds(name: String): Seq[Double] =
    spans.iterator.filter(_.name == name).map(_.seconds).toSeq

  def toJson: String = spans.map { s =>
    s"""{"name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs},"parent":${s.parent}}"""
  }.mkString("[\n", ",\n", "\n]")
}

/** Engine counters per operation label. The benchmark sets the label as a
  * local property before each operation; jobs and stages inherit it, so
  * task metrics are attributed without waiting on the listener bus inside
  * the timed region. */
final class EngineCounters {
  var jobs = 0L
  var inputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var executorRunMs = 0L
  var executorCpuNs = 0L
  var gcMs = 0L

  def +=(o: EngineCounters): Unit = {
    jobs += o.jobs; inputBytes += o.inputBytes
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; executorRunMs += o.executorRunMs
    executorCpuNs += o.executorCpuNs; gcMs += o.gcMs
  }
}

final class EngineListener extends SparkListener {
  private val byStage = mutable.HashMap.empty[Int, String]
  val byLabel = mutable.LinkedHashMap.empty[String, EngineCounters]

  private def counters(label: String) = byLabel.getOrElseUpdate(label, new EngineCounters)
  private def labelOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(Engine.LabelKey))).getOrElse("unlabelled")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val label = labelOf(e.properties)
    counters(label).jobs += 1
    e.stageIds.foreach(id => byStage(id) = label)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val c = counters(byStage.getOrElse(e.stageId, "unlabelled"))
      c.inputBytes += m.inputMetrics.bytesRead
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.executorRunMs += m.executorRunTime
      c.executorCpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
    }
  }

  /** Sum of the counters whose label satisfies `p`. */
  def total(p: String => Boolean): EngineCounters = synchronized {
    val t = new EngineCounters
    byLabel.foreach { case (k, v) => if (p(k)) t += v }
    t
  }
}

object Engine {
  val LabelKey = "perfbench.op"

  def label[T](sc: SparkContext, label: String)(body: => T): T = {
    val outer = sc.getLocalProperty(LabelKey)
    sc.setLocalProperty(LabelKey, label)
    try body finally sc.setLocalProperty(LabelKey, outer)
  }

  /** Labels of work outside the timed region. */
  val Untimed = Seq("setup", "warmup", "verify", "probe")
  def timed(label: String): Boolean = !Untimed.exists(label.startsWith)

  /** Blocks until every posted event reached the listeners. */
  def drain(sc: SparkContext): Unit =
    org.apache.spark.perfbenchbridge.ListenerDrain.drain(sc)
}
