package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.{BusDrain, SparkContext}
import org.apache.spark.scheduler._

/** One timed benchmark-to-layer call. `parent` is the enclosing span's id
  * (-1 at top level), `op` the id of the op it ran under (-1 in set-up). */
final case class Span(id: Int, layer: String, name: String, startNs: Long,
                      endNs: Long, parent: Int, op: Int) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Per-layer counters of the Spark work launched inside a layer's spans. */
final class LayerStats {
  var jobs = 0L; var stages = 0L; var tasks = 0L; var failedTasks = 0L
  var taskCpuMs = 0.0; var taskRunMs = 0.0; var schedDelayMs = 0.0
  var shuffleBytes = 0L; var spillBytes = 0L
}

/** The traced run's recorder. Every benchmark call into a graft module
  * runs inside `span(layer, name)`; the span tags the calling thread with
  * a Spark local property that names it, so the listener can charge each
  * job, stage and task to the innermost layer the benchmark was calling
  * when Spark launched it. The tag is a local property, not the job
  * group: a thread Spark starts inside the span (a streaming query's
  * execution thread) inherits the caller's local properties, but sets its
  * own job group. Spans stay in memory and are written out at exit. When
  * tracing is off `span` only runs the body: no tags, no listener. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String, Long)] = Nil
  private var nextId = 0
  @volatile var currentOp = -1

  private val listener = new LayerListener
  if (enabled) sc.addSparkListener(listener)

  def span[A](layer: String, name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, layer, System.nanoTime()) :: stack
      sc.setLocalProperty(Tracer.SpanKey, s"$layer#$id")
      try body
      finally {
        val (_, _, t0) = stack.head
        stack = stack.tail
        spans += Span(id, layer, name, t0, System.nanoTime(), parent, currentOp)
        sc.setLocalProperty(Tracer.SpanKey, stack.headOption.map { case (pid, pl, _) => s"$pl#$pid" }.orNull)
      }
    }

  /** Block until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) BusDrain(sc)

  /** Stop counting: the listener has seen every event posted so far, and
    * later work (the end-state checks) is not charged to any layer. */
  def stop(): Unit = if (enabled) { BusDrain(sc); sc.removeSparkListener(listener) }

  def layer(name: String): LayerStats = listener.stats.getOrElse(name, new LayerStats)
  def allTaskCpuMs: Double = listener.stats.values.map(_.taskCpuMs).sum
  def failedTasks: Long = listener.stats.values.map(_.failedTasks).sum
  def callbackMs: Double = listener.callbackNs / 1e6

  def sumMs(layer: String, name: String, all: Boolean = false): Double =
    (if (all) setupSpans.iterator ++ spans.iterator else spans.iterator)
      .filter(s => s.layer == layer && s.name == name).map(_.ms).sum
  def count(layer: String, name: String, all: Boolean = false): Int =
    (if (all) setupSpans.iterator ++ spans.iterator else spans.iterator)
      .count(s => s.layer == layer && s.name == name)

  /** Every span as one JSON object a line, with its self time (its
    * duration minus its children's). */
  def json: String = {
    val all = setupSpans ++ spans
    val child = all.groupBy(_.parent).view.mapValues(_.map(_.ms).sum).toMap
    all.map(s =>
      s"""{"id":${s.id},"layer":"${s.layer}","name":"${s.name}","start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"self_ms":${s.ms - child.getOrElse(s.id, 0.0)},""" +
        s""""parent":${s.parent},"op":${s.op}}""").mkString("", "\n", "\n")
  }

  /** Set-up spans, kept apart so the timed phase's counters start at zero. */
  val setupSpans = mutable.ArrayBuffer.empty[Span]

  def reset(): Unit = {
    drain()
    setupSpans ++= spans; spans.clear()
    listener.stats.clear(); listener.callbackNs = 0L
  }
}

object Tracer {
  /** The local property that tags a job with its span, `layer#id`. */
  val SpanKey = "graft.perfbench.span"
}

private final class LayerListener extends SparkListener {
  val stats = mutable.HashMap.empty[String, LayerStats]
  private val stageLayer = mutable.HashMap.empty[Int, String]
  var callbackNs = 0L

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime(); f; callbackNs += System.nanoTime() - t0
  }
  private def of(layer: String) = stats.getOrElseUpdate(layer, new LayerStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
    val layer = tag.map(_.takeWhile(_ != '#')).getOrElse("other")
    of(layer).jobs += 1
    e.stageIds.foreach(stageLayer(_) = layer)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
    of(stageLayer.getOrElse(e.stageInfo.stageId, "other")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val s = of(stageLayer.getOrElse(e.stageId, "other"))
    s.tasks += 1
    if (!e.taskInfo.successful) s.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.taskCpuMs += m.executorCpuTime / 1e6
      s.taskRunMs += m.executorRunTime
      // the scheduler delay the Spark UI shows: task wall not spent
      // deserializing, running, serializing or shipping the result
      s.schedDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        (if (e.taskInfo.gettingResult) e.taskInfo.finishTime - e.taskInfo.gettingResultTime
         else 0L))
      s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

/** Process-wide runtime counters, read before and after the timed phase. */
final case class JvmStats(cpuNs: Long, gcMs: Long, jitMs: Long,
                         codegenCount: Long, codegenMeanMs: Double) {
  def -(o: JvmStats): JvmStats =
    JvmStats(cpuNs - o.cpuNs, gcMs - o.gcMs, jitMs - o.jitMs,
      codegenCount - o.codegenCount, codegenMeanMs)
}

object JvmStats {
  import scala.jdk.CollectionConverters._
  def now(): JvmStats = {
    val cpu = ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
      case _ => 0L
    }
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
    val jit = Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime).getOrElse(0L)
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    JvmStats(cpu, gc, jit, h.getCount, h.getSnapshot.getMean)
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  /** Memory the program holds, in MB: its peak native resident memory
    * (VmHWM less the heap, which is fixed and pre-touched, so always
    * resident in full) plus the heap still live at the end of the run.
    * Peak heap usage is left out: with a fixed heap, G1 lets garbage fill
    * the pools up to its own thresholds. */
  def memInUseMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def collect(): Long = { System.gc(); mem.getHeapMemoryUsage.getUsed }
    // Spark's ContextCleaner frees broadcast and shuffle state only after a
    // GC has found its handle unreachable, and freeing it can make more
    // unreachable: collect until the live heap stops shrinking
    val live = mutable.ArrayBuffer(collect())
    while (live.size < 6 && (live.size == 1 || live(live.size - 2) - live.last > (1L << 20))) {
      Thread.sleep(500)
      live += collect()
    }
    val mb = 1048576.0
    val heap = mem.getHeapMemoryUsage.getCommitted / mb
    val rss = peakRssMb()
    System.err.println(f"[perfbench] VmHWM $rss%.1f MB, heap $heap%.1f MB, live heap after full GCs " +
      live.map(b => f"${b / mb}%.1f").mkString(", ") + " MB")
    rss - heap + live.last / mb
  }

  /** JVM start to now, in seconds — the benchmark's set-up clock. */
  def sinceJvmStartS(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
}
