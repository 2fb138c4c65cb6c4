package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into the program: name (`layer.what`), wall interval,
  * parent span and the pass (run id) it belongs to.
  */
final case class Span(id: Long, name: String, parent: Long, runId: String,
                      startNs: Long, endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Scheduler and executor counters attributed to one span. */
final class SpanCounters {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var schedDelayMs = 0L
  /** `PlanMetrics.collect` summed over the span's finished SQL executions. */
  val plan = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
  val taskMs = scala.collection.mutable.ArrayBuffer.empty[Long]
}

/** Records spans around the benchmark's calls into the program and, through
  * its own [[SparkListener]], attributes every job, stage and task to the
  * span whose id was the calling thread's `perfbench.span` local property
  * when the job was submitted. Disabled, it is a pass-through: no property
  * is set, no span is kept, and the listener is never registered.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer.Prop

  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val counters = new ConcurrentHashMap[Long, SpanCounters]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val execSpan = new ConcurrentHashMap[Long, Long]()
  @volatile var runId: String = "setup"
  /** Spans are recorded only while active (traced passes alternate with
    * untraced ones, which measure the tracing overhead).
    */
  @volatile var active: Boolean = enabled

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .map(_.toLong).getOrElse(0L)
      e.stageIds.foreach(stageSpan.put(_, span))
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(x => execSpan.putIfAbsent(x.toLong, span))
      val c = counters.computeIfAbsent(span, _ => new SpanCounters)
      c.synchronized { c.jobs += 1 }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
        val span: Long = execSpan.getOrDefault(end.executionId, 0L)
        execSpan.remove(end.executionId)
        if (span != 0L)
          org.apache.spark.sql.perfbench.SqlEvents.queryExecution(end).foreach { qe =>
            val m = graft.PlanMetrics.collect(qe)
            val c = counters.computeIfAbsent(span, _ => new SpanCounters)
            c.synchronized { m.foreach { case (k, v) => c.plan(k) += v } }
          }
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val span: Long = stageSpan.getOrDefault(e.stageId, 0L)
      val c = counters.computeIfAbsent(span, _ => new SpanCounters)
      val m = e.taskMetrics
      val info = e.taskInfo
      c.synchronized {
        c.tasks += 1
        c.taskMs += info.duration
        if (m != null) {
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            info.gettingResultTime)
        }
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Time `body` as span `name`, child of the calling thread's current span. */
  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val id = ids.incrementAndGet()
      val prev = sc.getLocalProperty(Prop)
      val parent = Option(prev).map(_.toLong).getOrElse(0L)
      sc.setLocalProperty(Prop, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, name, parent, runId, t0, System.nanoTime()))
        sc.setLocalProperty(Prop, prev)
      }
    }

  /** Spans of one pass, after the listener bus has delivered its events. */
  def spansOf(run: String): Seq[Span] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    spans.asScala.filter(_.runId == run).toSeq.sortBy(_.startNs)
  }

  def countersOf(span: Long): Option[SpanCounters] = Option(counters.get(span))

  /** Spans are written out once, when the run ends. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.asScala.toSeq.sortBy(_.startNs).map { s =>
      Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "run" -> s.runId, "start_ns" -> s.startNs, "end_ns" -> s.endNs)
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val Prop = "perfbench.span"
}

/** Per-pass layer breakdown built from one pass's spans. */
object Layers {

  /** Self time per layer: a span's wall time minus the union of its
    * children's intervals (children of one parent may overlap).
    */
  def selfSeconds(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs)))
      s.layer -> math.max(0.0, (s.endNs - s.startNs - covered) / 1e9)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Total length of the union of intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** `spark.<layer>.*` counters summed over the layer's spans. */
  def sparkCounters(tr: Tracer, spans: Seq[Span], layer: String,
                    cores: Int): Map[String, Double] = {
    val ls = spans.filter(_.layer == layer)
    val cs = ls.flatMap(s => tr.countersOf(s.id))
    val taskMs = cs.flatMap(_.taskMs).sorted
    val median = if (taskMs.isEmpty) 0L else taskMs(taskMs.size / 2)
    val wall = union(ls.map(s => (s.startNs, s.endNs))) / 1e9
    val runS = cs.map(_.runMs).sum / 1e3
    val p = s"spark.$layer"
    Map(
      s"$p.jobs" -> cs.map(_.jobs).sum.toDouble,
      s"$p.tasks" -> cs.map(_.tasks).sum.toDouble,
      s"$p.run_s" -> runS,
      s"$p.cpu_s" -> cs.map(_.cpuNs).sum / 1e9,
      s"$p.gc_s" -> cs.map(_.gcMs).sum / 1e3,
      s"$p.shuffle_write_mb" -> cs.map(_.shuffleWriteBytes).sum / 1e6,
      s"$p.spill_mb" -> cs.map(_.spillBytes).sum / 1e6,
      s"$p.sched_delay_s" -> cs.map(_.schedDelayMs).sum / 1e3,
      s"$p.task_skew" -> (if (median > 0) taskMs.last.toDouble / median else 0.0),
      s"$p.core_util" -> (if (wall > 0) runS / (wall * cores) else 0.0))
  }
}
