package storebench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** A span: one call into a layer, or a whole operation (parent -1). */
final case class Span(id: Int, parent: Int, op: Long, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark work counted per (operation, phase). The phase travels with each
  * job as a local property, so counts need no timing heuristics. */
final class PhaseCounts extends SparkListener {
  val Key = "storebench.phase"
  final class Counts { var jobs = 0L; var tasks = 0L; var shuffleBytes = 0L }
  private val counts = mutable.Map.empty[String, Counts]
  private val stagePhase = mutable.Map.empty[Int, String]

  private def of(phase: String) = counts.getOrElseUpdate(phase, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val phase = Option(e.properties).flatMap(p => Option(p.getProperty(Key))).getOrElse("none")
    of(phase).jobs += 1
    e.stageIds.foreach(stagePhase(_) = phase)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stagePhase.getOrElse(e.stageId, "none"))
    c.tasks += 1
    Option(e.taskMetrics).foreach(m => c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten)
  }

  /** Counts since the last take, then reset. */
  def take(): Map[String, (Long, Long, Long)] = synchronized {
    val r = counts.map { case (k, c) => k -> ((c.jobs, c.tasks, c.shuffleBytes)) }.toMap
    counts.clear(); r
  }
}

/** In-memory trace of one run: spans around the calls into each layer,
  * plus per-operation samples of the per-layer metrics. Written out when
  * the run ends. A disabled tracer records nothing and costs one branch. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  /** Per-operation samples, by metric: (operation, value). */
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(Long, Double)]]
  /** Per-operation factor to the reference machine speed (see Calibration). */
  private val scales = mutable.Map.empty[Long, Double].withDefaultValue(1.0)
  private val listener = new PhaseCounts
  if (enabled) sc.addSparkListener(listener)

  private var opId = 0L
  private var opSpan = -1
  private var opStart = 0L

  def begin(): Unit = if (enabled) {
    settle(); opId += 1; opStart = System.nanoTime()
    opSpan = spans.length
    spans += Span(opSpan, -1, opId, "op", opStart, opStart)
  }

  def end(name: String): Unit = if (enabled) {
    val s = spans(opSpan)
    spans(opSpan) = s.copy(name = name, endNs = System.nanoTime())
  }

  /** Run `body` as the phase `name` of the current operation. */
  def phase[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      sc.setLocalProperty(listener.Key, name)
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(spans.length, opSpan, opId, name, t0, System.nanoTime())
        sc.setLocalProperty(listener.Key, null)
      }
    }

  /** Forget the warm-up: keep only what the measured operations record. */
  def clear(): Unit = { spans.clear(); samples.clear(); scales.clear() }

  def sample(name: String, v: Double): Unit =
    if (enabled) samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ((opId, v))

  /** Times of the current operation count `f` times their measured value. */
  def scale(f: Double): Unit = if (enabled) scales(opId) = f

  /** Wait for the listener bus, then drop the counts of untraced work. */
  private def settle(): Unit = { org.apache.spark.storebenchbus.drain(sc); listener.take(); () }

  /** Counts of the current operation by phase: (jobs, tasks, shuffle bytes). */
  def counts(): Map[String, (Long, Long, Long)] = {
    org.apache.spark.storebenchbus.drain(sc); listener.take()
  }

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Self time of every span at reference speed: its duration less what
    * its children cover. */
  def selfMs: Seq[(Span, Double)] = {
    val kids = spans.groupBy(_.parent)
    spans.toSeq.map(s => s -> (s.ms - kids.getOrElse(s.id, Nil).map(_.ms).sum) * scales(s.op))
  }

  /** Median of each sampled metric over the operations; times at reference speed. */
  def medians: Map[String, Double] = samples.map { case (k, v) =>
    k -> Stats.median(v.toSeq.map { case (op, x) => if (k.endsWith("_ms")) x * scales(op) else x })
  }.toMap

  def write(file: java.io.File): Unit = {
    file.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try selfMs.foreach { case (s, self) =>
      w.println(f"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        f""""start_ns":${s.startNs},"end_ns":${s.endNs},"scale":${scales(s.op)}%.4f,""" +
        f""""self_ms":$self%.4f}""")
    } finally w.close()
  }
}

/** Metrics of the file scans in an executed plan, adaptive stages included. */
object ScanMetrics extends AdaptiveSparkPlanHelper {
  def apply(df: DataFrame, metric: String): Long = {
    val plan: SparkPlan = df.queryExecution.executedPlan
    collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
      .flatMap(_.metrics.get(metric)).map(_.value).sum
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolation quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    if (lo + 1 >= s.length) s(lo) else s(lo) + (pos - lo) * (s(lo + 1) - s(lo))
  }
}
