package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The one SparkListener of the graft mains: per-stage census of the
  * work a block of code ran.
  *
  *  - shuffle bytes: shuffle read plus shuffle write bytes over all tasks;
  *  - serial wall: wall ms of stages that ran with ≤2 tasks for ≥200 ms —
  *    the signature of AQE's byte-sized coalescing folding a CPU-dense,
  *    byte-light exchange onto one or two partitions;
  *  - one line per completed stage: tasks, wall, task-time sum and max.
  *
  * Events reach a listener asynchronously; [[measure]] drains the
  * listener bus on both sides of its block, so what it reports is
  * exactly the stages that completed inside it. */
final class StageCensus private (spark: SparkSession) extends SparkListener {
  import StageCensus._

  private val shuffleBytes = new AtomicLong(0L)
  private val serialMs = new AtomicLong(0L)
  // per running stage: (task-time sum, task-time max) in ms
  private val taskTime = new ConcurrentHashMap[Int, (Long, Long)]()
  private val stageLines = new ConcurrentLinkedQueue[String]()
  // stage lines are kept only inside a measure block
  @volatile private var recording = false

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    if (m != null)
      shuffleBytes.addAndGet(
        m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
    val d = t.taskInfo.duration
    taskTime.merge(t.stageId, (d, d), (a, b) => (a._1 + b._1, math.max(a._2, b._2)))
    ()
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    val si = s.stageInfo
    val wall = (for { sub <- si.submissionTime; c <- si.completionTime }
      yield c - sub).getOrElse(0L)
    val serial = si.numTasks <= 2 && wall >= 200L
    if (serial) serialMs.addAndGet(wall)
    val (sum, max) = Option(taskTime.remove(si.stageId)).getOrElse((0L, 0L))
    if (recording)
      stageLines.add(f"stage=${si.stageId}%4d tasks=${si.numTasks}%3d wall=$wall%6dms " +
        f"taskSum=$sum%6dms taskMax=$max%6dms name=${si.name.take(60)}" +
        (if (serial) "  <== SERIAL" else ""))
    ()
  }

  private def drain(): Unit = org.apache.spark.graftbus.drain(spark.sparkContext)

  /** Runs `fn` and returns its result with the census of the stages that
    * completed while it ran. */
  def measure[A](fn: => A): (A, Window) = {
    drain()
    stageLines.clear()
    val (shuffle0, serial0) = (shuffleBytes.get(), serialMs.get())
    recording = true
    val result = try fn finally {
      drain()
      recording = false
    }
    val lines = Iterator.continually(stageLines.poll()).takeWhile(_ != null).toSeq
    (result, Window(shuffleBytes.get() - shuffle0, serialMs.get() - serial0, lines))
  }
}

object StageCensus {

  /** What one [[StageCensus.measure]] block ran. */
  final case class Window(shuffleBytes: Long, serialMs: Long, stages: Seq[String])

  /** Registers a new census on the session's SparkContext. */
  def install(spark: SparkSession): StageCensus = {
    val census = new StageCensus(spark)
    spark.sparkContext.addSparkListener(census)
    census
  }
}
