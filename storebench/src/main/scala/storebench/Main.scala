package storebench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.Schemas
import graft.operators.{Flatten, Trajectory}
import graft.store.SnapshotStore

/** A workload: one store layout, an optional preloaded history, and the
  * operations of one round. A run repeats whole rounds until its time is
  * up, in a closed loop with one client.
  *
  * @param historyHours hours preloaded in one bulk write, one snapshot
  *                     every `historyCadence` ticks (0 = a fresh store)
  * @param firstTick    tick of the first put
  * @param trajTicks    length of a traj's time window, in ticks
  * @param warmRounds   untimed rounds on a throwaway store of the same shape
  */
final case class Workload(
    name: String, delta: Boolean, historyHours: Int, historyCadence: Int,
    firstTick: Long, puts: Int, gets: Int, trajs: Int, trajTicks: Int, warmRounds: Int)

object Workload {
  private val H = Fleet.TicksPerHour
  val all: Seq[Workload] = Seq(
    // puts start 10 snapshots before an hour boundary: one or two partitions
    Workload("paper_parquet", delta = false, 0, 0, firstTick = 9L * H - 10,
      puts = 2, gets = 2, trajs = 2, trajTicks = H, warmRounds = 2),
    Workload("paper_graftdelta", delta = true, 0, 0, firstTick = 9L * H - 10,
      puts = 2, gets = 2, trajs = 2, trajTicks = H, warmRounds = 2),
    // 64 hours at one snapshot per 30 min (past the 32 paths at which Spark
    // lists partitions with a parallel job); appends go to the newest hour
    Workload("history_parquet", delta = false, historyHours = 64, historyCadence = 90,
      firstTick = 64L * H - 90 + 1, puts = 2, gets = 1, trajs = 1, trajTicks = 24 * H,
      warmRounds = 1))
}

object Main {
  val Props = Seq("uuid", "id", "color", "direction", "distance",
    "distanceFromPoint", "lineId", "pointId")
  val DocSchema = StructType(Seq(
    StructField("ts", TimestampType), StructField("features", ArrayType(Schemas.feature, false))))
  /** Store set-up (reset + preload) is repeated this many times; setup_s
    * takes the median. */
  val SetupRepeats = 3
  /** The size metric reads a store holding this many put snapshots (beyond
    * any preload), however many the timed rounds managed: the store's
    * make-up, not the machine's pace, sets bytes_per_input_byte. */
  val SizedPuts = 12

  final case class Conf(workload: Workload, seed: Long, seconds: Int, trace: Boolean,
      corrupt: Boolean, work: File, traceOut: File)

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val conf = Conf(
      Workload.all.find(_.name == need("workload"))
        .getOrElse(sys.error(s"unknown workload ${need("workload")}")),
      need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      opts.get("corrupt-expected").contains("1"), new File(need("work")).getAbsoluteFile,
      new File(need("trace-out")).getAbsoluteFile)
    System.exit(new Run(conf).run())
  }
}

/** One run of one workload. */
final class Run(conf: Main.Conf) {
  import Main._
  private val w = conf.workload
  private val storeRoot = new File(conf.work, "graftstore")
  private val slots = math.min(4, Runtime.getRuntime.availableProcessors)

  private val spark = SparkSession.builder()
    .master(s"local[$slots]")
    .appName("storebench")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", slots.toString)
    .config("spark.local.dir", new File(conf.work, "spark-local").getPath)
    .config("spark.sql.warehouse.dir", new File(conf.work, "warehouse").getPath)
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
  private val tracer = new Tracer(conf.trace, spark.sparkContext)
  private val fleet = new Fleet(conf.seed)
  private val rnd = new scala.util.Random(conf.seed ^ 0x5DEECE66DL)

  private def layout(name: String): Layout = {
    val p = new File(storeRoot, name).getPath
    if (w.delta) new DeltaLayout(spark, p) else new ParquetLayout(spark, p)
  }

  /** The snapshots a store holds, by tick: the model the checks use. */
  private final class Model(val store: Layout) {
    val stored = mutable.TreeMap.empty[Long, Snapshot]
    var nextTick: Long = w.firstTick
  }

  private val times = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val attempted = mutable.Map.empty[String, Int].withDefaultValue(0)
  private val failed = mutable.Map.empty[String, Int].withDefaultValue(0)
  /** Set once the measured rounds start: the next expected document is then
    * altered, to show that the check catches a wrong answer. */
  private var corruptPending = false
  /** Calibration times taken during set-up, and during the measured rounds. */
  private val setupCalibs, runCalibs = mutable.ArrayBuffer.empty[Double]

  private def frame(snaps: Seq[Snapshot]): DataFrame = {
    import scala.jdk.CollectionConverters._
    Flatten.flatten(spark.createDataFrame(snaps.map(Fleet.row).asJava, DocSchema), "ts")
  }

  /** Reset the store and bulk-load the workload's history. */
  private def preload(m: Model): Unit = {
    m.store.reset(); m.stored.clear()
    if (w.historyHours > 0) {
      val snaps = (0L until w.historyHours.toLong * Fleet.TicksPerHour by w.historyCadence.toLong)
        .map(fleet.snapshot)
      m.store.append(frame(snaps))
      snaps.foreach(s => m.stored(s.tick) = s)
    }
  }

  // ---- the three operations; each returns its time and a check result ----

  private def mean(xs: Iterable[Double]): Double = xs.sum / xs.size

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
  }

  private def put(m: Model): (Double, Option[String]) = {
    val snap = fleet.snapshot(m.nextTick)
    val filesBefore = if (tracer.enabled) m.store.dataFiles.size else 0
    val gc0 = if (tracer.enabled) tracer.gcMs else 0L
    tracer.begin()
    val ms = timed {
      val flat = tracer.phase("put.frame")(frame(Seq(snap)))
      tracer.phase("put.write")(m.store.append(flat))
    }
    tracer.end("put")
    m.stored(snap.tick) = snap
    m.nextTick += 1
    if (tracer.enabled) {
      val c = tracer.counts()
      tracer.sample("put.jobs", c.values.map(_._1).sum.toDouble)
      tracer.sample("put.files_added", (m.store.dataFiles.size - filesBefore).toDouble)
      tracer.sample("put.gc_ms", (tracer.gcMs - gc0).toDouble)
    }
    (ms, None)
  }

  private def get(m: Model): (Double, Option[String]) = {
    val snap = m.stored.valuesIterator.drop(rnd.nextInt(m.stored.size)).next()
    val gc0 = if (tracer.enabled) tracer.gcMs else 0L
    val commits = m.store match {
      case d: DeltaLayout if tracer.enabled => d.commitsToRead
      case _ => 0L
    }
    tracer.begin()
    var doc: DataFrame = null
    var rows: Array[org.apache.spark.sql.Row] = null
    val ms = timed {
      val flat = tracer.phase("get.construct")(
        m.store.scan(lit(snap.ts), lit(new java.sql.Timestamp(snap.ts.getTime + 1))))
      doc = tracer.phase("get.plan") {
        val d = Flatten.toGeoJson(Flatten.nest(flat, "ts", "feature_id", Props,
          "coordinates_0", "coordinates_1")).select("geojson")
        d.queryExecution.executedPlan
        d
      }
      rows = tracer.phase("get.exec")(doc.collect())
    }
    tracer.end("get")
    val expected = Fleet.document(snap)
    if (corruptPending) {
      corruptPending = false
      expected.withArray("features").get(0).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        .`with`("properties").put("distanceFromPoint", 65536)
    }
    val err =
      if (rows.length != 1) Some(s"get ${snap.ts}: ${rows.length} documents")
      else Check.document(rows(0).getString(0), expected).map(e => s"get ${snap.ts}: $e")
    if (tracer.enabled) {
      val c = tracer.counts()
      tracer.sample("get.construct_jobs", c.get("get.construct").map(_._1).getOrElse(0L).toDouble)
      tracer.sample("get.jobs", c.values.map(_._1).sum.toDouble)
      tracer.sample("get.tasks", c.values.map(_._2).sum.toDouble)
      tracer.sample("get.files_scanned", ScanMetrics(doc, "numFiles").toDouble)
      tracer.sample("get.gc_ms", (tracer.gcMs - gc0).toDouble)
      tracer.sample("get.rows_read_per_feature",
        ScanMetrics(doc, "numOutputRows").toDouble / math.max(1, snap.features.size))
      tracer.sample("log.commits_read_per_get", commits.toDouble)
    }
    (ms, err)
  }

  private def traj(m: Model): (Double, Option[String]) = {
    val ticks = m.stored.keysIterator.toIndexedSeq
    val lo = ticks(rnd.nextInt(ticks.size))
    val hi = lo + w.trajTicks
    tracer.begin()
    var t: DataFrame = null
    var rows: Array[org.apache.spark.sql.Row] = null
    val ms = timed {
      val flat = tracer.phase("traj.construct")(
        m.store.scan(lit(new java.sql.Timestamp(fleet.micros(lo) / 1000)),
          lit(new java.sql.Timestamp(fleet.micros(hi) / 1000))))
      t = tracer.phase("traj.plan") {
        val p = Trajectory.pivot(flat, "uuid", "ts", Seq("coordinates_0", "coordinates_1"))
        p.queryExecution.executedPlan
        p
      }
      rows = tracer.phase("traj.exec")(t.collect())
    }
    tracer.end("traj")
    val expected = Check.trajectories(m.stored.range(lo, hi).values)
    val err = Check.trajectories(rows, expected).map(e => s"traj [$lo, $hi): $e")
    if (tracer.enabled) {
      val c = tracer.counts()
      tracer.sample("traj.partitions_scanned", ScanMetrics(t, "numPartitions").toDouble)
      tracer.sample("traj.tasks", c.values.map(_._2).sum.toDouble)
      tracer.sample("traj.shuffle_bytes", c.values.map(_._3).sum.toDouble)
    }
    (ms, err)
  }

  private def round(m: Model, record: Boolean): Unit = {
    def op(kind: String, f: Model => (Double, Option[String])): Unit = {
      // time at the reference speed: scaled by the calibration around the op
      val c0 = Calibration.ms()
      val (measured, err) =
        try f(m)
        catch { case e: Exception => (0.0, Some(s"$kind threw ${e.getClass.getName}: ${e.getMessage}")) }
      val c1 = Calibration.ms()
      (if (record) runCalibs else setupCalibs) ++= Seq(c0, c1)
      val scale = 2 * Calibration.ReferenceMs / (c0 + c1)
      tracer.scale(scale)
      val ms = measured * scale
      err.foreach(e => System.err.println(s"storebench: FAILED $e"))
      if (record) {
        attempted(kind) += 1
        if (err.isDefined) failed(kind) += 1
        else times.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
      } else if (err.isDefined) sys.error(s"warm-up operation failed: ${err.get}")
    }
    (1 to w.puts).foreach(_ => op("put", put))
    (1 to w.gets).foreach(_ => op("get", get))
    (1 to w.trajs).foreach(_ => op("traj", traj))
  }

  /** The store's distinct timestamps must be exactly the snapshots stored. */
  private def checkTimestamps(m: Model): Option[String] = {
    val got = m.store.scan(lit(new java.sql.Timestamp(0L)),
        lit(java.sql.Timestamp.valueOf("9999-12-31 00:00:00")))
      .select(col("ts")).distinct().collect().map(_.getTimestamp(0).getTime * 1000L).toSet
    val want = m.stored.values.map(_.micros).toSet
    if (got == want) None
    else Some(s"store holds ${got.size} timestamps, ${(got diff want).size} unexpected, " +
      s"${(want diff got).size} missing")
  }

  def run(): Int = try {
    val uptime = ManagementFactory.getRuntimeMXBean
    (1 to 5).foreach(_ => Calibration.ms()) // compile the calibration loop
    val phases = mutable.ArrayBuffer("session" -> uptime.getUptime / 1e3)
    // Store set-up runs SetupRepeats times and setup_s takes the median.
    // The first set-up builds a throwaway store of the same shape, which
    // the untimed warm-up rounds then use; the last builds the measured one.
    def setup(m: Model): Double = {
      setupCalibs += Calibration.ms()
      timed(preload(m)) / 1e3
    }
    val warm = new Model(layout("warmup"))
    val setups = mutable.ArrayBuffer(setup(warm))
    (1 to w.warmRounds).foreach(_ => round(warm, record = false))
    SnapshotStore.deleteRecursively(new File(storeRoot, "warmup"))
    tracer.clear()
    phases += "warm-up" -> uptime.getUptime / 1e3
    val m = new Model(layout("store"))
    setups ++= (2 to SetupRepeats).map(_ => setup(m))
    val setupS = uptime.getUptime / 1e3 - setups.sum + Stats.median(setups.toSeq)
    phases += "store set-ups" -> uptime.getUptime / 1e3

    corruptPending = conf.corrupt
    // whole rounds only; no round starts that would, at the mean round time
    // so far, end past the deadline
    val start = System.nanoTime()
    val deadline = start + conf.seconds * 1000000000L
    var rounds = 0
    while (rounds == 0 || System.nanoTime() + (System.nanoTime() - start) / rounds <= deadline) {
      round(m, record = true); rounds += 1
    }
    phases += "rounds" -> uptime.getUptime / 1e3

    while (m.nextTick - w.firstTick < SizedPuts) {
      val snap = fleet.snapshot(m.nextTick)
      m.store.append(frame(Seq(snap)))
      m.stored(snap.tick) = snap
      m.nextTick += 1
    }
    val tsErr = checkTimestamps(m)
    tsErr.foreach(e => System.err.println(s"storebench: FAILED store check: $e"))
    attempted("store_check") += 1
    if (tsErr.isDefined) failed("store_check") += 1

    val inputBytes = m.stored.values.iterator
      .map(s => Check.mapper.writeValueAsBytes(Fleet.document(s)).length.toLong).sum
    val sizeBytes = m.store.sizeBytes
    val dataFiles = m.store.dataFiles
    phases += "checks" -> uptime.getUptime / 1e3
    System.err.println("storebench: JVM uptime at the end of each phase: " +
      phases.map { case (k, t) => f"$k $t%.1f s" }.mkString(", "))

    // times are reported at the reference machine speed (see Calibration)
    val setupScale = Calibration.ReferenceMs / mean(setupCalibs)
    def p50(kind: String) =
      times.get(kind).filter(_.nonEmpty).map(v => Stats.median(v.toSeq))
        .getOrElse(Double.NaN)

    val nAttempted = attempted.values.sum
    val nFailed = failed.values.sum
    val counts = attempted.toSeq.sorted.map { case (k, n) => s"$k=$n/${failed(k)}" }.mkString(" ")
    System.err.println(s"storebench: ${w.name} seed=${conf.seed} rounds=$rounds " +
      s"attempted/failed: $counts; ${m.stored.size} snapshots stored, " +
      f"${m.stored.values.map(_.features.size).sum.toDouble / m.stored.size}%.1f features each")
    System.err.println(f"storebench: setup_s as measured ${setupS}%.2f (store set-ups " +
      setups.map(x => f"$x%.2f").mkString(" ") + f" s); calibration ${mean(setupCalibs)}%.2f ms " +
      f"in set-up, ${mean(runCalibs)}%.2f ms in the run")
    times.toSeq.sortBy(_._1).foreach { case (k, v) =>
      System.err.println(f"storebench:   $k n=${v.size} at reference speed p10=" +
        f"${Stats.quantile(v.toSeq, 0.1)}%.1f p50=${p50(k)}%.1f p90=${Stats.quantile(v.toSeq, 0.9)}%.1f ms")
    }

    val metrics: Seq[(String, Double, String)] =
      if (!conf.trace) Seq(
        ("setup_s", setupS * setupScale, "s"),
        ("put_p50_ms", p50("put"), "ms"),
        ("get_p50_ms", p50("get"), "ms"),
        ("traj_p50_ms", p50("traj"), "ms"),
        ("bytes_per_input_byte", sizeBytes.toDouble / inputBytes, "B/B"))
      else {
        val med = tracer.medians
        val self = tracer.selfMs.filter(_._1.parent >= 0).groupBy(_._1.name)
          .map { case (k, v) => k -> Stats.median(v.map(_._2)) }
        val spanMs = Seq("put.frame", "put.write", "get.construct", "get.plan", "get.exec",
          "traj.construct", "traj.plan", "traj.exec").map(k => (s"${k}_ms", self(k), "ms"))
        val counted = Seq("put.jobs", "put.files_added", "put.gc_ms", "get.construct_jobs",
          "get.jobs", "get.tasks", "get.files_scanned", "get.gc_ms",
          "get.rows_read_per_feature", "traj.partitions_scanned", "traj.tasks",
          "traj.shuffle_bytes", "log.commits_read_per_get")
          .map(k => (k, med(k),
            if (k.endsWith("_ms")) "ms" else if (k.endsWith("bytes")) "bytes" else "count"))
        val store = Seq(
          ("store.files", dataFiles.size.toDouble, "count"),
          ("store.partitions", dataFiles.map(_.getParentFile).distinct.size.toDouble, "count"),
          ("store.bytes", sizeBytes.toDouble, "bytes"))
        tracer.write(conf.traceOut)
        (spanMs ++ counted ++ store).sortBy(_._1)
      }
    val body = metrics.map { case (k, v, u) => s""""$k": {"value": $v, "unit": "$u"}""" }
      .mkString(", ")
    println(s"""{"correct": ${nFailed == 0}, "attempted": $nAttempted, "failed": $nFailed, """ +
      s""""metrics": {$body}}""")
    if (nFailed == 0) 0 else 1
  } finally {
    spark.stop()
    SnapshotStore.deleteRecursively(conf.work)
  }
}
