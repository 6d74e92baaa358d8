package storebench

import java.util.UUID

import scala.util.Random

import com.fasterxml.jackson.databind.node.{JsonNodeFactory, ObjectNode}
import org.apache.spark.sql.Row

/** One vehicle observation, with every value already on the stored grid:
  * float32-exact `distance` and coordinates, `direction` in {1,2},
  * `distanceFromPoint` in [0,65535]. */
final case class Obs(
    uuid: String, id: Int, color: String, direction: Int, distance: Float,
    distanceFromPoint: Int, lineId: String, pointId: Int, lon: Double, lat: Double)

/** One snapshot: the active fleet at one tick, features in arrival order. */
final case class Snapshot(tick: Long, micros: Long, features: IndexedSeq[Obs]) {
  def ts: java.sql.Timestamp = new java.sql.Timestamp(micros / 1000L)
}

/** Seeded model of a bus/tram fleet shaped like STIB's vehicle-position
  * feed. Snapshots are 20 s apart (one tick); every quantity is a closed
  * form of (seed, vehicle, tick), so any tick can be generated on its own
  * and the expected documents and trajectories come from this model, never
  * from the program under test.
  *
  * Each line is a polyline of stops around Brussels; each vehicle keeps a
  * stable uuid and vehicle id, shuttles along its line there and back
  * (direction 1 out, 2 back) at a constant speed, and is in service during
  * a periodic shift, so vehicles enter and leave the fleet. */
final class Fleet(seed: Long, vehicles: Int = 200, lines: Int = 20) {
  import Fleet._

  private val rnd = new Random(seed)

  /** Tick 0: midnight UTC of a seeded day in 2024. */
  val t0Micros: Long =
    (java.time.LocalDate.of(2024, 1, 1).toEpochDay + rnd.nextInt(300)) * 86400L * 1000000L

  def micros(tick: Long): Long = t0Micros + tick * TickMicros

  private final class Line(val id: String, val color: String, val stopIds: Array[Int],
      val lon: Array[Double], val lat: Array[Double], val cum: Array[Double]) {
    def length: Double = cum.last
  }

  private val lineTable: IndexedSeq[Line] =
    rnd.shuffle(LineIds).take(lines).zipWithIndex.map { case (id, li) =>
      val n = 12 + rnd.nextInt(19)
      val lon = new Array[Double](n); val lat = new Array[Double](n)
      val cum = new Array[Double](n)
      lon(0) = 4.25 + rnd.nextDouble() * 0.2; lat(0) = 50.78 + rnd.nextDouble() * 0.12
      var heading = rnd.nextDouble() * 2 * math.Pi
      for (i <- 1 until n) {
        heading += (rnd.nextDouble() - 0.5) * 0.8
        val step = 300.0 + rnd.nextDouble() * 400.0 // metres
        lon(i) = lon(i - 1) + step * math.cos(heading) / MetresPerDegLon
        lat(i) = lat(i - 1) + step * math.sin(heading) / MetresPerDegLat
        cum(i) = cum(i - 1) + step
      }
      val color = f"#${rnd.nextInt(0x1000000)}%06X"
      new Line(id, color, Array.tabulate(n)(i => (li + 1) * 100 + i), lon, lat, cum)
    }

  private final case class Vehicle(uuid: String, id: Int, line: Int, speed: Double,
      phase: Double, shiftPeriod: Int, shiftOn: Int, shiftOffset: Int)

  private val fleet: IndexedSeq[Vehicle] = {
    val ids = rnd.shuffle((1000 until 10000).toVector).take(vehicles)
    ids.map { id =>
      val period = 540 + rnd.nextInt(900) // 3 h .. 8 h in ticks
      Vehicle(new UUID(rnd.nextLong(), rnd.nextLong()).toString, id, rnd.nextInt(lines),
        speed = 4.0 + rnd.nextInt(9), phase = rnd.nextDouble() * 1e5,
        shiftPeriod = period, shiftOn = period * 3 / 4, shiftOffset = rnd.nextInt(period))
    }
  }

  private def active(v: Vehicle, tick: Long): Boolean =
    Math.floorMod(tick + v.shiftOffset, v.shiftPeriod.toLong) < v.shiftOn

  private def observe(v: Vehicle, tick: Long): Obs = {
    val line = lineTable(v.line)
    val len = line.length
    val p = (v.phase + v.speed * 20.0 * tick) % (2 * len)
    val (direction, s) = if (p < len) (1, p) else (2, 2 * len - p)
    var i = 0
    while (i < line.cum.length - 2 && line.cum(i + 1) <= s) i += 1
    val seg = line.cum(i + 1) - line.cum(i)
    val f = (s - line.cum(i)) / seg
    // the stop last passed, and the distance travelled since it
    val (stop, d) = if (direction == 1) (i, s - line.cum(i)) else (i + 1, line.cum(i + 1) - s)
    Obs(v.uuid, v.id, line.color, direction,
      distance = (math.round(d * 4) / 4.0).toFloat,
      distanceFromPoint = math.min(65535L, math.round(d)).toInt,
      lineId = line.id, pointId = line.stopIds(stop),
      lon = grid(line.lon(i) + f * (line.lon(i + 1) - line.lon(i))),
      lat = grid(line.lat(i) + f * (line.lat(i + 1) - line.lat(i))))
  }

  /** The snapshot at `tick`: the vehicles in service, in a seeded arrival
    * order (not id order). */
  def snapshot(tick: Long): Snapshot = {
    val obs = fleet.filter(active(_, tick)).map(observe(_, tick))
    Snapshot(tick, micros(tick), new Random(seed * 1000003L + tick).shuffle(obs))
  }
}

object Fleet {
  val TickMicros: Long = 20L * 1000000L
  val TicksPerHour: Int = 180
  private val MetresPerDegLat = 111320.0
  private val MetresPerDegLon = 111320.0 * math.cos(math.toRadians(50.85))

  private val LineIds: Vector[String] = Vector("1", "2", "3", "4", "5", "6", "7", "8",
    "9", "12", "13", "14", "17", "19", "20", "21", "25", "27", "28", "29", "33", "34",
    "36", "37", "38", "39", "41", "42", "43", "44", "45", "46", "47", "48", "49", "50",
    "51", "53", "54", "55", "56", "57", "58", "59", "60", "61", "62", "63", "64", "65",
    "66", "69", "70", "71", "72", "73", "74", "75", "76", "77", "78", "79", "80", "81",
    "82", "83", "86", "87", "88", "89", "90", "92", "93", "95", "97", "98")

  /** Snap a coordinate to a 2^-16 degree grid: with |x| < 64 that needs at
    * most 22 significant bits, so the value is exact in float32. */
  def grid(x: Double): Double = {
    val g = math.round(x * 65536.0) / 65536.0
    require(g.toFloat.toDouble == g, s"coordinate $g is not float32-exact")
    g
  }

  private val nodes = JsonNodeFactory.instance

  /** The GeoJSON FeatureCollection the store must hand back for `s`. */
  def document(s: Snapshot): ObjectNode = {
    val doc = nodes.objectNode().put("type", "FeatureCollection")
    val features = doc.putArray("features")
    s.features.foreach { o =>
      val f = features.addObject().put("type", "Feature").put("id", o.uuid)
      f.putObject("properties")
        .put("uuid", o.uuid).put("id", o.id).put("color", o.color)
        .put("direction", o.direction).put("distance", o.distance)
        .put("distanceFromPoint", o.distanceFromPoint).put("lineId", o.lineId)
        .put("pointId", o.pointId)
      val g = f.putObject("geometry").put("type", "Point")
      g.putArray("coordinates").add(o.lon).add(o.lat)
    }
    doc
  }

  /** The snapshot as one row of (ts, features: array<Schemas.feature>). */
  def row(s: Snapshot): Row = Row(s.ts, s.features.map { o =>
    Row("Feature", o.uuid,
      Row(o.uuid, o.id, o.color, o.direction, o.distance, o.distanceFromPoint, o.lineId,
        o.pointId),
      Row("Point", Seq(o.lon, o.lat)))
  })
}
