package storebench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.Row

/** Output checks made apart from the program: documents are compared as
  * Jackson trees against the generator's model, trajectories against the
  * model's observations. Each check returns None when the output is right,
  * or a description of the first difference. */
object Check {
  val mapper = new ObjectMapper()

  /** A get's GeoJSON text against the expected FeatureCollection. Features
    * are matched by `id`: `Flatten.nest` returns them in id order, while
    * the document was written in arrival order. */
  def document(actualJson: String, expected: JsonNode): Option[String] = {
    val actual = mapper.readTree(actualJson)
    def byId(doc: JsonNode, side: String): Either[String, Map[String, JsonNode]] = {
      val fs = doc.path("features")
      if (!fs.isArray) Left(s"$side has no features array")
      else {
        val m = fs.elements().asScala.map(f => f.path("id").asText() -> f).toMap
        if (m.size != fs.size) Left(s"$side repeats a feature id") else Right(m)
      }
    }
    val fields = actual.fieldNames().asScala.toSet
    if (fields != expected.fieldNames().asScala.toSet) Some(s"top-level fields $fields")
    else if (!same(actual.path("type"), expected.path("type"), ""))
      Some(s"type ${actual.path("type")}")
    else (byId(actual, "actual"), byId(expected, "expected")) match {
      case (Left(e), _) => Some(e)
      case (_, Left(e)) => Some(e)
      case (Right(a), Right(e)) =>
        if (a.keySet != e.keySet)
          Some(s"feature ids differ: ${(a.keySet diff e.keySet).size} extra, " +
            s"${(e.keySet diff a.keySet).size} missing")
        else e.collectFirst { case (id, ef) if !same(a(id), ef, "") =>
          s"feature $id: got ${a(id)}, want $ef"
        }
    }
  }

  /** Structural equality. Numbers compare by value; a float32 field (the
    * expected node is a FloatNode) compares in float32, since the engine
    * renders a float in its shortest float form. */
  private def same(a: JsonNode, e: JsonNode, field: String): Boolean =
    if (e.isObject)
      a.isObject && a.size == e.size && e.fields().asScala.forall { en =>
        a.has(en.getKey) && same(a.get(en.getKey), en.getValue, en.getKey)
      }
    else if (e.isArray)
      a.isArray && a.size == e.size &&
        (0 until e.size).forall(i => same(a.get(i), e.get(i), field))
    else if (e.isNumber)
      a.isNumber && a.isIntegralNumber == e.isIntegralNumber && {
        if (e.isIntegralNumber) a.longValue == e.longValue
        else if (e.isFloat) a.doubleValue.toFloat == e.floatValue
        else a.doubleValue == e.doubleValue
      }
    else a == e

  /** Expected trajectories: uuid -> time-sorted (micros, lon, lat). */
  type Trajectories = Map[String, Vector[(Long, Double, Double)]]

  def trajectories(snapshots: Iterable[Snapshot]): Trajectories =
    snapshots.toVector.flatMap(s => s.features.map(o => (o.uuid, (s.micros, o.lon, o.lat))))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sortBy(_._1) }

  /** Rows of (uuid, coordinates_0_traj, coordinates_1_traj) from
    * `Trajectory.pivot`, each trajectory an array of (t, v). */
  def trajectories(rows: Array[Row], expected: Trajectories): Option[String] = {
    def instants(r: Row, i: Int): Seq[(Long, Double)] = r.getSeq[Row](i).map(x =>
      (x.getTimestamp(0).getTime * 1000L, x.getDouble(1)))
    val actual = rows.map { r =>
      val lon = instants(r, 1); val lat = instants(r, 2)
      r.getString(0) -> (if (lon.map(_._1) != lat.map(_._1)) Vector.empty
        else lon.zip(lat).map { case ((t, x), (_, y)) => (t, x, y) }.toVector)
    }
    if (actual.length != actual.map(_._1).distinct.length) Some("a uuid repeats")
    else {
      val a = actual.toMap
      if (a.keySet != expected.keySet)
        Some(s"vehicles differ: ${a.size} returned, ${expected.size} expected")
      else expected.collectFirst { case (k, v) if a(k) != v =>
        s"trajectory of $k: ${a(k).size} instants returned, ${v.size} expected"
      }
    }
  }
}
