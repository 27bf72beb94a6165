package graft

import graft.geo.PointInPolygon
import org.scalatest.funsuite.AnyFunSuite

/** G1 unit + property tests (SURVEY.md §5.2.2/§5.2.3): ray casting against
  * an independent implementation (java.awt Path2D) away from boundaries,
  * explicit boundary-inclusive cases, reference polygons from the shipped
  * configs.
  */
class PointInPolygonSpec extends AnyFunSuite {

  private val square = PointInPolygon.parsePolygon(
    "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")

  test("interior, exterior, vertex, edge") {
    assert(PointInPolygon.contains(5, 5, square))
    assert(!PointInPolygon.contains(15, 5, square))
    assert(!PointInPolygon.contains(-0.001, 5, square))
    assert(PointInPolygon.contains(0, 0, square), "vertex is inside (inclusive)")
    assert(PointInPolygon.contains(5, 0, square), "edge point is inside (inclusive)")
    assert(PointInPolygon.contains(0, 5, square), "vertical edge is inside")
    assert(PointInPolygon.contains(10, 10, square), "far vertex is inside")
  }

  test("vertices and horizontal edges: boundary in, same latitude outside out") {
    // a step polygon: horizontal edges at lat 0, 5 and 10, vertices at
    // every corner, so rays run along edges and through vertices
    val step = PointInPolygon.parsePolygon(
      "POLYGON ((0 0, 10 0, 10 5, 5 5, 5 10, 0 10, 0 0))")
    for ((lon, lat) <- Seq((10.0, 0.0), (10.0, 5.0), (5.0, 5.0), (5.0, 10.0), (0.0, 10.0)))
      assert(PointInPolygon.contains(lon, lat, step), s"vertex ($lon, $lat) is inside")
    for ((lon, lat) <- Seq((7.0, 5.0), (2.0, 10.0), (3.0, 0.0)))
      assert(PointInPolygon.contains(lon, lat, step), s"horizontal edge ($lon, $lat) is inside")
    assert(PointInPolygon.contains(2, 5, step), "interior at a horizontal edge's latitude")
    for ((lon, lat) <- Seq((-1.0, 5.0), (12.0, 5.0), (-1.0, 0.0), (11.0, 0.0),
        (-1.0, 10.0), (6.0, 10.0), (7.0, 7.0), (5.0, 10.5), (5.0, -0.5)))
      assert(!PointInPolygon.contains(lon, lat, step), s"($lon, $lat) is outside")
    // a diamond: rays through its side vertices and its apexes
    val diamond = PointInPolygon.parsePolygon("POLYGON ((5 0, 10 5, 5 10, 0 5, 5 0))")
    assert(PointInPolygon.contains(5, 10, diamond) && PointInPolygon.contains(0, 5, diamond))
    assert(PointInPolygon.contains(5, 5, diamond) && PointInPolygon.contains(7.5, 2.5, diamond))
    for ((lon, lat) <- Seq((4.0, 10.0), (6.0, 0.0), (-1.0, 5.0), (11.0, 5.0)))
      assert(!PointInPolygon.contains(lon, lat, diamond), s"($lon, $lat) is outside the diamond")
  }

  test("polygon with a hole (even-odd)") {
    val rings = PointInPolygon.parsePolygon(
      "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))")
    assert(PointInPolygon.contains(2, 2, rings))
    assert(!PointInPolygon.contains(5, 5, rings), "inside the hole = outside")
    assert(PointInPolygon.contains(4, 4, rings), "hole boundary counts as inside")
  }

  test("reference Norway polygon classifies Oslo in, Stockholm out") {
    val norway = PointInPolygon.parsePolygon(
      """POLYGON((16.7871094 70.3778539, 2.5488281 62.1449760,
        |3.6035156 57.1839019, 13.0957031 55.4290135, 19.5996094 61.8561488,
        |23.1152344 65.2198939, 33.3984375 70.0805622, 29.6191406 71.6359929,
        |22.7636719 71.4411709, 16.8750000 70.3778539,
        |16.7871094 70.3778539))""".stripMargin.replace("\n", " "))
    assert(PointInPolygon.contains(10.75, 59.91, norway)) // Oslo lon lat
    assert(!PointInPolygon.contains(18.07, 59.33, norway)) // Stockholm
  }

  test("malformed WKT rejected") {
    assertThrows[IllegalArgumentException](
      PointInPolygon.parsePolygon("POLYGON ((0 0, 1 0, 1 1))")) // not closed
    assertThrows[IllegalArgumentException](
      PointInPolygon.parsePolygon("LINESTRING (0 0, 1 1)"))
  }

  test("property: matches java.awt Path2D away from boundaries (2000 cases)") {
    val rnd = new scala.util.Random(20260812L)
    var checked = 0
    while (checked < 2000) {
      // random star-shaped polygon around the origin
      val n = 3 + rnd.nextInt(10)
      val rot = rnd.nextDouble() * math.Pi / n
      val pts = (0 until n).map { i =>
        val r = 1.0 + rnd.nextDouble() * 9.0
        val a = rot + 2 * math.Pi * i / n
        (r * math.cos(a), r * math.sin(a))
      }
      val closed = pts :+ pts.head
      val ring = closed.flatMap { case (x, y) => Seq(x, y) }.toArray
      val path = new java.awt.geom.Path2D.Double(java.awt.geom.Path2D.WIND_EVEN_ODD)
      path.moveTo(closed.head._1, closed.head._2)
      closed.tail.foreach { case (x, y) => path.lineTo(x, y) }
      path.closePath()
      val px = rnd.nextDouble() * 24 - 12
      val py = rnd.nextDouble() * 24 - 12
      // skip points too close to an edge (boundary semantics differ)
      val nearEdge = closed.sliding(2).exists { seg =>
        val (x1, y1) = seg.head; val (x2, y2) = seg.last
        val dx = x2 - x1; val dy = y2 - y1
        val len2 = dx * dx + dy * dy
        if (len2 == 0) true
        else {
          val t = math.max(0, math.min(1, ((px - x1) * dx + (py - y1) * dy) / len2))
          val ex = x1 + t * dx - px; val ey = y1 + t * dy - py
          math.sqrt(ex * ex + ey * ey) < 1e-6
        }
      }
      if (!nearEdge) {
        assert(PointInPolygon.contains(px, py, Array(ring)) == path.contains(px, py),
          s"disagrees with Path2D at ($px, $py) for $closed")
        checked += 1
      }
    }
  }
}
