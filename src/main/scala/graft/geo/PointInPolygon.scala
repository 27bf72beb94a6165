package graft.geo

/** WKT POLYGON parsing + boundary-inclusive ray-casting.
  *
  * Implements G1 (SURVEY.md §2.4): the occurrence-in-zone spatial predicate
  * that the reference delegates to the GBIF server (`gbif_helper.py:86-88`,
  * polygons from `example/config.yml:7` / `test/config.yml:6-16`). Rings are
  * stored as flat `[x0, y0, x1, y1, ...]` arrays (x = longitude,
  * y = latitude, matching WKT's lon-lat order); holes are supported via
  * even-odd counting across all rings even though the reference only ships
  * single-ring polygons.
  *
  * Static methods are plain Java-signature helpers so generated code
  * (whole-stage codegen) can call them directly.
  */
object PointInPolygon {

  /** Parse `POLYGON ((x y, x y, ...))` / `POLYGON ((outer), (hole), ...)`.
    * Naive lon-lat math, no antimeridian handling (the reference's shipped
    * polygons don't cross it — SURVEY.md §7.5.3).
    */
  def parsePolygon(wkt: String): Array[Array[Double]] = {
    val s = wkt.trim
    val upper = s.toUpperCase(java.util.Locale.ROOT)
    require(upper.startsWith("POLYGON"), s"not a WKT POLYGON: ${s.take(40)}")
    val body = s.substring(s.indexOf('(')).trim
    require(body.startsWith("(") && body.endsWith(")"), s"malformed WKT: $s")
    // strip the outermost parens, then split top-level "(...)" ring groups
    val inner = body.substring(1, body.length - 1)
    val rings = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    var depth = 0
    var start = -1
    var i = 0
    while (i < inner.length) {
      inner.charAt(i) match {
        case '(' =>
          if (depth == 0) start = i + 1
          depth += 1
        case ')' =>
          depth -= 1
          if (depth == 0) rings += parseRing(inner.substring(start, i))
        case _ =>
      }
      i += 1
    }
    require(rings.nonEmpty, s"POLYGON with no rings: $s")
    rings.toArray
  }

  private def parseRing(text: String): Array[Double] = {
    val pts = text.split(",").map(_.trim).filter(_.nonEmpty)
    val flat = new Array[Double](pts.length * 2)
    var i = 0
    while (i < pts.length) {
      val xy = pts(i).split("\\s+")
      require(xy.length >= 2, s"bad WKT coordinate: '${pts(i)}'")
      flat(2 * i) = xy(0).toDouble
      flat(2 * i + 1) = xy(1).toDouble
      i += 1
    }
    require(flat.length >= 8, "ring needs >= 4 points (closed)")
    require(flat(0) == flat(flat.length - 2) && flat(1) == flat(flat.length - 1),
      "WKT ring must be closed (first point == last point)")
    flat
  }

  /** Boundary-inclusive point-in-polygon over all rings (even-odd rule).
    * Called from generated code — keep the signature JVM-primitive. */
  def contains(lon: Double, lat: Double, rings: Array[Array[Double]]): Boolean = {
    var inside = false
    var r = 0
    while (r < rings.length) {
      val ring = rings(r)
      val n = ring.length / 2 - 1 // last point repeats the first
      var i = 0
      while (i < n) {
        val x1 = ring(2 * i); val y1 = ring(2 * i + 1)
        val x2 = ring(2 * i + 2); val y2 = ring(2 * i + 3)
        // a point outside the edge's closed latitude span can neither lie
        // on the edge nor be crossed by it, so most edges stop here
        if ((lat >= y1 || lat >= y2) && (lat <= y1 || lat <= y2)) {
          if (onSegment(lon, lat, x1, y1, x2, y2)) return true
          // ray casting: horizontal ray towards +x
          if ((y1 > lat) != (y2 > lat)) {
            val xCross = x1 + (lat - y1) / (y2 - y1) * (x2 - x1)
            if (lon < xCross) inside = !inside
          }
        }
        i += 1
      }
      r += 1
    }
    inside
  }

  /** Collinear and in the longitude span; the caller checked latitude. */
  private def onSegment(px: Double, py: Double,
      x1: Double, y1: Double, x2: Double, y2: Double): Boolean =
    (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1) == 0.0 &&
      px >= math.min(x1, x2) && px <= math.max(x1, x2)

  /** Bounding box of all rings: (minLon, minLat, maxLon, maxLat).
    * Used to emit a sargable pre-filter conjunct that Parquet row-group
    * pruning and predicate pushdown can consume (SURVEY.md §4.3.2) — the
    * opaque polygon expression itself cannot be pushed to the scan.
    */
  def boundingBox(rings: Array[Array[Double]]): (Double, Double, Double, Double) = {
    var minX = Double.MaxValue; var minY = Double.MaxValue
    var maxX = Double.MinValue; var maxY = Double.MinValue
    for (ring <- rings) {
      var i = 0
      while (i < ring.length) {
        val x = ring(i); val y = ring(i + 1)
        if (x < minX) minX = x; if (x > maxX) maxX = x
        if (y < minY) minY = y; if (y > maxY) maxY = y
        i += 2
      }
    }
    (minX, minY, maxX, maxY)
  }
}
