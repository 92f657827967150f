package graft.core

/** Spatial predicates & metrics the engine adds on top of the reference's
  * cell algebra (extensions mandated by BASELINE.json north_star:
  * point-in-polygon refine, kNN distances). Pure Scala, codegen-callable.
  */
object GeoMath {
  final val EarthRadiusM = 6371008.8 // mean Earth radius, meters

  /** Great-circle distance in meters (haversine, spherical Earth). */
  def haversineM(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double = {
    val dLat = math.toRadians(lat2 - lat1)
    val dLon = math.toRadians(lon2 - lon1)
    val a = math.sin(dLat / 2) * math.sin(dLat / 2) +
      math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) *
        math.sin(dLon / 2) * math.sin(dLon / 2)
    2.0 * EarthRadiusM * math.asin(math.min(1.0, math.sqrt(a)))
  }

  /** Squared equirectangular degree distance — monotone with true distance
    * over small extents, trig-free so Spark and a SQL oracle produce
    * bit-identical doubles (used for oracle-checked kNN ordering). */
  @inline def sqDistDeg(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double = {
    val dx = lon1 - lon2; val dy = lat1 - lat2
    dx * dx + dy * dy
  }

  @inline def inBox(lon: Double, lat: Double,
                    minLon: Double, minLat: Double, maxLon: Double, maxLat: Double): Boolean =
    if (minLon <= maxLon) lon >= minLon && lon <= maxLon && lat >= minLat && lat <= maxLat
    else (lon >= minLon || lon <= maxLon) && lat >= minLat && lat <= maxLat // anti-meridian box

  /** Even-odd ray casting in lon/lat plane. `poly` = flat [lon0,lat0,
    * lon1,lat1,...]; ring need not be closed (last→first edge implied).
    * Points exactly on an edge may land either side (standard caveat);
    * tests avoid on-edge vertices. Supports holes by XOR-ing multiple rings
    * at the caller. From scratch (no JTS in the engine; JTS 1.20 on the
    * classpath is used only as a test oracle — SURVEY.md §8 M1). */
  def pointInRing(lon: Double, lat: Double, poly: Array[Double]): Boolean = {
    val n = poly.length / 2
    var inside = false
    var i = 0
    var j = n - 1
    while (i < n) {
      val xi = poly(2 * i); val yi = poly(2 * i + 1)
      val xj = poly(2 * j); val yj = poly(2 * j + 1)
      if ((yi > lat) != (yj > lat)) {
        val xCross = xi + (lat - yi) / (yj - yi) * (xj - xi)
        if (lon < xCross) inside = !inside
      }
      j = i; i += 1
    }
    inside
  }

  /** Polygon with optional holes: outer ring first, XOR of all rings. */
  def pointInPolygon(lon: Double, lat: Double, rings: Array[Array[Double]]): Boolean = {
    var inside = false
    var i = 0
    while (i < rings.length) {
      if (pointInRing(lon, lat, rings(i))) inside = !inside
      i += 1
    }
    inside
  }

  /** Proper segment intersection test (excluding pure-collinear touches;
    * adequate for covering because collinear overlap implies a vertex-in-
    * rect or corner-in-polygon hit too in non-degenerate inputs). */
  @inline private def orient(ax: Double, ay: Double, bx: Double, by: Double,
                             cx: Double, cy: Double): Double =
    (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)

  def segmentsIntersect(p1x: Double, p1y: Double, p2x: Double, p2y: Double,
                        q1x: Double, q1y: Double, q2x: Double, q2y: Double): Boolean = {
    val d1 = orient(q1x, q1y, q2x, q2y, p1x, p1y)
    val d2 = orient(q1x, q1y, q2x, q2y, p2x, p2y)
    val d3 = orient(p1x, p1y, p2x, p2y, q1x, q1y)
    val d4 = orient(p1x, p1y, p2x, p2y, q2x, q2y)
    ((d1 > 0 && d2 < 0) || (d1 < 0 && d2 > 0)) &&
      ((d3 > 0 && d4 < 0) || (d3 < 0 && d4 > 0))
  }

  /** Exact rectangle–polygon intersection (boundaries count): true iff the
    * axis-aligned rect [minX,maxX]×[minY,maxY] intersects the polygon
    * (outer ring + holes, even-odd). Cases: rect corner inside polygon,
    * polygon vertex inside rect, or any edge crossing. */
  def rectIntersectsPolygon(minX: Double, minY: Double, maxX: Double, maxY: Double,
                            rings: Array[Array[Double]]): Boolean = {
    // rect corner strictly inside the polygon
    if (pointInPolygon(minX, minY, rings) || pointInPolygon(maxX, minY, rings) ||
        pointInPolygon(minX, maxY, rings) || pointInPolygon(maxX, maxY, rings)) return true
    // any polygon vertex inside the rect
    var ri = 0
    while (ri < rings.length) {
      val ring = rings(ri)
      var i = 0
      while (i < ring.length / 2) {
        val x = ring(2 * i); val y = ring(2 * i + 1)
        if (x >= minX && x <= maxX && y >= minY && y <= maxY) return true
        i += 1
      }
      ri += 1
    }
    // any ring edge crossing any rect edge
    val rect = Array(
      (minX, minY, maxX, minY), (maxX, minY, maxX, maxY),
      (maxX, maxY, minX, maxY), (minX, maxY, minX, minY))
    ri = 0
    while (ri < rings.length) {
      val ring = rings(ri)
      val n = ring.length / 2
      var i = 0
      while (i < n) {
        val j = (i + 1) % n
        val ax = ring(2 * i); val ay = ring(2 * i + 1)
        val bx = ring(2 * j); val by = ring(2 * j + 1)
        var e = 0
        while (e < 4) {
          val (qx1, qy1, qx2, qy2) = rect(e)
          if (segmentsIntersect(ax, ay, bx, by, qx1, qy1, qx2, qy2)) return true
          e += 1
        }
        i += 1
      }
      ri += 1
    }
    false
  }

  /** Parse a (subset of) WKT POLYGON into rings; used by the PIP expression
    * so polygons travel as plain strings in plans. Accepts
    * `POLYGON ((x y, x y, ...), (hole...))`. */
  def parseWktPolygon(wkt: String): Array[Array[Double]] = {
    val body = wkt.trim.stripPrefix("POLYGON").trim
    require(body.startsWith("(") && body.endsWith(")"), s"not a WKT polygon: $wkt")
    val inner = body.substring(1, body.length - 1)
    val rings = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    var depth = 0; var start = -1
    var i = 0
    while (i < inner.length) {
      inner.charAt(i) match {
        case '(' => depth += 1; if (depth == 1) start = i + 1
        case ')' =>
          if (depth == 1) {
            val coords = inner.substring(start, i).split(",").flatMap { pt =>
              val xy = pt.trim.split("\\s+")
              Array(xy(0).toDouble, xy(1).toDouble)
            }
            rings += coords
          }
          depth -= 1
        case _ =>
      }
      i += 1
    }
    rings.toArray
  }

  /** The bounding box of a polygon's outer ring (rings as from
    * [[parseWktPolygon]]). */
  def polygonBBox(rings: Array[Array[Double]]): BBox = {
    val outer = rings.head
    val lons = outer.indices.collect { case i if i % 2 == 0 => outer(i) }
    val lats = outer.indices.collect { case i if i % 2 == 1 => outer(i) }
    BBox(lons.min, lats.min, lons.max, lats.max)
  }
}
