package graft.core

/** Cell bounding box in degrees, lon-first like the reference's
  * boost::geometry Box (pangeo-geohash `geometry.hpp`, SURVEY.md §2). */
final case class BBox(minLon: Double, minLat: Double, maxLon: Double, maxLat: Double) {
  def intersects(o: BBox): Boolean =
    minLon < o.maxLon && maxLon > o.minLon && minLat < o.maxLat && maxLat > o.minLat
}

/** Geohash codec + cell algebra — the Spark-native re-expression of
  * pangeo-geohash's core surface (SURVEY.md §3.1 #1-14):
  * int64 encode/decode (Morton interleave), string encode/decode (base32),
  * neighbors, bounding boxes, box covering, parent/children zoom, cell
  * size/area, grid properties.
  *
  * Representation: codes are RIGHT-justified Longs with an explicit
  * precision in bits (1..60). 5*p bits == p base32 characters, so
  * `toBase32(encode(lon,lat,5p), p)` equals the spec string geohash.
  * (The reference stores int64 codes top-justified; right-justified keys
  * sort identically within one precision and make parent = shift, which is
  * what the join/tiling layer wants.)
  *
  * All functions are branch-light pure Scala so Catalyst codegen can call
  * them directly from generated Java (static MODULE$ calls stay inside
  * WholeStageCodegen loops).
  */
object Geohash {
  final val MaxBits = 60
  private final val Scale30 = 1L << 30 // 2^30 quantization grid per dimension

  @inline def lonBitsOf(bits: Int): Int = (bits + 1) / 2
  @inline def latBitsOf(bits: Int): Int = bits / 2

  /** Longitude normalized into [-180, 180). 180 wraps to -180. */
  @inline def normLon(lon: Double): Double = {
    if (lon >= -180.0 && lon < 180.0) lon
    else {
      val w = lon - 360.0 * math.floor((lon + 180.0) / 360.0)
      if (w >= 180.0) w - 360.0 else w
    }
  }

  /** 30-bit longitude index. */
  @inline def lonIdx30(lon: Double): Long = {
    val x = ((normLon(lon) + 180.0) / 360.0 * Scale30).toLong
    if (x >= Scale30) Scale30 - 1 else if (x < 0) 0L else x
  }

  /** 30-bit latitude index; lat clamped to [-90, 90]. */
  @inline def latIdx30(lat: Double): Long = {
    val y = ((lat + 90.0) / 180.0 * Scale30).toLong
    if (y >= Scale30) Scale30 - 1 else if (y < 0) 0L else y
  }

  /** 30-bit longitude index of a box's MAX (east) edge: lon >= 180 clamps to
    * the last column instead of wrapping to -180 (normLon would wrap 180 to
    * -180, silently collapsing a full-world box to one column and making
    * e.g. (170..180) a negative-width range). Anti-meridian-crossing boxes
    * are expressed as minLon > maxLon within [-180, 180), never via
    * maxLon >= 180. */
  @inline def lonIdxMax30(lon: Double): Long =
    if (lon >= 180.0) Scale30 - 1 else lonIdx30(lon)

  /** Encode (lon, lat) to a right-justified Morton geohash at `bits`
    * precision (1..60). Leading bit is a longitude bit [SPEC]. */
  def encode(lon: Double, lat: Double, bits: Int): Long = {
    require(bits >= 1 && bits <= MaxBits, s"precision bits must be 1..60, got $bits")
    Morton.interleave(lonIdx30(lon), latIdx30(lat)) >>> (MaxBits - bits)
  }

  /** Longitude/latitude cell indices of a code. */
  @inline def cellX(code: Long, bits: Int): Long =
    Morton.deinterleaveX(code << (MaxBits - bits)) >>> (Morton.MaxBits - lonBitsOf(bits))
  @inline def cellY(code: Long, bits: Int): Long =
    Morton.deinterleaveY(code << (MaxBits - bits)) >>> (Morton.MaxBits - latBitsOf(bits))

  /** Re-encode from cell indices at a given precision. */
  @inline def fromCellXY(x: Long, y: Long, bits: Int): Long =
    Morton.interleave(x << (Morton.MaxBits - lonBitsOf(bits)),
                      y << (Morton.MaxBits - latBitsOf(bits))) >>> (MaxBits - bits)

  /** Cell width/height in degrees at a precision. */
  @inline def cellWidth(bits: Int): Double = 360.0 / (1L << lonBitsOf(bits)).toDouble
  @inline def cellHeight(bits: Int): Double = 180.0 / (1L << latBitsOf(bits)).toDouble

  /** (lon_error, lat_error) = half cell size — reference
    * `string.error_with_precision` (SURVEY.md §3.1 #11). */
  def errorWithPrecision(chars: Int): (Double, Double) =
    (cellWidth(5 * chars) / 2.0, cellHeight(5 * chars) / 2.0)

  /** Bounding box of a cell. */
  def boundingBox(code: Long, bits: Int): BBox = {
    val w = cellWidth(bits); val h = cellHeight(bits)
    val minLon = cellX(code, bits) * w - 180.0
    val minLat = cellY(code, bits) * h - 90.0
    BBox(minLon, minLat, minLon + w, minLat + h)
  }

  /** Cell center (lon, lat) — reference int64/string decode with round=false
    * returns centers (SURVEY.md §3.1 #2, #6). */
  def decodeCenter(code: Long, bits: Int): (Double, Double) = {
    val b = boundingBox(code, bits)
    ((b.minLon + b.maxLon) / 2.0, (b.minLat + b.maxLat) / 2.0)
  }

  /** The 8 adjacent cells: longitude wraps at the anti-meridian, latitude
    * clamps at the poles (out-of-range rows dropped) — reference
    * int64/string `neighbors` (SURVEY.md §3.1 #3, #9). Order: row-major
    * from (dx=-1,dy=-1) to (1,1), center excluded. */
  def neighbors(code: Long, bits: Int): Array[Long] = {
    val nx = 1L << lonBitsOf(bits); val ny = 1L << latBitsOf(bits)
    val x = cellX(code, bits); val y = cellY(code, bits)
    val out = new Array[Long](8)
    var n = 0
    var dy = -1
    while (dy <= 1) {
      val yy = y + dy
      if (yy >= 0 && yy < ny) {
        var dx = -1
        while (dx <= 1) {
          if (dx != 0 || dy != 0) {
            val xx = (x + dx + nx) & (nx - 1) // wrap (nx is a power of 2)
            out(n) = fromCellXY(xx, yy, bits); n += 1
          }
          dx += 1
        }
      }
      dy += 1
    }
    if (n == 8) out else java.util.Arrays.copyOf(out, n)
  }

  /** Zoom out: drop trailing bits (prefix nesting [SPEC]). */
  @inline def parent(code: Long, bits: Int, parentBits: Int): Long = {
    require(parentBits >= 1 && parentBits <= bits, s"parentBits $parentBits !in 1..$bits")
    code >>> (bits - parentBits)
  }

  /** Zoom in: enumerate all child cells at `childBits`. */
  def children(code: Long, bits: Int, childBits: Int): Array[Long] = {
    require(childBits >= bits && childBits <= MaxBits, s"childBits $childBits !in $bits..60")
    val d = childBits - bits
    require(d <= 20, s"children fan-out 2^$d too large (max 2^20)")
    val n = 1 << d
    val base = code << d
    Array.tabulate(n)(i => base | i.toLong)
  }

  /** All cells at `bits` precision intersecting the box — the reference's
    * `string.bounding_boxes` covering / lattice walk (SURVEY.md §3.1 #8).
    * Anti-meridian: a box with minLon > maxLon is split into two lon ranges.
    * @param maxCells guard against huge coverings (throws if exceeded).
    */
  def covering(minLon: Double, minLat: Double, maxLon: Double, maxLat: Double,
               bits: Int, maxCells: Int = 1 << 20): Array[Long] = {
    require(minLat <= maxLat, s"minLat $minLat > maxLat $maxLat")
    val nx = 1L << lonBitsOf(bits)
    val y0 = latIdx30(minLat) >>> (Morton.MaxBits - latBitsOf(bits))
    val y1 = latIdx30(maxLat) >>> (Morton.MaxBits - latBitsOf(bits))
    val x0 = lonIdx30(minLon) >>> (Morton.MaxBits - lonBitsOf(bits))
    val x1 = lonIdxMax30(maxLon) >>> (Morton.MaxBits - lonBitsOf(bits))
    // wrapped (anti-meridian) boxes span x0..nx-1 then 0..x1
    val xCount = if (minLon > maxLon) (nx - x0) + x1 + 1 else x1 - x0 + 1
    // A box whose east edge touches 180 also owns the WEST column: points at
    // exactly lon=180 encode as -180 (normLon wraps), so a covering that
    // stopped at x=nx-1 would exclude rows the refine predicate lon<=180
    // accepts. Same soundness fix for every caller (boxQuery, multiBoxQuery,
    // DeriveCoveringPrune all consume this covering).
    val westWrap = minLon <= maxLon && maxLon >= 180.0 && x0 != 0L
    val total = (xCount + (if (westWrap) 1L else 0L)) * (y1 - y0 + 1)
    require(total <= maxCells, s"covering would produce $total cells (> $maxCells); use a coarser precision")
    val out = new Array[Long](total.toInt)
    var n = 0
    var y = y0
    while (y <= y1) {
      var i = 0L
      while (i < xCount) {
        out(n) = fromCellXY((x0 + i) & (nx - 1), y, bits); n += 1
        i += 1
      }
      if (westWrap) { out(n) = fromCellXY(0L, y, bits); n += 1 }
      y += 1
    }
    out
  }

  /** Cells at `bits` precision intersecting a POLYGON (outer ring + holes):
    * bbox covering refined by exact rectangle–polygon intersection — the
    * vector side of raster-tile↔vector joins (north_star extension; the
    * reference only covers boxes). Polygons must not cross the
    * anti-meridian (coordinates are plain lon/lat plane values). */
  def polygonCovering(rings: Array[Array[Double]], bits: Int,
                      maxCells: Int = 1 << 20): Array[Long] = {
    val pb = GeoMath.polygonBBox(rings)
    covering(pb.minLon, pb.minLat, pb.maxLon, pb.maxLat, bits, maxCells).filter { c =>
      val b = boundingBox(c, bits)
      GeoMath.rectIntersectsPolygon(b.minLon, b.minLat, b.maxLon, b.maxLat, rings)
    }
  }

  /** (SW-corner cell, #cells lon, #cells lat) for a box — reference
    * `string.grid_properties` (SURVEY.md §3.1 #10); planner input for
    * covering-size / broadcast decisions. */
  def gridProperties(minLon: Double, minLat: Double, maxLon: Double, maxLat: Double,
                     bits: Int): (Long, Long, Long) = {
    val nx = 1L << lonBitsOf(bits)
    val x0 = lonIdx30(minLon) >>> (Morton.MaxBits - lonBitsOf(bits))
    val x1 = lonIdxMax30(maxLon) >>> (Morton.MaxBits - lonBitsOf(bits))
    val y0 = latIdx30(minLat) >>> (Morton.MaxBits - latBitsOf(bits))
    val y1 = latIdx30(maxLat) >>> (Morton.MaxBits - latBitsOf(bits))
    val cx = if (minLon > maxLon) (nx - x0) + x1 + 1 else x1 - x0 + 1
    (fromCellXY(x0, y0, bits), cx, y1 - y0 + 1)
  }

  /** Cell area in m² on a sphere (spherical-excess of a lon/lat rectangle,
    * mean Earth radius 6371008.8 m) — reference `string.area`
    * (SURVEY.md §3.1 #12; geodesic model documented as spherical here). */
  def area(code: Long, bits: Int): Double = {
    val b = boundingBox(code, bits)
    val r = 6371008.8
    r * r * math.toRadians(b.maxLon - b.minLon) *
      (math.sin(math.toRadians(b.maxLat)) - math.sin(math.toRadians(b.minLat)))
  }

  // ---- string (base32) forms — reference string.hpp (SURVEY.md §3.1 #5-9) --

  /** String geohash at `chars` precision (1..12) [SPEC]. */
  def encodeString(lon: Double, lat: Double, chars: Int): String =
    Base32.encode(encode(lon, lat, 5 * chars), chars)

  /** Parse a string geohash → (code, bits). */
  def decodeString(s: String): (Long, Int) = (Base32.decode(s), 5 * s.length)

  def boundingBoxString(s: String): BBox = {
    val (c, b) = decodeString(s); boundingBox(c, b)
  }

  def decodeCenterString(s: String): (Double, Double) = {
    val (c, b) = decodeString(s); decodeCenter(c, b)
  }

  def neighborsString(s: String): Array[String] = {
    val (c, b) = decodeString(s)
    neighbors(c, b).map(Base32.encode(_, s.length))
  }

  def coveringString(minLon: Double, minLat: Double, maxLon: Double, maxLat: Double,
                     chars: Int, maxCells: Int = 1 << 20): Array[String] =
    covering(minLon, minLat, maxLon, maxLat, 5 * chars, maxCells).map(Base32.encode(_, chars))
}
