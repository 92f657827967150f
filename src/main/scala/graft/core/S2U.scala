package graft.core

/** S2-cell-id implementation of the PUBLISHED S2 scheme (the layout and
  * algorithms documented by the S2 geometry library): 64-bit ids holding
  * `face(3 bits) ++ hilbert position(2·level bits) ++ 1 ++ 0…`, with the
  * quadratic uv↔st reprojection (S2's default S2_QUADRATIC_PROJECTION) and
  * the face-interleaved Hilbert curve.
  *
  * Derivation vs transcription (same policy as [[H3U]]): the only
  * transcribed data are the two CANONICAL 4-entry Hilbert traversal tables
  * (kPosToIJ row 0 and kPosToOrientation — the mathematical definition of
  * the Hilbert sub-cell order) and the 6 published face uv frames, which
  * live here with the other sphere ↔ cube-face helpers; the 4-bit-block
  * lookup tables are DERIVED at class load by the published recursive
  * construction, and the other kPosToIJ rows are derived from row 0 by
  * applying swap/invert.
  *
  * Bit-compatibility caveat, stated honestly: this sandbox has no S2
  * library and no network, so official golden VECTORS cannot be checked
  * here. What IS pinned by tests: the documented layout facts (the six
  * level-0 face cells are tokens "1","3","5","7","9","b"; leaf ids are
  * odd; level = 30 − tz/2; parent = truncate-and-set-sentinel), Hilbert
  * curve continuity (consecutive leaf positions are lattice neighbors),
  * exact (face,i,j) round trips, the quadratic st transform inverse, and
  * a derived whole-sphere checksum golden that locks the implementation
  * against regressions.
  */
object S2U {
  final val MaxLevel = 30
  final val NumFaces = 6

  private final val LookupBits = 4
  private final val SwapMask = 1
  private final val InvertMask = 2

  // canonical Hilbert sub-cell order (orientation 0): traversal position →
  // ij quadrant, and the orientation change each sub-cell applies
  private val posToIJ0 = Array(0, 1, 3, 2)
  private val posToOrientation = Array(SwapMask, 0, 0, InvertMask | SwapMask)

  // rows 1..3 derived from row 0: orientation bits swap i/j and invert
  private val posToIJ: Array[Array[Int]] = Array.tabulate(4) { o =>
    Array.tabulate(4) { p =>
      val ij0 = posToIJ0(p)
      var i = ij0 >> 1; var j = ij0 & 1
      if ((o & SwapMask) != 0) { val t = i; i = j; j = t }
      if ((o & InvertMask) != 0) { i = 1 - i; j = 1 - j }
      (i << 1) | j
    }
  }

  // 4-bit-block lookups, built by the published recursive construction:
  // lookupPos[(ij << 2) | origOrientation] = (pos << 2) | orientation
  private val lookupPos = new Array[Int](1 << (2 * LookupBits + 2))
  private val lookupIj = new Array[Int](1 << (2 * LookupBits + 2))
  locally {
    def init(level: Int, i: Int, j: Int, origOrientation: Int,
             pos: Int, orientation: Int): Unit = {
      if (level == LookupBits) {
        val ij = (i << LookupBits) + j
        lookupPos((ij << 2) + origOrientation) = (pos << 2) + orientation
        lookupIj((pos << 2) + origOrientation) = (ij << 2) + orientation
      } else {
        val r = posToIJ(orientation)
        var sub = 0
        while (sub < 4) {
          init(level + 1, (i << 1) + (r(sub) >> 1), (j << 1) + (r(sub) & 1),
            origOrientation, (pos << 2) + sub, orientation ^ posToOrientation(sub))
          sub += 1
        }
      }
    }
    var o = 0
    while (o < 4) { init(0, 0, 0, o, 0, o); o += 1 }
  }
  // self-check of the derived rows: each is a permutation and the whole
  // level-4 curve is continuous (verified exhaustively in S2USpec)
  require(posToIJ.forall(_.sorted.sameElements(Array(0, 1, 2, 3))),
    "derived posToIJ rows are not permutations")

  // ---- sphere ↔ cube-face (u,v): the six published face frames ----

  def xyzFromLonLat(lon: Double, lat: Double): (Double, Double, Double) = {
    val phi = math.toRadians(lat); val theta = math.toRadians(lon)
    val cosphi = math.cos(phi)
    (cosphi * math.cos(theta), cosphi * math.sin(theta), math.sin(phi))
  }

  def lonLatFromXyz(x: Double, y: Double, z: Double): (Double, Double) = {
    val lon = math.toDegrees(math.atan2(y, x))
    val lat = math.toDegrees(math.atan2(z, math.sqrt(x * x + y * y)))
    (lon, lat)
  }

  /** Face 0..5: axis of largest |component|; +3 when negative. */
  def faceOf(x: Double, y: Double, z: Double): Int = {
    val ax = math.abs(x); val ay = math.abs(y); val az = math.abs(z)
    if (ax >= ay && ax >= az) { if (x >= 0) 0 else 3 }
    else if (ay >= az) { if (y >= 0) 1 else 4 }
    else { if (z >= 0) 2 else 5 }
  }

  /** (u, v) on the given face (central projection). */
  def uvOnFace(face: Int, x: Double, y: Double, z: Double): (Double, Double) = face match {
    case 0 => (y / x, z / x)
    case 1 => (-x / y, z / y)
    case 2 => (-x / z, -y / z)
    case 3 => (z / x, y / x)
    case 4 => (z / y, -x / y)
    case 5 => (-y / z, -x / z)
    case _ => throw new IllegalArgumentException(s"face $face")
  }

  /** Direction vector of face-plane point (u, v) — valid for |u|,|v| > 1
    * too, i.e. for a point past the face's edge. */
  def xyzFromFaceUv(face: Int, u: Double, v: Double): (Double, Double, Double) = face match {
    case 0 => (1, u, v)
    case 1 => (-u, 1, v)
    case 2 => (-u, -v, 1)
    case 3 => (-1, -v, -u)
    case 4 => (v, -1, -u)
    case 5 => (v, u, -1)
    case _ => throw new IllegalArgumentException(s"face $face")
  }

  // ---- quadratic st ↔ uv (published S2_QUADRATIC_PROJECTION) ----
  def stToUv(s: Double): Double =
    if (s >= 0.5) (1.0 / 3.0) * (4.0 * s * s - 1.0)
    else (1.0 / 3.0) * (1.0 - 4.0 * (1.0 - s) * (1.0 - s))
  def uvToSt(u: Double): Double =
    if (u >= 0.0) 0.5 * math.sqrt(1.0 + 3.0 * u)
    else 1.0 - 0.5 * math.sqrt(1.0 - 3.0 * u)

  private def stToIj(s: Double): Int =
    math.max(0, math.min((1 << MaxLevel) - 1, math.floor(s * (1 << MaxLevel)).toInt))

  // ---- encode ----
  /** Leaf (level-30) cell id of a lon/lat point. */
  def lonLatToCell(lonDeg: Double, latDeg: Double): Long = {
    val (x, y, z) = xyzFromLonLat(lonDeg, latDeg)
    val face = faceOf(x, y, z)
    val (u, v) = uvOnFace(face, x, y, z)
    fromFaceIj(face, stToIj(uvToSt(u)), stToIj(uvToSt(v)))
  }

  /** Cell id at `level` containing the point. */
  def lonLatToCellAt(lonDeg: Double, latDeg: Double, level: Int): Long =
    parent(lonLatToCell(lonDeg, latDeg), level)

  /** Leaf id from (face, i, j) — the published FromFaceIJ 4-bit pipeline. */
  def fromFaceIj(face: Int, i: Int, j: Int): Long = {
    var n = face.toLong << 60
    var bits = face & SwapMask
    var k = 7
    while (k >= 0) {
      val mask = (1 << LookupBits) - 1
      var b = bits
      b += ((i >> (k * LookupBits)) & mask) << (LookupBits + 2)
      b += ((j >> (k * LookupBits)) & mask) << 2
      b = lookupPos(b)
      n |= (b >> 2).toLong << (k * 2 * LookupBits)
      bits = b & (SwapMask | InvertMask)
      k -= 1
    }
    n * 2 + 1
  }

  /** (face, i, j) of the id's position bits — published
    * ToFaceIJOrientation (for non-leaf cells this is the leaf encoded by
    * the remaining position bits; combine with [[centerLonLat]]). */
  def toFaceIj(id: Long): (Int, Int, Int) = {
    var i = 0; var j = 0
    val face = faceOf(id)
    var bits = face & SwapMask
    var k = 7
    while (k >= 0) {
      val nbits = if (k == 7) MaxLevel - 7 * LookupBits else LookupBits
      var b = bits
      b += (((id >>> (k * 2 * LookupBits + 1)) & ((1 << (2 * nbits)) - 1)).toInt) << 2
      b = lookupIj(b)
      i += (b >> (LookupBits + 2)) << (k * LookupBits)
      j += ((b >> 2) & ((1 << LookupBits) - 1)) << (k * LookupBits)
      bits = b & (SwapMask | InvertMask)
      k -= 1
    }
    (face, i, j)
  }

  // ---- id algebra (published layout invariants) ----
  @inline def faceOf(id: Long): Int = (id >>> 61).toInt
  @inline def lsb(id: Long): Long = id & (-id)
  def level(id: Long): Int = MaxLevel - (java.lang.Long.numberOfTrailingZeros(id) >> 1)
  def isLeaf(id: Long): Boolean = (id & 1L) != 0
  def isValid(id: Long): Boolean =
    faceOf(id) < NumFaces && (lsb(id) & 0x1555555555555555L) != 0

  def parent(id: Long, level: Int): Long = {
    require(level >= 0 && level <= this.level(id), s"level $level above cell")
    val nlsb = 1L << (2 * (MaxLevel - level))
    (id & -nlsb) | nlsb
  }

  /** The 4 children, in Hilbert traversal order. */
  def children(id: Long): Array[Long] = {
    require(!isLeaf(id), "leaf cells have no children")
    val childLsb = lsb(id) >> 2
    Array.tabulate(4)(p => id - lsb(id) + childLsb + 2L * p * childLsb)
  }

  /** Range of leaf ids contained in the cell: [rangeMin, rangeMax]. */
  def rangeMin(id: Long): Long = id - (lsb(id) - 1)
  def rangeMax(id: Long): Long = id + (lsb(id) - 1)
  def contains(id: Long, other: Long): Boolean =
    other >= rangeMin(id) && other <= rangeMax(id)

  /** Lower-case hex token with trailing zeros stripped (published form). */
  def token(id: Long): String = {
    if (id == 0) return "X"
    val s = f"$id%016x"
    s.reverse.dropWhile(_ == '0').reverse
  }
  def fromToken(t: String): Long =
    if (t == "X") 0L
    else java.lang.Long.parseUnsignedLong(t.padTo(16, '0'), 16)

  /** Cell center as (lon°, lat°) — published GetCenterSiTi: decode the
    * position bits to the corner leaf, then offset by the level's center
    * delta in the doubled-resolution (si, ti) grid. */
  def centerLonLat(id: Long): (Double, Double) = {
    val (face, i, j) = toFaceIj(id)
    val delta =
      if (isLeaf(id)) 1
      else if (((i ^ (id >>> 2).toInt) & 1) != 0) 2
      else 0
    val si = 2L * i + delta
    val ti = 2L * j + delta
    val u = stToUv(si.toDouble / (1L << (MaxLevel + 1)))
    val v = stToUv(ti.toDouble / (1L << (MaxLevel + 1)))
    val (x, y, z) = xyzFromFaceUv(face, u, v)
    lonLatFromXyz(x, y, z)
  }

  /** A LOWER bound (degrees) on the angular width of any level-`level`
    * cell: the quadratic transform's minimum du/ds is 4/3 (at the face
    * center) and dθ/du = 1/(1+u²) ≥ 1/2 on the face, so every cell is at
    * least (2/3)/2^level rad wide; (1/3)/2^level keeps an extra 2×
    * margin. Used as the per-ring coverage step of the kNN expansion —
    * under-estimating the width only ever OVER-expands. */
  def minCellWidthDeg(level: Int): Double =
    math.toDegrees((1.0 / 3.0) / (1L << level).toDouble)

  /** Conservative covering of a lon/lat box at `level` (same contract as
    * Geohash.covering / H3U.polyfillBox: a superset; callers refine
    * exactly). The box is split into slices along its longer dimension
    * (~64 cells per slice — see the body comment) and each slice's
    * boundary is sampled densely; each touched face contributes the
    * padded (i, j) rectangle of the slice's samples at `level`.
    * Extremes of the smooth uv maps over the closed box lie on its
    * boundary; inter-sample deviation is absorbed by ADAPTIVE sampling +
    * padding: a first 256-sample pass estimates the box extent E in cells
    * per side, the boundary is re-sampled at ~4 samples per boundary cell
    * (capped at 2^14 per line), and the pad grows by the curvature bound
    * ceil(8·E²/(m²·2^level)) — the ij-boundary curves are smooth with
    * relative curvature O(E²/2^level) in cell units, so the secant
    * overshoot over a 1/m parameter interval is below that bound (a fixed
    * ±1 pad was unsound for boxes spanning ~1000 cells per side near the
    * maxCells limit). Soundness is property-tested in S2USpec, including
    * near-maxCells extents. Non-wrapped boxes. */
  def coverBox(minLon: Double, minLat: Double, maxLon: Double, maxLat: Double,
               level: Int, maxCells: Int = 1 << 20): Array[Long] = {
    require(minLon <= maxLon && minLat <= maxLat, "coverBox needs a non-wrapped box")
    require(level >= 0 && level <= MaxLevel, s"level $level")
    // SLICED covering: one bounding rect per face hugs a long box badly
    // (constant-lat curves bend hard in v near face corners - a 30-deg
    // mid-latitude box's single rect can be 100x the true cell band and
    // overflow maxCells). Splitting the longer geographic dimension into
    // ~64-cell-wide slices and unioning per-slice rects follows the curve:
    // each slice's rect is (slice width) x (band height + within-slice
    // curve drop), so total looseness is bounded by the curve SLOPE per
    // slice instead of its total variation. Slice boundaries dedup via
    // the shared accumulator; soundness per slice is the rect argument.
    val acc = scala.collection.mutable.LinkedHashSet.empty[Long]
    val e1 = {
      val r = facesRectsOf(minLon, minLat, maxLon, maxLat, level, 64)
      r.values.map { case (i0, i1, j0, j1) => math.max(i1 - i0, j1 - j0) + 1 }.max
    }
    val nSlices = math.min(256, math.max(1, e1 / 32))
    if (nSlices <= 1) coverBoxRect(minLon, minLat, maxLon, maxLat, level, acc, maxCells)
    else if (maxLon - minLon >= maxLat - minLat) {
      var k = 0
      while (k < nSlices) {
        val a = minLon + (maxLon - minLon) * k / nSlices
        val b = minLon + (maxLon - minLon) * (k + 1) / nSlices
        coverBoxRect(a, minLat, b, maxLat, level, acc, maxCells)
        k += 1
      }
    } else {
      var k = 0
      while (k < nSlices) {
        val a = minLat + (maxLat - minLat) * k / nSlices
        val b = minLat + (maxLat - minLat) * (k + 1) / nSlices
        coverBoxRect(minLon, a, maxLon, b, level, acc, maxCells)
        k += 1
      }
    }
    acc.toArray
  }

  /** One sampling pass over a box boundary: per touched face, the raw
    * (unpadded) (i, j) rectangle of the samples at `level`. */
  private def facesRectsOf(minLon: Double, minLat: Double,
                           maxLon: Double, maxLat: Double,
                           level: Int, n: Int): Map[Int, (Int, Int, Int, Int)] = {
    val shift = MaxLevel - level
    val samples = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    (0 to n).foreach { k =>
      val fLon = minLon + (maxLon - minLon) * k / n
      val fLat = minLat + (maxLat - minLat) * k / n
      samples += ((fLon, minLat)); samples += ((fLon, maxLat))
      samples += ((minLon, fLat)); samples += ((maxLon, fLat))
    }
    // u/v critical lines of the central projection can sit strictly
    // inside the box (e.g. lon = 0 on the +-x faces): include the
    // interior grid lines through multiples of 45 deg to capture them
    var g = math.ceil(minLon / 45.0) * 45.0
    while (g <= maxLon) {
      (0 to n).foreach { k => samples += ((g, minLat + (maxLat - minLat) * k / n)) }
      g += 45.0
    }
    g = math.ceil(minLat / 45.0) * 45.0
    while (g <= maxLat) {
      (0 to n).foreach { k => samples += ((minLon + (maxLon - minLon) * k / n, g)) }
      g += 45.0
    }
    samples.toSeq.map { case (lo, la) =>
      val (x, y, z) = xyzFromLonLat(lo, la)
      val face = faceOf(x, y, z)
      val (u, v) = uvOnFace(face, x, y, z)
      (face, stToIj(uvToSt(u)) >> shift, stToIj(uvToSt(v)) >> shift)
    }.groupBy(_._1).map { case (face, pts) =>
      face -> (pts.map(_._2).min, pts.map(_._2).max,
               pts.map(_._3).min, pts.map(_._3).max)
    }
  }

  /** Single-rect covering of one (sub-)box into the shared accumulator —
    * the adaptive-sampling + curvature-pad core (see [[coverBox]]). */
  private def coverBoxRect(minLon: Double, minLat: Double,
                           maxLon: Double, maxLat: Double, level: Int,
                           acc: scala.collection.mutable.LinkedHashSet[Long],
                           maxCells: Int): Unit = {
    val shift = MaxLevel - level

    def extentOf(rects: Map[Int, (Int, Int, Int, Int)]): Int =
      rects.values.map { case (i0, i1, j0, j1) => math.max(i1 - i0, j1 - j0) + 1 }.max

    val first = facesRectsOf(minLon, minLat, maxLon, maxLat, level, 256)
    val e1 = extentOf(first)
    // re-sample at ~4 samples per boundary cell (cost-capped); then the
    // residual secant-overshoot bound decides the pad
    val m = math.min(1 << 14, math.max(256, Integer.highestOneBit(math.max(1, e1 - 1)) * 8))
    val rects = if (m > 256) facesRectsOf(minLon, minLat, maxLon, maxLat, level, m) else first
    val e = extentOf(rects) + 4 // margin: the estimate itself may undershoot
    val dev = 8.0 * e.toDouble * e / (m.toDouble * m) / (1L << level).toDouble
    val pad = 1 + (if (dev < 0.5) 0 else math.ceil(dev).toInt)

    val maxIdx = (1 << level) - 1
    rects.toSeq.sortBy(_._1).foreach { case (face, (ri0, ri1, rj0, rj1)) =>
      val i0 = math.max(0, ri0 - pad)
      val i1 = math.min(maxIdx, ri1 + pad)
      val j0 = math.max(0, rj0 - pad)
      val j1 = math.min(maxIdx, rj1 + pad)
      require((i1 - i0 + 1).toLong * (j1 - j0 + 1) + acc.size <= maxCells,
        s"coverBox would exceed $maxCells cells; use a coarser level")
      var i = i0
      while (i <= i1) {
        var j = j0
        while (j <= j1) {
          acc += parent(fromFaceIj(face, i << shift, j << shift), level)
          j += 1
        }
        i += 1
      }
    }
  }

  /** The cell's 4 corners as (lon°, lat°) in CCW order (the published
    * GetVertex order: (uLo,vLo) → (uHi,vLo) → (uHi,vHi) → (uLo,vHi)).
    * Corners are EXACT uv-grid points, so two edge-adjacent same-level
    * cells on one face share bit-identical corner coordinates. */
  def cellCornersLonLat(id: Long): Array[(Double, Double)] = {
    val lvl = level(id)
    val shift = MaxLevel - lvl
    val (face, li, lj) = toFaceIj(id)
    val i0 = (li >>> shift).toLong << shift
    val j0 = (lj >>> shift).toLong << shift
    val size = 1L << shift
    val uLo = stToUv(i0.toDouble / (1L << MaxLevel))
    val uHi = stToUv((i0 + size).toDouble / (1L << MaxLevel))
    val vLo = stToUv(j0.toDouble / (1L << MaxLevel))
    val vHi = stToUv((j0 + size).toDouble / (1L << MaxLevel))
    Array((uLo, vLo), (uHi, vLo), (uHi, vHi), (uLo, vHi)).map { case (u, v) =>
      val (x, y, z) = xyzFromFaceUv(face, u, v)
      lonLatFromXyz(x, y, z)
    }
  }

  /** Conservative lat/lon rectangle bound of the cell: corner extremes
    * padded by the great-circle edge bulge (an edge of angular length θ
    * deviates from its endpoint chord by at most θ²/8 rad; face edges are
    * ≤ 1.3 rad at level 0, halving per level). Longitude pad divides by
    * cos(max |lat|); near-polar cells and cells CONTAINING a pole degrade
    * to the full longitude range (sound). Returns (minLon, minLat,
    * maxLon, maxLat); minLon > maxLon encodes an antimeridian-crossing
    * cell. Used for polygon-intersection pruning — a conservative SUPERSET
    * bound, so dropping cells whose rect misses the polygon is sound. */
  def cellRectBound(id: Long): (Double, Double, Double, Double) = {
    val lvl = level(id)
    val corners = cellCornersLonLat(id)
    val lats = corners.map(_._2)
    val lons = corners.map(_._1)
    val edgeRad = 1.3 / (1L << lvl).toDouble
    val bulgeRad = edgeRad * edgeRad / 8.0
    val bulgeDeg = math.toDegrees(bulgeRad)
    val containsNorth = contains(id, lonLatToCell(0.0, 90.0))
    val containsSouth = contains(id, lonLatToCell(0.0, -90.0))
    val minLat = if (containsSouth) -90.0 else math.max(-90.0, lats.min - bulgeDeg)
    val maxLat = if (containsNorth) 90.0 else math.min(90.0, lats.max + bulgeDeg)
    val maxAbsLat = math.max(math.abs(minLat), math.abs(maxLat))
    if (containsNorth || containsSouth || maxAbsLat > 89.5)
      return (-180.0, minLat, 180.0, maxLat)
    val lonPad = bulgeDeg / math.cos(math.toRadians(maxAbsLat))
    // antimeridian: corner lons spread > 180° means the cell wraps
    if (lons.max - lons.min > 180.0) {
      val east = lons.filter(_ < 0).max + lonPad // wrapped east edge (negative side)
      val west = lons.filter(_ >= 0).min - lonPad
      (west, minLat, east, maxLat) // minLon > maxLon: wrapped
    } else {
      (math.max(-180.0, lons.min - lonPad), minLat,
       math.min(180.0, lons.max + lonPad), maxLat)
    }
  }

  /** Polygon covering: [[coverBox]] of the polygon's bbox, TIGHTENED by
    * dropping cells whose conservative rect bound ([[cellRectBound]])
    * misses the polygon — the s2u twin of the gh arm's exact
    * rect∩polygon filter and H3U.polyfillPoly. Sound: the rect bound is a
    * superset of the cell, so only cells that cannot intersect the
    * polygon are dropped. Non-wrapped polygons. */
  def coverPolygon(rings: Array[Array[Double]], level: Int,
                   maxCells: Int = 1 << 20): Array[Long] = {
    val b = GeoMath.polygonBBox(rings)
    coverBox(b.minLon, b.minLat, b.maxLon, b.maxLat, level, maxCells).filter { c =>
      val (lo, la, hi, lb) = cellRectBound(c)
      if (lo <= hi) GeoMath.rectIntersectsPolygon(lo, la, hi, lb, rings)
      else // wrapped cell rect: split at the antimeridian, keep if either side hits
        GeoMath.rectIntersectsPolygon(lo, la, 180.0, lb, rings) ||
        GeoMath.rectIntersectsPolygon(-180.0, la, hi, lb, rings)
    }
  }
}
