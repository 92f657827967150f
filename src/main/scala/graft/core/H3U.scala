package graft.core

/** Uber-H3 BIT-COMPATIBLE cell index (SURVEY.md §10.1, round-3).
  *
  * This is a from-scratch implementation of the PUBLISHED H3 algorithm
  * (gnomonic projection per icosahedron face, Class II/III aperture-7 hex
  * lattices, 122 base cells, 15×3-bit digit index layout). Two small
  * constant tables are transcribed from the public H3 specification (the
  * 20 face-center coordinates and the 20 face i-axis azimuths); EVERYTHING
  * ELSE — icosahedron vertices, face adjacency + inter-face lattice
  * transforms, the 122-entry base-cell table (numbering, home faces,
  * pentagon flags), the (face, ijk) → (base cell, rotation) lookup, and
  * the pentagon clockwise-offset faces — is DERIVED geometrically at class
  * load and cross-checked:
  *
  *  - the face tables must reproduce exact icosahedral geometry (unit
  *    centers, 3 neighbors each at the icosahedral angle, axis azimuths
  *    pointing at derived vertices) — a transcription error fails loudly;
  *  - base-cell numbering is descending center latitude, which must place
  *    the 12 pentagons at the PUBLISHED indices {4,14,24,38,49,58,63,72,
  *    83,97,107,117} — a strong global checksum of the derivation;
  *  - the (face, ijk) lookup rotations are CALIBRATED from decode (which
  *    is table-free beyond the base-cell homes) by exhaustive round-trip
  *    agreement, then verified cell-for-cell at res 1..2;
  *  - published golden vectors (H3Spec) pin the end-to-end bit layout.
  *
  * Verification boundary (honest): golden vectors validate interior-cell
  * paths end-to-end; the home-face orientation of the 42 face-boundary
  * base cells follows the derived rule reproduced against a recalled
  * fragment of the published table and exhaustive internal round-trips,
  * but has no independent oracle in this sandbox.
  *
  * Id layout: [0:1][mode:4=1][rsvd:3][res:4][baseCell:7][digit1..15:3],
  * unused digits = 7 — identical to H3's H3Index.
  */
object H3U {
  final val MaxRes = 15
  final val NumBaseCells = 122

  // ---------------------------------------------------------------- layout
  @inline def resolution(id: Long): Int = ((id >>> 52) & 0xFL).toInt
  @inline def baseCellOf(id: Long): Int = ((id >>> 45) & 0x7FL).toInt
  @inline def digit(id: Long, r: Int): Int = ((id >>> ((15 - r) * 3)) & 0x7L).toInt
  @inline private def withDigit(id: Long, r: Int, d: Int): Long = {
    val off = (15 - r) * 3
    (id & ~(0x7L << off)) | (d.toLong << off)
  }
  /** mode-1 index with all digits 7 (to be filled per res). */
  private def initId(res: Int, baseCell: Int): Long =
    (1L << 59) | (res.toLong << 52) | (baseCell.toLong << 45) | ((1L << 45) - 1)

  def isValid(id: Long): Boolean = {
    if ((id >>> 63) != 0 || ((id >>> 59) & 0xF) != 1 || ((id >>> 56) & 0x7) != 0) return false
    val res = resolution(id)
    if (res > MaxRes || baseCellOf(id) >= NumBaseCells) return false
    var r = 1
    var seenNonZero = false
    while (r <= res) {
      val d = digit(id, r)
      if (d == 7) return false
      if (d == 1 && !seenNonZero && isPentagonBase(baseCellOf(id))) return false // deleted K subseq
      if (d != 0) seenNonZero = true
      r += 1
    }
    while (r <= MaxRes) { if (digit(id, r) != 7) return false; r += 1 }
    true
  }

  /** Canonical lowercase-hex H3 token (leading zero nibble dropped). */
  def token(id: Long): String = java.lang.Long.toHexString(id)
  def fromToken(s: String): Long = java.lang.Long.parseUnsignedLong(s, 16)

  // ------------------------------------------------------------ constants
  private final val Epsilon = 1e-16
  /** res-0 unit length in gnomonic space (published H3 constant). */
  private final val Res0UGnomonic = 0.38196601125010500003
  private final val Sqrt7 = 2.6457513110645905905016157536392604257102
  /** Class III rotation asin(sqrt(3/28)) (published H3 constant). */
  private final val Ap7RotRads = 0.333473172251832115336090755351601070065900389
  private final val Sin60 = 0.8660254037844386467637231707529361834714

  @inline private def isClassIII(res: Int): Boolean = (res & 1) == 1
  @inline private def posAngle(a: Double): Double = {
    val t = if (a < 0.0) a + 2.0 * math.Pi else a
    if (t >= 2.0 * math.Pi) t - 2.0 * math.Pi else t
  }
  @inline private def constrainLng(l: Double): Double = {
    var x = l
    while (x > math.Pi) x -= 2.0 * math.Pi
    while (x < -math.Pi) x += 2.0 * math.Pi
    x
  }

  /** Icosahedron face centers (lat, lng) in radians — transcribed from the
    * public H3 spec (faceCenterGeo, faceijk.c); validated below against
    * exact icosahedral geometry. */
  private val faceCenterGeo: Array[Array[Double]] = Array(
    Array(0.803582649718989942, 1.248397419617396099),
    Array(1.307747883455638156, 2.536945009877921159),
    Array(1.054751253523952054, -1.347517358900396623),
    Array(0.600191595538186799, -0.450603909469755746),
    Array(0.491715428198773866, 0.401988202911306943),
    Array(0.172745327415618701, 1.678146885280433686),
    Array(0.605929321571350690, 2.953923329812411617),
    Array(0.427370518328979641, -1.888876200336285401),
    Array(-0.079066118549212831, -0.733429513380867741),
    Array(-0.230961644455383637, 0.506495587332349035),
    Array(0.079066118549212831, 2.408163140208925497),
    Array(0.230961644455383637, -2.635097066257444203),
    Array(-0.172745327415618701, -1.463445768309359553),
    Array(-0.605929321571350690, -0.187669323777381622),
    Array(-0.427370518328979641, 1.252716453253507838),
    Array(-0.600191595538186799, 2.690988744120037492),
    Array(-0.491715428198773866, -2.739604450678486295),
    Array(-0.803582649718989942, -1.893195233972397139),
    Array(-1.307747883455638156, -0.604647643711872080),
    Array(-1.054751253523952054, 1.794075294689396615))

  /** Face i-axis (Class II) azimuth from each face center, radians —
    * transcribed from the public H3 spec (faceAxesAzRadsCII[.][0]); the
    * j/k axes are this minus 2π/3 and 4π/3. Validated below: each must be
    * the azimuth to a derived icosahedron vertex. */
  private val faceAxesAzI: Array[Double] = Array(
    5.619958268523939882, 5.760339081714187279, 0.780213654393430055,
    0.430469363979999913, 6.130269123335111400, 2.692877706530642877,
    2.982963003477243874, 3.532912002790141181, 3.494305004259568154,
    3.003214169499538391, 5.930472956509811562, 0.138378484090254847,
    0.448714947059150361, 0.158629650112549365, 5.891865957979238535,
    2.711123289609793325, 3.294508837434268316, 3.804819692245439833,
    3.664438879055192436, 2.361378999196363184)

  // -------------------------------------------------- spherical primitives
  @inline private def toXyz(lat: Double, lng: Double): Array[Double] =
    Array(math.cos(lat) * math.cos(lng), math.cos(lat) * math.sin(lng), math.sin(lat))
  @inline private def sqDist(a: Array[Double], b: Array[Double]): Double = {
    val dx = a(0) - b(0); val dy = a(1) - b(1); val dz = a(2) - b(2)
    dx * dx + dy * dy + dz * dz
  }
  /** Initial bearing p1 → p2 (published H3 _geoAzimuthRads form). */
  private def azimuth(lat1: Double, lng1: Double, lat2: Double, lng2: Double): Double =
    math.atan2(math.cos(lat2) * math.sin(lng2 - lng1),
      math.cos(lat1) * math.sin(lat2) -
        math.sin(lat1) * math.cos(lat2) * math.cos(lng2 - lng1))

  /** Destination point at (azimuth az, angular distance r) from p1
    * (published H3 _geoAzDistanceRads form, including its pole handling). */
  private def azDistance(lat1: Double, lng1: Double, azIn: Double, r: Double): Array[Double] = {
    if (r < Epsilon) return Array(lat1, lng1)
    val az = posAngle(azIn)
    if (az < Epsilon || math.abs(az - math.Pi) < Epsilon) { // due north/south
      val lat = if (az < Epsilon) lat1 + r else lat1 - r
      if (math.abs(lat - math.Pi / 2) < Epsilon) Array(math.Pi / 2, 0.0)
      else if (math.abs(lat + math.Pi / 2) < Epsilon) Array(-math.Pi / 2, 0.0)
      else Array(lat, constrainLng(lng1))
    } else {
      var sinlat = math.sin(lat1) * math.cos(r) + math.cos(lat1) * math.sin(r) * math.cos(az)
      if (sinlat > 1.0) sinlat = 1.0
      if (sinlat < -1.0) sinlat = -1.0
      val lat = math.asin(sinlat)
      if (math.abs(lat - math.Pi / 2) < Epsilon) Array(math.Pi / 2, 0.0)
      else if (math.abs(lat + math.Pi / 2) < Epsilon) Array(-math.Pi / 2, 0.0)
      else {
        var sinlng = math.sin(az) * math.sin(r) / math.cos(lat)
        var coslng = (math.cos(r) - math.sin(lat1) * math.sin(lat)) /
          (math.cos(lat1) * math.cos(lat))
        if (sinlng > 1.0) sinlng = 1.0
        if (sinlng < -1.0) sinlng = -1.0
        if (coslng > 1.0) coslng = 1.0
        if (coslng < -1.0) coslng = -1.0
        Array(lat, constrainLng(lng1 + math.atan2(sinlng, coslng)))
      }
    }
  }

  private val faceCenterXyz: Array[Array[Double]] =
    faceCenterGeo.map(g => toXyz(g(0), g(1)))

  // ------------------------------------------- derived icosahedron geometry
  // Validation of the transcribed tables + derivation of vertices and face
  // adjacency. All exact icosahedral invariants are checked with require().
  /** faces adjacent to f (exactly 3, at the icosahedral face-center angle). */
  private val faceAdj: Array[Array[Int]] = {
    // adjacent face centers of an icosahedron: dot = sqrt(5)/3
    val adjDot = math.sqrt(5.0) / 3.0
    val adj = Array.tabulate(20) { f =>
      (0 until 20).filter { g =>
        g != f && math.abs(
          faceCenterXyz(f)(0) * faceCenterXyz(g)(0) +
          faceCenterXyz(f)(1) * faceCenterXyz(g)(1) +
          faceCenterXyz(f)(2) * faceCenterXyz(g)(2) - adjDot) < 1e-9
      }.toArray
    }
    adj.zipWithIndex.foreach { case (a, f) =>
      require(a.length == 3, s"face $f has ${a.length} neighbors (faceCenterGeo transcription error?)")
    }
    adj
  }

  /** 12 icosahedron vertices, derived from face centers: for each adjacent
    * face pair the shared edge's endpoints solve v = a(c1+c2) ± b(c1×c2). */
  private val vertices: Array[Array[Double]] = {
    // vertex-to-adjacent-face-center angle γ for a unit icosahedron:
    // cos γ = sqrt((7 + 2*sqrt(5)) / 15)  — derived from the standard
    // (0, ±1, ±φ) model below, numerically.
    val phi = (1.0 + math.sqrt(5.0)) / 2.0
    val vStd = Array(0.0, 1.0, phi).map(_ / math.sqrt(1.0 + phi * phi))
    val cStd = { // centroid of face {(0,1,φ), (0,-1,φ), (φ,0,1)} normalized
      val a = Array(0.0, 1.0, phi); val b = Array(0.0, -1.0, phi); val c = Array(phi, 0.0, 1.0)
      val s = Array(a(0) + b(0) + c(0), a(1) + b(1) + c(1), a(2) + b(2) + c(2))
      val n = math.sqrt(s(0) * s(0) + s(1) * s(1) + s(2) * s(2))
      s.map(_ / n)
    }
    val cosGamma = vStd(0) * cStd(0) + vStd(1) * cStd(1) + vStd(2) * cStd(2)
    val found = scala.collection.mutable.ArrayBuffer[Array[Double]]()
    for (f <- 0 until 20; g <- faceAdj(f) if g > f) {
      val c1 = faceCenterXyz(f); val c2 = faceCenterXyz(g)
      val s = Array(c1(0) + c2(0), c1(1) + c2(1), c1(2) + c2(2))
      val x = Array(c1(1) * c2(2) - c1(2) * c2(1), c1(2) * c2(0) - c1(0) * c2(2),
        c1(0) * c2(1) - c1(1) * c2(0))
      // v = a*s + b*x with |v| = 1 and v·c1 = cosGamma
      val ss = s(0) * s(0) + s(1) * s(1) + s(2) * s(2)
      val xx = x(0) * x(0) + x(1) * x(1) + x(2) * x(2)
      val sc1 = s(0) * c1(0) + s(1) * c1(1) + s(2) * c1(2)
      val a = cosGamma / sc1 // v·c1 = a * s·c1 (x ⊥ c1)
      val b = math.sqrt(math.max(0.0, (1.0 - a * a * ss) / xx))
      Seq(b, -b).foreach { bb =>
        val v = Array(a * s(0) + bb * x(0), a * s(1) + bb * x(1), a * s(2) + bb * x(2))
        if (!found.exists(w => sqDist(w, v) < 1e-12)) found += v
      }
    }
    require(found.length == 12, s"derived ${found.length} icosahedron vertices, expected 12")
    found.toArray
  }

  @inline private def xyzToLatLng(v: Array[Double]): Array[Double] =
    Array(math.atan2(v(2), math.sqrt(v(0) * v(0) + v(1) * v(1))), math.atan2(v(1), v(0)))

  /** vertex id at the end of each face's i/j/k axis (axis azimuths az,
    * az-2π/3, az-4π/3). Also validates the transcribed azimuth table:
    * every axis azimuth must point at one of the face's 3 vertices. */
  private val faceAxisVertex: Array[Array[Int]] = Array.tabulate(20) { f =>
    val g = faceCenterGeo(f)
    val myVerts = (0 until 12).filter { vi =>
      val d = faceCenterXyz(f)(0) * vertices(vi)(0) + faceCenterXyz(f)(1) * vertices(vi)(1) +
        faceCenterXyz(f)(2) * vertices(vi)(2)
      d > 0.79 // cos γ ≈ 0.7947; next-nearest vertices are much further
    }
    require(myVerts.length == 3, s"face $f sees ${myVerts.length} corner vertices")
    (0 until 3).map { axis =>
      val az = posAngle(faceAxesAzI(f) - axis * (2.0 * math.Pi / 3.0))
      val hit = myVerts.filter { vi =>
        val vg = xyzToLatLng(vertices(vi))
        val d = math.abs(posAngle(azimuth(g(0), g(1), vg(0), vg(1))) - az)
        math.min(d, 2.0 * math.Pi - d) < 1e-9
      }
      require(hit.length == 1,
        s"face $f axis $axis azimuth matches ${hit.length} vertices (faceAxesAzI transcription error?)")
      hit.head
    }.toArray
  }

  // ------------------------------------------------------------- CoordIJK
  // Mutable ijk coords (published H3 coordijk.c forms). Values fit Int
  // through res 16 substrate (max dim 2*3*7^8 < 2^31).
  final class IJK(var i: Int, var j: Int, var k: Int) {
    def copyIJK: IJK = new IJK(i, j, k)
    def set(a: Int, b: Int, c: Int): Unit = { i = a; j = b; k = c }
    def setFrom(o: IJK): Unit = { i = o.i; j = o.j; k = o.k }
    def sum: Int = i + j + k
    override def toString = s"($i,$j,$k)"
    override def equals(o: Any): Boolean = o match {
      case x: IJK => x.i == i && x.j == j && x.k == k
      case _ => false
    }
    override def hashCode: Int = (i * 31 + j) * 31 + k
  }

  private def ijkNormalize(c: IJK): Unit = {
    if (c.i < 0) { c.j -= c.i; c.k -= c.i; c.i = 0 }
    if (c.j < 0) { c.i -= c.j; c.k -= c.j; c.j = 0 }
    if (c.k < 0) { c.i -= c.k; c.j -= c.k; c.k = 0 }
    var m = c.i; if (c.j < m) m = c.j; if (c.k < m) m = c.k
    if (m > 0) { c.i -= m; c.j -= m; c.k -= m }
  }
  private def ijkAdd(a: IJK, b: IJK, out: IJK): Unit =
    out.set(a.i + b.i, a.j + b.j, a.k + b.k)
  private def ijkSub(a: IJK, b: IJK, out: IJK): Unit =
    out.set(a.i - b.i, a.j - b.j, a.k - b.k)
  private def ijkScale(c: IJK, f: Int): Unit = { c.i *= f; c.j *= f; c.k *= f }

  private def ijkRotate60ccw(c: IJK): Unit = {
    // i → i+j, j → j+k, k → i+k (published unit-vector images)
    val ni = c.i + c.k; val nj = c.i + c.j; val nk = c.j + c.k
    c.set(nj, nk, ni) // i*{1,1,0} + j*{0,1,1} + k*{1,0,1}
    ijkNormalize(c)
  }
  private def ijkRotate60cw(c: IJK): Unit = {
    // i*{1,0,1} + j*{1,1,0} + k*{0,1,1}
    val ni = c.i + c.j; val nj = c.j + c.k; val nk = c.i + c.k
    c.set(ni, nj, nk)
    ijkNormalize(c)
  }

  // digit ↔ unit ijk (published UNIT_VECS order: CENTER,K,J,JK,I,IK,IJ)
  private val unitI = Array(0, 0, 0, 0, 1, 1, 1)
  private val unitJ = Array(0, 0, 1, 1, 0, 0, 1)
  private val unitK = Array(0, 1, 0, 1, 0, 1, 0)
  private def neighborMove(c: IJK, d: Int): Unit = {
    if (d > 0 && d < 7) { c.set(c.i + unitI(d), c.j + unitJ(d), c.k + unitK(d)); ijkNormalize(c) }
  }
  private def unitIjkToDigit(c: IJK): Int = {
    val n = c.copyIJK; ijkNormalize(n)
    var d = 0
    while (d < 7) {
      if (unitI(d) == n.i && unitJ(d) == n.j && unitK(d) == n.k) return d
      d += 1
    }
    -1
  }

  private def upAp7(c: IJK): Unit = { // ccw aggregation
    val i = c.i - c.k; val j = c.j - c.k
    c.set(math.round((3 * i - j) / 7.0).toInt, math.round((i + 2 * j) / 7.0).toInt, 0)
    ijkNormalize(c)
  }
  private def upAp7r(c: IJK): Unit = { // cw aggregation
    val i = c.i - c.k; val j = c.j - c.k
    c.set(math.round((2 * i + j) / 7.0).toInt, math.round((3 * j - i) / 7.0).toInt, 0)
    ijkNormalize(c)
  }
  private def downAp7(c: IJK): Unit = { // i*{3,0,1} j*{1,3,0} k*{0,1,3}
    val ni = c.i * 3 + c.j * 1 + c.k * 0
    val nj = c.i * 0 + c.j * 3 + c.k * 1
    val nk = c.i * 1 + c.j * 0 + c.k * 3
    c.set(ni, nj, nk); ijkNormalize(c)
  }
  private def downAp7r(c: IJK): Unit = { // i*{3,1,0} j*{0,3,1} k*{1,0,3}
    val ni = c.i * 3 + c.j * 0 + c.k * 1
    val nj = c.i * 1 + c.j * 3 + c.k * 0
    val nk = c.i * 0 + c.j * 1 + c.k * 3
    c.set(ni, nj, nk); ijkNormalize(c)
  }

  // ------------------------------------------------------- hex2d ↔ CoordIJK
  private def ijkToHex2d(c: IJK): Array[Double] = {
    val i = c.i - c.k; val j = c.j - c.k
    Array(i - 0.5 * j, j * Sin60)
  }

  /** Nearest-hex rounding (published H3 _hex2dToCoordIJK). */
  private def hex2dToCoordIJK(x0: Double, y0: Double, h: IJK): Unit = {
    h.k = 0
    val a1 = math.abs(x0); val a2 = math.abs(y0)
    val x2 = a2 / Sin60
    val x1 = a1 + x2 / 2.0
    val m1 = x1.toInt; val m2 = x2.toInt
    val r1 = x1 - m1; val r2 = x2 - m2
    if (r1 < 0.5) {
      if (r1 < 1.0 / 3.0) {
        if (r2 < (1.0 + r1) / 2.0) { h.i = m1; h.j = m2 }
        else { h.i = m1; h.j = m2 + 1 }
      } else {
        h.j = if (r2 < (1.0 - r1)) m2 else m2 + 1
        h.i = if ((1.0 - r1) <= r2 && r2 < (2.0 * r1)) m1 + 1 else m1
      }
    } else {
      if (r1 < 2.0 / 3.0) {
        h.j = if (r2 < (1.0 - r1)) m2 else m2 + 1
        h.i = if ((2.0 * r1 - 1.0) < r2 && r2 < (1.0 - r1)) m1 else m1 + 1
      } else {
        if (r2 < (r1 / 2.0)) { h.i = m1 + 1; h.j = m2 }
        else { h.i = m1 + 1; h.j = m2 + 1 }
      }
    }
    // fold across the axes if necessary
    if (x0 < 0.0) {
      if ((h.j % 2) == 0) {
        val axisi = h.j / 2
        val diff = h.i - axisi
        h.i = h.i - 2 * diff
      } else {
        val axisi = (h.j + 1) / 2
        val diff = h.i - axisi
        h.i = h.i - (2 * diff + 1)
      }
    }
    if (y0 < 0.0) {
      h.i = h.i - (2 * h.j + 1) / 2
      h.j = -h.j
    }
    ijkNormalize(h)
  }

  // ------------------------------------------------------- FaceIJK ↔ geo
  final class FaceIJK(var face: Int, val coord: IJK)

  /** geo → (face, hex2d) at res (published _geoToHex2d). */
  /** Published-form projection (kept as the validation reference; the hot
    * path below is algebraically identical with the transcendentals
    * eliminated — H3USpec asserts cell-level agreement). */
  private def geoToHex2dRef(lat: Double, lng: Double, res: Int): (Int, Double, Double) = {
    val p = toXyz(lat, lng)
    var face = 0; var sqd = sqDist(faceCenterXyz(0), p)
    var f = 1
    while (f < 20) {
      val d = sqDist(faceCenterXyz(f), p)
      if (d < sqd) { face = f; sqd = d }
      f += 1
    }
    var r = math.acos(1.0 - sqd / 2.0)
    if (r < Epsilon) return (face, 0.0, 0.0)
    var theta = posAngle(faceAxesAzI(face) -
      posAngle(azimuth(faceCenterGeo(face)(0), faceCenterGeo(face)(1), lat, lng)))
    if (isClassIII(res)) theta = posAngle(theta - Ap7RotRads)
    r = math.tan(r) / Res0UGnomonic
    var i = 0
    while (i < res) { r *= Sqrt7; i += 1 }
    (face, r * math.cos(theta), r * math.sin(theta))
  }

  // per-face constants for the trig-free projection: sin/cos of the face
  // center, and cos/sin of the i-axis azimuth per resolution class (Class
  // III subtracts the aperture-7 rotation)
  private val faceSinLat = faceCenterGeo.map(g => math.sin(g(0)))
  private val faceCosLat = faceCenterGeo.map(g => math.cos(g(0)))
  private val faceSinLng = faceCenterGeo.map(g => math.sin(g(1)))
  private val faceCosLng = faceCenterGeo.map(g => math.cos(g(1)))
  private val faceAzCosII = faceAxesAzI.map(math.cos)
  private val faceAzSinII = faceAxesAzI.map(math.sin)
  private val faceAzCosIII = faceAxesAzI.map(a => math.cos(a - Ap7RotRads))
  private val faceAzSinIII = faceAxesAzI.map(a => math.sin(a - Ap7RotRads))

  /** Hot-path projection — algebraically equal to [[geoToHex2dRef]] with
    * every transcendental after the initial sin/cos(lat), sin/cos(lng)
    * removed: with X, Y the point's north/east tangent components at the
    * face center (‖(X,Y)‖ = sin r) and c = cos r its dot with the center,
    * tan(r)/sin(r) = 1/c, so
    *   v = (√7^res / (u₀ c)) · (cosA·X + sinA·Y, sinA·X − cosA·Y)
    * with (cosA, sinA) the precomputed i-axis azimuth components. */
  private def geoToHex2d(lat: Double, lng: Double, res: Int): (Int, Double, Double) = {
    val sinLat = math.sin(lat); val cosLat = math.cos(lat)
    val sinLng = math.sin(lng); val cosLng = math.cos(lng)
    val px = cosLat * cosLng; val py = cosLat * sinLng; val pz = sinLat
    var face = 0
    var best = faceCenterXyz(0)(0) * px + faceCenterXyz(0)(1) * py + faceCenterXyz(0)(2) * pz
    var f = 1
    while (f < 20) {
      val d = faceCenterXyz(f)(0) * px + faceCenterXyz(f)(1) * py + faceCenterXyz(f)(2) * pz
      if (d > best) { face = f; best = d } // max dot == min chord distance
      f += 1
    }
    val c = best
    if (1.0 - c < Epsilon * Epsilon / 2.0) return (face, 0.0, 0.0)
    val sinDl = sinLng * faceCosLng(face) - cosLng * faceSinLng(face)
    val cosDl = cosLng * faceCosLng(face) + sinLng * faceSinLng(face)
    val xN = faceCosLat(face) * sinLat - faceSinLat(face) * cosLat * cosDl // north
    val yE = cosLat * sinDl                                               // east
    val cA = if (isClassIII(res)) faceAzCosIII(face) else faceAzCosII(face)
    val sA = if (isClassIII(res)) faceAzSinIII(face) else faceAzSinII(face)
    var scale = 1.0 / (Res0UGnomonic * c)
    var i = 0
    while (i < res) { scale *= Sqrt7; i += 1 }
    (face, scale * (cA * xN + sA * yE), scale * (sA * xN - cA * yE))
  }

  /** (face, hex2d) at res → geo (published _hex2dToGeo; substrate scales
    * down by 3 and one more Sqrt7 for Class III). */
  private def hex2dToGeo(face: Int, x: Double, y: Double, res: Int,
                         substrate: Boolean): Array[Double] = {
    var r = math.sqrt(x * x + y * y)
    if (r < Epsilon)
      return Array(faceCenterGeo(face)(0), faceCenterGeo(face)(1))
    var theta = math.atan2(y, x)
    var i = 0
    while (i < res) { r /= Sqrt7; i += 1 }
    if (substrate) {
      r /= 3.0
      if (isClassIII(res)) r /= Sqrt7
    }
    r = math.atan(r * Res0UGnomonic)
    if (!substrate && isClassIII(res)) theta += Ap7RotRads
    theta = posAngle(faceAxesAzI(face) - theta)
    azDistance(faceCenterGeo(face)(0), faceCenterGeo(face)(1), theta, r)
  }

  private def faceIjkToGeo(fijk: FaceIJK, res: Int): Array[Double] = {
    val v = ijkToHex2d(fijk.coord)
    hex2dToGeo(fijk.face, v(0), v(1), res, substrate = false)
  }

  // --------------------------------------------- face neighbor transforms
  // Directions into adjacent faces (published faceNeighbors semantics):
  // quadrant IJ (k == 0), KI (k > 0, j == 0), JK (j > 0, k > 0). Entry:
  // (face', ccwRot60, translate in res-0 units) such that
  // coords(f') = rot60ccw^ccwRot60(coords(f)) + translate * unitScale.
  // DERIVED here from the shared-edge vertex anchors instead of transcribed:
  // the two edge endpoints are lattice points (2 on one axis) in BOTH
  // frames, which pins the unique hex isometry.
  private final val DirIJ = 0; private final val DirKI = 1; private final val DirJK = 2
  private case class FaceOrient(face: Int, ccwRot60: Int, transI: Int, transJ: Int, transK: Int)

  private def axisEndpoint(axis: Int): IJK = axis match {
    case 0 => new IJK(2, 0, 0)
    case 1 => new IJK(0, 2, 0)
    case _ => new IJK(0, 0, 2)
  }

  private val faceNeighbors: Array[Array[FaceOrient]] = Array.tabulate(20) { f =>
    (0 until 3).map { dir =>
      // edge endpoints by axis pair: IJ → (i,j), KI → (k,i), JK → (j,k)
      val (a1, a2) = dir match {
        case DirIJ => (0, 1)
        case DirKI => (2, 0)
        case _     => (1, 2)
      }
      val v1 = faceAxisVertex(f)(a1); val v2 = faceAxisVertex(f)(a2)
      val g = faceAdj(f).find(o =>
        faceAxisVertex(o).contains(v1) && faceAxisVertex(o).contains(v2)).getOrElse(
        throw new IllegalStateException(s"no face shares edge $v1-$v2 with $f"))
      val p1 = axisEndpoint(a1); val p2 = axisEndpoint(a2)
      val q1 = axisEndpoint(faceAxisVertex(g).indexOf(v1))
      val q2 = axisEndpoint(faceAxisVertex(g).indexOf(v2))
      // find rot count k: rot^k(p1) - rot^k(p2) == q1 - q2 (translation-free)
      val sols = (0 until 6).flatMap { k =>
        val r1 = p1.copyIJK; val r2 = p2.copyIJK
        (0 until k).foreach(_ => { ijkRotate60ccw(r1); ijkRotate60ccw(r2) })
        val d = new IJK(0, 0, 0); ijkSub(q1, r1, d)
        val d2 = new IJK(0, 0, 0); ijkSub(q2, r2, d2)
        if (d.i == d2.i && d.j == d2.j && d.k == d2.k) Some((k, d)) else None
      }
      require(sols.length == 1, s"face $f dir $dir: ${sols.length} isometry solutions")
      val (rot, t) = sols.head
      FaceOrient(g, rot, t.i, t.j, t.k)
    }.toArray
  }

  // ------------------------------------------------------ overage crossing
  private final val NoOverage = 0
  private final val NewFace = 1

  private final val FaceEdge = 2

  /** Published _adjustOverageClassII: move coords that overflow a face onto
    * the adjacent face. res must be Class II; `substrate` triples the grid
    * (the 3x-finer vertex lattice used by cell boundaries). */
  private def adjustOverage(fijk: FaceIJK, res: Int, pentLeading4: Boolean,
                            substrate: Boolean = false): Int = {
    var maxDim = 2 * pow7(res / 2)
    if (substrate) maxDim *= 3
    val ijk = fijk.coord
    if (substrate && ijk.sum == maxDim) return FaceEdge
    if (ijk.sum <= maxDim) return NoOverage
    val orient =
      if (ijk.k > 0) {
        if (ijk.j > 0) faceNeighbors(fijk.face)(DirJK)
        else {
          val o = faceNeighbors(fijk.face)(DirKI)
          if (pentLeading4) {
            // rotate out of the pentagon's missing k-axes sub-sequence:
            // translate to the vertex origin, rotate cw, translate back
            val origin = new IJK(maxDim, 0, 0)
            val tmp = new IJK(0, 0, 0)
            ijkSub(ijk, origin, tmp)
            ijkRotate60cw(tmp)
            ijkAdd(tmp, origin, ijk)
          }
          o
        }
      } else faceNeighbors(fijk.face)(DirIJ)
    fijk.face = orient.face
    var i = 0
    while (i < orient.ccwRot60) { ijkRotate60ccw(ijk); i += 1 }
    val trans = new IJK(orient.transI, orient.transJ, orient.transK)
    ijkScale(trans, if (substrate) 3 * pow7(res / 2) else pow7(res / 2))
    ijkAdd(ijk, trans, ijk)
    ijkNormalize(ijk)
    if (substrate && ijk.sum == maxDim) FaceEdge else NewFace
  }

  @inline private def pow7(n: Int): Int = {
    var r = 1; var i = 0
    while (i < n) { r *= 7; i += 1 }
    r
  }

  // --------------------------------------------------- base cell derivation
  /** The 10 on-face res-0 lattice positions of every face. */
  private val onFacePositions: Array[IJK] = Array(
    new IJK(0, 0, 0),
    new IJK(1, 0, 0), new IJK(0, 1, 0), new IJK(0, 0, 1),
    new IJK(2, 0, 0), new IJK(0, 2, 0), new IJK(0, 0, 2),
    new IJK(1, 1, 0), new IJK(0, 1, 1), new IJK(1, 0, 1))

  private def isVertexPos(p: IJK): Boolean = p.i == 2 || p.j == 2 || p.k == 2

  /** Derived base-cell table: numbering by DESCENDING center latitude
    * (longitude ascending as tie-break), home face = lowest sharing face.
    * Validated by the published pentagon-index checksum below and by the
    * golden vectors in H3Spec. */
  private case class BaseCell(homeFace: Int, homeIJK: IJK, pentagon: Boolean,
                              center: Array[Double] /* lat, lng */)

  private val (baseCells: Array[BaseCell], cellAtPos: Map[(Int, Int, Int, Int), Int]) = {
    // canonical center of every on-face (face, position)
    val entries = for (f <- 0 until 20; p <- onFacePositions) yield {
      val g = faceIjkToGeo(new FaceIJK(f, p.copyIJK), 0)
      (f, p, g, toXyz(g(0), g(1)))
    }
    // dedup by 3D position
    val groups = scala.collection.mutable.ArrayBuffer[scala.collection.mutable.ArrayBuffer[(Int, IJK, Array[Double], Array[Double])]]()
    entries.foreach { e =>
      groups.find(g => sqDist(g.head._4, e._4) < 1e-12) match {
        case Some(g) => g += e
        case None => groups += scala.collection.mutable.ArrayBuffer(e)
      }
    }
    require(groups.length == NumBaseCells,
      s"derived ${groups.length} res-0 cells, expected $NumBaseCells")
    // number by descending latitude (ties: ascending longitude)
    val ordered = groups.sortBy(g => (-g.head._3(0), g.head._3(1)))
    val cells = ordered.map { g =>
      val pentagon = isVertexPos(g.head._2)
      // A pentagon's home MUST be a face whose I-AXIS endpoint is this
      // vertex: the published wedge conventions (adjustOverage's
      // origin = (maxDim, 0, 0), the leading-4/5 rotations) anchor the
      // deleted K subsequence to the i-axis position (2,0,0). Among the
      // eligible faces, lowest id; hexagon cells take the lowest sharer.
      val eligible =
        if (pentagon) {
          val iAxis = g.filter(e => e._2.i == 2)
          require(iAxis.nonEmpty, s"pentagon with no i-axis home among ${g.map(_._1)}")
          iAxis
        } else g
      val home = eligible.minBy(_._1)
      BaseCell(home._1, home._2.copyIJK, pentagon, home._3)
    }.toArray
    val lookup = ordered.zipWithIndex.flatMap { case (g, idx) =>
      g.map(e => (e._1, e._2.i, e._2.j, e._2.k) -> idx)
    }.toMap
    // published checksum: the 12 pentagons land at these indices
    val pentIdx = cells.zipWithIndex.collect { case (c, i) if c.pentagon => i }.toSeq
    require(pentIdx == Seq(4, 14, 24, 38, 49, 58, 63, 72, 83, 97, 107, 117),
      s"pentagon base cells at $pentIdx do not match the published H3 placement")
    (cells, lookup)
  }

  def isPentagonBase(cell: Int): Boolean = baseCells(cell).pentagon
  def isPentagon(id: Long): Boolean = {
    if (!isPentagonBase(baseCellOf(id))) return false
    var r = 1
    while (r <= resolution(id)) { if (digit(id, r) != 0) return false; r += 1 }
    true
  }

  // ---------------------------------------------------- whole-index rotation
  private def leadingNonZeroDigit(id: Long): Int = {
    var r = 1
    val res = resolution(id)
    while (r <= res) {
      val d = digit(id, r)
      if (d != 0) return d
      r += 1
    }
    0
  }
  // ccw: K→IK, J→JK, JK→K, I→IJ, IK→I, IJ→J (published _rotate60ccw)
  private val digitRotCcw = Array(0, 5, 3, 1, 6, 4, 2)
  private val digitRotCw  = Array(0, 3, 6, 2, 5, 1, 4)

  private def rotate60ccw(id0: Long): Long = {
    var id = id0
    val res = resolution(id)
    var r = 1
    while (r <= res) { id = withDigit(id, r, digitRotCcw(digit(id, r))); r += 1 }
    id
  }
  private def rotate60cw(id0: Long): Long = {
    var id = id0
    val res = resolution(id)
    var r = 1
    while (r <= res) { id = withDigit(id, r, digitRotCw(digit(id, r))); r += 1 }
    id
  }
  private def rotatePent60ccw(id0: Long): Long = {
    var id = id0
    val res = resolution(id)
    var foundFirst = false
    var r = 1
    while (r <= res) {
      id = withDigit(id, r, digitRotCcw(digit(id, r)))
      if (!foundFirst && digit(id, r) != 0) {
        foundFirst = true
        if (leadingNonZeroDigit(id) == 1) id = rotate60ccw(id) // skip deleted K axes
      }
      r += 1
    }
    id
  }

  // ----------------------------------------------------------------- decode
  /** Published _h3ToFaceIjk: digit walk from the base cell's home, then
    * overage adjustment onto the true containing face. */
  private def h3ToFaceIjk(id: Long): FaceIJK = {
    val fijk = digitFrameFaceIjk(id)
    val bc = baseCellOf(id)
    val home = baseCells(bc).homeIJK
    val res = resolution(id)
    val possibleOverage =
      isPentagonBase(bc) || !(res == 0 || (home.i == 0 && home.j == 0 && home.k == 0))
    if (!possibleOverage) return fijk
    val orig = fijk.coord.copyIJK
    var res2 = res
    if (isClassIII(res2)) { downAp7r(fijk.coord); res2 += 1 }
    val pentLeading4 = isPentagonBase(bc) && leadingNonZeroDigit(walkedId(id)) == 4
    if (adjustOverage(fijk, res2, pentLeading4) != NoOverage) {
      if (isPentagonBase(bc))
        while (adjustOverage(fijk, res2, pentLeading4 = false) != NoOverage) {}
      if (res2 != res) upAp7r(fijk.coord)
    } else if (res2 != res) fijk.coord.setFrom(orig)
    fijk
  }

  /** Cell center (lat°, lng°) — bit-compatible cellToLatLng. */
  def cellToLatLng(id: Long): (Double, Double) = {
    val g = faceIjkToGeo(h3ToFaceIjk(id), resolution(id))
    (math.toDegrees(g(0)), math.toDegrees(constrainLng(g(1))))
  }

  // ------------------------------------- (face, ijk) lookup — calibrated
  /** Encode lookup: res-0 landing (face, i, j, k) → (base cell, ccw
    * rotations), plus the pentagon leading-K cw-offset (base cell, face)
    * set. CALIBRATED from decode (which uses no lookup): every cell at
    * res 1..3 is decoded to its center, the center is run through the
    * encode front-end, and the landing entry must map raw digits to the
    * true digits; the solution is the intersection of the constraints of
    * every sample that lands there. Keys include positions BEYOND the face
    * triangle (per-axis ≤ 2 but sum > 2) — the up-walk lands there for
    * points near edges/corners, exactly like the published table. */
  /** Calibration inconsistencies (must be empty — asserted by H3USpec; kept
    * as data rather than an init-time throw so failures are debuggable). */
  @volatile private var calibrationConflictList: List[String] = Nil
  def calibrationConflicts: Seq[String] = { val _ = posLookup; calibrationConflictList }

  private val (posLookup: Map[(Int, Int, Int, Int), (Int, Int)], cwOffset: Set[(Int, Int)]) = {
    def frontEnd(lat: Double, lng: Double, res: Int): (Int, IJK, Array[Int]) = {
      val (face, x, y) = geoToHex2d(lat, lng, res)
      val c = new IJK(0, 0, 0)
      hex2dToCoordIJK(x, y, c)
      val digits = new Array[Int](res + 1)
      var r = res
      while (r >= 1) {
        val last = c.copyIJK
        val lastCenter = c.copyIJK
        if (isClassIII(r)) { upAp7(c); lastCenter.setFrom(c); downAp7(lastCenter) }
        else { upAp7r(c); lastCenter.setFrom(c); downAp7r(lastCenter) }
        val diff = new IJK(0, 0, 0)
        ijkSub(last, lastCenter, diff)
        ijkNormalize(diff)
        digits(r) = unitIjkToDigit(diff)
        r -= 1
      }
      (face, c, digits)
    }
    def digitSeq(id: Long): Seq[Int] = {
      val res = resolution(id)
      (1 to res).map(digit(id, _))
    }
    def applyRots(raw: Long, bc: Int, cw: Boolean, rots: Int): Long = {
      var h = raw
      if (isPentagonBase(bc)) {
        if (leadingNonZeroDigit(h) == 1)
          h = if (cw) rotate60cw(h) else rotate60ccw(h)
        var i = 0
        while (i < rots) { h = rotatePent60ccw(h); i += 1 }
      } else {
        var i = 0
        while (i < rots) { h = rotate60ccw(h); i += 1 }
      }
      h
    }
    def cellsAt(res: Int): Iterator[Long] = {
      def rec(id: Long, r: Int, allZero: Boolean): Iterator[Long] =
        if (r > res) Iterator.single(id)
        else {
          val skipK = isPentagonBase(baseCellOf(id)) && allZero
          (0 until 7).iterator.filter(d => !(skipK && d == 1)).flatMap(d =>
            rec(withDigit(id, r, d), r + 1, allZero && d == 0))
        }
      (0 until NumBaseCells).iterator.flatMap(bc =>
        rec(initId(res, bc), 1, allZero = true))
    }
    val cellOf = scala.collection.mutable.HashMap[(Int, Int, Int, Int), Int]()
    // rotation constraints per key: None = unconstrained yet
    val rotCand = scala.collection.mutable.HashMap[(Int, Int, Int, Int), Set[Int]]()
    // pentagon leading-K constraints per LANDING KEY: set of (cw, rots)
    val pentCand = scala.collection.mutable.HashMap[(Int, Int, Int, Int), Set[(Boolean, Int)]]()
    for (res <- 1 to 3; id <- cellsAt(res)) {
      val g = faceIjkToGeo(h3ToFaceIjk(id), res)
      val (face, landing, rawDigits) = frontEnd(g(0), g(1), res)
      require(landing.i <= 2 && landing.j <= 2 && landing.k <= 2,
        s"res-0 landing $landing out of table range for ${token(id)}")
      val bc = baseCellOf(id)
      val key = (face, landing.i, landing.j, landing.k)
      cellOf.get(key) match {
        case Some(prev) => if (prev != bc)
          calibrationConflictList ::= s"landing $key maps to base cells $prev and $bc"
        case None => cellOf(key) = bc
      }
      var raw = initId(res, bc)
      var r = 1
      while (r <= res) { raw = withDigit(raw, r, rawDigits(r)); r += 1 }
      val want = digitSeq(id)
      if (isPentagonBase(bc) && leadingNonZeroDigit(raw) == 1) {
        val sols = (for {
          cw <- Seq(false, true); rots <- 0 until 6
          if digitSeq(applyRots(raw, bc, cw, rots)) == want
        } yield (cw, rots)).toSet
        if (sols.isEmpty)
          calibrationConflictList ::= s"no pentagon solution at $key for ${token(id)}"
        val merged = pentCand.get(key).map(_.intersect(sols)).getOrElse(sols)
        if (merged.isEmpty)
          calibrationConflictList ::=
            s"pentagon leading-K conflict at $key: id ${token(id)}"
        else pentCand(key) = merged
      } else {
        val sols = (0 until 6).filter(rots =>
          digitSeq(applyRots(raw, bc, cw = false, rots)) == want).toSet
        if (sols.isEmpty)
          calibrationConflictList ::= s"no rotation solution at $key for ${token(id)}"
        val merged = rotCand.get(key).map(_.intersect(sols)).getOrElse(sols)
        if (merged.isEmpty)
          calibrationConflictList ::=
            s"rotation conflict at $key: id ${token(id)} raw ${digitSeq(raw)} " +
              s"want $want sols $sols had ${rotCand(key)}"
        else rotCand(key) = merged
      }
    }
    // resolve: rotation from the non-K constraints (unique after res≤3
    // coverage except all-zero-digit-only keys, where any value is valid
    // for everything sampled — pick the smallest); pentagon cw flag from
    // the (cw, rots) set filtered to the key's rotation.
    val lookup = cellOf.map { case (key, bc) =>
      val rot = rotCand.get(key) match {
        case Some(cands) =>
          // a key seen via BOTH branches must satisfy the pentagon
          // constraints too (cw flag is free here, rotation is not)
          pentCand.get(key) match {
            case Some(pc) =>
              val both = cands.intersect(pc.map(_._2))
              if (both.isEmpty) {
                calibrationConflictList ::= s"rot/pent constraint split at $key: $cands vs $pc"
                cands.min
              } else both.min
            case None => cands.min
          }
        case None =>
          // key only seen via pentagon leading-K samples
          pentCand(key).map(_._2).min
      }
      key -> (bc, rot)
    }.toMap
    // cw-offset per (base cell, face): the flag consistent with the SAME
    // key's resolved rotation, agreeing across every key of that face
    val cw = {
      val flags = scala.collection.mutable.HashMap[(Int, Int), Boolean]()
      pentCand.foreach { case (key, cands) =>
        val (bc, rot) = lookup(key)
        val fits = cands.filter(_._2 == rot).map(_._1)
        if (fits.size != 1)
          calibrationConflictList ::= s"pentagon cw-offset ambiguous at $key: $cands rot $rot"
        else {
          val bf = (bc, key._1)
          flags.get(bf) match {
            case Some(prev) if prev != fits.head =>
              calibrationConflictList ::= s"pentagon cw-offset disagreement at $bf"
            case _ => flags(bf) = fits.head
          }
        }
      }
      // NOTE: not `flags.collect { case (k, true) => k }` — collect on a
      // Map yielding tuples rebuilds a MAP, collapsing (bc, face) pairs by bc
      flags.iterator.filter(_._2).map(_._1).toSet
    }
    // cross-check: calibrated lookup agrees with the geometric on-face map
    cellAtPos.foreach { case (key, cell) =>
      lookup.get(key).foreach { case (c, _) =>
        if (c != cell) calibrationConflictList ::= s"lookup/cellAtPos disagree at $key: $c vs $cell"
      }
    }
    (lookup, cw)
  }

  // Flat hot-path forms of the calibrated lookup: index = ((face*3+i)*3+j)*3+k
  // (each coord 0..2), cell -1 = position never produced by the up-walk.
  private val lookupCell: Array[Int] = {
    val a = Array.fill(20 * 27)(-1)
    posLookup.foreach { case ((f, i, j, k), (cell, _)) => a(((f * 3 + i) * 3 + j) * 3 + k) = cell }
    a
  }
  private val lookupRot: Array[Int] = {
    val a = Array.fill(20 * 27)(0)
    posLookup.foreach { case ((f, i, j, k), (_, rot)) => a(((f * 3 + i) * 3 + j) * 3 + k) = rot }
    a
  }
  private val cwOffsetFlat: Array[Boolean] = {
    val a = Array.fill(NumBaseCells * 20)(false)
    cwOffset.foreach { case (bc, f) => a(bc * 20 + f) = true }
    a
  }

  // ----------------------------------------------------------------- encode
  /** Encode via the published-form projection — validation twin of
    * [[latLngToCell]] (H3USpec asserts agreement). */
  private[core] def latLngToCellRef(latDeg: Double, lngDeg: Double, res: Int): Long =
    encodeFrom(geoToHex2dRef(math.toRadians(latDeg), math.toRadians(lngDeg), res), res)

  /** (lat°, lng°) → cell id at res — bit-compatible latLngToCell. */
  def latLngToCell(latDeg: Double, lngDeg: Double, res: Int): Long = {
    require(res >= 0 && res <= MaxRes, s"res must be 0..$MaxRes, got $res")
    encodeFrom(geoToHex2d(math.toRadians(latDeg), math.toRadians(lngDeg), res), res)
  }

  private def encodeFrom(projected: (Int, Double, Double), res: Int): Long = {
    val (face, x, y) = projected
    val c = new IJK(0, 0, 0)
    hex2dToCoordIJK(x, y, c)
    encodeFromIjk(face, c, res)
  }

  /** Lattice-only encode: (face, ijk at res) → id via the aperture-7
    * up-walk + calibrated res-0 lookup — the projection-free tail of
    * [[encodeFrom]]. MUTATES `c` (callers pass a scratch copy). Used by
    * [[neighbors]] to canonicalize a lattice step without the
    * geo round-trip (no transcendentals). */
  private def encodeFromIjk(face: Int, c: IJK, res: Int): Long = {
    if (res == 0) {
      val idx = ((face * 3 + c.i) * 3 + c.j) * 3 + c.k
      val cell = if (c.i <= 2 && c.j <= 2 && c.k <= 2) lookupCell(idx) else -1
      if (cell < 0) throw new IllegalStateException(s"res-0 landing $c uncalibrated on face $face")
      return initId(0, cell)
    }
    val digits = new Array[Int](res + 1)
    var r = res
    while (r >= 1) {
      val last = c.copyIJK
      val lastCenter = c.copyIJK
      if (isClassIII(r)) { upAp7(c); lastCenter.setFrom(c); downAp7(lastCenter) }
      else { upAp7r(c); lastCenter.setFrom(c); downAp7r(lastCenter) }
      val diff = new IJK(0, 0, 0)
      ijkSub(last, lastCenter, diff)
      ijkNormalize(diff)
      digits(r) = unitIjkToDigit(diff)
      r -= 1
    }
    val idx = if (c.i <= 2 && c.j <= 2 && c.k <= 2) ((face * 3 + c.i) * 3 + c.j) * 3 + c.k else -1
    val cell = if (idx >= 0) lookupCell(idx) else -1
    if (cell < 0) throw new IllegalStateException(s"res-0 landing $c uncalibrated on face $face")
    val rots = lookupRot(idx)
    var h = initId(res, cell)
    r = 1
    while (r <= res) { h = withDigit(h, r, digits(r)); r += 1 }
    if (isPentagonBase(cell)) {
      if (leadingNonZeroDigit(h) == 1)
        h = if (cwOffsetFlat(cell * 20 + face)) rotate60cw(h) else rotate60ccw(h)
      var i = 0
      while (i < rots) { h = rotatePent60ccw(h); i += 1 }
    } else {
      var i = 0
      while (i < rots) { h = rotate60ccw(h); i += 1 }
    }
    h
  }

  // -------------------------------------------------------------- hierarchy
  /** Zoom out — bit-compatible cellToParent (digit truncation). */
  def cellToParent(id: Long, parentRes: Int): Long = {
    val res = resolution(id)
    require(parentRes >= 0 && parentRes <= res, s"parentRes $parentRes !in 0..$res")
    var h = (id & ~(0xFL << 52)) | (parentRes.toLong << 52)
    var r = parentRes + 1
    while (r <= res) { h = withDigit(h, r, 7); r += 1 }
    h
  }

  /** Zoom in one or more levels — bit-compatible cellToChildren (pentagons
    * skip the deleted K subsequence, so they have 6 children). */
  def cellToChildren(id: Long, childRes: Int): Array[Long] = {
    val res = resolution(id)
    require(childRes >= res && childRes <= MaxRes, s"childRes $childRes !in $res..$MaxRes")
    var acc = Array((id & ~(0xFL << 52)) | (childRes.toLong << 52))
    var r = res + 1
    while (r <= childRes) {
      val rr = r
      acc = acc.flatMap { h =>
        val skipK = isPentagonBase(baseCellOf(h)) && {
          var lead = 0; var q = 1
          while (lead == 0 && q < rr) { lead = digit(h, q); q += 1 }
          lead == 0
        }
        (0 until 7).withFilter(d => !(skipK && d == 1)).map(d => withDigit(h, rr, d))
      }
      r += 1
    }
    acc
  }

  /** Published compactCells: repeatedly replace COMPLETE sibling sets
    * (all 7 children — 6 for pentagon parents, whose K-subsequence child
    * is deleted) by their parent, yielding a mixed-resolution set covering
    * EXACTLY the same region ([[uncompactCells]] inverts it). Input must
    * be distinct cells of one resolution (the published contract). Output
    * is sorted (deterministic). A compacted covering shrinks broadcast
    * IN-lists by up to 7× per promoted level — the difference between a
    * continent-sized region pruning partitions and bailing to a full scan. */
  def compactCells(cells: Array[Long]): Array[Long] = {
    if (cells.isEmpty) return cells
    val res0 = resolution(cells(0))
    require(cells.forall(resolution(_) == res0), "compactCells needs uniform resolution")
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var cur: Array[Long] = cells.distinct
    var res = res0
    while (res > 0 && cur.nonEmpty) {
      val byParent = cur.groupBy(cellToParent(_, res - 1))
      val promoted = scala.collection.mutable.ArrayBuffer.empty[Long]
      byParent.foreach { case (p, kids) =>
        val expected = if (isPentagon(p)) 6 else 7
        if (kids.length == expected) promoted += p
        else out ++= kids
      }
      cur = promoted.toArray
      res -= 1
    }
    out ++= cur // res-0 survivors (whole base cells)
    out.sorted.toArray
  }

  /** Published uncompactCells: expand every cell of a (possibly
    * mixed-resolution) set to `res`. Cells already at `res` pass through;
    * cells finer than `res` are rejected (the published error contract). */
  def uncompactCells(cells: Array[Long], res: Int): Array[Long] =
    cells.flatMap(cellToChildren(_, res))

  /** The ≤6 adjacent cells (5 around a pentagon) — computed by one lattice
    * step + overage canonicalization + re-encode of the neighbor's center,
    * NOT by the published neighbor-rotation tables (whose 4×49 digit
    * matrices are not available here); the ID SET is identical, the
    * traversal order is not guaranteed to match H3's gridDisk order. */
  def neighbors(id: Long): Array[Long] = {
    val res = resolution(id)
    val out = new scala.collection.mutable.ArrayBuffer[Long](6)
    // one FaceIJK decode per call; each direction works on a mutable copy
    val base = h3ToFaceIjk(id)
    var d = 1
    while (d < 7) {
      val n = cellAtStep(base, d, res)
      if (n != id && !out.contains(n)) out += n
      d += 1
    }
    out.toArray
  }

  /** All cells within grid distance k, in H3's CANONICAL traversal order
    * (the published gridDiskUnsafe spiral: origin, then each ring walked
    * ccw starting from the I-axis neighbor with direction sequence
    * J,JK,K,IK,I,IJ). Falls back to BFS SET order when a pentagon lies in
    * the disk — the same split as H3 itself, whose unsafe spiral errors on
    * pentagons and falls back to a differently-ordered safe algorithm. */
  def gridDisk(id: Long, k: Int): Array[Long] = {
    require(k >= 0, s"k must be >= 0, got $k")
    gridDiskSpiral(id, k).getOrElse(gridDiskBfs(id, k))
  }

  /** BFS gridDisk (SET semantics, insertion order) — the pentagon-safe
    * fallback. (The kNN rings keep only the last two disks instead:
    * `graft.sql.CellIndex.H3U.frontierRings`.) */
  def gridDiskBfs(id: Long, k: Int): Array[Long] = {
    require(k >= 0, s"k must be >= 0, got $k")
    val seen = scala.collection.mutable.LinkedHashSet(id)
    var frontier: Set[Long] = Set(id)
    var i = 0
    while (i < k) {
      frontier = frontier.flatMap(neighbors(_)).filterNot(seen)
      seen ++= frontier
      i += 1
    }
    seen.toArray
  }

  // canonical ring walk: ccw around the I-axis neighbor (published
  // DIRECTIONS / NEXT_RING_DIRECTION of gridDiskUnsafe)
  private val SpiralDirections = Array(2, 3, 1, 5, 4, 6) // J,JK,K,IK,I,IJ
  private final val NextRingDirection = 4                // I

  /** The id whose digits the decode walk reads: a pentagon cell whose
    * leading non-zero digit is IK (5) rotated 60° cw, as published. */
  private def walkedId(id: Long): Long =
    if (isPentagonBase(baseCellOf(id)) && leadingNonZeroDigit(id) == 5) rotate60cw(id) else id

  /** Digit-frame FaceIJK: the decode walk WITHOUT the final overage
    * adjustment — coordinates on the base cell's home face, the frame the
    * index digits are expressed in. Directions stepped here are exactly
    * H3's digit-space directions. */
  private def digitFrameFaceIjk(id0: Long): FaceIJK = {
    val id = walkedId(id0)
    val bcd = baseCells(baseCellOf(id))
    val fijk = new FaceIJK(bcd.homeFace, bcd.homeIJK.copyIJK)
    val res = resolution(id)
    var r = 1
    while (r <= res) {
      if (isClassIII(r)) downAp7(fijk.coord) else downAp7r(fijk.coord)
      neighborMove(fijk.coord, digit(id, r))
      r += 1
    }
    fijk
  }

  /** The cell one lattice step in direction `dir` from `from` (a cell's
    * FaceIJK at `res`, left as is): the step, decode's class-II substrate
    * and overage canonicalization for a face crossing, then a lattice-only
    * re-encode (no trig), with the geo round trip as the fallback for the
    * rare up-walk landing outside the calibrated table. */
  private def cellAtStep(from: FaceIJK, dir: Int, res: Int): Long = {
    val f = new FaceIJK(from.face, from.coord.copyIJK)
    neighborMove(f.coord, dir)
    var r2 = res
    if (isClassIII(r2)) { downAp7r(f.coord); r2 += 1 }
    while (adjustOverage(f, r2, pentLeading4 = false) != NoOverage) {}
    if (r2 != res) upAp7r(f.coord)
    try encodeFromIjk(f.face, f.coord.copyIJK, res)
    catch {
      case _: IllegalStateException =>
        val g = faceIjkToGeo(f, res)
        latLngToCell(math.toDegrees(g(0)), math.toDegrees(g(1)), res)
    }
  }

  /** The neighbor of `id` in DIGIT-FRAME direction `dir` (1..6): one
    * lattice step on the home-face frame ([[cellAtStep]]). */
  private def stepDigitFrame(id: Long, dir: Int): Long =
    cellAtStep(digitFrameFaceIjk(id), dir, resolution(id))

  /** h3NeighborRotations equivalent: step from `origin` in direction
    * `dirIn` expressed in the WALK's base frame, carrying `rot` — the
    * number of 60° ccw rotations from the walk frame to the current cell's
    * digit frame. The rotation update is CALIBRATED geometrically instead
    * of transcribed from the neighbor-rotation tables: the back-direction
    * from the neighbor must be opposite(dir) rotated by the frame twist,
    * so the twist is recovered by probing which of the neighbor's six
    * digit-frame directions steps back to the origin. */
  private def neighborRotations(origin: Long, dirIn: Int, rot: Int): (Long, Int) = {
    var dir = dirIn
    var i = 0
    while (i < rot) { dir = digitRotCcw(dir); i += 1 }
    // steps touching a pentagon BASE cell can cross the deleted wedge,
    // where the digit-frame lattice folds (two directions collapse onto
    // one cell) and the spiral silently derails — hand those disks to the
    // BFS fallback (H3's unsafe walk likewise errors out near pentagons)
    if (isPentagonBase(baseCellOf(origin))) return (origin, -1)
    val n = stepDigitFrame(origin, dir)
    if (isPentagonBase(baseCellOf(n))) return (n, -1)
    // opposite direction = three ccw rotations
    var opp = dir
    i = 0
    while (i < 3) { opp = digitRotCcw(opp); i += 1 }
    var twist = 0
    var back = opp
    while (twist < 6 && stepDigitFrame(n, back) != origin) {
      back = digitRotCcw(back); twist += 1
    }
    // twist == 6: no back-direction — the step crossed a pentagon base
    // cell's deleted wedge, where the digit-frame lattice folds and this
    // construction (like H3's own unsafe walk) cannot continue; the caller
    // falls back to the BFS disk, mirroring H3's unsafe→safe fallback
    if (twist == 6) (n, -1) else (n, (rot + twist) % 6)
  }

  /** The canonical gridDisk spiral (published gridDiskUnsafe traversal),
    * or None when a pentagon lies in the disk (H3's unsafe walk errors
    * there too and falls back to the safe algorithm). */
  def gridDiskSpiral(origin: Long, k: Int): Option[Array[Long]] = {
    if (isPentagon(origin)) return None
    val total = 1 + 3 * k * (k + 1)
    val out = new scala.collection.mutable.ArrayBuffer[Long](total)
    out += origin
    var cur = origin
    var rot = 0
    var ring = 0; var direction = 0; var i = 0
    while (out.length < total) {
      if (direction == 0 && i == 0) {
        val (n, nr) = neighborRotations(cur, NextRingDirection, rot)
        if (nr < 0 || isPentagon(n)) return None
        cur = n; rot = nr; ring += 1
      }
      val (n, nr) = neighborRotations(cur, SpiralDirections(direction), rot)
      if (nr < 0 || isPentagon(n)) return None
      cur = n; rot = nr
      out += cur
      i += 1
      if (i == ring) { i = 0; direction += 1; if (direction == 6) direction = 0 }
    }
    Some(out.toArray)
  }

  /** Upper bound on center-to-center pitch (radians) at a resolution: the
    * lattice spacing is largest at a face center (gnomonic stretches the
    * projection there), one hex2d unit → atan(Res0UGnomonic / √7^res).
    * The atan is taken AFTER the √7 scaling — atan(x)/s < atan(x/s) for
    * s > 1 (atan concavity), so dividing the res-0 angle would undershoot
    * the true face-center pitch by ~4% and break the "upper bound"
    * contract callers pad with. */
  def maxPitchRad(res: Int): Double =
    math.atan(Res0UGnomonic / math.pow(Sqrt7, res))

  /** Conservative covering of a lon/lat box (degrees) at `res`: every point
    * inside the box encodes to a cell in the returned set (extra boundary
    * cells may be included — callers refine exactly, the same join contract
    * as Geohash.covering). BFS flood fill over [[neighbors]] from the box
    * center, keeping cells whose center lies within the box expanded by one
    * full cell pitch (≥ any cell circumradius, so no containing cell is
    * missed). Box must not wrap (minLon ≤ maxLon); wrapped boxes are two
    * calls unioned by the caller. */
  def polyfillBox(minLon: Double, minLat: Double, maxLon: Double, maxLat: Double,
                  res: Int, maxCells: Int = 1 << 20): Array[Long] = {
    require(minLon <= maxLon && minLat <= maxLat,
      s"polyfillBox needs a non-wrapped box, got ($minLon,$minLat,$maxLon,$maxLat)")
    val padDeg = math.toDegrees(maxPitchRad(res))
    val latPadLo = math.max(-90.0, minLat - padDeg)
    val latPadHi = math.min(90.0, maxLat + padDeg)
    // lon pad widens with latitude; at the pole-adjacent band just take all
    val maxAbsLat = math.max(math.abs(latPadLo), math.abs(latPadHi))
    val lonPad =
      if (maxAbsLat >= 89.0) 180.0
      else padDeg / math.cos(math.toRadians(maxAbsLat))
    val lonLo = minLon - lonPad
    val lonHi = maxLon + lonPad
    def inside(latDeg: Double, lonDeg: Double): Boolean = {
      if (latDeg < latPadLo || latDeg > latPadHi) return false
      if (lonHi - lonLo >= 360.0) return true
      // compare in the box's own lon frame (handles pad spilling over ±180)
      var l = lonDeg
      while (l < lonLo) l += 360.0
      while (l >= lonLo + 360.0) l -= 360.0
      l <= lonHi
    }
    val start = latLngToCell((minLat + maxLat) / 2.0, (minLon + maxLon) / 2.0, res)
    val seen = scala.collection.mutable.LinkedHashSet(start)
    var frontier: Seq[Long] = Seq(start)
    while (frontier.nonEmpty) {
      val next = scala.collection.mutable.ArrayBuffer[Long]()
      frontier.foreach { c =>
        neighbors(c).foreach { n =>
          if (!seen(n)) {
            val (la, lo) = cellToLatLng(n)
            if (inside(la, lo)) {
              seen += n
              require(seen.size <= maxCells,
                s"polyfillBox would produce > $maxCells cells; use a coarser res")
              next += n
            }
          }
        }
      }
      frontier = next.toSeq
    }
    seen.toArray
  }

  /** Conservative covering of a POLYGON (same contract as [[polyfillBox]]:
    * every point inside the polygon encodes to a returned cell; extra
    * boundary cells may appear — callers refine exactly). The engine's
    * polygonToCells: BFS flood fill over [[neighbors]] seeded at every
    * outer-ring vertex, keeping cells whose center is inside the polygon
    * or within one cell pitch of any ring edge. For an L-shaped or sparse
    * polygon this is a strictly tighter covering than the bbox polyfill.
    *
    * `rings`: outer ring first, then holes, each as flat (lon, lat)*
    * (GeoMath.parseWktPolygon's layout). Soundness of the pad: a point
    * p in the polygon lies in a cell whose center is within the cell
    * circumradius ≤ pitch of p, so that center is within pitch of the
    * polygon region and passes the edge-distance test. Distances are
    * measured in degree space with Δlon scaled by cos(|lat|+pad) — an
    * UNDER-estimate of nothing: shrinking Δlon only keeps more cells,
    * which is the conservative direction. */
  def polyfillPoly(rings: Array[Array[Double]], res: Int,
                   maxCells: Int = 1 << 20): Array[Long] = {
    require(rings.nonEmpty && rings.head.length >= 6, "polyfillPoly needs a polygon")
    val padDeg = math.toDegrees(maxPitchRad(res))
    // squared distance (scaled degrees) from (lon, lat) to segment a-b
    def segDist2(lon: Double, lat: Double,
                 ax: Double, ay: Double, bx: Double, by: Double, s: Double): Double = {
      val dx = (bx - ax) * s; val dy = by - ay
      val px = (lon - ax) * s; val py = lat - ay
      val len2 = dx * dx + dy * dy
      val t = if (len2 <= 0.0) 0.0 else math.max(0.0, math.min(1.0, (px * dx + py * dy) / len2))
      val ex = px - t * dx; val ey = py - t * dy
      ex * ex + ey * ey
    }
    def keep(lonLat: (Double, Double)): Boolean = {
      val (lat, lon) = lonLat // cellToLatLng order
      if (GeoMath.pointInPolygon(lon, lat, rings)) return true
      val s = math.cos(math.toRadians(math.min(89.9, math.abs(lat) + padDeg)))
      val pad2 = padDeg * padDeg
      var r = 0
      while (r < rings.length) {
        val ring = rings(r); val n = ring.length / 2
        var i = 0
        while (i < n) {
          val j = (i + 1) % n
          if (segDist2(lon, lat, ring(2 * i), ring(2 * i + 1),
                       ring(2 * j), ring(2 * j + 1), s) <= pad2) return true
          i += 1
        }
        r += 1
      }
      false
    }
    val outer = rings.head
    val seen = scala.collection.mutable.LinkedHashSet.empty[Long]
    var frontier = List.empty[Long]
    (0 until outer.length / 2).foreach { i =>
      val c = latLngToCell(outer(2 * i + 1), outer(2 * i), res)
      if (!seen(c)) { seen += c; frontier ::= c }
    }
    while (frontier.nonEmpty) {
      val next = scala.collection.mutable.ListBuffer.empty[Long]
      frontier.foreach { c =>
        neighbors(c).foreach { n =>
          if (!seen(n) && keep(cellToLatLng(n))) {
            seen += n
            require(seen.size <= maxCells,
              s"polyfillPoly would produce > $maxCells cells; use a coarser res")
            next += n
          }
        }
      }
      frontier = next.toList
    }
    seen.toArray
  }

  // aperture-3 substrate scalings (published _downAp3 / _downAp3r)
  private def downAp3(c: IJK): Unit = { // i→(2,0,1) j→(1,2,0) k→(0,1,2)
    val ni = 2 * c.i + c.j
    val nj = 2 * c.j + c.k
    val nk = c.i + 2 * c.k
    c.set(ni, nj, nk); ijkNormalize(c)
  }
  private def downAp3r(c: IJK): Unit = { // i→(2,1,0) j→(0,2,1) k→(1,0,2)
    val ni = 2 * c.i + c.k
    val nj = c.i + 2 * c.j
    val nk = c.j + 2 * c.k
    c.set(ni, nj, nk); ijkNormalize(c)
  }

  // origin-centered cell vertex offsets on the 33r (Class II) / 33r7r
  // (Class III) substrate grids — published vertsCII / vertsCIII
  private val vertsCII = Array(
    new IJK(2, 1, 0), new IJK(1, 2, 0), new IJK(0, 2, 1),
    new IJK(0, 1, 2), new IJK(1, 0, 2), new IJK(2, 0, 1))
  private val vertsCIII = Array(
    new IJK(5, 4, 0), new IJK(1, 5, 0), new IJK(0, 5, 4),
    new IJK(0, 1, 5), new IJK(4, 0, 5), new IJK(5, 0, 1))

  /** The cell's boundary vertices as (lat°, lng°), ccw — the published
    * substrate-grid construction (center into the aperture-33r[7r] grid,
    * add vertex offsets, overage-adjust each vertex onto its true face,
    * inverse-project). For Class III cells whose boundary crosses an
    * icosahedron face edge, the extra DISTORTION vertex is inserted where
    * each crossing edge meets the icosa edge (the published behavior —
    * each face is a different gnomonic projection plane, so the cell edge
    * bends there): 7/8-vertex hexagons, 10-vertex Class III pentagons
    * (every Class III pentagon edge crosses a face edge). */
  def cellToBoundary(id: Long): Array[(Double, Double)] =
    if (isPentagon(id)) pentBoundary(id) else hexBoundary(id)

  /** The face-triangle corner coordinates in substrate hex2d at the Class
    * II res behind `maxDim`, and the edge for a given inter-face
    * direction: IJ → (c0, c1), JK → (c1, c2), KI → (c2, c0). */
  @inline private def faceCorner(maxDim: Double, which: Int): (Double, Double) = which match {
    case 0 => (3.0 * maxDim, 0.0)
    case 1 => (-1.5 * maxDim, 3.0 * Sin60 * maxDim)
    case _ => (-1.5 * maxDim, -3.0 * Sin60 * maxDim)
  }

  /** Which quadrant direction (DirIJ/DirKI/DirJK) leads from face `a` into
    * adjacent face `b`. */
  private def dirOfAdjacentFace(a: Int, b: Int): Int =
    (0 until 3).find(d => faceNeighbors(a)(d).face == b).getOrElse(
      throw new IllegalStateException(s"faces $a and $b are not adjacent"))

  private def edgeForDir(maxDim: Double, dir: Int): (Double, Double, Double, Double) = {
    val (a, b) = dir match {
      case DirIJ => (0, 1)
      case DirJK => (1, 2)
      case _     => (2, 0)
    }
    val (ax, ay) = faceCorner(maxDim, a); val (bx, by) = faceCorner(maxDim, b)
    (ax, ay, bx, by)
  }

  private def hexBoundary(id: Long): Array[(Double, Double)] = {
    val res = resolution(id)
    val center = h3ToFaceIjk(id)
    val centerFace = center.face
    var adjRes = res
    // center into the substrate grid
    downAp3(center.coord)
    downAp3r(center.coord)
    if (isClassIII(res)) { downAp7r(center.coord); adjRes += 1 }
    val offs = if (isClassIII(res)) vertsCIII else vertsCII
    // raw substrate vertex coords on the CENTER face (pre-overage) — the
    // frame the icosa-edge intersection is computed in
    val raw = Array.tabulate(6) { v =>
      val c = new IJK(0, 0, 0)
      ijkAdd(center.coord, offs(v), c)
      ijkNormalize(c)
      c
    }
    // face corner positions in substrate hex2d: the Class II maxDim is
    // 2·7^(adjRes/2); substrate triples it, so corners sit at radius
    // 3·maxDim along the i axis and its images
    val maxDim = (2 * pow7(adjRes / 2)).toDouble
    val out = new scala.collection.mutable.ArrayBuffer[(Double, Double)](8)
    var lastFace = centerFace
    var lastOverage = NoOverage
    var vert = 0
    // one extra iteration tests the closing edge (v5 -> v0) for a crossing
    while (vert < 7) {
      val v = vert % 6
      val fv = new FaceIJK(centerFace, raw(v).copyIJK)
      // hexagon substrate vertices need at most ONE adjustment (published
      // single-call form)
      val overage = adjustOverage(fv, adjRes, pentLeading4 = false, substrate = true)
      if (isClassIII(res) && vert > 0 && fv.face != lastFace &&
          lastOverage != FaceEdge) {
        // hexagon edge (prev -> cur) spans two projection planes: insert
        // the intersection with the icosahedron edge, in the center face's
        // substrate hex2d frame
        val p0 = ijkToHex2d(raw((v + 5) % 6))
        val p1 = ijkToHex2d(raw(v))
        val face2 = if (lastFace == centerFace) fv.face else lastFace
        val (ax, ay, bx, by) =
          edgeForDir(maxDim, dirOfAdjacentFace(centerFace, face2))
        // line-line intersection (published _v2dIntersect)
        val s1x = p1(0) - p0(0); val s1y = p1(1) - p0(1)
        val s2x = bx - ax; val s2y = by - ay
        val t = (s2x * (p0(1) - ay) - s2y * (p0(0) - ax)) / (-s2x * s1y + s1x * s2y)
        val ix = p0(0) + t * s1x; val iy = p0(1) + t * s1y
        // only insert if the crossing is interior to the hexagon edge
        val eps = 1e-7
        val atP0 = math.abs(ix - p0(0)) < eps && math.abs(iy - p0(1)) < eps
        val atP1 = math.abs(ix - p1(0)) < eps && math.abs(iy - p1(1)) < eps
        if (!atP0 && !atP1) {
          val g = hex2dToGeo(centerFace, ix, iy, adjRes, substrate = true)
          out += ((math.toDegrees(g(0)), math.toDegrees(constrainLng(g(1)))))
        }
      }
      if (vert < 6) {
        val h2 = ijkToHex2d(fv.coord)
        val g = hex2dToGeo(fv.face, h2(0), h2(1), adjRes, substrate = true)
        out += ((math.toDegrees(g(0)), math.toDegrees(constrainLng(g(1)))))
      }
      lastFace = fv.face
      lastOverage = overage
      vert += 1
    }
    out.toArray
  }

  /** Pentagon boundary — the published _faceIjkPentToCellBoundary: 5
    * substrate vertices (the hexagon offsets minus the deleted direction),
    * each overage-adjusted in a LOOP (pentagon vertices can hop faces);
    * for Class III, EVERY edge crosses an icosa edge, and the distortion
    * vertex is found by translating the current vertex into the PREVIOUS
    * vertex's face frame (published form) and intersecting there. */
  private def pentBoundary(id: Long): Array[(Double, Double)] = {
    val res = resolution(id)
    val center = h3ToFaceIjk(id)
    var adjRes = res
    downAp3(center.coord)
    downAp3r(center.coord)
    if (isClassIII(res)) { downAp7r(center.coord); adjRes += 1 }
    val offs = if (isClassIII(res)) vertsCIII else vertsCII
    // the 5 pentagon vertices = the hexagon vertex offsets minus the one
    // facing the deleted subsequence (the published 5-entry tables are the
    // first five entries of the 6-entry hexagon tables)
    val verts = Array.tabulate(5) { v =>
      val fv = new FaceIJK(center.face, new IJK(0, 0, 0))
      ijkAdd(center.coord, offs(v), fv.coord)
      ijkNormalize(fv.coord)
      var guard = 0
      while (guard < 5 &&
             adjustOverage(fv, adjRes, pentLeading4 = false, substrate = true) == NewFace)
        guard += 1
      fv
    }
    val maxDim = (2 * pow7(adjRes / 2)).toDouble
    val scale = (3 * pow7(adjRes / 2))
    val out = new scala.collection.mutable.ArrayBuffer[(Double, Double)](10)
    var lastFijk: FaceIJK = null
    var vert = 0
    while (vert < 6) { // 5 vertices + the closing edge's distortion test
      val v = vert % 5
      val fv = verts(v)
      if (isClassIII(res) && vert > 0 && fv.face != lastFijk.face) {
        // translate the CURRENT vertex into the LAST vertex's face frame
        // (published form), then intersect prev->cur with the icosa edge
        // between the two faces, in the last face's substrate hex2d
        val p0 = ijkToHex2d(lastFijk.coord)
        val orient = faceNeighbors(fv.face)(dirOfAdjacentFace(fv.face, lastFijk.face))
        val tmp = fv.coord.copyIJK
        var i = 0
        while (i < orient.ccwRot60) { ijkRotate60ccw(tmp); i += 1 }
        val trans = new IJK(orient.transI, orient.transJ, orient.transK)
        ijkScale(trans, scale)
        ijkAdd(tmp, trans, tmp)
        ijkNormalize(tmp)
        val p1 = ijkToHex2d(tmp)
        val (ax, ay, bx, by) =
          edgeForDir(maxDim, dirOfAdjacentFace(lastFijk.face, fv.face))
        val s1x = p1(0) - p0(0); val s1y = p1(1) - p0(1)
        val s2x = bx - ax; val s2y = by - ay
        val denom = -s2x * s1y + s1x * s2y
        if (denom != 0.0) {
          val t = (s2x * (p0(1) - ay) - s2y * (p0(0) - ax)) / denom
          val ix = p0(0) + t * s1x; val iy = p0(1) + t * s1y
          val g = hex2dToGeo(lastFijk.face, ix, iy, adjRes, substrate = true)
          out += ((math.toDegrees(g(0)), math.toDegrees(constrainLng(g(1)))))
        }
      }
      if (vert < 5) {
        val h2 = ijkToHex2d(fv.coord)
        val g = hex2dToGeo(fv.face, h2(0), h2(1), adjRes, substrate = true)
        out += ((math.toDegrees(g(0)), math.toDegrees(constrainLng(g(1)))))
      }
      lastFijk = fv
      vert += 1
    }
    out.toArray
  }

  /** All 122 res-0 cell ids, in base-cell order. */
  def res0Cells: Array[Long] = Array.tabulate(NumBaseCells)(initId(0, _))

  /** Average hexagon edge length is not exposed; cell count per res is
    * 2 + 120 * 7^res (the published H3 invariant; checked in H3Spec). */
  def numCells(res: Int): Long = 2L + 120L * math.pow(7, res).toLong
}
