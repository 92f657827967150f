package graft.core

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import graft.PropHelper

/** Validation of [[S2U]] against the PUBLISHED S2 cell-id scheme. No S2
  * library exists in this sandbox, so official golden vectors cannot be
  * imported; what is pinned instead: the documented layout facts, full
  * structural invariants (exact round trips, Hilbert continuity, range
  * algebra), and derived landmark goldens whose regional prefixes match
  * publicly cited S2 tokens (NYC 89c2…, London 4876…, Paris 47e6…) and
  * the s2sphere-documented id of (0°, 0°). */
class S2USpec extends AnyFunSuite with PropHelper {

  test("documented layout: six level-0 face cells are tokens 1,3,5,7,9,b") {
    val tokens = (0 until 6).map(f => S2U.token(S2U.parent(S2U.fromFaceIj(f, 0, 0), 0)))
    assert(tokens == Seq("1", "3", "5", "7", "9", "b"))
  }

  test("golden: (0,0) leaf id and landmark level-12 tokens") {
    // the equator/prime-meridian leaf: face 0 center (documented example id)
    assert(S2U.lonLatToCell(0.0, 0.0) == 1152921504606846977L)
    assert(S2U.token(S2U.lonLatToCell(0.0, 0.0)) == "1000000000000001")
    // derived landmark goldens; prefixes match publicly cited S2 tokens
    assert(S2U.token(S2U.lonLatToCellAt(-74.0060, 40.7128, 12)) == "89c25a3") // NYC
    assert(S2U.token(S2U.lonLatToCellAt(-0.1276, 51.5074, 12)) == "487604d") // London
    assert(S2U.token(S2U.lonLatToCellAt(2.3522, 48.8566, 12)) == "47e66e1")  // Paris
    assert(S2U.token(S2U.lonLatToCellAt(139.6917, 35.6895, 12)) == "60188cd") // Tokyo
  }

  test("xyz/face/uv round-trips to the same direction") {
    forAll(Gen.choose(-180.0, 179.999999), Gen.choose(-89.9, 89.9)) { (lon, lat) =>
      val (x, y, z) = S2U.xyzFromLonLat(lon, lat)
      val f = S2U.faceOf(x, y, z)
      val (u, v) = S2U.uvOnFace(f, x, y, z)
      assert(u >= -1.0000001 && u <= 1.0000001 && v >= -1.0000001 && v <= 1.0000001,
        s"uv out of face range: $u $v at ($lon,$lat) face $f")
      val (lon2, lat2) = S2U.lonLatFromXyz(S2U.xyzFromFaceUv(f, u, v)._1,
        S2U.xyzFromFaceUv(f, u, v)._2, S2U.xyzFromFaceUv(f, u, v)._3)
      assert(math.abs(lat2 - lat) < 1e-9)
      assert(math.abs(Geohash.normLon(lon2 - lon + 180.0) - 0.0 + 180.0) % 360.0 < 1e-9 ||
             math.abs(lon2 - lon) < 1e-9)
    }
  }

  test("six faces partition the sphere: every point gets exactly one cell") {
    // counts per face over a lat/lon grid are all nonzero and sum to total
    var total = 0
    val perFace = new Array[Int](6)
    for (lon <- -175 to 175 by 7; lat <- -85 to 85 by 7) {
      val id = S2U.lonLatToCell(lon.toDouble, lat.toDouble)
      val (x, y, z) = S2U.xyzFromLonLat(lon.toDouble, lat.toDouble)
      assert(S2U.isValid(id) && S2U.faceOf(id) == S2U.faceOf(x, y, z))
      perFace(S2U.faceOf(id)) += 1
      total += 1
    }
    assert(perFace.forall(_ > 0), perFace.mkString(","))
    assert(perFace.sum == total)
  }

  test("(face,i,j) <-> leaf id round trips exactly") {
    val rnd = new scala.util.Random(3)
    (1 to 50000).foreach { _ =>
      val f = rnd.nextInt(6); val i = rnd.nextInt(1 << 30); val j = rnd.nextInt(1 << 30)
      val id = S2U.fromFaceIj(f, i, j)
      assert(S2U.isLeaf(id) && S2U.isValid(id) && S2U.level(id) == 30)
      assert(S2U.toFaceIj(id) == ((f, i, j)))
    }
  }

  test("Hilbert continuity: consecutive leaf positions are lattice neighbors") {
    val starts = Seq(S2U.fromFaceIj(0, 0, 0), S2U.fromFaceIj(2, 123456, 654321),
      S2U.fromFaceIj(5, (1 << 29) - 7, 1 << 28))
    starts.foreach { base =>
      (0 until 20000).foreach { t =>
        val (f1, i1, j1) = S2U.toFaceIj(base + 2L * t)
        val (f2, i2, j2) = S2U.toFaceIj(base + 2L * t + 2L)
        assert(f1 == f2 && math.abs(i1 - i2) + math.abs(j1 - j2) == 1,
          s"discontinuity at offset $t from ${S2U.token(base)}")
      }
    }
  }

  test("center re-encode: every cell's center encodes back to the cell, level 0..30") {
    val rnd = new scala.util.Random(17)
    (1 to 5000).foreach { _ =>
      val lon = rnd.nextDouble() * 360 - 180
      val lat = rnd.nextDouble() * 180 - 90
      val level = rnd.nextInt(31)
      val id = S2U.lonLatToCellAt(lon, lat, level)
      assert(S2U.level(id) == level)
      val (clon, clat) = S2U.centerLonLat(id)
      assert(S2U.lonLatToCellAt(clon, clat, level) == id,
        s"center of ${S2U.token(id)} re-encodes elsewhere")
    }
  }

  test("parent/children/range algebra") {
    val rnd = new scala.util.Random(29)
    (1 to 2000).foreach { _ =>
      val leaf = S2U.lonLatToCell(rnd.nextDouble() * 360 - 180, rnd.nextDouble() * 170 - 85)
      val lvl = 1 + rnd.nextInt(29)
      val p = S2U.parent(leaf, lvl)
      assert(S2U.level(p) == lvl && S2U.contains(p, leaf))
      val kids = S2U.children(p)
      assert(kids.length == 4 && kids.forall(k => S2U.parent(k, lvl) == p))
      // children tile the parent's leaf range in Hilbert order
      assert(S2U.rangeMin(kids.head) == S2U.rangeMin(p))
      assert(S2U.rangeMax(kids.last) == S2U.rangeMax(p))
      kids.sliding(2).foreach { case Array(a, b) =>
        assert(S2U.rangeMax(a) + 2 == S2U.rangeMin(b))
      }
    }
  }

  test("quadratic st<->uv transform: exact inverse, fixed points") {
    assert(S2U.stToUv(0.5) == 0.0 && S2U.stToUv(0.0) == -1.0 && S2U.stToUv(1.0) == 1.0)
    val rnd = new scala.util.Random(41)
    (1 to 10000).foreach { _ =>
      val s = rnd.nextDouble()
      assert(math.abs(S2U.uvToSt(S2U.stToUv(s)) - s) < 1e-14)
    }
  }

  test("token round trip") {
    val rnd = new scala.util.Random(53)
    (1 to 5000).foreach { _ =>
      val id = S2U.lonLatToCellAt(rnd.nextDouble() * 360 - 180,
        rnd.nextDouble() * 180 - 90, rnd.nextInt(31))
      assert(S2U.fromToken(S2U.token(id)) == id)
    }
  }

  test("coverBox: sound covering across random boxes incl. face crossings") {
    val rnd = new scala.util.Random(61)
    (1 to 20).foreach { _ =>
      val lon0 = rnd.nextDouble() * 330 - 170
      val lat0 = rnd.nextDouble() * 150 - 80
      val w = rnd.nextDouble() * 8 + 0.5; val h = rnd.nextDouble() * 8 + 0.5
      val lon1 = math.min(180.0, lon0 + w); val lat1 = math.min(90.0, lat0 + h)
      val level = 8
      val cells = S2U.coverBox(lon0, lat0, lon1, lat1, level).toSet
      (1 to 400).foreach { _ =>
        val lon = lon0 + rnd.nextDouble() * (lon1 - lon0)
        val lat = lat0 + rnd.nextDouble() * (lat1 - lat0)
        assert(cells(S2U.lonLatToCellAt(lon, lat, level)),
          s"($lon, $lat) not covered by box ($lon0,$lat0,$lon1,$lat1)")
      }
    }
    // a box straddling the +x/+y face boundary (lon 45)
    val cells = S2U.coverBox(43.0, 10.0, 47.0, 12.0, 9).toSet
    val rnd2 = new scala.util.Random(67)
    (1 to 300).foreach { _ =>
      val lon = 43.0 + rnd2.nextDouble() * 4.0; val lat = 10.0 + rnd2.nextDouble() * 2.0
      assert(cells(S2U.lonLatToCellAt(lon, lat, 9)), s"($lon, $lat) not covered at face edge")
    }
    // a HUGE box (most of the sphere, contains whole faces incl. a polar
    // face): boundary-sample spacing is several cells here, so this pins
    // the monotone-extremes-are-sampled argument, not just the ±1 pad
    val big = S2U.coverBox(-170.0, -60.0, 170.0, 75.0, 7).toSet
    val rnd3 = new scala.util.Random(71)
    (1 to 500).foreach { _ =>
      val lon = -170.0 + rnd3.nextDouble() * 340.0
      val lat = -60.0 + rnd3.nextDouble() * 135.0
      assert(big(S2U.lonLatToCellAt(lon, lat, 7)), s"($lon, $lat) not covered in big box")
    }
  }

  test("coverBox: sound for LARGE-extent boxes near the maxCells limit (adaptive sampling)") {
    // boxes spanning ~500-6000 cells per side: a fixed 256-sample pass
    // with +-1 pad was UNSOUND here (secant overshoot of the ij boundary
    // curves grows with (extent/samples)^2) - the adaptive pass must
    // re-sample/pad enough that every interior point stays covered
    val cases = Seq(
      // (lon0, lat0, lon1, lat1, level)
      (10.0, 20.0, 14.0, 20.02, 14),   // skinny wide box, ~730 cells/side
      (-20.0, -0.01, 20.0, 0.01, 14),  // 40 deg long equatorial, ~4500 cells
      (-60.0, -35.0, -30.0, -34.99, 14), // 30 deg at mid-latitude ACROSS a face
                                       // corner: the single per-face rect
                                       // overflowed maxCells here; the sliced
                                       // covering follows the bent curve
      (40.0, 5.0, 50.0, 5.05, 14),     // crosses the lon-45 face edge
      (-5.0, 40.0, 10.0, 55.0, 10),    // Europe box, ~270 cells/side
      (120.0, 60.0, 179.0, 61.0, 10))  // high-lat long box (polar-face arc:
                                       // its per-face rect is inherently wide,
                                       // so a coarser level keeps it in-budget
    val rnd = new scala.util.Random(83)
    cases.foreach { case (lon0, lat0, lon1, lat1, level) =>
      val cells = S2U.coverBox(lon0, lat0, lon1, lat1, level).toSet
      (1 to 2000).foreach { _ =>
        val lon = lon0 + rnd.nextDouble() * (lon1 - lon0)
        val lat = lat0 + rnd.nextDouble() * (lat1 - lat0)
        assert(cells(S2U.lonLatToCellAt(lon, lat, level)),
          s"($lon, $lat) not covered by ($lon0,$lat0,$lon1,$lat1) at level $level")
      }
    }
  }

  test("cellCornersLonLat: adjacent same-level cells share exact corner coordinates") {
    val rnd = new scala.util.Random(89)
    (1 to 200).foreach { _ =>
      val level = 1 + rnd.nextInt(14)
      val face = rnd.nextInt(6)
      val n = 1 << level
      val i = rnd.nextInt(n - 1) // leave room for the east neighbor
      val j = rnd.nextInt(n)
      val shift = S2U.MaxLevel - level
      val a = S2U.parent(S2U.fromFaceIj(face, i << shift, j << shift), level)
      val b = S2U.parent(S2U.fromFaceIj(face, (i + 1) << shift, j << shift), level)
      val ca = S2U.cellCornersLonLat(a).toSet
      val cb = S2U.cellCornersLonLat(b).toSet
      assert((ca & cb).size == 2,
        s"face=$face i=$i j=$j level=$level shared=${(ca & cb).size}")
    }
  }

  test("cellRectBound: conservative - random interior points stay inside the rect") {
    val rnd = new scala.util.Random(101)
    (1 to 300).foreach { _ =>
      val level = rnd.nextInt(13)
      val face = rnd.nextInt(6)
      val n = 1 << level
      val i = rnd.nextInt(n); val j = rnd.nextInt(n)
      val shift = S2U.MaxLevel - level
      val id = S2U.parent(S2U.fromFaceIj(face, i << shift, j << shift), level)
      val (lo, la, hi, lb) = S2U.cellRectBound(id)
      (1 to 30).foreach { _ =>
        // random leaf inside the cell -> its center point is inside the cell
        val di = rnd.nextLong(1L << shift); val dj = rnd.nextLong(1L << shift)
        val leaf = S2U.fromFaceIj(face, ((i.toLong << shift) + di).toInt,
          ((j.toLong << shift) + dj).toInt)
        val (plon, plat) = S2U.centerLonLat(leaf)
        assert(plat >= la - 1e-9 && plat <= lb + 1e-9,
          s"lat $plat outside [$la, $lb] for level=$level face=$face")
        val lonOk =
          if (lo <= hi) plon >= lo - 1e-9 && plon <= hi + 1e-9
          else plon >= lo - 1e-9 || plon <= hi + 1e-9 // wrapped rect
        assert(lonOk, s"lon $plon outside [$lo, $hi] (wrapped=${lo > hi}) level=$level")
      }
    }
    // pole cells degrade to the full longitude range
    val polar = S2U.lonLatToCellAt(0.0, 90.0, 4)
    val (plo, _, phi, pla) = S2U.cellRectBound(polar)
    assert(plo == -180.0 && phi == 180.0 && pla == 90.0)
  }

  test("coverPolygon: sound and strictly tighter than coverBox for an L-shape") {
    val wkt = "POLYGON ((-5.0 40.0, 10.0 40.0, 10.0 44.0, -1.0 44.0, -1.0 55.0, -5.0 55.0, -5.0 40.0))"
    val rings = GeoMath.parseWktPolygon(wkt)
    val level = 9
    val poly = S2U.coverPolygon(rings, level)
    val box = S2U.coverBox(-5.0, 40.0, 10.0, 55.0, level)
    assert(poly.length < box.length,
      s"coverPolygon (${poly.length}) not tighter than coverBox (${box.length})")
    val cells = poly.toSet
    val rnd = new scala.util.Random(103)
    var checked = 0
    while (checked < 1500) {
      val lon = -5.0 + rnd.nextDouble() * 15.0
      val lat = 40.0 + rnd.nextDouble() * 15.0
      if (GeoMath.pointInPolygon(lon, lat, rings)) {
        assert(cells(S2U.lonLatToCellAt(lon, lat, level)),
          s"in-polygon point ($lon, $lat) not covered")
        checked += 1
      }
    }
  }
}
