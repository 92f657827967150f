package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Bit-compatibility validation for [[H3U]] against PUBLISHED H3 values:
  * golden vectors from the H3 documentation, the pentagon base-cell
  * placement (checked inside H3U's derivation), and the published
  * count/structure invariants; plus exhaustive internal round-trips. */
class H3USpec extends AnyFunSuite {

  test("derivation is conflict-free (calibration cross-checks)") {
    assert(H3U.calibrationConflicts.isEmpty, H3U.calibrationConflicts.take(5).mkString("; "))
  }

  test("golden: latLngToCell(37.3615593, -122.0553238, 5) == 85283473fffffff") {
    assert(H3U.token(H3U.latLngToCell(37.3615593, -122.0553238, 5)) == "85283473fffffff")
  }

  test("golden: latLngToCell(40.689167, -74.044444, 10) == 8a2a1072b59ffff") {
    assert(H3U.token(H3U.latLngToCell(40.689167, -74.044444, 10)) == "8a2a1072b59ffff")
  }

  test("golden: cellToLatLng(85283473fffffff) == (37.3457933754, -121.9763759726)") {
    val (lat, lng) = H3U.cellToLatLng(H3U.fromToken("85283473fffffff"))
    assert(math.abs(lat - 37.34579337536848) < 1e-9, s"lat $lat")
    assert(math.abs(lng - -121.97637597255124) < 1e-9, s"lng $lng")
  }

  test("res-0: 122 cells, 12 pentagons at published indices, valid ids") {
    val cells = H3U.res0Cells
    assert(cells.length == 122)
    val pents = cells.zipWithIndex.filter { case (c, _) => H3U.isPentagon(c) }.map(_._2)
    assert(pents.toSeq == Seq(4, 14, 24, 38, 49, 58, 63, 72, 83, 97, 107, 117))
    cells.foreach(c => assert(H3U.isValid(c), H3U.token(c)))
    // published res-0 token shape, e.g. base cell 20 == 8029fffffffffff
    assert(H3U.token(cells(20)) == "8029fffffffffff")
  }

  test("cell counts: 2 + 120*7^res via children expansion (res 0→2)") {
    val n2 = H3U.res0Cells.map(c => H3U.cellToChildren(c, 2).length.toLong).sum
    assert(n2 == H3U.numCells(2), s"$n2 != ${H3U.numCells(2)}")
  }

  test("exhaustive round-trip: encode(center) == id for every cell at res 1..3") {
    var n = 0
    H3U.res0Cells.foreach { c0 =>
      H3U.cellToChildren(c0, 3).foreach { id =>
        val (lat, lng) = H3U.cellToLatLng(id)
        val back = H3U.latLngToCell(lat, lng, 3)
        assert(back == id, s"round trip ${H3U.token(id)} -> ${H3U.token(back)}")
        n += 1
      }
    }
    assert(n == H3U.numCells(3))
  }

  test("parent/children: nesting exact, pentagons have 6 children") {
    H3U.res0Cells.foreach { c0 =>
      val kids = H3U.cellToChildren(c0, 1)
      assert(kids.length == (if (H3U.isPentagon(c0)) 6 else 7))
      kids.foreach(k => assert(H3U.cellToParent(k, 0) == c0))
    }
    // SF golden chain: parent at res 0 is base cell 20
    val sf = H3U.fromToken("85283473fffffff")
    assert(H3U.token(H3U.cellToParent(sf, 0)) == "8029fffffffffff")
    assert(H3U.baseCellOf(sf) == 20)
  }

  test("golden: gridDisk(8928308280fffff, 1) is the published 7-cell set") {
    val got = H3U.gridDisk(H3U.fromToken("8928308280fffff"), 1).map(H3U.token).toSet
    val published = Set("8928308280fffff", "8928308280bffff", "89283082873ffff",
      "89283082877ffff", "8928308283bffff", "89283082807ffff", "89283082803ffff")
    assert(got == published, s"got $got")
  }

  test("neighbors: 6 per hex (5 per pentagon), symmetric, distance-1 disks nest") {
    val rnd = new scala.util.Random(7)
    (1 to 60).foreach { _ =>
      val id = H3U.latLngToCell(rnd.nextDouble() * 160 - 80, rnd.nextDouble() * 360 - 180, 6)
      val ns = H3U.neighbors(id)
      assert(ns.length == (if (H3U.isPentagon(id)) 5 else 6), H3U.token(id))
      ns.foreach(n => assert(H3U.neighbors(n).contains(id),
        s"asymmetric: ${H3U.token(id)} / ${H3U.token(n)}"))
    }
    // pentagon disks: 1 + 5 at k=1
    val pent = H3U.cellToChildren(H3U.res0Cells(38), 4)
      .find(H3U.isPentagon).get
    assert(H3U.gridDisk(pent, 1).length == 6)
  }

  test("property: a point's cells at two resolutions descend from equal or adjacent prefix cells") {
    // H3 cells do not nest, so the prefix cell above a point's res-L cell
    // can differ from the one above its res-T tile cell; a cell-set prune
    // (CellIndex.H3U.prefixCellsOf) keeps the parents' ring-1 neighbours,
    // which is sound only if the two are always equal or adjacent
    val triples = Seq((7, 4, 0), (7, 5, 0), (7, 5, 1), (9, 5, 2), (9, 3, 1), (4, 9, 3))
    val resolutions = triples.flatMap(t => Seq(t._1, t._2)).distinct
    val differ = Array.fill(triples.size)(0)
    val rnd = new java.util.SplittableRandom(16)
    (1 to 1000000).foreach { _ =>
      // uniform on the sphere
      val lat = math.toDegrees(math.asin(2 * rnd.nextDouble() - 1))
      val lng = rnd.nextDouble() * 360 - 180
      val cell = resolutions.map(r => r -> H3U.latLngToCell(lat, lng, r)).toMap
      triples.zipWithIndex.foreach { case ((t, l, p), i) =>
        val tileParent = H3U.cellToParent(cell(t), p)
        val parent = H3U.cellToParent(cell(l), p)
        if (tileParent != parent) {
          differ(i) += 1
          assert(H3U.neighbors(parent).contains(tileParent),
            s"($lat, $lng) tile $t, cell $l, prefix $p: ${H3U.token(parent)} / ${H3U.token(tileParent)}")
        }
      }
    }
    info(triples.zip(differ).map { case (t, n) => s"$t: $n" }.mkString(", "))
    assert(differ(0) > 0, "no point whose prefix cells differ: the property was not exercised")
  }

  test("pentagon vicinity: neighbors exact within grid distance 3 of all 12 pentagons, res 1..4") {
    // the deleted-wedge crossing around pentagons is the known-hard case of
    // the lattice-step+re-encode neighbor construction; exercise EVERY cell
    // near EVERY pentagon instead of hoping random sampling lands there
    val pentBases = Seq(4, 14, 24, 38, 49, 58, 63, 72, 83, 97, 107, 117)
    (1 to 4).foreach { res =>
      pentBases.foreach { bc =>
        val pent = H3U.cellToChildren(H3U.res0Cells(bc), res).find(H3U.isPentagon).get
        H3U.gridDisk(pent, 3).foreach { id =>
          val ns = H3U.neighbors(id)
          // exactly 6 distinct neighbors (5 for the pentagon itself)
          val want = if (H3U.isPentagon(id)) 5 else 6
          assert(ns.length == want && ns.distinct.length == want,
            s"res $res ${H3U.token(id)}: ${ns.map(H3U.token).mkString(",")}")
          ns.foreach { n =>
            assert(H3U.isValid(n), s"invalid neighbor ${H3U.token(n)} of ${H3U.token(id)}")
            // symmetry across the wedge
            assert(H3U.neighbors(n).contains(id),
              s"asymmetric: ${H3U.token(id)} / ${H3U.token(n)}")
            // each neighbor's center round-trips to itself
            val (la, lo) = H3U.cellToLatLng(n)
            assert(H3U.latLngToCell(la, lo, res) == n,
              s"neighbor center round-trip failed for ${H3U.token(n)}")
          }
        }
      }
    }
  }

  test("cellToBoundary: 6/5 corners, tiles the sphere (res-1 area sum == 4π)") {
    def xyz(p: (Double, Double)) = {
      val la = math.toRadians(p._1); val lo = math.toRadians(p._2)
      Array(math.cos(la) * math.cos(lo), math.cos(la) * math.sin(lo), math.sin(la))
    }
    def sub(a: Array[Double], b: Array[Double], s: Double) =
      Array(a(0) - b(0) * s, a(1) - b(1) * s, a(2) - b(2) * s)
    def dot(a: Array[Double], b: Array[Double]) = a(0) * b(0) + a(1) * b(1) + a(2) * b(2)
    def norm(a: Array[Double]) = {
      val m = math.sqrt(dot(a, a)); Array(a(0) / m, a(1) / m, a(2) / m)
    }
    // spherical polygon area: SIGNED triangle fan from an interior point —
    // robust for the slightly concave 7/8-gons that icosa-edge distortion
    // vertices produce (the pure angle-excess form assumes convexity)
    def triArea(a: Array[Double], b: Array[Double], c: Array[Double]): Double = {
      def ang(p: Array[Double], q: Array[Double], r: Array[Double]) = {
        val u = norm(sub(q, p, dot(q, p))); val v = norm(sub(r, p, dot(r, p)))
        math.acos(math.max(-1.0, math.min(1.0, dot(u, v))))
      }
      val e = ang(a, b, c) + ang(b, c, a) + ang(c, a, b) - math.Pi
      val det = a(0) * (b(1) * c(2) - b(2) * c(1)) -
                a(1) * (b(0) * c(2) - b(2) * c(0)) +
                a(2) * (b(0) * c(1) - b(1) * c(0))
      if (det >= 0) e else -e
    }
    def area(vs: Array[(Double, Double)]): Double = {
      val p = vs.map(xyz); val n = p.length
      val cx = Array(p.map(_(0)).sum, p.map(_(1)).sum, p.map(_(2)).sum)
      val c = norm(cx)
      (0 until n).map(i => triArea(c, p(i), p((i + 1) % n))).sum
    }
    var total = 0.0
    val hist = scala.collection.mutable.Map.empty[Int, Int]
    H3U.res0Cells.foreach { c0 =>
      H3U.cellToChildren(c0, 1).foreach { id =>
        val b = H3U.cellToBoundary(id)
        if (H3U.isPentagon(id))
          // res 1 is Class III: every pentagon edge crosses an icosa edge,
          // so 5 corners + 5 distortion vertices (published behavior)
          assert(b.length == 10, s"${H3U.token(id)} has ${b.length} corners")
        else {
          // 6 topological corners + 0..2 icosa-edge distortion vertices
          assert(b.length >= 6 && b.length <= 8,
            s"${H3U.token(id)} has ${b.length} corners")
          hist(b.length) = hist.getOrElse(b.length, 0) + 1
        }
        val a = area(b)
        assert(a > 0.0, s"${H3U.token(id)} non-ccw/degenerate boundary")
        total += a
      }
    }
    // distortion census at res 1: stable derived golden — 240 hexagons
    // cross one icosa edge, 30 cross two
    assert(hist.toMap == Map(6 -> 560, 7 -> 240, 8 -> 30), hist.toString)
    assert(math.abs(total - 4.0 * math.Pi) < 0.01 * 4.0 * math.Pi,
      s"res-1 cells cover $total sr, expected ${4 * math.Pi}")
  }

  test("cellToBoundary: Class III icosa-edge distortion vertices are exact") {
    // golden: a res-1 face-edge-crossing hexagon gains its distortion vertex
    assert(H3U.cellToBoundary(H3U.fromToken("81017ffffffffff")).length == 7)
    // a Class II cell never gains vertices
    assert(H3U.cellToBoundary(H3U.fromToken("8928308280fffff")).length == 6)
    // pentagons: Class II keep 5 corners; Class III gain one distortion
    // vertex per edge (published: all five pentagon edges cross faces)
    val pent0 = H3U.res0Cells.find(H3U.isPentagon).get
    assert(H3U.cellToBoundary(pent0).length == 5)
    val pent2 = H3U.cellToChildren(pent0, 2).find(H3U.isPentagon).get
    assert(H3U.cellToBoundary(pent2).length == 5)
    (1 to 3 by 2).foreach { res =>
      val p = H3U.cellToChildren(pent0, res).find(H3U.isPentagon).get
      assert(H3U.cellToBoundary(p).length == 10,
        s"Class III pentagon at res $res: ${H3U.cellToBoundary(p).length} verts")
    }
    // every distortion vertex is SHARED: the adjacent cell crossing the
    // same icosa edge inserts the same point (the two projection planes
    // agree on the edge), so boundaries still tile without slivers
    var checkedCells = 0
    H3U.res0Cells.take(40).foreach { c0 =>
      H3U.cellToChildren(c0, 3).foreach { id =>
        // skip pentagon-adjacent cells: pentagons keep the corner-only
        // approximation, so the shared distortion vertex is absent there
        if (!H3U.isPentagon(id) && !H3U.neighbors(id).exists(H3U.isPentagon)) {
          val b = H3U.cellToBoundary(id)
          if (b.length > 6) {
            checkedCells += 1
            val nbCorners = H3U.neighbors(id).flatMap(H3U.cellToBoundary)
            b.foreach { c =>
              val hits = nbCorners.count(p =>
                math.abs(p._1 - c._1) < 1e-7 && math.abs(p._2 - c._2) < 1e-7)
              assert(hits >= 1,
                s"vertex $c of ${H3U.token(id)} not shared with any neighbor")
            }
          }
        }
      }
    }
    assert(checkedCells > 10, s"only $checkedCells edge-crossing cells exercised")
  }

  test("gridDisk: canonical spiral ORDER matches the published SF k=1 listing") {
    val got = H3U.gridDisk(H3U.fromToken("8928308280fffff"), 1).map(H3U.token).toSeq
    assert(got == Seq("8928308280fffff", "8928308280bffff", "89283082873ffff",
      "89283082877ffff", "8928308283bffff", "89283082807ffff", "89283082803ffff"), got)
  }

  test("gridDiskSpiral: ring-exact and set-identical to BFS wherever it runs") {
    val rnd = new scala.util.Random(17)
    var checked = 0; var fellBack = 0
    (1 to 400).foreach { _ =>
      val res = 1 + rnd.nextInt(9)
      val id = H3U.latLngToCell(rnd.nextDouble() * 178 - 89, rnd.nextDouble() * 360 - 180, res)
      val k = 1 + rnd.nextInt(3)
      H3U.gridDiskSpiral(id, k) match {
        case None => fellBack += 1 // pentagon-base vicinity → BFS fallback
        case Some(s) =>
          checked += 1
          assert(s.length == 1 + 3 * k * (k + 1), s"${H3U.token(id)} k=$k n=${s.length}")
          assert(s.toSet == H3U.gridDiskBfs(id, k).toSet,
            s"spiral derailed at ${H3U.token(id)} k=$k")
          // within a ring, consecutively emitted cells are adjacent (a true
          // boundary walk; ring transitions hop distance 2 by construction)
          var off = 1
          (1 to k).foreach { r =>
            (off + 1 until off + 6 * r).foreach { idx =>
              assert(H3U.neighbors(s(idx - 1)).contains(s(idx)),
                s"ring $r walk of ${H3U.token(id)} broke adjacency at $idx")
            }
            off += 6 * r
          }
      }
    }
    assert(checked > 250, s"spiral ran only $checked/400 times")
  }

  test("cellToBoundary: corners shared with adjacent cells (within lattice tolerance)") {
    val rnd = new scala.util.Random(3)
    (1 to 30).foreach { _ =>
      val id = H3U.latLngToCell(rnd.nextDouble() * 160 - 80, rnd.nextDouble() * 360 - 180, 5)
      val mine = H3U.cellToBoundary(id)
      val neighborCorners = H3U.neighbors(id).flatMap(H3U.cellToBoundary)
      // every corner of this cell coincides with a corner of ≥2 neighbors
      mine.foreach { c =>
        val hits = neighborCorners.count(p =>
          math.abs(p._1 - c._1) < 1e-7 && math.abs(p._2 - c._2) < 1e-7)
        assert(hits >= 2, s"corner $c of ${H3U.token(id)} shared with only $hits")
      }
    }
  }

  test("polyfillBox: sound covering — every sampled box point's cell is in the set") {
    val rnd = new scala.util.Random(11)
    (1 to 10).foreach { _ =>
      val lon0 = rnd.nextDouble() * 330.0 - 170.0
      val lat0 = rnd.nextDouble() * 130.0 - 70.0
      val w = rnd.nextDouble() * 4.0 + 0.5
      val h = rnd.nextDouble() * 4.0 + 0.5
      val cells = H3U.polyfillBox(lon0, lat0, math.min(180.0, lon0 + w), lat0 + h, 5).toSet
      (1 to 200).foreach { _ =>
        val lon = math.min(180.0, lon0 + rnd.nextDouble() * w)
        val lat = lat0 + rnd.nextDouble() * h
        assert(cells(H3U.latLngToCell(lat, lon, 5)), s"($lon, $lat) not covered")
      }
    }
  }

  test("polyfillPoly: sound covering, strictly tighter than bbox for an L-shape") {
    val lRings = Array(Array(-5.0, 40.0, 10.0, 40.0, 10.0, 44.0,
      -1.0, 44.0, -1.0, 55.0, -5.0, 55.0))
    (3 to 5).foreach { res =>
      val cells = H3U.polyfillPoly(lRings, res).toSet
      val bbox = H3U.polyfillBox(-5.0, 40.0, 10.0, 55.0, res)
      assert(cells.size < bbox.length,
        s"res $res: poly ${cells.size} !< bbox ${bbox.length}")
      // soundness: every sampled in-polygon point's cell is covered
      val rnd = new scala.util.Random(23 + res)
      var checked = 0
      while (checked < 300) {
        val lon = rnd.nextDouble() * 15.0 - 5.0
        val lat = rnd.nextDouble() * 15.0 + 40.0
        if (GeoMath.pointInPolygon(lon, lat, lRings)) {
          assert(cells(H3U.latLngToCell(lat, lon, res)), s"res $res: ($lon, $lat) not covered")
          checked += 1
        }
      }
    }
    // polygon with a hole: points in the ring stay covered, hole edges too
    val holed = Array(
      Array(0.0, 0.0, 10.0, 0.0, 10.0, 10.0, 0.0, 10.0),
      Array(3.0, 3.0, 7.0, 3.0, 7.0, 7.0, 3.0, 7.0))
    val hc = H3U.polyfillPoly(holed, 4).toSet
    val rnd = new scala.util.Random(7)
    var checked = 0
    while (checked < 200) {
      val lon = rnd.nextDouble() * 10.0; val lat = rnd.nextDouble() * 10.0
      if (GeoMath.pointInPolygon(lon, lat, holed)) {
        assert(hc(H3U.latLngToCell(lat, lon, 4)), s"($lon, $lat) not covered")
        checked += 1
      }
    }
  }

  test("fast projection == published-form projection: cell-identical everywhere sampled") {
    // all res-3 cell centers through both paths
    H3U.res0Cells.foreach { c0 =>
      H3U.cellToChildren(c0, 3).foreach { id =>
        val (lat, lng) = H3U.cellToLatLng(id)
        assert(H3U.latLngToCell(lat, lng, 3) == H3U.latLngToCellRef(lat, lng, 3),
          s"fast/ref disagree at center of ${H3U.token(id)}")
      }
    }
    // a large random sample across resolutions
    val rnd = new scala.util.Random(99)
    (1 to 200000).foreach { i =>
      val lat = rnd.nextDouble() * 180.0 - 90.0
      val lng = rnd.nextDouble() * 360.0 - 180.0
      val res = i % 16
      assert(H3U.latLngToCell(lat, lng, res) == H3U.latLngToCellRef(lat, lng, res),
        s"fast/ref disagree at ($lat, $lng, $res)")
    }
  }

  test("random points: encode is the nearest-center cell's id, res up to 9") {
    val rnd = new scala.util.Random(42)
    (1 to 500).foreach { _ =>
      val lat = rnd.nextDouble() * 170.0 - 85.0
      val lng = rnd.nextDouble() * 360.0 - 180.0
      (0 to 9 by 3).foreach { res =>
        val id = H3U.latLngToCell(lat, lng, res)
        assert(H3U.isValid(id), s"invalid id at ($lat, $lng, $res): ${H3U.token(id)}")
        assert(H3U.resolution(id) == res)
        // decode must land back in the same cell
        val (clat, clng) = H3U.cellToLatLng(id)
        assert(H3U.latLngToCell(clat, clng, res) == id,
          s"center round trip failed at ($lat, $lng, $res)")
      }
    }
  }

  test("compact/uncompact: identity on polyfill coverings, minimal, pentagon-aware") {
    // box coverings at res 4: compact must invert exactly under uncompact
    val boxes = Seq((-10.0, 35.0, 20.0, 50.0), (100.0, -10.0, 130.0, 15.0),
      (-80.0, 30.0, -60.0, 45.0))
    boxes.foreach { case (lon0, lat0, lon1, lat1) =>
      val fine = H3U.polyfillBox(lon0, lat0, lon1, lat1, 4, 1 << 20)
      val compacted = H3U.compactCells(fine)
      assert(compacted.length < fine.length,
        s"compaction did not shrink: ${compacted.length} vs ${fine.length}")
      assert(H3U.uncompactCells(compacted, 4).toSet == fine.toSet,
        "uncompact(compact(S)) != S")
      // minimality: no parent with a complete child set remains
      val byParent = compacted.filter(H3U.resolution(_) > 0)
        .groupBy(c => H3U.cellToParent(c, H3U.resolution(c) - 1))
      byParent.foreach { case (parent, kids) =>
        val sameRes = kids.filter(k => H3U.resolution(k) == H3U.resolution(kids.head))
        val expected = if (H3U.isPentagon(parent)) 6 else 7
        assert(sameRes.length < expected,
          s"complete sibling set left uncompacted under ${java.lang.Long.toHexString(parent)}")
      }
      // no overlap: no cell's ancestor is also in the set
      val set = compacted.toSet
      compacted.foreach { c =>
        (0 until H3U.resolution(c)).foreach { r =>
          assert(!set(H3U.cellToParent(c, r)),
            s"cell and its ancestor both in compacted set")
        }
      }
    }
    // a pentagon's full child set (6 children) compacts to the pentagon
    val pent = H3U.res0Cells.filter(H3U.isPentagon).head
    val pentChildren = H3U.cellToChildren(pent, 1)
    assert(pentChildren.length == 6)
    assert(H3U.compactCells(pentChildren).toSeq == Seq(pent))
    // a hexagon's full child set (7) compacts to the hexagon
    val hex = H3U.res0Cells.filterNot(H3U.isPentagon).head
    assert(H3U.compactCells(H3U.cellToChildren(hex, 1)).toSeq == Seq(hex))
    // an INCOMPLETE sibling set stays put
    val partial = H3U.cellToChildren(hex, 1).drop(1)
    assert(H3U.compactCells(partial).toSet == partial.toSet)
  }
}
