package graftbench

import graft.core.{BBox, Geohash, H3U, S2U}

/** core.* per-layer metrics: the Geohash, H3U and S2U codecs timed on the
  * driver over the workload's own points and query geometry, at the
  * precisions the workload's queries use. A workload without points or
  * geometry reports 0 for the codecs it never calls. */
object CoreBench {
  final case class Inputs(lon: Array[Double], lat: Array[Double],
                          boxes: Seq[BBox], polygons: Seq[Array[Array[Double]]])

  /** ns (or µs) per call, median of five passes over the inputs. */
  private def perCall(calls: Int, scale: Double)(pass: => Unit): Double =
    if (calls == 0) 0.0
    else {
      pass // warm
      val ts = (1 to 5).map { _ =>
        val t0 = System.nanoTime(); pass; (System.nanoTime() - t0).toDouble
      }.sorted
      ts(2) / calls / scale
    }

  // results land here so the timed loops cannot be optimised away
  @volatile private var blackhole = 0L

  private def split(b: BBox): Seq[BBox] =
    if (b.minLon <= b.maxLon) Seq(b)
    else Seq(BBox(b.minLon, b.minLat, 180.0, b.maxLat), BBox(-180.0, b.minLat, b.maxLon, b.maxLat))

  def run(in: Inputs): Map[String, Double] = {
    val n = math.min(in.lon.length, 100000)
    var sink = 0L
    val gh = perCall(n, 1.0) { var i = 0; while (i < n) { sink += Geohash.encode(in.lon(i), in.lat(i), 30); i += 1 } }
    val h3 = perCall(n, 1.0) { var i = 0; while (i < n) { sink += H3U.latLngToCell(in.lat(i), in.lon(i), 7); i += 1 } }
    val s2 = perCall(n, 1.0) { var i = 0; while (i < n) { sink += S2U.lonLatToCellAt(in.lon(i), in.lat(i), 12); i += 1 } }
    val plain = in.boxes.flatMap(split)
    var cells = 0L
    val ghCov = perCall(in.boxes.size, 1000.0) {
      cells = 0L
      in.boxes.foreach(b => cells += Geohash.covering(b.minLon, b.minLat, b.maxLon, b.maxLat, 20).length)
    }
    val h3Fill = perCall(in.boxes.size, 1000.0) {
      plain.foreach(b => sink += H3U.polyfillBox(b.minLon, b.minLat, b.maxLon, b.maxLat, 4).length)
    }
    val s2Cov = perCall(in.boxes.size, 1000.0) {
      plain.foreach(b => sink += S2U.coverBox(b.minLon, b.minLat, b.maxLon, b.maxLat, 8).length)
    }
    val polyCov = perCall(in.polygons.size, 1000.0) {
      in.polygons.foreach(r => sink += Geohash.polygonCovering(r, 15).length)
    }
    blackhole = sink + cells
    Map(
      "core.gh_encode_ns" -> gh, "core.h3u_cell_ns" -> h3, "core.s2u_cell_ns" -> s2,
      "core.gh_covering_us" -> ghCov, "core.h3u_polyfill_us" -> h3Fill,
      "core.s2u_cover_us" -> s2Cov, "core.polygon_covering_us" -> polyCov,
      "core.covering_cells" -> (if (in.boxes.isEmpty) 0.0 else cells.toDouble / in.boxes.size))
  }
}
