package graft.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{Base32, GeoMath, Geohash, H3U, HexGrid, S2U, TextHash}
import graft.data.ImageGen

/** The scalar SQL functions' bodies: one static method per row of
  * [[GraftFunctions.scalars]], named after its function, which
  * [[KernelCall]] calls in generated code. Each is a thin adapter over
  * [[graft.core]] that takes and returns Spark's internal types:
  * `UTF8String` for STRING, `InternalRow` for a struct, `ArrayData` for an
  * array. The node answers NULL and NaN arguments itself, so a kernel
  * never sees either and returns a primitive where its type has one. */
object GraftKernels {
  private def lonLat(lon: Double, lat: Double): InternalRow = InternalRow(lon, lat)
  private def longs(a: Array[Long]): ArrayData = new GenericArrayData(a)
  private def str(s: String): UTF8String = UTF8String.fromString(s)
  private def rings(wkt: UTF8String): Array[Array[Double]] = GeoMath.parseWktPolygon(wkt.toString)
  private def polygonWkt(lonLats: Seq[(Double, Double)]): UTF8String =
    str((lonLats :+ lonLats.head).map { case (lon, lat) => s"$lon $lat" }
      .mkString("POLYGON ((", ", ", "))"))

  // geohash codec & cell algebra (SURVEY.md §3.1 numbers in brackets)
  def gh_encode(lon: Double, lat: Double, bits: Int): Long = Geohash.encode(lon, lat, bits) // [1]
  def gh_encode_str(lon: Double, lat: Double, chars: Int): UTF8String = // [5]
    str(Geohash.encodeString(lon, lat, chars))
  def gh_decode(code: Long, bits: Int): InternalRow = { // [2]
    val (lon, lat) = Geohash.decodeCenter(code, bits); lonLat(lon, lat)
  }
  def gh_decode_str(code: UTF8String): InternalRow = { // [6]
    val (lon, lat) = Geohash.decodeCenterString(code.toString); lonLat(lon, lat)
  }
  def gh_bbox(code: Long, bits: Int): InternalRow = { // [7]
    val b = Geohash.boundingBox(code, bits); InternalRow(b.minLon, b.minLat, b.maxLon, b.maxLat)
  }
  def gh_neighbors(code: Long, bits: Int): ArrayData = longs(Geohash.neighbors(code, bits)) // [3]
  def gh_neighbors_str(code: UTF8String): ArrayData = // [9]
    new GenericArrayData(Geohash.neighborsString(code.toString).map(str): Array[Any])
  def gh_parent(code: Long, bits: Int, parentBits: Int): Long = // [14]
    Geohash.parent(code, bits, parentBits)
  def gh_children(code: Long, bits: Int, childBits: Int): ArrayData =
    longs(Geohash.children(code, bits, childBits))
  def gh_to_str(code: Long, chars: Int): UTF8String = str(Base32.encode(code, chars)) // [4]
  def gh_from_str(s: UTF8String): Long = Base32.decode(s.toString)
  def gh_area(code: Long, bits: Int): Double = Geohash.area(code, bits) // [12]
  def gh_covering(minLon: Double, minLat: Double, maxLon: Double, maxLat: Double, bits: Int): ArrayData =
    longs(Geohash.covering(minLon, minLat, maxLon, maxLat, bits)) // [8]
  def gh_covering_polygon(wkt: UTF8String, bits: Int): ArrayData =
    longs(Geohash.polygonCovering(rings(wkt), bits))
  def haversine_m(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double =
    GeoMath.haversineM(lon1, lat1, lon2, lat2)

  // text fingerprints; md5_prefix60 hashes the UTF-8 bytes with no hex round trip
  def rolling_hash(text: UTF8String): Long = TextHash.rollingHash(text.toString)
  def rolling_hash_alt(text: UTF8String): Long = TextHash.rollingHashAlt(text.toString)
  def md5_prefix60(text: UTF8String): Long = TextHash.md5Prefix60(text.getBytes)

  // planar hex lattice (not H3-compatible)
  def hex_cell(lon: Double, lat: Double, size: Double): Long = HexGrid.cell(lon, lat, size)
  def hex_center(id: Long, size: Double): InternalRow = {
    val (lon, lat) = HexGrid.center(id, size); lonLat(lon, lat)
  }
  def hex_neighbors(id: Long): ArrayData = longs(HexGrid.neighbors(id))
  def hex_ring(id: Long, k: Int): ArrayData = longs(HexGrid.ring(id, k))

  // the image table's derived columns: the id's bytes are hashed in place
  def derive_lon(imageId: UTF8String): Double = ImageGen.posLonOf(imageId)
  def derive_lat(imageId: UTF8String): Double = ImageGen.posLatOf(imageId)
  def caption_of(imageId: UTF8String): UTF8String = ImageGen.captionOf(imageId)

  // Uber-H3-compatible cells (H3U is lat-first; SQL is lon-first)
  def h3u_cell(lon: Double, lat: Double, res: Int): Long = H3U.latLngToCell(lat, lon, res)
  def h3u_center(id: Long): InternalRow = {
    val (lat, lon) = H3U.cellToLatLng(id); lonLat(lon, lat)
  }
  def h3u_parent(id: Long, parentRes: Int): Long = H3U.cellToParent(id, parentRes)
  def h3u_children(id: Long, childRes: Int): ArrayData = longs(H3U.cellToChildren(id, childRes))
  def h3u_resolution(id: Long): Int = H3U.resolution(id)
  def h3u_token(id: Long): UTF8String = str(H3U.token(id))
  def h3u_is_pentagon(id: Long): Boolean = H3U.isPentagon(id)
  def h3u_disk(id: Long, k: Int): ArrayData = longs(H3U.gridDisk(id, k))
  def h3u_boundary_wkt(id: Long): UTF8String =
    polygonWkt(H3U.cellToBoundary(id).toSeq.map { case (lat, lon) => (lon, lat) })
  def h3u_polyfill_wkt(wkt: UTF8String, res: Int): ArrayData = longs(H3U.polyfillPoly(rings(wkt), res))
  def h3u_compact(cells: ArrayData): ArrayData = longs(H3U.compactCells(cells.toLongArray()))
  def h3u_uncompact(cells: ArrayData, res: Int): ArrayData =
    longs(H3U.uncompactCells(cells.toLongArray(), res))

  // published-layout S2 cells
  def s2u_cell(lon: Double, lat: Double, level: Int): Long = S2U.lonLatToCellAt(lon, lat, level)
  def s2u_token(id: Long): UTF8String = str(S2U.token(id))
  def s2u_parent(id: Long, level: Int): Long = S2U.parent(id, level)
  def s2u_level(id: Long): Int = S2U.level(id)
  def s2u_center(id: Long): InternalRow = {
    val (lon, lat) = S2U.centerLonLat(id); lonLat(lon, lat)
  }
  def s2u_boundary_wkt(id: Long): UTF8String = polygonWkt(S2U.cellCornersLonLat(id).toSeq)
  def s2u_children(id: Long): ArrayData = longs(S2U.children(id))
  def s2u_contains(ancestor: Long, cell: Long): Boolean = S2U.contains(ancestor, cell)
  def s2u_cover_wkt(wkt: UTF8String, level: Int): ArrayData = longs(S2U.coverPolygon(rings(wkt), level))
}
