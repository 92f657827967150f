package graft.sql

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType, StringType}

/** Registration + column API for the graft spatial functions.
  *
  * Functions are registered into the session's FunctionRegistry so they work
  * from both SQL text and the Column API (via `call_function`), and flow
  * through Catalyst like built-ins: constant folding on literal precisions,
  * null propagation, WholeStageCodegen inlining.
  */
object GraftFunctions {
  private def info(name: String, usage: String) =
    new ExpressionInfo("graft.sql", "", name, usage, "", "", "", "", "", "", "built-in")

  // Implicit input coercion (ExpectsInputTypes is private[sql] in Spark 4,
  // so the builders cast instead; no-op casts fold away in the optimizer).
  private def cD(e: Expression) = Cast(e, DoubleType)
  private def cI(e: Expression) = Cast(e, IntegerType)
  private def cL(e: Expression) = Cast(e, LongType)
  private def cS(e: Expression) = Cast(e, StringType)

  val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("gh_encode", "gh_encode(lon, lat, bits) - int64 geohash at bits precision",
      (e: Seq[Expression]) => { require(e.length == 3, "gh_encode(lon, lat, bits)"); GhEncode(cD(e(0)), cD(e(1)), cI(e(2))) }),
    ("gh_encode_str", "gh_encode_str(lon, lat, chars) - base32 geohash string",
      (e: Seq[Expression]) => { require(e.length == 3, "gh_encode_str(lon, lat, chars)"); GhEncodeString(cD(e(0)), cD(e(1)), cI(e(2))) }),
    ("gh_decode", "gh_decode(code, bits) - cell center struct(lon, lat)",
      (e: Seq[Expression]) => { require(e.length == 2, "gh_decode(code, bits)"); GhDecode(cL(e(0)), cI(e(1))) }),
    ("gh_decode_str", "gh_decode_str(code) - cell center struct(lon, lat)",
      (e: Seq[Expression]) => { require(e.length == 1, "gh_decode_str(code)"); GhDecodeString(cS(e(0))) }),
    ("gh_bbox", "gh_bbox(code, bits) - struct(min_lon, min_lat, max_lon, max_lat)",
      (e: Seq[Expression]) => { require(e.length == 2, "gh_bbox(code, bits)"); GhBoundingBox(cL(e(0)), cI(e(1))) }),
    ("gh_neighbors", "gh_neighbors(code, bits) - array of adjacent cells",
      (e: Seq[Expression]) => { require(e.length == 2, "gh_neighbors(code, bits)"); GhNeighbors(cL(e(0)), cI(e(1))) }),
    ("gh_neighbors_str", "gh_neighbors_str(code) - array of adjacent cells (string)",
      (e: Seq[Expression]) => { require(e.length == 1, "gh_neighbors_str(code)"); GhNeighborsString(cS(e(0))) }),
    ("gh_parent", "gh_parent(code, bits, parent_bits) - zoom out",
      (e: Seq[Expression]) => { require(e.length == 3, "gh_parent(code, bits, parent_bits)"); GhParent(cL(e(0)), cI(e(1)), cI(e(2))) }),
    ("gh_children", "gh_children(code, bits, child_bits) - zoom in",
      (e: Seq[Expression]) => { require(e.length == 3, "gh_children(code, bits, child_bits)"); GhChildren(cL(e(0)), cI(e(1)), cI(e(2))) }),
    ("gh_to_str", "gh_to_str(code, chars) - base32 of int64 code",
      (e: Seq[Expression]) => { require(e.length == 2, "gh_to_str(code, chars)"); GhToString(cL(e(0)), cI(e(1))) }),
    ("gh_from_str", "gh_from_str(s) - int64 code of base32 geohash",
      (e: Seq[Expression]) => { require(e.length == 1, "gh_from_str(s)"); GhFromString(cS(e(0))) }),
    ("gh_area", "gh_area(code, bits) - spherical cell area m^2",
      (e: Seq[Expression]) => { require(e.length == 2, "gh_area(code, bits)"); GhArea(cL(e(0)), cI(e(1))) }),
    ("haversine_m", "haversine_m(lon1, lat1, lon2, lat2) - great-circle meters",
      (e: Seq[Expression]) => { require(e.length == 4, "haversine_m(lon1, lat1, lon2, lat2)"); HaversineM(cD(e(0)), cD(e(1)), cD(e(2)), cD(e(3))) }),
    ("st_contains_wkt", "st_contains_wkt(wkt, lon, lat) - point in WKT polygon",
      (e: Seq[Expression]) => { require(e.length == 3, "st_contains_wkt(wkt, lon, lat)"); StContainsWkt(cS(e(0)), cD(e(1)), cD(e(2))) }),
    ("rolling_hash", "rolling_hash(text) - streaming polynomial fingerprint",
      (e: Seq[Expression]) => { require(e.length == 1, "rolling_hash(text)"); RollingHash(cS(e(0))) }),
    ("rolling_hash_alt", "rolling_hash_alt(text) - dual-path twin of rolling_hash",
      (e: Seq[Expression]) => { require(e.length == 1, "rolling_hash_alt(text)"); RollingHashAlt(cS(e(0))) }),
    ("md5_prefix60", "md5_prefix60(text) - top 60 md5 digest bits as BIGINT (= conv(substring(md5(s),1,15),16,10))",
      (e: Seq[Expression]) => { require(e.length == 1, "md5_prefix60(text)"); Md5Prefix60(cS(e(0))) }),
    ("hex_cell", "hex_cell(lon, lat, size) - packed axial hex id (planar lattice)",
      (e: Seq[Expression]) => { require(e.length == 3, "hex_cell(lon, lat, size)"); HexCell(cD(e(0)), cD(e(1)), cD(e(2))) }),
    ("hex_center", "hex_center(id, size) - hex center struct(lon, lat)",
      (e: Seq[Expression]) => { require(e.length == 2, "hex_center(id, size)"); HexCenter(cL(e(0)), cD(e(1))) }),
    ("hex_neighbors", "hex_neighbors(id) - the 6 adjacent hexes",
      (e: Seq[Expression]) => { require(e.length == 1, "hex_neighbors(id)"); HexNeighbors(cL(e(0))) }),
    ("hex_ring", "hex_ring(id, k) - the 6k hexes at distance exactly k",
      (e: Seq[Expression]) => { require(e.length == 2, "hex_ring(id, k)"); HexRing(cL(e(0)), cI(e(1))) }),
    ("derive_lon", "derive_lon(image_id) - deterministic derived longitude of a generated image row",
      (e: Seq[Expression]) => { require(e.length == 1, "derive_lon(image_id)"); DeriveLon(cS(e(0))) }),
    ("derive_lat", "derive_lat(image_id) - deterministic derived latitude of a generated image row",
      (e: Seq[Expression]) => { require(e.length == 1, "derive_lat(image_id)"); DeriveLat(cS(e(0))) }),
    ("caption_of", "caption_of(image_id) - expected caption of a generated image row",
      (e: Seq[Expression]) => { require(e.length == 1, "caption_of(image_id)"); CaptionOf(cS(e(0))) }),
    ("gh_covering", "gh_covering(min_lon, min_lat, max_lon, max_lat, bits) - array of covering cells",
      (e: Seq[Expression]) => GhCoveringArray(e.take(4).map(cD) :+ cI(e(4)))),
    ("gh_covering_polygon", "gh_covering_polygon(wkt, bits) - cells intersecting a WKT polygon",
      (e: Seq[Expression]) => { require(e.length == 2, "gh_covering_polygon(wkt, bits)"); GhCoveringPolygon(cS(e(0)), cI(e(1))) }),
    ("gh_covering_cells", "gh_covering_cells(min_lon, min_lat, max_lon, max_lat, bits) - generator: one row per covering cell",
      (e: Seq[Expression]) => GhCoveringCells(e.take(4).map(cD) :+ cI(e(4)))),
    ("h3u_cell", "h3u_cell(lon, lat, res) - Uber-H3 bit-compatible cell id",
      (e: Seq[Expression]) => { require(e.length == 3, "h3u_cell(lon, lat, res)"); H3UCell(cD(e(0)), cD(e(1)), cI(e(2))) }),
    ("h3u_center", "h3u_center(id) - cell center struct(lon, lat)",
      (e: Seq[Expression]) => { require(e.length == 1, "h3u_center(id)"); H3UCenter(cL(e(0))) }),
    ("h3u_parent", "h3u_parent(id, parent_res) - bit-compatible cellToParent",
      (e: Seq[Expression]) => { require(e.length == 2, "h3u_parent(id, parent_res)"); H3UParent(cL(e(0)), cI(e(1))) }),
    ("h3u_polyfill_wkt", "h3u_polyfill_wkt(wkt, res) - polygonToCells covering",
      (e: Seq[Expression]) => { require(e.length == 2, "h3u_polyfill_wkt(wkt, res)"); H3UPolyfillWkt(e(0), cI(e(1))) }),
    ("s2u_cell", "s2u_cell(lon, lat, level) - S2 cell id (published layout)",
      (e: Seq[Expression]) => { require(e.length == 3, "s2u_cell(lon, lat, level)"); S2UCell(cD(e(0)), cD(e(1)), cI(e(2))) }),
    ("s2u_token", "s2u_token(id) - S2 hex token, trailing zeros stripped",
      (e: Seq[Expression]) => { require(e.length == 1, "s2u_token(id)"); S2UToken(cL(e(0))) }),
    ("s2u_parent", "s2u_parent(id, level) - ancestor cell at level",
      (e: Seq[Expression]) => { require(e.length == 2, "s2u_parent(id, level)"); S2UParent(cL(e(0)), cI(e(1))) }),
    ("s2u_level", "s2u_level(id) - cell level from the sentinel bit",
      (e: Seq[Expression]) => { require(e.length == 1, "s2u_level(id)"); S2ULevel(cL(e(0))) }),
    ("s2u_center", "s2u_center(id) - cell center STRUCT<lon, lat>",
      (e: Seq[Expression]) => { require(e.length == 1, "s2u_center(id)"); S2UCenter(cL(e(0))) }),
    ("s2u_boundary_wkt", "s2u_boundary_wkt(id) - cell corner polygon as WKT",
      (e: Seq[Expression]) => { require(e.length == 1, "s2u_boundary_wkt(id)"); S2UBoundaryWkt(cL(e(0))) }),
    ("s2u_children", "s2u_children(id) - the 4 children in Hilbert order",
      (e: Seq[Expression]) => { require(e.length == 1, "s2u_children(id)"); S2UChildren(cL(e(0))) }),
    ("s2u_contains", "s2u_contains(ancestor, cell) - leaf-range containment",
      (e: Seq[Expression]) => { require(e.length == 2, "s2u_contains(ancestor, cell)"); S2UContains(cL(e(0)), cL(e(1))) }),
    ("s2u_cover_wkt", "s2u_cover_wkt(wkt, level) - polygon-tightened S2 covering",
      (e: Seq[Expression]) => { require(e.length == 2, "s2u_cover_wkt(wkt, level)"); S2UCoverWkt(cS(e(0)), cI(e(1))) }),
    ("h3u_compact", "h3u_compact(cells) - fold complete sibling sets into parents",
      (e: Seq[Expression]) => { require(e.length == 1, "h3u_compact(cells)"); H3UCompact(e(0)) }),
    ("h3u_uncompact", "h3u_uncompact(cells, res) - expand a mixed-res set to res",
      (e: Seq[Expression]) => { require(e.length == 2, "h3u_uncompact(cells, res)"); H3UUncompact(e(0), cI(e(1))) }),
    ("h3u_token", "h3u_token(id) - canonical lowercase-hex H3 index string",
      (e: Seq[Expression]) => { require(e.length == 1, "h3u_token(id)"); H3UToken(cL(e(0))) }),
    ("h3u_is_pentagon", "h3u_is_pentagon(id) - true for the 12 pentagon lineages",
      (e: Seq[Expression]) => { require(e.length == 1, "h3u_is_pentagon(id)"); H3UIsPentagon(cL(e(0))) }),
    ("h3u_disk", "h3u_disk(id, k) - cells within grid distance k (canonical gridDisk order)",
      (e: Seq[Expression]) => { require(e.length == 2, "h3u_disk(id, k)"); H3UDisk(cL(e(0)), cI(e(1))) }),
    ("h3u_boundary_wkt", "h3u_boundary_wkt(id) - cell corner polygon as WKT",
      (e: Seq[Expression]) => { require(e.length == 1, "h3u_boundary_wkt(id)"); H3UBoundaryWkt(cL(e(0))) }),
    ("h3u_children", "h3u_children(id, child_res) - bit-compatible cellToChildren",
      (e: Seq[Expression]) => { require(e.length == 2, "h3u_children(id, child_res)"); H3UChildren(cL(e(0)), cI(e(1))) }),
    ("h3u_resolution", "h3u_resolution(id) - resolution of a cell id",
      (e: Seq[Expression]) => { require(e.length == 1, "h3u_resolution(id)"); H3UResolution(cL(e(0))) }),
    ("collect_capped", "collect_capped(v, cap) - agg: sorted group values, NULL when the group exceeds cap",
      (e: Seq[Expression]) => {
        require(e.length == 2 && e(1).foldable, "collect_capped(v, literal cap)")
        CollectCapped(e(0), e(1).eval(null).asInstanceOf[Number].intValue())
      }),
  ).map { case (n, u, b) => (new FunctionIdentifier(n), info(n, u), b) }

  /** Idempotent registration into an existing session. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    all.foreach { case (id, inf, builder) => reg.registerFunction(id, inf, builder) }
  }
}

/** `SparkSessionExtensions` hook, usable via
  * `spark.sql.extensions=graft.sql.GraftExtensions` on spark-submit. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => DerivePipBBox)
    ext.injectOptimizerRule(_ => DeriveCoveringPrune)
  }
}

/** Column-API mirror of the registered functions (Spark-idiomatic import:
  * `import graft.sql.functions._`). */
object functions {
  def gh_encode(lon: Column, lat: Column, bits: Int): Column =
    call_function("gh_encode", lon, lat, lit(bits))
  def gh_encode_str(lon: Column, lat: Column, chars: Int): Column =
    call_function("gh_encode_str", lon, lat, lit(chars))
  def gh_decode(code: Column, bits: Int): Column =
    call_function("gh_decode", code, lit(bits))
  def gh_decode_str(code: Column): Column = call_function("gh_decode_str", code)
  def gh_bbox(code: Column, bits: Int): Column = call_function("gh_bbox", code, lit(bits))
  def gh_neighbors(code: Column, bits: Int): Column =
    call_function("gh_neighbors", code, lit(bits))
  def gh_neighbors_str(code: Column): Column = call_function("gh_neighbors_str", code)
  def gh_parent(code: Column, bits: Int, parentBits: Int): Column =
    call_function("gh_parent", code, lit(bits), lit(parentBits))
  def gh_children(code: Column, bits: Int, childBits: Int): Column =
    call_function("gh_children", code, lit(bits), lit(childBits))
  def gh_to_str(code: Column, chars: Int): Column = call_function("gh_to_str", code, lit(chars))
  def gh_from_str(s: Column): Column = call_function("gh_from_str", s)
  def gh_area(code: Column, bits: Int): Column = call_function("gh_area", code, lit(bits))
  def haversine_m(lon1: Column, lat1: Column, lon2: Column, lat2: Column): Column =
    call_function("haversine_m", lon1, lat1, lon2, lat2)
  def st_contains_wkt(wkt: Column, lon: Column, lat: Column): Column =
    call_function("st_contains_wkt", wkt, lon, lat)
  def hex_cell(lon: Column, lat: Column, size: Double): Column =
    call_function("hex_cell", lon, lat, lit(size))
  def hex_center(id: Column, size: Double): Column = call_function("hex_center", id, lit(size))
  def hex_neighbors(id: Column): Column = call_function("hex_neighbors", id)
  def hex_ring(id: Column, k: Int): Column = call_function("hex_ring", id, lit(k))
  def derive_lon(imageId: Column): Column = call_function("derive_lon", imageId)
  def derive_lat(imageId: Column): Column = call_function("derive_lat", imageId)
  def caption_of(imageId: Column): Column = call_function("caption_of", imageId)
  def gh_covering(minLon: Column, minLat: Column, maxLon: Column, maxLat: Column, bits: Int): Column =
    call_function("gh_covering", minLon, minLat, maxLon, maxLat, lit(bits))
  def gh_covering_cells(minLon: Column, minLat: Column, maxLon: Column, maxLat: Column, bits: Int): Column =
    call_function("gh_covering_cells", minLon, minLat, maxLon, maxLat, lit(bits))
  def gh_covering_polygon(wkt: Column, bits: Int): Column =
    call_function("gh_covering_polygon", wkt, lit(bits))
  def collect_capped(v: Column, cap: Int): Column =
    call_function("collect_capped", v, lit(cap))
  def md5_prefix60(s: Column): Column = call_function("md5_prefix60", s)
  def h3u_cell(lon: Column, lat: Column, res: Int): Column =
    call_function("h3u_cell", lon, lat, lit(res))
  def h3u_polyfill_wkt(wkt: Column, res: Int): Column =
    call_function("h3u_polyfill_wkt", wkt, lit(res))
  def s2u_cell(lon: Column, lat: Column, level: Int): Column =
    call_function("s2u_cell", lon, lat, lit(level))
  def s2u_token(id: Column): Column = call_function("s2u_token", id)
  def s2u_parent(id: Column, level: Int): Column = call_function("s2u_parent", id, lit(level))
  def s2u_level(id: Column): Column = call_function("s2u_level", id)
  def s2u_center(id: Column): Column = call_function("s2u_center", id)
  def s2u_boundary_wkt(id: Column): Column = call_function("s2u_boundary_wkt", id)
  def s2u_children(id: Column): Column = call_function("s2u_children", id)
  def s2u_contains(ancestor: Column, cell: Column): Column = call_function("s2u_contains", ancestor, cell)
  def s2u_cover_wkt(wkt: Column, level: Int): Column = call_function("s2u_cover_wkt", wkt, lit(level))
  def h3u_compact(cells: Column): Column = call_function("h3u_compact", cells)
  def h3u_uncompact(cells: Column, res: Int): Column = call_function("h3u_uncompact", cells, lit(res))
  def h3u_center(id: Column): Column = call_function("h3u_center", id)
  def h3u_parent(id: Column, parentRes: Int): Column =
    call_function("h3u_parent", id, lit(parentRes))
  def h3u_token(id: Column): Column = call_function("h3u_token", id)
  def h3u_is_pentagon(id: Column): Column = call_function("h3u_is_pentagon", id)
  def h3u_disk(id: Column, k: Int): Column = call_function("h3u_disk", id, lit(k))
  def h3u_boundary_wkt(id: Column): Column = call_function("h3u_boundary_wkt", id)
  def h3u_children(id: Column, childRes: Int): Column =
    call_function("h3u_children", id, lit(childRes))
  def h3u_resolution(id: Column): Column = call_function("h3u_resolution", id)
}

/** Session factory with graft functions pre-registered and scale-appropriate
  * defaults (shuffle partitions sized to cores, AQE + skew-join on). */
object GraftSpark {
  def session(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
              appName: String = "graft"): SparkSession = {
    val cores = master match {
      case m if m.startsWith("local[") && !m.contains("*") =>
        m.stripPrefix("local[").stripSuffix("]").toInt
      case _ => Runtime.getRuntime.availableProcessors()
    }
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.register(spark)
    spark
  }
}
