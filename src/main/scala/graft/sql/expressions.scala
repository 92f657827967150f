package graft.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, CodegenFallback}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{Geohash, Base32, GeoMath}

/** Catalyst expressions for the geohash codec & cell algebra — the
  * Spark-native re-expression of pangeo-geohash's vectorized C++ kernels
  * (SURVEY.md §3.1). The reference vectorizes by looping over NumPy buffers
  * with the GIL released; here the same effect falls out of WholeStageCodegen:
  * each scalar op emits a static call into [[graft.core]] inside the generated
  * per-row loop, so there is no virtual dispatch or boxing in the hot path.
  *
  * NaN coordinates yield NULL (the core library would otherwise quietly
  * encode cell 0 — see GeohashCoreSpec).
  */
object ghExpr {
  private[sql] val nanGuard2 = "java.lang.Double.isNaN(%s) || java.lang.Double.isNaN(%s)"
}

/** gh_encode(lon, lat, bits) → LONG — right-justified Morton geohash.
  * Reference: int64.encode (`int64.hpp`, SURVEY.md §3.1 #1). */
case class GhEncode(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "gh_encode"

  override def nullSafeEval(lon: Any, lat: Any, bits: Any): Any = {
    val lo = lon.asInstanceOf[Double]; val la = lat.asInstanceOf[Double]
    if (lo.isNaN || la.isNaN) null
    else Geohash.encode(lo, la, bits.asInstanceOf[Int])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (lon, lat, bits) => s"""
      if (${ghExpr.nanGuard2.format(lon, lat)}) { ${ev.isNull} = true; }
      else { ${ev.value} = graft.core.Geohash.encode($lon, $lat, $bits); }""")

  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** gh_encode_str(lon, lat, chars) → STRING — base32 geohash.
  * Reference: string.encode (`string.hpp`, SURVEY.md §3.1 #5). */
case class GhEncodeString(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "gh_encode_str"

  override def nullSafeEval(lon: Any, lat: Any, chars: Any): Any = {
    val lo = lon.asInstanceOf[Double]; val la = lat.asInstanceOf[Double]
    if (lo.isNaN || la.isNaN) null
    else UTF8String.fromString(Geohash.encodeString(lo, la, chars.asInstanceOf[Int]))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (lon, lat, chars) => s"""
      if (${ghExpr.nanGuard2.format(lon, lat)}) { ${ev.isNull} = true; }
      else { ${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
        graft.core.Geohash.encodeString($lon, $lat, $chars)); }""")

  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** gh_decode(code, bits) → STRUCT<lon double, lat double> — cell center.
  * Reference: int64.decode (SURVEY.md §3.1 #2). */
case class GhDecode(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType =
    StructType(Seq(StructField("lon", DoubleType, false), StructField("lat", DoubleType, false)))
  override def prettyName: String = "gh_decode"

  override def nullSafeEval(code: Any, bits: Any): Any = {
    val (lon, lat) = Geohash.decodeCenter(code.asInstanceOf[Long], bits.asInstanceOf[Int])
    InternalRow(lon, lat)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** gh_decode_str(code) → STRUCT<lon, lat> — reference string.decode (#6). */
case class GhDecodeString(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType =
    StructType(Seq(StructField("lon", DoubleType, false), StructField("lat", DoubleType, false)))
  override def prettyName: String = "gh_decode_str"

  override def nullSafeEval(s: Any): Any = {
    val (lon, lat) = Geohash.decodeCenterString(s.asInstanceOf[UTF8String].toString)
    InternalRow(lon, lat)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** gh_bbox(code, bits) → STRUCT<min_lon, min_lat, max_lon, max_lat>.
  * Reference: string.bounding_box (#7). */
case class GhBoundingBox(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = StructType(Seq(
    StructField("min_lon", DoubleType, false), StructField("min_lat", DoubleType, false),
    StructField("max_lon", DoubleType, false), StructField("max_lat", DoubleType, false)))
  override def prettyName: String = "gh_bbox"

  override def nullSafeEval(code: Any, bits: Any): Any = {
    val b = Geohash.boundingBox(code.asInstanceOf[Long], bits.asInstanceOf[Int])
    InternalRow(b.minLon, b.minLat, b.maxLon, b.maxLat)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** gh_neighbors(code, bits) → ARRAY<LONG> — 8 adjacent cells (≤8 at poles).
  * Reference: int64.neighbors (#3). */
case class GhNeighbors(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "gh_neighbors"

  override def nullSafeEval(code: Any, bits: Any): Any =
    new GenericArrayData(Geohash.neighbors(code.asInstanceOf[Long], bits.asInstanceOf[Int]))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** gh_neighbors_str(code) → ARRAY<STRING> — reference string.neighbors (#9). */
case class GhNeighborsString(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "gh_neighbors_str"

  override def nullSafeEval(s: Any): Any =
    new GenericArrayData(Geohash.neighborsString(s.asInstanceOf[UTF8String].toString)
      .map(UTF8String.fromString): Array[Any])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** gh_parent(code, bits, parent_bits) → LONG — zoom out (prefix truncation,
  * SURVEY.md §3.1 #14). */
case class GhParent(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "gh_parent"

  override def nullSafeEval(code: Any, bits: Any, pbits: Any): Any =
    Geohash.parent(code.asInstanceOf[Long], bits.asInstanceOf[Int], pbits.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, b, p) => s"graft.core.Geohash.parent($c, $b, $p)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** gh_children(code, bits, child_bits) → ARRAY<LONG> — zoom in (#14). */
case class GhChildren(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "gh_children"

  override def nullSafeEval(code: Any, bits: Any, cbits: Any): Any =
    new GenericArrayData(Geohash.children(
      code.asInstanceOf[Long], bits.asInstanceOf[Int], cbits.asInstanceOf[Int]))
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** gh_to_str(code, chars) → STRING — base32 of an int64 code (#4). */
case class GhToString(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "gh_to_str"

  override def nullSafeEval(code: Any, chars: Any): Any =
    UTF8String.fromString(Base32.encode(code.asInstanceOf[Long], chars.asInstanceOf[Int]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, n) =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(graft.core.Base32.encode($c, $n))")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** gh_from_str(s) → LONG — base32 decode to right-justified code (#4). */
case class GhFromString(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "gh_from_str"

  override def nullSafeEval(s: Any): Any = Base32.decode(s.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.core.Base32.decode($s.toString())")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** gh_area(code, bits) → DOUBLE — spherical cell area, m² (#12). */
case class GhArea(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "gh_area"

  override def nullSafeEval(code: Any, bits: Any): Any =
    Geohash.area(code.asInstanceOf[Long], bits.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, b) => s"graft.core.Geohash.area($c, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** haversine_m(lon1, lat1, lon2, lat2) → DOUBLE meters (extension: kNN). */
case class HaversineM(first: Expression, second: Expression, third: Expression, fourth: Expression)
    extends QuaternaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "haversine_m"

  override def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    GeoMath.haversineM(a.asInstanceOf[Double], b.asInstanceOf[Double],
      c.asInstanceOf[Double], d.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, d) => s"graft.core.GeoMath.haversineM($a, $b, $c, $d)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression, q: Expression): Expression =
    copy(first = f, second = s, third = t, fourth = q)
}

/** st_contains_wkt(wkt, lon, lat) → BOOLEAN — even-odd point-in-polygon
  * against a WKT POLYGON (extension: exact refine after the cell-coarse
  * join, SURVEY.md §3.3). When the WKT is foldable (the common case: a
  * literal query polygon) the rings are parsed once at plan time and shared
  * through the codegen reference table. */
case class StContainsWkt(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "st_contains_wkt"

  @transient private lazy val staticRings: Array[Array[Double]] =
    if (first.foldable) {
      val w = first.eval(null)
      if (w == null) null else GeoMath.parseWktPolygon(w.asInstanceOf[UTF8String].toString)
    } else null

  override def nullSafeEval(wkt: Any, lon: Any, lat: Any): Any = {
    val rings = if (staticRings != null) staticRings
                else GeoMath.parseWktPolygon(wkt.asInstanceOf[UTF8String].toString)
    GeoMath.pointInPolygon(lon.asInstanceOf[Double], lat.asInstanceOf[Double], rings)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (first.foldable && staticRings != null) {
      val ringsRef = ctx.addReferenceObj("pipRings", staticRings, "double[][]")
      nullSafeCodeGen(ctx, ev, (_, lon, lat) =>
        s"${ev.value} = graft.core.GeoMath.pointInPolygon($lon, $lat, $ringsRef);")
    } else {
      nullSafeCodeGen(ctx, ev, (wkt, lon, lat) =>
        s"${ev.value} = graft.core.GeoMath.pointInPolygon($lon, $lat, graft.core.GeoMath.parseWktPolygon($wkt.toString()));")
    }

  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** rolling_hash(text) → LONG — streaming polynomial fingerprint
  * (graft.core.TextHash; per-char loop, so no SQL oracle form). */
case class RollingHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash"
  override def nullSafeEval(s: Any): Any =
    graft.core.TextHash.rollingHash(s.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.core.TextHash.rollingHash($s.toString())")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** rolling_hash_alt(text) → LONG — independently-arranged twin of
  * rolling_hash (graft.core.TextHash.rollingHashAlt); the dual-path check
  * for q45. */
case class RollingHashAlt(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash_alt"
  override def nullSafeEval(s: Any): Any =
    graft.core.TextHash.rollingHashAlt(s.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.core.TextHash.rollingHashAlt($s.toString())")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** md5_prefix60(text) → LONG — top 60 bits of the md5 digest, bit-identical
  * to CAST(CONV(SUBSTRING(md5(s),1,15),16,10) AS BIGINT) (the oracle SQL
  * form) but computed from the digest bytes with no hex-string round trip
  * (graft.core.TextHash.md5Prefix60 — the dedup family's per-shingle hot
  * loop). */
case class Md5Prefix60(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "md5_prefix60"
  override def nullSafeEval(s: Any): Any =
    graft.core.TextHash.md5Prefix60(s.asInstanceOf[UTF8String].getBytes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.core.TextHash.md5Prefix60($s.getBytes())")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** hex_cell(lon, lat, size) → LONG — packed axial hex id (planar pointy-top
  * lattice, graft.core.HexGrid; hexagonal capability per north_star,
  * honestly scoped — not H3-compatible). */
case class HexCell(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "hex_cell"
  override def nullSafeEval(lon: Any, lat: Any, size: Any): Any = {
    val lo = lon.asInstanceOf[Double]; val la = lat.asInstanceOf[Double]
    if (lo.isNaN || la.isNaN) null
    else graft.core.HexGrid.cell(lo, la, size.asInstanceOf[Double])
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (lon, lat, size) => s"""
      if (${ghExpr.nanGuard2.format(lon, lat)}) { ${ev.isNull} = true; }
      else { ${ev.value} = graft.core.HexGrid.cell($lon, $lat, $size); }""")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** hex_center(id, size) → STRUCT<lon, lat>. */
case class HexCenter(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType =
    StructType(Seq(StructField("lon", DoubleType, false), StructField("lat", DoubleType, false)))
  override def prettyName: String = "hex_center"
  override def nullSafeEval(id: Any, size: Any): Any = {
    val (lon, lat) = graft.core.HexGrid.center(id.asInstanceOf[Long], size.asInstanceOf[Double])
    InternalRow(lon, lat)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** hex_neighbors(id) → ARRAY<LONG> — the 6 adjacent hexes. */
case class HexNeighbors(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hex_neighbors"
  override def nullSafeEval(id: Any): Any =
    new GenericArrayData(graft.core.HexGrid.neighbors(id.asInstanceOf[Long]))
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** hex_ring(id, k) → ARRAY<LONG> — the 6k cells at hex distance exactly k. */
case class HexRing(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hex_ring"
  override def nullSafeEval(id: Any, k: Any): Any =
    new GenericArrayData(graft.core.HexGrid.ring(id.asInstanceOf[Long], k.asInstanceOf[Int]))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** derive_lon(image_id) → DOUBLE — deterministic position derivation for the
  * image+caption table (BASELINE.json input_hint: lat/lon are NOT columns;
  * they derive from image_id via FNV-1a + splitmix64, graft.data.ImageGen).
  * A native expression (static call inside WholeStageCodegen) instead of a
  * Scala UDF: this is the headline 10¹²-row tile-assign path, where UDF
  * boxing/row-conversion would dominate. */
case class DeriveLon(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "derive_lon"
  override def nullSafeEval(id: Any): Any =
    graft.data.ImageGen.posLonOf(id.asInstanceOf[UTF8String])
  // UTF8String passed straight through: the FNV-1a hash reads its bytes in
  // place, so the per-row hot loop allocates nothing (was $s.toString()).
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.data.ImageGen.posLonOf($s)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** derive_lat(image_id) → DOUBLE — see [[DeriveLon]]. */
case class DeriveLat(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "derive_lat"
  override def nullSafeEval(id: Any): Any =
    graft.data.ImageGen.posLatOf(id.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.data.ImageGen.posLatOf($s)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** caption_of(image_id) → STRING — the deterministic expected caption of a
  * generated row (graft.data.ImageGen.captionOf); the caption-equality
  * invariant check (BASELINE.json input_hint) as a codegen'd expression. */
case class CaptionOf(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "caption_of"
  override def nullSafeEval(id: Any): Any =
    graft.data.ImageGen.captionOf(id.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.data.ImageGen.captionOf($s)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** gh_covering(min_lon, min_lat, max_lon, max_lat, bits) → ARRAY<LONG> —
  * scalar form of the reference's bounding_boxes covering (#8); used to
  * build the broadcast side of box joins. Capped at 2^20 cells. */
case class GhCoveringArray(children: Seq[Expression])
    extends Expression with CodegenFallback {
  require(children.length == 5, "gh_covering takes (min_lon, min_lat, max_lon, max_lat, bits)")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = "gh_covering"

  override def eval(input: InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.contains(null)) return null
    new GenericArrayData(Geohash.covering(
      vs(0).asInstanceOf[Double], vs(1).asInstanceOf[Double],
      vs(2).asInstanceOf[Double], vs(3).asInstanceOf[Double], vs(4).asInstanceOf[Int]))
  }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(children = cs)
}

/** gh_covering_polygon(wkt, bits) → ARRAY<LONG> — cells intersecting a WKT
  * polygon (bbox covering refined by exact rect-polygon intersection);
  * the vector side of raster↔vector joins. */
case class GhCoveringPolygon(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "gh_covering_polygon"
  override def nullSafeEval(wkt: Any, bits: Any): Any =
    new GenericArrayData(Geohash.polygonCovering(
      GeoMath.parseWktPolygon(wkt.asInstanceOf[UTF8String].toString),
      bits.asInstanceOf[Int]))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** gh_covering_cells(min_lon, min_lat, max_lon, max_lat, bits) — Generator
  * form: one output row per covering cell (column `cell: LONG`). The
  * distributed analogue of the reference's lattice walk (SURVEY.md §3.1 #8):
  * LATERAL-explode boxes into cells, then equi-join on cell. */
case class GhCoveringCells(children: Seq[Expression])
    extends Expression with Generator with CodegenFallback {
  require(children.length == 5, "gh_covering_cells takes (min_lon, min_lat, max_lon, max_lat, bits)")
  override def elementSchema: StructType = StructType(Seq(StructField("cell", LongType, false)))
  override def prettyName: String = "gh_covering_cells"

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val vs = children.map(_.eval(input))
    if (vs.contains(null)) return Nil
    Geohash.covering(
      vs(0).asInstanceOf[Double], vs(1).asInstanceOf[Double],
      vs(2).asInstanceOf[Double], vs(3).asInstanceOf[Double], vs(4).asInstanceOf[Int])
      .iterator.map(c => InternalRow(c))
  }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(children = cs)
}

/** collect_capped(v, cap) → ARRAY — the group's values SORTED, or NULL when
  * the group has more than `cap` members. The ONE-PASS form of "count each
  * bucket, keep only small buckets, then gather their members": the
  * aggregation buffer stops growing at cap+1 elements, so a degenerate hot
  * bucket (a boilerplate min-hash key shared by 10⁹ docs at 100 TB) costs
  * O(cap) memory per group — unlike collect_list, which would materialize
  * the whole bucket before any size filter could run. Drives the fused
  * min-hash candidate stage ([[graft.engine.TextOps.lshCandidates]]).
  * Children limited to STRING / BIGINT / INT (id-like columns). */
case class CollectCapped(
    child: Expression, cap: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[java.util.ArrayList[Any]] {

  require(cap >= 1, s"collect_capped cap must be >= 1, got $cap")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)
  override def prettyName: String = "collect_capped"

  // enforce the supported id-like types at analysis time — without this the
  // serialize() fallback would writeInt a double and die mid-shuffle with a
  // ClassCastException instead of a clear analysis error
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType | LongType | IntegerType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"collect_capped supports STRING/BIGINT/INT children, got ${other.catalogString}")
    }

  private lazy val cmp: java.util.Comparator[Any] = child.dataType match {
    case StringType => (a: Any, b: Any) =>
      a.asInstanceOf[UTF8String].compareTo(b.asInstanceOf[UTF8String])
    case LongType => (a: Any, b: Any) =>
      java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
    case IntegerType => (a: Any, b: Any) =>
      java.lang.Integer.compare(a.asInstanceOf[Int], b.asInstanceOf[Int])
    case other => throw new IllegalArgumentException(
      s"collect_capped supports string/bigint/int children, got $other")
  }

  override def createAggregationBuffer(): java.util.ArrayList[Any] =
    new java.util.ArrayList[Any](4)

  override def update(buf: java.util.ArrayList[Any], input: InternalRow): java.util.ArrayList[Any] = {
    if (buf.size() <= cap) { // grows to cap+1, then stops: overflow marker
      val v = child.eval(input)
      if (v != null) buf.add(v match {
        case s: UTF8String => s.clone() // unsafe-row backed memory is reused
        case x => x
      })
    }
    buf
  }

  override def merge(b1: java.util.ArrayList[Any], b2: java.util.ArrayList[Any]): java.util.ArrayList[Any] = {
    var i = 0
    while (i < b2.size() && b1.size() <= cap) { b1.add(b2.get(i)); i += 1 }
    b1
  }

  override def eval(buf: java.util.ArrayList[Any]): Any = {
    if (buf.size() > cap) null
    else {
      val arr = new Array[Any](buf.size())
      var i = 0
      while (i < arr.length) { arr(i) = buf.get(i); i += 1 }
      java.util.Arrays.sort(arr.asInstanceOf[Array[AnyRef]], cmp.asInstanceOf[java.util.Comparator[AnyRef]])
      new GenericArrayData(arr)
    }
  }

  override def serialize(buf: java.util.ArrayList[Any]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(buf.size())
    var i = 0
    child.dataType match {
      case StringType => while (i < buf.size()) {
        val b = buf.get(i).asInstanceOf[UTF8String].getBytes
        out.writeInt(b.length); out.write(b); i += 1
      }
      case LongType => while (i < buf.size()) { out.writeLong(buf.get(i).asInstanceOf[Long]); i += 1 }
      case _ => while (i < buf.size()) { out.writeInt(buf.get(i).asInstanceOf[Int]); i += 1 }
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): java.util.ArrayList[Any] = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new java.util.ArrayList[Any](n)
    var i = 0
    child.dataType match {
      case StringType => while (i < n) {
        val len = in.readInt(); val b = new Array[Byte](len)
        in.readFully(b); buf.add(UTF8String.fromBytes(b)); i += 1
      }
      case LongType => while (i < n) { buf.add(in.readLong()); i += 1 }
      case _ => while (i < n) { buf.add(in.readInt()); i += 1 }
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CollectCapped =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CollectCapped =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(child = cs(0))
}

/** h3u_cell(lon, lat, res) → LONG — Uber-H3 BIT-COMPATIBLE cell id
  * ([[graft.core.H3U]]; validated against published golden vectors in
  * H3USpec). Note the lon-first argument order matches this library's other
  * spatial functions; H3U itself is lat-first like the H3 API. */
case class H3UCell(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "h3u_cell"
  override def nullSafeEval(lon: Any, lat: Any, res: Any): Any = {
    val lo = lon.asInstanceOf[Double]; val la = lat.asInstanceOf[Double]
    if (lo.isNaN || la.isNaN) null
    else graft.core.H3U.latLngToCell(la, lo, res.asInstanceOf[Int])
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (lon, lat, res) => s"""
      if (${ghExpr.nanGuard2.format(lon, lat)}) { ${ev.isNull} = true; }
      else { ${ev.value} = graft.core.H3U.latLngToCell($lat, $lon, $res); }""")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** h3u_center(id) → STRUCT<lon, lat> — bit-compatible cellToLatLng. */
case class H3UCenter(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType =
    StructType(Seq(StructField("lon", DoubleType, false), StructField("lat", DoubleType, false)))
  override def prettyName: String = "h3u_center"
  override def nullSafeEval(id: Any): Any = {
    val (lat, lon) = graft.core.H3U.cellToLatLng(id.asInstanceOf[Long])
    InternalRow(lon, lat)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** h3u_parent(id, parent_res) → LONG — bit-compatible cellToParent. */
case class H3UParent(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "h3u_parent"
  override def nullSafeEval(id: Any, pres: Any): Any =
    graft.core.H3U.cellToParent(id.asInstanceOf[Long], pres.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (i, p) => s"graft.core.H3U.cellToParent($i, $p)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** h3u_token(id) → STRING — canonical lowercase-hex H3 index string
  * (e.g. 85283473fffffff), interoperable with the H3 ecosystem. */
case class H3UToken(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "h3u_token"
  override def nullSafeEval(id: Any): Any =
    UTF8String.fromString(graft.core.H3U.token(id.asInstanceOf[Long]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, i =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(graft.core.H3U.token($i))")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** h3u_is_pentagon(id) → BOOLEAN. */
case class H3UIsPentagon(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "h3u_is_pentagon"
  override def nullSafeEval(id: Any): Any = graft.core.H3U.isPentagon(id.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, i => s"graft.core.H3U.isPentagon($i)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** h3u_disk(id, k) → ARRAY<LONG> — all Uber-H3-compatible cells within
  * grid distance k, in H3's canonical gridDisk spiral order (BFS set order
  * near pentagons, mirroring H3's unsafe→safe fallback). */
case class H3UDisk(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "h3u_disk"
  override def nullSafeEval(id: Any, k: Any): Any =
    new GenericArrayData(graft.core.H3U.gridDisk(id.asInstanceOf[Long], k.asInstanceOf[Int]))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** h3u_boundary_wkt(id) → STRING — the cell's corner polygon as WKT
  * (lon lat order, closed ring), for interop with the st_* functions and
  * external GIS tools. */
case class H3UBoundaryWkt(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "h3u_boundary_wkt"
  override def nullSafeEval(id: Any): Any = {
    val b = graft.core.H3U.cellToBoundary(id.asInstanceOf[Long])
    val ring = (b :+ b.head).map { case (lat, lon) => s"$lon $lat" }.mkString(", ")
    UTF8String.fromString(s"POLYGON (($ring))")
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, i =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(graft.sql.H3UBoundaryWkt.wkt($i))")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
object H3UBoundaryWkt {
  /** static form for codegen */
  def wkt(id: Long): String = {
    val b = graft.core.H3U.cellToBoundary(id)
    val ring = (b :+ b.head).map { case (lat, lon) => s"$lon $lat" }.mkString(", ")
    s"POLYGON (($ring))"
  }
}

/** h3u_children(id, child_res) → ARRAY<LONG> — bit-compatible
  * cellToChildren (pentagon lineages skip the deleted K subsequence). */
case class H3UChildren(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "h3u_children"
  override def nullSafeEval(id: Any, childRes: Any): Any =
    new GenericArrayData(graft.core.H3U.cellToChildren(
      id.asInstanceOf[Long], childRes.asInstanceOf[Int]))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** h3u_resolution(id) → INT. */
case class H3UResolution(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "h3u_resolution"
  override def nullSafeEval(id: Any): Any = graft.core.H3U.resolution(id.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, i => s"graft.core.H3U.resolution($i)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** s2u_cell(lon, lat, level) → LONG — S2 cell id in the published layout
  * ([[graft.core.S2U]]: face ++ Hilbert position ++ sentinel). */
case class S2UCell(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "s2u_cell"
  override def nullSafeEval(lon: Any, lat: Any, level: Any): Any = {
    val lo = lon.asInstanceOf[Double]; val la = lat.asInstanceOf[Double]
    if (lo.isNaN || la.isNaN) null
    else graft.core.S2U.lonLatToCellAt(lo, la, level.asInstanceOf[Int])
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (lon, lat, level) => s"""
      if (${ghExpr.nanGuard2.format(lon, lat)}) { ${ev.isNull} = true; }
      else { ${ev.value} = graft.core.S2U.lonLatToCellAt($lon, $lat, $level); }""")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** s2u_token(id) → STRING — hex token, trailing zeros stripped. */
case class S2UToken(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "s2u_token"
  override def nullSafeEval(id: Any): Any =
    UTF8String.fromString(graft.core.S2U.token(id.asInstanceOf[Long]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, i =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(graft.core.S2U.token($i))")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** s2u_parent(id, level) → LONG — ancestor via truncate-and-set-sentinel. */
case class S2UParent(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "s2u_parent"
  override def nullSafeEval(id: Any, level: Any): Any =
    graft.core.S2U.parent(id.asInstanceOf[Long], level.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (i, l) => s"graft.core.S2U.parent($i, $l)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** s2u_level(id) → INT. */
case class S2ULevel(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "s2u_level"
  override def nullSafeEval(id: Any): Any = graft.core.S2U.level(id.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, i => s"graft.core.S2U.level($i)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** s2u_center(id) → STRUCT<lon, lat> — cell center (GetCenterSiTi form). */
case class S2UCenter(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType =
    StructType(Seq(StructField("lon", DoubleType, false), StructField("lat", DoubleType, false)))
  override def prettyName: String = "s2u_center"
  override def nullSafeEval(id: Any): Any = {
    val (lon, lat) = graft.core.S2U.centerLonLat(id.asInstanceOf[Long])
    InternalRow(lon, lat)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** s2u_boundary_wkt(id) → STRING — the cell's 4-corner polygon as WKT
  * (lon lat order, CCW, closed ring) — SQL-surface parity with gh_bbox
  * and h3u_boundary_wkt. Corners are exact uv-grid points, so adjacent
  * same-level cells share identical vertex coordinates. */
case class S2UBoundaryWkt(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "s2u_boundary_wkt"
  override def nullSafeEval(id: Any): Any =
    UTF8String.fromString(S2UBoundaryWkt.wkt(id.asInstanceOf[Long]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, i =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(graft.sql.S2UBoundaryWkt.wkt($i))")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
object S2UBoundaryWkt {
  /** static form for codegen */
  def wkt(id: Long): String = {
    val b = graft.core.S2U.cellCornersLonLat(id)
    val ring = (b :+ b.head).map { case (lon, lat) => s"$lon $lat" }.mkString(", ")
    s"POLYGON (($ring))"
  }
}

/** h3u_polyfill_wkt(wkt, res) → ARRAY<LONG> — polygonToCells: the
  * conservative polygon covering ([[graft.core.H3U.polyfillPoly]];
  * strictly tighter than the bbox polyfill for L-shaped polygons).
  * Typically called with a literal polygon (planning-side); per-row use
  * is legal but each distinct polygon pays a lattice BFS. */
case class H3UPolyfillWkt(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "h3u_polyfill_wkt"
  override def nullSafeEval(wkt: Any, res: Any): Any = {
    val rings = graft.core.GeoMath.parseWktPolygon(wkt.asInstanceOf[UTF8String].toString)
    new GenericArrayData(graft.core.H3U.polyfillPoly(rings, res.asInstanceOf[Int]))
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** s2u_children(id) -> ARRAY<LONG> - the 4 children in Hilbert traversal
  * order (published layout: contiguous leaf sub-ranges). */
case class S2UChildren(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "s2u_children"
  override def nullSafeEval(id: Any): Any =
    new GenericArrayData(graft.core.S2U.children(id.asInstanceOf[Long]))
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** s2u_contains(ancestor, cell) -> BOOLEAN - leaf-range containment
  * (published rangeMin/rangeMax algebra; O(1), codegen'd). */
case class S2UContains(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "s2u_contains"
  override def nullSafeEval(a: Any, c: Any): Any =
    graft.core.S2U.contains(a.asInstanceOf[Long], c.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, c) => s"graft.core.S2U.contains($a, $c)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** h3u_compact(cells) -> ARRAY<LONG> - published compactCells: complete
  * sibling sets fold into their parent (6 children for pentagon parents),
  * yielding a mixed-resolution set covering exactly the same region.
  * Input must be distinct cells of one resolution. */
case class H3UCompact(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "h3u_compact"
  override def nullSafeEval(cells: Any): Any = {
    val arr = cells.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray()
    new GenericArrayData(graft.core.H3U.compactCells(arr))
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** h3u_uncompact(cells, res) -> ARRAY<LONG> - published uncompactCells:
  * expand a (possibly mixed-resolution) set to uniform `res`. */
case class H3UUncompact(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "h3u_uncompact"
  override def nullSafeEval(cells: Any, res: Any): Any = {
    val arr = cells.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray()
    new GenericArrayData(graft.core.H3U.uncompactCells(arr, res.asInstanceOf[Int]))
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** s2u_cover_wkt(wkt, level) -> ARRAY<LONG> - the polygon-tightened
  * conservative S2 covering ([[graft.core.S2U.coverPolygon]]: sliced
  * bbox coverBox minus cells whose conservative rect bound misses the
  * polygon) - SQL parity with gh_covering_cells and h3u_polyfill_wkt.
  * Typically called with a literal polygon (planning-side). */
case class S2UCoverWkt(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "s2u_cover_wkt"
  override def nullSafeEval(wkt: Any, level: Any): Any = {
    val rings = graft.core.GeoMath.parseWktPolygon(wkt.asInstanceOf[UTF8String].toString)
    new GenericArrayData(graft.core.S2U.coverPolygon(rings, level.asInstanceOf[Int]))
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
