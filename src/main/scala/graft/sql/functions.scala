package graft.sql

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, SparkPlan}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._

/** Registration of the graft SQL functions: one table row per function,
  * from which come its name, usage string, argument count and input casts.
  *
  * Functions are registered into the session's FunctionRegistry so they work
  * from both SQL text and the Column API (via `call_function`), and flow
  * through Catalyst like built-ins: constant folding on literal precisions,
  * null propagation, WholeStageCodegen inlining.
  */
object GraftFunctions {
  /** A row of the function table. `sig` is the SQL signature,
    * `name(param, ...)`; with `doc` it is the usage string. The builder
    * checks the argument count against the parameters `sig` names, then
    * builds the node. */
  sealed trait Fn {
    def sig: String
    def doc: String
    protected def node(args: Seq[Expression]): Expression
    final def name: String = sig.takeWhile(_ != '(')
    final def arity: Int = sig.drop(name.length + 1).takeWhile(_ != ')').split(',').count(_.trim.nonEmpty)
    final def build(args: Seq[Expression]): Expression = {
      require(args.length == arity, s"$sig takes $arity arguments, got ${args.length}")
      node(args)
    }
  }

  /** A scalar function: a [[KernelCall]] over its arguments, each cast to
    * its declared input type, so the kernel sees exactly those types
    * whoever builds the node; casts to the argument's own type fold away
    * in the optimizer. The result is NULL on a NULL argument and, with
    * `nullOnNaN`, on a NaN coordinate. */
  final case class Scalar(sig: String, doc: String, inputs: Seq[DataType], output: DataType,
                          nullOnNaN: Boolean = false) extends Fn {
    require(inputs.length == arity, s"$sig declares ${inputs.length} input types")
    protected def node(args: Seq[Expression]): Expression =
      KernelCall(this, args.lazyZip(inputs).map(Cast(_, _)))
  }

  /** A function with its own node class: one the engine matches, or one
    * that is not a scalar; `make` casts the arguments it needs to. */
  private final case class Explicit(sig: String, doc: String)(
      make: Seq[Expression] => Expression) extends Fn {
    protected def node(args: Seq[Expression]): Expression = make(args)
  }

  private val D = DoubleType
  private val I = IntegerType
  private val L = LongType
  private val S = StringType
  private val LonLat = StructType(Seq(StructField("lon", D, false), StructField("lat", D, false)))
  private val Box = StructType(Seq("min_lon", "min_lat", "max_lon", "max_lat").map(StructField(_, D, false)))
  private val Cells = ArrayType(LongType, containsNull = false)
  private val CellsIn = ArrayType(LongType) // any array of integers casts to it

  // rows other code builds or matches: the cell encoders (CellIndex),
  // h3u_parent (CellIndex.H3U's prune predicate), gh_covering (the
  // gh_covering_cells generator)
  private[sql] val GhEncode = Scalar("gh_encode(lon, lat, bits)", "int64 geohash at bits precision",
    Seq(D, D, I), L, nullOnNaN = true)
  private[sql] val H3UCell = Scalar("h3u_cell(lon, lat, res)", "Uber-H3 bit-compatible cell id",
    Seq(D, D, I), L, nullOnNaN = true)
  private[sql] val S2UCell = Scalar("s2u_cell(lon, lat, level)", "S2 cell id (published layout)",
    Seq(D, D, I), L, nullOnNaN = true)
  private[sql] val H3UParent = Scalar("h3u_parent(id, parent_res)", "bit-compatible cellToParent", Seq(L, I), L)
  private val GhCovering = Scalar("gh_covering(min_lon, min_lat, max_lon, max_lat, bits)",
    "array of covering cells", Seq(D, D, D, D, I), Cells)

  private[sql] val scalars: Seq[Scalar] = Seq(
    GhEncode,
    Scalar("gh_encode_str(lon, lat, chars)", "base32 geohash string", Seq(D, D, I), S, nullOnNaN = true),
    Scalar("gh_decode(code, bits)", "cell center struct(lon, lat)", Seq(L, I), LonLat),
    Scalar("gh_decode_str(code)", "cell center struct(lon, lat)", Seq(S), LonLat),
    Scalar("gh_bbox(code, bits)", "struct(min_lon, min_lat, max_lon, max_lat)", Seq(L, I), Box),
    Scalar("gh_neighbors(code, bits)", "array of adjacent cells", Seq(L, I), Cells),
    Scalar("gh_neighbors_str(code)", "array of adjacent cells (string)", Seq(S),
      ArrayType(StringType, containsNull = false)),
    Scalar("gh_parent(code, bits, parent_bits)", "zoom out", Seq(L, I, I), L),
    Scalar("gh_children(code, bits, child_bits)", "zoom in", Seq(L, I, I), Cells),
    Scalar("gh_to_str(code, chars)", "base32 of int64 code", Seq(L, I), S),
    Scalar("gh_from_str(s)", "int64 code of base32 geohash", Seq(S), L),
    Scalar("gh_area(code, bits)", "spherical cell area m^2", Seq(L, I), D),
    Scalar("haversine_m(lon1, lat1, lon2, lat2)", "great-circle meters", Seq(D, D, D, D), D),
    Scalar("rolling_hash(text)", "streaming polynomial fingerprint", Seq(S), L),
    Scalar("rolling_hash_alt(text)", "dual-path twin of rolling_hash", Seq(S), L),
    Scalar("md5_prefix60(text)",
      "top 60 md5 digest bits as BIGINT (= conv(substring(md5(s),1,15),16,10))", Seq(S), L),
    Scalar("hex_cell(lon, lat, size)", "packed axial hex id (planar lattice)", Seq(D, D, D), L,
      nullOnNaN = true),
    Scalar("hex_center(id, size)", "hex center struct(lon, lat)", Seq(L, D), LonLat),
    Scalar("hex_neighbors(id)", "the 6 adjacent hexes", Seq(L), Cells),
    Scalar("hex_ring(id, k)", "the 6k hexes at distance exactly k", Seq(L, I), Cells),
    Scalar("derive_lon(image_id)", "deterministic derived longitude of a generated image row", Seq(S), D),
    Scalar("derive_lat(image_id)", "deterministic derived latitude of a generated image row", Seq(S), D),
    Scalar("caption_of(image_id)", "expected caption of a generated image row", Seq(S), S),
    GhCovering,
    Scalar("gh_covering_polygon(wkt, bits)", "cells intersecting a WKT polygon", Seq(S, I), Cells),
    H3UCell,
    Scalar("h3u_center(id)", "cell center struct(lon, lat)", Seq(L), LonLat),
    H3UParent,
    Scalar("h3u_polyfill_wkt(wkt, res)", "polygonToCells covering", Seq(S, I), Cells),
    S2UCell,
    Scalar("s2u_token(id)", "S2 hex token, trailing zeros stripped", Seq(L), S),
    Scalar("s2u_parent(id, level)", "ancestor cell at level", Seq(L, I), L),
    Scalar("s2u_level(id)", "cell level from the sentinel bit", Seq(L), I),
    Scalar("s2u_center(id)", "cell center STRUCT<lon, lat>", Seq(L), LonLat),
    Scalar("s2u_boundary_wkt(id)", "cell corner polygon as WKT", Seq(L), S),
    Scalar("s2u_children(id)", "the 4 children in Hilbert order", Seq(L), Cells),
    Scalar("s2u_contains(ancestor, cell)", "leaf-range containment", Seq(L, L), BooleanType),
    Scalar("s2u_cover_wkt(wkt, level)", "polygon-tightened S2 covering", Seq(S, I), Cells),
    Scalar("h3u_compact(cells)", "fold complete sibling sets into parents", Seq(CellsIn), Cells),
    Scalar("h3u_uncompact(cells, res)", "expand a mixed-res set to res", Seq(CellsIn, I), Cells),
    Scalar("h3u_token(id)", "canonical lowercase-hex H3 index string", Seq(L), S),
    Scalar("h3u_is_pentagon(id)", "true for the 12 pentagon lineages", Seq(L), BooleanType),
    Scalar("h3u_disk(id, k)", "cells within grid distance k (canonical gridDisk order)", Seq(L, I), Cells),
    Scalar("h3u_boundary_wkt(id)", "cell corner polygon as WKT", Seq(L), S),
    Scalar("h3u_children(id, child_res)", "bit-compatible cellToChildren", Seq(L, I), Cells),
    Scalar("h3u_resolution(id)", "resolution of a cell id", Seq(L), I),
  )

  private val explicit: Seq[Fn] = Seq(
    Explicit("st_contains_wkt(wkt, lon, lat)", "point in WKT polygon")(
      e => StContainsWkt(Cast(e(0), S), Cast(e(1), D), Cast(e(2), D))),
    Explicit("gh_covering_cells(min_lon, min_lat, max_lon, max_lat, bits)",
      "generator: one row per covering cell")(
      e => GhCoveringCells(GhCovering.build(e))),
    Explicit("collect_capped(v, cap)",
      "agg: sorted group values, NULL when the group exceeds cap (a literal)")({ e =>
        require(e(1).foldable, "collect_capped(v, cap): cap must be a literal")
        CollectCapped(e(0), e(1).eval(null).asInstanceOf[Number].intValue())
      }),
  )

  val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    (explicit ++ scalars).map { f =>
      (new FunctionIdentifier(f.name),
       new ExpressionInfo("graft.sql", "", f.name, s"${f.sig} - ${f.doc}", "", "", "", "", "", "", "built-in"),
       f.build _)
    }

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
    ext.injectOptimizerRule(_ => KernelNotNull)
    // runs just before whole-stage codegen, on the plain and the adaptive path
    ext.injectColumnar(_ => new ColumnarRule {
      override def preColumnarTransitions: Rule[SparkPlan] = ParamLiterals
    })
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
