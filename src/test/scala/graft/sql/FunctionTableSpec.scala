package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{GenerateExec, ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.graftcolumn.ColumnOf
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{H3U, HexGrid, S2U}

/** Table-driven checks over every scalar SQL function of
  * [[GraftFunctions.all]]: each is codegen'd inside a projection, agrees
  * with interpreted evaluation, and is nullable only where it must be. */
class FunctionTableSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSpark.session("local[2]", appName = "function-table-spec")

  /** Registered functions that are not scalars. */
  private val nonScalar = Set("collect_capped", "gh_covering_cells")
  /** Scalars that answer NULL for a NaN coordinate, so are always nullable. */
  private val nanGuarded = Set("gh_encode", "gh_encode_str", "hex_cell", "h3u_cell", "s2u_cell")

  // non-null, non-foldable sample inputs over spark.range's `id`
  private def pick(values: Seq[String]): String =
    values.init.zipWithIndex.map { case (v, i) => s"WHEN $i THEN $v" }
      .mkString(s"CASE id & ${values.length - 1} ", " ", s" ELSE ${values.last} END")
  private val lon = "(cast(id & 255 AS DOUBLE) * 1.40625 - 179.5)"
  private val lat = "(cast((id * 7) & 127 AS DOUBLE) * 1.3 - 82.0)"
  private val code30 = "((id * 7919) & 1073741823)"
  private val ghStr = "substr('u4pruydqqvjezs42', 1 + cast(id & 3 AS INT), 6)"
  private val text = "concat('caption of img', cast(id AS STRING), ' météo 观测')"
  private val imageId = "concat('img', cast(id AS STRING))"
  private val places = Seq((10.40744, 57.64911), (-5.603, 42.605), (179.99, -33.8), (-122.41, 37.77))
  private val h3r5 = pick(places.map { case (x, y) => s"${H3U.latLngToCell(y, x, 5)}L" })
  private val s2l12 = pick(places.map { case (x, y) => s"${S2U.lonLatToCellAt(x, y, 12)}L" })
  private val hexId = pick(places.map { case (x, y) => s"${HexGrid.cell(x, y, 0.5)}L" })
  private val wkt = pick(Seq(
    "'POLYGON ((-2.5 41.0, 3.0 41.5, 2.0 48.0, -4.5 47.5, -2.5 41.0))'",
    "'POLYGON ((10 50, 12 50, 12 52, 10 52, 10 50))'"))

  /** Sample arguments (SQL over `id`) of each scalar function. */
  private val samples: Map[String, Seq[String]] = Map(
    "gh_encode" -> Seq(lon, lat, "40"),
    "gh_encode_str" -> Seq(lon, lat, "8"),
    "gh_decode" -> Seq(code30, "30"),
    "gh_decode_str" -> Seq(ghStr),
    "gh_bbox" -> Seq(code30, "30"),
    "gh_neighbors" -> Seq(code30, "30"),
    "gh_neighbors_str" -> Seq(ghStr),
    "gh_parent" -> Seq(code30, "30", "20"),
    "gh_children" -> Seq(code30, "30", "34"),
    "gh_to_str" -> Seq(code30, "6"),
    "gh_from_str" -> Seq(ghStr),
    "gh_area" -> Seq(code30, "30"),
    "gh_covering" -> Seq(lon, lat, s"$lon + 0.1", s"$lat + 0.1", "20"),
    "gh_covering_polygon" -> Seq(wkt, "15"),
    "haversine_m" -> Seq(lon, lat, "0.0", "51.5"),
    "st_contains_wkt" -> Seq(wkt, lon, lat),
    "rolling_hash" -> Seq(text),
    "rolling_hash_alt" -> Seq(text),
    "md5_prefix60" -> Seq(text),
    "hex_cell" -> Seq(lon, lat, "0.5"),
    "hex_center" -> Seq(hexId, "0.5"),
    "hex_neighbors" -> Seq(hexId),
    "hex_ring" -> Seq(hexId, "2"),
    "derive_lon" -> Seq(imageId),
    "derive_lat" -> Seq(imageId),
    "caption_of" -> Seq(imageId),
    "h3u_cell" -> Seq(lon, lat, "7"),
    "h3u_center" -> Seq(h3r5),
    "h3u_parent" -> Seq(h3r5, "3"),
    "h3u_children" -> Seq(h3r5, "6"),
    "h3u_resolution" -> Seq(h3r5),
    "h3u_token" -> Seq(h3r5),
    "h3u_is_pentagon" -> Seq(h3r5),
    "h3u_disk" -> Seq(h3r5, "1"),
    "h3u_boundary_wkt" -> Seq(h3r5),
    "h3u_polyfill_wkt" -> Seq(wkt, "3"),
    "h3u_compact" -> Seq(s"h3u_children($h3r5, 6)"),
    "h3u_uncompact" -> Seq(s"array($h3r5)", "6"),
    "s2u_cell" -> Seq(lon, lat, "12"),
    "s2u_token" -> Seq(s2l12),
    "s2u_parent" -> Seq(s2l12, "6"),
    "s2u_level" -> Seq(s2l12),
    "s2u_center" -> Seq(s2l12),
    "s2u_boundary_wkt" -> Seq(s2l12),
    "s2u_children" -> Seq(s2l12),
    "s2u_contains" -> Seq(s"s2u_parent($s2l12, 4)", s2l12),
    "s2u_cover_wkt" -> Seq(wkt, "6"),
  )

  private def call(name: String): DataFrame = {
    val args = samples(name)
    spark.range(0, 64).selectExpr(
      args.zipWithIndex.map { case (a, i) => s"$a AS a$i" } :+ s"$name(${args.mkString(", ")}) AS out": _*)
  }

  /** `f` under whole-stage codegen, or under interpreted evaluation only. */
  private def withCodegen[T](codegen: Boolean)(f: => T): T =
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", codegen.toString)
      spark.conf.set("spark.sql.codegen.factoryMode", if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN")
      f
    } finally {
      spark.conf.unset("spark.sql.codegen.factoryMode")
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }

  /** Does a whole-stage codegen stage of `plan` hold an operator `op` picks? */
  private def fusedIn(plan: SparkPlan)(op: SparkPlan => Boolean): Boolean =
    plan.collect { case w: WholeStageCodegenExec => w }.exists(_.child.find(op).isDefined)

  private def collectOut(name: String, codegen: Boolean): Seq[Any] =
    withCodegen(codegen)(call(name).select("out").collect().map(_.get(0)).toSeq)

  test("every registered scalar function has sample arguments") {
    val registered = GraftFunctions.all.map(_._1.funcName).toSet -- nonScalar
    assert(registered == samples.keySet,
      s"missing: ${registered -- samples.keySet}; unknown: ${samples.keySet -- registered}")
  }

  test("every scalar function is codegen'd inside a WholeStageCodegen Project") {
    val failures = samples.keys.toSeq.sorted.flatMap { name =>
      val plan = call(name).queryExecution.executedPlan
      val fallback = plan.flatMap(_.expressions.flatMap(_.collect { case e: CodegenFallback => e }))
      val fused = plan.collect { case w: WholeStageCodegenExec => w }
        .exists(_.child.find(_.isInstanceOf[ProjectExec]).isDefined)
      if (fallback.isEmpty && fused) None
      else Some(s"$name: fallback=${fallback.map(_.prettyName).mkString(",")} fused=$fused")
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("every scalar function gives the same rows codegen'd and interpreted") {
    val failures = samples.keys.toSeq.sorted.filter { name =>
      val cg = collectOut(name, codegen = true)
      assert(cg.nonEmpty)
      cg != collectOut(name, codegen = false)
    }
    assert(failures.isEmpty, s"codegen and interpreted disagree: ${failures.mkString(", ")}")
  }

  test("outputs are nullable only when NaN-guarded or fed a nullable input") {
    val failures = samples.keys.toSeq.sorted.flatMap { name =>
      val schema = call(name).schema
      val nullableIn = schema.fields.filter(_.name != "out").exists(_.nullable)
      val expect = nanGuarded(name) || nullableIn
      if (schema("out").nullable == expect) None
      else Some(s"$name: nullable=${schema("out").nullable}, expected $expect")
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("NaN-guarded functions answer NULL for a NaN coordinate, codegen'd and interpreted") {
    nanGuarded.foreach { name =>
      val extra = samples(name).drop(2).mkString(", ")
      Seq(true, false).foreach { cg =>
        val out = withCodegen(cg)(spark.range(0, 4).selectExpr(
          s"$name(if(id = 0, cast('NaN' AS DOUBLE), cast(id AS DOUBLE)), 1.0D, $extra)",
          s"$name(1.0D, if(id = 0, cast('NaN' AS DOUBLE), cast(id AS DOUBLE)), $extra)").collect())
        assert(out.count(r => r.isNullAt(0) && r.isNullAt(1)) == 1, s"$name codegen=$cg")
      }
    }
  }

  test("a row built outside analysis evaluates, and stays in the executed plan codegen'd") {
    val c = H3U.latLngToCell(57.64911, 10.40744, 7)
    assert(GraftFunctions.H3UParent.build(Seq(Literal(c), Literal(3))).eval() == H3U.cellToParent(c, 3))
    val df = spark.range(0, 8).selectExpr(s"$h3r5 AS c")
      .select(ColumnOf(GraftFunctions.H3UParent.build(Seq(UnresolvedAttribute("c"), Literal(3)))).as("p"))
    val plan = df.queryExecution.executedPlan
    assert(fusedIn(plan) {
      case p: ProjectExec => p.projectList.exists(_.find {
        case KernelCall(fn, _) => fn == GraftFunctions.H3UParent
        case _ => false
      }.isDefined)
      case _ => false
    }, plan)
    assert(df.collect().map(_.getLong(0)).toSet ==
      places.map { case (x, y) => H3U.cellToParent(H3U.latLngToCell(y, x, 5), 3) }.toSet)
  }

  test("gh_covering_cells is a codegen'd generator with interpreted-equal rows") {
    def cells = spark.range(0, 16).selectExpr(
      s"gh_covering_cells($lon, $lat, $lon + 0.3, $lat + 0.2, 20)", "id")
    assert(cells.columns.toSeq == Seq("cell", "id"))
    val plan = cells.queryExecution.executedPlan
    assert(fusedIn(plan)(_.isInstanceOf[GenerateExec]), plan)
    assert(plan.flatMap(_.expressions.flatMap(_.collect { case e: CodegenFallback => e })).isEmpty, plan)
    def rows(codegen: Boolean) =
      withCodegen(codegen)(cells.collect().map(r => (r.getLong(1), r.getLong(0))).toSeq)
    assert(rows(codegen = true).nonEmpty)
    assert(rows(codegen = true) == rows(codegen = false))
  }
}
