package graft.sql

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Geohash, GeoMath}
import graft.sql.{functions => gf}

class SqlFunctionsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSpark.session("local[4]", appName = "sql-spec")
  import spark.implicits._

  lazy val pts = Seq(
    (1L, 10.40744, 57.64911),
    (2L, -5.603, 42.605),
    (3L, 179.99, -33.8),
    (4L, -180.0, 85.0),
    (5L, 0.0, 0.0)
  ).toDF("id", "lon", "lat")

  test("gh_encode / gh_encode_str match core, via Column API and SQL") {
    val got = pts
      .withColumn("tile", gf.gh_encode($"lon", $"lat", 40))
      .withColumn("gh", gf.gh_encode_str($"lon", $"lat", 8))
      .orderBy("id").collect()
    got.foreach { r =>
      assert(r.getLong(3) == Geohash.encode(r.getDouble(1), r.getDouble(2), 40))
      assert(r.getString(4) == Geohash.encodeString(r.getDouble(1), r.getDouble(2), 8))
    }
    pts.createOrReplaceTempView("pts")
    val sqlGot = spark.sql(
      "SELECT id, gh_encode(lon, lat, 40) AS tile, gh_encode_str(lon, lat, 8) AS gh FROM pts ORDER BY id").collect()
    got.zip(sqlGot).foreach { case (a, b) =>
      assert(a.getLong(3) == b.getLong(1) && a.getString(4) == b.getString(2))
    }
  }

  test("codegen and interpreted agree (wholestage on/off)") {
    def run(flag: String) = {
      spark.conf.set("spark.sql.codegen.wholeStage", flag)
      spark.conf.set("spark.sql.codegen.factoryMode", if (flag == "true") "CODEGEN_ONLY" else "NO_CODEGEN")
      pts.select(
        gf.gh_encode($"lon", $"lat", 50),
        gf.gh_encode_str($"lon", $"lat", 12),
        gf.gh_parent(gf.gh_encode($"lon", $"lat", 50), 50, 20),
        gf.gh_area(gf.gh_encode($"lon", $"lat", 20), 20),
        gf.haversine_m($"lon", $"lat", lit(0.0), lit(0.0)),
        gf.gh_to_str(gf.gh_from_str(gf.gh_encode_str($"lon", $"lat", 7)), 7),
        gf.st_contains_wkt(lit("POLYGON ((-10 -10, 20 -10, 20 60, -10 60, -10 -10))"), $"lon", $"lat")
      ).collect().map(_.toSeq)
    }
    val cg = run("true"); val interp = run("false")
    spark.conf.unset("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.wholeStage", "true")
    assert(cg.toSeq == interp.toSeq)
  }

  test("NaN coordinates yield NULL, null propagates") {
    val df = Seq((Double.NaN, 1.0), (1.0, Double.NaN), (1.0, 1.0)).toDF("lon", "lat")
    val out = df.select(gf.gh_encode($"lon", $"lat", 30), gf.gh_encode_str($"lon", $"lat", 6)).collect()
    assert(out(0).isNullAt(0) && out(0).isNullAt(1))
    assert(out(1).isNullAt(0) && out(1).isNullAt(1))
    assert(!out(2).isNullAt(0) && !out(2).isNullAt(1))
  }

  test("gh_decode / gh_bbox structs") {
    val r = pts.select(
      gf.gh_decode(gf.gh_encode($"lon", $"lat", 30), 30).as("c"),
      gf.gh_bbox(gf.gh_encode($"lon", $"lat", 30), 30).as("b"),
      $"lon", $"lat").collect()
    r.foreach { row =>
      val c = row.getStruct(0); val b = row.getStruct(1)
      val (elon, elat) = Geohash.decodeCenter(Geohash.encode(row.getDouble(2), row.getDouble(3), 30), 30)
      assert(c.getDouble(0) == elon && c.getDouble(1) == elat)
      assert(b.getDouble(0) <= row.getDouble(2) && row.getDouble(2) <= b.getDouble(2))
      assert(b.getDouble(1) <= row.getDouble(3) && row.getDouble(3) <= b.getDouble(3))
    }
  }

  test("gh_neighbors / gh_children arrays") {
    val r = pts.select(
      gf.gh_neighbors(gf.gh_encode($"lon", $"lat", 30), 30),
      gf.gh_children(gf.gh_encode($"lon", $"lat", 30), 30, 35),
      gf.gh_neighbors_str(gf.gh_encode_str($"lon", $"lat", 6)),
      $"lon", $"lat").collect()
    r.foreach { row =>
      val code = Geohash.encode(row.getDouble(3), row.getDouble(4), 30)
      assert(row.getSeq[Long](0) == Geohash.neighbors(code, 30).toSeq)
      assert(row.getSeq[Long](1) == Geohash.children(code, 30, 35).toSeq)
      assert(row.getSeq[String](2) ==
        Geohash.neighborsString(Geohash.encodeString(row.getDouble(3), row.getDouble(4), 6)).toSeq)
    }
  }

  test("gh_covering array + generator agree, SQL LATERAL works") {
    val arr = spark.sql("SELECT gh_covering(-5.7D, 42.5D, -5.5D, 42.7D, 25) AS cells")
      .collect()(0).getSeq[Long](0)
    assert(arr.toArray.sameElements(Geohash.covering(-5.7, 42.5, -5.5, 42.7, 25)))
    val gen = spark.sql(
      "SELECT cell FROM (SELECT 1) LATERAL VIEW gh_covering_cells(-5.7D, 42.5D, -5.5D, 42.7D, 25) t AS cell")
      .collect().map(_.getLong(0))
    assert(gen.sameElements(arr))
  }

  test("st_contains_wkt refines like core PIP, non-literal wkt also works") {
    val wkt = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (3 3, 7 3, 7 7, 3 7, 3 3))"
    val grid = spark.range(0, 400).select(
      (($"id" % 20).cast("double") * 0.7 - 2.0).as("lon"),
      (($"id" / 20).cast("double") * 0.7 - 2.0).as("lat"))
    val got = grid.select($"lon", $"lat", gf.st_contains_wkt(lit(wkt), $"lon", $"lat").as("hit"))
      .collect()
    val rings = GeoMath.parseWktPolygon(wkt)
    got.foreach { r =>
      assert(r.getBoolean(2) == GeoMath.pointInPolygon(r.getDouble(0), r.getDouble(1), rings))
    }
    // non-foldable wkt column path
    val dyn = grid.withColumn("w", lit(wkt))
      .select(gf.st_contains_wkt($"w", $"lon", $"lat")).collect()
    assert(dyn.map(_.getBoolean(0)).toSeq == got.map(_.getBoolean(2)).toSeq)
  }

  test("s2u_* / h3u_polyfill_wkt expressions match the core library") {
    import graft.core.{S2U, H3U, GeoMath}
    val got = pts
      .withColumn("s2", gf.s2u_cell($"lon", $"lat", 12))
      .withColumn("p6", gf.s2u_parent($"s2", 6))
      .withColumn("lvl", gf.s2u_level($"s2"))
      .withColumn("tok", gf.s2u_token($"s2"))
      .withColumn("c", gf.s2u_center($"s2"))
      .orderBy("id").collect()
    got.foreach { r =>
      val expect = S2U.lonLatToCellAt(r.getDouble(1), r.getDouble(2), 12)
      assert(r.getLong(3) == expect)
      assert(r.getLong(4) == S2U.parent(expect, 6))
      assert(r.getInt(5) == 12)
      assert(r.getString(6) == S2U.token(expect))
      val (clon, clat) = S2U.centerLonLat(expect)
      assert(r.getStruct(7).getDouble(0) == clon && r.getStruct(7).getDouble(1) == clat)
    }
    val wkt = "POLYGON ((-2.5 41.0, 3.0 41.5, 2.0 48.0, -4.5 47.5, -2.5 41.0))"
    val cells = spark.sql(
      s"SELECT h3u_polyfill_wkt('$wkt', 4) AS c").collect()(0).getSeq[Long](0)
    assert(cells.toSet == H3U.polyfillPoly(GeoMath.parseWktPolygon(wkt), 4).toSet)
    assert(cells.nonEmpty)
  }

  test("s2u_boundary_wkt: valid closed CCW ring containing the cell center") {
    import graft.core.{S2U, GeoMath}
    val rows = pts.withColumn("s2", gf.s2u_cell($"lon", $"lat", 10))
      .withColumn("wkt", gf.s2u_boundary_wkt($"s2"))
      .select("s2", "wkt").collect()
    rows.foreach { r =>
      val id = r.getLong(0); val wkt = r.getString(1)
      val rings = GeoMath.parseWktPolygon(wkt)
      assert(rings.length == 1 && rings.head.length == 10, wkt) // 4 corners + close, lon/lat pairs
      // vertices match the core corner math exactly
      val corners = S2U.cellCornersLonLat(id)
      val parsed = rings.head.grouped(2).map(a => (a(0), a(1))).toArray
      assert(parsed.take(4).toSeq == corners.toSeq, wkt)
      // the planar PIP test contains the center for non-degenerate cells
      val (clon, clat) = S2U.centerLonLat(id)
      if (corners.map(_._1).max - corners.map(_._1).min < 180.0)
        assert(GeoMath.pointInPolygon(clon, clat, rings), s"center not inside $wkt")
    }
  }

  test("s2u_children/s2u_contains and h3u_compact/h3u_uncompact match the core library") {
    import graft.core.{S2U, H3U}
    val rows = pts.withColumn("s2", gf.s2u_cell($"lon", $"lat", 8))
      .withColumn("kids", gf.s2u_children($"s2"))
      .withColumn("self_in", gf.s2u_contains(gf.s2u_parent($"s2", 4), $"s2"))
      .select("s2", "kids", "self_in").collect()
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getSeq[Long](1).toArray.toSeq == S2U.children(id).toSeq)
      assert(r.getBoolean(2), "ancestor must contain its descendant")
    }
    // the SQL covering == the core coverPolygon (L-shape, level 8)
    val lWkt = "POLYGON ((-5.0 40.0, 10.0 40.0, 10.0 44.0, -1.0 44.0, -1.0 55.0, -5.0 55.0, -5.0 40.0))"
    val cover = spark.sql(s"SELECT s2u_cover_wkt('$lWkt', 8) AS c").collect()(0).getSeq[Long](0)
    assert(cover.toSet == graft.core.S2U.coverPolygon(
      graft.core.GeoMath.parseWktPolygon(lWkt), 8).toSet)
    assert(cover.nonEmpty)
    // compact a full child set back to the parent through SQL
    val hex = H3U.res0Cells.filterNot(H3U.isPentagon).head
    val kids = H3U.cellToChildren(hex, 2)
    val sqlRes = spark.sql(
      s"SELECT h3u_compact(array(${kids.mkString("L,")}L)) AS c," +
      s" h3u_uncompact(array(${hex}L), 2) AS u").collect()(0)
    assert(sqlRes.getSeq[Long](0).toSeq == Seq(hex))
    assert(sqlRes.getSeq[Long](1).toSet == kids.toSet)
  }

  test("explain: gh_encode stays inside WholeStageCodegen") {
    val df = spark.range(100).select(
      ($"id" % 360 - 180).cast("double").as("lon"), ($"id" % 170 - 85).cast("double").as("lat"))
    val plan = df.select(gf.gh_encode($"lon", $"lat", 40)).queryExecution.executedPlan.toString
    // "*(n)" prefixes mark operators fused into WholeStageCodegen stage n
    assert(plan.contains("*(1) Project") && plan.contains("gh_encode"), plan)
  }

  test("md5_prefix60 == conv(substring(md5(s),1,15),16,10) bit-for-bit") {
    import org.apache.spark.sql.functions.{conv, md5, substring, col, expr}
    // ASCII, unicode (multi-byte UTF-8), empty, whitespace, long strings
    val samples = Seq("", " ", "a", "the quick brown fox", "météo 观测 ätna",
      "a b c d e f g h i j", "x" * 10000, "caption of img000000000042: eddy sst 7")
    val df = spark.createDataFrame(samples.map(Tuple1(_))).toDF("s")
    val rows = df.select(
      gf.md5_prefix60(col("s")).as("fast"),
      conv(substring(md5(col("s")), 1, 15), 16, 10).cast("bigint").as("ref")).collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
    // and in interpreted (higher-order-function lambda) evaluation too
    val hof = df.select(expr("transform(array(s), x -> md5_prefix60(x))[0]").as("fast"),
      conv(substring(md5(col("s")), 1, 15), 16, 10).cast("bigint").as("ref")).collect()
    hof.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
  }

  test("a wrong argument count is an analysis-time usage error") {
    val sig = "(min_lon, min_lat, max_lon, max_lat, bits)"
    Seq(
      "SELECT gh_covering(-5.7D, 42.5D, -5.5D, 42.7D, 25, 99)" -> s"gh_covering$sig",
      "SELECT gh_covering(-5.7D, 42.5D, -5.5D, 42.7D)" -> s"gh_covering$sig",
      "SELECT cell FROM (SELECT 1) LATERAL VIEW gh_covering_cells(-5.7D, 42.5D, -5.5D, 42.7D, 25, 99) t AS cell" ->
        s"gh_covering_cells$sig",
      "SELECT h3u_parent(1L)" -> "h3u_parent(id, parent_res)",
    ).foreach { case (q, usage) =>
      // spark.sql analyzes eagerly: nothing is executed
      val e = intercept[Exception](spark.sql(q))
      assert(Option(e.getMessage).exists(_.contains(usage)), s"$q: $e")
    }
  }

  test("an array<int> cell argument is cast like every other argument") {
    def one(q: String) = spark.sql(q).collect()(0).toSeq
    assert(one("SELECT h3u_compact(array(1, 2)), h3u_uncompact(array(1, 2), 3)") ==
           one("SELECT h3u_compact(array(1L, 2L)), h3u_uncompact(array(1L, 2L), 3)"))
  }

  test("DeriveCoveringPrune: a covering planned after 300 distinct ones is served from the memo") {
    def plan(b: graft.core.BBox) = DeriveCoveringPrune.coveringCells(CellIndex.Geohash, b, 12, None)
    (1 to 300).foreach(i => plan(graft.core.BBox(i * 0.1, 0.0, i * 0.1 + 0.05, 0.05)))
    val repeat = graft.core.BBox(50.0, 10.0, 51.0, 11.0)
    // the memo returns the instance it stored; a recomputed covering is new
    assert(plan(repeat) eq plan(repeat), "a full memo no longer admits a new covering")
  }
}
