package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{EqualTo, Expression, In, InSet, Literal}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.BBox
import graft.sql.{CellIndex, GraftSpark, ParamInSet, ParamLiteral, functions => gf}

/** Plan-shape assertions: the properties that decide whether the engine
  * still works at 100 TB — column pruning to the parquet scan, predicate
  * pushdown, partition pruning on the tile-prefix layout, single-scan
  * multi-box joins, broadcast (not shuffle) for covering joins. */
class PlanSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.session("local[4]", appName = "plan-spec")
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"
  /** The ten-times-larger fixture beside it. */
  private val sf01 = s"${java.nio.file.Paths.get(sf).getParent}/sf0.01"

  /** The kNN probes (TakeOrderedAndProject plans) among the queries `body` runs. */
  private def probes(body: => Any): Seq[SparkPlan] =
    graft.QueryPlans.of(spark)(body).filter(_.isInstanceOf[TakeOrderedAndProjectExec])

  /** The parquet scans of `plan`. */
  private def scans(plan: SparkPlan): Seq[FileSourceScanExec] =
    plan.collect { case s: FileSourceScanExec => s }

  /** Does every parquet scan of `plan` carry a partition filter on `col`? */
  private def prunesOn(plan: SparkPlan, col: String): Boolean =
    scans(plan).nonEmpty &&
      scans(plan).forall(_.partitionFilters.exists(_.references.exists(_.name == col)))

  /** Does a Filter of `plan` test a cell expression against a cell set? */
  private def cellFiltered(plan: SparkPlan): Boolean = {
    def isCell(e: Expression) =
      Seq(CellIndex.Geohash, CellIndex.H3U, CellIndex.S2U).exists(_.cellArgs(e).isDefined)
    // a one-cell IN is optimized into an equality; a codegen'd Filter
    // holds it with its literals swapped (graft.sql.ParamLiterals)
    def unswapped(e: Expression) = e.transform {
      case p: ParamInSet => p.pred
      case p: ParamLiteral => Literal(p.value, p.dataType)
    }
    plan.collect { case f: FilterExec => unswapped(f.condition) }.exists(_.find {
      case In(e, _) => isCell(e)
      case InSet(e, _) => isCell(e)
      case EqualTo(e, _: Literal) => isCell(e)
      case _ => false
    }.isDefined)
  }

  private def ranked(df: DataFrame): Seq[(Int, Long)] =
    df.select("rank", "c_custkey").collect().map(r => (r.getInt(0), r.getLong(1))).sorted.toSeq

  /** Parquet files under an IcebergLite table's data directory. */
  private def dataFiles(table: String): Long =
    scala.util.Using.resource(java.nio.file.Files.walk(java.nio.file.Paths.get(table, "data"))) {
      _.filter(_.toString.endsWith(".parquet")).count()
    }

  test("column pruning: tile assignment reads only the key column") {
    val df = SpatialOps.withTile(
      SpatialOps.withDerivedPosition(
        spark.read.parquet(s"$sf/customer.parquet").select("c_custkey"), "c_custkey"),
      "lon", "lat", 30)
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("ReadSchema: struct<c_custkey:bigint>"), scan)
    assert(!scan.contains("c_acctbal") && !scan.contains("c_name"), "reads pruned columns")
  }

  test("predicate pushdown: date filter reaches the parquet scan") {
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
      .where($"l_shipdate" < expr("TIMESTAMP '1996-01-01 00:00:00'"))
      .select("l_orderkey")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate"), plan)
  }

  test("partition pruning: tile-prefix filter prunes the iceberg-lite layout") {
    val dir = java.nio.file.Files.createTempDirectory("prune").toString
    val tiled = graft.data.Images.withTile(graft.data.Images.generate(spark, 300).toDF(), 30)
      .withColumn("tile_p1", gf.gh_parent($"tile", 30, 5))
      .select("image_id", "caption", "tile", "tile_p1")
    graft.data.IcebergLite.write(tiled, s"$dir/t", "tile_p1")
    val one = spark.read.parquet(s"$dir/t/data").where($"tile_p1" === 9)
    val exec = one.queryExecution.executedPlan
    val scanStr = exec.toString
    // partition filter present and scan reports pruned partition count
    assert(scanStr.contains("PartitionFilters: [isnotnull(tile_p1"), scanStr)
    val scans = exec.collectLeaves().map(_.toString).filter(_.contains("Scan parquet"))
    assert(scans.nonEmpty)
  }

  test("multi-box query: ONE scan answers all boxes, broadcast join, no SMJ") {
    val pts = SpatialOps.withDerivedPosition(
      spark.read.parquet(s"$sf/customer.parquet").select("c_custkey"), "c_custkey")
    val boxes = Seq(0 -> BBox(-0.75, 51.0, 0.25, 52.0), 1 -> BBox(139.25, 35.25, 140.25, 36.25))
    val df = SpatialOps.multiBoxQuery(pts, "lon", "lat", boxes, 20)
    val plan = df.queryExecution.executedPlan
    val planStr = plan.toString
    assert(planStr.contains("BroadcastHashJoin"), planStr)
    assert(!planStr.contains("SortMergeJoin"), planStr)
    val parquetScans = plan.collectLeaves().map(_.toString).count(_.contains("customer.parquet"))
    assert(parquetScans == 1, s"expected 1 scan of the big side, got $parquetScans\n$planStr")
  }

  test("DerivePipBBox: literal-polygon PIP filter derives pushable lon/lat bounds") {
    val dir = java.nio.file.Files.createTempDirectory("pip_push").toString
    // a table with STORED lon/lat columns (so range predicates can push)
    SpatialOps.withDerivedPosition(
      spark.read.parquet(s"$sf/customer.parquet").select("c_custkey"), "c_custkey")
      .write.parquet(s"$dir/pts")
    val wkt = "POLYGON ((-2.5 41.0, 3.0 41.5, 2.0 48.0, -4.5 47.5, -2.5 41.0))"
    val q = spark.read.parquet(s"$dir/pts")
      .where(gf.st_contains_wkt(lit(wkt), $"lon", $"lat"))
    val planStr = q.queryExecution.executedPlan.toString
    // derived bounds reach PushedFilters (display truncates the list, so
    // check the leading entries there and the rest in the Filter condition)
    assert(planStr.contains("GreaterThanOrEqual(lon,-4.5") &&
      planStr.contains("<= 48.0") && planStr.contains(">= 41.0"), planStr)
    // and the rewrite must not change results
    val expected = SpatialOps.withDerivedPosition(
      spark.read.parquet(s"$sf/customer.parquet").select("c_custkey"), "c_custkey")
      .collect().count { r =>
        graft.core.GeoMath.pointInPolygon(r.getDouble(1), r.getDouble(2),
          graft.core.GeoMath.parseWktPolygon(wkt))
      }
    assert(q.count() == expected)
  }

  test("DerivePipBBox: PIP under OR / NOT derives nothing (soundness)") {
    val dir = java.nio.file.Files.createTempDirectory("pip_or").toString
    val pts = SpatialOps.withDerivedPosition(
      spark.read.parquet(s"$sf/customer.parquet").select("c_custkey"), "c_custkey")
    pts.write.parquet(s"$dir/pts")
    val stored = spark.read.parquet(s"$dir/pts")
    val wkt = "POLYGON ((-2.5 41.0, 3.0 41.5, 2.0 48.0, -4.5 47.5, -2.5 41.0))"
    val rings = graft.core.GeoMath.parseWktPolygon(wkt)
    val all = pts.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    // pip(..) OR lat > 60: rows far outside the polygon bbox must survive
    val orQ = stored.where(gf.st_contains_wkt(lit(wkt), $"lon", $"lat") || $"lat" > 60.0)
    val orExpect = all.count { case (_, lon, lat) =>
      graft.core.GeoMath.pointInPolygon(lon, lat, rings) || lat > 60.0 }
    assert(orQ.count() == orExpect, "OR branch lost rows to derived bbox bounds")
    // NOT pip(..): complement must not be clipped to the bbox
    val notQ = stored.where(!gf.st_contains_wkt(lit(wkt), $"lon", $"lat"))
    val notExpect = all.count { case (_, lon, lat) =>
      !graft.core.GeoMath.pointInPolygon(lon, lat, rings) }
    assert(notQ.count() == notExpect, "NOT branch lost rows to derived bbox bounds")
  }

  test("knnIndexed: prunes to candidate-cell partitions, matches brute force") {
    val dir = java.nio.file.Files.createTempDirectory("knn_idx").toString
    val pts = SpatialOps.withDerivedPosition(
      spark.read.parquet("/root/testdata/sf0.01/customer.parquet").select("c_custkey"), "c_custkey")
    graft.data.IcebergLite.writeTiled(pts, s"$dir/t", "lon", "lat", 30, 8)
    val (qx, qy) = (-0.75, 51.25)
    var got: DataFrame = null
    val probed = probes {
      got = SpatialOps.knnIndexed(spark, s"$dir/t", "tile_p", 8, "lon", "lat", qx, qy, 10, "c_custkey")
    }
    // exactness vs brute force
    val brute = SpatialOps.knnBrute(pts, "lon", "lat", Seq((0, qx, qy)), 10, "c_custkey")
    assert(ranked(got) == ranked(brute))
    // every probe's scan reads only candidate-cell partitions
    assert(probed.nonEmpty && probed.forall(prunesOn(_, "tile_p")), probed.mkString("\n"))
  }

  test("DeriveCoveringPrune: bare box/PIP filters over a tiled table prune partitions") {
    val dir = java.nio.file.Files.createTempDirectory("cover_prune").toString
    // sf0.01: the PIP polygon is empty at sf0.001 (only 150 customers);
    // plus one row at EXACTLY lon=180 (encodes wrapped to the west column —
    // the derived prune must still retain it)
    val pts = SpatialOps.withDerivedPosition(
      spark.read.parquet("/root/testdata/sf0.01/customer.parquet").select("c_custkey"), "c_custkey")
      .unionByName(Seq((999999L, 180.0, 0.0)).toDF("c_custkey", "lon", "lat"))
    graft.data.IcebergLite.writeTiled(pts, s"$dir/t", "lon", "lat", 30, 6)
    val tbl = graft.data.IcebergLite.read(spark, s"$dir/t")
    val box = BBox(-0.75, 51.0, 0.25, 52.0)

    // 1) bare range filter — NO hand-built covering join anywhere
    val q1 = tbl.where($"lon" >= box.minLon && $"lon" <= box.maxLon &&
                       $"lat" >= box.minLat && $"lat" <= box.maxLat)
    val plan1 = q1.queryExecution.executedPlan.toString
    // the DERIVED IN references tile_p natively; the snapshot-visibility
    // filter only via cast(tile_p as string) — strip casts so the assert
    // can't be satisfied by the visibility filter alone
    def hasDerivedIn(pf: String): Boolean =
      pf.replaceAll("cast\\(tile_p#\\d+ as string\\)", "").contains("tile_p#")
    val pf1 = plan1.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(hasDerivedIn(pf1), s"no derived prune:\n$plan1")
    // results identical to the explicit boxQuery path (q03 semantics)
    val expect = SpatialOps.boxQuery(pts, "lon", "lat", box, 20).select("c_custkey")
    assert(q1.select("c_custkey").exceptAll(expect).isEmpty &&
           expect.exceptAll(q1.select("c_custkey")).isEmpty)
    assert(q1.count() > 0)

    // 2) bare PIP filter (q08 semantics): bbox of the polygon drives the prune
    val wkt = "POLYGON ((-2.5 41.0, 3.0 41.5, 2.0 48.0, -4.5 47.5, -2.5 41.0))"
    val q2 = tbl.where(gf.st_contains_wkt(lit(wkt), $"lon", $"lat"))
    val pf2 = q2.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("PartitionFilters")).getOrElse("")
    assert(hasDerivedIn(pf2), s"no PIP-derived prune: $pf2")
    val expect2 = pts.where(gf.st_contains_wkt(lit(wkt), $"lon", $"lat")).select("c_custkey")
    assert(q2.select("c_custkey").exceptAll(expect2).isEmpty &&
           expect2.exceptAll(q2.select("c_custkey")).isEmpty)
    assert(q2.count() > 0)

    // 3) box reaching EXACTLY 180: the lon=180 row encodes into the wrapped
    // west column; the derived IN-list must include it (soundness)
    val q3 = tbl.where($"lon" >= 170.0 && $"lon" <= 180.0 &&
                       $"lat" >= -5.0 && $"lat" <= 5.0)
    assert(q3.where($"c_custkey" === 999999L).count() == 1,
      "derived covering prune dropped the lon=180 row")

    // 4) after a FILE-LEVEL append (new snapshot dir), the rule must still
    // see appended rows through the multi-snapshot visibility predicate
    val extra = SpatialOps.withDerivedPosition(
      Seq(888801L, 888802L).toDF("c_custkey"), "c_custkey")
      .withColumn("tile", gf.gh_encode($"lon", $"lat", 30))
      .withColumn("tile_p", gf.gh_parent($"tile", 30, 6))
    graft.data.IcebergLite.extend(extra, s"$dir/t", "tile_p")
    val tbl2 = graft.data.IcebergLite.read(spark, s"$dir/t")
    val q4 = tbl2.where($"lon" >= box.minLon && $"lon" <= box.maxLon &&
                        $"lat" >= box.minLat && $"lat" <= box.maxLat)
    val all2 = pts.unionByName(extra.select("c_custkey", "lon", "lat"))
    val expect4 = SpatialOps.boxQuery(all2, "lon", "lat", box, 20).select("c_custkey")
    assert(q4.select("c_custkey").exceptAll(expect4).isEmpty &&
           expect4.exceptAll(q4.select("c_custkey")).isEmpty,
      "covering prune inconsistent after file-level append")

    // 5) anti-meridian: the canonical wrapped filter shape
    // (lon >= a OR lon <= b, a > b) derives the two-sided covering prune
    // and keeps the lon=180 row (which lives in the west column)
    val wbox = BBox(179.0, -5.0, -179.0, 5.0)
    val q5 = tbl2.where(($"lon" >= 179.0 || $"lon" <= -179.0) &&
                        $"lat" >= -5.0 && $"lat" <= 5.0)
    val pf5 = q5.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("PartitionFilters")).getOrElse("")
    assert(hasDerivedIn(pf5), s"no wrapped-box derived prune: $pf5")
    val expect5 = SpatialOps.boxQuery(all2, "lon", "lat", wbox, 20).select("c_custkey")
    assert(q5.select("c_custkey").exceptAll(expect5).isEmpty &&
           expect5.exceptAll(q5.select("c_custkey")).isEmpty,
      "wrapped-box derived prune changed results")
    assert(q5.where($"c_custkey" === 999999L).count() == 1,
      "wrapped-box derived prune dropped the lon=180 row")
  }

  test("annBrute: top-k is a distributed bounded heap, not a global-window sort") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val df = AnnOps.annBrute(emb, "vec_id", "embedding", 64, 2, 5)
    val planStr = df.queryExecution.executedPlan.toString
    assert(planStr.contains("TakeOrderedAndProject"), planStr)
    // the only Window left runs over the tiny union of per-branch top-k rows
    val windowIdx = planStr.indexOf("Window")
    val takeIdx = planStr.indexOf("TakeOrderedAndProject")
    assert(windowIdx >= 0 && takeIdx > windowIdx,
      "window must sit ABOVE the TakeOrderedAndProject branches")
  }

  test("DeriveCoveringPrune fuzz: random boxes + polygons over all three index types") {
    val pts = SpatialOps.withDerivedPosition(
      spark.read.parquet("/root/testdata/sf0.001/customer.parquet").select("c_custkey"), "c_custkey")
    val base = java.nio.file.Files.createTempDirectory("prune_fuzz").toString
    graft.data.IcebergLite.writeTiled(pts, s"$base/gh", "lon", "lat", 30, 6)
    graft.data.IcebergLite.writeTiled(pts, s"$base/h3", "lon", "lat", 6, 2, index = CellIndex.H3U)
    graft.data.IcebergLite.writeTiled(pts, s"$base/s2", "lon", "lat", 10, 5, index = CellIndex.S2U)
    val tables = Seq(
      graft.data.IcebergLite.read(spark, s"$base/gh"),
      graft.data.IcebergLite.read(spark, s"$base/h3"),
      graft.data.IcebergLite.read(spark, s"$base/s2"))
    val rnd = new scala.util.Random(97)
    (1 to 6).foreach { _ =>
      // random box, biased toward the planted hot-spots sometimes
      val lon0 = rnd.nextDouble() * 340 - 170
      val lat0 = rnd.nextDouble() * 150 - 80
      val w = rnd.nextDouble() * 20 + 0.5; val h = rnd.nextDouble() * 15 + 0.5
      val (lon1, lat1) = (math.min(179.9, lon0 + w), math.min(89.9, lat0 + h))
      val expect = pts.where($"lon" >= lon0 && $"lon" <= lon1 &&
                             $"lat" >= lat0 && $"lat" <= lat1).select("c_custkey")
      tables.foreach { tbl =>
        val q = tbl.where($"lon" >= lon0 && $"lon" <= lon1 &&
                          $"lat" >= lat0 && $"lat" <= lat1).select("c_custkey")
        assert(q.exceptAll(expect).isEmpty && expect.exceptAll(q).isEmpty,
          s"box ($lon0,$lat0,$lon1,$lat1) parity broke")
      }
      // random triangle PIP over the same region
      val ax = lon0; val ay = lat0
      val bx = lon1; val by = lat0 + rnd.nextDouble() * (lat1 - lat0)
      val cx = lon0 + rnd.nextDouble() * (lon1 - lon0); val cy = lat1
      val wkt = s"POLYGON (($ax $ay, $bx $by, $cx $cy, $ax $ay))"
      val expectP = pts.where(gf.st_contains_wkt(lit(wkt), $"lon", $"lat")).select("c_custkey")
      tables.foreach { tbl =>
        val q = tbl.where(gf.st_contains_wkt(lit(wkt), $"lon", $"lat")).select("c_custkey")
        assert(q.exceptAll(expectP).isEmpty && expectP.exceptAll(q).isEmpty,
          s"polygon $wkt parity broke")
      }
      // the same polygon through the covering-join operator on each index
      Seq(CellIndex.Geohash -> 12, CellIndex.H3U -> 3, CellIndex.S2U -> 6).foreach { case (index, level) =>
        val q = SpatialOps.pipQuery(pts, "lon", "lat", wkt, level, index).select("c_custkey")
        assert(q.exceptAll(expectP).isEmpty && expectP.exceptAll(q).isEmpty,
          s"pipQuery on $index: polygon $wkt parity broke")
      }
    }
  }

  test("knnRing: final top-k is TakeOrderedAndProject, not a full-scan global window") {
    val pts = SpatialOps.withDerivedPosition(
      spark.read.parquet(s"$sf/customer.parquet").select("c_custkey"), "c_custkey")
    val plans = graft.QueryPlans.of(spark)(
      SpatialOps.knnRing(pts, "lon", "lat", 1, -0.75, 51.25, 10, 20, "c_custkey"))
    // every probe is a distributed bounded heap; nothing sorts the whole
    // candidate scan in one partition (ring 0 of a hot-spot cell holds
    // millions of rows at 100× scale) — the answer is ranked on the driver
    // from the last probe's ≤ k rows
    val probePlans = plans.filter(_.isInstanceOf[TakeOrderedAndProjectExec])
    assert(probePlans.nonEmpty, plans.mkString("\n"))
    plans.foreach(p => assert(p.collect { case w: WindowExec => w }.isEmpty, s"window in a probe:\n$p"))
  }

  test("knnRing/knnRingH3: expansion runs NO unfiltered whole-table count job") {
    // at 100 TB a bare points.count() is a full-corpus scan for a k-row
    // answer; every query the expansion runs must be a probe over the
    // candidate cells, with at most a LIMIT-capped existence probe (reads
    // <= k rows) as the stall fallback
    val pts = SpatialOps.withDerivedPosition(
      spark.read.parquet(s"$sf/customer.parquet").select("c_custkey"), "c_custkey")
    // res/bits chosen for the fixture's density: sf0.001 has 150 rows and
    // the 10th-nearest neighbor is ~25 deg out, so the rings must span that
    // radius — fine cells (res 7) would mean millions of ring cells
    val plans = graft.QueryPlans.of(spark) {
      SpatialOps.knnRing(pts, "lon", "lat", 1, -0.75, 51.25, 10, 12, "c_custkey")
      SpatialOps.knnRing(pts, "lon", "lat", 1, -0.75, 51.25, 10, 3, "c_custkey", CellIndex.H3U)
    }
    assert(plans.count(_.isInstanceOf[TakeOrderedAndProjectExec]) >= 2, plans.mkString("\n"))
    plans.foreach { p =>
      val capped = p.toString.contains("Limit")
      assert(p.isInstanceOf[TakeOrderedAndProjectExec] || capped, s"not a probe:\n$p")
      assert(p.collect { case w: WindowExec => w }.isEmpty, s"window in a probe:\n$p")
      assert(cellFiltered(p) || capped, s"unfiltered whole-table scan in kNN expansion:\n$p")
    }
  }

  test("knnRing over a tiled table: every probe reads only its partitions, on all three indexes") {
    val pts = SpatialOps.withDerivedPosition(
      spark.read.parquet(s"$sf01/customer.parquet").select("c_custkey"), "c_custkey")
    // (index, tile level, prefix level, kNN level)
    Seq((CellIndex.Geohash, 30, 6, 20), (CellIndex.H3U, 7, 0, 5), (CellIndex.S2U, 12, 2, 9)).foreach {
      case (index, tileLevel, prefixLevel, level) =>
        val t = s"${java.nio.file.Files.createTempDirectory(s"ring_${index.tag}")}/t"
        graft.data.IcebergLite.writeTiled(pts, t, "lon", "lat", tileLevel, prefixLevel, index = index)
        val tbl = graft.data.IcebergLite.read(spark, t)
        val files = dataFiles(t)
        Seq((-0.75, 51.25), (139.75, 35.5)).foreach { case (qx, qy) =>
          var got: DataFrame = null
          val probed = probes {
            got = SpatialOps.knnRing(tbl, "lon", "lat", 1, qx, qy, 10, level, "c_custkey", index)
          }
          assert(ranked(got) == ranked(SpatialOps.knnBrute(pts, "lon", "lat", Seq((1, qx, qy)), 10,
            "c_custkey")), s"$index at ($qx, $qy)")
          assert(probed.nonEmpty)
          probed.foreach { p =>
            assert(prunesOn(p, "tile_p"), s"$index: probe scan without a tile_p filter:\n$p")
            scans(p).foreach { s =>
              val read = s.metrics("numFiles").value
              assert(read < files, s"$index: a probe read $read of $files files")
            }
          }
        }
    }
  }

  test("DeriveCoveringPrune: a cell-set conjunct prunes only on the recorded index at or below the cell level") {
    val pts = SpatialOps.withDerivedPosition(
      spark.read.parquet(s"$sf01/customer.parquet").select("c_custkey"), "c_custkey")
    val t = s"${java.nio.file.Files.createTempDirectory("cellset_prune")}/t"
    graft.data.IcebergLite.writeTiled(pts, t, "lon", "lat", 30, 6)
    val tbl = graft.data.IcebergLite.read(spark, t)
    val cells20 = CellIndex.Geohash.coverBox(BBox(-1.0, 51.0, 0.5, 52.0), 20).toSeq
    val cell4 = graft.core.Geohash.encode(-0.75, 51.25, 4)
    def derives(cond: org.apache.spark.sql.Column): Boolean =
      tbl.where(cond).queryExecution.optimizedPlan.collect {
        case org.apache.spark.sql.catalyst.plans.logical.Filter(c, _) =>
          c.find {
            case In(a, _) => a.references.exists(_.name == "tile_p")
            case InSet(a, _) => a.references.exists(_.name == "tile_p")
            case _ => false
          }
      }.flatten.nonEmpty
    def same(cond: org.apache.spark.sql.Column): Unit = {
      val q = tbl.where(cond).select("c_custkey"); val e = pts.where(cond).select("c_custkey")
      assert(q.exceptAll(e).isEmpty && e.exceptAll(q).isEmpty, s"rows changed under $cond")
    }
    val in20 = gf.gh_encode($"lon", $"lat", 20).isin(cells20: _*)
    val eq20 = gf.gh_encode($"lon", $"lat", 20) === cells20.head
    val in4 = gf.gh_encode($"lon", $"lat", 4) === cell4 // coarser than the 6-bit prefix
    val otherIndex = gf.s2u_cell($"lon", $"lat", 9).isin(
      CellIndex.S2U.coverBox(BBox(-1.0, 51.0, 0.5, 52.0), 9).toSeq: _*)
    val swapped = gf.gh_encode($"lat", $"lon", 20).isin(cells20: _*)
    assert(derives(in20) && derives(eq20))
    assert(!derives(in4) && !derives(otherIndex) && !derives(swapped))
    Seq(in20, eq20, in4, otherIndex, swapped).foreach(same)
    assert(tbl.where(in20).count() > 0)
    // on H3U: a listed value that is no cell at the conjunct's resolution
    // (here a res-0 cell, coarser than the prefix) keeps no row and is
    // dropped from the derived list instead of failing the plan
    val small = SpatialOps.withDerivedPosition(
      spark.read.parquet(s"$sf/customer.parquet").select("c_custkey"), "c_custkey")
    val h3 = s"${java.nio.file.Files.createTempDirectory("cellset_prune_h3")}/t"
    graft.data.IcebergLite.writeTiled(small, h3, "lon", "lat", 7, 1, index = CellIndex.H3U)
    val h3Cells = CellIndex.H3U.coverBox(BBox(-1.0, 51.0, 0.5, 52.0), 5).toSeq :+
      graft.core.H3U.latLngToCell(51.25, -0.75, 0)
    val inH3 = gf.h3u_cell($"lon", $"lat", 5).isin(h3Cells: _*)
    val q = graft.data.IcebergLite.read(spark, h3).where(inH3)
    assert(prunesOn(q.queryExecution.executedPlan, "tile_p"), q.queryExecution.executedPlan.toString)
    val e = small.where(inH3)
    assert(q.count() > 0 && q.select("c_custkey").exceptAll(e.select("c_custkey")).isEmpty &&
      e.select("c_custkey").exceptAll(q.select("c_custkey")).isEmpty)
  }

  test("budget: a knnRing probe is one job with no broadcast, and a contained indexed kNN one job") {
    val pts = SpatialOps.withDerivedPosition(
      spark.read.parquet(s"$sf01/customer.parquet").select("c_custkey"), "c_custkey")
    // a probe is one TakeOrderedAndProject collect: the jobs are the probes
    var sites: Seq[String] = Nil
    val plans = graft.QueryPlans.of(spark) {
      sites = graft.JobCount.sites(spark)(
        SpatialOps.knnRing(pts, "lon", "lat", 1, 139.75, 35.5, 10, 16, "c_custkey").collect())
    }
    val probePlans = plans.filter(_.isInstanceOf[TakeOrderedAndProjectExec])
    assert(probePlans.nonEmpty && sites.size == probePlans.size,
      s"${sites.mkString("; ")}\n${plans.mkString("\n")}")
    assert(!plans.exists(_.toString.contains("BroadcastExchange")), plans.mkString("\n"))
    // geohash prefix 4 (90x45 degree partitions): the Tokyo disc lies inside
    // its probed partition, so the candidate probe is the answer
    val t = s"${java.nio.file.Files.createTempDirectory("knn_one_job")}/t"
    graft.data.IcebergLite.writeTiled(pts, t, "lon", "lat", 30, 4)
    def knn() = SpatialOps.knnIndexed(spark, t, 139.75, 35.5, 10, "c_custkey").collect()
    knn() // resolves the snapshot
    val again = graft.JobCount.sites(spark)(knn())
    assert(again.size == 1, again.mkString("; "))
  }

  test("budget: fresh geometry compiles no new class once each shape is warm, on all three indexes") {
    val pts = SpatialOps.withDerivedPosition(
      spark.read.parquet(s"$sf01/customer.parquet").select("c_custkey"), "c_custkey")
    val rnd = new scala.util.Random(14)
    // boxes of 1 to 20 degrees, none across the anti-meridian (another shape)
    def box(): BBox = {
      val w = 1 + rnd.nextDouble() * 19
      val x = -179 + rnd.nextDouble() * (358 - w); val y = -80 + rnd.nextDouble() * (160 - w)
      BBox(x, y, x + w, y + w)
    }
    def triangle(b: BBox) =
      s"POLYGON ((${b.minLon} ${b.minLat}, ${b.maxLon} ${b.minLat}, ${b.maxLon} ${b.maxLat}, ${b.minLon} ${b.minLat}))"
    Seq((CellIndex.Geohash, 30, 4, 20), (CellIndex.H3U, 7, 0, 4), (CellIndex.S2U, 12, 1, 8)).foreach {
      case (index, tileLevel, prefixLevel, level) =>
        val t = s"${java.nio.file.Files.createTempDirectory(s"fresh_${index.tag}")}/t"
        graft.data.IcebergLite.writeTiled(pts, t, "lon", "lat", tileLevel, prefixLevel, index = index)
        val tbl = graft.data.IcebergLite.read(spark, t)
        val shapes: Seq[(String, BBox => Any)] = Seq(
          "box filter" -> (b => tbl.where($"lon" >= b.minLon && $"lon" <= b.maxLon &&
            $"lat" >= b.minLat && $"lat" <= b.maxLat).select("c_custkey").collect()),
          "boxQuery" -> (b => SpatialOps.boxQuery(tbl, "lon", "lat", b, level, index = index)
            .select("c_custkey").collect()),
          "pipQuery" -> (b => SpatialOps.pipQuery(tbl, "lon", "lat", triangle(b), level, index)
            .select("c_custkey").collect()),
          "knnIndexed" -> (b => SpatialOps.knnIndexed(spark, t, b.minLon, b.minLat, 10, "c_custkey").collect()),
          "knnRing" -> (b => SpatialOps.knnRing(tbl, "lon", "lat", 1, b.minLon, b.minLat, 10, level,
            "c_custkey", index).collect()))
        // warm-up: London's hot spot, dense enough that a kNN takes few
        // probes, and open ocean, sparse enough that it takes every kind
        Seq(BBox(-2.0, 50.0, 3.0, 55.0), BBox(-150.0, -30.0, -140.0, -20.0)).foreach(b => shapes.foreach(_._2(b)))
        shapes.foreach { case (name, query) =>
          val n = graft.CompileCount.of((1 to 5).foreach(_ => query(box())))
          assert(n == 0, s"$index $name: $n compiles for 5 queries")
        }
    }
  }

  test("knnRing: k > table rows terminates via capped probe and returns all rows") {
    import spark.implicits._
    val three = SpatialOps.withDerivedPosition(
      spark.read.parquet(s"$sf/customer.parquet").select("c_custkey").limit(3), "c_custkey")
    // res 3 keeps the worst case (rings close over the whole ~41k-cell
    // lattice before the probe-bounded target is met) driver-cheap
    val got = SpatialOps.knnRing(three, "lon", "lat", 0, -0.75, 51.25, 50, 3, "c_custkey", CellIndex.H3U)
    assert(got.count() == 3)
  }

  test("IcebergLite.read: visibility is path listing, constant-size as snapshots grow") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
    val dir = java.nio.file.Files.createTempDirectory("snap_flat").toString
    val pts = SpatialOps.withDerivedPosition(
      spark.read.parquet(s"$sf/customer.parquet").select("c_custkey"), "c_custkey")
    graft.data.IcebergLite.writeTiled(pts, s"$dir/t", "lon", "lat", 30, 4)
    // streaming-ingest shape: MANY micro-batch snapshots, one extend each
    (1 to 15).foreach { i =>
      val batch = SpatialOps.withDerivedPosition(
        Seq(700000L + i).toDF("c_custkey"), "c_custkey")
        .withColumn("tile", gf.gh_encode($"lon", $"lat", 30))
        .withColumn("tile_p", gf.gh_parent($"tile", 30, 4))
      graft.data.IcebergLite.extend(batch, s"$dir/t", "tile_p")
    }
    val tbl = graft.data.IcebergLite.read(spark, s"$dir/t")
    // all committed rows visible
    assert(tbl.count() == pts.count() + 15)
    // NO visibility predicate at all: committed (snapshot, partition) pairs
    // are the load paths, so 15 micro-batches add zero Filter nodes (the
    // old OR-per-snapshot predicate grew O(#batches) and was re-walked by
    // every optimizer pass)
    val filters = tbl.queryExecution.optimizedPlan.collect { case f: LFilter => f }
    assert(filters.isEmpty, s"expected no visibility Filter, got: ${filters.mkString(";")}")
    // DeriveCoveringPrune still fires through the multi-path relation
    val box = BBox(-0.75, 51.0, 0.25, 52.0)
    val q = tbl.where($"lon" >= box.minLon && $"lon" <= box.maxLon &&
                      $"lat" >= box.minLat && $"lat" <= box.maxLat)
    val pf = q.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("tile_p#"), s"covering prune did not fire: $pf")
    val expect = SpatialOps.boxQuery(
      tbl.select("c_custkey", "lon", "lat"), "lon", "lat", box, 20).select("c_custkey")
    assert(q.select("c_custkey").exceptAll(expect).isEmpty &&
           expect.exceptAll(q.select("c_custkey")).isEmpty)
  }

  test("knnIndexedH3: manifest-count expansion on an H3-tiled table matches brute force") {
    val dir = java.nio.file.Files.createTempDirectory("knn_h3").toString
    val pts = SpatialOps.withDerivedPosition(
      spark.read.parquet("/root/testdata/sf0.01/customer.parquet").select("c_custkey"), "c_custkey")
    graft.data.IcebergLite.writeTiled(pts, s"$dir/t", "lon", "lat", 7, 4, index = CellIndex.H3U)
    val (qx, qy) = (-0.75, 51.25)
    var got: DataFrame = null
    val probed = probes {
      got = SpatialOps.knnIndexed(spark, s"$dir/t", qx, qy, 10, "c_custkey")
    }
    val brute = SpatialOps.knnBrute(pts, "lon", "lat", Seq((0, qx, qy)), 10, "c_custkey")
    assert(ranked(got) == ranked(brute))
    // partition pruning on every probe
    assert(probed.nonEmpty && probed.forall(prunesOn(_, "tile_p")), probed.mkString("\n"))
  }

  test("knnIndexedS2: manifest-count expansion on an S2-tiled table matches brute force") {
    val dir = java.nio.file.Files.createTempDirectory("knn_s2").toString
    val pts = SpatialOps.withDerivedPosition(
      spark.read.parquet("/root/testdata/sf0.01/customer.parquet").select("c_custkey"), "c_custkey")
    graft.data.IcebergLite.writeTiled(pts, s"$dir/t", "lon", "lat", 12, 7, index = CellIndex.S2U)
    // three query points incl. one near the +x/+y face edge (lon 45)
    Seq((-0.75, 51.25), (139.75, 35.5), (44.9, 10.0)).foreach { case (qx, qy) =>
      var got: DataFrame = null
      val probed = probes {
        got = SpatialOps.knnIndexed(spark, s"$dir/t", qx, qy, 10, "c_custkey")
      }
      val brute = SpatialOps.knnBrute(pts, "lon", "lat", Seq((0, qx, qy)), 10, "c_custkey")
      assert(ranked(got) == ranked(brute), s"mismatch at ($qx, $qy)")
      assert(probed.nonEmpty && probed.forall(prunesOn(_, "tile_p")), probed.mkString("\n"))
    }
  }

  test("DeriveCoveringPrune: H3-tiled table derives a polyfill IN-list prune") {
    val dir = java.nio.file.Files.createTempDirectory("h3_prune").toString
    val pts = SpatialOps.withDerivedPosition(
      spark.read.parquet("/root/testdata/sf0.01/customer.parquet").select("c_custkey"), "c_custkey")
    graft.data.IcebergLite.writeTiled(pts, s"$dir/t", "lon", "lat", 7, 3, index = CellIndex.H3U)
    val tbl = graft.data.IcebergLite.read(spark, s"$dir/t")
    val box = BBox(-0.75, 51.0, 0.25, 52.0)
    val q = tbl.where($"lon" >= box.minLon && $"lon" <= box.maxLon &&
                      $"lat" >= box.minLat && $"lat" <= box.maxLat)
    val pf = q.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("tile_p#"), s"no H3 polyfill prune derived: $pf")
    // the prune must not change results: exactly the box contents
    val expect = pts.where($"lon" >= box.minLon && $"lon" <= box.maxLon &&
                           $"lat" >= box.minLat && $"lat" <= box.maxLat)
      .select("c_custkey")
    assert(q.select("c_custkey").exceptAll(expect).isEmpty &&
           expect.exceptAll(q.select("c_custkey")).isEmpty,
      "H3 polyfill prune changed results")
    assert(q.count() > 0)
    // ancestor-overhang soundness at the subtree level: every stored row's
    // partition is its tile's parent, and rows keep their partitions in the
    // derived covering (checked by the row-parity assert above); also the
    // explicit H3 boxQuery path agrees
    val viaJoin = SpatialOps.boxQuery(
      pts, "lon", "lat", box, 7, index = CellIndex.H3U).select("c_custkey")
    assert(q.select("c_custkey").exceptAll(viaJoin).isEmpty &&
           viaJoin.exceptAll(q.select("c_custkey")).isEmpty)
  }

  test("DeriveCoveringPrune: gh-tiled L-shaped PIP filters covering cells by exact rect test") {
    val dir = java.nio.file.Files.createTempDirectory("gh_poly_prune").toString
    val pts = SpatialOps.withDerivedPosition(
      spark.read.parquet("/root/testdata/sf0.01/customer.parquet").select("c_custkey"), "c_custkey")
    graft.data.IcebergLite.writeTiled(pts, s"$dir/t", "lon", "lat", 30, 8)
    val tbl = graft.data.IcebergLite.read(spark, s"$dir/t")
    val lWkt = "POLYGON ((-5.0 40.0, 10.0 40.0, 10.0 44.0, -1.0 44.0, -1.0 55.0, -5.0 55.0, -5.0 40.0))"
    val q = tbl.where(gf.st_contains_wkt(lit(lWkt), $"lon", $"lat"))
    val inCells = q.queryExecution.optimizedPlan.collect {
      case org.apache.spark.sql.catalyst.plans.logical.Filter(cond, _) =>
        cond.collect {
          case org.apache.spark.sql.catalyst.expressions.In(
            a: org.apache.spark.sql.catalyst.expressions.AttributeReference, list)
            if a.name == "tile_p" => list.length
          case org.apache.spark.sql.catalyst.expressions.InSet(
            a: org.apache.spark.sql.catalyst.expressions.AttributeReference, set)
            if a.name == "tile_p" => set.size
        }
    }.flatten
    assert(inCells.nonEmpty, "no derived IN-list on tile_p")
    val boxCells = graft.core.Geohash.covering(-5.0, 40.0, 10.0, 55.0, 8).length
    assert(inCells.head < boxCells,
      s"polygon-filtered covering (${inCells.head}) not tighter than box ($boxCells)")
    val expect = pts.where(gf.st_contains_wkt(lit(lWkt), $"lon", $"lat")).select("c_custkey")
    assert(q.select("c_custkey").exceptAll(expect).isEmpty &&
           expect.exceptAll(q.select("c_custkey")).isEmpty,
      "gh polygon-filtered prune changed results")
    assert(q.count() > 0)
  }

  test("DeriveCoveringPrune: S2-tiled table derives a coverBox IN-list prune") {
    val dir = java.nio.file.Files.createTempDirectory("s2_prune").toString
    val pts = SpatialOps.withDerivedPosition(
      spark.read.parquet("/root/testdata/sf0.01/customer.parquet").select("c_custkey"), "c_custkey")
    graft.data.IcebergLite.writeTiled(pts, s"$dir/t", "lon", "lat", 12, 7, index = CellIndex.S2U)
    val tbl = graft.data.IcebergLite.read(spark, s"$dir/t")
    val box = BBox(-0.75, 51.0, 0.25, 52.0)
    val q = tbl.where($"lon" >= box.minLon && $"lon" <= box.maxLon &&
                      $"lat" >= box.minLat && $"lat" <= box.maxLat)
    val pf = q.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("tile_p#"), s"no S2 coverBox prune derived: $pf")
    val expect = pts.where($"lon" >= box.minLon && $"lon" <= box.maxLon &&
                           $"lat" >= box.minLat && $"lat" <= box.maxLat)
      .select("c_custkey")
    assert(q.select("c_custkey").exceptAll(expect).isEmpty &&
           expect.exceptAll(q.select("c_custkey")).isEmpty,
      "S2 coverBox prune changed results")
    assert(q.count() > 0)
  }

  test("DeriveCoveringPrune: L-shaped PIP derives the polygon polyfill, tighter than bbox") {
    val dir = java.nio.file.Files.createTempDirectory("h3_poly_prune").toString
    val pts = SpatialOps.withDerivedPosition(
      spark.read.parquet("/root/testdata/sf0.01/customer.parquet").select("c_custkey"), "c_custkey")
    graft.data.IcebergLite.writeTiled(pts, s"$dir/t", "lon", "lat", 7, 3, index = CellIndex.H3U)
    val tbl = graft.data.IcebergLite.read(spark, s"$dir/t")
    val lWkt = "POLYGON ((-5.0 40.0, 10.0 40.0, 10.0 44.0, -1.0 44.0, -1.0 55.0, -5.0 55.0, -5.0 40.0))"
    val q = tbl.where(gf.st_contains_wkt(lit(lWkt), $"lon", $"lat"))
    // the derived IN-list is the POLYGON covering: strictly fewer cells
    // than the bbox polyfill at the table's partition res (3)
    val rings = graft.core.GeoMath.parseWktPolygon(lWkt)
    val polyCells = graft.core.H3U.polyfillPoly(rings, 3).length
    val bboxCells = graft.core.H3U.polyfillBox(-5.0, 40.0, 10.0, 55.0, 3).length
    assert(polyCells < bboxCells, s"poly $polyCells !< bbox $bboxCells")
    val inCells = q.queryExecution.optimizedPlan.collect {
      case org.apache.spark.sql.catalyst.plans.logical.Filter(cond, _) =>
        cond.collect {
          case org.apache.spark.sql.catalyst.expressions.In(
            a: org.apache.spark.sql.catalyst.expressions.AttributeReference, list)
            if a.name == "tile_p" => list.length
          case org.apache.spark.sql.catalyst.expressions.InSet(
            a: org.apache.spark.sql.catalyst.expressions.AttributeReference, set)
            if a.name == "tile_p" => set.size
        }
    }.flatten
    assert(inCells.nonEmpty, "no derived IN-list on tile_p")
    assert(inCells.head == polyCells,
      s"derived IN-list has ${inCells.head} cells, polygon covering has $polyCells")
    // and the prune reaches the scan as a partition filter
    val pf = q.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("tile_p#"), s"no partition prune derived: $pf")
    // results identical to the unpruned exact PIP
    val expect = pts.where(gf.st_contains_wkt(lit(lWkt), $"lon", $"lat")).select("c_custkey")
    assert(q.select("c_custkey").exceptAll(expect).isEmpty &&
           expect.exceptAll(q.select("c_custkey")).isEmpty,
      "polygon polyfill prune changed results")
    assert(q.count() > 0)
  }

  test("DeriveCoveringPrune: S2 L-shaped PIP derives coverPolygon, tighter than coverBox") {
    val dir = java.nio.file.Files.createTempDirectory("s2_poly_prune").toString
    val pts = SpatialOps.withDerivedPosition(
      spark.read.parquet("/root/testdata/sf0.01/customer.parquet").select("c_custkey"), "c_custkey")
    graft.data.IcebergLite.writeTiled(pts, s"$dir/t", "lon", "lat", 12, 7, index = CellIndex.S2U)
    val tbl = graft.data.IcebergLite.read(spark, s"$dir/t")
    val lWkt = "POLYGON ((-5.0 40.0, 10.0 40.0, 10.0 44.0, -1.0 44.0, -1.0 55.0, -5.0 55.0, -5.0 40.0))"
    val q = tbl.where(gf.st_contains_wkt(lit(lWkt), $"lon", $"lat"))
    val inCells = q.queryExecution.optimizedPlan.collect {
      case org.apache.spark.sql.catalyst.plans.logical.Filter(cond, _) =>
        cond.collect {
          case org.apache.spark.sql.catalyst.expressions.In(
            a: org.apache.spark.sql.catalyst.expressions.AttributeReference, list)
            if a.name == "tile_p" => list.length
          case org.apache.spark.sql.catalyst.expressions.InSet(
            a: org.apache.spark.sql.catalyst.expressions.AttributeReference, set)
            if a.name == "tile_p" => set.size
        }
    }.flatten
    assert(inCells.nonEmpty, "no derived IN-list on tile_p")
    val rings = graft.core.GeoMath.parseWktPolygon(lWkt)
    val polyCells = graft.core.S2U.coverPolygon(rings, 7).length
    val bboxCells = graft.core.S2U.coverBox(-5.0, 40.0, 10.0, 55.0, 7).length
    assert(polyCells < bboxCells,
      s"coverPolygon ($polyCells) not tighter than coverBox ($bboxCells) for the L-shape")
    assert(inCells.head == polyCells,
      s"derived IN-list (${inCells.head}) != coverPolygon ($polyCells)")
    val expect = pts.where(gf.st_contains_wkt(lit(lWkt), $"lon", $"lat")).select("c_custkey")
    assert(q.select("c_custkey").exceptAll(expect).isEmpty &&
           expect.exceptAll(q.select("c_custkey")).isEmpty,
      "s2u polygon-tightened prune changed results")
    assert(q.count() > 0)
  }

  test("DeriveCoveringPrune: continent-sized box over H3 tiling uses a COMPACTED covering") {
    val dir = java.nio.file.Files.createTempDirectory("h3_compact_prune").toString
    val pts = SpatialOps.withDerivedPosition(
      spark.read.parquet("/root/testdata/sf0.01/customer.parquet").select("c_custkey"), "c_custkey")
    graft.data.IcebergLite.writeTiled(pts, s"$dir/t", "lon", "lat", 7, 5, index = CellIndex.H3U)
    val tbl = graft.data.IcebergLite.read(spark, s"$dir/t")
    // Europe-sized box: its uniform res-5 polyfill exceeds MaxInCells
    // (pre-compaction this bailed to a FULL SCAN), the compacted
    // mixed-resolution covering fits
    val box = BBox(-10.0, 35.0, 20.0, 50.0)
    val uniform = graft.core.H3U.polyfillBox(
      box.minLon, box.minLat, box.maxLon, box.maxLat, 5, 1 << 20)
    assert(uniform.length > graft.sql.DeriveCoveringPrune.MaxInCells,
      s"fixture box too small to exercise compaction: ${uniform.length}")
    val compacted = graft.core.H3U.compactCells(uniform)
    assert(compacted.length <= graft.sql.DeriveCoveringPrune.MaxInCells,
      s"compacted covering too big for the IN-list: ${compacted.length}")
    val q = tbl.where($"lon" >= box.minLon && $"lon" <= box.maxLon &&
                      $"lat" >= box.minLat && $"lat" <= box.maxLat)
    val pf = q.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("tile_p#"), s"no compacted prune derived: $pf")
    assert(pf.contains("h3u_parent"), s"compacted prune should test h3u_parent: $pf")
    val expect = pts.where($"lon" >= box.minLon && $"lon" <= box.maxLon &&
                           $"lat" >= box.minLat && $"lat" <= box.maxLat)
      .select("c_custkey")
    assert(q.select("c_custkey").exceptAll(expect).isEmpty &&
           expect.exceptAll(q.select("c_custkey")).isEmpty,
      "compacted prune changed results")
    assert(q.count() > 0)
  }

  test("annIvfIndexed: probes prune to their lists' partitions, results == annIvf") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_idx").toString
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    AnnOps.writeIvfIndex(emb, "vec_id", "embedding", 64, s"$dir/ivf")
    val got = AnnOps.annIvfIndexed(spark, s"$dir/ivf", 64, 3, 10)
    // the probe scans carry cent_id partition filters → file-level pruning
    val pf = got.queryExecution.executedPlan.toString.linesIterator
      .filter(_.contains("PartitionFilters")).toSeq
    assert(pf.nonEmpty && pf.exists(_.contains("cent_id#")),
      s"no partition filter on cent_id:\n${pf.mkString("\n")}")
    // identical rows to the in-plan IVF with the same parameters
    val expect = AnnOps.annIvf(emb, "vec_id", "embedding", 64, 3, 10)
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty,
      "physical IVF layout diverged from the in-plan IVF")
    assert(got.count() == 30)
  }

  test("annIvf: fewer vectors than nCentroids uses the centroids that exist") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").where($"vec_id" < 5)
    def ranked(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select("qid", "rnk", "vec_id").collect().map(_.toString).sorted.toSeq
    // every list probed, so the IVF answer is exact
    val brute = ranked(AnnOps.annBrute(emb, "vec_id", "embedding", 64, 2, 3))
    assert(brute.size == 6)
    assert(ranked(AnnOps.annIvf(emb, "vec_id", "embedding", 64, 2, 3, nCentroids = 8, nProbe = 8)) == brute)
    val dir = java.nio.file.Files.createTempDirectory("ivf_small").toString
    AnnOps.writeIvfIndex(emb, "vec_id", "embedding", 64, s"$dir/ivf", nCentroids = 8)
    assert(ranked(AnnOps.annIvfIndexed(spark, s"$dir/ivf", 64, 2, 3, nProbe = 8)) == brute)
  }

  test("rangeJoinCells: mixed-precision prefix join plans as a broadcast equi-join") {
    val cust = SpatialOps.withTile(SpatialOps.withDerivedPosition(
      spark.read.parquet(s"$sf/customer.parquet").select("c_custkey"), "c_custkey"),
      "lon", "lat", 24).groupBy("tile").agg(count("*").as("n_cust"))
    val supp = SpatialOps.withTile(SpatialOps.withDerivedPosition(
      spark.read.parquet(s"$sf/supplier.parquet").select("s_suppkey"), "s_suppkey"),
      "lon", "lat", 12, "region").groupBy("region").agg(count("*").as("n_supp"))
    val df = SpatialOps.rangeJoinCells(cust, "tile", 24, supp, "region", 12)
    val planStr = df.queryExecution.executedPlan.toString
    assert(planStr.contains("BroadcastHashJoin"), planStr)
    assert(!planStr.contains("SortMergeJoin"), planStr)
    // containment really holds: every joined row's region is the tile's prefix
    val bad = df.where(gf.gh_parent($"tile", 24, 12) =!= $"region").count()
    assert(bad == 0)
    assert(df.count() > 0)
  }

  test("per-tile agg is a partial+final hash aggregate (map-side combine)") {
    val pts = SpatialOps.withDerivedPosition(
      spark.read.parquet(s"$sf/customer.parquet").select("c_custkey"), "c_custkey")
    val agg = SpatialOps.withTile(pts, "lon", "lat", 12).groupBy("tile").count()
    val planStr = agg.queryExecution.executedPlan.toString
    // two HashAggregate nodes (partial + final) around one shuffle
    assert("HashAggregate".r.findAllIn(planStr).size >= 2, planStr)
    assert(planStr.contains("Exchange hashpartitioning(tile"), planStr)
  }

  /** A table tiled on `index` with more partition directories than
    * Spark's 32-path threshold, so listing them is a parallel job. */
  private def wideTable(name: String, index: CellIndex = CellIndex.H3U,
                        tileLevel: Int = 7, prefixLevel: Int = 0): String = {
    val t = s"${java.nio.file.Files.createTempDirectory(name)}/t"
    val pts = SpatialOps.withDerivedPosition(spark.range(1, 1501).toDF("c_custkey"), "c_custkey")
    graft.data.IcebergLite.writeTiled(pts, t, "lon", "lat", tileLevel, prefixLevel, index = index)
    val parts = graft.data.IcebergLite.readManifest(t).get.entries.size
    assert(parts > 32, s"needs more than 32 partition directories, got $parts")
    t
  }

  test("budget: a repeat IcebergLite.read of an unchanged table starts 0 jobs") {
    val t = wideTable("read_budget")
    val first = graft.JobCount.sites(spark)(graft.data.IcebergLite.read(spark, t))
    assert(first.exists(_.contains("IcebergLite")), first.mkString("; "))
    val again = graft.JobCount.sites(spark)(graft.data.IcebergLite.read(spark, t))
    assert(again.isEmpty, again.mkString("; "))
  }

  test("budget: a repeat knnIndexedH3 starts no IcebergLite listing or schema job") {
    // the same budget on every index family: H3 res 0, geohash 6 bits and
    // S2 level 2 prefixes all give more than 32 partitions
    Seq((CellIndex.H3U, 7, 0), (CellIndex.Geohash, 30, 6), (CellIndex.S2U, 12, 2)).foreach {
      case (index, tileLevel, prefixLevel) =>
        val t = wideTable(s"knn_budget_${index.tag}", index, tileLevel, prefixLevel)
        def knn(): Unit = SpatialOps.knnIndexed(spark, t, -0.75, 51.25, 10, "c_custkey").collect()
        // the first query resolves the snapshot once and its two scans
        // share it: one listing job, and the manifest's schema needs no
        // footer-reading schema job
        val first = graft.JobCount.sites(spark)(knn())
        assert(first.count(_.contains("IcebergLite")) == 1, s"$index: ${first.mkString("; ")}")
        val again = graft.JobCount.sites(spark)(knn())
        assert(!again.exists(_.contains("IcebergLite")), s"$index: ${again.mkString("; ")}")
        // what is left is the candidate probe and at most one covering probe
        assert(again.size <= 2, s"$index: ${again.mkString("; ")}")
    }
  }

  test("DeriveCoveringPrune: an unknown index tag leaves the filter unpruned") {
    // H3 prefixes under a tag this engine does not know: a geohash IN-list
    // would match no partition and drop every row
    val t = s"${java.nio.file.Files.createTempDirectory("unknown_tag")}/t"
    val pts = SpatialOps.withDerivedPosition(
      spark.read.parquet("/root/testdata/sf0.01/customer.parquet").select("c_custkey"), "c_custkey")
    val tiling = graft.data.IcebergLite.Tiling(CellIndex.H3U, 3, "lon", "lat")
    graft.data.IcebergLite.write(tiling.assign(pts, 7), t, "tile_p",
      properties = tiling.properties + (graft.data.IcebergLite.Tiling.PropIndexType -> "h3"))
    val box = BBox(-0.75, 51.0, 0.25, 52.0)
    val inBox = $"lon" >= box.minLon && $"lon" <= box.maxLon &&
                $"lat" >= box.minLat && $"lat" <= box.maxLat
    // a box, and a cell set of that index's own cells, derive nothing
    val inCells = gf.h3u_cell($"lon", $"lat", 7).isin(CellIndex.H3U.coverBox(box, 7).toSeq: _*)
    Seq(inBox, inCells).foreach { cond =>
      val q = graft.data.IcebergLite.read(spark, t).where(cond).select("c_custkey")
      val prefixIns = q.queryExecution.optimizedPlan.collect {
        case org.apache.spark.sql.catalyst.plans.logical.Filter(c, _) =>
          c.collect {
            case e @ (_: In | _: InSet) if e.references.exists(_.name == "tile_p") => e
          }
      }.flatten
      assert(prefixIns.isEmpty, s"derived a prune for an unknown index: $prefixIns")
      val expect = pts.where(cond).select("c_custkey")
      assert(q.count() > 0)
      assert(q.exceptAll(expect).isEmpty && expect.exceptAll(q).isEmpty)
    }
  }

  test("knnIndexed: a layout that disagrees with the manifest throws, not an empty answer") {
    val t = wideTable("knn_mismatch")
    // geohash named over an H3-tiled table: no partition matches a geohash
    // cell, so an unchecked call would close over the grid and return nothing
    intercept[IllegalArgumentException] {
      SpatialOps.knnIndexed(spark, t, "tile_p", 0, "lon", "lat", -0.75, 51.25, 10, "c_custkey")
    }
    intercept[IllegalArgumentException] {
      SpatialOps.knnIndexedS2(spark, t, "tile_p", 0, "lon", "lat", -0.75, 51.25, 10, "c_custkey")
    }
    // the right index at the wrong prefix level
    intercept[IllegalArgumentException] {
      SpatialOps.knnIndexedH3(spark, t, "tile_p", 2, "lon", "lat", -0.75, 51.25, 10, "c_custkey")
    }
    assert(SpatialOps.knnIndexedH3(
      spark, t, "tile_p", 0, "lon", "lat", -0.75, 51.25, 10, "c_custkey").count() == 10)
  }

  test("knnIndexed: every form throws over a table that records no tiling, and on other lon/lat") {
    import graft.data.IcebergLite
    // tile and tile_p columns, but a plain write records no tiling
    val plain = s"${java.nio.file.Files.createTempDirectory("knn_untiled")}/t"
    val pts = SpatialOps.withDerivedPosition(spark.range(1, 201).toDF("c_custkey"), "c_custkey")
    IcebergLite.write(IcebergLite.Tiling(CellIndex.Geohash, 6, "lon", "lat").assign(pts, 30),
      plain, "tile_p")
    val (qx, qy) = (-0.75, 51.25)
    Seq[(String, () => DataFrame)](
      "recorded" -> (() => SpatialOps.knnIndexed(spark, plain, qx, qy, 10, "c_custkey")),
      "geohash" -> (() => SpatialOps.knnIndexed(
        spark, plain, "tile_p", 6, "lon", "lat", qx, qy, 10, "c_custkey")),
      "h3" -> (() => SpatialOps.knnIndexedH3(
        spark, plain, "tile_p", 6, "lon", "lat", qx, qy, 10, "c_custkey")),
      "s2" -> (() => SpatialOps.knnIndexedS2(
        spark, plain, "tile_p", 6, "lon", "lat", qx, qy, 10, "c_custkey"))).foreach {
      case (form, knn) =>
        val e = intercept[IllegalArgumentException](knn())
        assert(e.getMessage.contains(plain), s"$form: ${e.getMessage}")
    }
    // the recorded layout under swapped coordinate columns
    val t = wideTable("knn_lonlat")
    intercept[IllegalArgumentException] {
      SpatialOps.knnIndexedH3(spark, t, "tile_p", 0, "lat", "lon", qx, qy, 10, "c_custkey")
    }
  }

  test("budget: minhashLshPairs shuffles at most 5 times and explodes no band structs") {
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.StructType
    // every node of an executed plan, through adaptive query stages
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case q: QueryStageExec => nodes(q.plan)
      case _ => p.children.flatMap(nodes)
    })
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plans = graft.QueryPlans.of(spark)(
      TextOps.minhashLshPairs(docs, "doc_id", "text").collect())
    val all = plans.flatMap(nodes)
    val shuffles = all.count(_.isInstanceOf[ShuffleExchangeExec])
    info(s"${plans.size} queries, $shuffles shuffle exchanges")
    assert(plans.nonEmpty)
    // the per-doc key, the per-key buckets, the per-pair intersection and
    // two doc-id sides of the shingle counts; the other joins broadcast
    // at this size
    assert(shuffles <= 5, plans.mkString("\n"))
    val structGenerates = all.collect {
      case g: GenerateExec if g.generator.elementSchema.fields
        .exists(_.dataType.isInstanceOf[StructType]) => g
    }
    assert(structGenerates.isEmpty, structGenerates.mkString("\n"))
  }
}
