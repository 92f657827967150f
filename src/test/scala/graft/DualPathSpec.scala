package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen

import graft.sql.GraftSpark

/** Second-path verification for the queries with no DuckDB oracle
  * (VERDICT round-1 #7): each emits an in-query dual-path column computed
  * through an independent pipeline (inverse decode, second implementation,
  * geometric containment); this suite asserts those columns are all-true at
  * test scale, and adds driver-side recomputation for the ANN cosines. */
class DualPathSpec extends AnyFunSuite with PropHelper {
  lazy val spark = GraftSpark.session("local[4]", appName = "dual-path-spec")
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("q15 s2 cells: center decode→encode round trip holds on every row") {
    val rows = q("q15_s2_cells").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Boolean]("rt_ok")), "s2 round-trip violation")
    rows.foreach { r =>
      val s2 = r.getAs[Long]("s2"); val p = r.getAs[Long]("s2_parent")
      assert(graft.core.S2U.parent(s2, 8) == p)
      assert(graft.core.S2U.level(p) == 8 && graft.core.S2U.level(s2) == 12)
      assert(graft.core.S2U.contains(p, s2))
      assert(r.getAs[String]("s2_token") == graft.core.S2U.token(s2))
      assert(graft.core.S2U.isValid(s2))
    }
  }

  test("q20 image tiles: every point inside its tile's decoded bbox") {
    val rows = q("q20_image_tile_assign").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Boolean]("in_cell")), "tile bbox containment violation")
  }

  test("q21 image box join: invariants filter nothing at test scale") {
    // q21 keeps only rows passing PSNR + caption equality; at test scale the
    // coarse join must lose zero rows to those invariants
    import graft.data.Images
    import graft.engine.SpatialOps
    import graft.core.BBox
    val tiled = Images.withTile(Images.table(spark, 2000L), 20)
    val unfiltered = SpatialOps.boxQuery(tiled, "lon", "lat",
      BBox(-0.25, 51.375, 0.0, 51.625), 20).count()
    assert(unfiltered > 0)
    assert(q("q21_image_box_join").count() == unfiltered,
      "PSNR/caption invariants dropped rows")
  }

  test("q22 tile metrics: per-tile extents inside decoded bboxes") {
    val rows = q("q22_tile_metrics").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Boolean]("extent_ok")), "extent/bbox violation")
  }

  test("q45 rolling fingerprint: both implementations agree on every row + property") {
    val rows = q("q45_rolling_fp").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Boolean]("dual_ok")), "rolling hash dual-path mismatch")
    forAll(Gen.asciiPrintableStr, Gen.alphaNumStr) { (a: String, b: String) =>
      val s = a + "é观" + b // non-ASCII too
      assert(graft.core.TextHash.rollingHash(s) == graft.core.TextHash.rollingHashAlt(s))
    }
  }

  test("q47 h3 cells: EXACT center round trip on every row; parents bit-compatible") {
    val rows = q("q47_h3_cells").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Boolean]("rt_ok")), "h3 center round-trip must be exact")
    rows.foreach { r =>
      val h3 = r.getAs[Long]("h3"); val p = r.getAs[Long]("h3_parent")
      assert(graft.core.H3U.cellToParent(h3, 3) == p)
      assert(graft.core.H3U.resolution(p) == 3 && graft.core.H3U.resolution(h3) == 5)
      assert(graft.core.H3U.isValid(h3) && graft.core.H3U.isValid(p))
      assert(r.getAs[Boolean]("is_vertex") == graft.core.H3U.isPentagon(h3))
    }
  }

  test("q48 h3 cell join: keys are res-4 H3U cells; counts equal a driver-side group-by") {
    val rows = q("q48_h3_cell_join").collect()
    assert(rows.nonEmpty)
    def cellCounts(table: String, key: String): Map[Long, Long] =
      graft.engine.SpatialOps.withDerivedPosition(
        spark.read.parquet(s"$sf/$table.parquet").select(key), key)
        .collect().toSeq
        .groupBy(r => graft.core.H3U.latLngToCell(r.getDouble(2), r.getDouble(1), 4))
        .map { case (h, rs) => h -> rs.length.toLong }
    val cust = cellCounts("customer", "c_custkey")
    val supp = cellCounts("supplier", "s_suppkey")
    val expect = (cust.keySet intersect supp.keySet).map(h => (h, cust(h), supp(h)))
    rows.foreach { r =>
      val h3 = r.getAs[Long]("h3")
      assert(graft.core.H3U.isValid(h3) && graft.core.H3U.resolution(h3) == 4)
    }
    val got = rows.map(r => (r.getAs[Long]("h3"), r.getAs[Long]("n_cust"), r.getAs[Long]("n_supp")))
    assert(got.length == expect.size && got.toSet == expect,
      s"extra=${got.toSet -- expect} missing=${expect -- got.toSet}")
  }

  test("q55 h3u cells: EXACT center round trip on every row; goldens + parents bit-compatible") {
    val rows = q("q55_h3u_cells").collect()
    assert(rows.nonEmpty)
    // bit-compatible decode/encode: exact round trip on 100% of rows
    assert(rows.forall(_.getAs[Boolean]("rt_ok")), "h3u center round-trip must be exact")
    rows.foreach { r =>
      val h3 = r.getAs[Long]("h3"); val p = r.getAs[Long]("h3_parent")
      assert(graft.core.H3U.cellToParent(h3, 4) == p)
      assert(graft.core.H3U.resolution(p) == 4)
      assert(r.getAs[String]("token") == java.lang.Long.toHexString(h3))
      assert(graft.core.H3U.isValid(h3))
    }
    // independent second path: every row's id equals the driver-side H3U
    // encode of the same derived position (exercises codegen vs interpreted)
    val pos = graft.engine.SpatialOps.withDerivedPosition(
      spark.read.parquet(s"$sf/customer.parquet").select("c_custkey"), "c_custkey")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    rows.foreach { r =>
      val (lon, lat) = pos(r.getAs[Long]("c_custkey"))
      assert(graft.core.H3U.latLngToCell(lat, lon, 7) == r.getAs[Long]("h3"))
    }
  }

  test("q61 s2u cells: EXACT center round trip on every row; layout + parents consistent") {
    val rows = q("q61_s2u_cells").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Boolean]("rt_ok")), "s2u center round-trip must be exact")
    rows.foreach { r =>
      val s2 = r.getAs[Long]("s2"); val p = r.getAs[Long]("s2_parent")
      assert(graft.core.S2U.parent(s2, 6) == p)
      assert(graft.core.S2U.level(p) == 6 && graft.core.S2U.level(s2) == 12)
      assert(graft.core.S2U.contains(p, s2))
      assert(r.getAs[String]("token") == graft.core.S2U.token(s2))
      assert(graft.core.S2U.isValid(s2))
    }
    // independent second path: every row's id equals the driver-side S2U
    // encode of the same derived position (codegen vs interpreted)
    val pos = graft.engine.SpatialOps.withDerivedPosition(
      spark.read.parquet(s"$sf/customer.parquet").select("c_custkey"), "c_custkey")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    rows.foreach { r =>
      val (lon, lat) = pos(r.getAs[Long]("c_custkey"))
      assert(graft.core.S2U.lonLatToCellAt(lon, lat, 12) == r.getAs[Long]("s2"))
    }
  }

  test("q40 ann lsh: equals a full driver-side reimplementation (buckets + best-k)") {
    import graft.engine.AnnOps
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val dim = 64; val k = 10; val nQ = 3
    val byId = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cosine(qid: Int, vecId: Long): Double = {
      val qv = AnnOps.queryVec(qid, dim)
      val e = byId(vecId)
      var dot = 0.0; var n2 = 0.0
      var i = 0
      while (i < dim) { // same left-to-right IEEE fold as the column expr
        dot += e(i).toDouble * qv(i); n2 += e(i).toDouble * e(i).toDouble; i += 1
      }
      dot / (math.sqrt(n2) * math.sqrt(qv.map(x => x * x).sum))
    }
    val nPlanes = 8
    val lsh = AnnOps.annLsh(emb, "vec_id", "embedding", dim, nQ, k).collect()
    assert(lsh.nonEmpty)
    lsh.foreach { r =>
      val expect = cosine(r.getInt(0), r.getLong(2))
      assert(r.getDouble(3) == expect, s"cosine mismatch qid=${r.getInt(0)} vec=${r.getLong(2)}")
    }
    // full second-path reimplementation: bucket every vector driver-side,
    // take the exact best-k of each query's bucket, compare row-for-row
    def bucketOf(e: Array[Float]): Long =
      (0 until nPlanes).map { p =>
        val plane = AnnOps.queryVec(100 + p, dim)
        var d = 0.0; var i = 0
        while (i < dim) { d += e(i).toDouble * plane(i); i += 1 }
        if (d >= 0) 1L << p else 0L
      }.sum
    def qBucketOf(q: Int): Long =
      (0 until nPlanes).map { p =>
        val qv = AnnOps.queryVec(q, dim); val plane = AnnOps.queryVec(100 + p, dim)
        val d = qv.indices.map(i => qv(i) * plane(i)).sum
        if (d >= 0) 1L << p else 0L
      }.sum
    val expect = (0 until nQ).flatMap { q =>
      val qb = qBucketOf(q)
      byId.toSeq.filter { case (_, e) => bucketOf(e) == qb }
        .map { case (id, _) => (id, cosine(q, id)) }
        .sortBy { case (id, c) => (-c, id) }
        .take(k).zipWithIndex
        .map { case ((id, c), i) => (q, (i + 1).toLong, id, c) }
    }.toSet
    val got = lsh.map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == expect,
      s"LSH output != driver-side bucket best-k: extra=${got -- expect} missing=${expect -- got}")
  }
}
