package graftbench

import java.nio.file.Path
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{BBox, GeoMath}
import graft.data.IcebergLite
import graft.engine.SpatialOps
import graft.sql.{functions => gf}

/** Read queries over tiled IcebergLite tables of (id, lon, lat) and their
  * brute-force answers over the same rows held on the driver. */
final class Queries(spark: SparkSession) {
  import spark.implicits._

  def table(path: String): DataFrame = L.data("read")(IcebergLite.read(spark, path))

  def boxPred(b: BBox): Column = {
    val lon = col("lon"); val lat = col("lat")
    val lonP = if (b.minLon <= b.maxLon) lon >= b.minLon && lon <= b.maxLon
               else lon >= b.minLon || lon <= b.maxLon
    lonP && lat >= b.minLat && lat <= b.maxLat
  }

  def pipPred(p: Gen.Polygon): Column = gf.st_contains_wkt(lit(p.wkt), col("lon"), col("lat"))

  /** A bare filter: the covering-prune rule derives the partition IN-list. */
  def filterIds(t: DataFrame, pred: Column): Array[Long] =
    L.longs(L.collect(t.where(pred).select("id")))

  /** The q18 shape: polygon covering cells broadcast against the tile key,
    * exact ray-cast refine. */
  def pipIndexedIds(t: DataFrame, p: Gen.Polygon): Array[Long] = {
    val cells = L.core("polygonCovering")(graft.core.Geohash.polygonCovering(p.rings, 15))
    val df = L.engine("build") {
      SpatialOps.withTile(t, "lon", "lat", 15, "__cell")
        .join(broadcast(cells.toSeq.toDF("__cell")), "__cell")
        .where(pipPred(p)).select("id")
    }
    L.longs(L.collect(df))
  }

  def knnIds(df: DataFrame): Array[Long] =
    L.collect(df.select("rank", "id")).sortBy(_.getInt(0)).map(_.getLong(1))
}

/** Brute-force answers over driver-side rows (the check side). */
final class Brute(val id: mutable.ArrayBuffer[Long], val lon: mutable.ArrayBuffer[Double],
                  val lat: mutable.ArrayBuffer[Double]) {
  def add(p: Gen.Points): Unit = { id ++= p.id; lon ++= p.lon; lat ++= p.lat }
  def size: Int = id.length
  def box(b: BBox): Array[Long] = id.indices.filter { i =>
    val lonOk = if (b.minLon <= b.maxLon) lon(i) >= b.minLon && lon(i) <= b.maxLon
                else lon(i) >= b.minLon || lon(i) <= b.maxLon
    lonOk && lat(i) >= b.minLat && lat(i) <= b.maxLat
  }.map(id).toArray.sorted
  def pip(p: Gen.Polygon): Array[Long] =
    id.indices.filter(i => GeoMath.pointInPolygon(lon(i), lat(i), p.rings)).map(id).toArray.sorted
  /** Exact top-k by squared degree distance, ties by id (SpatialOps.knnBrute). */
  def knn(qx: Double, qy: Double, k: Int): Array[Long] =
    id.indices.map { i =>
      val dx = lon(i) - qx; val dy = lat(i) - qy
      (dx * dx + dy * dy, id(i))
    }.sorted.take(k).map(_._2).toArray
}

object Brute {
  def of(p: Gen.Points): Brute = {
    val b = new Brute(mutable.ArrayBuffer.empty, mutable.ArrayBuffer.empty, mutable.ArrayBuffer.empty)
    b.add(p); b
  }
}

object Serve {
  /** The rows as a DataFrame of `slices` partitions, each a band of
    * longitude, as data that arrives grouped by region: a tiled write then
    * spreads its partition files over parallel tasks. */
  def frame(spark: SparkSession, p: Gen.Points, slices: Int): DataFrame = {
    import spark.implicits._
    val rows = p.id.indices.sortBy(p.lon(_)).map(i => (p.id(i), p.lon(i), p.lat(i)))
    spark.sparkContext.parallelize(rows, slices).toDF("id", "lon", "lat")
  }
}

/** tiled_serve: closed loop, one client, read-only. Setup writes geohash,
  * H3U and S2U tiled tables of seeded positions; each query draws fresh
  * geometry, so no literal repeats. */
final class TiledServe(spark: SparkSession, seed: Long, smoke: Boolean) extends Workload {
  private val q = new Queries(spark)
  private val rows = if (smoke) 4000 else 50000
  private val pts = Gen.points(new SplittableRandom(seed), rows, 1L)
  private val brute = Brute.of(pts)
  private val rnd = new SplittableRandom(seed ^ 0x5DEECE66DL)
  private var gh, h3, s2 = ""
  // a serving session holds the tables open: one read per table at setup
  private var ghT, h3T, s2T: DataFrame = _
  private val boxes = mutable.ArrayBuffer.empty[BBox]
  private val polygons = mutable.ArrayBuffer.empty[Array[Array[Double]]]

  // partition prefixes: 16 geohash cells, 122 H3 res-0 cells, 24 S2 level-1
  // cells. Set-up cost grows with the partition count (one file each).
  private val GhPrefix = 4; private val H3Prefix = 0; private val S2Prefix = 1

  def stage(dir: Path): Unit = {
    val df = Serve.frame(spark, pts, 4)
    gh = dir.resolve("gh").toString; h3 = dir.resolve("h3").toString; s2 = dir.resolve("s2").toString
    IcebergLite.writeTiled(df, gh, "lon", "lat", 30, GhPrefix)
    IcebergLite.writeTiledH3(df, h3, "lon", "lat", 7, H3Prefix)
    IcebergLite.writeTiledS2(df, s2, "lon", "lat", 12, S2Prefix)
    ghT = IcebergLite.read(spark, gh); h3T = IcebergLite.read(spark, h3); s2T = IcebergLite.read(spark, s2)
  }

  /** A round runs each box and PIP shape once on each index it applies
    * to, a ring kNN, and an indexed kNN on each of geohash, H3U and S2U.
    * Only the geometry is fresh. Every kind is in every round: the indexed
    * kNNs differ several-fold in cost, so a round holding only one of them
    * would make the mix depend on how many rounds a run measures. */
  val roundLength = 14

  private def box(minSide: Double, maxSide: Double): BBox = {
    val b = Gen.box(rnd, minSide, maxSide); boxes += b; b
  }
  private def polygon(): Gen.Polygon = {
    val p = Gen.polygon(rnd, 0.1, 8.0); polygons += p.rings; p
  }
  private def ids(kind: String, want: => Array[Long])(run: => Array[Long]): Op =
    Op(kind, 0, () => { val got = run; () => Op.expect(kind, got.toSeq, want.toSeq) })

  private def boxOp(kind: String)(query: BBox => DataFrame): Op = {
    val b = box(0.05, 30.0)
    ids(kind, brute.box(b))(L.longs(L.collect(query(b).select("id"))))
  }
  private def pipOp(kind: String, t: => DataFrame): Op = {
    val p = polygon()
    ids(kind, brute.pip(p))(q.filterIds(t, q.pipPred(p)))
  }
  /** kNN with k = 10 at a hot spot or a uniform point, alternating, so
    * every run has the same share of dense and sparse neighbourhoods. */
  private def knnOp(kind: String, i: Int)(query: (Double, Double) => DataFrame): Op = {
    val (qx, qy) = Gen.knnPoint(rnd, hot = (i / roundLength + i) % 2 == 0)
    ids(kind, brute.knn(qx, qy, 10))(q.knnIds(L.engine("build")(query(qx, qy))))
  }

  def op(i: Int): Op = i % roundLength match {
    case 0 => boxOp("box_gh")(b => ghT.where(q.boxPred(b)))
    case 1 => boxOp("box_h3")(b => h3T.where(q.boxPred(b)))
    case 2 => boxOp("box_s2")(b => s2T.where(q.boxPred(b)))
    case 3 => boxOp("box_engine_gh")(b => L.engine("build")(SpatialOps.boxQuery(ghT, "lon", "lat", b, 20)))
    case 4 => boxOp("box_engine_h3")(b => L.engine("build")(SpatialOps.boxQueryH3(h3T, "lon", "lat", b, 4)))
    case 5 => boxOp("box_engine_s2")(b => L.engine("build")(SpatialOps.boxQueryS2(s2T, "lon", "lat", b, 8)))
    case 6 =>
      val bs = (0 until 3 + rnd.nextInt(4)).map(j => j -> box(0.05, 10.0))
      Op("multibox", 0, () => {
        val df = L.engine("build")(SpatialOps.multiBoxQuery(ghT, "lon", "lat", bs, 20))
        val got = L.collect(df.select("box_id", "id")).map(r => (r.getInt(0), r.getLong(1))).sorted
        () => Op.expect("multibox", got.toSeq,
          bs.flatMap { case (j, b) => brute.box(b).map(id => (j, id)) }.sorted)
      })
    case 7 => pipOp("pip_gh", ghT)
    case 8 =>
      val p = polygon()
      ids("pip_indexed", brute.pip(p))(q.pipIndexedIds(ghT, p))
    case 9 => pipOp("pip_h3", h3T)
    case 10 => knnOp("knn_ring", i)((x, y) => SpatialOps.knnRing(ghT, "lon", "lat", 1, x, y, 10, 20, "id"))
    case 11 => knnOp("knn_indexed_gh", i)((x, y) =>
      SpatialOps.knnIndexed(spark, gh, "tile_p", GhPrefix, "lon", "lat", x, y, 10, "id"))
    case 12 => knnOp("knn_indexed_h3", i)((x, y) =>
      SpatialOps.knnIndexedH3(spark, h3, "tile_p", H3Prefix, "lon", "lat", x, y, 10, "id"))
    case _ => knnOp("knn_indexed_s2", i)((x, y) =>
      SpatialOps.knnIndexedS2(spark, s2, "tile_p", S2Prefix, "lon", "lat", x, y, 10, "id"))
  }

  def coreInputs = CoreBench.Inputs(pts.lon, pts.lat, boxes.toSeq, polygons.toSeq)
  override def tableStats: Map[String, Double] = {
    val st = Tables.stats(Seq(gh, h3, s2))
    st ++ Map(
      "data.files_per_commit" -> Seq(gh, h3, s2).map(p => Tables.parquetFiles(new java.io.File(p, "data")).size).sum / 3.0,
      "data.bytes_written_per_row" -> st("data.stored_bytes_per_row"))
  }
}

/** ingest_serve: closed loop, one client, writes mixed with reads on one
  * geohash-tiled table. Writes append seeded batches of varying size
  * through IcebergLite.extend; every fourth append is followed by
  * compact + expireSnapshots. Reads repeat a small set of "dashboard"
  * geometries that fit the caches. */
final class IngestServe(spark: SparkSession, seed: Long, smoke: Boolean) extends Workload {
  import spark.implicits._
  private val q = new Queries(spark)
  private val rnd = new SplittableRandom(seed)
  private val initial = Gen.points(rnd, if (smoke) 2000 else 50000, 1L)
  private var brute = Brute.of(initial)
  private var nextId = initial.size + 1L
  private var t = ""
  private val Prefix = 6
  private val dashBoxes = Seq(Gen.box(rnd, 0.5, 2.0), Gen.box(rnd, 5.0, 15.0))
  private val dashPoly = Gen.polygon(rnd, 2.0, 6.0)
  private val dashKnn = Gen.knnPoint(rnd, hot = true)
  private var commits, filesWritten, bytesWritten, rowsWritten = 0L

  def stage(dir: Path): Unit = {
    t = dir.resolve("t").toString
    brute = Brute.of(initial); nextId = initial.size + 1L
    IcebergLite.writeTiled(Serve.frame(spark, initial, 4), t, "lon", "lat", 30, Prefix)
  }

  // e d0 d1 e d2 d3 e d0 d1 e d2 d3 compact
  val roundLength = 13

  private def dashboard(j: Int): (() => Array[Long], () => Array[Long]) = j match {
    case 0 | 1 => (() => q.filterIds(q.table(t), q.boxPred(dashBoxes(j))), () => brute.box(dashBoxes(j)))
    case 2 => (() => q.filterIds(q.table(t), q.pipPred(dashPoly)), () => brute.pip(dashPoly))
    case _ => (() => q.knnIds(L.engine("build")(
                SpatialOps.knnIndexed(spark, t, "tile_p", Prefix, "lon", "lat", dashKnn._1, dashKnn._2, 10, "id"))),
               () => brute.knn(dashKnn._1, dashKnn._2, 10))
  }

  private def manifestRows(): Long =
    IcebergLite.rowsByPartition(L.data("readManifest")(IcebergLite.readManifest(t)).get).values.sum

  def op(i: Int): Op = {
    val slot = i % roundLength
    if (slot == 12) {
      var before: Seq[Array[Long]] = Nil
      Op("compact", 0, () => {
        L.data("compact")(IcebergLite.compact(spark, t))
        L.data("expireSnapshots")(IcebergLite.expireSnapshots(t))
        () => {
          val after = (0 until 4).map(j => dashboard(j)._1())
          Op.expect("manifest rows after compact", manifestRows(), brute.size.toLong).orElse(
            (0 until 4).iterator.map(j => Op.expect(s"dashboard $j after compact",
              after(j).toSeq, before(j).toSeq)).collectFirst { case Some(e) => e })
        }
      }, pre = () => before = (0 until 4).map(j => dashboard(j)._1()))
    } else if (slot % 3 == 0) {
      val n = math.exp(rnd.nextDouble(math.log(if (smoke) 50 else 500), math.log(if (smoke) 200 else 5000))).toInt
      val batch = Gen.points(rnd, n, nextId)
      nextId += n
      Op("extend", n, () => {
        val df = Serve.frame(spark, batch, 1)
          .withColumn("tile", gf.gh_encode($"lon", $"lat", 30))
          .withColumn("tile_p", gf.gh_parent($"tile", 30, Prefix))
        val m = L.data("extend")(IcebergLite.extend(df, t, "tile_p"))
        brute.add(batch)
        () => {
          val written = Tables.parquetFiles(new java.io.File(t, s"data/snapid=${m.snapshotId}"))
          commits += 1; filesWritten += written.size; bytesWritten += written.map(_.length).sum; rowsWritten += n
          Op.expect("manifest rows", manifestRows(), brute.size.toLong)
        }
      })
    } else {
      val j = Map(1 -> 0, 2 -> 1, 4 -> 2, 5 -> 3)(slot % 6)
      Op(s"dashboard$j", 0, () => {
        val (run, want) = dashboard(j)
        val got = run()
        () => Op.expect(s"dashboard$j", got.toSeq, want().toSeq)
      })
    }
  }

  def coreInputs = CoreBench.Inputs(brute.lon.toArray, brute.lat.toArray, dashBoxes,
    Seq(dashPoly.rings))
  override def tableStats: Map[String, Double] = Tables.stats(Seq(t)) ++ Map(
    "data.files_per_commit" -> filesWritten.toDouble / math.max(commits, 1L),
    "data.bytes_written_per_row" -> bytesWritten.toDouble / math.max(rowsWritten, 1L))
}

/** data.* statistics of IcebergLite tables on disk. */
object Tables {
  def parquetFiles(dir: java.io.File): Seq[java.io.File] =
    if (dir.isDirectory) dir.listFiles().toSeq.flatMap(parquetFiles)
    else if (dir.getName.endsWith(".parquet")) Seq(dir) else Nil

  def stats(tables: Seq[String]): Map[String, Double] = {
    val ms = tables.map(t => IcebergLite.readManifest(t).get)
    val bytes = tables.map(t => parquetFiles(new java.io.File(t, "data")).map(_.length).sum).sum
    val rows = ms.map(m => m.entries.map(_.rows).sum).sum.toDouble
    Map(
      "data.snapshots_live" -> ms.map(_.entries.map(_.snapshotId).distinct.size).sum.toDouble / tables.size,
      "data.manifest_entries" -> ms.map(_.entries.size).sum.toDouble / tables.size,
      "data.stored_bytes_per_row" -> bytes / math.max(rows, 1.0))
  }
}
