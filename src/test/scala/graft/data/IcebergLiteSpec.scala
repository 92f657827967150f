package graft.data

import java.nio.file.{Files, Paths}
import java.util.concurrent.CyclicBarrier

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.BBox
import graft.engine.SpatialOps
import graft.sql.{CellIndex, GraftSpark, functions => gf}

/** The per-session snapshot slot behind [[IcebergLite.read]]: every commit
  * shape is seen by the next read, the covering-prune rule follows the
  * same slot, concurrent readers agree with a serial one, and a stopped
  * context's slots are dropped. */
class IcebergLiteSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.session("local[4]", appName = "iceberg-lite-spec")
  import spark.implicits._

  private def tmp(name: String) = Files.createTempDirectory(name).toString

  /** Keys [from, until) at their derived positions. */
  private def pts(from: Long, until: Long): DataFrame =
    SpatialOps.withDerivedPosition(spark.range(from, until).toDF("c_custkey"), "c_custkey")

  /** Rows at explicit positions, tiled like writeTiled(…, 30, 6). */
  private def tiledRows(rows: (Long, Double, Double)*): DataFrame =
    rows.toDF("c_custkey", "lon", "lat")
      .withColumn("tile", gf.gh_encode($"lon", $"lat", 30))
      .withColumn("tile_p", gf.gh_parent($"tile", 30, 6))

  private def ranked(df: DataFrame): Seq[(Int, Long)] =
    df.select("rank", "c_custkey").collect().map(r => (r.getInt(0), r.getLong(1))).sorted.toSeq

  private def knnGh(table: String, qx: Double, qy: Double): Seq[(Int, Long)] =
    ranked(SpatialOps.knnIndexed(spark, table, qx, qy, 10, "c_custkey"))

  private def brute(points: DataFrame, qx: Double, qy: Double, k: Int = 10): Seq[(Int, Long)] =
    ranked(SpatialOps.knnBrute(points.select("c_custkey", "lon", "lat"), "lon", "lat",
      Seq((0, qx, qy)), k, "c_custkey"))

  private def keys(df: DataFrame): Seq[Long] =
    df.select("c_custkey").collect().map(_.getLong(0)).sorted.toSeq

  private def inBox(b: BBox): Column =
    $"lon" >= b.minLon && $"lon" <= b.maxLon && $"lat" >= b.minLat && $"lat" <= b.maxLat

  private val (qx, qy) = (-0.75, 51.25)

  test("after extend, a read returns the new rows and knnIndexed matches brute force") {
    val t = s"${tmp("slot_extend")}/t"
    IcebergLite.writeTiled(pts(1, 2001), t, "lon", "lat", 30, 6)
    assert(IcebergLite.read(spark, t).count() == 2000)
    assert(knnGh(t, qx, qy) == brute(pts(1, 2001), qx, qy))
    // two rows at the query point: the answer must change
    val extra = tiledRows((900001L, qx, qy), (900002L, qx + 1e-4, qy))
    IcebergLite.extend(extra, t, "tile_p")
    assert(IcebergLite.read(spark, t).count() == 2002)
    val got = knnGh(t, qx, qy)
    assert(got.take(2) == Seq((1, 900001L), (2, 900002L)), got)
    assert(got == brute(pts(1, 2001).unionByName(extra.select("c_custkey", "lon", "lat")), qx, qy))
    // time travel bypasses the slot and still sees the first snapshot
    assert(IcebergLite.read(spark, t, asOfSnapshot = 0).count() == 2000)
  }

  test("a table deleted and re-written at the same path returns the new rows") {
    val t = s"${tmp("slot_rewrite")}/t"
    IcebergLite.writeTiled(pts(1, 501), t, "lon", "lat", 30, 6)
    assert(keys(IcebergLite.read(spark, t)) == (1L until 501L))
    scala.util.Using.resource(Files.walk(Paths.get(t))) { s =>
      s.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    }
    // same snapshot id (0), same layout, different rows
    IcebergLite.writeTiled(pts(1001, 1301), t, "lon", "lat", 30, 6)
    assert(IcebergLite.readManifest(t).get.snapshotId == 0)
    assert(keys(IcebergLite.read(spark, t)) == (1001L until 1301L))
    assert(knnGh(t, qx, qy) == brute(pts(1001, 1301), qx, qy))
  }

  test("after compact + expireSnapshots, reads and indexed kNN still succeed") {
    val t = s"${tmp("slot_compact")}/t"
    IcebergLite.writeTiled(pts(1, 1001), t, "lon", "lat", 30, 6)
    IcebergLite.extend(tiledRows((900001L, qx, qy)), t, "tile_p")
    IcebergLite.extend(tiledRows((900002L, 10.0, 10.0)), t, "tile_p")
    val all = pts(1, 1001).unionByName(Seq((900001L, qx, qy), (900002L, 10.0, 10.0))
      .toDF("c_custkey", "lon", "lat"))
    assert(IcebergLite.read(spark, t).count() == 1002)
    assert(knnGh(t, qx, qy) == brute(all, qx, qy))
    IcebergLite.compact(spark, t)
    assert(IcebergLite.expireSnapshots(t).nonEmpty)
    assert(keys(IcebergLite.read(spark, t)) == keys(all))
    assert(knnGh(t, qx, qy) == brute(all, qx, qy))
  }

  test("two threads reading and querying one table get the serial results") {
    val t = s"${tmp("slot_threads")}/t"
    IcebergLite.writeTiled(pts(1, 1501), t, "lon", "lat", 7, 2, index = CellIndex.H3U)
    val queries = Seq((qx, qy), (139.75, 35.5), (10.0, 10.0))
    def run(): Seq[Seq[Any]] = queries.flatMap { case (x, y) =>
      Seq(
        ranked(SpatialOps.knnIndexed(spark, t, x, y, 10, "c_custkey")),
        keys(IcebergLite.read(spark, t).where(inBox(BBox(x - 5, y - 5, x + 5, y + 5)))))
    }
    // both threads start on a cold slot
    val start = new CyclicBarrier(2)
    val concurrent = (0 until 2).map(_ => Future { start.await(); run() })
      .map(Await.result(_, 5.minutes))
    val serial = run()
    assert(serial.forall(_.nonEmpty))
    concurrent.foreach(r => assert(r == serial))
  }

  test("DeriveCoveringPrune follows a new commit even when CURRENT's mtime is unchanged") {
    val t = s"${tmp("slot_rule")}/t"
    // a table WITHOUT tiling properties: the rule has nothing to derive
    IcebergLite.write(pts(1, 1501)
      .withColumn("tile", gf.gh_encode($"lon", $"lat", 30))
      .withColumn("tile_p", gf.gh_parent($"tile", 30, 6)), t, "tile_p")
    val box = BBox(-0.75, 51.0, 0.25, 52.0)
    def query = IcebergLite.read(spark, t).where(inBox(box))
    def pruned(df: DataFrame): Boolean = "PartitionFilters: \\[[^\\]]*tile_p#".r
      .findFirstIn(df.queryExecution.executedPlan.toString).isDefined
    assert(!pruned(query))
    // commit the tiling properties as snapshot 1, then put CURRENT's mtime
    // back: a cache keyed on that mtime would keep serving snapshot 0
    val ptr = Paths.get(t, "_manifests", "CURRENT")
    val before = Files.getLastModifiedTime(ptr)
    IcebergLite.writeTiled(pts(1, 1501), t, "lon", "lat", 30, 6)
    assert(IcebergLite.readManifest(t).get.snapshotId == 1)
    Files.setLastModifiedTime(ptr, before)
    assert(pruned(query), query.queryExecution.executedPlan.toString)
    assert(keys(query) == keys(pts(1, 1501).where(inBox(box))))
  }

  test("knnIndexed == brute force at the edges of the disc finish, on geohash, H3U and S2U") {
    // six rows exactly 0.5 deg from the last query, two sharing a position:
    // k = 3 cuts through the tie, which the key breaks
    val rows = pts(1, 1501).unionByName(Seq((900001L, -29.5, -60.0), (900002L, -30.5, -60.0),
      (900003L, -30.0, -59.5), (900004L, -30.0, -60.5), (900005L, -29.5, -60.0),
      (900006L, -30.5, -60.0)).toDF("c_custkey", "lon", "lat"))
    // a prefix-cell edge and corner, within one k-th distance of ±180° and
    // of each pole, and the tie
    val queries = Seq((0.0, 0.0), (45.0, 22.5), (179.99, 5.0), (-179.99, -5.0), (30.0, 89.99),
      (-60.0, -89.99), (-30.0, -60.0))
    val want = (for (q <- queries; k <- Seq(3, 10)) yield (q, k) -> brute(rows, q._1, q._2, k)).toMap
    val three = pts(1, 4)
    // the coarse prefixes tiled_serve serves from, and finer ones
    Seq((CellIndex.Geohash, 30, 4), (CellIndex.Geohash, 30, 8), (CellIndex.H3U, 7, 0),
        (CellIndex.H3U, 7, 2), (CellIndex.S2U, 12, 1), (CellIndex.S2U, 12, 5)).foreach {
      case (index, tileLevel, prefixLevel) =>
        val t = s"${tmp(s"edges_${index.tag}")}/t"
        IcebergLite.writeTiled(rows, t, "lon", "lat", tileLevel, prefixLevel, index = index)
        for (q <- queries; k <- Seq(3, 10)) {
          val got = ranked(SpatialOps.knnIndexed(spark, t, q._1, q._2, k, "c_custkey"))
          assert(got == want((q, k)), s"$index/$prefixLevel at $q, k = $k")
        }
        // k larger than the row count
        val small = s"${tmp(s"three_${index.tag}")}/t"
        IcebergLite.writeTiled(three, small, "lon", "lat", tileLevel, prefixLevel, index = index)
        assert(ranked(SpatialOps.knnIndexed(spark, small, qx, qy, 10, "c_custkey")) ==
          brute(three, qx, qy), s"$index/$prefixLevel: k > rows")
        // an empty table answers with no rows
        val empty = s"${tmp(s"empty_${index.tag}")}/t"
        IcebergLite.writeTiled(three.where($"c_custkey" < 0), empty, "lon", "lat", tileLevel,
          prefixLevel, index = index)
        assert(SpatialOps.knnIndexed(spark, empty, qx, qy, 10, "c_custkey").isEmpty)
    }
  }

  test("an empty write reads back as a typed empty table, and knnIndexed answers its schema plus rank") {
    import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType}
    def fields(df: DataFrame): Seq[(String, DataType)] = df.schema.fields.map(f => f.name -> f.dataType).toSeq
    val source = Seq("c_custkey" -> LongType, "lon" -> DoubleType, "lat" -> DoubleType,
      "tile" -> LongType, "tile_p" -> LongType)
    val t = s"${tmp("empty_typed")}/t"
    IcebergLite.writeTiled(pts(1, 4).where($"c_custkey" < 0), t, "lon", "lat", 30, 6)
    val back = IcebergLite.read(spark, t)
    assert(fields(back) == source)
    assert(back.count() == 0)
    val knn = SpatialOps.knnIndexed(spark, t, 2.35, 48.86, 10, "c_custkey")
    assert(fields(knn) == source :+ ("rank" -> IntegerType))
    assert(knn.isEmpty)
  }

  test("a read returns the written column types, partition column included") {
    import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType}
    def fields(df: DataFrame): Seq[(String, DataType)] = df.schema.fields.map(f => f.name -> f.dataType).toSeq
    val tiled = Seq("c_custkey" -> LongType, "lon" -> DoubleType, "lat" -> DoubleType,
      "tile" -> LongType, "tile_p" -> LongType)
    // geohash prefixes fit an int, so directory-name inference types them int
    Seq((CellIndex.Geohash, 30, 6), (CellIndex.H3U, 7, 0), (CellIndex.S2U, 12, 2)).foreach {
      case (index, tileLevel, prefixLevel) =>
        val t = s"${tmp(s"types_${index.tag}")}/t"
        IcebergLite.writeTiled(pts(1, 201), t, "lon", "lat", tileLevel, prefixLevel, index = index)
        assert(fields(IcebergLite.read(spark, t)) == tiled, index.tag)
    }
    val t = s"${tmp("types_plain")}/t"
    IcebergLite.write(Seq((1L, "a", 3L), (2L, "b", 4L)).toDF("k", "v", "p"), t, "p")
    assert(fields(IcebergLite.read(spark, t)) == Seq("k" -> LongType, "v" -> StringType, "p" -> LongType))
    assert(IcebergLite.read(spark, t).as[(Long, String, Long)].collect().sorted
      .sameElements(Seq((1L, "a", 3L), (2L, "b", 4L))))
  }

  private def snapDirs(t: String): Set[Long] =
    scala.util.Using.resource(Files.list(Paths.get(t, "data"))) { s =>
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("snapid="))
        .map(_.stripPrefix("snapid=").toLong).toSet
    }

  test("extend, update and write under another partition column throw and leave the table readable") {
    val t = s"${tmp("other_part")}/t"
    val before = Seq((1L, "a", 3L), (2L, "b", 4L))
    IcebergLite.write(before.toDF("k", "v", "p"), t, "p")
    val other = Seq((5L, "c", 6L)).toDF("k", "v", "q")
    Seq[(String, () => Any)](
      "extend" -> (() => IcebergLite.extend(other, t, "q")),
      "update" -> (() => IcebergLite.update(other, t, "q")),
      "write" -> (() => IcebergLite.write(other, t, "q"))).foreach { case (op, commit) =>
        val e = intercept[IllegalArgumentException](commit())
        assert(e.getMessage.contains("partitioned by p"), op)
        assert(IcebergLite.readManifest(t).get.snapshotId == 0, op)
        assert(snapDirs(t) == Set(0L), s"$op wrote data before failing")
        assert(IcebergLite.read(spark, t).as[(Long, String, Long)].collect().sorted.toSeq == before, op)
    }
  }

  test("extend applies the table's compaction policy: at most 3 snapshots, none left unreferenced") {
    val t = s"${tmp("auto_compact")}/t"
    def rows(from: Long, until: Long): DataFrame =
      spark.range(from, until).toDF("k").withColumn("p", $"k" % 3)
    IcebergLite.write(rows(0, 10), t, "p", properties = Map(IcebergLite.PropAutoCompact -> "3"))
    (1 to 5).foreach { i =>
      val m = IcebergLite.extend(rows(i * 10L, i * 10L + 10), t, "p")
      val live = m.entries.map(_.snapshotId).toSet
      assert(live.size <= 3, s"after extend $i the manifest references ${live.toSeq.sorted}")
      assert(IcebergLite.readManifest(t).get.snapshotId == m.snapshotId,
        s"extend $i returned a manifest other than the committed one")
      assert(snapDirs(t) == live, s"after extend $i the data dir holds ${snapDirs(t).toSeq.sorted}")
    }
    assert(keys(IcebergLite.read(spark, t).withColumnRenamed("k", "c_custkey")) == (0L until 60L))
  }

  test("a manifest without the schema field fails the read, naming the table") {
    val t = s"${tmp("no_schema")}/t"
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$t/data/snapid=0/p=3")
    Files.createDirectories(Paths.get(t, "_manifests"))
    Files.writeString(Paths.get(t, "_manifests", "snap-0.tsv"), "0\t-1\tp\t\n3\t1\t0\t0")
    Files.writeString(Paths.get(t, "_manifests", "CURRENT"), "0")
    val e = intercept[IllegalStateException](IcebergLite.read(spark, t))
    assert(e.getMessage.contains(t) && e.getMessage.contains("snapshot 0"), e.getMessage)
  }

  test("Tiling.of reads back what writeTiled records on geohash, H3U and S2U, and no partial tiling") {
    import IcebergLite.Tiling
    Seq((CellIndex.Geohash, 30, 6), (CellIndex.H3U, 7, 2), (CellIndex.S2U, 12, 5)).foreach {
      case (index, tileLevel, prefixLevel) =>
        val t = s"${tmp(s"tiling_${index.tag}")}/t"
        IcebergLite.writeTiled(pts(1, 201), t, "lon", "lat", tileLevel, prefixLevel, index = index)
        val m = IcebergLite.readManifest(t).get
        val tiling = Tiling(index, prefixLevel, "lon", "lat")
        assert(Tiling.of(m).contains(tiling), index.tag)
        assert(IcebergLite.current(spark, t).tiling.contains(tiling), index.tag)
        assert(m.partitionCol == Tiling.PrefixCol, index.tag)
        // the written rows carry the tiling's own tile and prefix columns
        val cols = Seq("c_custkey", Tiling.TileCol, Tiling.PrefixCol)
        val read = IcebergLite.read(spark, t).select(cols.map(col): _*)
        val assigned = tiling.assign(pts(1, 201), tileLevel).select(cols.map(col): _*)
        assert(read.exceptAll(assigned).isEmpty && assigned.exceptAll(read).isEmpty, index.tag)
    }
    val m = IcebergLite.writeTiled(pts(1, 11), s"${tmp("tiling_keys")}/t", "lon", "lat", 30, 6)
    Seq(Tiling.PropPrefixBits, Tiling.PropLonCol, Tiling.PropLatCol, Tiling.PropIndexType)
      .foreach(key => assert(Tiling.of(m.copy(properties = m.properties - key)).isEmpty, key))
    assert(Tiling.of(m.copy(properties = m.properties + (Tiling.PropIndexType -> "h3"))).isEmpty)
  }

  // stops the suite's SparkContext: keep this test last
  test("a stopped context's slots are dropped, so they cannot keep its session alive") {
    val t = s"${tmp("slot_stop")}/t"
    IcebergLite.writeTiled(pts(1, 101), t, "lon", "lat", 30, 6)
    IcebergLite.read(spark, t)
    val sc = spark.sparkContext
    assert(IcebergLite.slotCount(sc) > 0)
    spark.stop() // delivers the application-end event before returning
    assert(IcebergLite.slotCount(sc) == 0)
  }
}
