package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Per-round benchmark: times every SparkEntry query at the given sf dir
  * and measures the headline metric (BASELINE.json:2 — tile-assignment +
  * spatial-join throughput in rows/sec) on a generated position table large
  * enough to saturate the cores. Prints ONE JSON line. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.sql.GraftSpark.session(s"local[$cpus]")

    // dev-only subset filter (comma-separated names); when set, the headline
    // workload is skipped too — the driver never sets it
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)

    // headline FIRST: the 33-query suite pollutes JIT profiles enough to
    // slow the hot tile-assign loop ~6x if measured afterwards
    val headline =
      if (only.isDefined) Seq.empty
      else BenchWork.headline(spark,
        rows = sys.env.getOrElse("SPARK_GRAFT_BENCH_ROWS", "100000000").toLong)

    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        val t0 = System.nanoTime()
        val err = try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); None }
                  catch { case e: Throwable => Some(e.getClass.getSimpleName) }
        (name, (System.nanoTime() - t0) / 1e9, err)
      }

    // a failed query is reported as an error object, never as a (fast) time
    val qs = results.map {
      case (k, v, None) => "\"" + k + "\":" + v
      case (k, _, Some(e)) => "\"" + k + "\":{\"err\":\"" + e + "\"}"
    }.mkString("{", ",", "}")
    val nErr = results.count(_._3.isDefined)
    val total = results.collect { case (_, v, None) => v }.sum
    val hl = headline.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","errors":$nErr,"queries":$qs,"sf":"$sfDir","headline":$hl,"cores":$cpus}""")
    spark.stop()
  }
}

/** The headline workload, shared by Bench and ScalingBench: generate a
  * position table arithmetically (no image bytes — the 10¹²-row posture
  * prunes `bytes` out of the tile/join path anyway, SURVEY.md §8), then
  * (a) tile-assign at 30 bits; (b) box-join + exact refine over 8 query
  * boxes (covering broadcast); (c) per-tile histogram (shuffle agg). */
object BenchWork {
  import graft.core.BBox
  import graft.engine.SpatialOps

  def positions(spark: SparkSession, rows: Long) = {
    import spark.implicits._
    // arithmetic positions, same hot-spot mix as the image table
    spark.range(rows).select(
      $"id",
      expr(OracleSql.lonSql("id")).as("lon"),
      expr(OracleSql.latSql("id")).as("lat"))
  }

  val boxes = Seq(
    BBox(-0.75, 51.0, 0.25, 52.0), BBox(139.25, 35.25, 140.25, 36.25),
    BBox(-47.0, -24.0, -46.0, -23.0), BBox(76.75, 28.0, 77.75, 29.0),
    BBox(150.75, -34.25, 151.75, -33.25), BBox(10.0, 40.0, 20.0, 50.0),
    BBox(178.0, -45.0, -178.0, 45.0), BBox(-120.0, 30.0, -100.0, 45.0))

  /** Bench-side image_id generation: byte identical to ImageGen.idOf
    * ("img%012d") but via codegen'd concat+lpad instead of format_string —
    * java.util.Formatter allocates enough per row that at 32 threads the
    * GENERATOR's GC pressure, not the engine's derive+encode path, was the
    * scaling bottleneck being measured. Production reads ids from parquet. */
  def benchImageId(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(lit("img"), lpad(id.cast("string"), 12, "0")).as("image_id")

  /** Returns metric name → value (rows/sec or sec). Each stage is the
    * median of `iters` runs; positions are derived in-flight (at 10¹² rows
    * the input scan is the analogous cost — `bytes` stays pruned out). The
    * multi-box join runs ONE scan for all 8 boxes (see
    * SpatialOps.multiBoxQuery). */
  def headline(spark: SparkSession, rows: Long, iters: Int = 3): Seq[(String, Double)] = {
    val pts = positions(spark, rows)
    def medianOf(f: => Unit): Double = {
      val ts = (1 to iters).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      ts.sorted.apply(iters / 2)
    }
    // warmup (plans + codegen)
    SpatialOps.withTile(positions(spark, 100000), "lon", "lat", 30)
      .write.format("noop").mode("overwrite").save()
    SpatialOps.multiBoxQuery(positions(spark, 100000), "lon", "lat",
      boxes.zipWithIndex.map(_.swap), 20).count()
    locally {
      import spark.implicits._
      graft.data.Images.withTile(
        spark.range(100000).select(benchImageId($"id")), 30)
        .write.format("noop").mode("overwrite").save()
    }

    val tTile = medianOf {
      SpatialOps.withTile(pts, "lon", "lat", 30)
        .select("id", "tile").write.format("noop").mode("overwrite").save()
    }
    // the IMAGE-table path: string image_id → FNV/splitmix position
    // derivation (codegen'd derive_lon/derive_lat) → gh_encode. This is what
    // q20-q22 actually run per row; the arithmetic path above is the
    // key-derived-position twin used by the oracle queries.
    val imgIds = {
      import spark.implicits._
      spark.range(rows).select(benchImageId($"id"))
    }
    val tImgTile = medianOf {
      graft.data.Images.withTile(imgIds, 30)
        .select("image_id", "tile").write.format("noop").mode("overwrite").save()
    }
    val tJoin = medianOf {
      SpatialOps.multiBoxQuery(pts, "lon", "lat", boxes.zipWithIndex.map(_.swap), 20).count()
    }
    // histogram runs at 4× rows: after map-side combine its shuffle payload
    // is ≤4096 keys, so at the base row count it is a sub-second job whose
    // stage-barrier FIXED costs (AQE materialization, scheduling) dominate
    // the N→4N ratio; 4× input amortizes them the way minutes-long stages
    // do at production scale. Same input at every parallelism level, so the
    // scaling ratio stays valid. Throughput is normalized by histRows.
    val histRows = rows * 4
    val histPts = positions(spark, histRows)
    val tHist = medianOf {
      SpatialOps.withTile(histPts, "lon", "lat", 12)
        .groupBy("tile").count().write.format("noop").mode("overwrite").save()
    }
    // and without AQE, isolating the barrier cost itself (engine default
    // stays AQE-on — needed for skew joins at 100 TB)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val tHistNoAqe = try medianOf {
      SpatialOps.withTile(histPts, "lon", "lat", 12)
        .groupBy("tile").count().write.format("noop").mode("overwrite").save()
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    Seq(
      "tile_assign_rows_per_sec" -> rows / tTile,
      "image_tile_assign_rows_per_sec" -> rows / tImgTile,
      "box_join_rows_per_sec" -> rows / tJoin, // one scan answers all 8 boxes
      "tile_histogram_rows_per_sec" -> histRows / tHist,
      "tile_histogram_noaqe_rows_per_sec" -> histRows / tHistNoAqe,
      "tile_assign_sec" -> tTile, "image_tile_assign_sec" -> tImgTile,
      "box_join_sec" -> tJoin, "tile_histogram_sec" -> tHist,
      "rows" -> rows.toDouble)
  }

  /** Machine-ceiling calibration: embarrassingly parallel arithmetic with
    * no joins/shuffles — its N→4N efficiency is the VM's frequency-scaling
    * ceiling, against which engine efficiency should be read. */
  def calibration(spark: SparkSession, rows: Long): Double = {
    import org.apache.spark.sql.functions._
    def t(): Double = {
      val t0 = System.nanoTime()
      spark.range(rows).select(sum(expr("sqrt(CAST(id AS DOUBLE)) + sin(CAST(id AS DOUBLE))"))).collect()
      (System.nanoTime() - t0) / 1e9
    }
    t(); val ts = Seq(t(), t(), t()).sorted
    rows / ts(1)
  }
}
