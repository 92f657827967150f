package graft.sql

import java.util.concurrent.{Callable, Executors, TimeUnit}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Divide, Expression, IsNotNull, Literal, Remainder}
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.CompileCount
import graft.core.{BBox, Geohash}
import graft.data.IcebergLite
import graft.engine.SpatialOps
import graft.sql.{functions => gf}

/** Literal-independent codegen ([[ParamLiterals]]): one compiled class
  * serves queries of one shape with different literals, and answers each
  * with its own; the literals it must leave inline stay inline. Also the
  * inferred `isnotnull` of a cell function ([[KernelNotNull]]). */
class ParamLiteralsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSpark.session("local[4]", appName = "param-literals-spec")
  import spark.implicits._

  /** 1500 keys at their derived positions (sf0.01's customers), tiled on
    * geohash. */
  private lazy val (rows, table) = {
    val pts = SpatialOps.withDerivedPosition(spark.range(1, 1501).toDF("c_custkey"), "c_custkey")
    val t = s"${java.nio.file.Files.createTempDirectory("param_literals")}/t"
    IcebergLite.writeTiled(pts, t, "lon", "lat", 30, 4)
    val all = pts.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    (all, IcebergLite.read(spark, t))
  }

  private def boxPred(b: BBox): Column = {
    val lon = $"lon"; val lat = $"lat"
    (if (b.minLon <= b.maxLon) lon >= b.minLon && lon <= b.maxLon else lon >= b.minLon || lon <= b.maxLon) &&
      lat >= b.minLat && lat <= b.maxLat
  }
  private def inBox(b: BBox)(lon: Double, lat: Double): Boolean =
    (if (b.minLon <= b.maxLon) lon >= b.minLon && lon <= b.maxLon else lon >= b.minLon || lon <= b.maxLon) &&
      lat >= b.minLat && lat <= b.maxLat

  private def keys(df: DataFrame): Seq[Long] = df.select("c_custkey").as[Long].collect().toSeq.sorted
  private def brute(keep: (Double, Double) => Boolean): Seq[Long] =
    rows.collect { case (k, lon, lat) if keep(lon, lat) => k }.toSeq.sorted

  private def executed(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }
  private def exprs(p: SparkPlan): Seq[Expression] =
    p.collect { case f: FilterExec => Seq(f.condition); case pr: ProjectExec => pr.projectList }.flatten

  test("one class serves boxes A, B and A again, each answered exactly, anti-meridian boxes too") {
    val a = BBox(-2.0, 50.0, 3.0, 55.0)
    val b = BBox(130.0, 30.0, 145.0, 40.0)
    Seq((a, b), (BBox(170.0, -40.0, -170.0, 40.0), BBox(175.5, -10.0, -160.25, 60.0))).foreach { case (x, y) =>
      assert(keys(table.where(boxPred(x))) == brute(inBox(x)))
      var again: Seq[Long] = Nil
      val n = CompileCount.of {
        assert(keys(table.where(boxPred(y))) == brute(inBox(y)))
        again = keys(table.where(boxPred(x)))
      }
      assert(again == brute(inBox(x)) && again.nonEmpty)
      assert(n == 0, s"$x then $y: $n compiles")
    }
  }

  test("cell lists: an IN of at most 10 cells and an InSet of more share a class per shape and answer exactly") {
    val cell = gf.gh_encode($"lon", $"lat", 20)
    def cellsNear(lon: Double, lat: Double, n: Int): Seq[Long] =
      rows.map { case (_, x, y) => Geohash.encode(x, y, 20) }.distinct
        .sortBy(c => { val (x, y) = Geohash.decodeCenter(c, 20); (x - lon) * (x - lon) + (y - lat) * (y - lat) })
        .take(n).toSeq
    Seq(5, 40).foreach { n =>
      val lists = Seq(cellsNear(0.0, 51.5, n), cellsNear(139.7, 35.7, n), cellsNear(-46.6, -23.5, n))
      def run(cs: Seq[Long]) = {
        val want = brute((x, y) => cs.contains(Geohash.encode(x, y, 20)))
        assert(keys(table.where(cell.isin(cs: _*))) == want && want.nonEmpty, s"$n cells")
      }
      run(lists.head)
      val c = CompileCount.of(lists.tail.foreach(run))
      assert(c == 0, s"$n cells: $c compiles")
    }
  }

  test("two threads with different boxes on one session answer as serial runs do") {
    val boxes = Seq(BBox(-2.0, 50.0, 3.0, 55.0), BBox(130.0, 30.0, 145.0, 40.0),
      BBox(-50.0, -30.0, -40.0, -20.0), BBox(170.0, -40.0, -170.0, 40.0))
    val serial = boxes.map(b => keys(table.where(boxPred(b))))
    val pool = Executors.newFixedThreadPool(2)
    try {
      val futures = (0 until 8).map { i =>
        pool.submit(new Callable[(Int, Seq[Long])] {
          def call(): (Int, Seq[Long]) = (i % 4, keys(table.where(boxPred(boxes(i % 4)))))
        })
      }
      futures.map(_.get(120, TimeUnit.SECONDS)).foreach { case (j, got) => assert(got == serial(j), boxes(j)) }
    } finally pool.shutdown()
  }

  test("swapped literals print as literals, and integral moduli, levels and divisors stay inline") {
    val q = table.where(boxPred(BBox(-2.0, 50.0, 3.0, 55.0)))
      .withColumn("d", ($"lon" - 1.25) * ($"lon" - 1.25) / 2.0)
    val plan = executed(q)
    assert(exprs(plan).exists(_.exists(_.isInstanceOf[ParamLiteral])), plan)
    Seq("ParamLiteral", "ParamInSet").foreach(s => assert(!plan.toString.contains(s), plan))
    assert(plan.toString.contains(">= -2.0") && plan.toString.contains("- 1.25"), plan)
    // the divisor stays a literal
    assert(exprs(plan).exists(_.exists { case d: Divide => d.right == Literal(2.0); case _ => false }), plan)
    // the rule is idempotent
    assert(ParamLiterals(plan) == plan)

    // tile_scan's shape: positions derived in flight, then tiled
    val scan = SpatialOps.withTile(SpatialOps.withDerivedPosition(spark.range(1000).toDF("k"), "k"),
      "lon", "lat", 30)
    val sp = executed(scan)
    scan.collect()
    val moduli = exprs(sp).flatMap(_.collect { case r: Remainder => r.right })
    assert(moduli.nonEmpty && moduli.forall(_.isInstanceOf[Literal]), moduli)
    assert(moduli.exists(_ == Literal(36000L)), moduli)
    assert(exprs(sp).exists(_.exists(CellIndex.Geohash.cellArgs(_).isDefined)), sp)
  }

  test("ranges of one length share a class and keep their ids, partitions and explain text") {
    /** (partition, id) pairs of `spark.range(start, end, step, splits)` and
      * the ids Spark's range split puts in each partition. */
    def parts(start: Long, end: Long, step: Long, splits: Int) =
      spark.range(start, end, step, splits).select(spark_partition_id(), $"id").as[(Int, Long)].collect().toSeq
    def want(start: Long, end: Long, step: Long, splits: Int) = {
      val ids = start until end by step
      (0 until splits).flatMap { i =>
        ids.slice((BigInt(i) * ids.size / splits).toInt, (BigInt(i + 1) * ids.size / splits).toInt).map(i -> _)
      }
    }
    val cases = Seq((1000L, 2000L, 1L, 2), (-7L, 50L, 3L, 4), (40L, -13L, -2L, 3), (5L, 5L, 1L, 2),
      (Long.MaxValue - 10, Long.MaxValue, 3L, 2))
    Seq("true", "false").foreach { wholeStage =>
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      try cases.foreach { case (a, b, st, sl) => assert(parts(a, b, st, sl) == want(a, b, st, sl), (a, b, st, sl, wholeStage)) }
      finally spark.conf.unset("spark.sql.codegen.wholeStage")
    }
    def sumOf(start: Long) = spark.range(start, start + 5000, 1, 2).selectExpr("sum(id * 3) AS s").as[Long].head()
    def expect(start: Long) = (start until start + 5000).map(_ * 3).sum
    assert(sumOf(1000L) == expect(1000L))
    var got: Seq[Long] = Nil
    val n = CompileCount.of { got = Seq(7000L, -2500L, 1000L).map(sumOf) }
    assert(got == Seq(7000L, -2500L, 1000L).map(expect))
    assert(n == 0, s"$n compiles")

    val q = spark.range(1000, 6000, 1, 2).selectExpr("id * 3")
    q.collect()
    val plan = executed(q)
    assert(plan.collectFirst { case r: ParamRangeExec => r.metrics("numOutputRows").value } == Some(5000L), plan)
    assert(plan.toString.contains("Range (1000, 6000, step=1, splits=2)") && !plan.toString.contains("ParamRange"), plan)
    assert(ParamLiterals(plan) == plan)
    // a range from 0 is left as it is
    assert(executed(spark.range(0, 10).toDF()).collectFirst { case r: ParamRangeExec => r }.isEmpty)
  }

  test("KernelNotNull: no inferred isnotnull of a cell function, and the join keeps its rows") {
    // stored, so the optimizer cannot fold the plan into a local relation
    val dir = s"${java.nio.file.Files.createTempDirectory("kernel_not_null")}/pts"
    Seq((1L, Some(0.5), Some(51.5)), (2L, Some(Double.NaN), Some(10.0)), (3L, Some(139.7), Some(35.7)),
        (4L, Some(0.5), Some(Double.NaN)), (5L, None, Some(1.0)))
      .toDF("id", "lon", "lat").write.parquet(dir)
    val pts = spark.read.parquet(dir)
    val cells = Seq(Geohash.encode(0.5, 51.5, 20), Geohash.encode(139.7, 35.7, 20)).toDF("cell")
    val joined = pts.withColumn("cell", gf.gh_encode($"lon", $"lat", 20)).join(cells, "cell")
    val optimized = joined.queryExecution.optimizedPlan
    val notNullCalls = optimized.flatMap(_.expressions).flatMap(_.collect {
      case IsNotNull(k: KernelCall) => k
    })
    assert(notNullCalls.isEmpty, optimized)
    assert(optimized.toString.contains("isnan(lon"), optimized)
    assert(joined.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    // a cell of a cell: both calls become coordinate tests
    val parents = pts.withColumn("p", gf.gh_parent(gf.gh_encode($"lon", $"lat", 20), 20, 10))
      .groupBy("p").count()
    val op = parents.join(Seq(Geohash.encode(0.5, 51.5, 10)).toDF("p"), "p").queryExecution.optimizedPlan
    assert(op.flatMap(_.expressions).forall(_.collectFirst { case IsNotNull(_: KernelCall) => 1 }.isEmpty), op)
  }
}
