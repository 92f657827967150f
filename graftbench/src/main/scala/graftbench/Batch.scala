package graftbench

import java.nio.file.Path
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.OracleSql
import graft.core.{BBox, Geohash, H3U, S2U}
import graft.engine.{SpatialOps, StreamOps, TextOps}
import graft.sql.{functions => gf}

/** tile_scan: the bulk tiling throughput of BASELINE.json. A round is
  * arithmetic geohash tile assignment, image-id tile assignment, H3U and
  * S2U cell assignment, an 8-box single-scan join and a per-tile
  * histogram, each over `rows` positions generated in flight from a seeded
  * key range (the FIXTURES §1 mix of OracleSql), so data volume dominates
  * the fixed per-query cost. An odd number of kinds keeps the median
  * inside one kind's latencies rather than between two. */
final class TileScan(spark: SparkSession, seed: Long, smoke: Boolean) extends Workload {
  import spark.implicits._
  val rows: Long = if (smoke) 20000L else 1000000L
  private val rnd = new SplittableRandom(seed)
  // Keys stay below 10^12: the position SQL multiplies a key by up to 9973,
  // which overflows a BIGINT (an error under ANSI mode) above ~9.2 * 10^14,
  // and the image id pads a key to 12 digits, truncating longer ones.
  private val base = Math.floorMod(seed, 9000L) * 100000000L
  private val boxes = mutable.ArrayBuffer.empty[BBox]

  private def keys(i: Int, n: Long): DataFrame = spark.range(base + i * rows, base + i * rows + n).toDF()
  private def positions(i: Int, n: Long): DataFrame =
    keys(i, n).select($"id", expr(OracleSql.lonSql("id")).as("lon"), expr(OracleSql.latSql("id")).as("lat"))
  private def imageIds(i: Int, n: Long): DataFrame = keys(i, n).select(graft.BenchWork.benchImageId($"id"))

  def stage(dir: Path): Unit = ()

  val roundLength = 5
  // latency and CPU per operation keep falling for about three rounds while
  // the JIT compiles the scan loops
  override val warmupRounds = 3

  /** Recompute the tile of a few rows with the core codec. */
  private def tilesMatch(df: DataFrame): Option[String] = {
    val sample = df.select("lon", "lat", "tile").limit(64).collect()
    val bad = sample.count(r => Geohash.encode(r.getDouble(0), r.getDouble(1), 30) != r.getLong(2))
    if (sample.isEmpty) Some("no rows") else if (bad > 0) Some(s"$bad of ${sample.length} tiles differ") else None
  }

  def op(i: Int): Op = i % roundLength match {
    case 0 =>
      Op("tile_assign", rows, () => {
        L.noop(L.engine("build")(SpatialOps.withTile(positions(i, rows), "lon", "lat", 30)).select("id", "tile"))
        () => tilesMatch(SpatialOps.withTile(positions(i, 64), "lon", "lat", 30))
      })
    case 1 =>
      Op("image_tile", rows, () => {
        L.noop(L.engine("build")(graft.data.Images.withTile(imageIds(i, rows), 30)).select("image_id", "tile"))
        () => tilesMatch(graft.data.Images.withTile(imageIds(i, 64), 30))
      })
    case 2 =>
      Op("cell_assign", rows, () => {
        L.noop(L.engine("build")(positions(i, rows)
          .select($"id", gf.h3u_cell($"lon", $"lat", 7).as("h3"), gf.s2u_cell($"lon", $"lat", 12).as("s2"))))
        () => {
          val sample = positions(i, 64).select($"lon", $"lat", gf.h3u_cell($"lon", $"lat", 7), gf.s2u_cell($"lon", $"lat", 12)).collect()
          val bad = sample.count { r =>
            H3U.latLngToCell(r.getDouble(1), r.getDouble(0), 7) != r.getLong(2) ||
              S2U.lonLatToCellAt(r.getDouble(0), r.getDouble(1), 12) != r.getLong(3)
          }
          if (bad > 0) Some(s"$bad of ${sample.length} H3U/S2U cells differ") else None
        }
      })
    case 3 =>
      val bs = (0 until 8).map { j => val b = Gen.box(rnd, 0.5, 20.0); boxes += b; j -> b }
      Op("multibox", rows, () => {
        val got = L.count(L.engine("build")(SpatialOps.multiBoxQuery(positions(i, rows), "lon", "lat", bs, 20)))
        () => {
          val q = new Queries(spark)
          val want = positions(i, rows)
            .select(bs.map { case (_, b) => sum(when(q.boxPred(b), 1L).otherwise(0L)) }.reduce(_ + _))
            .head().getLong(0)
          Op.expect("multibox rows", got, want)
        }
      })
    case _ =>
      Op("histogram", rows, () => {
        val counts = L.collect(L.engine("build")(
          SpatialOps.withTile(positions(i, rows), "lon", "lat", 12).groupBy("tile").count()))
        () => Op.expect("histogram total", counts.map(_.getLong(1)).sum, rows)
      })
  }

  def coreInputs: CoreBench.Inputs = {
    val pts = positions(0, 100000).collect()
    CoreBench.Inputs(pts.map(_.getDouble(1)), pts.map(_.getDouble(2)), boxes.toSeq, Nil)
  }
}

/** dedup_pipeline: one pass is minhashLshPairs → dedupClusters →
  * dedupKeepRepresentatives over a seeded corpus with planted near and
  * exact duplicates, plus streamedDedup and streamedNearDupCandidates
  * over the same corpus file. */
final class DedupPipeline(spark: SparkSession, seed: Long, smoke: Boolean) extends Workload {
  import spark.implicits._
  private val n = if (smoke) 80 else 1500
  private val corpus = Gen.corpus(new SplittableRandom(seed), n, n / 5, n / 20)
  private var path = ""
  private def docs: DataFrame = spark.read.parquet(path)
  private var pairs: Seq[(Long, Long)] = Nil

  def stage(dir: Path): Unit = {
    path = dir.resolve("docs.parquet").toString
    spark.sparkContext.parallelize(corpus.ids.indices.map(i => (corpus.ids(i), corpus.texts(i))), 1)
      .toDF("doc_id", "text").write.parquet(path)
  }

  val roundLength = 5
  // latency and CPU per operation keep falling for about three rounds while
  // the JIT compiles the scan loops
  override val warmupRounds = 3

  private def pairsDf: DataFrame = pairs.toDF("doc_a", "doc_b")
  private def norm(a: Long, b: Long) = (math.min(a, b), math.max(a, b))

  /** Connected components over `pairs` with min-id representatives. */
  private def components(): Map[Long, Long] = {
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElseUpdate(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { parent(math.max(ra, rb)) = math.min(ra, rb) }
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  def op(i: Int): Op = i % roundLength match {
    case 0 =>
      Op("lsh_pairs", corpus.ids.length, () => {
        val got = L.collect(L.engine("build")(TextOps.minhashLshPairs(docs, "doc_id", "text")).select("doc_a", "doc_b"))
        pairs = got.map(r => norm(r.getLong(0), r.getLong(1))).toSeq.distinct.sorted
        () => if (pairs.isEmpty) Some("no near-duplicate pairs found in a corpus with planted copies") else None
      })
    case 1 =>
      Op("clusters", pairs.size, () => {
        val got = L.collect(L.engine("build")(TextOps.dedupClusters(pairsDf)))
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        () => Op.expect("clusters", got, components())
      })
    case 2 =>
      Op("keep", corpus.ids.length, () => {
        val got = L.longs(L.collect(L.engine("build")(
          TextOps.dedupKeepRepresentatives(docs, "doc_id", pairsDf)).select("doc_id")))
        () => {
          val rep = components()
          Op.expect("kept docs", got.toSeq, corpus.ids.filter(d => rep.getOrElse(d, d) == d).toSeq.sorted)
        }
      })
    case 3 =>
      Op("stream_dedup", corpus.ids.length, () => {
        val got = L.longs(L.collect(L.engine("build")(
          StreamOps.streamedDedup(spark, path, "doc_id", "text")).select("doc_id")))
        () => {
          // first-seen per canonical (sorted distinct) token set
          val want = corpus.ids.indices.groupBy(j => corpus.texts(j).split(" ").distinct.sorted.mkString(" "))
            .values.map(js => js.map(corpus.ids).min).toSeq.sorted
          Op.expect("stream dedup survivors", got.toSeq, want)
        }
      })
    case _ =>
      Op("stream_neardup", corpus.ids.length, () => {
        val cands = L.engine("build")(StreamOps.streamedNearDupCandidates(spark, path, "doc_id", "text"))
        val got = L.collect(cands.select("doc_a", "doc_b"))
        () => {
          val verified = TextOps.ngramJaccard(docs, "doc_id", "text",
              got.toSeq.map(r => (r.getLong(0), r.getLong(1))).toDF("doc_a", "doc_b"), prefilterDocs = true)
            .where(col("jaccard") >= TextOps.JaccardThreshold).select("doc_a", "doc_b").collect()
            .map(r => norm(r.getLong(0), r.getLong(1))).toSeq.distinct.sorted
          Op.expect("verified streamed candidates vs batch pairs", verified, pairs)
        }
      })
  }

  def coreInputs = CoreBench.Inputs(Array.empty, Array.empty, Nil, Nil)
}
