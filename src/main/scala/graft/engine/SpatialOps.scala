package graft.engine

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

import graft.OracleSql
import graft.core.{BBox, GeoMath, Geohash}
import graft.data.IcebergLite
import graft.sql.{CellIndex, functions => gf}

/** Distributed spatial operators — the engine generalization of the
  * reference's single primitive (`GeoHash.box`: covering → KV multi-get,
  * SURVEY.md §4 E2) to Spark joins, plus the BASELINE.json extensions
  * (kNN via cell-ring expansion, skew-aware salted joins).
  *
  * Scale notes (10¹²-row posture):
  *  - box queries broadcast the covering cell set (bounded by the covering
  *    guard) and hash-join on the tile key — no shuffle of the big side
  *    beyond the scan, refine runs codegen'd per row;
  *  - the cell join shuffles both sides by tile; hot cells (planted or
  *    real) are handled by explicit deterministic salting + AQE skew join;
  *  - nothing collects to the driver except covering cell lists (≤ 2^20).
  */
object SpatialOps {

  /** Append deterministic (lon, lat) derived from an integer key column —
    * the engine's stand-in for the image table's posOf(image_id)
    * (FIXTURES.md §1); same SQL text evaluates in the DuckDB oracle. */
  def withDerivedPosition(df: DataFrame, keyCol: String): DataFrame =
    df.withColumn("lon", expr(OracleSql.lonSql(keyCol)))
      .withColumn("lat", expr(OracleSql.latSql(keyCol)))

  /** Tile assignment: the headline op (BASELINE.json metric). */
  def withTile(df: DataFrame, lonCol: String, latCol: String, bits: Int,
               tileCol: String = "tile"): DataFrame =
    df.withColumn(tileCol, gf.gh_encode(col(lonCol), col(latCol), bits))

  /** Box query = covering(box) ⋈ cells, then exact refine — the reference's
    * E2 with an added exact filter (reference is cell-coarse; pass
    * refine=false for row-parity with it). The covering is `index`'s
    * conservative covering at `level` (geohash bits by default), broadcast
    * against the points' cells, so a table bucketed by any index needs no
    * other key column. Handles anti-meridian boxes (minLon > maxLon). */
  def boxQuery(points: DataFrame, lonCol: String, latCol: String,
               box: BBox, level: Int, refine: Boolean = true,
               index: CellIndex = CellIndex.Geohash): DataFrame = {
    val joined = cellJoin(points, lonCol, latCol, index.coverBox(box, level), level, index)
    if (!refine) joined
    else {
      val lonPred =
        if (box.minLon <= box.maxLon) col(lonCol) >= box.minLon && col(lonCol) <= box.maxLon
        else col(lonCol) >= box.minLon || col(lonCol) <= box.maxLon
      joined.where(lonPred && col(latCol) >= box.minLat && col(latCol) <= box.maxLat)
    }
  }

  /** Point-in-polygon query = polygon covering ⋈ cells on `index` at
    * `level`, then the exact ray-cast refine (`st_contains_wkt`). The
    * covering is the polygon's own ([[CellIndex.coverPolygon]]), tighter
    * than its bbox's for L-shaped or sparse polygons. */
  def pipQuery(points: DataFrame, lonCol: String, latCol: String, wkt: String,
               level: Int, index: CellIndex = CellIndex.Geohash): DataFrame =
    cellJoin(points, lonCol, latCol,
        index.coverPolygon(GeoMath.parseWktPolygon(wkt), level), level, index)
      .where(gf.st_contains_wkt(lit(wkt), col(lonCol), col(latCol)))

  /** The points whose `index` cell at `level` is in `cells` (broadcast). */
  private def cellJoin(points: DataFrame, lonCol: String, latCol: String,
                       cells: Array[Long], level: Int, index: CellIndex): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    points.withColumn("__cell", index.cell(col(lonCol), col(latCol), level))
      .join(broadcast(cells.toSeq.toDF("__cell")), "__cell").drop("__cell")
  }

  /** [[boxQuery]] on the Uber-H3 index at resolution `res`. */
  def boxQueryH3(points: DataFrame, lonCol: String, latCol: String,
                 box: BBox, res: Int, refine: Boolean = true): DataFrame =
    boxQuery(points, lonCol, latCol, box, res, refine, CellIndex.H3U)

  /** [[boxQuery]] on the published-layout S2 index at `level`. */
  def boxQueryS2(points: DataFrame, lonCol: String, latCol: String,
                 box: BBox, level: Int, refine: Boolean = true): DataFrame =
    boxQuery(points, lonCol, latCol, box, level, refine, CellIndex.S2U)

  /** Many-box query in ONE scan: the covering cells of every box (tagged
    * with box_id) form one broadcast side; candidates fall out of a single
    * equi-join and the exact refine reads per-box bounds from the joined
    * row. At 10¹² rows this is the only sane shape — per-box scans would
    * multiply the read volume by the box count. A point inside k
    * overlapping boxes yields k rows (one per box_id). */
  def multiBoxQuery(points: DataFrame, lonCol: String, latCol: String,
                    boxes: Seq[(Int, BBox)], bits: Int): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    val cells = boxes.flatMap { case (id, b) =>
      Geohash.covering(b.minLon, b.minLat, b.maxLon, b.maxLat, bits)
        .map(c => (id, c, b.minLon, b.minLat, b.maxLon, b.maxLat))
    }.toDF("box_id", "__cell", "__minLon", "__minLat", "__maxLon", "__maxLat")
    val tiled = withTile(points, lonCol, latCol, bits, "__cell")
    val lon = col(lonCol); val lat = col(latCol)
    val lonPred = (col("__minLon") <= col("__maxLon") && lon >= col("__minLon") && lon <= col("__maxLon")) ||
                  (col("__minLon") > col("__maxLon") && (lon >= col("__minLon") || lon <= col("__maxLon")))
    tiled.join(broadcast(cells), "__cell")
      .where(lonPred && lat >= col("__minLat") && lat <= col("__maxLat"))
      .drop("__cell", "__minLon", "__minLat", "__maxLon", "__maxLat")
  }

  /** Mixed-precision cell join (SURVEY.md §10.4 range join): every FINE-cell
    * row joins the COARSE-cell row whose prefix contains it. The
    * child-to-ancestor range predicate (coarse ≤ fine < coarse+1 in key
    * space) is re-expressed as an EQUI-join on gh_parent(fine, fineBits,
    * coarseBits) — prefix nesting makes them identical — so Catalyst plans a
    * plain hash join instead of needing a custom range-join SparkStrategy.
    * The coarse side is bounded by 2^coarseBits cells, so it is broadcast. */
  def rangeJoinCells(fine: DataFrame, fineTileCol: String, fineBits: Int,
                     coarse: DataFrame, coarseTileCol: String, coarseBits: Int): DataFrame = {
    require(coarseBits >= 1 && coarseBits <= fineBits,
      s"coarseBits $coarseBits !in 1..$fineBits")
    val withAncestor = fine.withColumn(
      coarseTileCol, gf.gh_parent(col(fineTileCol), fineBits, coarseBits))
    withAncestor.join(broadcast(coarse), coarseTileCol)
  }

  /** Points whose cell lies in the 3×3 block around (qLon, qLat) — the
    * reference's neighbor expansion (#3/#9) as a join predicate. */
  def neighborBlockQuery(points: DataFrame, lonCol: String, latCol: String,
                         qLon: Double, qLat: Double, bits: Int): DataFrame = {
    val center = Geohash.encode(qLon, qLat, bits)
    cellJoin(points, lonCol, latCol, Geohash.neighbors(center, bits) :+ center, bits,
      CellIndex.Geohash)
  }

  /** Exact brute-force kNN per query point (squared equirectangular degree
    * metric — trig-free for oracle parity; see GeoMath.sqDistDeg).
    * queries: (qid, qlon, qlat). Output: (qid, rank, point columns). */
  def knnBrute(points: DataFrame, lonCol: String, latCol: String,
               queries: Seq[(Int, Double, Double)], k: Int, tieCol: String): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    val q = queries.toDF("qid", "qlon", "qlat")
    val dist = (col(lonCol) - $"qlon") * (col(lonCol) - $"qlon") +
               (col(latCol) - $"qlat") * (col(latCol) - $"qlat")
    val w = Window.partitionBy($"qid").orderBy(dist.asc, col(tieCol).asc)
    points.crossJoin(broadcast(q))
      .withColumn("rank", row_number().over(w))
      .where($"rank" <= k)
      .drop("qlon", "qlat")
  }

  /** Cell lists longer than this are probed as one unfiltered pass: an
    * IN-list that long is plan bloat (a 65k-cell probe spent about a
    * second before its job ran), and the pass is exact all the same. */
  private val MaxProbeCells = 4096

  /** A probe's top-k rows in rank order, each with its distance as the last
    * column; `sawAll` when the probe read every row (no cell filter). */
  private final case class Probe(rows: Array[Row], schema: StructType, sawAll: Boolean)

  /** Index-agnostic ring-expansion kNN core. Rings grow (in doubling
    * batches) until at least k candidates exist; the ring generator and the
    * ring count that covers the grid come from the index
    * ([[CellIndex.rings]]).
    *
    * A probe collects `orderBy(dist, tieCol).limit(k)` over the candidate
    * cells: one TakeOrderedAndProject job, at most k rows on the driver.
    * Its row count is the candidate count and its last row's distance the
    * k-th distance d. Every true neighbour then lies in the disc of radius
    * √d, so in the box `(qLon ± √d, qLat ± √d)` clipped to the globe (the
    * degree metric does not wrap) and in that box's conservative
    * [[CellIndex.coverBox]]. The answer is the last probe's rows when that
    * covering is a subset of the probed cells, or when the probe saw every
    * row (the rings cover the grid, the cells hold fewer than k rows, or
    * the listed cells outgrew [[MaxProbeCells]] and the probe was
    * unfiltered); otherwise it is one more probe over the covering —
    * unfiltered when the covering overflows [[MaxProbeCells]]. The answer
    * comes back as a local DataFrame with `rank`, so collecting it starts
    * no job.
    *
    * `manifestRows`: per-cell row counts a table records (the indexed
    * variant, from the manifest — zero Spark jobs); the loop counts with
    * them and probes once, after it. The in-plan variant passes None and
    * counts each batch's probe rows; a whole-corpus `count()` for a k-row
    * answer would be a full 100 TB scan, so when expansion stalls below k
    * it re-bounds the target with ONE capped existence probe instead: at
    * most k rows collected (`limit(k)`, a CollectLimit that reads at most
    * k rows per partition and starts with one partition). Unlike
    * `limit(k).count()`, whose generated limit counter gets a fresh name
    * in every plan, it compiles no new class per query.
    * A batch that adds no cell is not the end of the grid (consecutive S2
    * rings can share their cells); it skips its probe. */
  private def knnExpand(spark: SparkSession, lonCol: String, latCol: String,
                        qLon: Double, qLat: Double, k: Int, tieCol: String,
                        index: CellIndex, level: Int,
                        scan: Option[Seq[Long]] => DataFrame,
                        manifestRows: Option[Map[Long, Long]]): DataFrame = {
    require(k >= 1, s"k = $k: a kNN answers k >= 1 neighbours")
    val CellIndex.Rings(ringCells, maxRings) = index.rings(qLon, qLat, level)
    val dist = (col(lonCol) - qLon) * (col(lonCol) - qLon) +
               (col(latCol) - qLat) * (col(latCol) - qLat)
    // the cells a probe must read: the manifest path skips cells that hold
    // no rows, so a sparse table keeps its list short
    def listed(cells: collection.Set[Long]): collection.Set[Long] =
      manifestRows.fold(cells)(m => cells.filter(m.contains))
    // None, or more than MaxProbeCells listed cells: read every row
    def probe(cells: Option[collection.Set[Long]]): Probe = {
      val list = cells.map(listed).filter(_.size <= MaxProbeCells)
      val df = scan(list.map(_.toSeq)).withColumn("__d", dist)
        .orderBy(col("__d").asc, col(tieCol).asc).limit(k)
      Probe(df.collect(), df.schema, list.isEmpty)
    }
    // insertion-ordered SET accumulator: per-ring `Seq ++ distinct` was
    // O(acc) per ring, which turns grid-exhaustion cases into O(rings^3)
    val acc = scala.collection.mutable.LinkedHashSet.empty[Long]
    var r = 0L
    // ring batches DOUBLE between counts, so growth costs O(log rings)
    // probes, not one per ring (the over-expansion is at most one doubling)
    var step = 1L
    var target = manifestRows.fold(k.toLong)(m => math.min(k.toLong, m.values.sum))
    var bounded = manifestRows.isDefined
    var found = 0L
    var last: Probe = null
    while (found < target && r < maxRings && (last == null || !last.sawAll)) {
      val rEnd = math.min(r + step, maxRings)
      val sizeBefore = acc.size
      while (r < rEnd) {
        acc ++= ringCells(r)
        r += 1
      }
      if (acc.size > sizeBefore) {
        val prevFound = found
        found = manifestRows match {
          case Some(m) => acc.iterator.map(m.getOrElse(_, 0L)).sum
          case None => last = probe(Some(acc)); last.rows.length
        }
        if (!bounded && sizeBefore > 0 && found == prevFound && found < target) {
          // expansion stalled below k (an empty first probe is no stall:
          // sparse rows are the common case): if the table really has >= k
          // rows the target is unchanged and this never re-fires; if it
          // has fewer (incl. zero), the loop now exits as soon as every
          // existing row is a candidate instead of walking the grid
          target = math.min(target, scan(None).limit(k).collect().length.toLong)
          bounded = true
        }
      }
      step *= 2
    }
    if (manifestRows.isDefined) last = probe(Some(acc))
    val answer =
      if (last.sawAll || last.rows.length < k || r >= maxRings) last
      else {
        // widened by a rounding margin: the covering must hold every row
        // whose computed distance is <= d
        val kth = last.rows.last
        val reach = math.sqrt(kth.getDouble(kth.length - 1)) * (1 + 1e-9) + 1e-9
        val disc = BBox(math.max(-180.0, qLon - reach), math.max(-90.0, qLat - reach),
                        math.min(180.0, qLon + reach), math.min(90.0, qLat + reach))
        val cover =
          try Some(index.coverBox(disc, level).toSet)
          catch { case _: IllegalArgumentException => None }
        if (cover.exists(listed(_).forall(acc.contains))) last else probe(cover)
      }
    val ranked = answer.rows.iterator.zipWithIndex
      .map { case (row, i) => Row.fromSeq(row.toSeq.init :+ (i + 1)) }.toSeq
    spark.createDataFrame(ranked.asJava,
      StructType(answer.schema.fields.init :+ StructField("rank", IntegerType, nullable = false)))
  }

  /** kNN via cell-ring expansion (BASELINE.json north_star) over an
    * in-plan DataFrame: each probe filters the points whose cell on `index`
    * at `level` (geohash bits by default) is in the probed set — over an
    * IcebergLite table tiled on the same index at a prefix level ≤ `level`,
    * [[graft.sql.DeriveCoveringPrune]] derives `prefix IN (parents)` from
    * that filter, so a probe reads only its partitions. Exact, answered as
    * a local DataFrame with `rank` and `qid` — see [[knnExpand]]. */
  def knnRing(points: DataFrame, lonCol: String, latCol: String,
              qid: Int, qLon: Double, qLat: Double, k: Int, level: Int,
              tieCol: String, index: CellIndex = CellIndex.Geohash): DataFrame = {
    // NO cache: the doubling expansion needs only O(log rings) probes, and
    // each re-scan recomputes a codegen'd encode — far cheaper than
    // materializing the whole input (which a 100 TB table could not afford)
    val cell = index.cell(col(lonCol), col(latCol), level)
    knnExpand(points.sparkSession, lonCol, latCol, qLon, qLat, k, tieCol, index, level,
        cells => cells.fold(points)(cs => points.where(cell.isin(cs: _*))), None)
      .withColumn("qid", lit(qid))
  }

  /** kNN against a PRE-TILED Iceberg-lite table ([[graft.data.IcebergLite
    * .writeTiled]] on any index): rings grow over the prefix cells, and
    * the expansion COUNTS come from the manifest's per-partition row
    * counts — zero Spark jobs. Then one probe collects the top-k rows of
    * the candidate partitions, and the answer is those rows when the
    * covering of the k-th-distance disc at the prefix level lies inside
    * them; otherwise one more probe reads just the covering's partitions.
    * At 10¹² rows each probe touches a handful of partitions instead of
    * the table. The layout is the [[graft.data.IcebergLite.Tiling]] the
    * current snapshot's manifest records; a table that records none throws
    * IllegalArgumentException. Exact, answered as a local DataFrame with
    * `rank` — see [[knnExpand]]; a table with no rows answers with an
    * empty frame of its recorded schema plus `rank`. */
  def knnIndexed(spark: SparkSession, table: String,
                 qLon: Double, qLat: Double, k: Int, tieCol: String): DataFrame =
    knnTiled(spark, table, None, qLon, qLat, k, tieCol)

  /** [[knnIndexed]] with the caller naming the layout — geohash here, H3
    * and S2 below. The named layout must be the one the manifest records:
    * a mismatched index or prefix would match no partition and answer with
    * nothing, and other lon/lat columns would rank by columns the tiles
    * were not built from, so either throws IllegalArgumentException. */
  def knnIndexed(spark: SparkSession, table: String, prefixCol: String, prefixBits: Int,
                 lonCol: String, latCol: String,
                 qLon: Double, qLat: Double, k: Int, tieCol: String): DataFrame =
    knnTiled(spark, table,
      Some((IcebergLite.Tiling(CellIndex.Geohash, prefixBits, lonCol, latCol), prefixCol)),
      qLon, qLat, k, tieCol)

  def knnIndexedH3(spark: SparkSession, table: String, prefixCol: String, prefixRes: Int,
                   lonCol: String, latCol: String,
                   qLon: Double, qLat: Double, k: Int, tieCol: String): DataFrame =
    knnTiled(spark, table,
      Some((IcebergLite.Tiling(CellIndex.H3U, prefixRes, lonCol, latCol), prefixCol)),
      qLon, qLat, k, tieCol)

  def knnIndexedS2(spark: SparkSession, table: String, prefixCol: String, prefixLevel: Int,
                   lonCol: String, latCol: String,
                   qLon: Double, qLat: Double, k: Int, tieCol: String): DataFrame =
    knnTiled(spark, table,
      Some((IcebergLite.Tiling(CellIndex.S2U, prefixLevel, lonCol, latCol), prefixCol)),
      qLon, qLat, k, tieCol)

  /** The indexed kNN over the current snapshot of `table`, checked against
    * the caller's `named` (tiling, prefix column) when given. Per-cell row
    * counts (from the manifest, no Spark job) and every prefix-pruned scan
    * come from that one snapshot, so a commit landing mid-query cannot mix
    * two snapshots into one exact answer. */
  private def knnTiled(spark: SparkSession, table: String,
                       named: Option[(IcebergLite.Tiling, String)],
                       qLon: Double, qLat: Double, k: Int, tieCol: String): DataFrame = {
    val snap = IcebergLite.current(spark, table)
    val m = snap.manifest
    val t = snap.tiling.getOrElse(throw new IllegalArgumentException(
      s"$table records no tiling of a known index: not a tiled table"))
    named.foreach { case (n, prefixCol) =>
      require(n == t && prefixCol == m.partitionCol,
        s"$table is tiled as $t on ${m.partitionCol}, not $n on $prefixCol")
    }
    // sum across snapshots: appended partitions have one entry per snapshot
    val rows = IcebergLite.rowsByPartition(m)
      .flatMap { case (p, n) => p.toLongOption.map(_ -> n) }
    knnExpand(spark, t.lonCol, t.latCol, qLon, qLat, k, tieCol, t.index, t.prefixLevel,
      cells => cells.fold(snap.df)(cs => snap.df.where(col(m.partitionCol).isin(cs: _*))),
      Some(rows))
  }

  /** Dense raster of per-cell counts over a box — the engine equivalent of
    * the reference's `converter.to_xarray` (SURVEY.md §3.2 #22: cell grid →
    * dense row/col array). The aggregation is distributed (broadcast
    * semi-join prunes the scan to the box, then partial+final hash agg);
    * the dense lattice itself is a bounded viz artifact (maxCells-guarded),
    * built like a covering broadcast side. Empty cells appear with n=0.
    * Output: (gi, gj, tile, n) — gi/gj are 0-based row(lat)/col(lon)
    * offsets from the box's SW corner. */
  def toGrid(points: DataFrame, lonCol: String, latCol: String,
             box: BBox, bits: Int): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    val (c0, cx, cy) = Geohash.gridProperties(box.minLon, box.minLat, box.maxLon, box.maxLat, bits)
    require(cx * cy <= (1 << 20), s"dense grid of ${cx * cy} cells exceeds the 2^20 guard")
    val x0 = Geohash.cellX(c0, bits); val y0 = Geohash.cellY(c0, bits)
    val nx = 1L << Geohash.lonBitsOf(bits)
    val grid = (0L until cx * cy).map { g =>
      val gj = g % cx; val gi = g / cx
      (gi, gj, Geohash.fromCellXY((x0 + gj) % nx, y0 + gi, bits))
    }.toDF("gi", "gj", "tile")
    val counts = withTile(points, lonCol, latCol, bits)
      .join(broadcast(grid.select("tile")), "tile") // prune scan to the box
      .groupBy("tile").agg(count(lit(1)).as("n"))
    // counts is bounded by the (guarded) grid size → broadcast it so the
    // densify join never sort-merges
    grid.join(broadcast(counts), Seq("tile"), "left")
      .na.fill(0L, Seq("n"))
      .select("gi", "gj", "tile", "n")
  }

  /** Large-large equi-join on tile keys with explicit deterministic salting
    * for hot cells (SURVEY.md §5): left rows get salt = hash(saltKey) % s,
    * right rows are replicated ×s. Results are row-identical to the unsalted
    * join at any parallelism. */
  def saltedCellJoin(left: DataFrame, right: DataFrame, tileCol: String,
                     saltKeyCol: String, salts: Int): DataFrame = {
    val l = left.withColumn("__salt", pmod(hash(col(saltKeyCol)), lit(salts)))
    val r = right.withColumn("__salt", explode(array((0 until salts).map(lit): _*)))
    l.join(r, Seq(tileCol, "__salt")).drop("__salt")
  }
}
