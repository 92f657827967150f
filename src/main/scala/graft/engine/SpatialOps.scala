package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

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
    * The coarse side is bounded by 2^coarseBits cells; broadcast it unless
    * the caller says otherwise. */
  def rangeJoinCells(fine: DataFrame, fineTileCol: String, fineBits: Int,
                     coarse: DataFrame, coarseTileCol: String, coarseBits: Int,
                     broadcastCoarse: Boolean = true): DataFrame = {
    require(coarseBits >= 1 && coarseBits <= fineBits,
      s"coarseBits $coarseBits !in 1..$fineBits")
    val withAncestor = fine.withColumn(
      coarseTileCol, gf.gh_parent(col(fineTileCol), fineBits, coarseBits))
    withAncestor.join(if (broadcastCoarse) broadcast(coarse) else coarse, coarseTileCol)
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

  /** Index-agnostic ring-expansion kNN core: grow rings until ≥k candidates
    * exist, extend to every ring intersecting the k-th-distance disc
    * (ring × cellMinDeg ≥ d guarantees coverage), exact top-k. The ring
    * generator, the per-ring minimum cell dimension (in the degree metric)
    * and the ring count that covers the grid come from the index
    * ([[CellIndex.rings]]).
    *
    * `knownRows`: a FREE total-row bound when the index has one (the
    * indexed variants sum the manifest's per-partition counts — zero Spark
    * jobs). The in-plan variants pass None — a whole-corpus `count()` for
    * a k-row answer would be a full 100 TB scan, so they rely on lattice
    * exhaustion instead: when a doubling batch of rings adds NO new cells,
    * the accumulated set has closed over the whole (wrapped/clipped) grid
    * — both ring generators are monotone closures (geohash rings extend a
    * contiguous wrapped column/row range; H3 disks are neighbor-closure
    * fixpoints), so "no new cells" can only mean full coverage, and every
    * existing row is already a candidate. */
  private def knnExpand(spark: SparkSession,
                        lonCol: String, latCol: String,
                        qLon: Double, qLat: Double, k: Int, tieCol: String,
                        rings: CellIndex.Rings,
                        scanCells: Seq[Long] => DataFrame,
                        countCells: Seq[Long] => Long,
                        probeRows: () => Long,
                        knownRows: Option[Long]): DataFrame = {
    import spark.implicits._
    val CellIndex.Rings(ringCells, cellMin, maxRings) = rings
    var r = 0L
    // insertion-ordered SET accumulator: per-ring `Seq ++ distinct` was
    // O(acc) per ring, which turns grid-exhaustion cases into O(rings^3)
    val acc = scala.collection.mutable.LinkedHashSet.empty[Long]
    var found = 0L
    // stop as soon as every existing row is found (k may exceed the table —
    // without this bound an empty table would expand ring-by-ring to the
    // whole grid, one count job per ring). knownRows bounds it for FREE on
    // the indexed variants; the in-plan variants start unbounded and
    // re-bound via probeRows (<= k rows read) only if expansion stalls.
    var target = knownRows.map(t => math.min(k.toLong, t)).getOrElse(k.toLong)
    var probed = knownRows.isDefined
    // ring batches DOUBLE between counts: for the in-plan variants each
    // count is a Spark job over the candidate scan, so growth must cost
    // O(log rings) jobs, not one job per ring (the over-expansion is at
    // most one doubling — extra cells only widen the exact final scan)
    var step = 1L
    var exhausted = false
    val dist = (col(lonCol) - qLon) * (col(lonCol) - qLon) +
               (col(latCol) - qLat) * (col(latCol) - qLat)
    // FUSED probe for the in-plan variants: candidate count (capped at k —
    // all the loop compares against) AND the running k-th distance from ONE
    // TakeOrdered job per expansion batch, so the loop's exit knowledge
    // already contains the disc radius and the old standalone k-th-distance
    // job disappears (guide §1.2: fewer passes). The indexed variants keep
    // their zero-job manifest counts and pay the one k-th job at the end.
    var kthD: Option[Double] = None
    def fusedProbe(cells: Seq[Long]): Long = {
      val row = scanCells(cells).select(dist.as("d")).orderBy($"d".asc).limit(k)
        .agg(count(lit(1)), max($"d")).head()
      kthD = if (row.isNullAt(1)) None else Some(row.getDouble(1))
      row.getLong(0)
    }
    while (found < target && r < maxRings && !exhausted) {
      val rEnd = math.min(r + step, maxRings)
      val sizeBefore = acc.size
      while (r < rEnd) {
        acc ++= ringCells(r)
        r += 1
      }
      if (acc.size == sizeBefore) exhausted = true // grid closed over itself
      else {
        val prevFound = found
        found = if (knownRows.isDefined) countCells(acc.toSeq) else fusedProbe(acc.toSeq)
        if (!probed && found == prevFound && found < target) {
          // expansion stalled below k: re-bound the target with ONE capped
          // existence probe (LocalLimit reads at most k rows per partition
          // and stops - never a whole-corpus count). If the table really
          // has >= k rows the target is unchanged and this never re-fires;
          // if it has fewer (incl. zero), the loop now exits as soon as
          // every existing row is covered instead of walking the grid.
          target = math.min(target, probeRows())
          probed = true
        }
      }
      step *= 2
    }
    if (knownRows.isDefined) {
      val kthRow = scanCells(acc.toSeq).select(dist.as("d")).orderBy($"d".asc).limit(k)
        .agg(max($"d")).head()
      kthD = if (kthRow.isNullAt(0)) None else Some(kthRow.getDouble(0))
    }
    // no k-th distance = no candidate rows at all (empty table / k > rows):
    // nothing more to find, skip the disc-coverage extension
    val needRings = kthD match {
      case None => r - 1
      case Some(d) => math.ceil(math.sqrt(d) / cellMin).toLong + 1
    }
    while (r <= needRings && r < maxRings) {
      acc ++= ringCells(r); r += 1
    }
    // top-k as orderBy.limit(k) → TakeOrderedAndProject: a distributed
    // bounded heap per partition, NOT a single-partition window sort over
    // the full candidate scan (ring 0 of a hot-spot cell can hold millions
    // of rows at scale). The rank window then runs over ≤k survivors.
    val topK = scanCells(acc.toSeq)
      .orderBy(dist.asc, col(tieCol).asc).limit(k)
    val w = Window.partitionBy(lit(1)).orderBy(dist.asc, col(tieCol).asc)
    topK.withColumn("rank", row_number().over(w))
  }

  /** kNN via cell-ring expansion (BASELINE.json north_star) over an
    * in-plan DataFrame: candidates come from a broadcast join of the ring
    * cells against the points' cells on `index` at `level` (geohash bits
    * by default). Exact — see [[knnExpand]]. */
  def knnRing(points: DataFrame, lonCol: String, latCol: String,
              qid: Int, qLon: Double, qLat: Double, k: Int, level: Int,
              tieCol: String, index: CellIndex = CellIndex.Geohash): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    // NO cache: the doubling expansion needs only O(log rings) count jobs,
    // and each re-scan recomputes a codegen'd encode — far cheaper than
    // materializing the whole input (which a 100 TB table could not afford)
    val keyed = points.withColumn("__cell", index.cell(col(lonCol), col(latCol), level))
    def scan(cells: Seq[Long]): DataFrame =
      keyed.join(broadcast(cells.toDF("__cell")), "__cell")
    knnExpand(spark, lonCol, latCol, qLon, qLat, k, tieCol, index.rings(qLon, qLat, level),
        scan, cells => scan(cells).count(), () => points.limit(k).count(), None)
      .withColumn("qid", lit(qid))
      .drop("__cell")
  }

  /** kNN against a PRE-TILED Iceberg-lite table ([[graft.data.IcebergLite
    * .writeTiled]] on any index): each expansion step reads ONLY the
    * partitions holding candidate cells (partition pruning on the prefix
    * column), and the expansion COUNTS come from the manifest's
    * per-partition row counts — zero Spark jobs until the final scan. At
    * 10¹² rows each step touches a handful of partitions instead of the
    * table. The index, prefix column, prefix level and lon/lat columns are
    * the ones the current snapshot's manifest records. Exact — see
    * [[knnExpand]]. */
  def knnIndexed(spark: SparkSession, table: String,
                 qLon: Double, qLat: Double, k: Int, tieCol: String): DataFrame = {
    val t = new PinnedTable(spark, table)
    def recorded(key: String): String = t.manifest.properties.getOrElse(key,
      throw new IllegalArgumentException(s"$table records no $key: not a tiled table"))
    t.knn(t.index.getOrElse(throw new IllegalArgumentException(s"$table records an unknown index")),
      recorded(IcebergLite.PropPrefixBits).toInt,
      recorded(IcebergLite.PropLonCol), recorded(IcebergLite.PropLatCol), qLon, qLat, k, tieCol)
  }

  /** [[knnIndexed]] with the caller naming the layout — geohash here, H3
    * and S2 below; see [[knnIndexedAs]]. */
  def knnIndexed(spark: SparkSession, table: String, prefixCol: String, prefixBits: Int,
                 lonCol: String, latCol: String,
                 qLon: Double, qLat: Double, k: Int, tieCol: String): DataFrame =
    knnIndexedAs(CellIndex.Geohash, spark, table, prefixCol, prefixBits, lonCol, latCol,
      qLon, qLat, k, tieCol)

  def knnIndexedH3(spark: SparkSession, table: String, prefixCol: String, prefixRes: Int,
                   lonCol: String, latCol: String,
                   qLon: Double, qLat: Double, k: Int, tieCol: String): DataFrame =
    knnIndexedAs(CellIndex.H3U, spark, table, prefixCol, prefixRes, lonCol, latCol,
      qLon, qLat, k, tieCol)

  def knnIndexedS2(spark: SparkSession, table: String, prefixCol: String, prefixLevel: Int,
                   lonCol: String, latCol: String,
                   qLon: Double, qLat: Double, k: Int, tieCol: String): DataFrame =
    knnIndexedAs(CellIndex.S2U, spark, table, prefixCol, prefixLevel, lonCol, latCol,
      qLon, qLat, k, tieCol)

  /** The named-layout kNNs: the layout a caller names must be the one the
    * manifest records — a mismatched index or prefix would match no
    * partition and answer with nothing instead of failing. A manifest that
    * records no prefix level (a table written by plain
    * [[graft.data.IcebergLite.write]]) takes the caller's. */
  private def knnIndexedAs(index: CellIndex, spark: SparkSession, table: String,
                           prefixCol: String, level: Int, lonCol: String, latCol: String,
                           qLon: Double, qLat: Double, k: Int, tieCol: String): DataFrame = {
    val t = new PinnedTable(spark, table)
    val m = t.manifest
    require(t.index.contains(index) && m.partitionCol == prefixCol &&
        m.properties.get(IcebergLite.PropPrefixBits).forall(_ == level.toString),
      s"$table is tiled as ${t.index.fold("an unknown index")(_.tag)} on ${m.partitionCol} at " +
      s"${m.properties.getOrElse(IcebergLite.PropPrefixBits, "an unrecorded level")}, " +
      s"not ${index.tag} on $prefixCol at $level")
    t.knn(index, level, lonCol, latCol, qLon, qLat, k, tieCol)
  }

  /** One committed snapshot of an indexed table as the manifest-count kNNs
    * see it: per-cell row counts from its manifest (no Spark job) and
    * prefix-pruned scans of its resolved DataFrame. Counts and every scan
    * come from the same snapshot, so a commit landing mid-query cannot mix
    * two snapshots into one exact answer. */
  private final class PinnedTable(spark: SparkSession, table: String) {
    private val snap = IcebergLite.current(spark, table)
    val manifest: IcebergLite.Manifest = snap.manifest
    val index: Option[CellIndex] = CellIndex.fromManifest(manifest)
    // sum across snapshots: appended partitions have one entry per snapshot
    private val rows = IcebergLite.rowsByPartition(manifest)
    private val total: Long = rows.values.sum
    private def count(cells: Seq[Long]): Long = cells.map(c => rows.getOrElse(c.toString, 0L)).sum
    private def scan(cells: Seq[Long]): DataFrame =
      snap.df.where(col(manifest.partitionCol).isin(cells: _*))

    def knn(index: CellIndex, level: Int, lonCol: String, latCol: String,
            qLon: Double, qLat: Double, k: Int, tieCol: String): DataFrame =
      knnExpand(spark, lonCol, latCol, qLon, qLat, k, tieCol, index.rings(qLon, qLat, level),
        scan, count, () => total, Some(total))
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
