package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.OracleSql
import graft.core.{Geohash, BBox}
import graft.sql.{functions => gf}

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

  /** Box query = covering(box) ⋈ tiles, then exact refine — the reference's
    * E2 with an added exact filter (reference is cell-coarse; pass
    * refine=false for row-parity with it). Covering cells are broadcast.
    * Handles anti-meridian boxes (minLon > maxLon). */
  def boxQuery(points: DataFrame, lonCol: String, latCol: String,
               box: BBox, bits: Int, refine: Boolean = true): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    val cells = Geohash.covering(box.minLon, box.minLat, box.maxLon, box.maxLat, bits)
    val cellsDf = cells.toSeq.toDF("__cell")
    val tiled = withTile(points, lonCol, latCol, bits, "__cell")
    val joined = tiled.join(broadcast(cellsDf), "__cell").drop("__cell")
    if (!refine) joined
    else {
      val lonPred =
        if (box.minLon <= box.maxLon) col(lonCol) >= box.minLon && col(lonCol) <= box.maxLon
        else col(lonCol) >= box.minLon || col(lonCol) <= box.maxLon
      joined.where(lonPred && col(latCol) >= box.minLat && col(latCol) <= box.maxLat)
    }
  }

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

  /** Box query on the Uber-H3 index: conservative H3 covering (broadcast) ⋈
    * h3u_cell(points), then exact refine — the same covering-join contract
    * as [[boxQuery]] but keyed by hexagonal cells, so tables tiled/bucketed
    * by H3 need no geohash column. Anti-meridian boxes (minLon > maxLon)
    * split into two polyfills, like Geohash.covering's wrap handling. */
  def boxQueryH3(points: DataFrame, lonCol: String, latCol: String,
                 box: BBox, res: Int, refine: Boolean = true): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    val cells =
      if (box.minLon <= box.maxLon)
        graft.core.H3U.polyfillBox(box.minLon, box.minLat, box.maxLon, box.maxLat, res)
      else
        (graft.core.H3U.polyfillBox(box.minLon, box.minLat, 180.0, box.maxLat, res) ++
         graft.core.H3U.polyfillBox(-180.0, box.minLat, box.maxLon, box.maxLat, res)).distinct
    val cellsDf = cells.toSeq.toDF("__h3")
    val keyed = points.withColumn("__h3", gf.h3u_cell(col(lonCol), col(latCol), res))
    val joined = keyed.join(broadcast(cellsDf), "__h3").drop("__h3")
    if (!refine) joined
    else {
      val lonPred =
        if (box.minLon <= box.maxLon) col(lonCol) >= box.minLon && col(lonCol) <= box.maxLon
        else col(lonCol) >= box.minLon || col(lonCol) <= box.maxLon
      joined.where(lonPred && col(latCol) >= box.minLat && col(latCol) <= box.maxLat)
    }
  }

  /** [[boxQueryH3]] on the published-layout S2 index ([[graft.core.S2U]]):
    * coverBox cells broadcast against s2u_cell keys, exact refine. */
  def boxQueryS2(points: DataFrame, lonCol: String, latCol: String,
                 box: BBox, level: Int, refine: Boolean = true): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    val cells =
      if (box.minLon <= box.maxLon)
        graft.core.S2U.coverBox(box.minLon, box.minLat, box.maxLon, box.maxLat, level)
      else
        (graft.core.S2U.coverBox(box.minLon, box.minLat, 180.0, box.maxLat, level) ++
         graft.core.S2U.coverBox(-180.0, box.minLat, box.maxLon, box.maxLat, level)).distinct
    val cellsDf = cells.toSeq.toDF("__s2")
    val keyed = points.withColumn("__s2", gf.s2u_cell(col(lonCol), col(latCol), level))
    val joined = keyed.join(broadcast(cellsDf), "__s2").drop("__s2")
    if (!refine) joined
    else {
      val lonPred =
        if (box.minLon <= box.maxLon) col(lonCol) >= box.minLon && col(lonCol) <= box.maxLon
        else col(lonCol) >= box.minLon || col(lonCol) <= box.maxLon
      joined.where(lonPred && col(latCol) >= box.minLat && col(latCol) <= box.maxLat)
    }
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
    val spark = points.sparkSession
    import spark.implicits._
    val center = Geohash.encode(qLon, qLat, bits)
    val block = (Geohash.neighbors(center, bits) :+ center).toSeq.toDF("__cell")
    withTile(points, lonCol, latCol, bits, "__cell")
      .join(broadcast(block), "__cell").drop("__cell")
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

  /** Shared ring-expansion kNN core, parameterized by how candidate cells
    * are scanned/counted. Expansion: grow rings until ≥k candidates exist,
    * then include every ring intersecting the k-th-distance disc (rings ×
    * cellMinDim ≥ d guarantees coverage), then exact top-k. */
  private def knnExpand(spark: org.apache.spark.sql.SparkSession,
                        lonCol: String, latCol: String,
                        qLon: Double, qLat: Double, k: Int, bits: Int, tieCol: String,
                        scanCells: Seq[Long] => DataFrame,
                        countCells: Seq[Long] => Long,
                        probeRows: () => Long,
                        knownRows: Option[Long]): DataFrame = {
    val center = Geohash.encode(qLon, qLat, bits)
    val cellMin = math.min(Geohash.cellWidth(bits), Geohash.cellHeight(bits))
    val cx = Geohash.cellX(center, bits); val cy = Geohash.cellY(center, bits)
    val nx = 1L << Geohash.lonBitsOf(bits); val ny = 1L << Geohash.latBitsOf(bits)

    def ringCells(r: Long): Seq[Long] = {
      if (r == 0) return Seq(center)
      val cells = scala.collection.mutable.ArrayBuffer.empty[Long]
      var dx = -r
      while (dx <= r) {
        var dy = -r
        while (dy <= r) {
          if (math.abs(dx) == r || math.abs(dy) == r) {
            val yy = cy + dy
            if (yy >= 0 && yy < ny) cells += Geohash.fromCellXY((cx + dx + nx * 4) % nx, yy, bits)
          }
          dy += 1
        }
        dx += 1
      }
      cells.toSeq
    }

    knnExpandCore(spark, lonCol, latCol, qLon, qLat, k, tieCol,
      ringCells, cellMin, math.max(nx, ny), scanCells, countCells, probeRows, knownRows)
  }

  /** H3 gridDisk-shell generator for [[knnExpandCore]]: ring r = the cells
    * at grid distance exactly r from `center`. FRONTIER BFS keeping only
    * the last two disks: expanding neighbors of the frontier (not the
    * whole disk) makes a full-lattice closure O(cells) work and O(cells)
    * memory, where the old per-level disk list was O(rings x cells) both —
    * a sphere-wide expansion at res 5+ (sparse antipodal rows) would
    * otherwise hang the driver. Calls must come with non-decreasing r,
    * which is knnExpandCore's access pattern. */
  private def frontierRings(center: Long): Long => Seq[Long] = {
    var prev = Set.empty[Long]
    var cur = Set(center)
    var curR = 0L
    (r: Long) => {
      require(r >= curR, s"ring calls must be non-decreasing (got $r after $curR)")
      while (curR < r) {
        val frontier = if (prev.isEmpty) cur else cur.diff(prev)
        val next = cur ++ frontier.flatMap(graft.core.H3U.neighbors(_))
        prev = cur; cur = next; curR += 1
      }
      if (r == 0) Seq(center) else cur.diff(prev).toSeq
    }
  }

  /** Index-agnostic ring-expansion kNN core: grow rings until ≥k candidates
    * exist, extend to every ring intersecting the k-th-distance disc
    * (ring × cellMinDeg ≥ d guarantees coverage), exact top-k. The ring
    * generator and the per-ring minimum cell dimension (in the degree
    * metric) come from the index (Morton grid rings or H3 gridDisk rings).
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
  private def knnExpandCore(spark: org.apache.spark.sql.SparkSession,
                            lonCol: String, latCol: String,
                            qLon: Double, qLat: Double, k: Int, tieCol: String,
                            ringCells: Long => Seq[Long], cellMin: Double, maxRings: Long,
                            scanCells: Seq[Long] => DataFrame,
                            countCells: Seq[Long] => Long,
                            probeRows: () => Long,
                            knownRows: Option[Long]): DataFrame = {
    import spark.implicits._
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

  /** kNN via geohash cell-ring expansion (BASELINE.json north_star) over an
    * in-plan DataFrame: candidates come from a broadcast cell join against
    * the (cached) tiled points. Exact — see [[knnExpand]]. */
  def knnRing(points: DataFrame, lonCol: String, latCol: String,
              qid: Int, qLon: Double, qLat: Double, k: Int, bits: Int,
              tieCol: String): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    // NO cache: the doubling expansion needs only O(log rings) count jobs,
    // and each re-scan recomputes a codegen'd encode — far cheaper than
    // materializing the whole input (which a 100 TB table could not afford)
    val tiled = withTile(points, lonCol, latCol, bits, "__cell")
    def scan(cells: Seq[Long]): DataFrame =
      tiled.join(broadcast(cells.toDF("__cell")), "__cell")
    knnExpand(spark, lonCol, latCol, qLon, qLat, k, bits, tieCol,
        scan, cells => scan(cells).count(), () => points.limit(k).count(), None)
      .withColumn("qid", lit(qid))
      .drop("__cell")
  }

  /** [[knnRing]] on the Uber-H3 index: expansion rings are gridDisk shells
    * around the query cell. The disc-coverage bound uses the index's
    * minimum center-to-center pitch (0.6 × the face-center pitch — the
    * gnomonic projection compresses spacing by at most 1/(1+tan²γ) ≈ 0.63
    * toward face edges) converted to degrees, which only ever OVER-expands
    * (degree-space distances are ≥ angular distances). Exact. */
  def knnRingH3(points: DataFrame, lonCol: String, latCol: String,
                qid: Int, qLon: Double, qLat: Double, k: Int, res: Int,
                tieCol: String): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    val center = graft.core.H3U.latLngToCell(qLat, qLon, res)
    val h3Ring = frontierRings(center)
    val cellMinDeg = math.toDegrees(graft.core.H3U.maxPitchRad(res)) * 0.6
    val maxRings = (math.Pi / (graft.core.H3U.maxPitchRad(res) * 0.6)).toLong + 2
    // no cache — see knnRing: O(log rings) count jobs re-encode in codegen
    val keyed = points.withColumn("__cell", gf.h3u_cell(col(lonCol), col(latCol), res))
    def scan(cells: Seq[Long]): DataFrame =
      keyed.join(broadcast(cells.toDF("__cell")), "__cell")
    knnExpandCore(spark, lonCol, latCol, qLon, qLat, k, tieCol,
        h3Ring, cellMinDeg, maxRings, scan, cells => scan(cells).count(),
        () => points.limit(k).count(), None)
      .withColumn("qid", lit(qid))
      .drop("__cell")
  }

  /** kNN against a PRE-TILED Iceberg-lite table: each expansion step reads
    * ONLY the partitions holding candidate cells (partition pruning on the
    * tile-prefix partition column at `prefixBits`), and the expansion
    * COUNTS come from the manifest's per-partition row counts — zero Spark
    * jobs until the final scan. At 10¹² rows each step touches a handful
    * of partitions instead of the table. The table needs `lon`, `lat` and
    * the prefix partition column. Exact — see [[knnExpand]]. */
  def knnIndexed(spark: org.apache.spark.sql.SparkSession, table: String,
                 prefixCol: String, prefixBits: Int,
                 lonCol: String, latCol: String,
                 qLon: Double, qLat: Double, k: Int, tieCol: String): DataFrame = {
    val t = new PinnedTable(spark, table, prefixCol)
    knnExpand(spark, lonCol, latCol, qLon, qLat, k, prefixBits, tieCol,
      t.scan, t.count, () => t.total, Some(t.total))
  }

  /** One committed snapshot of an indexed table as the manifest-count kNNs
    * see it: per-cell row counts from its manifest (no Spark job) and
    * prefix-pruned scans of its resolved DataFrame. Counts and every scan
    * come from the same snapshot, so a commit landing mid-query cannot mix
    * two snapshots into one exact answer. */
  private final class PinnedTable(spark: SparkSession, table: String, prefixCol: String) {
    private val snap = graft.data.IcebergLite.current(spark, table)
    // sum across snapshots: appended partitions have one entry per snapshot
    private val rows = graft.data.IcebergLite.rowsByPartition(snap.manifest)
    val total: Long = rows.values.sum
    def count(cells: Seq[Long]): Long = cells.map(c => rows.getOrElse(c.toString, 0L)).sum
    def scan(cells: Seq[Long]): DataFrame = snap.df.where(col(prefixCol).isin(cells: _*))
  }

  /** [[knnIndexed]] against an H3-TILED table ([[graft.data.IcebergLite
    * .writeTiledH3]]): gridDisk-shell expansion over the H3 partition
    * prefix, counts from the manifest — zero Spark jobs until the final
    * scan, partition pruning on the listed files. Exact. */
  def knnIndexedH3(spark: org.apache.spark.sql.SparkSession, table: String,
                   prefixCol: String, prefixRes: Int,
                   lonCol: String, latCol: String,
                   qLon: Double, qLat: Double, k: Int, tieCol: String): DataFrame = {
    val t = new PinnedTable(spark, table, prefixCol)
    val center = graft.core.H3U.latLngToCell(qLat, qLon, prefixRes)
    val h3Ring = frontierRings(center)
    val cellMinDeg = math.toDegrees(graft.core.H3U.maxPitchRad(prefixRes)) * 0.6
    val maxRings = (math.Pi / (graft.core.H3U.maxPitchRad(prefixRes) * 0.6)).toLong + 2
    knnExpandCore(spark, lonCol, latCol, qLon, qLat, k, tieCol,
      h3Ring, cellMinDeg, maxRings, t.scan, t.count, () => t.total, Some(t.total))
  }

  /** [[knnIndexedH3]] on an S2-TILED table ([[graft.data.IcebergLite
    * .writeTiledS2]]): "ring" r is the [[graft.core.S2U.coverBox]] covering
    * of the degree-metric box of half-width r·cellMin around the query —
    * face-edge crossings are handled by the covering property itself, not
    * by lattice walking — with counts from the manifest, so there are zero
    * Spark jobs until the final pruned scan. Exact: [[graft.core.S2U
    * .minCellWidthDeg]] under-estimates every cell step, so the
    * disc-coverage extension only ever over-expands. */
  def knnIndexedS2(spark: org.apache.spark.sql.SparkSession, table: String,
                   prefixCol: String, prefixLevel: Int,
                   lonCol: String, latCol: String,
                   qLon: Double, qLat: Double, k: Int, tieCol: String): DataFrame = {
    val t = new PinnedTable(spark, table, prefixCol)
    val cellMinDeg = graft.core.S2U.minCellWidthDeg(prefixLevel)
    // "ring" r = the SOUND covering of the degree-metric box of half-width
    // r·cellMin around the query (coverBox is property-tested to contain
    // every in-box point's cell, face edges included) — so rings 0..R cover
    // the degree-metric disc of radius R·cellMin, which is exactly the
    // contract knnExpandCore's disc-coverage extension needs. Accumulation
    // dedups, so returning the whole covering per ring is fine.
    def s2Ring(r: Long): Seq[Long] = {
      val h = math.max(cellMinDeg * r, cellMinDeg * 0.25)
      val latLo = math.max(-90.0, qLat - h); val latHi = math.min(90.0, qLat + h)
      val lo = qLon - h; val hi = qLon + h
      val cells =
        if (lo >= -180.0 && hi <= 180.0)
          graft.core.S2U.coverBox(lo, latLo, hi, latHi, prefixLevel)
        else if (hi - lo >= 360.0)
          graft.core.S2U.coverBox(-180.0, latLo, 180.0, latHi, prefixLevel)
        else if (lo < -180.0)
          (graft.core.S2U.coverBox(-180.0, latLo, hi, latHi, prefixLevel) ++
           graft.core.S2U.coverBox(lo + 360.0, latLo, 180.0, latHi, prefixLevel)).distinct
        else
          (graft.core.S2U.coverBox(lo, latLo, 180.0, latHi, prefixLevel) ++
           graft.core.S2U.coverBox(-180.0, latLo, hi - 360.0, latHi, prefixLevel)).distinct
      cells.toSeq
    }
    val maxRings = (360.0 / cellMinDeg).toLong + 2
    knnExpandCore(spark, lonCol, latCol, qLon, qLat, k, tieCol,
      s2Ring, cellMinDeg, maxRings, t.scan, t.count, () => t.total, Some(t.total))
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
