package graft.sql

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Cast, Expression, In, InSet, Literal, Or}
import org.apache.spark.sql.graftcolumn.ColumnOf
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

import graft.core.{BBox, GeoMath}

/** The cell index of a tiled table — geohash (Morton), Uber-H3-compatible
  * (H3U) or published-layout S2 (S2U) — and the one place that decides how
  * its cells are made and covered: which cell a row lands in, which cells
  * cover a box or polygon, how kNN rings grow around a query, how rows
  * are restricted to a set of cells ([[CellIndex.within]]), which
  * partition predicate a covering becomes, and which prefix cells a set of
  * its finer cells falls in ([[prefixCellsOf]]). Every tiled operator
  * ([[graft.engine.SpatialOps]], [[graft.data.IcebergLite.writeTiled]],
  * [[graft.engine.StreamOps.streamedTileIngest]], [[DeriveCoveringPrune]])
  * has one body parameterised by `(CellIndex, level)`, where `level` is
  * the index's precision (geohash bits, H3 resolution, S2 level). A table
  * records its index as the manifest tag [[tag]], written and read only
  * by [[graft.data.IcebergLite.Tiling]]. Coverings are conservative (a
  * superset of the cells of every point inside); callers refine exactly. */
sealed trait CellIndex {
  /** The `tile.index` manifest tag a table written on this index records. */
  def tag: String

  /** The row of this index's cell function, `f(lon, lat, level)`. */
  private[sql] def cellFn: GraftFunctions.Scalar

  /** The cell of (lon, lat) at `level`, as a codegen'd column. */
  final def cell(lon: Column, lat: Column, level: Int): Column =
    call_function(cellFn.name, lon, lat, lit(level))

  /** The ancestor at `toLevel` of a cell column at `fromLevel`. */
  def parent(cell: Column, fromLevel: Int, toLevel: Int): Column

  /** The ancestor at `toLevel` of `cell` at `fromLevel`. */
  def parentOf(cell: Long, fromLevel: Int, toLevel: Int): Long

  /** The prefix cells at `prefixLevel` that can hold a row whose cell at
    * `level` is one of `cells`, on a table whose prefix is the ancestor of
    * a tile cell at any level ≥ `prefixLevel`: the distinct parents, where
    * cells nest. A value that is no cell at `level` keeps no row and is
    * skipped. */
  def prefixCellsOf(cells: Iterable[Long], level: Int, prefixLevel: Int): Array[Long] =
    cells.iterator.flatMap(c => scala.util.Try(parentOf(c, level, prefixLevel)).toOption)
      .distinct.toArray

  /** (lon, lat, level) of a Catalyst expression that is this index's
    * [[cell]] at a literal level, as [[DeriveCoveringPrune]] matches it. */
  private[graft] final def cellArgs(e: Expression): Option[(Expression, Expression, Int)] = e match {
    case KernelCall(f, Seq(lon, lat, Literal(level: Int, _))) if f == cellFn => Some((lon, lat, level))
    case _ => None
  }

  /** Covering of a box with minLon <= maxLon; throws
    * IllegalArgumentException past `maxCells`. */
  protected def coverLonRange(minLon: Double, minLat: Double, maxLon: Double, maxLat: Double,
                              level: Int, maxCells: Int): Array[Long]

  /** A conservative covering of `box`. A box with minLon > maxLon crosses
    * the anti-meridian and is covered as its east and west halves. */
  def coverBox(box: BBox, level: Int, maxCells: Int = 1 << 20): Array[Long] =
    if (box.minLon <= box.maxLon)
      coverLonRange(box.minLon, box.minLat, box.maxLon, box.maxLat, level, maxCells)
    else
      (coverLonRange(box.minLon, box.minLat, 180.0, box.maxLat, level, maxCells) ++
       coverLonRange(-180.0, box.minLat, box.maxLon, box.maxLat, level, maxCells)).distinct

  /** Covering of a polygon (rings as from [[GeoMath.parseWktPolygon]],
    * not anti-meridian-wrapped): tighter than its bbox's covering for
    * L-shaped or sparse polygons. */
  def coverPolygon(rings: Array[Array[Double]], level: Int, maxCells: Int = 1 << 20): Array[Long]

  /** The prune's covering of a box, and of rows inside both a box and a
    * polygon; both may throw IllegalArgumentException past `maxCells`. */
  protected def pruneBox(box: BBox, level: Int, maxCells: Int): Array[Long] =
    coverBox(box, level, maxCells)
  protected def prunePolygon(rings: Array[Array[Double]], box: BBox, level: Int,
                             maxCells: Int): Array[Long] =
    coverPolygon(rings, level, maxCells)

  /** The partition-prefix covering [[DeriveCoveringPrune]] derives: the
    * polygon covering under a PIP conjunct (the box covering when that
    * overflows), else the box covering; None when nothing fits `maxCells`
    * (a huge IN-list is plan bloat, not a prune). */
  final def pruneCovering(box: BBox, level: Int, pipRings: Option[Array[Array[Double]]],
                          maxCells: Int): Option[Array[Long]] =
    try Some(pipRings match {
      case Some(rings) =>
        try prunePolygon(rings, box, level, maxCells)
        catch { case _: IllegalArgumentException => pruneBox(box, level, maxCells) }
      case None => pruneBox(box, level, maxCells)
    }) catch { case _: IllegalArgumentException => None }

  /** The partition predicate for a [[pruneCovering]]: IN on the prefix. */
  def prunePredicate(cells: Array[Long], level: Int, prefix: AttributeReference): Expression =
    In(prefix, cells.toSeq.map(CellIndex.cellLiteral(_, prefix)))

  /** The kNN ring expansion around (qLon, qLat) at `level`. */
  def rings(qLon: Double, qLat: Double, level: Int): CellIndex.Rings
}

object CellIndex {
  /** A kNN ring expansion: `cells(r)` is ring r (called with
    * non-decreasing r); `maxRings` rings cover the grid. */
  final case class Rings(cells: Long => Seq[Long], maxRings: Long)

  /** The rows whose `cell` (a Long cell or prefix column) is one of
    * `cells`: one `InSet`, the only form in which an operator restricts
    * rows to a set of cells. [[DeriveCoveringPrune]] turns it into a
    * partition prune on a tiled table, and the codegen'd filter tests
    * membership in one referenced set, whatever the set's size. */
  def within(cell: Column, cells: Iterable[Long]): Column =
    ColumnOf(InSet(ColumnOf.expression(cell), cells.toSet[Any]))

  private[sql] def cellLiteral(cell: Long, attr: AttributeReference): Expression = attr.dataType match {
    case LongType => Literal(cell)
    case IntegerType => Literal(cell.toInt)
    case StringType => Literal(cell.toString)
    case other => Cast(Literal(cell), other)
  }

  /** Morton geohash: right-justified int64 codes, `level` = bits. */
  case object Geohash extends CellIndex {
    import graft.core.{Geohash => G}
    val tag = "gh"
    private[sql] def cellFn = GraftFunctions.GhEncode
    def parent(cell: Column, fromLevel: Int, toLevel: Int): Column =
      functions.gh_parent(cell, fromLevel, toLevel)
    def parentOf(cell: Long, fromLevel: Int, toLevel: Int): Long = G.parent(cell, fromLevel, toLevel)
    protected def coverLonRange(minLon: Double, minLat: Double, maxLon: Double, maxLat: Double,
                                level: Int, maxCells: Int): Array[Long] =
      G.covering(minLon, minLat, maxLon, maxLat, level, maxCells)
    // one lattice walk: a wrapped box is a wrapped column range
    override def coverBox(box: BBox, level: Int, maxCells: Int): Array[Long] =
      coverLonRange(box.minLon, box.minLat, box.maxLon, box.maxLat, level, maxCells)
    def coverPolygon(rings: Array[Array[Double]], level: Int, maxCells: Int): Array[Long] =
      G.polygonCovering(rings, level, maxCells)
    // pre-checked on the grid size, with one spare column for covering()'s
    // west-column union at maxLon >= 180
    override protected def pruneBox(box: BBox, level: Int, maxCells: Int): Array[Long] = {
      val (_, cx, cy) = G.gridProperties(box.minLon, box.minLat, box.maxLon, box.maxLat, level)
      require((cx + 1) * cy <= maxCells, s"covering exceeds $maxCells cells")
      coverBox(box, level, maxCells)
    }
    // the conjuncts' box (maybe tighter than the polygon's) minus the
    // cells whose rectangle misses the polygon: exactly sound
    override protected def prunePolygon(rings: Array[Array[Double]], box: BBox, level: Int,
                                        maxCells: Int): Array[Long] =
      pruneBox(box, level, maxCells).filter { c =>
        val b = G.boundingBox(c, level)
        GeoMath.rectIntersectsPolygon(b.minLon, b.minLat, b.maxLon, b.maxLat, rings)
      }
    // square rings on the lattice, wrapped in longitude, clipped in latitude
    def rings(qLon: Double, qLat: Double, level: Int): Rings = {
      val center = G.encode(qLon, qLat, level)
      val cx = G.cellX(center, level); val cy = G.cellY(center, level)
      val nx = 1L << G.lonBitsOf(level); val ny = 1L << G.latBitsOf(level)
      // the square's perimeter, column by column (dx, then dy ascending)
      def ringCells(r: Long): Seq[Long] =
        if (r == 0) Seq(center)
        else (-r to r).flatMap { dx =>
          val dys = if (math.abs(dx) == r) -r to r else Seq(-r, r)
          dys.map(cy + _).filter(yy => yy >= 0 && yy < ny)
            .map(G.fromCellXY((cx + dx + nx * 4) % nx, _, level))
        }
      Rings(ringCells, math.max(nx, ny))
    }
  }

  /** Uber-H3-compatible hexagonal cells, `level` = resolution. */
  case object H3U extends CellIndex {
    import graft.core.{H3U => H}
    val tag = "h3u"
    private[sql] def cellFn = GraftFunctions.H3UCell
    def parent(cell: Column, fromLevel: Int, toLevel: Int): Column = functions.h3u_parent(cell, toLevel)
    def parentOf(cell: Long, fromLevel: Int, toLevel: Int): Long = H.cellToParent(cell, toLevel)
    // H3 cells do not nest: a point's cell at one resolution and its tile
    // cell at another can descend from two different prefix cells, which
    // are adjacent (H3USpec checks this over 10^6 points), so the parents
    // and their ring-1 neighbours hold every such row
    override def prefixCellsOf(cells: Iterable[Long], level: Int, prefixLevel: Int): Array[Long] = {
      val parents = super.prefixCellsOf(cells, level, prefixLevel)
      (parents ++ parents.flatMap(H.neighbors(_))).distinct
    }
    protected def coverLonRange(minLon: Double, minLat: Double, maxLon: Double, maxLat: Double,
                                level: Int, maxCells: Int): Array[Long] =
      H.polyfillBox(minLon, minLat, maxLon, maxLat, level, maxCells)
    // continent-sized regions: the uniform-res polyfill overflows maxCells,
    // but an over-sampled BFS (memory-bounded at 16x) COMPACTED to mixed
    // resolutions (~7x smaller per promoted level) often still fits; the
    // predicate then tests h3u_parent(prefix, res) per coarse level
    override protected def pruneBox(box: BBox, level: Int, maxCells: Int): Array[Long] =
      try coverBox(box, level, maxCells)
      catch { case _: IllegalArgumentException =>
        val compacted = H.compactCells(coverBox(box, level, maxCells * 16))
        require(compacted.length <= maxCells, s"compacted covering still exceeds $maxCells")
        compacted
      }
    def coverPolygon(rings: Array[Array[Double]], level: Int, maxCells: Int): Array[Long] =
      H.polyfillPoly(rings, level, maxCells)
    // a compacted covering mixes resolutions: an OR of per-resolution INs,
    // coarser cells testing h3u_parent(prefix, res) (a function of the
    // partition column alone, so it still prunes at listing)
    override def prunePredicate(cells: Array[Long], level: Int,
                                prefix: AttributeReference): Expression =
      if (cells.isEmpty) super.prunePredicate(cells, level, prefix)
      else {
        val asLong: Expression = prefix.dataType match {
          case LongType => prefix
          case _ => Cast(prefix, LongType)
        }
        cells.groupBy(H.resolution).toSeq.sortBy(_._1).map { case (r, cs) =>
          if (r == level) super.prunePredicate(cs, level, prefix)
          else In(GraftFunctions.H3UParent.build(Seq(asLong, Literal(r))), cs.toSeq.map(Literal(_)))
        }.reduce(Or(_, _))
      }
    // gridDisk shells around the query cell. Each shell steps at least
    // 0.6 × the face-center pitch (the gnomonic projection compresses
    // spacing by at most 1/(1+tan²γ) ≈ 0.63 toward face edges), so π over
    // that step covers the sphere
    def rings(qLon: Double, qLat: Double, level: Int): Rings =
      Rings(frontierRings(H.latLngToCell(qLat, qLon, level)),
        (math.Pi / (H.maxPitchRad(level) * 0.6)).toLong + 2)
    // ring r = the cells at grid distance exactly r from `center`, by a
    // frontier BFS keeping only the last two disks: a full-lattice closure
    // is O(cells) work and memory, not O(rings × cells)
    private def frontierRings(center: Long): Long => Seq[Long] = {
      var prev = Set.empty[Long]
      var cur = Set(center)
      var curR = 0L
      (r: Long) => {
        require(r >= curR, s"ring calls must be non-decreasing (got $r after $curR)")
        while (curR < r) {
          val frontier = if (prev.isEmpty) cur else cur.diff(prev)
          val next = cur ++ frontier.flatMap(H.neighbors(_))
          prev = cur; cur = next; curR += 1
        }
        if (r == 0) Seq(center) else cur.diff(prev).toSeq
      }
    }
  }

  /** Published-layout S2 cell ids, `level` = S2 level. */
  case object S2U extends CellIndex {
    import graft.core.{S2U => S}
    val tag = "s2u"
    private[sql] def cellFn = GraftFunctions.S2UCell
    def parent(cell: Column, fromLevel: Int, toLevel: Int): Column = functions.s2u_parent(cell, toLevel)
    def parentOf(cell: Long, fromLevel: Int, toLevel: Int): Long = S.parent(cell, toLevel)
    protected def coverLonRange(minLon: Double, minLat: Double, maxLon: Double, maxLat: Double,
                                level: Int, maxCells: Int): Array[Long] =
      S.coverBox(minLon, minLat, maxLon, maxLat, level, maxCells)
    def coverPolygon(rings: Array[Array[Double]], level: Int, maxCells: Int): Array[Long] =
      S.coverPolygon(rings, level, maxCells)
    // ring r = the covering of the degree-metric box of half-width
    // r · cellMin around the query, so face-edge crossings are the
    // covering's business, not a lattice walk's; accumulation dedups.
    // minCellWidthDeg under-estimates every cell step: over-expands only
    // (and consecutive rings may share all their cells)
    def rings(qLon: Double, qLat: Double, level: Int): Rings = {
      val cellMin = S.minCellWidthDeg(level)
      def ring(r: Long): Seq[Long] = {
        val h = math.max(cellMin * r, cellMin * 0.25)
        val latLo = math.max(-90.0, qLat - h); val latHi = math.min(90.0, qLat + h)
        val lo = qLon - h; val hi = qLon + h
        val cells =
          if (hi - lo >= 360.0) coverBox(BBox(-180.0, latLo, 180.0, latHi), level)
          else if (lo < -180.0)
            (coverBox(BBox(-180.0, latLo, hi, latHi), level) ++
             coverBox(BBox(lo + 360.0, latLo, 180.0, latHi), level)).distinct
          else coverBox(BBox(lo, latLo, if (hi > 180.0) hi - 360.0 else hi, latHi), level)
        cells.toSeq
      }
      Rings(ring, (360.0 / cellMin).toLong + 2)
    }
  }
}
