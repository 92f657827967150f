package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{GeoMath, Geohash}

/** Predicate DERIVATION (SURVEY.md §5): Catalyst pushes filters it is
  * given, but cannot invent them. A point-in-polygon test with a literal
  * polygon implies cheap lon/lat range bounds (the polygon's bbox ⊇ the
  * polygon), and range predicates on stored columns reach the parquet
  * row-group/page statistics — pruning most of a 100 TB scan before the
  * expensive ray-cast runs. This rule ANDs those derived bounds onto any
  * Filter containing a foldable-WKT [[StContainsWkt]].
  *
  * Idempotent under the optimizer's fixed-point batches: derived conjuncts
  * already present (semantically) are not re-added.
  *
  * Soundness: bounds are derived ONLY from PIP predicates that are
  * TOP-LEVEL CONJUNCTS of the filter condition. A StContainsWkt buried
  * under OR / NOT / CASE does not imply the bbox bounds for the whole
  * condition (`pip(..) OR x` admits rows outside the polygon's bbox), so
  * those are left alone.
  */
object DerivePipBBox extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      val existing = splitConjuncts(cond)
      val derived = existing.collect {
        case StContainsWkt(wkt, lon, lat) if wkt.foldable && wkt.eval(null) != null =>
          val rings = GeoMath.parseWktPolygon(wkt.eval(null).asInstanceOf[UTF8String].toString)
          val outer = rings.head
          val lons = outer.indices.collect { case i if i % 2 == 0 => outer(i) }
          val lats = outer.indices.collect { case i if i % 2 == 1 => outer(i) }
          Seq[Expression](
            GreaterThanOrEqual(lon, Literal(lons.min)), LessThanOrEqual(lon, Literal(lons.max)),
            GreaterThanOrEqual(lat, Literal(lats.min)), LessThanOrEqual(lat, Literal(lats.max)))
      }.flatten
      val fresh = derived.filterNot(d => existing.exists(_.semanticEquals(d)))
      if (fresh.isEmpty) f
      else Filter(fresh.foldLeft(cond)(And(_, _)), child)
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }
}

/** Covering → partition-predicate derivation (SURVEY.md §5, round-2 roadmap
  * #3): a box or point-in-polygon filter over an IcebergLite table whose
  * manifest records its tiling (prefix bits + lon/lat column names,
  * [[graft.data.IcebergLite.writeTiled]]) implies `prefix_col IN
  * (covering cells)` — a predicate over the DIRECTORY PARTITION column that
  * prunes at file-listing time, turning a 100 TB scan into the handful of
  * partitions the box touches. Catalyst pushes predicates it is given but
  * cannot invent this one: the covering is geohash lattice math, not
  * algebra over the filter's expressions.
  *
  * Fires on Filter directly over a parquet LogicalRelation (the optimizer's
  * own pushdown/combine rules in the same fixed-point batch bring user
  * filters into that shape). Bounds are taken from TOP-LEVEL CONJUNCTS
  * only — range predicates on the recorded lon/lat columns and/or a
  * foldable-WKT [[StContainsWkt]] (whose polygon bbox bounds the box).
  * An anti-meridian box's canonical filter shape — a top-level
  * `lon >= a OR lon <= b` (a > b) disjunct — derives the two-sided wrapped
  * covering; other OR shapes are left alone (soundness).
  * Idempotent: skips when an IN on the prefix column is already present.
  */
object DeriveCoveringPrune extends Rule[LogicalPlan] {
  /** Plan-size guard for the IN-list. */
  val MaxInCells = 4096

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, l: LogicalRelation) =>
      manifestFor(l) match {
        case Some((m, bits)) =>
          val conjuncts = splitConjuncts(cond)
          (for {
            lonName <- m.properties.get(graft.data.IcebergLite.PropLonCol)
            latName <- m.properties.get(graft.data.IcebergLite.PropLatCol)
            lonAttr <- attrOf(l, lonName)
            latAttr <- attrOf(l, latName)
            prefixAttr <- attrOf(l, m.partitionCol)
            // already derived (fixed-point idempotency) — covers the plain
            // IN, the compacted OR-of-INs, and INs over h3u_parent(prefix)
            if !conjuncts.exists(isPrefixInShape(_, prefixAttr))
            box <- boundsOf(conjuncts, lonAttr, latAttr)
            cells <- coveringCells(m, box, bits, pipRingsOf(conjuncts, lonAttr, latAttr))
            indexType = m.properties.getOrElse(graft.data.IcebergLite.PropIndexType, "gh")
            inList = prunePredicate(indexType, cells, bits, prefixAttr)
          } yield Filter(And(cond, inList), l)).getOrElse(f)
        case None => f
      }
  }

  /** The partition-prefix covering of the box under the table's RECORDED
    * index ("gh" Morton geohash, the default, or "h3u" Uber-H3 cells from
    * [[graft.data.IcebergLite.writeTiledH3]]). None when the covering would
    * exceed [[MaxInCells]] (a huge IN-list is plan bloat, not a prune) —
    * geohash pre-checks via gridProperties (+1 column for covering()'s
    * west-column union at maxLon ≥ 180), H3 bounds the polyfill BFS. */
  // covering memo: the optimizer re-plans the same Filter shape repeatedly
  // (fixed-point batches × repeated queries in a session), and an h3u
  // polygon polyfill costs tens of ms of lattice BFS — cache by the
  // geometry+index key, bounded (coverings are ≤ MaxInCells longs each)
  private val coveringCache =
    new java.util.concurrent.ConcurrentHashMap[(String, (Double, Double, Double, Double),
      Int, Seq[Seq[Double]]), Option[Array[Long]]]()

  private def coveringCells(m: graft.data.IcebergLite.Manifest,
                            box: (Double, Double, Double, Double),
                            bits: Int,
                            pipRings: Option[Array[Array[Double]]]): Option[Array[Long]] = {
    val indexType = m.properties.getOrElse(graft.data.IcebergLite.PropIndexType, "gh")
    val key = (indexType, box, bits,
      pipRings.map(_.toSeq.map(_.toSeq)).getOrElse(Seq.empty))
    val hit = coveringCache.get(key)
    if (hit != null) return hit
    val computed = coveringCellsUncached(indexType, box, bits, pipRings)
    if (coveringCache.size < 256) coveringCache.put(key, computed)
    computed
  }

  private def coveringCellsUncached(indexType: String,
                            box: (Double, Double, Double, Double),
                            bits: Int,
                            pipRings: Option[Array[Array[Double]]]): Option[Array[Long]] = {
    val (minLon, minLat, maxLon, maxLat) = box
    indexType match {
      case "h3u" =>
        def boxFill(cap: Int): Array[Long] =
          if (minLon <= maxLon)
            graft.core.H3U.polyfillBox(minLon, minLat, maxLon, maxLat, bits, cap)
          else
            (graft.core.H3U.polyfillBox(minLon, minLat, 180.0, maxLat, bits, cap) ++
             graft.core.H3U.polyfillBox(-180.0, minLat, maxLon, maxLat, bits, cap)).distinct
        // continent-sized regions: the uniform-res polyfill overflows
        // MaxInCells, but an over-sampled BFS (memory-bounded at 16×)
        // COMPACTED to mixed resolutions (H3U.compactCells, ~7× smaller
        // per promoted level) often still fits — the IN-list then tests
        // h3u_parent(prefix, res) per coarse level (see prunePredicate)
        // instead of bailing to a full scan
        def boxFillOrCompact(): Array[Long] =
          try boxFill(MaxInCells)
          catch { case _: IllegalArgumentException =>
            val compacted = graft.core.H3U.compactCells(boxFill(MaxInCells * 16))
            require(compacted.length <= MaxInCells,
              s"compacted covering still exceeds $MaxInCells")
            compacted
          }
        try Some {
          pipRings match {
            // a PIP conjunct restricts rows to the polygon itself, so the
            // TRUE polygonToCells covering is sound and strictly tighter
            // than the bbox polyfill for L-shaped / sparse polygons; if the
            // polygon covering overflows MaxInCells, the bbox polyfill (a
            // superset bound on the conjunction, still sound) may fit —
            // fall back to it before giving up on the prune entirely
            case Some(rings) =>
              try graft.core.H3U.polyfillPoly(rings, bits, MaxInCells)
              catch { case _: IllegalArgumentException => boxFillOrCompact() }
            case None => boxFillOrCompact()
          }
        } catch { case _: IllegalArgumentException => None } // covering too large
      case "s2u" =>
        // S2 hierarchy is exact (quadtree in (i,j)), so the prefix of any
        // in-box row's tile is its cell at the prefix level — covered by
        // coverBox at that level. A PIP conjunct restricts rows to the
        // polygon itself, so dropping covering cells whose conservative
        // rect bound misses the polygon (coverPolygon) is sound and
        // strictly tighter for L-shaped/sparse polygons — parity with the
        // gh rect-filter and h3u polyfillPoly arms.
        try Some {
          pipRings match {
            case Some(rings) if minLon <= maxLon =>
              try graft.core.S2U.coverPolygon(rings, bits, MaxInCells)
              catch { case _: IllegalArgumentException =>
                graft.core.S2U.coverBox(minLon, minLat, maxLon, maxLat, bits, MaxInCells) }
            case _ if minLon <= maxLon =>
              graft.core.S2U.coverBox(minLon, minLat, maxLon, maxLat, bits, MaxInCells)
            case _ =>
              (graft.core.S2U.coverBox(minLon, minLat, 180.0, maxLat, bits, MaxInCells) ++
               graft.core.S2U.coverBox(-180.0, minLat, maxLon, maxLat, bits, MaxInCells)).distinct
          }
        } catch { case _: IllegalArgumentException => None }
      case _ =>
        val (_, cx, cy) = Geohash.gridProperties(minLon, minLat, maxLon, maxLat, bits)
        if ((cx + 1) * cy <= MaxInCells) {
          val boxCells = Geohash.covering(minLon, minLat, maxLon, maxLat, bits, MaxInCells)
          pipRings match {
            // geohash cells are lat/lon-aligned rectangles, so dropping
            // cells whose rectangle misses the polygon is exactly sound —
            // a strictly tighter IN-list for L-shaped/sparse polygons
            case Some(rings) if minLon <= maxLon =>
              Some(boxCells.filter { c =>
                val b = Geohash.boundingBox(c, bits)
                GeoMath.rectIntersectsPolygon(b.minLon, b.minLat, b.maxLon, b.maxLat, rings)
              })
            case _ => Some(boxCells)
          }
        } else None
    }
  }

  private def attrOf(l: LogicalRelation, name: String): Option[AttributeReference] =
    l.output.collectFirst { case a: AttributeReference if a.name == name => a }

  /** Is `e` an IN-list (or OR of IN-lists) whose only input column is the
    * prefix attribute — i.e. a predicate [[prunePredicate]] could have
    * produced? Used for fixed-point idempotency. */
  private def isPrefixInShape(e: Expression, attr: AttributeReference): Boolean = e match {
    case In(x, _) => x.references.size == 1 && x.references.head.semanticEquals(attr)
    case InSet(x, _) => x.references.size == 1 && x.references.head.semanticEquals(attr)
    case Or(l, r) => isPrefixInShape(l, attr) && isPrefixInShape(r, attr)
    case _ => false
  }

  /** The partition predicate for a covering. gh/s2u coverings are uniform
    * (plain IN on the prefix column); an h3u covering may be COMPACTED to
    * mixed resolutions, which becomes an OR of per-resolution INs —
    * same-res cells test the column directly, coarser cells test
    * `h3u_parent(prefix, res)` (deterministic over the partition column
    * alone, so it still prunes at file-listing time). */
  private def prunePredicate(indexType: String, cells: Array[Long], bits: Int,
                             prefixAttr: AttributeReference): Expression = {
    def plainIn(cs: Array[Long]): Expression =
      In(prefixAttr, cs.toSeq.map(cellLiteral(_, prefixAttr)))
    if (indexType != "h3u" || cells.isEmpty) plainIn(cells)
    else {
      val asLong: Expression = prefixAttr.dataType match {
        case LongType => prefixAttr
        case _ => Cast(prefixAttr, LongType)
      }
      cells.groupBy(graft.core.H3U.resolution).toSeq.sortBy(_._1).map { case (r, cs) =>
        if (r == bits) plainIn(cs)
        else In(H3UParent(asLong, Literal(r)), cs.toSeq.map(Literal(_)))
      }.reduce(Or(_, _))
    }
  }

  private def cellLiteral(cell: Long, attr: AttributeReference): Expression = attr.dataType match {
    case LongType => Literal(cell)
    case IntegerType => Literal(cell.toInt)
    case StringType => Literal(cell.toString)
    case other => Cast(Literal(cell), other)
  }

  /** The IcebergLite manifest backing this parquet relation, if its
    * properties record a tiling. [[graft.data.IcebergLite.read]] lists the
    * visible `<table>/data/snapid=<s>/<part>=<v>` leaf dirs as load paths
    * (constant-size visibility), so the table root is recovered from the
    * first path's `/data/snapid=` segment; a plain `<table>/data` root
    * (direct parquet load of the whole layout) is also accepted.
    *
    * The optimizer calls this on every fixed-point iteration for every
    * Filter-over-parquet node, so the manifest comes from the session's
    * snapshot slot ([[graft.data.IcebergLite.currentOption]]) rather than
    * being re-parsed each pass; a new commit invalidates the slot. */
  private def manifestFor(l: LogicalRelation) = l.relation match {
    case fs: HadoopFsRelation =>
      fs.location.rootPaths.headOption
        .map(_.toUri.getPath)
        .flatMap { p =>
          val i = p.indexOf("/data/snapid=")
          if (i >= 0) Some(p.substring(0, i))
          else if (p.endsWith("/data")) Some(p.stripSuffix("/data"))
          else None
        }
        .flatMap(t => SparkSession.getActiveSession
          .flatMap(graft.data.IcebergLite.currentOption(_, t)))
        .map(_.manifest)
        .flatMap(m => m.properties.get(graft.data.IcebergLite.PropPrefixBits)
          .map(b => (m, b.toInt)))
    case _ => None
  }

  /** (minLon, minLat, maxLon, maxLat) implied by the conjuncts: explicit
    * range predicates on lon/lat, or the bbox of a literal PIP polygon.
    * All four bounds must be present (an unbounded side has no finite
    * covering).
    *
    * Anti-meridian: a top-level `lon >= a OR lon <= b` disjunct with a > b
    * (the canonical wrapped-box filter shape, q04) yields minLon = a >
    * maxLon = b — [[Geohash.covering]] reads that as the two-column wrapped
    * range, so the derived IN-list covers both sides of the meridian. */
  private def boundsOf(conjuncts: Seq[Expression],
                       lon: AttributeReference, lat: AttributeReference):
      Option[(Double, Double, Double, Double)] = {
    var minLon, minLat = Double.NaN
    var maxLon, maxLat = Double.NaN
    var wrapLo, wrapHi = Double.NaN // from a `lon >= a OR lon <= b` disjunct
    def upd(attr: Expression, lo: Option[Double], hi: Option[Double]): Unit = attr match {
      case a: AttributeReference if a.semanticEquals(lon) =>
        lo.foreach(v => if (minLon.isNaN || v > minLon) minLon = v)
        hi.foreach(v => if (maxLon.isNaN || v < maxLon) maxLon = v)
      case a: AttributeReference if a.semanticEquals(lat) =>
        lo.foreach(v => if (minLat.isNaN || v > minLat) minLat = v)
        hi.foreach(v => if (maxLat.isNaN || v < maxLat) maxLat = v)
      case _ =>
    }
    // extractor so literal-on-right and literal-on-left arms are DISJOINT
    // patterns (a bare `case GreaterThanOrEqual(a, v)` would swallow the
    // literal-on-left shape and the reversed arm would never match)
    object Dbl {
      def unapply(e: Expression): Option[Double] = e match {
        case Literal(v: Double, _) => Some(v)
        case Literal(v: Float, _) => Some(v.toDouble)
        case Literal(v: Int, _) => Some(v.toDouble)
        case Literal(v: Long, _) => Some(v.toDouble)
        case _ => None
      }
    }
    // a single comparison on THE lon attribute → (isLowerBound, value)
    def lonBound(e: Expression): Option[(Boolean, Double)] = e match {
      case GreaterThanOrEqual(a: AttributeReference, Dbl(d)) if a.semanticEquals(lon) => Some((true, d))
      case GreaterThan(a: AttributeReference, Dbl(d)) if a.semanticEquals(lon)        => Some((true, d))
      case LessThanOrEqual(a: AttributeReference, Dbl(d)) if a.semanticEquals(lon)    => Some((false, d))
      case LessThan(a: AttributeReference, Dbl(d)) if a.semanticEquals(lon)           => Some((false, d))
      case GreaterThanOrEqual(Dbl(d), a: AttributeReference) if a.semanticEquals(lon) => Some((false, d))
      case GreaterThan(Dbl(d), a: AttributeReference) if a.semanticEquals(lon)        => Some((false, d))
      case LessThanOrEqual(Dbl(d), a: AttributeReference) if a.semanticEquals(lon)    => Some((true, d))
      case LessThan(Dbl(d), a: AttributeReference) if a.semanticEquals(lon)           => Some((true, d))
      case _ => None
    }
    conjuncts.foreach {
      case Or(l, r) =>
        (lonBound(l), lonBound(r)) match {
          case (Some((true, a)), Some((false, b))) if a > b => wrapLo = a; wrapHi = b
          case (Some((false, b)), Some((true, a))) if a > b => wrapLo = a; wrapHi = b
          case _ => // any other OR implies no bound for the whole conjunct
        }
      case GreaterThanOrEqual(a, Dbl(d)) => upd(a, Some(d), None)
      case GreaterThan(a, Dbl(d))        => upd(a, Some(d), None)
      case LessThanOrEqual(a, Dbl(d))    => upd(a, None, Some(d))
      case LessThan(a, Dbl(d))           => upd(a, None, Some(d))
      case GreaterThanOrEqual(Dbl(d), a) => upd(a, None, Some(d))
      case GreaterThan(Dbl(d), a)        => upd(a, None, Some(d))
      case LessThanOrEqual(Dbl(d), a)    => upd(a, Some(d), None)
      case LessThan(Dbl(d), a)           => upd(a, Some(d), None)
      case StContainsWkt(wkt, lonE, latE)
          if wkt.foldable && wkt.eval(null) != null &&
             lonE.semanticEquals(lon) && latE.semanticEquals(lat) =>
        val rings = GeoMath.parseWktPolygon(wkt.eval(null).asInstanceOf[UTF8String].toString)
        val outer = rings.head
        val lons = outer.indices.collect { case i if i % 2 == 0 => outer(i) }
        val lats = outer.indices.collect { case i if i % 2 == 1 => outer(i) }
        upd(lon, Some(lons.min), None); upd(lon, None, Some(lons.max))
        upd(lat, Some(lats.min), None); upd(lat, None, Some(lats.max))
      case _ =>
    }
    if (minLat.isNaN || maxLat.isNaN || minLat > maxLat) None
    else if (!minLon.isNaN && !maxLon.isNaN && minLon <= maxLon)
      Some((minLon, minLat, maxLon, maxLat))
    else if (minLon.isNaN && maxLon.isNaN && !wrapLo.isNaN && !wrapHi.isNaN)
      Some((wrapLo, minLat, wrapHi, maxLat)) // wrapped: minLon > maxLon
    else None
  }

  /** The rings of a foldable-WKT PIP conjunct over the RECORDED lon/lat
    * columns, when present — enables the polygon (rather than bbox)
    * polyfill in the h3u arm. Non-wrapped polygons only ([[graft.core.H3U
    * .polyfillPoly]] measures edge distance in plain degree space). */
  private def pipRingsOf(conjuncts: Seq[Expression],
                         lon: AttributeReference, lat: AttributeReference):
      Option[Array[Array[Double]]] =
    conjuncts.collectFirst {
      case StContainsWkt(wkt, lonE, latE)
          if wkt.foldable && wkt.eval(null) != null &&
             lonE.semanticEquals(lon) && latE.semanticEquals(lat) =>
        GeoMath.parseWktPolygon(wkt.eval(null).asInstanceOf[UTF8String].toString)
    }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }
}
