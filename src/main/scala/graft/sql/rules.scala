package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{BBox, GeoMath}

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
object DerivePipBBox extends Rule[LogicalPlan] with PredicateHelper {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      val existing = splitConjunctivePredicates(cond)
      val derived = existing.flatMap {
        case LiteralPip(rings, lon, lat) =>
          val b = GeoMath.polygonBBox(rings)
          Seq[Expression](
            GreaterThanOrEqual(lon, Literal(b.minLon)), LessThanOrEqual(lon, Literal(b.maxLon)),
            GreaterThanOrEqual(lat, Literal(b.minLat)), LessThanOrEqual(lat, Literal(b.maxLat)))
        case _ => Nil
      }
      val fresh = derived.filterNot(d => existing.exists(_.semanticEquals(d)))
      if (fresh.isEmpty) f
      else Filter(fresh.foldLeft(cond)(And(_, _)), child)
  }
}

/** `isnotnull(f(args))` for a scalar [[KernelCall]] `f` with a primitive
  * result, as tests on its arguments: `isnotnull` of each nullable
  * argument and, for a NULL-on-NaN row, `NOT isnan` of lon and lat. The
  * two are equivalent, since such a call is NULL exactly when an argument
  * is NULL or a coordinate NaN. Applied to the arguments in turn, so
  * `isnotnull(gh_parent(gh_encode(lon, lat, b), …))` becomes coordinate
  * tests too.
  *
  * `InferFiltersFromConstraints` derives `isnotnull(gh_encode(lon, lat,
  * b))` from a join or group key computed by the Project above, and
  * pushes it into a Filter below that Project: without this rule every
  * surviving row computes its cell twice. It runs in the optimizer batch
  * after that inference, which nothing in that batch repeats, so the
  * batch converges. A conjunct that another already states is dropped. */
object KernelNotNull extends Rule[LogicalPlan] with PredicateHelper {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, _) if splitConjunctivePredicates(cond).exists(notNullCall(_).isDefined) =>
      val tests = splitConjunctivePredicates(cond).flatMap(argTests)
        .foldLeft(Seq.empty[Expression])((kept, c) => if (kept.exists(_.semanticEquals(c))) kept else kept :+ c)
      f.copy(condition = tests.reduceOption(And).getOrElse(Literal.TrueLiteral))
  }

  private def notNullCall(e: Expression): Option[KernelCall] = e match {
    case IsNotNull(k: KernelCall) if CodeGenerator.isPrimitiveType(k.dataType) => Some(k)
    case _ => None
  }

  private def argTests(e: Expression): Seq[Expression] = notNullCall(e) match {
    case Some(k) =>
      val notNaN = if (k.fn.nullOnNaN) k.children.take(2).map(c => Not(IsNaN(c))) else Nil
      (k.children.filter(_.nullable).map(IsNotNull) ++ notNaN).flatMap(argTests)
    case None => Seq(e)
  }
}

/** A point-in-polygon test against a literal (foldable) WKT polygon:
  * (rings, lon, lat), rings in [[GeoMath.parseWktPolygon]]'s layout. */
private[sql] object LiteralPip {
  def unapply(e: Expression): Option[(Array[Array[Double]], Expression, Expression)] = e match {
    case StContainsWkt(wkt, lon, lat) if wkt.foldable && wkt.eval(null) != null =>
      Some((GeoMath.parseWktPolygon(wkt.eval(null).asInstanceOf[UTF8String].toString), lon, lat))
    case _ => None
  }
}

/** Covering → partition-predicate derivation (SURVEY.md §5, round-2 roadmap
  * #3): a box or point-in-polygon filter over an IcebergLite table whose
  * manifest records its tiling ([[graft.data.IcebergLite.Tiling]]: index,
  * prefix level, lon/lat column names) implies `prefix_col IN
  * (covering cells)` — a predicate over the DIRECTORY PARTITION column that
  * prunes at file-listing time, turning a 100 TB scan into the handful of
  * partitions the box touches. Catalyst pushes predicates it is given but
  * cannot invent this one: the covering is cell-index math (the table's
  * recorded [[CellIndex]]), not algebra over the filter's expressions. A
  * table whose index tag this engine does not know is left unpruned.
  *
  * Fires on Filter directly over a parquet LogicalRelation (the optimizer's
  * own pushdown/combine rules in the same fixed-point batch bring user
  * filters into that shape). Bounds are taken from TOP-LEVEL CONJUNCTS
  * only — range predicates on the recorded lon/lat columns and/or a
  * foldable-WKT [[StContainsWkt]] (whose polygon bbox bounds the box).
  * An anti-meridian box's canonical filter shape — a top-level
  * `lon >= a OR lon <= b` (a > b) disjunct — derives the two-sided wrapped
  * covering; other OR shapes are left alone (soundness).
  *
  * A cell set is a bound too: a top-level `index.cell(lon, lat, L) IN (…)`
  * or `= c` on the recorded index and lon/lat columns, with L at or finer
  * than the prefix level, derives `prefix IN (the prefix cells of the
  * cells)` ([[CellIndex.prefixCellsOf]]) — the plan-time case of pushing a
  * data-induced predicate ([[CellIndex.within]] builds this shape for the
  * box, PIP and neighbour-block queries and the ring kNN's probes). The
  * literal bounds are tried first, so a refined box or PIP query prunes by
  * its own covering; the cell set serves the rest.
  * Idempotent: skips when an IN on the prefix column is already present.
  */
object DeriveCoveringPrune extends Rule[LogicalPlan] with PredicateHelper {
  /** Plan-size guard for the IN-list. */
  val MaxInCells = 4096

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, l: LogicalRelation) =>
      (for {
        snap <- snapshotOf(l)
        // no tiling, or an unknown index tag, derives nothing
        t <- snap.tiling
        lonAttr <- attrOf(l, t.lonCol)
        latAttr <- attrOf(l, t.latCol)
        prefixAttr <- attrOf(l, snap.manifest.partitionCol)
        conjuncts = splitConjunctivePredicates(cond)
        // already derived (fixed-point idempotency) — covers the plain
        // IN, the compacted OR-of-INs, and INs over h3u_parent(prefix)
        if !conjuncts.exists(isPrefixInShape(_, prefixAttr))
        cells <- boundsOf(conjuncts, lonAttr, latAttr).flatMap(box =>
            coveringCells(t.index, box, t.prefixLevel, pipRingsOf(conjuncts, lonAttr, latAttr)))
          .orElse(cellSetParents(conjuncts, t.index, lonAttr, latAttr, t.prefixLevel))
      } yield Filter(And(cond, t.index.prunePredicate(cells, t.prefixLevel, prefixAttr)), l))
        .getOrElse(f)
  }

  // covering memo: the optimizer re-plans the same Filter shape repeatedly
  // (fixed-point batches × repeated queries in a session), and an h3u
  // polygon polyfill costs tens of ms of lattice BFS — cache by the
  // geometry+index key, bounded (coverings are ≤ MaxInCells longs each);
  // a full memo is cleared, so geometry that repeats after a run of fresh
  // geometry is admitted again
  private val coveringCache =
    new java.util.concurrent.ConcurrentHashMap[(CellIndex, BBox, Int, Seq[Seq[Double]]),
      Option[Array[Long]]]()
  private val MaxMemoEntries = 256

  /** The partition-prefix covering of the box under the table's recorded
    * index ([[CellIndex.pruneCovering]]); None when it would exceed
    * [[MaxInCells]]. */
  private[sql] def coveringCells(index: CellIndex, box: BBox, bits: Int,
                                 pipRings: Option[Array[Array[Double]]]): Option[Array[Long]] = {
    val key = (index, box, bits, pipRings.map(_.toSeq.map(_.toSeq)).getOrElse(Seq.empty))
    val hit = coveringCache.get(key)
    if (hit != null) return hit
    val computed = index.pruneCovering(box, bits, pipRings, MaxInCells)
    if (coveringCache.size >= MaxMemoEntries) coveringCache.clear()
    coveringCache.put(key, computed)
    computed
  }

  /** The prefix cells a top-level cell-set conjunct allows: the
    * [[CellIndex.prefixCellsOf]] at the prefix level `bits` of the cells of
    * an `index.cell(lon, lat, L) IN (…)` or `= c` over the recorded
    * lon/lat, L ≥ bits. Every row the conjunct keeps has one of those
    * cells, so its prefix is one of them. None when there is no such
    * conjunct or its prefix cells exceed [[MaxInCells]]. */
  private def cellSetParents(conjuncts: Seq[Expression], index: CellIndex,
                             lon: AttributeReference, lat: AttributeReference,
                             bits: Int): Option[Array[Long]] = {
    def level(e: Expression): Option[Int] = index.cellArgs(e).collect {
      case (lonE, latE, l) if l >= bits && lonE.semanticEquals(lon) && latE.semanticEquals(lat) => l
    }
    conjuncts.iterator.flatMap {
      case In(e, list) if list.forall(_.isInstanceOf[Literal]) =>
        level(e).map(_ -> list.map(_.asInstanceOf[Literal].value))
      case InSet(e, set) => level(e).map(_ -> set.toSeq)
      case EqualTo(e, Literal(v, _)) => level(e).map(_ -> Seq(v))
      case EqualTo(Literal(v, _), e) => level(e).map(_ -> Seq(v))
      case _ => None
    }.map { case (l, cells) =>
      // a NULL keeps no row
      index.prefixCellsOf(cells.collect { case c: Long => c }, l, bits)
    }.find(_.length <= MaxInCells)
  }

  private def attrOf(l: LogicalRelation, name: String): Option[AttributeReference] =
    l.output.collectFirst { case a: AttributeReference if a.name == name => a }

  /** Is `e` an IN-list (or OR of IN-lists) whose only input column is the
    * prefix attribute — i.e. a predicate [[CellIndex.prunePredicate]]
    * could have produced? Used for fixed-point idempotency. */
  private def isPrefixInShape(e: Expression, attr: AttributeReference): Boolean = e match {
    case In(x, _) => x.references.size == 1 && x.references.head.semanticEquals(attr)
    case InSet(x, _) => x.references.size == 1 && x.references.head.semanticEquals(attr)
    case Or(l, r) => isPrefixInShape(l, attr) && isPrefixInShape(r, attr)
    case _ => false
  }

  /** The IcebergLite snapshot backing this parquet relation: the one
    * [[graft.data.IcebergLite.snapshotAt]] finds for the relation's first
    * root path.
    *
    * The optimizer calls this on every fixed-point iteration for every
    * Filter-over-parquet node, so the snapshot, and the tiling parsed from
    * its manifest, come from the session's snapshot slot
    * ([[graft.data.IcebergLite.currentOption]]) rather than being re-read
    * each pass; a new commit invalidates the slot. */
  private def snapshotOf(l: LogicalRelation) = l.relation match {
    case fs: HadoopFsRelation =>
      fs.location.rootPaths.headOption
        .flatMap(p => SparkSession.getActiveSession
          .flatMap(graft.data.IcebergLite.snapshotAt(_, p.toUri.getPath)))
    case _ => None
  }

  /** The box implied by the conjuncts: explicit range predicates on
    * lon/lat, or the bbox of a literal PIP polygon. All four bounds must be
    * present (an unbounded side has no finite covering).
    *
    * Anti-meridian: a top-level `lon >= a OR lon <= b` disjunct with a > b
    * (the canonical wrapped-box filter shape, q04) yields minLon = a >
    * maxLon = b — [[CellIndex.coverBox]] reads that as a wrapped box, so
    * the derived IN-list covers both sides of the meridian. */
  private def boundsOf(conjuncts: Seq[Expression],
                       lon: AttributeReference, lat: AttributeReference): Option[BBox] = {
    var minLon, minLat = Double.NaN
    var maxLon, maxLat = Double.NaN
    var wrapLo, wrapHi = Double.NaN // from a `lon >= a OR lon <= b` disjunct
    def upd(attr: Expression, lower: Boolean, v: Double): Unit = attr match {
      case a: AttributeReference if a.semanticEquals(lon) =>
        if (lower) { if (minLon.isNaN || v > minLon) minLon = v }
        else if (maxLon.isNaN || v < maxLon) maxLon = v
      case a: AttributeReference if a.semanticEquals(lat) =>
        if (lower) { if (minLat.isNaN || v > minLat) minLat = v }
        else if (maxLat.isNaN || v < maxLat) maxLat = v
      case _ =>
    }
    // a single comparison on THE lon attribute → (isLowerBound, value)
    def lonBound(e: Expression): Option[(Boolean, Double)] = Bound.unapply(e).collect {
      case (a: AttributeReference, lower, v) if a.semanticEquals(lon) => (lower, v)
    }
    conjuncts.foreach {
      case Or(l, r) =>
        (lonBound(l), lonBound(r)) match {
          case (Some((true, a)), Some((false, b))) if a > b => wrapLo = a; wrapHi = b
          case (Some((false, b)), Some((true, a))) if a > b => wrapLo = a; wrapHi = b
          case _ => // any other OR implies no bound for the whole conjunct
        }
      case Bound(a, lower, v) => upd(a, lower, v)
      case LiteralPip(rings, lonE, latE) if lonE.semanticEquals(lon) && latE.semanticEquals(lat) =>
        val b = GeoMath.polygonBBox(rings)
        upd(lon, lower = true, b.minLon); upd(lon, lower = false, b.maxLon)
        upd(lat, lower = true, b.minLat); upd(lat, lower = false, b.maxLat)
      case _ =>
    }
    if (minLat.isNaN || maxLat.isNaN || minLat > maxLat) None
    else if (!minLon.isNaN && !maxLon.isNaN && minLon <= maxLon)
      Some(BBox(minLon, minLat, maxLon, maxLat))
    else if (minLon.isNaN && maxLon.isNaN && !wrapLo.isNaN && !wrapHi.isNaN)
      Some(BBox(wrapLo, minLat, wrapHi, maxLat)) // wrapped: minLon > maxLon
    else None
  }

  /** A comparison of an expression with a numeric literal, either way
    * round: (expression, isLowerBound, value). The literal-on-right and
    * literal-on-left arms are disjoint patterns through [[Dbl]]. */
  private object Bound {
    def unapply(e: Expression): Option[(Expression, Boolean, Double)] = e match {
      case GreaterThanOrEqual(a, Dbl(d)) => Some((a, true, d))
      case GreaterThan(a, Dbl(d))        => Some((a, true, d))
      case LessThanOrEqual(a, Dbl(d))    => Some((a, false, d))
      case LessThan(a, Dbl(d))           => Some((a, false, d))
      case GreaterThanOrEqual(Dbl(d), a) => Some((a, false, d))
      case GreaterThan(Dbl(d), a)        => Some((a, false, d))
      case LessThanOrEqual(Dbl(d), a)    => Some((a, true, d))
      case LessThan(Dbl(d), a)           => Some((a, true, d))
      case _ => None
    }
  }

  private object Dbl {
    def unapply(e: Expression): Option[Double] = e match {
      case Literal(v: Double, _) => Some(v)
      case Literal(v: Float, _) => Some(v.toDouble)
      case Literal(v: Int, _) => Some(v.toDouble)
      case Literal(v: Long, _) => Some(v.toDouble)
      case _ => None
    }
  }

  /** The rings of a foldable-WKT PIP conjunct over the RECORDED lon/lat
    * columns, when present — enables the polygon (rather than bbox)
    * covering. Non-wrapped polygons only ([[graft.core.H3U.polyfillPoly]]
    * measures edge distance in plain degree space). */
  private def pipRingsOf(conjuncts: Seq[Expression],
                         lon: AttributeReference, lat: AttributeReference):
      Option[Array[Array[Double]]] =
    conjuncts.collectFirst {
      case LiteralPip(rings, lonE, latE) if lonE.semanticEquals(lon) && latE.semanticEquals(lat) =>
        rings
    }
}
