package graft.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.GeoMath

/* Catalyst expressions for the graft SQL functions — the Spark-native
  * re-expression of pangeo-geohash's vectorized C++ kernels (SURVEY.md
  * §3.1). The reference vectorizes by looping over NumPy buffers with the
  * GIL released; here the same effect falls out of WholeStageCodegen: each
  * scalar function emits a static call into [[graft.core]] inside the
  * generated per-row loop, with no virtual dispatch.
  *
  * Every scalar is one row of [[GraftFunctions.scalars]] and one node,
  * [[KernelCall]], which calls the [[GraftKernels]] method named after the
  * function; the engine recognises a cell encoder by its row
  * ([[CellIndex]] `cellArgs`). The other classes are [[StContainsWkt]]
  * (matched by [[DerivePipBBox]]; parses a foldable WKT once), the
  * generator [[GhCoveringCells]] and the aggregate [[CollectCapped]].
  */

/** A scalar function of [[GraftFunctions.scalars]] over its (already cast)
  * arguments: a static call of the [[GraftKernels]] method `fn.name` in
  * generated code, the same method called reflectively when interpreted.
  * The result is NULL on a NULL argument and, for a `nullOnNaN` row, when
  * lon or lat (the first two arguments) is NaN — the core codecs would
  * otherwise quietly encode cell 0 (see GeohashCoreSpec). Any caller,
  * analysis or a later rule, builds it through its row's `build`. */
case class KernelCall(fn: GraftFunctions.Scalar, children: Seq[Expression]) extends Expression {
  override def dataType: DataType = fn.output
  override def nullable: Boolean = fn.nullOnNaN || children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = fn.name
  override protected def stringArgs: Iterator[Any] = children.iterator

  @transient private lazy val kernel =
    GraftKernels.getClass.getMethods.find(_.getName == fn.name).get

  override def eval(input: InternalRow): Any = {
    val args = children.map(_.eval(input).asInstanceOf[AnyRef])
    if (args.contains(null) || fn.nullOnNaN && args.take(2).exists(_.asInstanceOf[Double].isNaN)) null
    else try kernel.invoke(GraftKernels, args: _*)
    catch { case e: java.lang.reflect.InvocationTargetException if e.getCause != null => throw e.getCause }
  }

  // each argument evaluated once, a NULL test only after a nullable one
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val args = children.map(_.genCode(ctx))
    val vs = args.map(_.value)
    val call = s"graft.sql.GraftKernels.${fn.name}(${vs.mkString(", ")})"
    val javaType = CodeGenerator.javaType(dataType)
    if (!nullable)
      ev.copy(code = code"""
        ${args.map(_.code.toString).mkString("\n")}
        $javaType ${ev.value} = $call;""", isNull = FalseLiteral)
    else {
      val result = s"${ev.isNull} = false; ${ev.value} = $call;"
      val guarded =
        if (fn.nullOnNaN) s"if (!java.lang.Double.isNaN(${vs(0)}) && !java.lang.Double.isNaN(${vs(1)})) { $result }"
        else result
      val body = children.zip(args).foldRight(guarded) { case ((c, a), inner) =>
        if (c.nullable) s"${a.code}\nif (!${a.isNull}) {\n$inner\n}" else s"${a.code}\n$inner"
      }
      ev.copy(code = code"""
        boolean ${ev.isNull} = true;
        $javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
        $body""")
    }
  }

  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(children = cs)
}

/** st_contains_wkt(wkt, lon, lat) → BOOLEAN — even-odd point-in-polygon
  * against a WKT POLYGON (extension: exact refine after the cell-coarse
  * join, SURVEY.md §3.3). When the WKT is foldable (the common case: a
  * literal query polygon) the rings are parsed once at plan time and shared
  * through the codegen reference table. */
case class StContainsWkt(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "st_contains_wkt"

  @transient private lazy val staticRings: Array[Array[Double]] =
    if (first.foldable) {
      val w = first.eval(null)
      if (w == null) null else GeoMath.parseWktPolygon(w.asInstanceOf[UTF8String].toString)
    } else null

  override def nullSafeEval(wkt: Any, lon: Any, lat: Any): Any = {
    val rings = if (staticRings != null) staticRings
                else GeoMath.parseWktPolygon(wkt.asInstanceOf[UTF8String].toString)
    GeoMath.pointInPolygon(lon.asInstanceOf[Double], lat.asInstanceOf[Double], rings)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (first.foldable && staticRings != null) {
      val ringsRef = ctx.addReferenceObj("pipRings", staticRings, "double[][]")
      nullSafeCodeGen(ctx, ev, (_, lon, lat) =>
        s"${ev.value} = graft.core.GeoMath.pointInPolygon($lon, $lat, $ringsRef);")
    } else {
      nullSafeCodeGen(ctx, ev, (wkt, lon, lat) =>
        s"${ev.value} = graft.core.GeoMath.pointInPolygon($lon, $lat, graft.core.GeoMath.parseWktPolygon($wkt.toString()));")
    }

  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** gh_covering_cells(min_lon, min_lat, max_lon, max_lat, bits) — Generator
  * form: one output row per cell of `child`, the `gh_covering` call over
  * the same arguments (column `cell: LONG`; a NULL argument gives no row).
  * The distributed analogue of the reference's lattice walk (SURVEY.md
  * §3.1 #8): LATERAL-explode boxes into cells, then equi-join on cell. */
case class GhCoveringCells(child: Expression) extends ExplodeBase {
  override val position: Boolean = false
  override def elementSchema: StructType = StructType(Seq(StructField("cell", LongType, false)))
  override def prettyName: String = "gh_covering_cells"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** collect_capped(v, cap) → ARRAY — the group's values SORTED, or NULL when
  * the group has more than `cap` members. The ONE-PASS form of "count each
  * bucket, keep only small buckets, then gather their members": the
  * aggregation buffer stops growing at cap+1 elements, so a degenerate hot
  * bucket (a boilerplate min-hash key shared by 10⁹ docs at 100 TB) costs
  * O(cap) memory per group — unlike collect_list, which would materialize
  * the whole bucket before any size filter could run. Drives the fused
  * min-hash candidate stage ([[graft.engine.TextOps.lshCandidates]]).
  * Children limited to STRING / BIGINT / INT (id-like columns). */
case class CollectCapped(
    child: Expression, cap: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[java.util.ArrayList[Any]] {

  require(cap >= 1, s"collect_capped cap must be >= 1, got $cap")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)
  override def prettyName: String = "collect_capped"

  // enforce the supported id-like types at analysis time — without this the
  // serialize() fallback would writeInt a double and die mid-shuffle with a
  // ClassCastException instead of a clear analysis error
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType | LongType | IntegerType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"collect_capped supports STRING/BIGINT/INT children, got ${other.catalogString}")
    }

  private lazy val cmp: java.util.Comparator[Any] = child.dataType match {
    case StringType => (a: Any, b: Any) =>
      a.asInstanceOf[UTF8String].compareTo(b.asInstanceOf[UTF8String])
    case LongType => (a: Any, b: Any) =>
      java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
    case IntegerType => (a: Any, b: Any) =>
      java.lang.Integer.compare(a.asInstanceOf[Int], b.asInstanceOf[Int])
    case other => throw new IllegalArgumentException(
      s"collect_capped supports string/bigint/int children, got $other")
  }

  override def createAggregationBuffer(): java.util.ArrayList[Any] =
    new java.util.ArrayList[Any](4)

  override def update(buf: java.util.ArrayList[Any], input: InternalRow): java.util.ArrayList[Any] = {
    if (buf.size() <= cap) { // grows to cap+1, then stops: overflow marker
      val v = child.eval(input)
      if (v != null) buf.add(v match {
        case s: UTF8String => s.clone() // unsafe-row backed memory is reused
        case x => x
      })
    }
    buf
  }

  override def merge(b1: java.util.ArrayList[Any], b2: java.util.ArrayList[Any]): java.util.ArrayList[Any] = {
    var i = 0
    while (i < b2.size() && b1.size() <= cap) { b1.add(b2.get(i)); i += 1 }
    b1
  }

  override def eval(buf: java.util.ArrayList[Any]): Any = {
    if (buf.size() > cap) null
    else {
      val arr = new Array[Any](buf.size())
      var i = 0
      while (i < arr.length) { arr(i) = buf.get(i); i += 1 }
      java.util.Arrays.sort(arr.asInstanceOf[Array[AnyRef]], cmp.asInstanceOf[java.util.Comparator[AnyRef]])
      new GenericArrayData(arr)
    }
  }

  override def serialize(buf: java.util.ArrayList[Any]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(buf.size())
    var i = 0
    child.dataType match {
      case StringType => while (i < buf.size()) {
        val b = buf.get(i).asInstanceOf[UTF8String].getBytes
        out.writeInt(b.length); out.write(b); i += 1
      }
      case LongType => while (i < buf.size()) { out.writeLong(buf.get(i).asInstanceOf[Long]); i += 1 }
      case _ => while (i < buf.size()) { out.writeInt(buf.get(i).asInstanceOf[Int]); i += 1 }
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): java.util.ArrayList[Any] = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new java.util.ArrayList[Any](n)
    var i = 0
    child.dataType match {
      case StringType => while (i < n) {
        val len = in.readInt(); val b = new Array[Byte](len)
        in.readFully(b); buf.add(UTF8String.fromBytes(b)); i += 1
      }
      case LongType => while (i < n) { buf.add(in.readLong()); i += 1 }
      case _ => while (i < n) { buf.add(in.readInt()); i += 1 }
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CollectCapped =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CollectCapped =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(child = cs(0))
}
