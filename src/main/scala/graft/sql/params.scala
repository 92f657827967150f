package graft.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical.Range
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, RangeExec, SparkPlan}
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.types._

/** Literal-independent codegen. Catalyst writes a primitive `Literal`
  * into the generated Java source, so every query with fresh geometry (a
  * box corner, a kNN query point, a probed cell) generates new source,
  * misses `CodeGenerator`'s cache and pays a Janino compile. This
  * physical-plan rule swaps the query-varying literals of `FilterExec`
  * conditions, `ProjectExec` project lists and join conditions for a
  * [[ParamLiteral]], whose generated code reads its value from the
  * class's `references`: queries of one shape then share one compiled
  * class, each instance with its own references.
  *
  * What is swapped:
  *  - double and float literals (box bounds, the bounds [[DerivePipBBox]]
  *    derives, the kNN distance's query point), except as a divisor;
  *  - a literal of any primitive type compared with a value (`cell = c`,
  *    `id >= n`);
  *  - an `IN (…)` of integral literals, and an integral `InSet` (the ring
  *    probes' cell lists), becomes a [[ParamInSet]]: a membership test on
  *    one referenced set, so the list's length is no part of the shape
  *    either (Spark compiles a short list into a chain of comparisons and
  *    an int set into a `switch`, both over the inlined values);
  *  - the first id of a `Range` (`spark.range(start, end)`), which becomes
  *    a [[ParamRangeExec]]: ranges of one length and step, such as batches
  *    of positions generated in flight, share one class.
  *
  * What stays inline, and why:
  *  - an integral literal anywhere else — a level, bit count or modulus
  *    as a function argument or arithmetic operand. It is structural (the
  *    same for every query of one shape), and the JIT folds integer `/` and
  *    `%` by a constant, which a field read would turn into a real divide
  *    on every row of a scan;
  *  - a divisor of any type, whose value also decides the expression's
  *    nullability;
  *  - the file scan's pushed data filters and partition filters, which
  *    are not codegen'd: Parquet pruning and [[DeriveCoveringPrune]]'s
  *    IN-list see plain literals.
  *
  * Both nodes print as the nodes they replace, so explain output does not
  * change, and evaluate to the same value when interpreted. The rule is
  * idempotent (adaptive execution applies it again to every new stage);
  * it runs as a pre-columnar-transition rule, which both the plain and
  * the adaptive path apply just before whole-stage codegen. */
object ParamLiterals extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case p @ (_: FilterExec | _: ProjectExec | _: BaseJoinExec) => p.mapExpressions(param)
    case r: RangeExec if !r.isInstanceOf[ParamRangeExec] && r.start != 0 &&
        (BigInt(r.end) - r.start).isValidLong => new ParamRangeExec(r.range)
  }

  private def param(e: Expression): Expression = e match {
    case l @ Literal(v, DoubleType | FloatType) if v != null => ParamLiteral(v, l.dataType)
    case d: BinaryArithmetic if d.isInstanceOf[DivModLike] || d.isInstanceOf[Pmod] =>
      d.withNewChildren(Seq(param(d.left), d.right match {
        case l: Literal => l
        case r => param(r)
      }))
    case c: BinaryComparison => c.withNewChildren(c.children.map(value))
    case in @ In(v, list) if Integral(v.dataType) && list.nonEmpty && list.forall(_.isInstanceOf[Literal]) =>
      ParamInSet(in.copy(value = param(v)))
    case s @ InSet(v, hset) if Integral(v.dataType) && hset.nonEmpty => ParamInSet(s.copy(child = param(v)))
    case other => other.mapChildren(param)
  }

  /** A compared value: any non-null primitive literal. */
  private def value(e: Expression): Expression = e match {
    case l @ Literal(v, t) if v != null && CodeGenerator.isPrimitiveType(t) => ParamLiteral(v, t)
    case other => param(other)
  }

  /** Types whose values a boxed set holds as the generated code boxes them. */
  private val Integral: Set[DataType] = Set(ByteType, ShortType, IntegerType, LongType, DateType)
}

/** A primitive literal whose generated code reads the value from the
  * class's `references`, unboxed once into a field when the class is
  * initialised. Prints and evaluates as the `Literal` it replaces. */
case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {
  @transient private lazy val literal = Literal(value, dataType)
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = literal.toString
  override def sql: String = literal.sql
  // without the value: subexpression elimination emits a shape's common
  // subexpressions in hash order, which must not depend on the values
  override def hashCode: Int = dataType.hashCode

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val field = ctx.addMutableState(javaType, "param", v =>
      s"$v = ${ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))}.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

/** An `IN (…)` of literals or an `InSet` over an integral value, `pred`,
  * as a membership test on one referenced set, read into a field when the
  * class is initialised. Prints and evaluates as `pred`. */
case class ParamInSet(pred: Expression) extends UnaryExpression with Predicate {
  override def child: Expression = pred match {
    case In(v, _) => v
    case InSet(v, _) => v
  }
  private def hset: Set[Any] = pred match {
    case In(_, list) => list.map(_.asInstanceOf[Literal].value).toSet
    case InSet(_, set) => set
  }
  override def nullable: Boolean = pred.nullable
  override def eval(input: InternalRow): Any = pred.eval(input)
  override def toString: String = pred.toString
  override def simpleString(maxFields: Int): String = pred.simpleString(maxFields)
  override def sql: String = pred.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val values = hset
    val setClass = "scala.collection.immutable.Set"
    val set = ctx.addMutableState(setClass, "paramSet", v =>
      s"$v = ${ctx.addReferenceObj("set", values, setClass)};")
    // a list holding NULL answers NULL for a value it does not hold
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $set.contains($c);" +
      (if (values.contains(null)) s"\nif (!${ev.value}) ${ev.isNull} = true;" else ""))
  }

  override protected def withNewChildInternal(c: Expression): Expression = ParamInSet(pred match {
    case in: In => in.copy(value = c)
    case s: InSet => s.copy(child = c)
  })
}

/** A `Range` whose generated code reads its first id from the class's
  * `references`: it runs `RangeExec`'s code for the range shifted to
  * start at 0 and adds the start to every id, so only the range's length,
  * step and split count are part of the source. Prints, plans, executes
  * without codegen and reports metrics as the `RangeExec` it replaces. */
class ParamRangeExec(r: Range) extends RangeExec(r) { self =>
  private val shifted = new RangeExec(range.copy(start = 0, end = range.end - range.start)) {
    override lazy val metrics: Map[String, SQLMetric] = self.metrics
  }
  override def nodeName: String = "Range"
  // unequal to the RangeExec it replaces, either way round: a plan keeps a
  // new child only when it differs from the old one
  override def canEqual(o: Any): Boolean = o.isInstanceOf[ParamRangeExec]
  override def equals(o: Any): Boolean = o match {
    case p: ParamRangeExec => range == p.range
    case _ => false
  }
  override def hashCode: Int = range.hashCode

  override def doProduce(ctx: CodegenContext): String = shifted.produce(ctx, this)

  override def doConsume(ctx: CodegenContext, input: Seq[ExprCode], row: ExprCode): String = {
    val start = ctx.addMutableState(CodeGenerator.JAVA_LONG, "rangeStart", v =>
      s"$v = ${ctx.addReferenceObj("rangeStart", range.start, "java.lang.Long")}.longValue();")
    val id = ctx.freshName("id")
    s"""long $id = ${input.head.value} + $start;
       |${consume(ctx, Seq(ExprCode.forNonNullValue(JavaCode.variable(id, LongType))))}""".stripMargin
  }
}
