package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.types._

/** A non-null literal whose generated code does not contain its value.
  *
  * Spark's `Literal` writes numeric, boolean, date, timestamp and
  * interval values into the generated Java as constants, so `k = 1`
  * and `k = 2` are two source texts, two cache keys and two Janino
  * compiles. This expression reads the value from a field that
  * `init()` sets once from the generated class's `references` array
  * (`ctx.addReferenceObj`), the way Spark already passes string and
  * decimal literals. The generated source is then the same for every
  * value of the literal, and the codegen cache serves the variant.
  *
  * It is not foldable, so no optimizer or codegen path folds it back
  * into a constant; `eval` returns the value for interpreted paths.
  * It prints as the literal it carries, so plans explain unchanged,
  * and equality is the literal's, so exchange and subquery reuse stay
  * value-exact. */
case class LiteralRef(lit: Literal) extends LeafExpression {
  override def dataType: DataType = lit.dataType
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = lit.value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("literal", lit.value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "literalRef",
      v => s"$v = $ref.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }

  override def toString: String = lit.toString
  override def sql: String = lit.sql
}

/** Physical rule: literal-invariant codegen for filters and projections.
  *
  * In `FilterExec` conditions and `ProjectExec` lists it replaces each
  * non-null boolean, integral, floating, date, timestamp or interval
  * literal that is an operand of a comparison, an `IN` list element,
  * or a `CASE WHEN`/`IF` branch value with a [[LiteralRef]]. A point
  * lookup, an UPDATE's `SET col = lit` or a DELETE's key then compiles
  * once per statement shape instead of once per literal.
  *
  * It runs at `preColumnarTransitions` (registered in
  * [[graft.GraftExtensions]]), which Spark applies right before
  * `CollapseCodegenStages` both in the static preparation rules and on
  * every adaptive query stage. Scan pushdown, partition filters and
  * zonemap/bloom pruning were planned earlier from the logical plan,
  * so they still see the original literals. Idempotent: a
  * `LiteralRef` is not a `Literal`. */
object LiteralRefRule extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec =>
      val c = rewrite(f.condition)
      if (c == f.condition) f else f.copy(condition = c)
    case p: ProjectExec =>
      val l = p.projectList.map(rewrite(_).asInstanceOf[NamedExpression])
      if (l == p.projectList) p else p.copy(projectList = l)
  }

  private def rewrite(e: Expression): Expression = e.transformUp {
    case c: BinaryComparison => c.withNewChildren(c.children.map(ref))
    case i: In => i.copy(list = i.list.map(ref))
    case c: CaseWhen => c.copy(
      branches = c.branches.map { case (p, v) => (p, ref(v)) },
      elseValue = c.elseValue.map(ref))
    case i: If => i.copy(trueValue = ref(i.trueValue), falseValue = ref(i.falseValue))
  }

  private def ref(e: Expression): Expression = e match {
    case l @ Literal(v, dt) if v != null && inlined(dt) => LiteralRef(l)
    case other => other
  }

  /** The types whose values `Literal`'s codegen writes into the source
    * text; the rest (strings, decimals, calendar intervals, complex
    * types) already go through the references array. */
  private def inlined(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | DateType | TimestampType |
         TimestampNTZType => true
    case _: YearMonthIntervalType | _: DayTimeIntervalType => true
    case _ => false
  }
}
