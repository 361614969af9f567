package graft.engine

import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Alias, CurrentDate, CurrentTimestamp, DateFormatClass, Expression, Literal, Uuid}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule

/** Ranger system functions (parser.go:101-104, cases :5741-5747) as
  * Spark expressions. SYS_TIME is the reference's HH:mm:ss text.
  *
  * The call form `SYS_DATE()` resolves through the function registry
  * ([[graft.GraftExtensions]] injects [[builders]]), so it works
  * wherever Spark parses SQL: routed statements, MERGE's clauses and
  * `expr(...)`. The bare form `SYS_DATE` parses as a column name;
  * [[ResolveBareSysFunctions]] turns it into the call once column
  * resolution has failed — the way Spark resolves a bare
  * `current_date`. A real column of that name therefore wins, and a
  * string literal or quoted identifier is never touched. */
object SysFunctions {
  val builders: Map[String, () => Expression] = Map(
    "sys_date" -> (() => CurrentDate()),
    "sys_time" -> (() => DateFormatClass(CurrentTimestamp(), Literal("HH:mm:ss"))),
    "sys_timestamp" -> (() => CurrentTimestamp()),
    "generate_uuid" -> (() => Uuid()))

  private val bareCall = """(?i)^\s*(\w+)\s*(?:\(\s*\))?\s*$""".r

  /** A column DEFAULT with any system function spelled as the Spark
    * built-in it stands for: Spark keeps a DEFAULT as text and
    * resolves it against its built-in functions only. */
  def builtinDefault(default: String): String = default match {
    case bareCall(n) if builders.contains(n.toLowerCase) => builders(n.toLowerCase)().sql
    case _ => default
  }
}

/** Resolution rule for the bare system-function names. It fires on an
  * operator whose children are resolved, for a one-part name that no
  * column below the operator carries — so the analyzer's own column
  * resolution (including Sort/Having's look into the child's input)
  * always sees the name first. */
object ResolveBareSysFunctions extends Rule[LogicalPlan] {
  def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp {
    case p if !p.resolved && p.childrenResolved =>
      def isColumn(name: String) = p.children.exists(_.exists(
        _.output.exists(_.name.equalsIgnoreCase(name))))
      val bare: PartialFunction[Expression, Expression] = {
        case UnresolvedAttribute(Seq(n))
            if SysFunctions.builders.contains(n.toLowerCase) && !isColumn(n) =>
          SysFunctions.builders(n.toLowerCase)()
      }
      p match {
        // a select-list item must stay named: it takes the spelled name
        case _: Project | _: Aggregate => p.mapExpressions {
          case a @ UnresolvedAttribute(Seq(n)) if bare.isDefinedAt(a) =>
            Alias(bare(a), n)()
          case e => e.transform(bare)
        }
        case _ => p.transformExpressions(bare)
      }
  }
}
