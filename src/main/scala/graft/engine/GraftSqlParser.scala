package graft.engine

import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{DataType, StructType}

/** ParserInterface wrapper (SURVEY §7.2's "nice-to-have"): lets
  * `spark.sql(...)` itself accept the ranger CREATE TABLE dialect —
  * statements that look like the dialect (Iceberg types, STORAGE /
  * SETTINGS clauses) are translated by [[RangerDdl]] and handed to the
  * delegate as Spark DDL; everything else passes through untouched.
  * Registered via graft.GraftExtensions (injectParser); QueryEngine
  * parses every statement it routes by plan with it. */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {

  /** Used only to pick which error to surface when BOTH parsers
    * reject a CREATE TABLE: a statement carrying a dialect marker gets
    * the (more specific) dialect error, anything else gets Spark's. */
  private val dialectMarker =
    """(?is)\)\s*(STORAGE\s+\w+|SETTINGS\s+\w+\s*=)|\b(int32|int64|float32|float64|timestamptz)\b""".r

  /** Spark-first, dialect-as-recovery: the delegate parses everything
    * it can (so a legitimate Spark CREATE TABLE whose string literals
    * or comments happen to contain `int32` is never misrouted); only
    * when Spark *rejects* a CREATE TABLE do we attempt the ranger
    * dialect. This is exactly the reference's gatekeeper order
    * inverted — safe because the two grammars are disjoint where it
    * matters (ranger requires lowercase Iceberg types and
    * STORAGE/SETTINGS clauses that Spark's parser rejects). */
  override def parsePlan(sqlText: String): LogicalPlan =
    try delegate.parsePlan(sqlText)
    catch {
      case sparkErr: org.apache.spark.sql.catalyst.parser.ParseException
          if sqlText.trim.toUpperCase.startsWith("CREATE TABLE") =>
        val ct =
          try RangerDdl.parseOrReport(sqlText) // multi-error report too
          catch {
            case dialectErr: RangerDdl.ParseError
                if dialectMarker.findFirstIn(sqlText).isDefined =>
              throw dialectErr
            case _: RangerDdl.ParseError => throw sparkErr
          }
        delegate.parsePlan(ct.toSparkSql(None))
    }

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}
