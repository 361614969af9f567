package graft.engine

import scala.util.Try
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.command.{ExplainCommand, ShowNamespacesCommand}

/** Statement analysis, the analog of the reference's JDBC
  * SQLParserMiddleware (/root/reference/server/query/jdbc/
  * sql_parser_middleware.go:18-31,142-175,323-375): statement type,
  * referenced tables, join/subquery/aggregation flags, a
  * SIMPLE/MODERATE/COMPLEX complexity grade, and advisory (never
  * applied) optimization hints.
  *
  * Where the reference re-parses with its hand-written parser, this
  * walks Catalyst's *unresolved* logical plan — same grammar the engine
  * executes, zero drift. */
object QueryAnalyzer {

  final case class Analysis(
      statementType: String,
      tables: Seq[String],
      hasJoins: Boolean,
      hasSubqueries: Boolean,
      hasAggregations: Boolean,
      complexity: String,
      hints: Seq[String])

  /** Where a statement starts once leading whitespace and comments are
    * skipped, and its first two keywords, upper-cased, with opening
    * parentheses skipped too. Only the keyword blocklist and the
    * statement forms Spark's grammar lacks key on these. */
  final case class Lead(start: Int, keywords: Seq[String])

  def lead(sql: String): Lead = {
    val n = sql.length
    // past whitespace and comments (block comments nest, as in Spark's
    // lexer), and opening parentheses when asked
    @scala.annotation.tailrec
    def skip(i: Int, parens: Boolean): Int =
      if (i >= n) n
      else if (sql.charAt(i).isWhitespace || parens && sql.charAt(i) == '(')
        skip(i + 1, parens)
      else if (sql.startsWith("--", i))
        sql.indexOf('\n', i) match { case -1 => n; case e => skip(e + 1, parens) }
      else if (sql.startsWith("/*", i)) skip(commentEnd(i + 2, 1), parens)
      else i
    @scala.annotation.tailrec
    def commentEnd(i: Int, depth: Int): Int =
      if (depth == 0 || i >= n) i
      else if (sql.startsWith("/*", i)) commentEnd(i + 2, depth + 1)
      else if (sql.startsWith("*/", i)) commentEnd(i + 2, depth - 1)
      else commentEnd(i + 1, depth)
    def wordEnd(i: Int): Int =
      sql.indexWhere(c => !(c.isLetterOrDigit || c == '_'), i) match {
        case -1 => n
        case e => e
      }
    val start = skip(0, parens = false)
    val k1 = skip(start, parens = true)
    val k2 = skip(wordEnd(k1), parens = true)
    Lead(start, Seq(sql.substring(k1, wordEnd(k1)), sql.substring(k2, wordEnd(k2)))
      .takeWhile(_.nonEmpty).map(_.toUpperCase))
  }

  /** A plan with no command or DML node anywhere: a query. */
  def isQuery(plan: LogicalPlan): Boolean =
    !plan.exists {
      case _: Command | _: ParsedStatement => true
      case _ => false
    }

  /** Reference-style statement type of a parsed statement, including
    * the two-word DDL heads the CommandComplete tag generator
    * distinguishes (sql_parser_middleware.go:377-418). */
  def statementType(plan: LogicalPlan): String = plan match {
    case _: InsertIntoStatement => "INSERT"
    case _: UpdateTable => "UPDATE"
    case _: DeleteFromTable => "DELETE"
    case _: MergeIntoTable => "MERGE"
    case _: CreateNamespace => "CREATE DATABASE"
    case _: DropNamespace => "DROP DATABASE"
    case _: CreateTable | _: CreateTableAsSelect => "CREATE TABLE"
    case _: DropTable => "DROP TABLE"
    case _: SetCatalogAndNamespace => "USE"
    case _: ExplainCommand => "EXPLAIN"
    case _: DescribeRelation => "DESCRIBE"
    case _: ShowColumns | _: ShowCreateTable | _: ShowTables |
         _: ShowNamespacesCommand => "SHOW"
    case p if isQuery(p) => "SELECT"
    case p => p.nodeName.toUpperCase
  }

  def analyze(spark: SparkSession, sql: String): Analysis = {
    val plan = Try(spark.sessionState.sqlParser.parsePlan(sql)).toOption
    val tables = plan.map(collectTables).getOrElse(Seq.empty).distinct
    val joins = plan.exists(_.collect { case j: Join => j }.nonEmpty) ||
      tables.length > 1 // reference semantics: HasJoins = multi-table
    val subqueries = plan.exists(p =>
      p.collect { case s: SubqueryAlias => s }.nonEmpty ||
      p.exists(_.expressions.exists(_.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.SubqueryExpression]))))
    val aggs = plan.exists(_.collect { case a: Aggregate => a }.nonEmpty)
    val score = Seq(joins, subqueries, aggs).count(identity) +
      (if (tables.length > 2) 1 else 0)
    val complexity = score match {
      case 0     => "SIMPLE"
      case 1     => "MODERATE"
      case _     => "COMPLEX"
    }
    Analysis(plan.map(statementType).getOrElse(lead(sql).keywords.headOption.getOrElse("")),
      tables, joins, subqueries, aggs, complexity, hints(sql, tables, joins))
  }

  private def collectTables(plan: LogicalPlan): Seq[String] = {
    val direct = plan.collect {
      case r: UnresolvedRelation => r.multipartIdentifier.mkString(".")
    }
    // subquery plans hang off expressions, not the operator tree
    val nested = plan.collect { case p => p }
      .flatMap(_.expressions)
      .flatMap(_.collect {
        case s: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
          collectTables(s.plan)
      })
      .flatten
    direct ++ nested
  }

  /** Advisory strings matching the reference's tone
    * (sql_parser_middleware.go:350-375) — returned, never applied. */
  private def hints(sql: String, tables: Seq[String], joins: Boolean): Seq[String] = {
    val upper = sql.toUpperCase
    Seq(
      if (upper.contains("SELECT *")) Some(
        "avoid SELECT * — project only needed columns so the scan can prune")
      else None,
      if (!upper.contains(" LIMIT ") && upper.startsWith("SELECT")) Some(
        "consider adding LIMIT for exploratory queries")
      else None,
      if (joins && !upper.contains(" WHERE ")) Some(
        "multi-table query without WHERE — verify the join predicate")
      else None
    ).flatten
  }
}
