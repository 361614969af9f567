package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.functions.expressions.{MinHashExpr, MisraGriesAgg, SimHash64Expr, ShinglesExpr}
import graft.plans.{RankToTopKRule, TopKStrategy}

/** Spark extension entry point — the idiomatic way to ship this
  * library's native functions and custom operator:
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * registers simhash64 / minhash_sig / word_shingles / mg_summary and
  * the ranger system functions (SYS_DATE, SYS_TIME, SYS_TIMESTAMP,
  * GENERATE_UUID — [[graft.engine.SysFunctions]]) as SQL functions and
  * installs the TopKPerKey planner strategy in every session built
  * with the conf (SparkSessionExtensions is the supported hook; no
  * internals patched). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got: $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64Expr].getName, "simhash64"),
      (exprs: Seq[Expression]) => SimHash64Expr(exprs.head)))
    ext.injectFunction((
      new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashExpr].getName, "minhash_sig"),
      (exprs: Seq[Expression]) =>
        MinHashExpr(exprs.head, intLit(exprs(1), "minhash_sig width"))))
    ext.injectFunction((
      new FunctionIdentifier("word_shingles"),
      new ExpressionInfo(classOf[ShinglesExpr].getName, "word_shingles"),
      (exprs: Seq[Expression]) =>
        ShinglesExpr(exprs.head, intLit(exprs(1), "word_shingles k"))))
    ext.injectFunction((
      new FunctionIdentifier("mg_summary"),
      new ExpressionInfo(classOf[MisraGriesAgg].getName, "mg_summary"),
      (exprs: Seq[Expression]) =>
        MisraGriesAgg(exprs.head, intLit(exprs(1), "mg_summary capacity"))))
    graft.engine.SysFunctions.builders.foreach { case (name, build) =>
      ext.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(build().getClass.getName, name),
        (exprs: Seq[Expression]) => {
          require(exprs.isEmpty, s"${name.toUpperCase} takes no arguments")
          build()
        }))
    }
    ext.injectResolutionRule(_ => graft.engine.ResolveBareSysFunctions)
    ext.injectPlannerStrategy(_ => TopKStrategy)
    ext.injectOptimizerRule(_ => RankToTopKRule)
    // commit-log resolution FIRST: the zonemap rule then prunes within
    // the manifest's (snapshot-consistent) listing
    ext.injectOptimizerRule(session => new graft.plans.CommitLogRule(session))
    ext.injectOptimizerRule(session => new graft.plans.ZonemapPruneRule(session))
    ext.injectParser((_, delegate) => new graft.engine.GraftSqlParser(delegate))
  }
}
