package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import graft.types.IcebergTypes

/** MERGE INTO — upsert for incremental pipelines (superset: the
  * reference's ingest path is append-only and routes no MERGE;
  * cf. /root/reference/server/query/query.go statement switch).
  *
  * ```
  * MERGE INTO tgt [AS t] USING <table | (subquery) [AS s[(cols)]]>
  *   ON <cond>
  *   [WHEN MATCHED [AND c] THEN UPDATE SET x = e, ...]...
  *   [WHEN MATCHED [AND c] THEN DELETE]...
  *   [WHEN NOT MATCHED [AND c] THEN INSERT [(cols)] VALUES (e, ...)]...
  * ```
  *
  * Executed as ONE full-outer join + a single copy-on-write rewrite:
  *  - every target column becomes a CASE over (matched?, first
  *    applicable clause) — first-match-wins, the ANSI rule;
  *  - updated / deleted / inserted counts OBSERVE the same job
  *    (CollectMetrics) — no separate counting scans;
  *  - the ANSI multi-match error (a target row joining >1 source rows
  *    would be updated/deleted nondeterministically) is a bounded
  *    pre-job: inner-join grouped by a per-target-row id, `LIMIT 1` on
  *    any group with n > 1. Only runs when a MATCHED clause exists.
  *
  * Scale: the join shuffles on the ON keys exactly once (AQE picks
  * broadcast when the source is batch-sized — the common case for
  * incremental upserts). The engine runs it over the copy-on-write
  * scope only — the target files holding a row the source matches —
  * and replaces exactly those files, inserts riding the same commit.
  *
  * Column references in ON / SET / VALUES should be alias-qualified
  * (`t.c`, `s.c`); unqualified names shared by both sides resolve
  * ambiguous, as in ANSI.
  */
object MergeInto {

  final case class Matched(cond: Option[String],
                           sets: Option[Seq[(String, String)]]) // None = DELETE
  final case class NotMatched(cond: Option[String],
                              cols: Seq[String], vals: Seq[String])
  final case class Parsed(table: String, tAlias: String,
                          sourceIsQuery: Boolean, source: String,
                          sAlias: String,
                          onCond: String,
                          matched: Seq[Matched], notMatched: Seq[NotMatched])

  private val headRe =
    """(?is)^MERGE\s+INTO\s+([\w.`]+)(?:\s+(?:AS\s+)?(?!USING\b)(\w+))?\s+USING\s+(.*)$""".r
  private val matchedUpdRe =
    """(?is)^MATCHED(?:\s+AND\s+(.+?))?\s+THEN\s+UPDATE\s+SET\s+(.+)$""".r
  private val matchedDelRe =
    """(?is)^MATCHED(?:\s+AND\s+(.+?))?\s+THEN\s+DELETE\s*$""".r
  private val notMatchedRe =
    """(?is)^NOT\s+MATCHED(?:\s+AND\s+(.+?))?\s+THEN\s+INSERT\s*(?:\(([^)]*)\)\s*)?VALUES\s*\((.+)\)\s*$""".r

  /** None when the statement is not a MERGE; throws on a malformed one
    * (the head matched — the user meant MERGE). */
  def parse(sql: String): Option[Parsed] = sql.trim match {
    case headRe(table, tAliasOpt, rest0) =>
      val t = table.replace("`", "")
      val tAlias = Option(tAliasOpt).getOrElse(t.split('.').last)
      var rest = rest0.trim
      // --- source: (subquery) or table name
      val (isQuery, source) =
        if (rest.startsWith("(")) {
          val end = matchParen(rest, 0)
          val inner = rest.substring(0, end + 1)
          rest = rest.substring(end + 1).trim
          (true, inner)
        } else {
          val m = """(?s)^([\w.`]+)\s*(.*)$""".r.findFirstMatchIn(rest)
            .getOrElse(fail("cannot parse MERGE source"))
          rest = m.group(2).trim
          (false, m.group(1).replace("`", ""))
        }
      // --- optional source alias [+ column list]
      val aliasRe = """(?is)^(?:AS\s+)?(?!ON\b)(\w+)\s*(\(([^)]*)\))?\s*(.*)$""".r
      val (sAlias, colAliases, afterAlias) = rest match {
        case aliasRe(a, _, colsOpt, tail) =>
          (a, Option(colsOpt).map(_.trim).filter(_.nonEmpty), tail.trim)
        case _ =>
          if (isQuery) fail("MERGE subquery source needs an alias")
          (if (source.contains('.')) source.split('.').last else source,
            None, rest)
      }
      val sourceSql =
        if (isQuery)
          s"SELECT * FROM $source AS $sAlias${colAliases.map("(" + _ + ")").getOrElse("")}"
        else source
      // --- ON cond up to the first top-level WHEN
      if (!afterAlias.toUpperCase.startsWith("ON"))
        fail("MERGE needs an ON clause")
      val afterOn = afterAlias.substring(2).trim
      val pieces = splitOnTopLevelWord(afterOn, "WHEN")
      if (pieces.length < 2) fail("MERGE needs at least one WHEN clause")
      val onCond = pieces.head.trim
      val matched = Seq.newBuilder[Matched]
      val notMatched = Seq.newBuilder[NotMatched]
      pieces.tail.map(_.trim).foreach {
        case matchedUpdRe(cond, setList) =>
          val sets = IcebergTypes.splitTopLevel(setList).map { a =>
            a.split("=", 2) match {
              case Array(c, v) => c.trim.replace("`", "") -> v.trim
              case _ => fail(s"bad MERGE SET clause: '$a'")
            }
          }
          matched += Matched(Option(cond).map(_.trim), Some(sets))
        case matchedDelRe(cond) =>
          matched += Matched(Option(cond).map(_.trim), None)
        case notMatchedRe(cond, colsOpt, vals) =>
          notMatched += NotMatched(
            Option(cond).map(_.trim),
            Option(colsOpt).toSeq.flatMap(_.split(",").map(
              _.trim.replace("`", "")).filter(_.nonEmpty)),
            IcebergTypes.splitTopLevel(vals))
        case other => fail(s"cannot parse MERGE WHEN clause: 'WHEN $other'")
      }
      Some(Parsed(t, tAlias, isQuery, sourceSql, sAlias, onCond,
        matched.result(), notMatched.result()))
    case _ => None
  }

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(msg)

  /** index of the ')' matching the '(' at `from` (quote-aware). */
  private def matchParen(s: String, from: Int): Int = {
    var depth = 0; var i = from; var inStr = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) { if (c == '\'') inStr = false }
      else c match {
        case '\'' => inStr = true
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) return i
        case _ =>
      }
      i += 1
    }
    fail("unbalanced parentheses in MERGE statement")
  }

  /** Split on word occurrences at paren depth 0, outside string
    * literals, on word boundaries; the text before the first
    * occurrence is element 0. */
  private def splitOnTopLevelWord(s: String, word: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0; var inStr = false; var i = 0
    val w = word.toUpperCase
    def boundary(c: Char) = !Character.isLetterOrDigit(c) && c != '_'
    while (i < s.length) {
      val c = s.charAt(i)
      if (!inStr && depth == 0 && c.toUpper == w.charAt(0) &&
          i + w.length <= s.length &&
          s.substring(i, i + w.length).equalsIgnoreCase(w) &&
          (i == 0 || boundary(s.charAt(i - 1))) &&
          (i + w.length == s.length || boundary(s.charAt(i + w.length)))) {
        out += cur.toString; cur.clear()
        i += w.length
      } else {
        if (inStr) { if (c == '\'') inStr = false }
        else c match {
          case '\'' => inStr = true
          case '(' => depth += 1
          case ')' => depth -= 1
          case _ =>
        }
        cur += c
        i += 1
      }
    }
    out += cur.toString
    out.result()
  }

  final case class Plan(result: DataFrame, obs: Observation)

  /** The programmatic upsert shape: UPDATE every non-key column on
    * match, INSERT everything on miss — what a CDC/streaming sink
    * wants, without rendering SQL. `frozenCols`: columns set on INSERT but never UPDATEd — the
    * engine passes the table's partition columns here, so an upsert
    * never moves a row across partitions (partition value is part of
    * row identity, the Hive/Delta convention). */
  def upsertParsed(table: String, keyCols: Seq[String],
                   columns: Seq[String],
                   frozenCols: Seq[String] = Seq.empty): Parsed = {
    require(keyCols.nonEmpty, "upsert needs at least one key column")
    val nonKey = columns.filterNot(c =>
      keyCols.contains(c) || frozenCols.contains(c))
    Parsed(table, "t", sourceIsQuery = false, source = "<override>",
      sAlias = "s",
      onCond = keyCols.map(k => s"t.`$k` = s.`$k`").mkString(" AND "),
      matched =
        if (nonKey.isEmpty) Seq.empty
        else Seq(Matched(None, Some(nonKey.map(c => c -> s"s.`$c`")))),
      notMatched = Seq(NotMatched(None, columns,
        columns.map(c => s"s.`$c`"))))
  }

  /** ANSI multi-match guard: non-empty iff some `target` row matches
    * multiple source rows (only built when a MATCHED clause exists).
    * `target` may be any slice of the table that holds every row the
    * source can match. Run it BEFORE the rewrite. */
  def dupCheck(p: Parsed, target: DataFrame,
               srcRaw: DataFrame): Option[DataFrame] =
    if (p.matched.isEmpty) None
    else Some(
      target
        .withColumn("__tid", monotonically_increasing_id())
        .alias(p.tAlias)
        .join(srcRaw.alias(p.sAlias), expr(p.onCond), "inner")
        .groupBy(col("__tid")).agg(count(lit(1)).as("n"))
        .where(col("n") > 1).limit(1))

  /** `declaredOrder`: the user-visible column order for positional
    * `INSERT VALUES` without a column list (the DDL order — Spark's
    * catalog moves partition columns last, SHOW COLUMNS does not).
    * `srcRaw`: the resolved source rows. `target`: the target rows the
    * merge runs against — the whole table, or the copy-on-write scope
    * (the files holding every row some source row matches), whose
    * result then replaces exactly those files. `result` is the merged
    * content of `target` plus the inserts; `obs` yields
    * updated/deleted/inserted once `result` executes. */
  def plan(p: Parsed, declaredOrder: Seq[String], srcRaw: DataFrame,
           target: DataFrame): Plan = {
    val schema = target.schema
    val tCols = schema.fieldNames.toSeq
    val insertOrder = if (declaredOrder.nonEmpty) declaredOrder else tCols

    val src = srcRaw.withColumn("__sm", lit(true)).alias(p.sAlias)
    val tgt = target.withColumn("__tm", lit(true)).alias(p.tAlias)

    val j = tgt.join(src, expr(p.onCond), "full_outer")
    val mFlag = coalesce(col("__tm"), lit(false))
    val sFlag = coalesce(col("__sm"), lit(false))
    val isMatched = mFlag && sFlag

    def applicable(cond: Option[String]): Column =
      cond.map(c => coalesce(expr(c), lit(false))).getOrElse(lit(true))

    // first applicable clause index per row (-1 = none) — foldRight so
    // the earliest clause wins, the ANSI order
    val midx = when(isMatched,
      p.matched.zipWithIndex.foldRight(lit(-1): Column) {
        case ((cl, i), acc) => when(applicable(cl.cond), lit(i)).otherwise(acc)
      }).otherwise(lit(-1))
    val nidx = when(sFlag && !mFlag,
      p.notMatched.zipWithIndex.foldRight(lit(-1): Column) {
        case ((cl, i), acc) => when(applicable(cl.cond), lit(i)).otherwise(acc)
      }).otherwise(lit(-1))

    val deleteIdxs = p.matched.zipWithIndex.collect {
      case (Matched(_, None), i) => i }
    val isDelete =
      if (deleteIdxs.isEmpty) lit(false)
      else midx.isInCollection(deleteIdxs)

    val keep = when(isMatched, !isDelete)
      .when(mFlag, lit(true))
      .otherwise(nidx >= 0)

    def valueFor(c: String): Column = {
      val dt = schema(c).dataType
      val tCol = col(s"${p.tAlias}.$c")
      val matchedCase = p.matched.zipWithIndex.foldLeft(tCol) {
        case (acc, (Matched(_, Some(sets)), i)) =>
          sets.find(_._1.equalsIgnoreCase(c)) match {
            case Some((_, v)) =>
              when(midx === i, expr(v).cast(dt)).otherwise(acc)
            case None => acc
          }
        case (acc, _) => acc
      }
      val insertCase = p.notMatched.zipWithIndex
        .foldLeft(lit(null).cast(dt): Column) { case (acc, (cl, i)) =>
          val cols = if (cl.cols.isEmpty) insertOrder else cl.cols
          val pos = cols.indexWhere(_.equalsIgnoreCase(c))
          if (pos >= 0 && pos < cl.vals.length)
            when(nidx === i, expr(cl.vals(pos)).cast(dt)).otherwise(acc)
          else acc
        }
      when(mFlag, matchedCase).otherwise(insertCase).as(c)
    }

    val obs = new Observation()
    val result = j
      .observe(obs,
        sum(when(isMatched && (midx >= 0) && !isDelete, 1L).otherwise(0L))
          .as("updated"),
        sum(when(isMatched && isDelete, 1L).otherwise(0L)).as("deleted"),
        sum(when(sFlag && !mFlag && (nidx >= 0), 1L).otherwise(0L))
          .as("inserted"))
      .where(keep)
      .select(tCols.map(valueFor): _*)
    Plan(result, obs)
  }
}
