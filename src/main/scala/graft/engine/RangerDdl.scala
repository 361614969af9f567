package graft.engine

import graft.types.IcebergTypes
import org.apache.spark.sql.types.StructType

/** Hand parser for the reference's CREATE TABLE dialect:
  *
  *   CREATE TABLE [IF NOT EXISTS] [db.]t (
  *     name <iceberg-type> [NOT NULL] [UNIQUE] [DEFAULT <lit>] [PRIMARY KEY],
  *     ...
  *   ) [STORAGE {filesystem|memory|s3}]
  *     [PARTITION BY (col, ...)]
  *     [ORDER BY (col, ...)]
  *     [SETTINGS k=v, ...]
  *
  * Grammar spec: /root/reference/server/query/parser/parser.go:3411-3624
  * (statement), :6018-6228 (STORAGE/PARTITION BY/ORDER BY/SETTINGS
  * clauses), column constraints :3741-3941. Only Iceberg types are
  * accepted (ast.go:163-169) — see [[graft.types.IcebergTypes]].
  *
  * The translation target is Spark DDL (`USING parquet` — this build
  * has no Iceberg runtime jar; the table format is a catalog property
  * away). Constraints Spark does not enforce (UNIQUE, PRIMARY KEY) and
  * ranger-specific clauses (STORAGE, SETTINGS, ORDER BY) are recorded
  * as `graft.*` table properties, mirroring how the reference stores
  * them in its registry rather than enforcing them in the engine.
  */
object RangerDdl {

  /** Dialect parse failure. `line`/`column` are 1-based positions in
    * the ORIGINAL statement text (0 = unpositioned, for semantic
    * errors with no single source location), mirroring the
    * reference's ParseError.Error() rendering
    * ("parse error at line L, column C: msg",
    * server/query/parser/errors.go:126-135). */
  final case class ParseError(message: String, line: Int = 0, column: Int = 0)
    extends IllegalArgumentException(message)

  object ParseError {
    /** Position-tracked error: line/col computed from `offset` into
      * `source` and rendered into the message, reference-style. */
    def at(source: String, offset: Int, msg: String): ParseError = {
      val (l, c) = SqlPosition.lineColumn(source, offset)
      ParseError(s"parse error at line $l, column $c: $msg", l, c)
    }
  }

  final case class ColumnDef(
      name: String,
      icebergType: String,
      notNull: Boolean,
      unique: Boolean,
      default: Option[String],
      primaryKey: Boolean)

  final case class CreateTable(
      database: Option[String],
      table: String,
      ifNotExists: Boolean,
      columns: Seq[ColumnDef],
      storage: String,
      partitionBy: Seq[String],
      orderBy: Seq[String],
      settings: Map[String, String]) {

    def qualified(defaultDb: Option[String]): String =
      database.orElse(defaultDb) match {
        case Some(db) => s"`$db`.`$table`"
        case None => s"`$table`" // session's current database applies
      }

    def sparkSchema: StructType = StructType(columns.map(c =>
      org.apache.spark.sql.types.StructField(
        c.name, IcebergTypes.parse(c.icebergType), nullable = !c.notNull)))

    /** Canonical ranger-dialect rendering (the reference's
      * FormatQuery/formatCreateTableStmt analog, formatter.go:586-677):
      * uppercase keywords, single spacing, canonical Iceberg type
      * names, trailing `;`. Reparsing the rendering is semantically
      * identical and `formatted` is its fixpoint:
      * parse(x.formatted).formatted == x.formatted. */
    def formatted: String = {
      val ine = if (ifNotExists) "IF NOT EXISTS " else ""
      val name = database.map(d => s"$d.").getOrElse("") + table
      val cols = columns.map { c =>
        val parts = Seq(c.name, IcebergTypes.canonical(c.icebergType)) ++
          (if (c.notNull && !c.primaryKey) Seq("NOT NULL") else Nil) ++
          (if (c.unique) Seq("UNIQUE") else Nil) ++
          c.default.map(d => s"DEFAULT $d").toSeq ++
          (if (c.primaryKey) Seq("PRIMARY KEY") else Nil)
        parts.mkString(" ")
      }.mkString(", ")
      val clauses = Seq(
        if (storage != "filesystem") s" STORAGE $storage" else "",
        if (partitionBy.nonEmpty) partitionBy.mkString(" PARTITION BY (", ", ", ")") else "",
        if (orderBy.nonEmpty) orderBy.mkString(" ORDER BY (", ", ", ")") else "",
        if (settings.nonEmpty)
          settings.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }
            .mkString(" SETTINGS ", ", ", "")
        else "").mkString
      s"CREATE TABLE $ine$name ($cols)$clauses;"
    }

    /** Spark DDL equivalent. */
    def toSparkSql(defaultDb: String): String = toSparkSql(Some(defaultDb))

    def toSparkSql(defaultDb: Option[String]): String =
      toSparkSql(defaultDb, s3Base = None)

    /** `s3Base` (e.g. `s3a://bucket/warehouse`) supplies the external
      * location for STORAGE s3 tables — the Spark mapping of the
      * reference's S3 engine (server/storage/s3/fs.go): same DDL, the
      * table's files live under the object store via the s3a Hadoop
      * connector instead of a bespoke S3 filesystem layer. SETTINGS
      * become `graft.settings.*` properties; `commitlog=true` is always
      * among them — a record, not a choice: every table keeps a commit
      * log, and SHOW CREATE TABLE / DESCRIBE EXTENDED say so. */
    def toSparkSql(defaultDb: Option[String], s3Base: Option[String]): String = {
      val settings = Map("commitlog" -> "true") ++ this.settings
      val colsSql = columns.map { c =>
        val t = IcebergTypes.parse(c.icebergType).sql
        val nn = if (c.notNull) " NOT NULL" else ""
        val dv = c.default.map(d => s" DEFAULT ${SysFunctions.builtinDefault(d)}")
          .getOrElse("")
        s"`${c.name}` $t$nn$dv"
      }.mkString(", ")
      val ine = if (ifNotExists) "IF NOT EXISTS " else ""
      val part =
        if (partitionBy.isEmpty) ""
        else partitionBy.mkString(" PARTITIONED BY (", ", ", ")")
      val props = Seq(
        Some("graft.storage" -> storage),
        Some("graft.columns" -> columns.map(_.name).mkString(",")),
        {
          // Spark's parquet catalog erases nullability on read; record
          // NOT NULL here so the engine can keep enforcing it
          val nn = columns.filter(_.notNull).map(_.name)
          if (nn.nonEmpty) Some("graft.notnull" -> nn.mkString(",")) else None
        },
        if (orderBy.nonEmpty) Some("graft.orderby" -> orderBy.mkString(",")) else None,
        {
          val uniques = columns.filter(_.unique).map(_.name)
          if (uniques.nonEmpty) Some("graft.unique" -> uniques.mkString(",")) else None
        },
        {
          val pks = columns.filter(_.primaryKey).map(_.name)
          if (pks.nonEmpty) Some("graft.primarykey" -> pks.mkString(",")) else None
        }
      ).flatten ++
        columns.map(c => s"graft.type.${c.name}" -> c.icebergType) ++
        settings.toSeq.sortBy(_._1).map { case (k, v) => s"graft.settings.$k" -> v } ++
        // SETTINGS compression=<codec> becomes a real writer property
        // (codec list: reference parquet/compression.go:21-107)
        settings.get("compression").map { codec =>
          val c = codec.toLowerCase
          "parquet.compression" -> (if (c == "none") "uncompressed" else c)
        }
      val propsSql = props
        .map { case (k, v) => s"'$k'='${v.replace("'", "''")}'" }
        .mkString(" TBLPROPERTIES (", ", ", ")")
      val location = (storage, s3Base) match {
        case ("s3", Some(base)) =>
          val db = database.orElse(defaultDb).getOrElse("default")
          s" LOCATION '${base.stripSuffix("/")}/$db/$table'"
        case ("s3", None) =>
          throw ParseError(
            "STORAGE s3 requires spark.graft.s3.bucket (s3a:// base URI) " +
            "and the hadoop-aws connector on the classpath")
        case _ => ""
      }
      s"CREATE TABLE $ine${qualified(defaultDb)} ($colsSql) USING parquet$part$location$propsSql"
    }
  }

  /** `SETTINGS commitlog=…` no longer chooses anything: every table
    * keeps a commit log. `true` stays accepted as a no-op so existing
    * DDL parses; any other value is refused — by CREATE TABLE here and
    * by ALTER TABLE … SETTINGS. */
  private[engine] def commitLogSettingError(settings: Map[String, String]): Option[String] =
    settings.collectFirst {
      case (k, v) if k.equalsIgnoreCase("commitlog") && !v.equalsIgnoreCase("true") =>
        s"unsupported commitlog setting: $v (every table keeps a commit log)"
    }

  private val headerRe =
    """(?is)^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([A-Za-z_][\w]*)(?:\.([A-Za-z_][\w]*))?\s*\(""".r

  private val constraintRe =
    """(?i)\b(NOT\s+NULL|UNIQUE|DEFAULT|PRIMARY\s+KEY)\b""".r

  /** First-error-throws entry point (the common path: engine facade,
    * ParserInterface). Throws the POSITION-SORTED first error of the
    * full collection — the same error [[parseCollecting]] and
    * [[parseOrReport]] lead with, so the three entry points never
    * disagree on a statement's primary error. */
  def parse(sql: String): CreateTable =
    parseCollecting(sql) match {
      case Right(ct)  => ct
      case Left(errs) => throw errs.head
    }

  /** [[parseCollecting]] that THROWS its result: a single mistake
    * throws the plain positioned error, several throw one ParseError
    * carrying the ErrorCollector's "Found N parsing errors" report
    * (including the suppressed-count note when the cap was hit) —
    * shared by the engine facade and the spark.sql ParserInterface so
    * both surfaces report identically. */
  def parseOrReport(sql: String): CreateTable = {
    val collector = new ErrorCollector()
    parseWithCollector(sql, collector) match {
      case Some(ct) if !collector.hasErrors => ct
      case _ =>
        val errs = collector.errors
        if (errs.length == 1 && collector.dropped == 0) throw errs.head
        else throw ParseError(collector.formatAll(sql),
          errs.head.line, errs.head.column)
    }
  }

  /** Error-RECOVERING parse, mirroring the reference's ErrorCollector
    * (server/query/parser/error_recovery_test.go): instead of
    * stopping at the first bad column, recovery resumes at the next
    * top-level comma / clause boundary and every failure is collected
    * (position-sorted, capped at `maxErrors`) so the user fixes one
    * round-trip's worth of mistakes, not one mistake per round-trip.
    * Structure errors that remove the recovery anchors themselves
    * (not a CREATE TABLE, unbalanced parens) are fatal and come back
    * alone. */
  def parseCollecting(sql: String, maxErrors: Int = 10)
      : Either[Seq[ParseError], CreateTable] = {
    val collector = new ErrorCollector(maxErrors)
    parseWithCollector(sql, collector) match {
      case Some(ct) if !collector.hasErrors => Right(ct)
      case _ => Left(collector.errors)
    }
  }

  /** The recovering parse body; errors go to `collector`, the result
    * is Some only when structure allowed a full parse (it may still
    * be meaningless if collector.hasErrors). */
  private def parseWithCollector(sql: String,
                                 collector: ErrorCollector): Option[CreateTable] = {
    // offsets are tracked against the ORIGINAL text so reported
    // line/column positions match what the user submitted
    val lead = sql.indexWhere(!_.isWhitespace) match {
      case -1 => 0
      case i  => i
    }
    val stmt = sql.trim.stripSuffix(";").trim
    val m = headerRe.findFirstMatchIn(stmt).getOrElse {
      collector.add(ParseError.at(sql, lead,
        s"not a CREATE TABLE statement: ${stmt.take(60)}"))
      return None
    }
    val ifNotExists = m.group(1) != null
    val (db, table) =
      if (m.group(3) != null) (Some(m.group(2)), m.group(3))
      else (None, m.group(2))

    // find the matching close paren of the column list
    val openIdx = m.end - 1
    var depth = 0
    var closeIdx = -1
    var i = openIdx
    while (i < stmt.length && closeIdx < 0) {
      stmt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) closeIdx = i
        case _ =>
      }
      i += 1
    }
    if (closeIdx < 0) {
      collector.add(ParseError.at(sql, lead + openIdx,
        "unbalanced parentheses in column list"))
      return None
    }
    val colsBody = stmt.substring(openIdx + 1, closeIdx)
    val tail = stmt.substring(closeIdx + 1)

    val pieces = splitWithOffsets(colsBody)
    val columns = pieces.flatMap { case (c, off) =>
      try Some(parseColumn(sql, lead + openIdx + 1 + off, c))
      catch { case e: ParseError => collector.add(e); None }
    }
    if (pieces.isEmpty)
      collector.add(ParseError.at(sql, lead + openIdx,
        "CREATE TABLE requires at least one column"))
    val names = columns.map(_.name.toLowerCase)
    if (names.distinct.length != names.length) {
      val dup = names.diff(names.distinct).head
      // position of the SECOND occurrence of the duplicated name
      val dupOff = pieces
        .filter(_._1.takeWhile(!_.isWhitespace).toLowerCase == dup)
        .drop(1).headOption.map(_._2).getOrElse(0)
      collector.add(ParseError.at(sql, lead + openIdx + 1 + dupOff,
        s"duplicate column name: $dup"))
    }

    val tailParsed =
      try Some(parseTail(sql, lead + closeIdx + 1, tail))
      catch { case e: ParseError => collector.add(e); None }
    tailParsed.foreach { case (_, _, _, settings) =>
      settings.get("compression").foreach { codec =>
        // codec list: reference parquet/compression.go:21-107
        if (!Set("none", "uncompressed", "snappy", "gzip", "brotli",
                 "lz4", "zstd").contains(codec.toLowerCase)) {
          val off = stmt.indexOf(codec) // best-effort: value is semantic
          collector.add(ParseError.at(sql, lead + math.max(off, 0),
            s"unsupported compression codec: $codec"))
        }
      }
      commitLogSettingError(settings).foreach { msg =>
        val off = stmt.toLowerCase.lastIndexOf("commitlog")
        collector.add(ParseError.at(sql, lead + math.max(off, 0), msg))
      }
    }
    tailParsed.map { case (storage, partitionBy, orderBy, settings) =>
      CreateTable(db, table, ifNotExists, columns, storage,
        partitionBy, orderBy, settings)
    }
  }

  /** [[IcebergTypes.splitTopLevel]] plus the offset of each trimmed
    * piece within `s` — positions for per-column errors. */
  private def splitWithOffsets(s: String): Seq[(String, Int)] = {
    val out = Seq.newBuilder[(String, Int)]
    var depth = 0
    var start = 0
    def emit(end: Int): Unit = {
      val piece = s.substring(start, end)
      val ws = piece.indexWhere(!_.isWhitespace)
      if (ws >= 0) out += piece.trim -> (start + ws)
    }
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '<' | '(' => depth += 1
        case '>' | ')' => depth -= 1
        case ',' if depth == 0 => emit(i); start = i + 1
        case _ =>
      }
      i += 1
    }
    emit(s.length)
    out.result()
  }

  /** `base` = absolute offset of `def0` within `source`. */
  private def parseColumn(source: String, base: Int, def0: String): ColumnDef = {
    val d = def0 // pre-trimmed by splitWithOffsets, offset accounted
    val sp = d.indexWhere(_.isWhitespace)
    if (sp < 0) throw ParseError.at(source, base,
      s"column definition needs a type: '$d'")
    val name = d.substring(0, sp)
    if (!name.matches("[A-Za-z_][\\w]*"))
      throw ParseError.at(source, base, s"invalid column name: '$name'")
    val restWs = d.indexWhere(!_.isWhitespace, sp)
    val rest = d.substring(restWs)
    val restOff = base + restWs
    // the type runs until the first constraint keyword (constraint
    // keywords cannot appear inside <...> or (...) of a type)
    val cm = constraintRe.findFirstMatchIn(rest)
    val (typeStr, consStr, consOff) = cm match {
      case Some(c) => (rest.substring(0, c.start).trim,
                       rest.substring(c.start), restOff + c.start)
      case None    => (rest, "", restOff + rest.length)
    }
    if (typeStr.isEmpty) throw ParseError.at(source, restOff,
      s"column '$name' needs a type")
    try IcebergTypes.parse(typeStr) // validates; throws TypeError w/ detail
    catch { case te: IcebergTypes.TypeError =>
      throw ParseError.at(source, restOff, te.message)
    }

    var notNull = false; var unique = false; var pk = false
    var default: Option[String] = None
    var remaining = consStr
    var remOff = consOff
    def advance(k: Int): Unit = {
      val ws = remaining.indexWhere(!_.isWhitespace, k) match {
        case -1 => remaining.length
        case j  => j
      }
      remaining = remaining.substring(ws)
      remOff += ws
    }
    advance(0)
    while (remaining.nonEmpty) {
      val lower = remaining.toLowerCase
      if (lower.startsWith("not null")) {
        notNull = true; advance(8)
      } else if (lower.startsWith("unique")) {
        unique = true; advance(6)
      } else if (lower.startsWith("primary key")) {
        pk = true; notNull = true; advance(11)
      } else if (lower.startsWith("default")) {
        val kwOff = remOff
        advance(7)
        val end = constraintRe.findFirstMatchIn(remaining).map(_.start)
          .getOrElse(remaining.length)
        val lit = remaining.substring(0, end).trim
        if (lit.isEmpty) throw ParseError.at(source, kwOff,
          s"DEFAULT needs a value (column '$name')")
        default = Some(lit)
        advance(end)
      } else {
        throw ParseError.at(source, remOff,
          s"unexpected token in column '$name': '$remaining'")
      }
    }
    ColumnDef(name, typeStr, notNull, unique, default, pk)
  }

  private val storageRe = """(?is)^\s*STORAGE\s+([A-Za-z_]\w*)""".r
  private val partitionRe = """(?is)^\s*PARTITION\s+BY\s*\(([^)]*)\)""".r
  private val orderRe = """(?is)^\s*ORDER\s+BY\s*\(([^)]*)\)""".r
  private val settingsRe = """(?is)^\s*SETTINGS\s+(.*)$""".r

  /** `base` = absolute offset of `tail0` within `source`. */
  private def parseTail(source: String, base: Int, tail0: String)
      : (String, Seq[String], Seq[String], Map[String, String]) = {
    var tail = tail0
    var off = base
    def consume(k: Int): Unit = {
      val ws = tail.indexWhere(!_.isWhitespace, k) match {
        case -1 => tail.length
        case j  => j
      }
      tail = tail.substring(ws)
      off += ws
    }
    consume(0)
    var storage = "filesystem" // reference default: storage.go:133-164
    var partitionBy = Seq.empty[String]
    var orderBy = Seq.empty[String]
    var settings = Map.empty[String, String]
    while (tail.nonEmpty) {
      storageRe.findFirstMatchIn(tail) match {
        case Some(m) =>
          storage = m.group(1).toLowerCase
          if (!Set("filesystem", "memory", "s3").contains(storage))
            throw ParseError.at(source, off + m.start(1),
              s"unknown STORAGE engine: $storage")
          consume(m.end)
        case None => partitionRe.findFirstMatchIn(tail) match {
          case Some(m) =>
            partitionBy = m.group(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
            consume(m.end)
          case None => orderRe.findFirstMatchIn(tail) match {
            case Some(m) =>
              orderBy = m.group(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
              consume(m.end)
            case None => settingsRe.findFirstMatchIn(tail) match {
              case Some(m) =>
                // walk entries with a running offset so a malformed
                // entry reports ITS position, not the clause's
                val bodyOff = off + m.start(1)
                settings = splitWithOffsets(m.group(1)).map { case (kv, o) =>
                  kv.split("=", 2) match {
                    case Array(k, v) => k.trim -> v.trim
                    case _ => throw ParseError.at(source, bodyOff + o,
                      s"invalid SETTINGS entry: '$kv'")
                  }
                }.toMap
                tail = ""
              case None =>
                throw ParseError.at(source, off,
                  s"unexpected clause after column list: '${tail.take(40)}'")
            }
          }
        }
      }
    }
    (storage, partitionBy, orderBy, settings)
  }
}
