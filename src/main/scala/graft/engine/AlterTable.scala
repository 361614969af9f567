package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.types.IcebergTypes

/** ALTER TABLE column operations with real schema evolution over the
  * v1 parquet catalog (reference grammar: parser.go:1998-2227 —
  * DROP COLUMN / ALTER COLUMN <type> / SETTINGS(k=v); ADD COLUMN is
  * the natural superset).
  *
  * ADD COLUMN maps to Spark's native ADD COLUMNS (metadata-only).
  * DROP/ALTER/RENAME COLUMN need a physical rewrite on parquet v1 (no
  * Iceberg jar in this container): one copy-on-write commit of every
  * live file plus a catalog schema swap ([[rebuild]]). At warehouse
  * scale this is the copy-on-write schema migration every non-Iceberg
  * lake runs; with the Iceberg runtime present the same statements
  * become metadata-only operations.
  */
object AlterTable {

  /** The engine's snapshot plus copy-on-write commit of every live
    * file of a table: (table, replacement rows). */
  type Rewrite = (String, DataFrame) => Unit

  private val dropColRe =
    """(?is)^ALTER\s+TABLE\s+([\w.`]+)\s+DROP\s+COLUMN\s+`?(\w+)`?$""".r
  private val alterColRe =
    """(?is)^ALTER\s+TABLE\s+([\w.`]+)\s+ALTER\s+COLUMN\s+`?(\w+)`?\s+(.+)$""".r
  private val addColRe =
    """(?is)^ALTER\s+TABLE\s+([\w.`]+)\s+ADD\s+COLUMN\s+`?(\w+)`?\s+(.+)$""".r
  private val renameColRe =
    """(?is)^ALTER\s+TABLE\s+([\w.`]+)\s+RENAME\s+COLUMN\s+`?(\w+)`?\s+TO\s+`?(\w+)`?$""".r
  private val settingsRe =
    """(?is)^ALTER\s+TABLE\s+([\w.`]+)\s+SETTINGS\s*\(?\s*(.*?)\s*\)?$""".r

  /** Returns Some(message) when the statement is one of the dialect's
    * ALTER forms; None = caller should pass through to Spark.
    * Type-spec failures surface as position-tracked ParseErrors (the
    * same "parse error at line L, column C" surface as CREATE TABLE),
    * pointing at the type token. */
  def execute(spark: SparkSession, sql: String,
              rewrite: Rewrite): Option[String] =
    addColRe.findFirstMatchIn(sql).map { m =>
      addColumn(spark, clean(m.group(1)), m.group(2),
        positionedType(sql, m.group(3).trim, m.start(3)))
    }.orElse(dropColRe.findFirstMatchIn(sql).map { m =>
      dropColumn(spark, rewrite, clean(m.group(1)),
        canonical(spark, clean(m.group(1)), m.group(2)))
    }).orElse(renameColRe.findFirstMatchIn(sql).map { m =>
      renameColumn(spark, rewrite, clean(m.group(1)),
        canonical(spark, clean(m.group(1)), m.group(2)), m.group(3))
    }).orElse(alterColRe.findFirstMatchIn(sql).map { m =>
      alterColumn(spark, rewrite, clean(m.group(1)),
        canonical(spark, clean(m.group(1)), m.group(2)),
        positionedType(sql, m.group(3).trim, m.start(3)))
    }).orElse(settingsRe.findFirstMatchIn(sql).collect {
      case m if m.group(2).nonEmpty =>
        settings(spark, clean(m.group(1)), m.group(2))
    })

  private final case class TypeSpec(
      icebergType: String,
      sparkType: org.apache.spark.sql.types.DataType,
      notNull: Boolean)

  /** Validated type spec: checks the Iceberg type EAGERLY at the
    * match site (so a bad type reports its (line, column) in the
    * original statement) and carries the parsed Spark type so
    * consumers never re-parse. */
  private def positionedType(sql: String, typeSpec: String,
                             offset: Int): TypeSpec = {
    val (icebergType, notNull) = splitType(typeSpec)
    try TypeSpec(icebergType, IcebergTypes.parse(icebergType), notNull)
    catch { case te: IcebergTypes.TypeError =>
      throw RangerDdl.ParseError.at(sql, offset, te.message)
    }
  }

  private def clean(t: String): String = t.replace("`", "")

  /** The schema's own spelling of `column` — DDL matches names
    * case-insensitively, but the rewrite bookkeeping (graft.columns,
    * graft.type.<col>) and the transform must use the canonical case or
    * the column silently keeps its old bookkeeping. */
  private def canonical(spark: SparkSession, t: String, column: String): String =
    spark.table(t).schema.fieldNames
      .find(_.equalsIgnoreCase(column))
      .getOrElse(throw new IllegalArgumentException(
        s"column '$column' does not exist in $t"))

  private def props(spark: SparkSession, t: String): Map[String, String] =
    spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(t)).properties

  private def setProps(spark: SparkSession, t: String,
                       kvs: Map[String, String]): Unit =
    if (kvs.nonEmpty) {
      val body = kvs.map { case (k, v) =>
        s"'$k'='${v.replace("'", "''")}'"
      }.mkString(", ")
      spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ($body)")
    }

  // ---------------------------------------------------------------- ADD

  private def addColumn(spark: SparkSession, t: String,
                        column: String, spec: TypeSpec): String = {
    val TypeSpec(icebergType, sparkType, notNull) = spec
    spark.sql(s"ALTER TABLE $t ADD COLUMNS (`$column` ${sparkType.sql})")
    val p = props(spark, t)
    val updates = Map(
      "graft.columns" -> (p.get("graft.columns").map(_ + ",").getOrElse("") + column),
      s"graft.type.$column" -> icebergType) ++
      (if (notNull)
        Map("graft.notnull" ->
          (p.get("graft.notnull").map(_ + ",").getOrElse("") + column))
       else Map.empty)
    setProps(spark, t, updates)
    s"Column $column added"
  }

  // --------------------------------------------------------------- DROP

  private def dropColumn(spark: SparkSession, rewrite: Rewrite, t: String,
                         column: String): String = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(t))
    // existence is guaranteed by canonical() at dispatch
    require(!meta.partitionColumnNames.exists(_.equalsIgnoreCase(column)),
      s"cannot drop partition column '$column'")
    rebuild(spark, t, rewrite, df => df.drop(column), remaining =>
      remaining.filterNot { case (k, _) =>
        k == s"graft.type.$column"
      }.map { case (k, v) =>
        if (Set("graft.columns", "graft.notnull", "graft.unique",
                "graft.primarykey").contains(k))
          k -> v.split(",").filterNot(_.equalsIgnoreCase(column)).mkString(",")
        else k -> v
      }.filterNot(_._2.isEmpty))
    s"Column $column dropped"
  }

  // -------------------------------------------------------------- ALTER

  private def alterColumn(spark: SparkSession, rewrite: Rewrite, t: String,
                          column: String, spec: TypeSpec): String = {
    val TypeSpec(icebergType, newType, _) = spec
    rebuild(spark, t, rewrite,
      df => df.withColumn(column, col(column).cast(newType)),
      remaining => remaining.map {
        case (k, _) if k == s"graft.type.$column" => k -> icebergType
        case kv => kv
      })
    s"Column $column altered to $icebergType"
  }

  // -------------------------------------------------------------- RENAME

  /** RENAME COLUMN — parquet stores column names in the footers, so on
    * the v1 catalog this is the same rewrite as DROP/ALTER (with
    * the Iceberg runtime it would be metadata-only). Every graft.*
    * bookkeeping list carries the rename. */
  private def renameColumn(spark: SparkSession, rewrite: Rewrite, t: String,
                           from: String, to: String): String = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(t))
    require(!meta.partitionColumnNames.exists(_.equalsIgnoreCase(from)),
      s"cannot rename partition column '$from'")
    require(!spark.table(t).schema.fieldNames.exists(_.equalsIgnoreCase(to)),
      s"column '$to' already exists in $t")
    rebuild(spark, t, rewrite, df => df.withColumnRenamed(from, to), remaining =>
      remaining.map { case (k, v) =>
        if (k == s"graft.type.$from") s"graft.type.$to" -> v
        else if (Set("graft.columns", "graft.notnull", "graft.unique",
                     "graft.primarykey").contains(k))
          k -> v.split(",").map(c =>
            if (c.equalsIgnoreCase(from)) to else c).mkString(",")
        else k -> v
      } +
        // breadcrumb for the Iceberg mirror: the spec says RENAME keeps
        // the field id, but the mirror only sees the post-rename
        // CatalogTable — this records which previous field the new name
        // continues, consumed on the next emit's name-match miss
        (s"graft.renamed.${to.toLowerCase}" -> from.toLowerCase))
    s"Column $from renamed to $to"
  }

  // ----------------------------------------------------------- SETTINGS

  /** `'zstd'` / `"zstd"` → `zstd`: the reference parser accepts quoted
    * literal values in SETTINGS (parser.go SETTINGS branch), so the
    * stored value must be the literal, not the quoted spelling. */
  private def stripQuotes(v: String): String =
    if (v.length >= 2 &&
        ((v.head == '\'' && v.last == '\'') ||
         (v.head == '"' && v.last == '"'))) v.substring(1, v.length - 1)
    else v

  private def settings(spark: SparkSession, t: String, kvs: String): String = {
    val parsed = kvs.split(",").map(_.trim).filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => k.trim -> stripQuotes(v.trim)
        case _ => throw new IllegalArgumentException(s"invalid SETTINGS entry: '$kv'")
      }
    }.toMap
    parsed.get("compression").foreach { codec =>
      if (!Set("none", "snappy", "gzip", "brotli", "lz4", "zstd")
            .contains(codec.toLowerCase))
        throw new IllegalArgumentException(s"unsupported compression codec: $codec")
    }
    RangerDdl.commitLogSettingError(parsed)
      .foreach(msg => throw new IllegalArgumentException(msg))
    setProps(spark, t,
      parsed.map { case (k, v) => s"graft.settings.$k" -> v } ++
        parsed.get("compression").map { c =>
          "parquet.compression" ->
            (if (c.toLowerCase == "none") "uncompressed" else c.toLowerCase)
        })
    "Settings updated"
  }

  // ---------------------------------------------------------- machinery

  /** The column rewrite DROP/ALTER/RENAME share: `rewrite` (the
    * engine's snapshot plus copy-on-write commit) replaces every live
    * file with `transform`'s rows, then the catalog schema and
    * properties swap — after the rewritten files are in place and
    * before the statement's publish. The pre-ALTER files retire in
    * place at their own paths, so the ALTER snapshot's pinned version
    * keeps reading them under its recorded schema, and the statement
    * publishes one log version. A table in another format (created
    * outside the engine) becomes a parquet table: the rewrite wrote
    * parquet. A failure in the staged write leaves the catalog and the
    * data as they were. */
  private def rebuild(spark: SparkSession, t: String, rewrite: Rewrite,
                      transform: DataFrame => DataFrame,
                      evolveProps: Map[String, String] => Map[String, String]): Unit = {
    val catalog = spark.sessionState.catalog
    val meta = catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(t))
    val transformed = transform(spark.table(t))
    rewrite(t, transformed)
    catalog.alterTable(meta.copy(schema = transformed.schema,
      properties = evolveProps(meta.properties), provider = Some("parquet")))
    spark.catalog.refreshTable(t)
  }

  /** "int32 NOT NULL" → ("int32", true). */
  private def splitType(spec: String): (String, Boolean) = {
    val notNull = "(?i)\\bNOT\\s+NULL\\b".r.findFirstIn(spec).isDefined
    val t = spec.replaceAll("(?i)\\bNOT\\s+NULL\\b", "").trim
    (t, notNull)
  }
}
