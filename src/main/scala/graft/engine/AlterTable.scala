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
  * DROP/ALTER COLUMN need a physical rewrite on parquet v1 (no
  * Iceberg jar in this container): stage the transformed rows
  * durably, recreate the table with the evolved schema and updated
  * graft.* bookkeeping, reload from staging. At warehouse scale this
  * is the copy-on-write schema migration every non-Iceberg lake runs;
  * with the Iceberg runtime present the same statements become
  * metadata-only operations.
  */
object AlterTable {

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
  def execute(spark: SparkSession, sql: String): Option[String] =
    addColRe.findFirstMatchIn(sql).map { m =>
      addColumn(spark, clean(m.group(1)), m.group(2),
        positionedType(sql, m.group(3).trim, m.start(3)))
    }.orElse(dropColRe.findFirstMatchIn(sql).map { m =>
      dropColumn(spark, clean(m.group(1)),
        canonical(spark, clean(m.group(1)), m.group(2)))
    }).orElse(renameColRe.findFirstMatchIn(sql).map { m =>
      renameColumn(spark, clean(m.group(1)),
        canonical(spark, clean(m.group(1)), m.group(2)), m.group(3))
    }).orElse(alterColRe.findFirstMatchIn(sql).map { m =>
      alterColumn(spark, clean(m.group(1)),
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
    * case-insensitively, but the rebuild bookkeeping (graft.columns,
    * graft.type.<col>, recreated DDL) must use the canonical case or
    * the column silently vanishes from the recreated table. */
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

  private def dropColumn(spark: SparkSession, t: String, column: String): String = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(t))
    // existence is guaranteed by canonical() at dispatch
    require(!meta.partitionColumnNames.exists(_.equalsIgnoreCase(column)),
      s"cannot drop partition column '$column'")
    rebuild(spark, t, df => df.drop(column), remaining =>
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

  private def alterColumn(spark: SparkSession, t: String,
                          column: String, spec: TypeSpec): String = {
    val TypeSpec(icebergType, newType, _) = spec
    rebuild(spark, t,
      df => df.withColumn(column, col(column).cast(newType)),
      remaining => remaining.map {
        case (k, _) if k == s"graft.type.$column" => k -> icebergType
        case kv => kv
      })
    s"Column $column altered to $icebergType"
  }

  // -------------------------------------------------------------- RENAME

  /** RENAME COLUMN — parquet stores column names in the footers, so on
    * the v1 catalog this is the same staged rebuild as DROP/ALTER (with
    * the Iceberg runtime it would be metadata-only). Every graft.*
    * bookkeeping list carries the rename. */
  private def renameColumn(spark: SparkSession, t: String,
                           from: String, to: String): String = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(t))
    require(!meta.partitionColumnNames.exists(_.equalsIgnoreCase(from)),
      s"cannot rename partition column '$from'")
    require(!spark.table(t).schema.fieldNames.exists(_.equalsIgnoreCase(to)),
      s"column '$to' already exists in $t")
    rebuild(spark, t, df => df.withColumnRenamed(from, to), remaining =>
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

  /** Stage → build the replacement under a TEMP name → swap via
    * rename. The staged parquet copy is durable before anything is
    * dropped, and the catalog is without `t` only between two
    * metadata-only operations (DROP old, RENAME tmp) — a crash at any
    * other point leaves either the original or a fully-loaded
    * replacement queryable (the round-2 non-atomic-rebuild finding). */
  private[graft] def rebuild(spark: SparkSession, t: String,
                      transform: DataFrame => DataFrame,
                      evolveProps: Map[String, String] => Map[String, String]): Unit = {
    if (Snapshots.enabled(spark)) Snapshots.create(spark, t, "ALTER")
    val catalog = spark.sessionState.catalog
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(t)
    val meta = catalog.getTableMetadata(ident)
    val parts = meta.partitionColumnNames
    val transformed = transform(spark.table(t))
    val newSchema = transformed.schema
    val newProps = evolveProps(meta.properties)

    val conf = spark.sessionState.newHadoopConf()
    val warehouse = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    val staging = new org.apache.hadoop.fs.Path(
      warehouse, s".graft-alter-${java.util.UUID.randomUUID()}")
    val fs = staging.getFileSystem(conf)
    var committed = false
    val historyKeep = new org.apache.hadoop.fs.Path(
      warehouse, s".graft-alter-history-${java.util.UUID.randomUUID()}")
    // (origin, stashed) pairs for the table's history dirs — populated
    // only in the short stash→commit window; the finally block rolls
    // them back if the swap failed
    var saved: Seq[(org.apache.hadoop.fs.Path, org.apache.hadoop.fs.Path)] = Seq.empty
    try {
      transformed.write.mode("overwrite").parquet(staging.toString)

      // declared order (with dropped/added columns reflected) for the
      // recreated table; partition columns keep their role
      val declared = newProps.get("graft.columns").map(_.split(",").toSeq)
        .getOrElse(newSchema.fieldNames.toSeq)
        .filter(c => newSchema.fieldNames.contains(c))
      val colsSql = declared.map { c =>
        s"`$c` ${newSchema(c).dataType.sql}"
      }.mkString(", ")
      val partSql =
        if (parts.isEmpty) ""
        else parts.mkString(" PARTITIONED BY (", ", ", ")")
      val propsSql =
        if (newProps.isEmpty) ""
        else newProps.map { case (k, v) =>
          s"'$k'='${v.replace("'", "''")}'"
        }.mkString(" TBLPROPERTIES (", ", ", ")")

      val bare = ident.table
      val tmp = ident.database.map(d => s"$d.`${bare}__graft_alter`")
        .getOrElse(s"`${bare}__graft_alter`")
      val oldLoc = new org.apache.hadoop.fs.Path(meta.location)
      spark.sql(s"DROP TABLE IF EXISTS $tmp")
      spark.sql(s"CREATE TABLE $tmp ($colsSql) USING parquet$partSql$propsSql")
      val staged = spark.read.schema(newSchema).parquet(staging.toString)
      val aligned = newSchema.fieldNames.filterNot(parts.contains).toSeq ++ parts
      staged.select(aligned.map(col): _*)
        .write.mode("overwrite").insertInto(tmp)
      // files a snapshot references move (rename, zero-copy) to the
      // archive before the old table's directory is deleted by DROP
      // below. Round 16: moved here from right after the staging write —
      // preserveAll EMPTIES the live table dir (the files live on in
      // the archive), so running it before the risky CREATE/insertInto
      // meant a failure there left the catalog-live original with zero
      // rows (AlterTableSpec's failed-ALTER leg caught this).
      Snapshots.preserveAll(spark, t)
      // rounds 15-16: the commit log and the Iceberg mirror are the
      // table's HISTORY — carry them across the drop/recreate (moved
      // aside here, restored after the rename) or every ALTER resets
      // commit versions and the mirror's schema history. The publish
      // that follows this statement then appends version prevV+1 with
      // the rebuilt files and the mirror records the new schema-id;
      // pre-ALTER snapshots keep their old schema-id. The stash happens
      // ONLY NOW, after the replacement is fully loaded: every risky
      // step (staging write, CREATE, insertInto) ran with the original
      // table — including its history dirs — fully intact, so a failure
      // up to here leaves the table exactly as it was. From the stash
      // to the restore the only operations are metadata-only (DROP old,
      // RENAME tmp); a failure in that window rolls the stash back in
      // the finally block. Every rename's boolean is CHECKED — a silent
      // false here is a silently-restarted version sequence later.
      val historyDirs = Seq(
        CommitLog.logDir(oldLoc), IcebergMetadata.metadataDir(oldLoc))
        .filter(fs.exists)
      if (historyDirs.nonEmpty) fs.mkdirs(historyKeep)
      saved = historyDirs.map { d =>
        val dst = new org.apache.hadoop.fs.Path(historyKeep, d.getName)
        if (!fs.rename(d, dst)) throw new java.io.IOException(
          s"ALTER of $t could not stash history dir $d (rename returned false)")
        (d, dst)
      }
      spark.sql(s"DROP TABLE $t")
      spark.sql(s"ALTER TABLE $tmp RENAME TO `$bare`")
      // restore the preserved history into the rebuilt table's dir
      if (saved.nonEmpty) {
        val newLoc = new org.apache.hadoop.fs.Path(
          catalog.getTableMetadata(ident).location)
        saved.foreach { case (_, d) =>
          val dst = new org.apache.hadoop.fs.Path(newLoc, d.getName)
          if (!fs.rename(d, dst)) throw new java.io.IOException(
            s"ALTER of $t could not restore history dir $d into $newLoc" +
              " (rename returned false)")
        }
        try fs.delete(historyKeep, true) catch { case _: Exception => () }
      }
      committed = true
    } finally {
      // staging is the only durable copy once the original table is
      // dropped — keep it if anything failed
      if (committed) {
        try fs.delete(staging, true)
        catch { case _: Exception => () }
      } else {
        // a failure between stash and commit: put the history back where
        // the (usually still-live) original expects it. If DROP already
        // removed the old table dir the rename-back returns false (gone
        // parent) and the stash stays put — reported below either way.
        val restored = saved.map { case (origin, stash) =>
          try fs.exists(origin) || (fs.exists(stash) && fs.rename(stash, origin))
          catch { case _: Exception => false }
        }
        val stashNote =
          if (saved.isEmpty) ""
          else if (restored.forall(identity))
            "; preserved commit-log/mirror dirs were restored to the live table"
          else s"; preserved commit-log/mirror dirs remain at $historyKeep" +
            " — move them into the table dir before the next write or its" +
            " version sequence restarts at v0"
        System.err.println(
          s"[graft] ALTER of $t did not commit; staged data kept at $staging" +
            s" (a fully-loaded replacement may exist as ${t}__graft_alter$stashNote)")
      }
    }
  }

  /** "int32 NOT NULL" → ("int32", true). */
  private def splitType(spec: String): (String, Boolean) = {
    val notNull = "(?i)\\bNOT\\s+NULL\\b".r.findFirstIn(spec).isDefined
    val t = spec.replaceAll("(?i)\\bNOT\\s+NULL\\b", "").trim
    (t, notNull)
  }
}
