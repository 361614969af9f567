package graft.engine

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Queryable system tables, the analog of the reference's registry
  * system views (server/metadata/registry/system/views/ SQL layouts,
  * manager.go:75-120 query execution, engine.go:1024-1049 routing):
  * `system.databases`, `system.tables`, `system.columns` as
  * DataFrames over the Spark catalog, enriched with the dialect's
  * graft.* table properties (Iceberg types, PK/UNIQUE, declared
  * column order).
  *
  * A system query builds only the views it names, when it runs —
  * catalog enumeration is driver-side metadata (hundreds of rows, not
  * data-scale), which is exactly how the reference serves them (SQLite
  * registry, not DuckDB). Per-table metadata lookups are CACHED and
  * invalidated by the engine's mutation hooks (the round-3
  * re-enumeration finding): a system query fetches metadata only for
  * identifiers it has not seen or that changed since — the registry's
  * schema cache kept current by CDC events
  * (storage/schema/astha_subscriber.go:58-166), here driven
  * synchronously from the same hook that appends the [[Changefeed]]
  * event.
  */
object SystemTables {

  /** The system views by name, each built on demand; `queries` reads
    * the calling engine's execution registry. */
  private val views: Map[String, (SparkSession, ExecutionManager) => DataFrame] = Map(
    ("databases", (spark, _) =>
      databases(spark, spark.sessionState.catalog.listDatabases(), catalogTables(spark))),
    ("tables", (spark, _) => tablesView(spark, catalogTables(spark))),
    ("columns", (spark, _) => columnsView(spark, catalogTables(spark))),
    ("queries", queriesView),
    ("snapshots", (spark, _) => snapshotsView(spark)),
    ("cdc_log", (spark, _) => Changefeed.view(spark)),
    ("cdc_subscribers", (spark, _) => cdcSubscribersView(spark)),
    ("locks", (spark, _) => locksView(spark)),
    ("scans", (spark, _) => ScanStats.view(spark)),
    ("commit_stats", (spark, _) => commitStatsView(spark)))

  /** The system view a relation name reads, if it names one: the
    * reference's `system.<name>` spelling
    * (system_database_test.go:199-204) or the flat `system_<name>`. */
  def viewName(parts: Seq[String]): Option[String] =
    parts.map(_.toLowerCase) match {
      case Seq("system", v) if views.contains(v) => Some(v)
      case Seq(v) if v.startsWith("system_") && views.contains(v.stripPrefix("system_")) =>
        Some(v.stripPrefix("system_"))
      case _ => None
    }

  /** The named system view (a [[viewName]] result), built now. */
  def view(spark: SparkSession, name: String, executions: ExecutionManager): DataFrame =
    views(name)(spark, executions)

  // metadata cache: warehouse -> (db.table -> CatalogTable); shared
  // across connection engines (they share the external catalog)
  private val metaCache = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.ConcurrentHashMap[
      String, org.apache.spark.sql.catalyst.catalog.CatalogTable]]()

  private def cacheFor(spark: SparkSession) =
    metaCache.computeIfAbsent(spark.conf.get("spark.sql.warehouse.dir"),
      _ => new java.util.concurrent.ConcurrentHashMap())

  /** Drop one table's cached metadata (engine mutation hook). A null
    * or unknown key is a no-op. */
  def invalidate(spark: SparkSession, qualified: String): Unit =
    cacheFor(spark).remove(qualified.toLowerCase)

  /** Drop everything cached for the warehouse (DROP DATABASE, tests). */
  def invalidateAll(spark: SparkSession): Unit = cacheFor(spark).clear()

  /** Metadata of every catalog table, through the cache (entries for
    * tables that no longer exist are dropped). */
  private def catalogTables(spark: SparkSession)
      : Seq[org.apache.spark.sql.catalyst.catalog.CatalogTable] = {
    val cat = spark.sessionState.catalog
    val cache = cacheFor(spark)
    val idents = cat.listDatabases().flatMap(db => cat.listTables(db))
    val live = idents.map(ti =>
      s"${ti.database.getOrElse("default")}.${ti.table}".toLowerCase).toSet
    cache.keySet().removeIf(k => !live.contains(k))
    idents.flatMap { ti =>
      val key = s"${ti.database.getOrElse("default")}.${ti.table}".toLowerCase
      Option(cache.get(key)).orElse {
        try {
          val m = cat.getTableMetadata(ti)
          cache.put(key, m)
          Some(m)
        } catch { case _: Exception => None }
      }
    }
  }

  /** `system.queries`: the execution registry as a relation — the
    * query-lifecycle list/stats API (execution_manager.go:13-245). */
  private def queriesView(spark: SparkSession, executions: ExecutionManager): DataFrame = {
    val rows = executions.list().map(q =>
      Row(q.id, q.sql, q.status.toString, q.elapsedSec, q.error.orNull))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("query_id", StringType),
        StructField("sql", StringType),
        StructField("status", StringType),
        StructField("elapsed_sec", DoubleType),
        StructField("error", StringType))))
  }

  /** Per-subscriber CDC delivery state (`system.cdc_subscribers`) —
    * the reference's event_store.go stats surface as a queryable view:
    * each registered Astha component's cursor, lag behind the log
    * head, processed/cleaned counters, and quarantine state, so a
    * deployment SEES a stuck subscriber (lag growing, quarantined
    * true) instead of inferring it from a growing event directory. */
  private def cdcSubscribersView(spark: SparkSession): DataFrame = {
    val rows = graft.streaming.AsthaScheduler.subscriberRowsFor(spark).map(r =>
      Row(r.component, r.version, r.subscriptions, r.status, r.cursor,
        r.lag, r.processed, r.consecutiveFailures, r.quarantined,
        new java.sql.Timestamp(r.lastSeenMs), r.schedulerCleaned))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("component", StringType),
        StructField("version", StringType),
        StructField("subscriptions", StringType),
        StructField("status", StringType),
        StructField("cursor", LongType),
        StructField("lag", LongType),
        StructField("processed", LongType),
        StructField("consecutive_failures", LongType),
        StructField("quarantined", BooleanType),
        StructField("last_seen", TimestampType),
        StructField("cleaned", LongType))))
  }

  /** Live per-table lock state (`system.locks`): the first question
    * when statements stall is "who holds the lock" — one row per
    * table whose lock object exists, with the write holder's thread,
    * hold age, active reader count, and queued waiters. */
  private def locksView(spark: SparkSession): DataFrame = {
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    val rows = QueryEngine.lockRows().collect {
      case (key, holder, heldSec, readers, queued)
          if key.startsWith(warehouse + "#") =>
        Row(key.split("#", 2).last, holder, heldSec,
          readers.toLong, queued.toLong)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("table_name", StringType),
        StructField("write_holder", StringType),
        StructField("write_held_sec", LongType),
        StructField("active_readers", LongType),
        StructField("queued_waiters", LongType))))
  }

  /** JVM-wide engine health counters (`system.commit_stats`): lost-
    * version-race publish retries (writer contention indicator),
    * torn-read retries (cross-process FNF backstop firings) and
    * Iceberg-mirror emission failures — the counters an operator
    * checks when coherence machinery is suspected — plus
    * `codegen_compiles`, the classes Janino has compiled in this JVM
    * (Spark's `CodegenMetrics`). A statement whose plan is already in
    * the codegen cache leaves it unchanged, so a count that grows with
    * repeated or literal-varying statements shows recompilation. */
  private def commitStatsView(spark: SparkSession): DataFrame = {
    val rows = Seq(
      Row("codegen_compiles",
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount),
      Row("commitlog_publish_retries", CommitLog.publishRetries.get()),
      Row("torn_read_retries", QueryEngine.tornReadRetries.get()),
      Row("iceberg_emit_failures", IcebergMetadata.emitFailures.get()))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("counter", StringType),
        StructField("value", LongType))))
  }

  /** Warehouse-wide snapshot inventory (pinned log versions): one row
    * per snapshot with its operation, age, and referenced file count —
    * the observability hook for EXPIRE SNAPSHOTS decisions. */
  private def snapshotsView(spark: SparkSession): DataFrame = {
    val rows = Snapshots.listAll(spark).map { case (table, s, nFiles) =>
      val (db, bare) = table.split("\\.", 2) match {
        case Array(d, t) => (d, t)
        case _ => ("default", table)
      }
      Row(db, bare, s.id, s.operation,
        new java.sql.Timestamp(s.createdAtMs), nFiles.toLong)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("database_name", StringType),
        StructField("table_name", StringType),
        StructField("snapshot_id", LongType),
        StructField("operation", StringType),
        StructField("created_at", TimestampType),
        StructField("file_count", LongType))))
  }

  // layout: views/databases.sql
  private def databases(spark: SparkSession, dbs: Seq[String],
                        tables: Seq[org.apache.spark.sql.catalyst.catalog.CatalogTable]): DataFrame = {
    val byDb = tables.groupBy(_.identifier.database.getOrElse("default"))
    val rows = dbs.map { db =>
      val t = byDb.getOrElse(db, Seq.empty)
      Row(db, db, null,
        db == "system", false,
        t.length.toLong,
        t.flatMap(_.stats.map(_.sizeInBytes.toLong)).sum,
        earliest(t), null)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("database_name", StringType),
        StructField("display_name", StringType),
        StructField("description", StringType),
        StructField("is_system", BooleanType),
        StructField("is_read_only", BooleanType),
        StructField("table_count", LongType),
        StructField("total_size", LongType),
        StructField("created_at", TimestampType),
        StructField("updated_at", TimestampType))))
  }

  // layout: views/tables.sql
  private def tablesView(spark: SparkSession,
                         tables: Seq[org.apache.spark.sql.catalyst.catalog.CatalogTable]): DataFrame = {
    val rows = tables.map { t =>
      Row(
        t.identifier.database.getOrElse("default"),
        t.identifier.table,
        t.identifier.table,
        t.comment.orNull,
        t.tableType.name,
        false,
        t.tableType.name == "EXTERNAL",
        t.stats.flatMap(_.rowCount.map(_.toLong)).getOrElse(null),
        null,
        t.stats.map(_.sizeInBytes.toLong).getOrElse(null),
        ts(t.createTime), null)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("database_name", StringType),
        StructField("table_name", StringType),
        StructField("display_name", StringType),
        StructField("description", StringType),
        StructField("table_type", StringType),
        StructField("is_temporary", BooleanType),
        StructField("is_external", BooleanType),
        StructField("row_count", LongType),
        StructField("file_count", LongType),
        StructField("total_size", LongType),
        StructField("created_at", TimestampType),
        StructField("updated_at", TimestampType))))
  }

  // layout: views/columns.sql
  private def columnsView(spark: SparkSession,
                          tables: Seq[org.apache.spark.sql.catalyst.catalog.CatalogTable]): DataFrame = {
    val rows = tables.flatMap { t =>
      val props = t.properties
      val pks = props.get("graft.primarykey").map(_.split(",").toSet).getOrElse(Set.empty)
      val uniques = props.get("graft.unique").map(_.split(",").toSet).getOrElse(Set.empty)
      val notNull = props.get("graft.notnull").map(_.split(",").toSet).getOrElse(Set.empty)
      val declared = props.get("graft.columns").map(_.split(",").toSeq)
        .getOrElse(t.schema.fieldNames.toSeq)
      declared.zipWithIndex.flatMap { case (name, ord) =>
        t.schema.fields.find(_.name == name).map { f =>
          val icebergType = graft.types.IcebergTypes.canonical(
            props.getOrElse(s"graft.type.${f.name}",
              graft.types.IcebergTypes.format(f.dataType)))
          val (prec, scale) = f.dataType match {
            case d: DecimalType => (d.precision.toLong, d.scale.toLong)
            case _ => (null, null)
          }
          Row(
            t.identifier.database.getOrElse("default"),
            t.identifier.table,
            f.name, f.name,
            icebergType,
            f.nullable && !notNull.contains(f.name),
            pks.contains(f.name),
            uniques.contains(f.name),
            f.getCurrentDefaultValue().orNull,
            null,
            (ord + 1).toLong,
            null, prec, scale,
            ts(t.createTime), null)
        }
      }
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("database_name", StringType),
        StructField("table_name", StringType),
        StructField("column_name", StringType),
        StructField("display_name", StringType),
        StructField("data_type", StringType),
        StructField("is_nullable", BooleanType),
        StructField("is_primary", BooleanType),
        StructField("is_unique", BooleanType),
        StructField("default_value", StringType),
        StructField("description", StringType),
        StructField("ordinal_position", LongType),
        StructField("max_length", LongType),
        StructField("precision", LongType),
        StructField("scale", LongType),
        StructField("created_at", TimestampType),
        StructField("updated_at", TimestampType))))
  }

  private def ts(millis: Long): java.sql.Timestamp =
    if (millis > 0) new java.sql.Timestamp(millis) else null

  private def earliest(tables: Seq[org.apache.spark.sql.catalyst.catalog.CatalogTable]): java.sql.Timestamp =
    tables.map(_.createTime).filter(_ > 0).sorted.headOption.map(new java.sql.Timestamp(_)).orNull
}
