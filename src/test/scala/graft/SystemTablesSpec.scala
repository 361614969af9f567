package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.QueryEngine

/** SELECTs against the system database are served from the catalog
  * with the reference's view layouts
  * (server/metadata/registry/system/views/ SQL) and compose as real
  * SQL (filters, joins, aggregates). */
class SystemTablesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  lazy val engine = new QueryEngine(spark)

  test("system_tables / system_columns / system_databases layouts and content") {
    engine.execute("CREATE DATABASE IF NOT EXISTS sysx")
    engine.execute("DROP TABLE IF EXISTS sysx.orders")
    engine.execute(
      """CREATE TABLE sysx.orders (
        |  id int64 PRIMARY KEY,
        |  sku string UNIQUE,
        |  qty int32,
        |  price decimal(10,2)
        |) STORAGE filesystem""".stripMargin)

    val t = engine.execute(
      "SELECT table_name, table_type FROM system_tables WHERE database_name = 'sysx'")
    assert(t.columns == Seq("table_name", "table_type"))
    assert(t.data.map(_.head).contains("orders"))
    assert(t.message.startsWith("System query executed successfully"))

    val c = engine.execute(
      """SELECT column_name, data_type, is_nullable, is_primary, is_unique,
        |       ordinal_position, precision, scale
        |FROM system_columns
        |WHERE database_name = 'sysx' AND table_name = 'orders'
        |ORDER BY ordinal_position""".stripMargin)
    assert(c.data.map(r => (r(0), r(1), r(3), r(4))) == Seq(
      ("id", "int64", true, false),
      ("sku", "string", false, true),
      ("qty", "int32", false, false),
      ("price", "decimal(10,2)", false, false)))
    // PRIMARY KEY implies NOT NULL; decimal carries precision/scale
    assert(c.data.head(2) == false) // id not nullable
    assert(c.data(3)(6) == 10L && c.data(3)(7) == 2L)

    val d = engine.execute(
      "SELECT database_name, table_count FROM system_databases WHERE database_name = 'sysx'")
    assert(d.data.head.head == "sysx" && d.data.head(1).asInstanceOf[Long] >= 1L)

    // system views join against each other like any SQL relation
    val j = engine.execute(
      """SELECT c.column_name
        |FROM system_columns c JOIN system_tables t
        |  ON c.database_name = t.database_name AND c.table_name = t.table_name
        |WHERE t.database_name = 'sysx' AND c.is_primary""".stripMargin)
    assert(j.data.map(_.head) == Seq("id"))

    engine.execute("DROP TABLE sysx.orders")
  }

  test("system_snapshots inventories the manifest store warehouse-wide") {
    engine.execute("CREATE DATABASE IF NOT EXISTS sysx")
    engine.execute("DROP TABLE IF EXISTS sysx.snapinv")
    engine.execute("CREATE TABLE sysx.snapinv (id int64) STORAGE filesystem")
    engine.execute("INSERT INTO sysx.snapinv VALUES (1),(2),(3)")
    engine.execute("DELETE FROM sysx.snapinv WHERE id = 1")
    engine.execute("UPDATE sysx.snapinv SET id = 9 WHERE id = 2")
    val r = engine.execute(
      "SELECT snapshot_id, operation, file_count FROM system_snapshots " +
        "WHERE database_name = 'sysx' AND table_name = 'snapinv' " +
        "ORDER BY snapshot_id")
    assert(r.columns == Seq("snapshot_id", "operation", "file_count"))
    assert(r.data.map(row => (row.head, row(1))) ==
      Seq((1L, "DELETE"), (2L, "UPDATE")))
    assert(r.data.forall(_(2).asInstanceOf[Long] >= 1L))
    // expiry empties the inventory for the table
    engine.execute("EXPIRE SNAPSHOTS FROM sysx.snapinv")
    assert(engine.execute(
      "SELECT count(*) AS n FROM system_snapshots " +
        "WHERE database_name = 'sysx' AND table_name = 'snapinv'")
      .data.head.head == 0L)
    engine.execute("DROP TABLE sysx.snapinv")
  }

  test("reference spelling system.<view> resolves (system_database_test.go:199-204)") {
    engine.execute("CREATE DATABASE IF NOT EXISTS sysx")
    val r = engine.execute(
      "SELECT count(*) AS n FROM system.databases WHERE database_name = 'sysx'")
    assert(r.data.head.head == 1L)
    assert(r.message.startsWith("System query executed successfully"))
    val joined = engine.execute(
      "SELECT count(*) AS n FROM system.tables t " +
        "JOIN system.columns c ON c.table_name = t.table_name " +
        "WHERE t.database_name = 'sysx'")
    assert(joined.columns == Seq("n"))
    // 'system.' inside a string literal stays data
    assert(engine.execute("SELECT 'system.tables' AS s FROM system.databases LIMIT 1")
      .data.head.head == "system.tables")
    // ...and does not make a user-table query a system query
    engine.execute("DROP TABLE IF EXISTS sysx.lit")
    engine.execute("CREATE TABLE sysx.lit (id int64) STORAGE filesystem")
    engine.execute("INSERT INTO sysx.lit VALUES (1)")
    val lit = engine.execute("SELECT 'see system.tables' AS s FROM sysx.lit")
    assert(lit.data == Seq(Seq("see system.tables")))
    assert(!lit.message.startsWith("System query"), lit.message)
    engine.execute("DROP TABLE sysx.lit")
  }

  test("system.commit_stats surfaces the coherence counters") {
    val r = engine.execute(
      "SELECT counter, value FROM system.commit_stats ORDER BY counter")
    assert(r.data.map(_.head) == Seq("codegen_compiles",
      "commitlog_publish_retries", "iceberg_emit_failures", "torn_read_retries"))
    r.data.foreach(row =>
      assert(row(1).asInstanceOf[Long] >= 0L, s"negative counter: $row"))
  }

  test("system_queries exposes the execution registry as a relation") {
    engine.execute("SELECT 1 AS warm")
    val r = engine.execute(
      """SELECT count(*) AS n FROM system_queries
        |WHERE status = 'Completed' AND sql LIKE 'SELECT 1 AS warm%'""".stripMargin)
    assert(r.data.head.head.asInstanceOf[Long] >= 1L)
    // the system query itself appears as Running while executing
    val self = engine.execute(
      "SELECT status FROM system_queries WHERE sql LIKE '%system_queries WHERE sql LIKE%' AND status = 'Running'")
    assert(self.rowCount >= 1)
  }
}
