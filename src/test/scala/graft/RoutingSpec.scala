package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.QueryEngine

/** Characterization of the statement router: one row per routed
  * statement kind, each pinning the result's columns, row count and
  * message (and, where the layout matters, the rows). The rows run in
  * order over one scratch database, so later rows see the state the
  * earlier ones left. No row may leave a temp view behind: graft's
  * names (system views, INDEX_PROBE, ICEBERG_SCAN) resolve inside the
  * parsed plan. */
class RoutingSpec extends AnyFunSuite {
  import RoutingSpec.Expect
  // own session: SHOW TABLES lists the session's temp views too, and
  // other specs register theirs in the shared one
  lazy val spark = TestSpark.spark.newSession()
  lazy val engine = new QueryEngine(spark)

  private val showColumns =
    Seq("Field", "Type", "Null", "Key", "Unique", "Default", "Extra")

  test("every routed statement kind keeps its result shape") {
    engine.execute("DROP DATABASE IF EXISTS routing CASCADE")
    def databases = spark.catalog.listDatabases().count()
    def tempViews = spark.catalog.listTables().collect()
      .filter(_.isTemporary).map(_.name).toSet
    def kvLocation = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("kv", Some("routing")))
      .location.toString.replace("'", "''")
    val rows: Seq[() => Expect] = Seq(
      () => Expect("CREATE DATABASE routing", Nil, 0, "Database created"),
      () => Expect("CREATE DATABASE IF NOT EXISTS routing", Nil, 0, "Database created"),
      () => Expect("USE routing", Nil, 0, "Database changed"),
      () => Expect(
        "CREATE TABLE kv (id int64 NOT NULL, note string, n int32) STORAGE filesystem",
        Nil, 0, "Table kv created"),
      () => Expect("INSERT INTO kv VALUES (1, 'a', 10), (2, 'b', 20), (3, 'c', 30)",
        Nil, 3, "INSERT 3"),
      () => Expect(
        "CREATE TABLE part (id int64, region string, v int32) " +
          "STORAGE filesystem PARTITION BY (region)",
        Nil, 0, "Table part created"),
      // no column list: positional VALUES bind to the DECLARED order
      () => Expect("INSERT INTO part VALUES (1, 'eu', 5)", Nil, 1, "INSERT 1"),
      () => Expect("INSERT INTO part (v, id, region) VALUES (6, 2, 'us')",
        Nil, 1, "INSERT 1"),
      () => Expect("SELECT id, region, v FROM part ORDER BY id",
        Seq("id", "region", "v"), 2, "",
        Some(Seq(Seq(1L, "eu", 5), Seq(2L, "us", 6)))),
      () => Expect("EXPLAIN SELECT id FROM kv", Seq("plan"), 1, ""),
      () => Expect("DESC kv", showColumns, 3, "Found 3 column(s)",
        Some(Seq(Seq("id", "int64", "NO", "", "", "", ""),
          Seq("note", "string", "YES", "", "", "", ""),
          Seq("n", "int32", "YES", "", "", "", "")))),
      () => Expect("DESCRIBE TABLE routing.part", showColumns, 3, "Found 3 column(s)"),
      () => Expect("DESCRIBE EXTENDED part", showColumns, 12, "Found 3 column(s)"),
      () => Expect("SHOW COLUMNS FROM part", showColumns, 3, "Found 3 column(s)"),
      () => Expect("SHOW CREATE TABLE kv", Seq("Table", "Create Table"), 1, "",
        Some(Seq(Seq("kv", "CREATE TABLE kv (\n    id int64 NOT NULL,\n" +
          "    note string,\n    n int32\n) STORAGE FILESYSTEM SETTINGS commitlog=true")))),
      () => Expect("SHOW TABLES", Seq("Table"), 2,
        "Found 2 table(s) in database routing",
        Some(Seq(Seq("kv"), Seq("part")))),
      () => Expect("SHOW TABLES FROM routing", Seq("Table"), 2,
        "Found 2 table(s) in database routing"),
      () => Expect("SHOW DATABASES", Seq("database"), databases,
        s"Found $databases database(s)"),
      () => Expect("UPDATE kv SET note = 'z', n = n + 1 WHERE id >= 2",
        Nil, 2, "UPDATE 2"),
      () => Expect("DELETE FROM kv WHERE id = 3", Nil, 1, "DELETE 1"),
      () => Expect("SELECT id, note, n FROM kv ORDER BY id",
        Seq("id", "note", "n"), 2, "",
        Some(Seq(Seq(1L, "a", 10), Seq(2L, "z", 21)))),
      // graft's names are resolved in the plan, never in the text: a
      // quote in a comment, a probe in a comment, a quoted identifier
      // and a double-quoted string stay what they are
      () => Expect("-- the probe's input\n" +
          "SELECT doc1, doc2 FROM INDEX_PROBE(kv, 'neardup', id, note)",
        Seq("doc1", "doc2"), 0, "", Some(Nil)),
      () => Expect("/* INDEX_PROBE(t,'x') */ SELECT 1 AS one",
        Seq("one"), 1, "", Some(Seq(Seq(1)))),
      () => Expect("SELECT 'x' AS `SYS_DATE`, \"SYS_DATE\" AS q",
        Seq("SYS_DATE", "q"), 1, "", Some(Seq(Seq("x", "SYS_DATE")))),
      // a real column named like a system function wins
      () => Expect("SELECT sys_date FROM (SELECT 'col' AS sys_date)",
        Seq("sys_date"), 1, "", Some(Seq(Seq("col")))),
      // snapshot 1 is the state before the UPDATE
      () => Expect("SELECT id, note FROM kv VERSION AS OF 1 ORDER BY id",
        Seq("id", "note"), 3, "",
        Some(Seq(Seq(1L, "a"), Seq(2L, "b"), Seq(3L, "c")))),
      () => Expect(
        "WITH old AS (SELECT id FROM kv VERSION AS OF 1) SELECT count(*) AS n FROM old",
        Seq("n"), 1, "", Some(Seq(Seq(3L)))),
      // MERGE's USING query resolves graft's names like a SELECT
      () => Expect(
        "MERGE INTO kv USING (SELECT id, note, n FROM kv VERSION AS OF 1) s " +
          "ON kv.id = s.id WHEN NOT MATCHED THEN INSERT VALUES (s.id, s.note, s.n)",
        Nil, 1, "MERGE 0 updated, 0 deleted, 1 inserted"),
      () => Expect(s"SELECT id, note FROM ICEBERG_SCAN('$kvLocation') ORDER BY id",
        Seq("id", "note"), 3, "",
        Some(Seq(Seq(1L, "a"), Seq(2L, "z"), Seq(3L, "c")))),
      () => Expect(
        "SELECT table_name FROM system.tables " +
          "WHERE database_name = 'routing' ORDER BY table_name",
        Seq("table_name"), 2,
        "System query executed successfully, 2 rows returned",
        Some(Seq(Seq("kv"), Seq("part")))),
      // after a system query, a probe and an Iceberg scan
      () => Expect("SHOW TABLES", Seq("Table"), 2,
        "Found 2 table(s) in database routing",
        Some(Seq(Seq("kv"), Seq("part")))),
      () => Expect("DROP TABLE part", Nil, 0, "Dropped"),
      () => Expect("DROP TABLE IF EXISTS part", Nil, 0, "Dropped"),
      () => Expect("USE default", Nil, 0, "Database changed"),
      () => Expect("DROP DATABASE routing CASCADE", Nil, 0, "Dropped"))

    val views = tempViews
    val mismatches = rows.flatMap { row =>
      val e = row()
      val r = engine.execute(e.sql)
      val got = Expect(e.sql, r.columns, r.rowCount, r.message,
        e.data.map(_ => r.data.map(_.toList)))
      (if (got == e.copy(data = e.data.map(_.map(_.toList)))) None
       else Some(s"${e.sql}\n  expected $e\n  got      $got")) ++
        (if (tempViews == views) None
         else Some(s"${e.sql}\n  left temp views ${tempViews -- views}"))
    }
    assert(mismatches.isEmpty, mismatches.mkString("\n"))
  }
}

object RoutingSpec {
  private final case class Expect(sql: String, columns: Seq[String],
                                  rowCount: Long, message: String,
                                  data: Option[Seq[Seq[Any]]] = None)
}
