package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{InsertValidator, QueryEngine, RangerDdl}
import graft.types.IcebergTypes
import org.apache.spark.sql.types._

class IcebergTypesSpec extends AnyFunSuite {
  test("primitive types parse to Spark types") {
    assert(IcebergTypes.parse("int32") == IntegerType)
    assert(IcebergTypes.parse("int64") == LongType)
    assert(IcebergTypes.parse("float64") == DoubleType)
    assert(IcebergTypes.parse("string") == StringType)
    assert(IcebergTypes.parse("timestamp") == TimestampNTZType)
    assert(IcebergTypes.parse("timestamptz") == TimestampType)
    assert(IcebergTypes.parse("decimal(10,2)") == DecimalType(10, 2))
    assert(IcebergTypes.parse("uuid") == StringType)
  }

  test("nested types parse recursively") {
    assert(IcebergTypes.parse("list<string>") == ArrayType(StringType))
    assert(IcebergTypes.parse("map<string, int32>") ==
      MapType(StringType, IntegerType))
    assert(IcebergTypes.parse("struct<name: string, age: int32>") ==
      StructType(Seq(StructField("name", StringType), StructField("age", IntegerType))))
    // from the reference's own test fixtures (iceberg_types_test.go)
    assert(IcebergTypes.parse("list<struct<id:int64,name:string>>") ==
      ArrayType(StructType(Seq(StructField("id", LongType), StructField("name", StringType)))))
    assert(IcebergTypes.parse("map<string,list<int32>>") ==
      MapType(StringType, ArrayType(IntegerType)))
  }

  test("legacy SQL types are rejected (ast.go:163-169 semantics)") {
    for (bad <- Seq("int", "bigint", "varchar(50)", "text", "double", "REAL"))
      assertThrows[IcebergTypes.TypeError](IcebergTypes.parse(bad))
  }

  test("invalid decimal and struct definitions are rejected") {
    assertThrows[IcebergTypes.TypeError](IcebergTypes.parse("decimal(0,2)"))
    assertThrows[IcebergTypes.TypeError](IcebergTypes.parse("decimal(5,9)"))
    assertThrows[IcebergTypes.TypeError](IcebergTypes.parse("struct<a:int32,a:string>"))
  }

  test("format round-trips") {
    for (t <- Seq("int32", "list<string>", "map<string, int32>",
                  "struct<a: int32, b: list<string>>", "decimal(10,2)"))
      assert(IcebergTypes.format(IcebergTypes.parse(t)) == t)
  }

  test("registry read path accepts SQL aliases (parseRegistryDataType parity)") {
    // the alias table from the reference's registry -> Iceberg
    // conversion (server/storage/parquet/schema.go:264-327): the DDL
    // parser rejects these (ast.go:163-169, pinned above), but
    // metadata READ-BACK resolves them so foreign registry rows still
    // load
    val aliases = Seq(
      "integer" -> IntegerType, "bigint" -> LongType,
      "real" -> FloatType, "double" -> DoubleType,
      "varchar" -> StringType, "text" -> StringType,
      "blob" -> BinaryType, "fixed(16)" -> BinaryType,
      // canonical names still parse identically
      "int32" -> IntegerType, "string" -> StringType)
    for ((a, want) <- aliases) {
      assert(IcebergTypes.parseRegistry(a) == want, a)
      assert(IcebergTypes.parseRegistry(a.toUpperCase) == want, a)
    }
    // aliases resolve inside nested types on the read path
    assert(IcebergTypes.parseRegistry("list<varchar>") == ArrayType(StringType))
    assert(IcebergTypes.parseRegistry("map<varchar, bigint>") ==
      MapType(StringType, LongType))
    assert(IcebergTypes.parseRegistry("struct<name: text, age: integer>") ==
      StructType(Seq(StructField("name", StringType), StructField("age", IntegerType))))
    // garbage is still an error, as in the reference's default branch
    assertThrows[IcebergTypes.TypeError](IcebergTypes.parseRegistry("varchar2"))
    assertThrows[IcebergTypes.TypeError](IcebergTypes.parseRegistry("fixed(x)"))
    assertThrows[IcebergTypes.TypeError](IcebergTypes.parseRegistry("fixed(0)"))
    // ... and the strict DDL parser still rejects every alias
    for ((a, _) <- aliases.take(8))
      assertThrows[IcebergTypes.TypeError](IcebergTypes.parse(a))
  }

  test("canonical() rewrites stored alias strings without corrupting Spark-less types") {
    assert(IcebergTypes.canonical("varchar") == "string")
    assert(IcebergTypes.canonical("BIGINT") == "int64")
    assert(IcebergTypes.canonical("double") == "float64")
    assert(IcebergTypes.canonical("fixed( 16 )") == "fixed(16)")
    assert(IcebergTypes.canonical("list<text>") == "list<string>")
    assert(IcebergTypes.canonical("map<varchar, integer>") == "map<string, int32>")
    assert(IcebergTypes.canonical("struct<a: real, b: blob>") ==
      "struct<a: float32, b: binary>")
    // canonical Iceberg names with no distinct Spark type must pass
    // through EXACTLY (a DataType round-trip would turn time -> int64)
    assert(IcebergTypes.canonical("time") == "time")
    assert(IcebergTypes.canonical("uuid") == "uuid")
    assert(IcebergTypes.canonical("timestamp") == "timestamp")
    assert(IcebergTypes.canonical("decimal(10, 2)") == "decimal(10,2)")
    // unknown metadata passes through untouched, never throws
    assert(IcebergTypes.canonical("someextension") == "someextension")
  }
}

class RangerDdlSpec extends AnyFunSuite {
  test("canonical fixture from reference integration tests parses") {
    // create_table_integration_test.go:27-55
    val ct = RangerDdl.parse(
      """CREATE TABLE users (
        |    id int64 NOT NULL,
        |    name string NOT NULL,
        |    email string,
        |    age int32,
        |    created_at timestamp NOT NULL
        |) STORAGE FILESYSTEM;""".stripMargin)
    assert(ct.table == "users" && ct.storage == "filesystem")
    assert(ct.columns.map(_.name) == Seq("id", "name", "email", "age", "created_at"))
    assert(ct.columns.head.notNull && !ct.columns(2).notNull)
  }

  test("complex types + clauses fixture parses") {
    val ct = RangerDdl.parse(
      """CREATE TABLE IF NOT EXISTS db2.complex_table (
        |    id int64 NOT NULL,
        |    tags list<string>,
        |    metadata map<string, string>,
        |    profile struct<name: string, age: int32>,
        |    balance decimal(10,2) DEFAULT 0.0
        |) STORAGE memory PARTITION BY (id) ORDER BY (id, balance)
        |  SETTINGS cache_enabled=true, batch_size=50000""".stripMargin)
    assert(ct.ifNotExists && ct.database.contains("db2"))
    assert(ct.storage == "memory")
    assert(ct.partitionBy == Seq("id") && ct.orderBy == Seq("id", "balance"))
    assert(ct.settings == Map("cache_enabled" -> "true", "batch_size" -> "50000"))
    assert(ct.columns(4).default.contains("0.0"))
    val spark = ct.toSparkSql("default")
    assert(spark.contains("USING parquet") && spark.contains("PARTITIONED BY (id)"))
    assert(spark.contains("'graft.settings.batch_size'='50000'"))
  }

  test("formatted renders canonical dialect DDL; reparse is a fixpoint (formatter.go parity)") {
    val ct = RangerDdl.parse(
      """create   table if not exists db2.t (
        |  id int64 not null primary key,
        |  name string unique,
        |  balance decimal(10, 2) default 0.0,
        |  tags list<string>
        |) storage MEMORY partition by (id) order by (id, name)
        |  settings batch_size=50000, cache_enabled=true""".stripMargin)
    val f = ct.formatted
    assert(f ==
      "CREATE TABLE IF NOT EXISTS db2.t (id int64 PRIMARY KEY, " +
      "name string UNIQUE, balance decimal(10,2) DEFAULT 0.0, " +
      "tags list<string>) STORAGE memory PARTITION BY (id) " +
      "ORDER BY (id, name) SETTINGS batch_size=50000, cache_enabled=true;", f)
    // fixpoint: reparsing the rendering reproduces it exactly
    assert(RangerDdl.parse(f).formatted == f)
    // semantic identity survives the round-trip
    val rt = RangerDdl.parse(f)
    assert(rt.columns.map(_.name) == ct.columns.map(_.name))
    assert(rt.columns.head.primaryKey && rt.columns.head.notNull)
    assert(rt.storage == "memory" && rt.settings == ct.settings)
    // default (filesystem) storage is omitted from the rendering
    assert(RangerDdl.parse("CREATE TABLE t (id int64)").formatted ==
      "CREATE TABLE t (id int64);")
  }

  test("legacy types rejected at CREATE TABLE") {
    // the TypeError detail now arrives wrapped in a position-tracked
    // ParseError (the reference reports type errors through its
    // positioned ParseError too, errors.go ErrorCategory "type")
    val e = intercept[RangerDdl.ParseError](RangerDdl.parse(
      "CREATE TABLE t (user_id INT NOT NULL, event_type VARCHAR(50))"))
    assert(e.message.contains("only Iceberg types"), e.message)
    assert(e.line == 1 && e.column == 25, e.message) // at 'INT'
  }

  test("malformed statements rejected") {
    assertThrows[RangerDdl.ParseError](RangerDdl.parse("CREATE TABLE t ()"))
    assertThrows[RangerDdl.ParseError](RangerDdl.parse("SELECT 1"))
    assertThrows[RangerDdl.ParseError](RangerDdl.parse(
      "CREATE TABLE t (a int32, a string)"))
    assertThrows[RangerDdl.ParseError](RangerDdl.parse(
      "CREATE TABLE t (a int32) STORAGE floppy"))
  }
}

class EngineSpec extends AnyFunSuite {
  lazy val engine = new QueryEngine(TestSpark.spark)

  test("end-to-end slice: create db, create table, insert, select, show, drop") {
    // SURVEY §7.1 step 3: the minimum end-to-end slice
    engine.execute("CREATE DATABASE IF NOT EXISTS d1")
    engine.execute("USE d1")
    val ct = engine.execute(
      """CREATE TABLE users (
        |  id int64 NOT NULL,
        |  name string,
        |  age int32,
        |  created_at timestamp
        |) STORAGE filesystem""".stripMargin)
    assert(ct.message.contains("created"))

    val ins = engine.execute(
      "INSERT INTO users VALUES (1, 'ann', 34, TIMESTAMP '2024-01-01 10:00:00'), " +
      "(2, 'bob', 19, TIMESTAMP '2024-01-02 11:00:00'), " +
      "(3, 'cho', 45, TIMESTAMP '2024-01-03 12:00:00')")
    assert(ins.message == "INSERT 3" && ins.rowCount == 3)

    val sel = engine.execute(
      "SELECT name, COUNT(*) AS n FROM users WHERE age > 21 GROUP BY name ORDER BY name LIMIT 10")
    assert(sel.columns == Seq("name", "n"))
    assert(sel.data.map(_.head) == Seq("ann", "cho"))

    val st = engine.execute("SHOW TABLES")
    assert(st.columns == Seq("Table"))
    assert(st.message.contains("table(s) in database d1"))
    assert(st.data.flatten.contains("users"))

    val sd = engine.execute("SHOW DATABASES")
    assert(sd.columns == Seq("database"))
    assert(sd.data.flatten.contains("d1"))

    val sc = engine.execute("SHOW COLUMNS FROM users")
    assert(sc.columns == Seq("Field", "Type", "Null", "Key", "Unique", "Default", "Extra"))
    assert(sc.data.map(r => (r(0), r(1))) == Seq(
      ("id", "int64"), ("name", "string"), ("age", "int32"),
      ("created_at", "timestamp")))
    assert(sc.data.head(2) == "NO") // id NOT NULL

    val scr = engine.execute("SHOW CREATE TABLE users")
    assert(scr.columns == Seq("Table", "Create Table"))
    val ddl = scr.data.head(1).toString
    assert(ddl.contains("id int64 NOT NULL") && ddl.contains("STORAGE FILESYSTEM"))

    engine.execute("DROP TABLE users")
    assert(!engine.execute("SHOW TABLES").data.flatten.contains("users"))
    engine.execute("USE default")
  }

  test("UPDATE and DELETE via copy-on-write rewrite") {
    engine.execute("CREATE DATABASE IF NOT EXISTS d2")
    engine.execute(
      "CREATE TABLE d2.kv (k int64 NOT NULL, v string, n int32) STORAGE filesystem")
    engine.execute(
      "INSERT INTO d2.kv VALUES (1,'a',10),(2,'b',20),(3,'c',30),(4,'d',40)")
    val up = engine.execute("UPDATE d2.kv SET v = 'z', n = n + 1 WHERE k >= 3")
    assert(up.message == "UPDATE 2")
    val r = engine.execute("SELECT k, v, n FROM d2.kv ORDER BY k")
    assert(r.data.map(_.toList) == Seq(
      List(1L, "a", 10), List(2L, "b", 20), List(3L, "z", 31), List(4L, "z", 41)))
    val del = engine.execute("DELETE FROM d2.kv WHERE n > 25")
    assert(del.message == "DELETE 2")
    assert(engine.execute("SELECT count(*) AS c FROM d2.kv").data.head.head == 2L)
    // a WHERE inside a SET literal is data, not the statement's WHERE
    val upLit = engine.execute("UPDATE d2.kv SET v = 'x WHERE y' WHERE k = 1")
    assert(upLit.message == "UPDATE 1")
    assert(engine.execute("SELECT k, v FROM d2.kv ORDER BY k").data.map(_.toList) ==
      Seq(List(1L, "x WHERE y"), List(2L, "b")))
    engine.execute("DROP TABLE d2.kv")
  }

  test("unconditional DELETE (no WHERE / WHERE 1=1) truncates with a correct count") {
    // regression: the survivors filter not(true) folds to an empty
    // relation, Catalyst eliminates the CollectMetrics node with it,
    // and the observed count threw "key not found: matched"
    engine.execute("CREATE DATABASE IF NOT EXISTS d2")
    engine.execute("DROP TABLE IF EXISTS d2.trunc")
    engine.execute(
      "CREATE TABLE d2.trunc (k int64 NOT NULL, v string) STORAGE filesystem")
    engine.execute("INSERT INTO d2.trunc VALUES (1,'a'),(2,'b'),(3,'c')")
    val del = engine.execute("DELETE FROM d2.trunc")
    assert(del.message == "DELETE 3")
    assert(engine.execute("SELECT count(*) AS c FROM d2.trunc").data.head.head == 0L)
    // table stays writable after the truncate
    engine.execute("INSERT INTO d2.trunc VALUES (9,'z')")
    assert(engine.execute("SELECT count(*) AS c FROM d2.trunc").data.head.head == 1L)
    val del2 = engine.execute("DELETE FROM d2.trunc WHERE 1 = 1")
    assert(del2.message == "DELETE 1")

    // partitioned layout takes the same whole-table path
    engine.execute("DROP TABLE IF EXISTS d2.truncp")
    engine.execute(
      """CREATE TABLE d2.truncp (k int64 NOT NULL, v string, p string)
        |STORAGE filesystem PARTITION BY (p)""".stripMargin)
    engine.execute(
      "INSERT INTO d2.truncp VALUES (1,'a','x'),(2,'b','y'),(3,'c','y')")
    val del3 = engine.execute("DELETE FROM d2.truncp")
    assert(del3.message == "DELETE 3")
    assert(engine.execute("SELECT count(*) AS c FROM d2.truncp").data.head.head == 0L)
    engine.execute("INSERT INTO d2.truncp VALUES (5,'e','x')")
    assert(engine.execute("SELECT k FROM d2.truncp").data == Seq(Seq(5L)))
    engine.execute("DROP TABLE d2.trunc")
    engine.execute("DROP TABLE d2.truncp")
  }

  test("batch insertData validates with ranger-style addressed errors") {
    engine.execute("CREATE DATABASE IF NOT EXISTS d3")
    engine.execute(
      "CREATE TABLE d3.v (id int64 NOT NULL, name string NOT NULL, opt string) STORAGE filesystem")
    // happy path
    val okr = engine.insertData("d3.v", Seq("id", "name", "opt"),
      Seq(Seq(1L, "x", null), Seq(2L, "y", "z")))
    assert(okr.message == "INSERT 2")
    // type error addressed to row/column (must-fail fixture:
    // 'not_a_number' into int64 — create_table_integration_test.go:90-93)
    val e = intercept[InsertValidator.ValidationError](
      engine.insertData("d3.v", Seq("id", "name", "opt"),
        Seq(Seq(3L, "ok", null), Seq("not_a_number", "bad", null))))
    assert(e.row == 1 && e.column == "id")
    assert(e.getMessage.contains("expected int64"))
    // null into NOT NULL
    val e2 = intercept[InsertValidator.ValidationError](
      engine.insertData("d3.v", Seq("id", "name", "opt"),
        Seq(Seq(4L, null, null))))
    assert(e2.column == "name")
    // whole batch rejected: no partial write
    assert(engine.execute("SELECT count(*) AS c FROM d3.v").data.head.head == 2L)
    engine.execute("DROP TABLE d3.v")
  }

  test("result cap truncates at 100k rows with a warning message") {
    val r = engine.execute("SELECT id FROM range(150000)")
    assert(r.rowCount == 100000)
    assert(r.data.length == 100000)
    assert(r.message.contains("truncated"))
    val small = engine.execute("SELECT id FROM range(10)")
    assert(small.rowCount == 10 && small.message.isEmpty)
  }

  test("batch insert with nested struct/list columns validates and lands") {
    engine.execute("CREATE DATABASE IF NOT EXISTS d6")
    engine.execute(
      "CREATE TABLE d6.nested (id int64 NOT NULL, tags list<string>, " +
      "profile struct<name: string, age: int32>) STORAGE filesystem")
    val r = engine.insertData("d6.nested", Seq("id", "tags", "profile"),
      Seq(
        Seq(1L, Seq("a", "b"), org.apache.spark.sql.Row("ann", 30)),
        Seq(2L, null, org.apache.spark.sql.Row("bob", null))))
    assert(r.message == "INSERT 2")
    val sel = engine.execute(
      "SELECT id, size(tags) AS nt, profile.name AS pn FROM d6.nested ORDER BY id")
    assert(sel.data.map(_.toList) == Seq(List(1L, 2, "ann"), List(2L, null, "bob")))
    // bad nested type still addressed to the row/column
    val e = intercept[InsertValidator.ValidationError](
      engine.insertData("d6.nested", Seq("id", "tags", "profile"),
        Seq(Seq(3L, Seq(42), null))))
    assert(e.row == 0 && e.column == "tags")
    engine.execute("DROP TABLE d6.nested")
  }

  test("blocklist and unsupported statements are refused") {
    // a leading comment must not get a statement past the gate
    for (bad <- Seq("PRAGMA version", "ATTACH 'x.db'", "SET x=1",
                    "VACUUM", "GRANT ALL ON t TO u", "BEGIN",
                    "DROP INDEX idx ON t", "DROP USER bob",
                    "CREATE INDEX idx ON t (c)", "CREATE USER bob",
                    "CALL p()");
         sql <- Seq(bad, s"/* c */ $bad"))
      assertThrows[IllegalArgumentException](engine.execute(sql))
    // the reference parses SHOW USERS but its executor rejects it with
    // "unsupported SHOW type" (engine.go:267-268) — mirror exactly
    val e = intercept[IllegalArgumentException](engine.execute("SHOW USERS"))
    assert(e.getMessage == "unsupported SHOW type")
  }

  test("leading comments and a parenthesised UNION ALL route like the bare statement") {
    for (q <- Seq("/* app */ SELECT 1 AS x", "-- c\nSELECT 1 AS x",
                  "(SELECT 1 AS x) UNION ALL (SELECT 1)"))
      assert(engine.execute(q).data.flatten.toSet == Set(1), q)
    engine.execute("CREATE DATABASE IF NOT EXISTS d9")
    engine.execute("DROP TABLE IF EXISTS d9.c")
    engine.execute("CREATE TABLE d9.c (id int64, v string) STORAGE filesystem")
    engine.execute("INSERT INTO d9.c VALUES (1, 'a'), (2, 'b')")
    assert(engine.execute("/* c */ DELETE FROM d9.c WHERE id = 1").message == "DELETE 1")
    assert(engine.execute("-- c\nSELECT id FROM d9.c").data == Seq(Seq(2L)))
    engine.execute("DROP TABLE d9.c")
  }

  test("execution manager tracks lifecycle and stats") {
    engine.execute("SELECT 1 AS one")
    val stats = engine.executions.stats()
    assert(stats("total") > 0 && stats("completed") > 0)
    val last = engine.executions.list().last
    assert(last.elapsedSec >= 0)
  }

  test("DESCRIBE table uses the reference SHOW COLUMNS layout") {
    engine.execute("CREATE DATABASE IF NOT EXISTS d5")
    engine.execute("CREATE TABLE d5.dt (id int64 NOT NULL, v string) STORAGE filesystem")
    val d = engine.execute("DESCRIBE d5.dt")
    assert(d.columns == Seq("Field", "Type", "Null", "Key", "Unique", "Default", "Extra"))
    assert(d.data.map(_.head) == Seq("id", "v"))
    val d2 = engine.execute("DESC d5.dt")
    assert(d2.data == d.data)
    engine.execute("DROP TABLE d5.dt")
  }

  test("partitioned table keeps declared column order in SHOW COLUMNS") {
    engine.execute("CREATE DATABASE IF NOT EXISTS d4")
    engine.execute(
      "CREATE TABLE d4.p (id int64 NOT NULL, region string, val float64) " +
      "STORAGE filesystem PARTITION BY (region)")
    val sc = engine.execute("SHOW COLUMNS FROM d4.p")
    assert(sc.data.map(_.head) == Seq("id", "region", "val"))
    // DDL regeneration includes the partitioning clause
    val ddl = engine.execute("SHOW CREATE TABLE d4.p").data.head(1).toString
    assert(ddl.contains("PARTITION BY (region)"), ddl)
    engine.execute("DROP TABLE d4.p")
  }

  test("SYS_ functions rewrite outside string literals only") {
    // a literal 'SYS_DATE' is data, not a function (round-1 ADVICE:
    // the old rewrite regexed blindly over the whole statement)
    val r = engine.execute("SELECT 'SYS_DATE' AS lit, SYS_DATE AS today")
    assert(r.data.head.head == "SYS_DATE")
    assert(r.data.head(1).isInstanceOf[java.sql.Date])
    // escaped-quote literal stays intact too
    val r2 = engine.execute("SELECT 'it''s SYS_TIME' AS lit")
    assert(r2.data.head.head == "it's SYS_TIME")
    // a column DEFAULT may name one too (Spark resolves DEFAULT values
    // against its built-ins only)
    engine.execute("CREATE DATABASE IF NOT EXISTS d5")
    engine.execute("DROP TABLE IF EXISTS d5.dflt")
    engine.execute("CREATE TABLE d5.dflt (id int64, d date DEFAULT SYS_DATE, " +
      "t string DEFAULT SYS_TIME()) STORAGE filesystem")
    engine.execute("INSERT INTO d5.dflt (id) VALUES (1)")
    val row = engine.execute("SELECT d, t FROM d5.dflt").data.head
    assert(row.head.isInstanceOf[java.sql.Date], row)
    assert(row(1).toString.matches("\\d\\d:\\d\\d:\\d\\d"), row)
    engine.execute("DROP TABLE d5.dflt")
  }

  test("INSERT reports the written-row count without scanning the table") {
    engine.execute("CREATE DATABASE IF NOT EXISTS d6")
    engine.execute("DROP TABLE IF EXISTS d6.cnt")
    engine.execute("CREATE TABLE d6.cnt (id int64, v string) STORAGE filesystem")
    assert(engine.execute("INSERT INTO d6.cnt VALUES (1,'a'),(2,'b,с'),(3,'c')")
      .message == "INSERT 3")
    // INSERT ... SELECT: count comes from the write metric, not a diff
    assert(engine.execute(
      "INSERT INTO d6.cnt SELECT id, 'x' FROM range(5)").message == "INSERT 5")
    // OVERWRITE shrinks the table; the old count-diff reported 0 here
    assert(engine.execute(
      "INSERT OVERWRITE d6.cnt SELECT id, 'y' FROM range(2)").message == "INSERT 2")
    assert(engine.execute("SELECT count(*) AS c FROM d6.cnt").data.head.head == 2L)
    engine.execute("DROP TABLE d6.cnt")
  }

  test("insertData matches columns case-insensitively in validation AND reorder") {
    engine.execute("CREATE DATABASE IF NOT EXISTS d6")
    engine.execute("DROP TABLE IF EXISTS d6.ci")
    engine.execute(
      "CREATE TABLE d6.ci (id int64 NOT NULL, name string NOT NULL) STORAGE filesystem")
    // round-1 ADVICE: 'ID'/'NAME' passed validation but reordered to
    // null — the values must actually land
    val r = engine.insertData("d6.ci", Seq("ID", "NAME"), Seq(Seq(7L, "upper")))
    assert(r.message == "INSERT 1")
    val sel = engine.execute("SELECT id, name FROM d6.ci")
    assert(sel.data.head == Seq(7L, "upper"))
    engine.execute("DROP TABLE d6.ci")
  }

  test("UPDATE/DELETE on a partitioned table rewrites only affected partitions") {
    engine.execute("CREATE DATABASE IF NOT EXISTS d7")
    engine.execute("DROP TABLE IF EXISTS d7.pp")
    engine.execute(
      "CREATE TABLE d7.pp (id int64 NOT NULL, region string, val int32) " +
      "STORAGE filesystem PARTITION BY (region)")
    engine.execute(
      "INSERT INTO d7.pp VALUES (1,'eu',10),(2,'eu',20),(3,'us',30),(4,'us',40),(5,'ap',50)")
    val spark = TestSpark.spark
    val loc = spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser
        .parseTableIdentifier("d7.pp")).location.getPath
    def partFiles(p: String): Map[String, Long] = {
      val dir = new java.io.File(s"$loc/region=$p")
      Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val usBefore = partFiles("us")
    val apBefore = partFiles("ap")
    // UPDATE touching only region='eu' must leave us/ap files untouched
    val up = engine.execute("UPDATE d7.pp SET val = val + 1 WHERE region = 'eu'")
    assert(up.message == "UPDATE 2")
    assert(partFiles("us") == usBefore, "us partition was rewritten")
    assert(partFiles("ap") == apBefore, "ap partition was rewritten")
    val r = engine.execute("SELECT id, val FROM d7.pp ORDER BY id")
    assert(r.data.map(_.toList) == Seq(
      List(1L, 11), List(2L, 21), List(3L, 30), List(4L, 40), List(5L, 50)))
    // DELETE that empties a partition drops it; others untouched
    val del = engine.execute("DELETE FROM d7.pp WHERE region = 'ap'")
    assert(del.message == "DELETE 1")
    assert(partFiles("us") == usBefore, "us partition was rewritten by delete")
    // the emptied partition's files are retired in the commit log
    // (kept on disk through the grace window, never read again) and
    // the partition leaves the catalog
    val retired = graft.engine.CommitLog.current(
      new org.apache.hadoop.fs.Path(loc).getFileSystem(
        spark.sessionState.newHadoopConf()), new org.apache.hadoop.fs.Path(loc))
      .get.retired.map(_.rel).toSet
    assert(partFiles("ap").keySet.forall(f => retired(s"region=ap/$f")),
      "emptied partition not cleaned")
    assert(!spark.table("d7.pp").inputFiles.exists(_.contains("region=ap")))
    assert(!spark.sql("SHOW PARTITIONS d7.pp").collect()
      .map(_.getString(0)).contains("region=ap"))
    assert(engine.execute("SELECT count(*) AS c FROM d7.pp").data.head.head == 4L)
    // partial delete within one partition keeps the others untouched
    val del2 = engine.execute("DELETE FROM d7.pp WHERE id = 1")
    assert(del2.message == "DELETE 1")
    assert(partFiles("us") == usBefore)
    assert(engine.execute("SELECT count(*) AS c FROM d7.pp").data.head.head == 3L)
    engine.execute("DROP TABLE d7.pp")
  }

  test("DELETE keeps NULL-predicate rows (SQL semantics)") {
    engine.execute("CREATE DATABASE IF NOT EXISTS d10")
    engine.execute("DROP TABLE IF EXISTS d10.nn")
    engine.execute("CREATE TABLE d10.nn (id int64, v int32) STORAGE filesystem")
    engine.execute("INSERT INTO d10.nn VALUES (1, 10), (2, NULL), (3, 3)")
    // v > 5 is NULL for row 2 -> row 2 must SURVIVE the delete
    val del = engine.execute("DELETE FROM d10.nn WHERE v > 5")
    assert(del.message == "DELETE 1")
    val rows = engine.execute("SELECT id FROM d10.nn ORDER BY id")
    assert(rows.data.map(_.head) == Seq(2L, 3L))
    engine.execute("DROP TABLE d10.nn")
  }

  test("ALTER COLUMN matches case-insensitively without losing the column") {
    engine.execute("CREATE DATABASE IF NOT EXISTS d10")
    engine.execute("DROP TABLE IF EXISTS d10.cc")
    engine.execute("CREATE TABLE d10.cc (id int64, qty int32) STORAGE filesystem")
    engine.execute("INSERT INTO d10.cc VALUES (1, 5)")
    engine.execute("ALTER TABLE d10.cc ALTER COLUMN QTY int64")
    val sc = engine.execute("SHOW COLUMNS FROM d10.cc")
    assert(sc.data.map(r => (r(0), r(1))) == Seq("id" -> "int64", "qty" -> "int64"))
    assert(engine.execute("SELECT qty FROM d10.cc").data.head.head == 5L)
    engine.execute("DROP TABLE d10.cc")
  }

  test("STORAGE engines: memory pins the cache, s3 maps to s3a location") {
    engine.execute("CREATE DATABASE IF NOT EXISTS d8")
    engine.execute("DROP TABLE IF EXISTS d8.mem")
    engine.execute("CREATE TABLE d8.mem (id int64, v string) STORAGE memory")
    assert(TestSpark.spark.catalog.isCached("d8.mem"))
    engine.execute("INSERT INTO d8.mem VALUES (1,'a')")
    assert(engine.execute("SELECT count(*) AS c FROM d8.mem").data.head.head == 1L)
    engine.execute("DROP TABLE d8.mem")
    // s3: location generated from the configured base URI
    val ct = graft.engine.RangerDdl.parse(
      "CREATE TABLE logs (id int64) STORAGE s3")
    val ddl = ct.toSparkSql(Some("d8"), Some("s3a://warehouse-bucket/wh"))
    assert(ddl.contains("LOCATION 's3a://warehouse-bucket/wh/d8/logs'"))
    // without a bucket the engine refuses with an actionable error
    assertThrows[graft.engine.RangerDdl.ParseError](
      ct.toSparkSql(Some("d8"), None))
  }

  test("OPTIMIZE compacts many small files into few") {
    engine.execute("CREATE DATABASE IF NOT EXISTS d9")
    engine.execute("DROP TABLE IF EXISTS d9.frag")
    engine.execute("CREATE TABLE d9.frag (id int64, v string) STORAGE filesystem")
    // 12 separate INSERTs -> >= 12 small files
    (1 to 12).foreach(i =>
      engine.execute(s"INSERT INTO d9.frag VALUES ($i, 'v$i')"))
    val loc = new org.apache.hadoop.fs.Path(TestSpark.spark.sessionState.catalog
      .getTableMetadata(TestSpark.spark.sessionState.sqlParser
        .parseTableIdentifier("d9.frag")).location)
    // live files = the commit log's manifest: OPTIMIZE retires the
    // small files in place, so they stay on disk for the grace window
    def files() = graft.engine.CommitLog.current(
      loc.getFileSystem(TestSpark.spark.sessionState.newHadoopConf()), loc)
      .get.files.size
    assert(files() >= 12)
    val r = engine.execute("OPTIMIZE d9.frag")
    assert(r.message.startsWith("OPTIMIZE: "))
    assert(files() <= 2, s"still ${files()} files after compaction")
    // content unchanged
    val sel = engine.execute("SELECT count(*) AS n, sum(id) AS s FROM d9.frag")
    assert(sel.data.head == Seq(12L, 78L))
    engine.execute("DROP TABLE d9.frag")
  }

  test("UPDATE that moves rows across partitions stays correct") {
    engine.execute("CREATE DATABASE IF NOT EXISTS d7")
    engine.execute("DROP TABLE IF EXISTS d7.mv")
    engine.execute(
      "CREATE TABLE d7.mv (id int64 NOT NULL, region string) " +
      "STORAGE filesystem PARTITION BY (region)")
    engine.execute("INSERT INTO d7.mv VALUES (1,'eu'),(2,'us'),(3,'us')")
    // SET on the partition column: the replacement is staged by
    // partition, so the row lands in its new partition directory
    val up = engine.execute("UPDATE d7.mv SET region = 'us' WHERE id = 1")
    assert(up.message == "UPDATE 1")
    val r = engine.execute(
      "SELECT region, count(*) AS n FROM d7.mv GROUP BY region ORDER BY region")
    assert(r.data.map(_.toList) == Seq(List("us", 3L)))
    engine.execute("DROP TABLE d7.mv")
  }

  test("DESCRIBE EXTENDED: columns plus graft-shaped detail section") {
    engine.execute("CREATE DATABASE IF NOT EXISTS d8")
    engine.execute("DROP TABLE IF EXISTS d8.de")
    engine.execute(
      "CREATE TABLE d8.de (id int64 NOT NULL, region string, v int32) " +
      "STORAGE filesystem PARTITION BY (region) SETTINGS compression=zstd")
    engine.execute("INSERT INTO d8.de VALUES (1,'eu',5)")
    engine.execute("DELETE FROM d8.de WHERE id = 1") // -> one snapshot
    val r = engine.execute("DESCRIBE EXTENDED d8.de")
    assert(r.columns == Seq(
      "Field", "Type", "Null", "Key", "Unique", "Default", "Extra"))
    // column rows first, in declared order
    assert(r.data.take(3).map(_.head) == Seq("id", "region", "v"))
    val detail = r.data.map(row => row.head -> row(1)).toMap
    assert(r.data.exists(_.head == "# Detailed Table Information"))
    assert(detail("Database") == "d8" && detail("Table") == "de")
    assert(detail("Storage") == "filesystem")
    assert(detail("Location").toString.contains("d8.db/de"))
    assert(detail("Partition By") == "region")
    assert(detail("Settings").toString.contains("compression=zstd"))
    assert(detail("Snapshots") == "1")
    // bare DESCRIBE keeps the plain SHOW COLUMNS layout (no detail)
    val bare = engine.execute("DESCRIBE d8.de")
    assert(bare.data.length == 3)
    engine.execute("DROP TABLE d8.de")
  }
}
