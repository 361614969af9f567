package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.QueryEngine

/** ALTER TABLE column ops round-trip through SHOW COLUMNS and keep
  * data intact across the schema-evolution rewrite
  * (reference grammar: parser.go:1998-2227). */
class AlterTableSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  lazy val engine = new QueryEngine(spark)

  private def cols(t: String): Seq[(String, String)] =
    engine.execute(s"SHOW COLUMNS FROM $t").data.map(r =>
      (r(0).toString, r(1).toString))

  test("ADD / DROP / ALTER COLUMN evolve schema and preserve rows") {
    engine.execute("CREATE DATABASE IF NOT EXISTS alt")
    engine.execute("DROP TABLE IF EXISTS alt.t")
    engine.execute(
      "CREATE TABLE alt.t (id int64 NOT NULL, name string, qty int32) STORAGE filesystem")
    engine.execute("INSERT INTO alt.t VALUES (1,'a',10),(2,'b',20)")

    // ADD COLUMN: metadata-only, existing rows read as null
    val add = engine.execute("ALTER TABLE alt.t ADD COLUMN score float64")
    assert(add.message == "Column score added")
    assert(cols("alt.t") == Seq(
      "id" -> "int64", "name" -> "string", "qty" -> "int32", "score" -> "float64"))
    assert(engine.execute("SELECT count(*) AS n FROM alt.t WHERE score IS NULL")
      .data.head.head == 2L)
    engine.execute("INSERT INTO alt.t VALUES (3,'c',30,9.5)")

    // ALTER COLUMN type: physical rewrite with cast
    val alter = engine.execute("ALTER TABLE alt.t ALTER COLUMN qty int64")
    assert(alter.message == "Column qty altered to int64")
    assert(cols("alt.t").contains("qty" -> "int64"))
    val r = engine.execute("SELECT id, qty FROM alt.t ORDER BY id")
    assert(r.data.map(_.toList) == Seq(List(1L, 10L), List(2L, 20L), List(3L, 30L)))

    // DROP COLUMN: physical rewrite without the column
    val drop = engine.execute("ALTER TABLE alt.t DROP COLUMN name")
    assert(drop.message == "Column name dropped")
    assert(cols("alt.t") == Seq(
      "id" -> "int64", "qty" -> "int64", "score" -> "float64"))
    val r2 = engine.execute("SELECT id, qty, score FROM alt.t ORDER BY id")
    assert(r2.data.length == 3 && r2.data.head.head == 1L)
    // NOT NULL bookkeeping survived the rewrite
    val sc = engine.execute("SHOW COLUMNS FROM alt.t")
    assert(sc.data.head(2) == "NO") // id still NOT NULL

    // dropping a missing or partition column is refused
    assertThrows[Exception](engine.execute("ALTER TABLE alt.t DROP COLUMN nope"))
    engine.execute("DROP TABLE alt.t")
  }

  test("SETTINGS updates codec property with validation") {
    engine.execute("CREATE DATABASE IF NOT EXISTS alt")
    engine.execute("DROP TABLE IF EXISTS alt.s")
    engine.execute("CREATE TABLE alt.s (id int64) STORAGE filesystem")
    val r = engine.execute("ALTER TABLE alt.s SETTINGS (compression=zstd)")
    assert(r.message == "Settings updated")
    val props = spark.sql("SHOW TBLPROPERTIES alt.s").collect()
      .map(x => x.getString(0) -> x.getString(1)).toMap
    assert(props("parquet.compression") == "zstd")
    assert(props("graft.settings.compression") == "zstd")
    assertThrows[Exception](
      engine.execute("ALTER TABLE alt.s SETTINGS (compression=rar)"))
    // quoted literal values parse as the reference parser accepts them
    // (round-2 ADVICE: 'zstd' kept its quotes and failed validation)
    val rq = engine.execute("ALTER TABLE alt.s SETTINGS (compression='gzip')")
    assert(rq.message == "Settings updated")
    val props2 = spark.sql("SHOW TBLPROPERTIES alt.s").collect()
      .map(x => x.getString(0) -> x.getString(1)).toMap
    assert(props2("parquet.compression") == "gzip")
    assert(props2("graft.settings.compression") == "gzip")
    assertThrows[Exception](
      engine.execute("ALTER TABLE alt.s SETTINGS (compression='rar')"))
    engine.execute("DROP TABLE alt.s")
  }

  test("RENAME COLUMN rewrites data and carries all bookkeeping") {
    engine.execute("CREATE DATABASE IF NOT EXISTS alt")
    engine.execute("DROP TABLE IF EXISTS alt.rn")
    engine.execute(
      "CREATE TABLE alt.rn (id int64 NOT NULL, old_name string UNIQUE) STORAGE filesystem")
    engine.execute("INSERT INTO alt.rn VALUES (1,'a'),(2,'b')")
    val r = engine.execute("ALTER TABLE alt.rn RENAME COLUMN old_name TO new_name")
    assert(r.message == "Column old_name renamed to new_name")
    // data survives under the new name; the old name is gone
    val rows = engine.execute("SELECT id, new_name FROM alt.rn ORDER BY id")
    assert(rows.data.map(_.toList) == Seq(List(1L, "a"), List(2L, "b")))
    assertThrows[Exception](engine.execute("SELECT old_name FROM alt.rn"))
    // bookkeeping followed: declared order, type map, unique list
    val cols = engine.execute("SHOW COLUMNS FROM alt.rn")
    assert(cols.data.map(_.head) == Seq("id", "new_name"))
    assert(cols.data.find(_.head == "new_name").get(4) == "YES") // unique
    // collisions and partition columns are refused
    assertThrows[Exception](
      engine.execute("ALTER TABLE alt.rn RENAME COLUMN new_name TO id"))
    engine.execute("DROP TABLE alt.rn")
  }

  test("ALTER on a partitioned table keeps partitioning through the rewrite") {
    engine.execute("CREATE DATABASE IF NOT EXISTS alt")
    engine.execute("DROP TABLE IF EXISTS alt.p")
    engine.execute(
      "CREATE TABLE alt.p (id int64, region string, v int32) " +
      "STORAGE filesystem PARTITION BY (region)")
    engine.execute("INSERT INTO alt.p VALUES (1,'eu',1),(2,'us',2)")
    engine.execute("ALTER TABLE alt.p DROP COLUMN v")
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier("alt.p"))
    assert(meta.partitionColumnNames == Seq("region"))
    assert(engine.execute("SELECT id, region FROM alt.p ORDER BY id")
      .data.map(_.toList) == Seq(List(1L, "eu"), List(2L, "us")))
    // partition columns cannot be dropped
    assertThrows[Exception](engine.execute("ALTER TABLE alt.p DROP COLUMN region"))
    engine.execute("DROP TABLE alt.p")
  }

  test("a failed ALTER leaves the commit log and mirror history intact") {
    // round-16 advice: a failure part-way through an ALTER must leave
    // the live table with its _graft_log and metadata dirs, or version
    // numbering silently restarts at the next publish. The failure here
    // hits the column rewrite's staged write: under ANSI casts a
    // non-numeric string cannot become int64.
    import org.apache.hadoop.fs.Path
    import graft.engine.{CommitLog, IcebergMetadata}
    engine.execute("CREATE DATABASE IF NOT EXISTS alt")
    engine.execute("DROP TABLE IF EXISTS alt.h")
    engine.execute(
      "CREATE TABLE alt.h (id int64, v string) STORAGE filesystem SETTINGS commitlog=true")
    engine.execute("INSERT INTO alt.h VALUES (1,'a')")
    engine.execute("INSERT INTO alt.h VALUES (2,'b')")
    val loc = new Path(spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier("alt.h")).location)
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    val v0 = CommitLog.currentVersion(fs, loc)
    assert(v0 >= 2L)
    assert(fs.exists(IcebergMetadata.metadataDir(loc)))

    assertThrows[Exception](engine.execute("ALTER TABLE alt.h ALTER COLUMN v int64"))

    // original table fully intact: rows, commit-log version, mirror
    assert(engine.execute("SELECT count(*) AS n FROM alt.h").data.head.head == 2L)
    assert(CommitLog.currentVersion(fs, loc) == v0,
      "commit log lost or reset by the failed ALTER")
    assert(fs.exists(IcebergMetadata.metadataDir(loc)),
      "Iceberg mirror dir lost by the failed ALTER")
    // and the NEXT publish continues the sequence, not v0
    engine.execute("INSERT INTO alt.h VALUES (3,'c')")
    assert(CommitLog.currentVersion(fs, loc) == v0 + 1,
      "version sequence restarted after the failed ALTER")
    engine.execute("DROP TABLE alt.h")
  }

  test("ALTER DROP COLUMN publishes one log version and retires every pre-ALTER file in place") {
    import org.apache.hadoop.fs.Path
    import graft.engine.CommitLog
    engine.execute("CREATE DATABASE IF NOT EXISTS alt")
    engine.execute("DROP TABLE IF EXISTS alt.ip")
    engine.execute(
      "CREATE TABLE alt.ip (id int64, v string, p int32) STORAGE filesystem PARTITION BY (p)")
    engine.execute("INSERT INTO alt.ip VALUES (1,'a',1),(2,'b',2)")
    engine.execute("INSERT INTO alt.ip VALUES (3,'c',1)")
    val loc = new Path(spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier("alt.ip")).location)
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    val v0 = CommitLog.currentVersion(fs, loc)
    val before = CommitLog.current(fs, loc).get.files.toSet
    assert(before.size == 3)

    engine.execute("ALTER TABLE alt.ip DROP COLUMN v")

    assert(CommitLog.currentVersion(fs, loc) == v0 + 1)
    val m = CommitLog.current(fs, loc).get
    assert(m.files.toSet.intersect(before).isEmpty)
    assert(before.subsetOf(m.retired.map(_.rel).toSet))
    assert(before.forall(r => fs.exists(new Path(loc, r))),
      "pre-ALTER files must stay at their own paths")
    // no temporary table, no ALTER staging or history stash
    assert(!spark.catalog.tableExists("alt.ip__graft_alter"))
    val warehouse = new Path(spark.conf.get("spark.sql.warehouse.dir"))
    assert(!fs.listStatus(warehouse).exists(_.getPath.getName.startsWith(".graft-alter")))
    assert(engine.execute("SELECT * FROM alt.ip ORDER BY id").data.map(_.toList) ==
      Seq(List(1L, 1), List(2L, 2), List(3L, 1)))
    assert(engine.execute("SELECT id, v FROM alt.ip VERSION AS OF 1 ORDER BY id")
      .data.map(_.toList) == Seq(List(1L, "a"), List(2L, "b"), List(3L, "c")))
    engine.execute("DROP TABLE alt.ip")
  }
}
