package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.QueryEngine

/** MERGE INTO: single-pass full-outer upsert with first-match-wins
  * clause order, ANSI multi-match error, observed counts. */
class MergeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  lazy val engine = new QueryEngine(spark)

  private def rows(sql: String): Seq[List[Any]] =
    engine.execute(sql).data.map(_.toList)

  private def freshTable(name: String): Unit = {
    engine.execute("CREATE DATABASE IF NOT EXISTS mrg")
    engine.execute(s"DROP TABLE IF EXISTS mrg.$name")
    engine.execute(
      s"CREATE TABLE mrg.$name (id int64 NOT NULL, name string, qty int64) STORAGE filesystem")
    engine.execute(
      s"INSERT INTO mrg.$name VALUES (1,'a',10),(2,'b',20),(3,'c',30)")
  }

  test("upsert: matched rows update, new rows insert, rest untouched") {
    freshTable("t1")
    val r = engine.execute(
      """MERGE INTO mrg.t1 AS t
        |USING (VALUES (2, 'B', 200), (4, 'd', 40)) AS s(id, name, qty)
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET name = s.name, qty = s.qty
        |WHEN NOT MATCHED THEN INSERT (id, name, qty) VALUES (s.id, s.name, s.qty)""".stripMargin)
    assert(r.message == "MERGE 1 updated, 0 deleted, 1 inserted")
    assert(rows("SELECT id, name, qty FROM mrg.t1 ORDER BY id") == Seq(
      List(1L, "a", 10L), List(2L, "B", 200L),
      List(3L, "c", 30L), List(4L, "d", 40L)))
  }

  test("clause conditions + DELETE, first match wins") {
    freshTable("t2")
    val r = engine.execute(
      """MERGE INTO mrg.t2 t
        |USING (VALUES (1, 5), (2, 500), (3, 7)) AS s(id, q)
        |ON t.id = s.id
        |WHEN MATCHED AND s.q > 100 THEN DELETE
        |WHEN MATCHED AND t.id = 1 THEN UPDATE SET qty = s.q
        |WHEN MATCHED THEN UPDATE SET qty = t.qty + s.q""".stripMargin)
    // id=2 deleted (first clause), id=1 set to 5 (second), id=3 adds 7
    assert(r.message == "MERGE 2 updated, 1 deleted, 0 inserted")
    assert(rows("SELECT id, qty FROM mrg.t2 ORDER BY id") == Seq(
      List(1L, 5L), List(3L, 37L)))
  }

  test("NOT MATCHED condition gates inserts; unreferenced cols go null") {
    freshTable("t3")
    val r = engine.execute(
      """MERGE INTO mrg.t3 t
        |USING (VALUES (8, 80), (9, -1)) AS s(id, q)
        |ON t.id = s.id
        |WHEN NOT MATCHED AND s.q > 0 THEN INSERT (id, qty) VALUES (s.id, s.q)""".stripMargin)
    assert(r.message == "MERGE 0 updated, 0 deleted, 1 inserted")
    assert(rows("SELECT id, name, qty FROM mrg.t3 WHERE id >= 8") ==
      Seq(List(8L, null, 80L)))
    assert(rows("SELECT count(*) AS n FROM mrg.t3") == Seq(List(4L)))
  }

  test("a target row matching multiple source rows is an error") {
    freshTable("t4")
    val e = intercept[IllegalArgumentException] {
      engine.execute(
        """MERGE INTO mrg.t4 t
          |USING (VALUES (2, 1), (2, 2)) AS s(id, q)
          |ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET qty = s.q""".stripMargin)
    }
    assert(e.getMessage.contains("matched multiple source rows"))
    // and nothing was rewritten
    assert(rows("SELECT qty FROM mrg.t4 WHERE id = 2") == Seq(List(20L)))
  }

  test("empty source is a no-op (no rewrite job)") {
    freshTable("t5")
    val r = engine.execute(
      """MERGE INTO mrg.t5 t
        |USING (SELECT CAST(NULL AS BIGINT) AS id, 0 AS q WHERE 1 = 0) s
        |ON t.id = s.id
        |WHEN MATCHED THEN DELETE""".stripMargin)
    assert(r.message == "MERGE 0 updated, 0 deleted, 0 inserted")
    assert(rows("SELECT count(*) AS n FROM mrg.t5") == Seq(List(3L)))
  }

  test("table-to-table merge with a registered source table") {
    freshTable("t6")
    engine.execute("DROP TABLE IF EXISTS mrg.src6")
    engine.execute(
      "CREATE TABLE mrg.src6 (id int64 NOT NULL, name string, qty int64) STORAGE filesystem")
    engine.execute("INSERT INTO mrg.src6 VALUES (3,'C',300),(5,'e',50)")
    val r = engine.execute(
      """MERGE INTO mrg.t6 t USING mrg.src6 s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET name = s.name, qty = s.qty
        |WHEN NOT MATCHED THEN INSERT VALUES (s.id, s.name, s.qty)""".stripMargin)
    assert(r.message == "MERGE 1 updated, 0 deleted, 1 inserted")
    assert(rows("SELECT id, name, qty FROM mrg.t6 ORDER BY id") == Seq(
      List(1L, "a", 10L), List(2L, "b", 20L),
      List(3L, "C", 300L), List(5L, "e", 50L)))
  }

  test("merge into a partitioned table preserves partition layout") {
    engine.execute("CREATE DATABASE IF NOT EXISTS mrg")
    engine.execute("DROP TABLE IF EXISTS mrg.tp")
    engine.execute(
      """CREATE TABLE mrg.tp (id int64 NOT NULL, region string, qty int64)
        |STORAGE filesystem PARTITION BY (region)""".stripMargin)
    engine.execute(
      "INSERT INTO mrg.tp VALUES (1,'eu',10),(2,'us',20),(3,'eu',30)")
    val r = engine.execute(
      """MERGE INTO mrg.tp t
        |USING (VALUES (2, 'us', 99), (4, 'ap', 40)) AS s(id, region, qty)
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET qty = s.qty
        |WHEN NOT MATCHED THEN INSERT VALUES (s.id, s.region, s.qty)""".stripMargin)
    assert(r.message == "MERGE 1 updated, 0 deleted, 1 inserted")
    assert(rows("SELECT id, region, qty FROM mrg.tp ORDER BY id") == Seq(
      List(1L, "eu", 10L), List(2L, "us", 99L),
      List(3L, "eu", 30L), List(4L, "ap", 40L)))
    // partition pruning still works after the rewrite
    assert(rows("SELECT count(*) AS n FROM mrg.tp WHERE region = 'eu'") ==
      Seq(List(2L)))
  }

  import scala.jdk.CollectionConverters._

  private def partFiles(table: String, part: String): Set[String] = {
    val loc = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table)).location
    val dir = java.nio.file.Paths.get(new java.net.URI(loc.toString).getPath, part)
    if (!java.nio.file.Files.exists(dir)) Set.empty
    else {
      val s = java.nio.file.Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("part-")).toSet
      finally s.close()
    }
  }

  test("a DELETE-free merge rewrites ONLY the affected partitions") {
    engine.execute("CREATE DATABASE IF NOT EXISTS mrg")
    engine.execute("DROP TABLE IF EXISTS mrg.tq")
    engine.execute(
      """CREATE TABLE mrg.tq (id int64 NOT NULL, region string, qty int64)
        |STORAGE filesystem PARTITION BY (region)""".stripMargin)
    engine.execute(
      "INSERT INTO mrg.tq VALUES (1,'eu',10),(2,'us',20),(3,'eu',30)")
    val euBefore = partFiles("mrg.tq", "region=eu")
    assert(euBefore.nonEmpty)
    val r = engine.execute(
      """MERGE INTO mrg.tq t
        |USING (VALUES (2, 99), (7, 70)) AS s(id, qty)
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET qty = s.qty
        |WHEN NOT MATCHED THEN INSERT (id, region, qty) VALUES (s.id, 'ap', s.qty)""".stripMargin)
    assert(r.message == "MERGE 1 updated, 0 deleted, 1 inserted")
    // the eu partition held no matched rows: its files are untouched
    assert(partFiles("mrg.tq", "region=eu") == euBefore)
    assert(rows("SELECT id, region, qty FROM mrg.tq ORDER BY id") == Seq(
      List(1L, "eu", 10L), List(2L, "us", 99L),
      List(3L, "eu", 30L), List(7L, "ap", 70L)))
  }

  test("insert-only merge into a partitioned table appends without any overwrite") {
    engine.execute("CREATE DATABASE IF NOT EXISTS mrg")
    engine.execute("DROP TABLE IF EXISTS mrg.tr")
    engine.execute(
      """CREATE TABLE mrg.tr (id int64 NOT NULL, region string, qty int64)
        |STORAGE filesystem PARTITION BY (region)""".stripMargin)
    engine.execute("INSERT INTO mrg.tr VALUES (1,'eu',10)")
    val euBefore = partFiles("mrg.tr", "region=eu")
    val r = engine.execute(
      """MERGE INTO mrg.tr t
        |USING (VALUES (8, 'us', 80)) AS s(id, region, qty)
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET qty = s.qty
        |WHEN NOT MATCHED THEN INSERT VALUES (s.id, s.region, s.qty)""".stripMargin)
    assert(r.message == "MERGE 0 updated, 0 deleted, 1 inserted")
    assert(partFiles("mrg.tr", "region=eu") == euBefore)
    assert(rows("SELECT id, region, qty FROM mrg.tr ORDER BY id") == Seq(
      List(1L, "eu", 10L), List(8L, "us", 80L)))
  }

  test("a merge WITH a DELETE clause on a partitioned table still lands exactly") {
    engine.execute("CREATE DATABASE IF NOT EXISTS mrg")
    engine.execute("DROP TABLE IF EXISTS mrg.ts")
    engine.execute(
      """CREATE TABLE mrg.ts (id int64 NOT NULL, region string, qty int64)
        |STORAGE filesystem PARTITION BY (region)""".stripMargin)
    engine.execute(
      "INSERT INTO mrg.ts VALUES (1,'eu',10),(2,'us',20),(3,'eu',30)")
    val r = engine.execute(
      """MERGE INTO mrg.ts t
        |USING (VALUES (1, 0), (2, 99)) AS s(id, qty)
        |ON t.id = s.id
        |WHEN MATCHED AND s.qty = 0 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET qty = s.qty""".stripMargin)
    assert(r.message == "MERGE 1 updated, 1 deleted, 0 inserted")
    assert(rows("SELECT id, region, qty FROM mrg.ts ORDER BY id") == Seq(
      List(2L, "us", 99L), List(3L, "eu", 30L)))
  }

  test("a merge WITH a DELETE clause is still partition-scoped: untouched partitions byte-identical") {
    // round-8 verdict item 5: DELETE clauses previously forced the
    // whole-table rewrite; now they ride the pruned path, with emptied
    // partitions dropped via the observed survivor set
    engine.execute("CREATE DATABASE IF NOT EXISTS mrg")
    engine.execute("DROP TABLE IF EXISTS mrg.td")
    engine.execute(
      """CREATE TABLE mrg.td (id int64 NOT NULL, region string, qty int64)
        |STORAGE filesystem PARTITION BY (region)""".stripMargin)
    engine.execute(
      "INSERT INTO mrg.td VALUES (1,'eu',10),(2,'us',20),(3,'eu',30),(4,'us',40)")
    val euBefore = partFiles("mrg.td", "region=eu")
    assert(euBefore.nonEmpty)
    val r = engine.execute(
      """MERGE INTO mrg.td t
        |USING (VALUES (2, 0), (4, 99), (9, 90)) AS s(id, qty)
        |ON t.id = s.id
        |WHEN MATCHED AND s.qty = 0 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET qty = s.qty
        |WHEN NOT MATCHED THEN INSERT (id, region, qty) VALUES (s.id, 'ap', s.qty)""".stripMargin)
    assert(r.message == "MERGE 1 updated, 1 deleted, 1 inserted")
    // only the us partition held matches: eu's files are byte-identical
    assert(partFiles("mrg.td", "region=eu") == euBefore,
      "a DELETE-clause merge rewrote an unaffected partition")
    assert(rows("SELECT id, region, qty FROM mrg.td ORDER BY id") == Seq(
      List(1L, "eu", 10L), List(3L, "eu", 30L),
      List(4L, "us", 99L), List(9L, "ap", 90L)))
  }

  test("a DELETE-clause merge that empties a partition drops it") {
    engine.execute("CREATE DATABASE IF NOT EXISTS mrg")
    engine.execute("DROP TABLE IF EXISTS mrg.te")
    engine.execute(
      """CREATE TABLE mrg.te (id int64 NOT NULL, region string, qty int64)
        |STORAGE filesystem PARTITION BY (region)""".stripMargin)
    engine.execute(
      "INSERT INTO mrg.te VALUES (1,'eu',10),(2,'us',20),(3,'us',30)")
    val r = engine.execute(
      """MERGE INTO mrg.te t
        |USING (VALUES (2), (3)) AS s(id)
        |ON t.id = s.id
        |WHEN MATCHED THEN DELETE""".stripMargin)
    assert(r.message == "MERGE 0 updated, 2 deleted, 0 inserted")
    assert(rows("SELECT id, region, qty FROM mrg.te ORDER BY id") == Seq(
      List(1L, "eu", 10L)))
    // the us partition is fully deleted: the files it still holds on
    // disk are retired in the commit log (kept through the grace
    // window, never read again), and it leaves the catalog
    val loc = new org.apache.hadoop.fs.Path(spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser
        .parseTableIdentifier("mrg.te")).location)
    val retired = graft.engine.CommitLog.current(
      loc.getFileSystem(spark.sessionState.newHadoopConf()), loc)
      .get.retired.map(_.rel).toSet
    assert(partFiles("mrg.te", "region=us").forall(f => retired(s"region=us/$f")),
      "emptied partition's files survived the merge")
    assert(spark.sql("SHOW PARTITIONS mrg.te").collect()
      .map(_.getString(0)).toSeq == Seq("region=eu"))
    assert(rows("SELECT count(*) AS n FROM mrg.te WHERE region = 'us'") ==
      Seq(List(0L)))
  }
}
