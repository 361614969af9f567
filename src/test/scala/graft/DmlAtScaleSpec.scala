package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.QueryEngine

/** The partition-pruned DML + pinned-version snapshot machinery at a
  * realistic row count (sf0.01 lineitem, 60k rows, 3 partitions):
  * pruned DELETE touches only its partition's files, the files a
  * snapshot holds stay O(changed files), time travel sees the pre-delete
  * table, and RESTORE round-trips — the whole lifecycle the 100 TB
  * design promises, at a size where a whole-table rewrite would be
  * visibly slower than the pruned path. */
class DmlAtScaleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  lazy val engine = new QueryEngine(spark)

  private def warehouse = Paths.get(
    spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))

  private def parquetFiles(p: Path): Seq[Path] =
    if (!Files.exists(p)) Seq.empty
    else Files.walk(p).iterator().asScala
      .filter(f => f.toString.endsWith(".parquet")).toSeq

  test("60k-row partitioned lifecycle: pruned DELETE, O(changed) archive, time travel, RESTORE") {
    engine.execute("CREATE DATABASE IF NOT EXISTS dmlsc")
    engine.execute("DROP TABLE IF EXISTS dmlsc.li")
    engine.execute(
      "CREATE TABLE dmlsc.li (l_orderkey int64, l_quantity float64, " +
        "l_extendedprice float64, l_returnflag string) " +
        "STORAGE filesystem PARTITION BY (l_returnflag)")
    spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
      .createOrReplaceTempView("li_src")
    engine.execute(
      "INSERT INTO dmlsc.li SELECT l_orderkey, l_quantity, " +
        "l_extendedprice, l_returnflag FROM li_src")
    val total = engine.execute("SELECT count(*) AS n FROM dmlsc.li")
      .data.head.head.asInstanceOf[Long]
    assert(total > 50000, s"expected ~60k rows, got $total")
    val doomed = engine.execute(
      "SELECT count(*) AS n FROM dmlsc.li WHERE l_returnflag = 'A' AND l_quantity < 10")
      .data.head.head.asInstanceOf[Long]
    assert(doomed > 1000)

    val tableDir = warehouse.resolve("dmlsc.db/li")
    val aNames = parquetFiles(tableDir.resolve("l_returnflag=A"))
      .map(_.getFileName).toSet
    val aFiles = aNames.size
    val otherFiles = parquetFiles(tableDir).size - aFiles
    assert(aFiles > 0 && otherFiles > 0)

    val t0 = System.nanoTime()
    val del = engine.execute(
      "DELETE FROM dmlsc.li WHERE l_returnflag = 'A' AND l_quantity < 10")
    val delSec = (System.nanoTime() - t0) / 1e9
    assert(del.message == s"DELETE $doomed")
    info(f"pruned DELETE of $doomed rows: $delSec%.1fs")

    // the snapshot holds ONLY the rewritten partition's files: they
    // retire in place, and nothing is copied outside the table dir
    val loc = new org.apache.hadoop.fs.Path(tableDir.toUri)
    val held = graft.engine.CommitLog.current(
      loc.getFileSystem(spark.sessionState.newHadoopConf()), loc)
      .get.retired.map(_.rel)
    assert(held.size == aFiles,
      s"retired ${held.size}, expected the $aFiles files of l_returnflag=A")
    assert(held.forall(r => r.startsWith("l_returnflag=A/") &&
      Files.exists(tableDir.resolve(r))))
    assert(!parquetFiles(warehouse).exists(f =>
      !f.startsWith(tableDir) && aNames(f.getFileName)),
      "a replaced file was copied outside the table dir")

    assert(engine.execute("SELECT count(*) AS n FROM dmlsc.li")
      .data.head.head == total - doomed)
    // unaffected partitions' files untouched on disk
    assert(parquetFiles(tableDir).size - parquetFiles(
      tableDir.resolve("l_returnflag=A")).size == otherFiles)
    // time travel sees the pre-delete table
    assert(engine.execute(
      "SELECT count(*) AS n FROM dmlsc.li VERSION AS OF 1")
      .data.head.head == total)
    // and RESTORE round-trips
    engine.execute("RESTORE TABLE dmlsc.li VERSION AS OF 1")
    assert(engine.execute("SELECT count(*) AS n FROM dmlsc.li")
      .data.head.head == total)
    engine.execute("DROP TABLE dmlsc.li")
  }
}
