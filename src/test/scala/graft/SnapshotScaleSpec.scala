package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.QueryEngine

/** The snapshot-as-pinned-version scale properties (round-2 verdict
  * #1): snapshot creation writes NO data, a rewrite holds on disk only
  * the files it replaces, EXPIRE frees them, retention bounds growth,
  * and DML runs one scan over affected partitions (#2). */
class SnapshotScaleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  lazy val engine = new QueryEngine(spark)

  private def warehouse = Paths.get(
    spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))

  private def parquetFiles(p: Path): Seq[Path] =
    if (!Files.exists(p)) Seq.empty
    else Files.walk(p).iterator().asScala
      .filter(f => f.toString.endsWith(".parquet")).toSeq

  private def tableDir(table: String): Path = {
    val Array(db, t) = table.split("\\.", 2)
    warehouse.resolve(s"$db.db/$t")
  }

  /** The snapshot records in the table's commit log. */
  private def records(table: String): Seq[Path] = {
    val log = tableDir(table).resolve("_graft_log")
    if (!Files.exists(log)) Seq.empty
    else Files.list(log).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".snapshot")).toSeq
  }

  /** Table-relative paths the commit log retired and still keeps. */
  private def retired(table: String): Set[String] = {
    val loc = new org.apache.hadoop.fs.Path(tableDir(table).toUri)
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    graft.engine.CommitLog.current(fs, loc).toSeq.flatMap(_.retired.map(_.rel)).toSet
  }

  test("snapshot creation writes no data; pruned DELETE holds only the affected partition's replaced file") {
    engine.execute("CREATE DATABASE IF NOT EXISTS snapsc")
    engine.execute("DROP TABLE IF EXISTS snapsc.pt")
    engine.execute(
      "CREATE TABLE snapsc.pt (id int64, v string, p int32) STORAGE filesystem PARTITION BY (p)")
    // several files per partition
    (1 to 3).foreach { i =>
      engine.execute(
        s"INSERT INTO snapsc.pt VALUES ($i,'a',1),(${i + 10},'b',2),(${i + 20},'c',3)")
    }
    val dir = tableDir("snapsc.pt")
    val filesBefore = parquetFiles(dir)
    val p1Before = parquetFiles(dir.resolve("p=1"))
    val p2Before = parquetFiles(dir.resolve("p=2"))
    assert(p1Before.nonEmpty && filesBefore.size > p1Before.size)

    engine.execute("DELETE FROM snapsc.pt WHERE p = 1 AND id = 1") // snapshot 1

    // the snapshot itself is one small record — zero copied data, and
    // no parquet file anywhere outside the table dir
    assert(records("snapsc.pt").map(_.getFileName.toString) ==
      Seq("s000000000001.snapshot"))
    assert(Files.size(records("snapsc.pt").head) < 4096)
    val p1Names = p1Before.map(_.getFileName).toSet
    assert(!parquetFiles(warehouse).exists(f =>
      !f.startsWith(dir) && p1Names(f.getFileName)),
      "a replaced file was copied outside the table dir")
    // the log holds EXACTLY the file the DELETE replaced, retired in
    // place: the one p=1 file holding id 1 (its p=1 siblings stay live)
    val held = retired("snapsc.pt")
    assert(held.size == 1,
      s"retired ${held.size} files, expected only the file holding id 1")
    assert(held.forall(_.startsWith("p=1/")))
    assert(held.forall(r => Files.exists(dir.resolve(r))))
    // id 1 was its file's only row: nothing is written back, and the
    // replaced file is still on disk
    assert(parquetFiles(dir).toSet == filesBefore.toSet)
    // unaffected partitions' files were never touched
    assert(parquetFiles(dir.resolve("p=2")).toSet == p2Before.toSet)
    // time travel reads the pre-delete state from the pinned version
    assert(engine.execute(
      "SELECT count(*) AS n FROM snapsc.pt VERSION AS OF 1").data.head.head == 9L)
    assert(engine.execute(
      "SELECT count(*) AS n FROM snapsc.pt").data.head.head == 8L)
    engine.execute("DROP TABLE snapsc.pt")
  }

  test("EXPIRE SNAPSHOTS deletes records and frees the files no snapshot pins") {
    engine.execute("CREATE DATABASE IF NOT EXISTS snapsc")
    engine.execute("DROP TABLE IF EXISTS snapsc.ex")
    engine.execute("CREATE TABLE snapsc.ex (id int64, v string) STORAGE filesystem")
    engine.execute("INSERT INTO snapsc.ex VALUES (1,'a'),(2,'b'),(3,'c')")
    // grace 0: a retired file is held only while a snapshot pins it
    spark.conf.set("spark.graft.commitlog.graceMs", "0")
    spark.conf.set("spark.graft.commitlog.maxSkewMs", "0")
    try {
      engine.execute("DELETE FROM snapsc.ex WHERE id = 3") // snapshot 1
      engine.execute("UPDATE snapsc.ex SET v='z' WHERE id=2") // snapshot 2
      val dir = tableDir("snapsc.ex")
      val held = retired("snapsc.ex")
      assert(held.size == 2 && held.forall(r => Files.exists(dir.resolve(r))),
        s"both replaced files must stay pinned in place: $held")
      assert(engine.execute("SHOW SNAPSHOTS FROM snapsc.ex").rowCount == 2)

      Thread.sleep(5)
      val keep = engine.execute("EXPIRE SNAPSHOTS FROM snapsc.ex KEEP LAST 1")
      assert(keep.message == "Expired 1 snapshot(s)")
      assert(engine.execute("SHOW SNAPSHOTS FROM snapsc.ex").rowCount == 1)
      // snapshot 2 pins the version after the DELETE: the DELETE's
      // replacement is still held, the pre-DELETE file is freed
      assert(retired("snapsc.ex").size == 1)

      Thread.sleep(5)
      val all = engine.execute("EXPIRE SNAPSHOTS FROM snapsc.ex")
      assert(all.message == "Expired 1 snapshot(s)")
      assert(engine.execute("SHOW SNAPSHOTS FROM snapsc.ex").rowCount == 0)
      // every held file was unpinned after expiry -> deleted
      assert(retired("snapsc.ex").isEmpty)
      assert(held.forall(r => !Files.exists(dir.resolve(r))))
      assert(engine.execute("SELECT id, v FROM snapsc.ex ORDER BY id")
        .data.map(_.toList) == Seq(List(1L, "a"), List(2L, "z")))
    } finally {
      spark.conf.unset("spark.graft.commitlog.graceMs")
      spark.conf.unset("spark.graft.commitlog.maxSkewMs")
    }
    engine.execute("DROP TABLE snapsc.ex")
  }

  test("retention cap bounds snapshot count; DROP TABLE purges history") {
    spark.conf.set("spark.graft.snapshots.retain", "2")
    try {
      engine.execute("CREATE DATABASE IF NOT EXISTS snapsc")
      engine.execute("DROP TABLE IF EXISTS snapsc.rt")
      engine.execute("CREATE TABLE snapsc.rt (id int64) STORAGE filesystem")
      engine.execute("INSERT INTO snapsc.rt VALUES (1),(2),(3),(4)")
      (1 to 4).foreach(i => engine.execute(s"DELETE FROM snapsc.rt WHERE id = $i"))
      val snaps = engine.execute("SHOW SNAPSHOTS FROM snapsc.rt")
      assert(snaps.rowCount == 2, s"retention should keep 2, got ${snaps.rowCount}")
      // newest two survive
      assert(snaps.data.map(_.head) == Seq(3L, 4L))
      assert(records("snapsc.rt").size == 2)
      // DROP TABLE on a temp view drops the view (it has no location)
      spark.range(3).createOrReplaceTempView("snapsc_view")
      assert(engine.execute("DROP TABLE snapsc_view").message == "Dropped")
      assert(!spark.catalog.tableExists("snapsc_view"))
      engine.execute("DROP TABLE snapsc.rt")
      assert(records("snapsc.rt").isEmpty,
        "DROP TABLE must purge the table's snapshot history")
      // a recreated table starts with no history
      engine.execute("CREATE TABLE snapsc.rt (id int64) STORAGE filesystem")
      assert(engine.execute("SHOW SNAPSHOTS FROM snapsc.rt").rowCount == 0)
      engine.execute("DROP TABLE snapsc.rt")
    } finally spark.conf.unset("spark.graft.snapshots.retain")
  }

  test("pruned DELETE runs exactly one scoping scan + one rewrite scan (no pre-count pass)") {
    engine.execute("CREATE DATABASE IF NOT EXISTS snapsc")
    engine.execute("DROP TABLE IF EXISTS snapsc.scancount_t")
    engine.execute(
      "CREATE TABLE snapsc.scancount_t (id int64, p int32) STORAGE filesystem PARTITION BY (p)")
    engine.execute(
      "INSERT INTO snapsc.scancount_t VALUES (1,1),(2,1),(3,2),(4,2),(5,3)")

    val scans = new java.util.concurrent.atomic.AtomicInteger(0)
    val locRe = ("(?s)Location:[^\\n]*scancount_t").r
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        if (locRe.findFirstIn(qe.executedPlan.toString).isDefined)
          scans.incrementAndGet()
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val res = engine.execute("DELETE FROM snapsc.scancount_t WHERE p = 1 AND id = 1")
      assert(res.message == "DELETE 1")
      // listener delivery is async — poll to a deadline
      val deadline = System.currentTimeMillis() + 10000
      while (scans.get() < 2 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      Thread.sleep(250) // allow any EXTRA scans to surface before asserting
      assert(scans.get() == 2,
        s"expected 2 table scans (scoping + rewrite), saw ${scans.get()}")
    } finally spark.listenerManager.unregister(listener)
    // correctness after the single-pass path
    assert(engine.execute(
      "SELECT count(*) AS n FROM snapsc.scancount_t").data.head.head == 4L)
    engine.execute("DROP TABLE snapsc.scancount_t")
  }

  test("time travel on a partitioned table survives ALTER (pre-ALTER files keep their partition dirs)") {
    engine.execute("CREATE DATABASE IF NOT EXISTS snapsc")
    engine.execute("DROP TABLE IF EXISTS snapsc.pa")
    engine.execute(
      "CREATE TABLE snapsc.pa (id int64, v string, p int32) STORAGE filesystem PARTITION BY (p)")
    engine.execute("INSERT INTO snapsc.pa VALUES (1,'a',1),(2,'b',2),(3,'c',2)")
    engine.execute("DELETE FROM snapsc.pa WHERE id = 3") // snapshot 1
    engine.execute("ALTER TABLE snapsc.pa DROP COLUMN v") // snapshot 2
    // snapshot 1: pre-delete rows, pre-ALTER schema (v present),
    // partition values read from the retired files' directory layout
    val v1 = engine.execute(
      "SELECT id, v, p FROM snapsc.pa VERSION AS OF 1 ORDER BY id")
    assert(v1.data.map(_.toList) == Seq(
      List(1L, "a", 1), List(2L, "b", 2), List(3L, "c", 2)))
    // snapshot 2: delete applied, v still present (pre-ALTER)
    val v2 = engine.execute(
      "SELECT id, v, p FROM snapsc.pa VERSION AS OF 2 ORDER BY id")
    assert(v2.data.map(_.toList) == Seq(List(1L, "a", 1), List(2L, "b", 2)))
    // live table: no v, partition pruning still works
    assert(engine.execute(
      "SELECT count(*) AS n FROM snapsc.pa WHERE p = 2").data.head.head == 1L)
    engine.execute("DROP TABLE snapsc.pa")
  }

  test("DROP DATABASE purges every contained table's snapshot history") {
    engine.execute("CREATE DATABASE IF NOT EXISTS snapdb2")
    engine.execute("DROP TABLE IF EXISTS snapdb2.t1")
    engine.execute("CREATE TABLE snapdb2.t1 (id int64) STORAGE filesystem")
    engine.execute("INSERT INTO snapdb2.t1 VALUES (1),(2)")
    engine.execute("DELETE FROM snapdb2.t1 WHERE id = 1") // snapshot
    assert(records("snapdb2.t1").nonEmpty)
    engine.execute("DROP DATABASE snapdb2 CASCADE")
    assert(records("snapdb2.t1").isEmpty,
      "DROP DATABASE must purge contained tables' snapshot records")
  }

  test("whole-table UPDATE counts matches in the rewrite job itself") {
    engine.execute("CREATE DATABASE IF NOT EXISTS snapsc")
    engine.execute("DROP TABLE IF EXISTS snapsc.obs")
    engine.execute("CREATE TABLE snapsc.obs (id int64, v string) STORAGE filesystem")
    engine.execute("INSERT INTO snapsc.obs VALUES (1,'a'),(2,'b'),(3,'c')")
    val r = engine.execute("UPDATE snapsc.obs SET v = 'x' WHERE id >= 2")
    assert(r.message == "UPDATE 2")
    val r0 = engine.execute("UPDATE snapsc.obs SET v = 'y' WHERE id > 99")
    assert(r0.message == "UPDATE 0")
    val d = engine.execute("DELETE FROM snapsc.obs WHERE v = 'x'")
    assert(d.message == "DELETE 2")
    assert(engine.execute("SELECT count(*) AS n FROM snapsc.obs").data.head.head == 1L)
    engine.execute("DROP TABLE snapsc.obs")
  }
}
