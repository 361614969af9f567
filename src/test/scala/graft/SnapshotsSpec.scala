package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.QueryEngine

/** Snapshots + time travel: every destructive op pins the prior
  * table state's log version; `VERSION AS OF` reads it back, `SHOW
  * SNAPSHOTS` lists it — the no-Iceberg-jar rendering of the
  * reference's snapshot metadata (storage.go:749-787). */
class SnapshotsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  lazy val engine = new QueryEngine(spark)

  test("UPDATE/DELETE snapshot the prior state; VERSION AS OF reads it") {
    engine.execute("CREATE DATABASE IF NOT EXISTS snap")
    engine.execute("DROP TABLE IF EXISTS snap.t")
    engine.execute("CREATE TABLE snap.t (id int64, v string) STORAGE filesystem")
    engine.execute("INSERT INTO snap.t VALUES (1,'a'),(2,'b'),(3,'c')")

    engine.execute("UPDATE snap.t SET v = 'z' WHERE id = 2")  // -> snapshot 1
    engine.execute("DELETE FROM snap.t WHERE id = 3")         // -> snapshot 2

    val snaps = engine.execute("SHOW SNAPSHOTS FROM snap.t")
    assert(snaps.columns == Seq("Snapshot", "Operation", "Created"))
    assert(snaps.data.map(r => (r(0), r(1))) == Seq(
      (1L, "UPDATE"), (2L, "DELETE")))

    // current state: update applied, row 3 gone
    assert(engine.execute("SELECT v FROM snap.t WHERE id = 2").data.head.head == "z")
    assert(engine.execute("SELECT count(*) AS n FROM snap.t").data.head.head == 2L)
    // snapshot 1 = before the update
    val v1 = engine.execute(
      "SELECT id, v FROM snap.t VERSION AS OF 1 ORDER BY id")
    assert(v1.data.map(_.toList) == Seq(
      List(1L, "a"), List(2L, "b"), List(3L, "c")))
    // snapshot 2 = before the delete (update already applied)
    val v2 = engine.execute(
      "SELECT id, v FROM snap.t VERSION AS OF 2 ORDER BY id")
    assert(v2.data.map(_.toList) == Seq(
      List(1L, "a"), List(2L, "z"), List(3L, "c")))
    // time travel composes with aggregation over the pinned version
    assert(engine.execute(
      "SELECT count(*) AS n FROM snap.t VERSION AS OF 1").data.head.head == 3L)
    engine.execute("DROP TABLE snap.t")
  }

  test("ALTER COLUMN snapshots the pre-evolution schema and data") {
    engine.execute("CREATE DATABASE IF NOT EXISTS snap")
    engine.execute("DROP TABLE IF EXISTS snap.e")
    engine.execute("CREATE TABLE snap.e (id int64, qty int32) STORAGE filesystem")
    engine.execute("INSERT INTO snap.e VALUES (1, 7)")
    engine.execute("ALTER TABLE snap.e DROP COLUMN qty")
    // the pinned version still has the dropped column, with its old type
    val old = engine.execute("SELECT id, qty FROM snap.e VERSION AS OF 1")
    assert(old.data.head == Seq(1L, 7))
    // live table does not
    assertThrows[Exception](engine.execute("SELECT qty FROM snap.e"))
    engine.execute("DROP TABLE snap.e")
  }

  test("RESTORE rolls data back and is itself reversible") {
    engine.execute("CREATE DATABASE IF NOT EXISTS snap")
    engine.execute("DROP TABLE IF EXISTS snap.r")
    engine.execute(
      "CREATE TABLE snap.r (id int64, v string) STORAGE filesystem SETTINGS commitlog=true")
    engine.execute("INSERT INTO snap.r VALUES (1,'a'),(2,'b')")
    engine.execute("DELETE FROM snap.r WHERE id = 2") // snapshot 1
    assert(engine.execute("SELECT count(*) AS n FROM snap.r").data.head.head == 1L)
    val loc = new org.apache.hadoop.fs.Path(spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier("snap.r"))
      .location)
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    val logBefore = graft.engine.CommitLog.currentVersion(fs, loc)
    val r = engine.execute("RESTORE TABLE snap.r VERSION AS OF 1")
    assert(r.message.contains("restored to version 1"))
    val rows = engine.execute("SELECT id, v FROM snap.r ORDER BY id")
    assert(rows.data.map(_.toList) == Seq(List(1L, "a"), List(2L, "b")))
    // the restore is one commit on the same log, and the snapshot it
    // restored from still reads
    assert(graft.engine.CommitLog.currentVersion(fs, loc) == logBefore + 1)
    assert(engine.execute("SELECT id, v FROM snap.r VERSION AS OF 1 ORDER BY id")
      .data.map(_.toList) == Seq(List(1L, "a"), List(2L, "b")))
    // the restore snapshotted the pre-restore state (id=1 only)
    val snaps = engine.execute("SHOW SNAPSHOTS FROM snap.r")
    assert(snaps.data.map(_(1)).contains("RESTORE"))
    engine.execute("DROP TABLE snap.r")
  }

  test("VERSION AS OF inside a string literal is data, not time travel") {
    engine.execute("CREATE DATABASE IF NOT EXISTS snap")
    engine.execute("DROP TABLE IF EXISTS snap.lit")
    engine.execute("CREATE TABLE snap.lit (id int64) STORAGE filesystem")
    engine.execute("INSERT INTO snap.lit VALUES (1)")
    // no snapshot 99 exists: if the rewrite touched the literal this
    // would throw from Snapshots.read; it must return the literal intact
    val r = engine.execute(
      "SELECT 'FROM snap.lit VERSION AS OF 99' AS s, id FROM snap.lit")
    assert(r.data.head.head == "FROM snap.lit VERSION AS OF 99")
    // ...and so is the same text inside a block or a line comment
    for (q <- Seq(
        "SELECT id FROM snap.lit /* FROM snap.lit VERSION AS OF 99 */",
        "SELECT id -- FROM snap.lit VERSION AS OF 99\nFROM snap.lit"))
      assert(engine.execute(q).data == Seq(Seq(1L)), q)
    engine.execute("DROP TABLE snap.lit")
  }

  test("snapshot readers never fail against a concurrent expirer (TOCTOU)") {
    // The race ConcurrencySoakSpec hit under load: system_snapshots-
    // style readers (listAll) hold no per-table lock, so a record
    // can vanish between exists() and open() while retention GC or
    // DROP runs in another session. The reader's contract is to
    // observe the post-expire state, not to throw. Probabilistic pin:
    // hammer listAll against a create/expire/drop churn loop —
    // pre-fix this threw FileNotFoundException reliably under suite
    // load; any exception here is a regression.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    engine.execute("CREATE DATABASE IF NOT EXISTS snap")
    engine.execute("DROP TABLE IF EXISTS snap.churn")
    engine.execute("CREATE TABLE snap.churn (id int64) STORAGE filesystem")
    engine.execute("INSERT INTO snap.churn VALUES (1)")
    @volatile var stop = false
    val churn = Future {
      var i = 0
      while (!stop) {
        // DELETE+snapshot, then retention-expire everything old
        engine.execute(s"INSERT INTO snap.churn VALUES (${i + 2})")
        engine.execute(s"DELETE FROM snap.churn WHERE id = ${i + 2}")
        engine.execute("EXPIRE SNAPSHOTS FROM snap.churn KEEP LAST 1")
        i += 1
      }
      i
    }
    try {
      val deadline = System.nanoTime() + 3L * 1000 * 1000 * 1000
      var reads = 0
      // bail if the churn future dies early — reading a static tree
      // for 3 s would pass `reads > 0` without exercising the race
      while (System.nanoTime() < deadline && !churn.isCompleted) {
        graft.engine.Snapshots.listAll(spark) // must never throw
        reads += 1
      }
      stop = true
      // rethrows a churn-loop failure; iters > 0 proves the reader
      // actually raced live expire/insert cycles
      val iters = Await.result(churn, 60.seconds)
      assert(reads > 0 && iters > 0)
    } finally {
      stop = true
      // a reader-loop failure jumps here with churn still running —
      // let it finish before the DROP races its INSERT/EXPIRE cycle
      scala.util.Try(Await.ready(churn, 60.seconds))
      engine.execute("DROP TABLE IF EXISTS snap.churn")
    }
  }
}
