package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

import graft.engine.QueryEngine

/** Concurrency soak: several isolated-session engines (the protocol
  * tiers' shape) run mixed DDL/DML/query workloads at once — private
  * tables per worker plus shared reads — and everything must succeed.
  * Catches cross-session races (conf toggles, current-database leaks,
  * catalog contention) that single-threaded specs cannot. */
class ConcurrencySoakSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("mixed workloads across isolated sessions all succeed") {
    val root = new QueryEngine(spark)
    root.execute("CREATE DATABASE IF NOT EXISTS soak")
    root.execute("DROP TABLE IF EXISTS soak.shared")
    root.execute("CREATE TABLE soak.shared (id int64, v int32) STORAGE filesystem")
    root.execute("INSERT INTO soak.shared VALUES (1, 1), (2, 2), (3, 3)")

    val workers = (1 to 6).map { w =>
      Future {
        val e = root.newConnectionEngine()
        val t = s"soak.w$w"
        e.execute(s"DROP TABLE IF EXISTS $t")
        e.execute(s"CREATE TABLE $t (id int64, n int32) STORAGE filesystem")
        (1 to 5).foreach { i =>
          e.execute(s"INSERT INTO $t VALUES ($i, ${i * 10})")
          // shared reads interleave with private DML
          val shared = e.execute("SELECT count(*) AS c FROM soak.shared")
          assert(shared.data.head.head.asInstanceOf[Long] >= 3L)
          if (i % 2 == 0)
            e.execute(s"UPDATE $t SET n = n + 1 WHERE id = $i")
          // system views under concurrency
          val sys = e.execute(
            s"SELECT count(*) AS c FROM system_tables WHERE database_name = 'soak'")
          assert(sys.data.head.head.asInstanceOf[Long] >= 1L)
        }
        val n = e.execute(s"SELECT count(*) AS c, sum(id) AS s FROM $t")
        assert(n.data.head == Seq(5L, 15L))
        e.execute(s"DROP TABLE $t")
        w
      }
    }
    val done = Await.result(Future.sequence(workers), 300.seconds)
    assert(done.sorted == (1 to 6))
    // shared table untouched by the soak
    assert(root.execute("SELECT count(*) AS c FROM soak.shared")
      .data.head.head == 3L)
    root.execute("DROP TABLE soak.shared")
  }

  test("file-level CoW DML races: concurrent point DMLs + pruned reads stay exact") {
    // six sessions hammer ONE zonemap- and bloom-indexed table: each
    // worker point-UPDATEs its own disjoint id (file-level CoW commits
    // serialize on the global per-table write lock, and each publish
    // writes the new file's bounds and filters) while reading other
    // workers' ranges and names through the pruning rule. The
    // invariant is exactness: every write lands, no read sees a torn
    // table.
    val root = new QueryEngine(spark)
    root.execute("CREATE DATABASE IF NOT EXISTS soak")
    root.execute("DROP TABLE IF EXISTS soak.cow")
    root.execute(
      "CREATE TABLE soak.cow (id int64 NOT NULL, n int32, s string) STORAGE filesystem")
    // one file per 100-range so point DMLs are genuinely file-scoped
    (0 until 6).foreach { r =>
      val vals = (r * 100 until r * 100 + 10).map(i => s"($i, 0, 'k$i')").mkString(", ")
      root.execute(s"INSERT INTO soak.cow VALUES $vals")
    }
    root.execute("CREATE INDEX zi ON soak.cow (id)")
    root.execute("CREATE INDEX sb ON soak.cow (s) USING bloom")

    val workers = (0 until 6).map { w =>
      Future {
        val e = root.newConnectionEngine()
        (1 to 4).foreach { i =>
          e.execute(s"UPDATE soak.cow SET n = n + 1 WHERE id = ${w * 100 + i}")
          // read a neighbor's range through the pruning rule
          val other = ((w + 1) % 6) * 100
          val c = e.execute(
            s"SELECT count(*) AS c FROM soak.cow WHERE id >= $other AND id < ${other + 10}")
          assert(c.data.head.head == 10L, s"torn read in [$other, ${other + 10})")
          // and a neighbor's row by name, through the bloom filters
          val named = e.execute(
            s"SELECT id FROM soak.cow WHERE s = 'k${other + i}'")
          assert(named.data == Seq(Seq((other + i).toLong)), s"torn read of k${other + i}")
        }
        w
      }
    }
    assert(Await.result(Future.sequence(workers), 300.seconds).sorted == (0 until 6))
    // every write landed exactly once
    val total = root.execute("SELECT sum(n) AS s, count(*) AS c FROM soak.cow")
    assert(total.data.head == Seq(24L, 60L), s"lost update: ${total.data}")
    // 24 commits from 6 sessions later: the index is fresh, and the
    // bloom filters of the files those commits wrote still prune
    assert(!graft.engine.IndexManager.isStale(spark, "soak.cow", "zi"))
    val Seq(_, filesTotal, filesRead, evidence) = root.execute(
      "EXPLAIN SKIPPING SELECT id FROM soak.cow WHERE s = 'k102'").data.head
    assert(evidence.toString.contains("bloom") &&
      filesRead.asInstanceOf[Long] < filesTotal.asInstanceOf[Long],
      s"bloom evidence: read $filesRead of $filesTotal ($evidence)")
    root.execute("DROP TABLE soak.cow")
  }

  test("CatalogFileIndex regime: full scans of a PARTITIONED table stay exact under partition CoW") {
    // the round-12 advice (high): a partitioned table with NO
    // partition filter and NO zonemap evidence keeps its scan on
    // CatalogFileIndex, whose FileSourceScanExec.selectedPartitions
    // lists at EXECUTION time — if that happens after the read lock is
    // released, a same-JVM CoW delete-then-rename window is listed
    // live and rows silently vanish (no FNF, no retry). The fix pins
    // every scan's listing under the lock (pinScanListings); the
    // invariant here is every concurrent full count is EXACT while a
    // writer keeps rewriting one partition.
    val root = new QueryEngine(spark)
    root.execute("CREATE DATABASE IF NOT EXISTS soak")
    root.execute("DROP TABLE IF EXISTS soak.part")
    root.execute(
      """CREATE TABLE soak.part (id int64 NOT NULL, n int32, p string)
        |STORAGE filesystem PARTITION BY (p)""".stripMargin)
    for (p <- Seq("a", "b", "c", "d")) {
      val off = p.head - 'a'
      val vals = (off * 100 until off * 100 + 25)
        .map(i => s"($i, 0, '$p')").mkString(", ")
      root.execute(s"INSERT INTO soak.part VALUES $vals")
    }
    val writer = Future {
      val e = root.newConnectionEngine()
      (1 to 12).foreach { i =>
        e.execute(s"UPDATE soak.part SET n = $i WHERE p = 'b'")
      }
    }
    val readers = (0 until 4).map { _ =>
      Future {
        val e = root.newConnectionEngine()
        (1 to 12).foreach { _ =>
          val c = e.execute("SELECT count(*) AS c FROM soak.part")
          assert(c.data.head.head == 100L,
            s"torn partitioned read: saw ${c.data.head.head} of 100 rows")
        }
      }
    }
    Await.result(Future.sequence(readers :+ writer), 300.seconds)
    assert(root.execute("SELECT count(*) AS c, max(n) AS m FROM soak.part")
      .data.head == Seq(100L, 12))
    root.execute("DROP TABLE soak.part")
  }

  test("FAIR pools: a heavy scan does not starve a short query") {
    val root = new QueryEngine(spark)
    // 48 short tasks on 4 cores: under FIFO the earlier job's queued
    // tasks win every freed slot and the short query waits for the
    // whole scan; under FAIR (pool per query, ExecutionManager.run)
    // the short query gets its share at the next slot
    val t0 = System.nanoTime()
    val heavy = Future {
      root.newConnectionEngine().execute(
        "SELECT count(*) AS n FROM " +
          "(SELECT sha2(cast(id AS string), 512) AS h " +
          " FROM range(0, 12000000, 1, 48)) WHERE h LIKE '%abcd%'")
    }
    Thread.sleep(500) // let the heavy scan occupy the executor
    val s0 = System.nanoTime()
    val r = root.newConnectionEngine().execute("SELECT 1 AS x")
    val shortSec = (System.nanoTime() - s0) / 1e9
    assert(r.data.head.head == 1)
    Await.result(heavy, 300.seconds)
    val heavySec = (System.nanoTime() - t0) / 1e9
    info(f"short query: $shortSec%.2fs while heavy scan ran $heavySec%.1fs")
    assert(shortSec < math.max(6.0, heavySec / 2),
      f"short query starved behind the scan: $shortSec%.1fs (scan $heavySec%.1fs)")
  }
}
