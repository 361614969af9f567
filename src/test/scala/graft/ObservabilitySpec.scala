package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Round-12 operability surface:
  *  - lock acquisition TIMES OUT addressably (naming the table and the
  *    write holder) instead of hanging every statement forever behind
  *    a wedged writer;
  *  - `system.locks` exposes live per-table lock state;
  *  - `system.scans` records file-skipping evidence per statement;
  *  - `EXPLAIN SKIPPING <select>` reports files total/read/evidence
  *    per relation without executing the statement.
  * In package graft.engine so the deliberately-held lock can be taken
  * through the same code path the engine uses. */
class ObservabilitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  lazy val engine = new QueryEngine(spark)

  private val Db = "obsdb"

  private def freshTable(name: String, rangesOf10: Int = 4): String = {
    engine.execute(s"CREATE DATABASE IF NOT EXISTS $Db")
    engine.execute(s"DROP TABLE IF EXISTS $Db.$name")
    engine.execute(
      s"""CREATE TABLE $Db.$name (id int64 NOT NULL, v string)
         |STORAGE filesystem""".stripMargin)
    (0 until rangesOf10).foreach { k =>
      val base = k * 100L
      val vals = (base until base + 10L)
        .map(i => s"($i, 'row $i')").mkString(", ")
      engine.execute(s"INSERT INTO $Db.$name VALUES $vals")
    }
    s"$Db.$name"
  }

  private def lockKeyOf(qualified: String): String =
    spark.conf.get("spark.sql.warehouse.dir") + "#" + qualified.toLowerCase

  /** Hold the table's WRITE lock on a background thread until
    * `release` is completed. */
  private def holdWriteLock(qualified: String): (Thread, java.util.concurrent.CountDownLatch, java.util.concurrent.CountDownLatch) = {
    val held = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val t = new Thread(() =>
      QueryEngine.withWriteLock(lockKeyOf(qualified)) {
        held.countDown()
        release.await()
      }, "wedged-writer")
    t.setDaemon(true)
    t.start()
    held.await()
    (t, held, release)
  }

  test("statements time out addressably behind a wedged writer") {
    val t = freshTable("t_lock")
    val (thread, _, release) = holdWriteLock(t)
    try {
      spark.conf.set("spark.graft.lock.timeoutSec", "1")
      // writer path (INSERT needs the write lock)
      val eIns = intercept[Exception] {
        engine.execute(s"INSERT INTO $t VALUES (999, 'x')")
      }
      assert(eIns.getMessage.contains("timed out"), eIns.getMessage)
      assert(eIns.getMessage.contains(t.toLowerCase), eIns.getMessage)
      assert(eIns.getMessage.contains("wedged-writer"), eIns.getMessage)
      // reader path (SELECT takes the FAIR read lock during planning)
      val eSel = intercept[Exception] {
        engine.execute(s"SELECT count(*) AS n FROM $t")
      }
      assert(eSel.getMessage.contains("timed out"), eSel.getMessage)
    } finally {
      spark.conf.unset("spark.graft.lock.timeoutSec")
      release.countDown()
      thread.join(5000)
    }
    // lock free again: the same statements now run
    val r = engine.execute(s"INSERT INTO $t VALUES (999, 'x')")
    assert(r.rowCount == 1)
  }

  test("system.locks names the write holder while held") {
    val t = freshTable("t_locks_view")
    val (thread, _, release) = holdWriteLock(t)
    try {
      val r = engine.execute(
        s"SELECT * FROM system.locks WHERE table_name = '${t.toLowerCase}'")
      assert(r.rowCount == 1, r.data.toString)
      val row = r.columns.zip(r.data.head).toMap
      assert(row("write_holder") == "wedged-writer", row.toString)
      assert(row("write_held_sec").asInstanceOf[Long] >= 0L)
    } finally { release.countDown(); thread.join(5000) }
    // released: holder gone
    val r2 = engine.execute(
      s"SELECT write_holder FROM system.locks WHERE table_name = '${t.toLowerCase}'")
    assert(r2.rowCount == 1 && r2.data.head.head == null, r2.data.toString)
  }

  test("system.scans records zonemap evidence for a pruned SELECT") {
    val t = freshTable("t_scans")
    engine.execute(s"CREATE INDEX zi ON $t (id)")
    val sel = engine.execute(s"SELECT id, v FROM $t WHERE id = 105")
    assert(sel.rowCount == 1)
    val r = engine.execute(
      s"SELECT * FROM system.scans WHERE table_name = '${t.toLowerCase}'")
    assert(r.rowCount >= 1, "expected a scan record")
    val row = r.columns.zip(r.data.head).toMap // newest first
    val total = row("files_total").asInstanceOf[Long]
    val read = row("files_read").asInstanceOf[Long]
    assert(total >= 4 && read < total, row.toString)
    assert(row("evidence").toString.contains("zonemap"), row.toString)
    // the record carries the query id the execution registry assigned
    assert(row("query_id").toString.nonEmpty && row("query_id") != "-")
  }

  test("system.cdc_subscribers exposes cursor, lag, and quarantine per component") {
    import graft.streaming.{Astha, AsthaScheduler}
    val sched = new AsthaScheduler(spark, quarantineAfter = 2)
    val seen = new java.util.concurrent.atomic.AtomicLong
    sched.register(
      Astha.ComponentInfo("obs-healthy", "1.0", Seq("*"), "active", 0L),
      new Astha.Subscriber {
        override def onEvent(e: graft.engine.Changefeed.CdcEvent): Unit =
          seen.incrementAndGet(): Unit
      })
    sched.register(
      Astha.ComponentInfo("obs-stuck", "1.0", Seq("*"), "active", 0L),
      new Astha.Subscriber {
        override def onEvent(e: graft.engine.Changefeed.CdcEvent): Unit =
          throw new RuntimeException("wedged")
        // stays down: a healthy probe on a later round would otherwise
        // recover the quarantine via onRefresh (the reference's model)
        override def onHealth(): Boolean = false
      })
    try {
      // two registry mutations → two events; drive rounds until the
      // stuck component quarantines
      freshTable("cdcsub")
      (0 until 4).foreach(_ => sched.tick())
      // scoped to this test's components: other suites' live
      // schedulers legitimately appear in the JVM-wide view
      val r = engine.execute(
        "SELECT component, status, lag, processed, quarantined " +
          "FROM system.cdc_subscribers WHERE component LIKE 'obs-%' " +
          "ORDER BY component")
      assert(r.columns ==
        Seq("component", "status", "lag", "processed", "quarantined"))
      val byName = r.data.map(row => row.head.toString -> row).toMap
      assert(byName.keySet == Set("obs-healthy", "obs-stuck"), r.data.toString)
      // healthy: kept up — processed advanced, and its lag is strictly
      // below the stuck component's (absolute zero would race with
      // other suites emitting between the last tick and the SELECT;
      // both lags come from one listing, so the comparison is stable)
      val healthy = byName("obs-healthy")
      val stuck = byName("obs-stuck")
      assert(healthy(3).asInstanceOf[Long] >= 1L, s"healthy processed: $healthy")
      assert(healthy(1) == "active" && healthy(4) == false, s"healthy: $healthy")
      // stuck: quarantined after repeated failures, lag visible > 0
      // (its cursor froze while events kept arriving)
      assert(stuck(1) == "quarantined" && stuck(4) == true, s"stuck: $stuck")
      assert(stuck(2).asInstanceOf[Long] >= 1L, s"stuck lag: $stuck")
      assert(healthy(2).asInstanceOf[Long] < stuck(2).asInstanceOf[Long],
        s"healthy must lag less than stuck: $healthy vs $stuck")
    } finally sched.stop()
    // stop() deregisters: the view no longer lists the components
    val after = engine.execute("SELECT count(*) AS n FROM system.cdc_subscribers " +
      "WHERE component LIKE 'obs-%'")
    assert(after.data.head.head == 0L)
  }

  test("EXPLAIN SKIPPING reports files total/read/evidence, executes nothing") {
    val t = freshTable("t_skip")
    engine.execute(s"CREATE INDEX zi ON $t (id)")
    val r = engine.execute(s"EXPLAIN SKIPPING SELECT * FROM $t WHERE id = 305")
    assert(r.columns == Seq("table_name", "files_total", "files_read", "evidence"))
    assert(r.rowCount == 1, r.data.toString)
    val Seq(name, total, read, ev) = r.data.head
    assert(name == t.toLowerCase || name == t, r.data.toString)
    assert(total.asInstanceOf[Long] >= 4)
    assert(read.asInstanceOf[Long] < total.asInstanceOf[Long])
    assert(ev.toString.contains("zonemap"))

    // consulted-but-ineffective: a predicate every file satisfies
    val r2 = engine.execute(s"EXPLAIN SKIPPING SELECT * FROM $t WHERE id >= 0")
    val Seq(_, total2, read2, ev2) = r2.data.head
    assert(total2 == read2, r2.data.toString)
    assert(ev2.toString.contains("zonemap"))

    // no evidence at all: a table without indexes reports 'none'
    val t2 = freshTable("t_skip_none", rangesOf10 = 2)
    val r3 = engine.execute(s"EXPLAIN SKIPPING SELECT * FROM $t2 WHERE id = 5")
    val Seq(_, total3, read3, ev3) = r3.data.head
    assert(ev3 == "none" && total3 == read3, r3.data.toString)
  }

  test("skip evidence names the indexes consulted, not the predicate's shape") {
    def explained(t: String): Any =
      engine.execute(s"EXPLAIN SKIPPING SELECT * FROM $t WHERE id = 105").data.head(3)
    def scanned(t: String): Any = {
      assert(engine.execute(s"SELECT id FROM $t WHERE id = 105").rowCount == 1)
      val r = engine.execute(
        s"SELECT evidence FROM system.scans WHERE table_name = '${t.toLowerCase}'")
      r.data.head.head // newest first
    }
    val z = freshTable("t_kind_zonemap")
    engine.execute(s"CREATE INDEX zk ON $z (id)")
    assert(explained(z) == "zonemap")
    assert(scanned(z) == "zonemap")
    val b = freshTable("t_kind_bloom")
    engine.execute(s"CREATE INDEX bk ON $b (id) USING bloom")
    assert(explained(b) == "bloom")
    assert(scanned(b) == "bloom")
  }
}
