package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.engine.{Changefeed, QueryEngine}
import graft.engine.Changefeed.CdcEvent
import graft.streaming.{Astha, AsthaScheduler}

/** CDC changefeed + event-distribution scheduler — the Astha analog
  * (server/astha/README.md architecture; scheduler.go registration/
  * distribution; astha_test.go lifecycle coverage). Engine mutations
  * append durable events; subscribed components receive them
  * at-least-once in order; processed events are cleaned up; the same
  * log tails as a Structured Streaming source. */
class ChangefeedSpec extends AnyFunSuite with Matchers {
  lazy val spark = TestSpark.spark
  lazy val engine = new QueryEngine(spark)

  private def drainLog(): Unit =
    Changefeed.cleanup(spark, Changefeed.maxId(spark))

  test("engine mutations append CDC events with registry table + operation") {
    engine.execute("CREATE DATABASE IF NOT EXISTS cdc")
    engine.execute("DROP TABLE IF EXISTS cdc.t")
    drainLog()
    val base = Changefeed.maxId(spark)

    engine.execute("CREATE TABLE cdc.t (id int64, v string) STORAGE filesystem")
    engine.execute("INSERT INTO cdc.t VALUES (1,'a'),(2,'b'),(3,'c')")
    engine.execute("UPDATE cdc.t SET v = 'z' WHERE id = 2")
    engine.execute("DELETE FROM cdc.t WHERE id = 3")
    engine.execute("DROP TABLE cdc.t")

    val evts = Changefeed.events(spark, base, 100)
    val kinds = evts.map(e => (e.table, e.operation))
    kinds shouldBe Seq(
      ("tables", "INSERT"),      // CREATE TABLE
      ("table_files", "INSERT"), // INSERT (3 rows)
      ("table_files", "UPDATE"), // UPDATE (1 row)
      ("table_files", "DELETE"), // DELETE (1 row)
      ("tables", "DELETE"))      // DROP TABLE
    // ids are strictly increasing (the log is an ordered sequence)
    evts.map(_.id) shouldBe evts.map(_.id).sorted
    // data payloads carry the qualified table and affected rows
    evts.foreach(e => e.data("table") shouldBe "cdc.t")
    evts(1).data("rows") shouldBe "3"
    evts(2).data("rows") shouldBe "1"
    evts(3).data("rows") shouldBe "1"
  }

  test("scheduler delivers events in order to subscribed components only") {
    engine.execute("CREATE DATABASE IF NOT EXISTS cdc")
    engine.execute("DROP TABLE IF EXISTS cdc.s")
    drainLog()

    val sched = new AsthaScheduler(spark)
    val fileEvents = scala.collection.mutable.ArrayBuffer[CdcEvent]()
    val tableEvents = scala.collection.mutable.ArrayBuffer[CdcEvent]()
    sched.register(
      Astha.ComponentInfo("file-watcher", "1.0", Seq("table_files"), "", 0),
      (e: CdcEvent) => fileEvents += e)
    sched.register(
      Astha.ComponentInfo("schema-cache", "1.0", Seq("tables"), "", 0),
      (e: CdcEvent) => tableEvents += e)

    engine.execute("CREATE TABLE cdc.s (id int64) STORAGE filesystem")
    engine.execute("INSERT INTO cdc.s VALUES (1),(2)")
    engine.execute("INSERT INTO cdc.s VALUES (3)")
    sched.tick()

    fileEvents.map(_.operation) shouldBe Seq("INSERT", "INSERT")
    fileEvents.map(_.data("rows")) shouldBe Seq("2", "1")
    tableEvents.map(_.operation) shouldBe Seq("INSERT")
    sched.listComponents().map(_.status).distinct shouldBe Seq("active")

    // cleanup: once every component consumed them, events are deleted
    // ("immediate cleanup for processed events", astha/README.md)
    sched.tick()
    Changefeed.events(spark, 0, 100) shouldBe empty
    // EventStore-style counters (event_store.go GetProcessedCount):
    // file-watcher processed 2, schema-cache 1; 3 events cleaned
    sched.stats("processed") shouldBe 3L
    sched.stats("cleaned") shouldBe 3L
    sched.stats("components") shouldBe 2L
    engine.execute("DROP TABLE cdc.s")
    sched.tick() // drain the DROP event too
  }

  test("at-least-once: a failing component is redelivered and recovers via onRefresh") {
    engine.execute("CREATE DATABASE IF NOT EXISTS cdc")
    engine.execute("DROP TABLE IF EXISTS cdc.f")
    drainLog()

    val sched = new AsthaScheduler(spark)
    val seen = scala.collection.mutable.ArrayBuffer[Long]()
    var refreshes = 0
    @volatile var failing = true
    sched.register(
      Astha.ComponentInfo("flaky", "1.0", Seq("table_files"), "", 0),
      new Astha.Subscriber {
        def onEvent(e: CdcEvent): Unit = {
          if (failing) throw new RuntimeException("component down")
          seen += e.id
        }
        override def onRefresh(): Unit = refreshes += 1
      })
    refreshes shouldBe 1 // registration refresh (reference OnRefresh contract)

    engine.execute("CREATE TABLE cdc.f (id int64) STORAGE filesystem")
    engine.execute("INSERT INTO cdc.f VALUES (1)")
    val insertEventId = Changefeed.maxId(spark)

    sched.tick() // delivery fails
    seen shouldBe empty
    sched.componentInfo("flaky").get.status shouldBe "error"
    // the undelivered event is NOT cleaned up — redelivery must happen
    Changefeed.events(spark, 0, 100).map(_.id) should contain(insertEventId)

    failing = false
    sched.tick() // recovery: refresh first, then redeliver
    seen shouldBe Seq(insertEventId)
    refreshes shouldBe 2
    sched.componentInfo("flaky").get.status shouldBe "active"
    engine.execute("DROP TABLE cdc.f")
  }

  test("registration validation mirrors the reference") {
    val sched = new AsthaScheduler(spark)
    val noop = (_: CdcEvent) => ()
    assertThrows[IllegalArgumentException](sched.register(
      Astha.ComponentInfo("", "1.0", Seq("tables"), "", 0), noop))
    assertThrows[IllegalArgumentException](sched.register(
      Astha.ComponentInfo("c", "1.0", Seq.empty, "", 0), noop))
    assertThrows[IllegalArgumentException](sched.register(
      Astha.ComponentInfo("c", "1.0", Seq("tables"), "", 0), null))
    assertThrows[IllegalArgumentException](sched.unregister("ghost"))
  }

  test("unhealthy components are marked; health recovers") {
    val sched = new AsthaScheduler(spark)
    @volatile var healthy = false
    sched.register(
      Astha.ComponentInfo("probe", "1.0", Seq("tables"), "", 0),
      new Astha.Subscriber {
        def onEvent(e: CdcEvent): Unit = ()
        override def onHealth(): Boolean = healthy
      })
    sched.tick()
    sched.componentInfo("probe").get.status shouldBe "unhealthy"
    healthy = true
    sched.tick()
    sched.componentInfo("probe").get.status shouldBe "active"
  }

  test("system.cdc_log is queryable through the engine") {
    engine.execute("CREATE DATABASE IF NOT EXISTS cdc")
    engine.execute("DROP TABLE IF EXISTS cdc.v")
    drainLog()
    engine.execute("CREATE TABLE cdc.v (id int64) STORAGE filesystem")
    engine.execute("INSERT INTO cdc.v VALUES (42)")
    val r = engine.execute(
      "SELECT table_name, operation, data FROM system.cdc_log ORDER BY event_id")
    r.data.map(row => (row(0), row(1))) shouldBe Seq(
      ("tables", "INSERT"), ("table_files", "INSERT"))
    r.data(1)(2).toString should include("rows=1")
    engine.execute("DROP TABLE cdc.v")
  }

  test("the changefeed tails as a Structured Streaming source") {
    engine.execute("CREATE DATABASE IF NOT EXISTS cdc")
    engine.execute("DROP TABLE IF EXISTS cdc.st")
    drainLog()
    engine.execute("CREATE TABLE cdc.st (id int64) STORAGE filesystem")
    engine.execute("INSERT INTO cdc.st VALUES (1),(2),(3),(4)")

    val q = Changefeed.readStream(spark)
      .selectExpr("id", "`table`", "operation", "data['rows'] AS rows")
      .writeStream.format("memory").queryName("cdc_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(30000)
    val got = spark.sql(
      "SELECT `table`, operation, rows FROM cdc_stream ORDER BY id").collect()
    got.map(r => (r.getString(0), r.getString(1))) shouldBe Array(
      ("tables", "INSERT"), ("table_files", "INSERT"))
    got(1).getString(2) shouldBe "4"
    engine.execute("DROP TABLE cdc.st")
  }

  test("an event carrying a control character stays one valid JSON row") {
    drainLog()
    val value = "a\u0001b\"c\\d\ne"
    val id = Changefeed.emit(spark, Changefeed.TableTables, "UPDATE",
      Map("note" -> value))
    // the driver-side reader round-trips the value exactly
    Changefeed.events(spark).map(e => (e.id, e.data)) shouldBe
      Seq((id, Map("note" -> value)))
    // ...and so does Spark's JSON source behind readStream: an
    // unescaped control character would make this a corrupt record
    // with null columns
    val q = Changefeed.readStream(spark)
      .selectExpr("id", "data['note'] AS note")
      .writeStream.format("memory").queryName("cdc_ctrl")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(30000)
    val got = spark.sql("SELECT id, note FROM cdc_ctrl").collect()
      .map(r => (r.get(0), r.getString(1))).toSeq
    got shouldBe Seq((id, value))
  }

  test("INSERT versioning (opt-in): VERSION AS OF covers append history") {
    engine.execute("CREATE DATABASE IF NOT EXISTS cdc")
    engine.execute("DROP TABLE IF EXISTS cdc.av")
    spark.conf.set("spark.graft.snapshots.oninsert", "true")
    try {
      engine.execute("CREATE TABLE cdc.av (id int64) STORAGE filesystem")
      val loc = new org.apache.hadoop.fs.Path(spark.sessionState.catalog
        .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier("cdc.av"))
        .location)
      val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
      def uuid(v: Long) = {
        val in = fs.open(new org.apache.hadoop.fs.Path(loc, s"metadata/v$v.metadata.json"))
        try new com.fasterxml.jackson.databind.ObjectMapper().readTree(in)
          .get("table-uuid").asText finally in.close()
      }
      val shell = uuid(0)
      engine.execute("INSERT INTO cdc.av VALUES (1),(2)") // snapshot 1: empty
      engine.execute("INSERT INTO cdc.av VALUES (3)")     // snapshot 2: {1,2}
      val snaps = engine.execute("SHOW SNAPSHOTS FROM cdc.av")
      snaps.data.map(r => (r(0), r(1))) shouldBe Seq(
        (1L, "INSERT"), (2L, "INSERT"))
      engine.execute(
        "SELECT count(*) AS n FROM cdc.av VERSION AS OF 1").data.head.head shouldBe 0L
      engine.execute(
        "SELECT count(*) AS n FROM cdc.av VERSION AS OF 2").data.head.head shouldBe 2L
      engine.execute(
        "SELECT count(*) AS n FROM cdc.av").data.head.head shouldBe 3L
      // an append-only history retires nothing: each snapshot pins a
      // log version whose files are all still live
      val m = graft.engine.CommitLog.current(fs, loc).get
      assert(m.retired.isEmpty && m.files.nonEmpty)
      // snapshot 1 published the empty log's first version; the mirror
      // records it and keeps the table identity of the CREATE shell
      assert((1L to m.version).forall(v => uuid(v) == shell))
    } finally {
      spark.conf.unset("spark.graft.snapshots.oninsert")
      engine.execute("DROP TABLE cdc.av")
    }
  }

  test("live poll loop delivers within the cadence; '*' subscribes to all") {
    engine.execute("CREATE DATABASE IF NOT EXISTS cdc")
    engine.execute("DROP TABLE IF EXISTS cdc.live")
    drainLog()
    val sched = new AsthaScheduler(spark, pollIntervalMs = 50)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val got = new java.util.concurrent.CountDownLatch(2)
    sched.register(Astha.ComponentInfo("live", "1.0", Seq("*"), "", 0),
      (e: CdcEvent) => { seen.add((e.table, e.operation)); got.countDown() })
    sched.start()
    try {
      engine.execute("CREATE TABLE cdc.live (id int64) STORAGE filesystem")
      engine.execute("INSERT INTO cdc.live VALUES (7)")
      assert(got.await(10, java.util.concurrent.TimeUnit.SECONDS),
        s"poll loop did not deliver; saw $seen")
      assert(seen.toArray.toSeq == Seq(("tables", "INSERT"),
        ("table_files", "INSERT")))
    } finally {
      sched.stop()
      engine.execute("DROP TABLE cdc.live")
    }
  }

  test("concurrent DML from isolated connection engines: unique ordered ids, no lost events") {
    engine.execute("CREATE DATABASE IF NOT EXISTS cdc")
    engine.execute("DROP TABLE IF EXISTS cdc.conc")
    engine.execute("CREATE TABLE cdc.conc (id int64) STORAGE filesystem")
    drainLog()
    val threads = 4
    val perThread = 5
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val done = new java.util.concurrent.CountDownLatch(threads)
    (0 until threads).foreach { t =>
      pool.submit(new Runnable {
        def run(): Unit = try {
          val conn = engine.newConnectionEngine()
          (0 until perThread).foreach(i =>
            conn.execute(s"INSERT INTO cdc.conc VALUES (${t * 100 + i})"))
        } finally done.countDown()
      })
    }
    assert(done.await(120, java.util.concurrent.TimeUnit.SECONDS))
    pool.shutdown()
    val evts = Changefeed.events(spark, 0, 1000)
      .filter(e => e.table == "table_files" && e.data("table") == "cdc.conc")
    // every INSERT produced exactly one event with a unique id
    assert(evts.length == threads * perThread,
      s"expected ${threads * perThread} events, got ${evts.length}")
    assert(evts.map(_.id).distinct.length == evts.length)
    assert(evts.forall(_.data("rows") == "1"))
    engine.execute("DROP TABLE cdc.conc")
    drainLog()
  }

  test("event ids stay monotonic across cleanup + restart (durable _seq HWM)") {
    engine.execute("CREATE DATABASE IF NOT EXISTS cdc")
    engine.execute("DROP TABLE IF EXISTS cdc.seq")
    drainLog()
    engine.execute("CREATE TABLE cdc.seq (id int64) STORAGE filesystem")
    engine.execute("INSERT INTO cdc.seq VALUES (1)")
    engine.execute("INSERT INTO cdc.seq VALUES (2)")
    val hwm = Changefeed.maxId(spark)
    hwm should be > 0L
    // full cleanup empties the log; the HWM must survive it...
    Changefeed.cleanup(spark, hwm)
    Changefeed.events(spark, 0, 100) shouldBe empty
    Changefeed.maxId(spark) shouldBe hwm
    // ...including across a process restart (sequence cache dropped):
    // without the durable mark, the next event would reuse id 1 and be
    // invisible to any consumer holding a sinceId cursor
    Changefeed.resetSequences()
    engine.execute("INSERT INTO cdc.seq VALUES (3)")
    val after = Changefeed.events(spark, hwm, 100)
    after.map(_.operation) shouldBe Seq("INSERT")
    after.head.id shouldBe hwm + 1
    engine.execute("DROP TABLE cdc.seq")
    drainLog()
  }

  test("a stuck component is quarantined; healthy components keep receiving; floor advances") {
    engine.execute("CREATE DATABASE IF NOT EXISTS cdc")
    engine.execute("DROP TABLE IF EXISTS cdc.q")
    drainLog()
    // batchSize=2: the round-4 min-cursor tick would re-fetch the SAME
    // two events every round while stuck pins the window — the healthy
    // component would never see events 3..5
    val sched = new AsthaScheduler(spark, batchSize = 2, quarantineAfter = 2)
    val healthySeen = scala.collection.mutable.ArrayBuffer[Long]()
    @volatile var stuckFailing = true
    var stuckRefreshes = 0
    sched.register(
      Astha.ComponentInfo("stuck", "1.0", Seq("table_files"), "", 0),
      new Astha.Subscriber {
        def onEvent(e: CdcEvent): Unit =
          if (stuckFailing) throw new RuntimeException("poisoned")
        override def onRefresh(): Unit = stuckRefreshes += 1
      })
    sched.register(
      Astha.ComponentInfo("healthy", "1.0", Seq("table_files"), "", 0),
      (e: CdcEvent) => healthySeen += e.id)

    engine.execute("CREATE TABLE cdc.q (id int64) STORAGE filesystem")
    sched.tick() // consume the CREATE event (not subscribed — advances both)
    (1 to 5).foreach(i => engine.execute(s"INSERT INTO cdc.q VALUES ($i)"))

    sched.tick() // stuck fails #1; healthy gets 2
    sched.tick() // stuck fails #2 -> quarantined; healthy gets 2 more
    sched.componentInfo("stuck").get.status shouldBe "quarantined"
    sched.stats("quarantined") shouldBe 1L
    sched.tick() // stuck no longer pins the window: healthy gets the 5th
    healthySeen.length shouldBe 5
    healthySeen shouldBe healthySeen.sorted
    // the quarantined component no longer pins cleanup either
    Changefeed.events(spark, 0, 100) shouldBe empty
    // recovery already happened on that later round's healthy probe:
    // re-synced via onRefresh, cursor at the live head (the poison
    // event was skipped, not redelivered)
    sched.componentInfo("stuck").get.status shouldBe "active"
    stuckRefreshes should be >= 2 // registration + recovery
    stuckFailing = false
    var stuckSawNew = false
    // re-register delivery check through a fresh event
    sched.register(
      Astha.ComponentInfo("stuck", "1.0", Seq("table_files"), "", 0),
      (_: CdcEvent) => stuckSawNew = true)
    engine.execute("INSERT INTO cdc.q VALUES (6)")
    sched.tick()
    stuckSawNew shouldBe true
    engine.execute("DROP TABLE cdc.q")
    drainLog()
  }

  test("retention sweep bounds the log independent of subscribers") {
    engine.execute("CREATE DATABASE IF NOT EXISTS cdc")
    engine.execute("DROP TABLE IF EXISTS cdc.ret")
    drainLog()
    engine.execute("CREATE TABLE cdc.ret (id int64) STORAGE filesystem")
    (1 to 6).foreach(i => engine.execute(s"INSERT INTO cdc.ret VALUES ($i)"))
    val all = Changefeed.events(spark, 0, 100)
    all.length shouldBe 7 // CREATE + 6 INSERTs
    // count bound: keep the newest 3
    Changefeed.retain(spark, maxEvents = 3, maxAgeMs = 0) shouldBe 4
    val kept = Changefeed.events(spark, 0, 100)
    kept.map(_.id) shouldBe all.map(_.id).takeRight(3)
    // age bound: everything older than 10 ms goes
    Thread.sleep(100)
    Changefeed.retain(spark, maxEvents = 0, maxAgeMs = 10) shouldBe 3
    Changefeed.events(spark, 0, 100) shouldBe empty
    // ids remain monotonic after the sweep (HWM persisted)
    val hwm = Changefeed.maxId(spark)
    engine.execute("INSERT INTO cdc.ret VALUES (7)")
    Changefeed.events(spark, hwm, 100).head.id shouldBe hwm + 1
    engine.execute("DROP TABLE cdc.ret")
    drainLog()
  }

  test("log readers never fail against a concurrent cleanup (TOCTOU)") {
    // Same race class as the Snapshots manifest pin: events()/read()
    // list the log then open each file; cleanup()/retain() — on a
    // cluster, another driver's — can delete a listed file before the
    // open. The reader's contract is the post-cleanup state (skip),
    // never an exception. Pre-fix this threw FileNotFoundException
    // under suite load.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    engine.execute("CREATE DATABASE IF NOT EXISTS cdc")
    engine.execute("DROP TABLE IF EXISTS cdc.churn")
    drainLog()
    engine.execute("CREATE TABLE cdc.churn (id int64) STORAGE filesystem")
    @volatile var stop = false
    val churn = Future {
      var i = 0
      while (!stop) {
        engine.execute(s"INSERT INTO cdc.churn VALUES ($i)")
        Changefeed.cleanup(spark, Changefeed.maxId(spark))
        i += 1
      }
      i
    }
    try {
      val deadline = System.nanoTime() + 3L * 1000 * 1000 * 1000
      var reads = 0
      while (System.nanoTime() < deadline && !churn.isCompleted) {
        Changefeed.events(spark, 0L, 256)                // must never throw
        Changefeed.index(spark).foreach(e =>
          Changefeed.read(spark, e._2))                  // None if cleaned
        reads += 1
      }
      stop = true
      val iters = Await.result(churn, 60.seconds)
      assert(reads > 0 && iters > 0)
    } finally {
      stop = true
      // a reader-loop failure jumps here with churn still running —
      // let it finish before the DROP races its INSERTs
      scala.util.Try(Await.ready(churn, 60.seconds))
      engine.execute("DROP TABLE IF EXISTS cdc.churn")
      drainLog()
    }
  }

  private implicit def fn2sub(f: CdcEvent => Unit): Astha.Subscriber =
    new Astha.Subscriber { def onEvent(e: CdcEvent): Unit = f(e) }
}
