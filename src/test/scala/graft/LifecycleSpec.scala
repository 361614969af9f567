package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.QueryEngine

class LifecycleSpec extends AnyFunSuite {
  lazy val engine = new QueryEngine(TestSpark.spark)

  test("cancel() interrupts a running query and records Cancelled") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    // a query that would run for a long time: wide crossJoin count
    val slow = Future {
      try engine.execute(
        """SELECT count(*) AS c FROM
          |  (SELECT explode(sequence(1, 100000)) AS a) x,
          |  (SELECT explode(sequence(1, 100000)) AS b) y""".stripMargin)
      catch { case e: Throwable => null }
    }
    // wait for it to register + start
    var info: Option[engine.executions.QueryInfo] = None
    val deadline = System.nanoTime() + 10_000_000_000L
    while (info.isEmpty && System.nanoTime() < deadline) {
      info = engine.executions.list().reverse
        .find(q => q.sql.contains("explode(sequence") &&
                   q.status == engine.executions.Running)
      Thread.sleep(50)
    }
    assert(info.nonEmpty, "slow query never reached Running")
    assert(engine.executions.cancel(info.get.id))
    Await.result(slow, 60.seconds)
    assert(engine.executions.get(info.get.id).get.status ==
      engine.executions.Cancelled)
  }

  test("HTTP API serves concurrent queries correctly") {
    import java.net.URI
    import java.net.http.{HttpClient, HttpRequest, HttpResponse}
    val api = new graft.server.HttpApi(engine).start()
    try {
      val client = HttpClient.newHttpClient()
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration._
      val fs = (1 to 8).map { i =>
        Future {
          val req = HttpRequest.newBuilder(
            URI.create(s"http://127.0.0.1:${api.boundPort}/query"))
            .POST(HttpRequest.BodyPublishers.ofString(
              s"""{"query": "SELECT $i * 10 AS v"}""")).build()
          client.send(req, HttpResponse.BodyHandlers.ofString()).body()
        }
      }
      val bodies = Await.result(Future.sequence(fs), 120.seconds)
      bodies.zipWithIndex.foreach { case (b, i) =>
        assert(b.contains(s""""data":[[${(i + 1) * 10}]]"""), b)
      }
    } finally api.stop()
  }

  test("query timeout cancels a runaway query (reference 300s default, tunable)") {
    val spark = TestSpark.spark
    val engine = new graft.engine.QueryEngine(spark.newSession())
    engine.spark.conf.set("spark.graft.query.timeout.sec", "2")
    try {
      val t0 = System.nanoTime()
      // a ~9e10-pair cross join: minutes of work unless cancelled
      val e = intercept[Exception](engine.execute(
        "SELECT count(*) FROM range(300000) a, range(300000) b WHERE a.id + b.id > 0"))
      val elapsed = (System.nanoTime() - t0) / 1e9
      assert(elapsed < 30, s"timeout did not fire, took $elapsed s")
      val info = engine.executions.list().last
      assert(info.status.toString == "Cancelled")
      assert(info.error.exists(_.contains("timed out")))
    } finally engine.spark.conf.unset("spark.graft.query.timeout.sec")
  }

  test("the query registry keeps pending/running entries and a bounded tail of finished ones") {
    import graft.engine.ExecutionManager
    val em = new ExecutionManager(TestSpark.spark)
    val pending = em.register("never run")
    val keep = ExecutionManager.KeepFinished
    val done = (0 until keep + 50).map { i =>
      val info = em.register(s"noop $i")
      em.run(info)(())
      info.id
    }
    // the oldest 50 finished entries were dropped, the rest kept
    assert(done.take(50).forall(em.get(_).isEmpty))
    assert(done.drop(50).forall(em.get(_).isDefined))
    // a pending (or running) entry is never evicted
    assert(em.get(pending.id).map(_.status).contains(em.Pending))
    assert(em.list().size == keep + 1)
    val stats = em.stats()
    assert(stats("completed") == keep && stats("pending") == 1)
    assert(stats("total") == keep + 51, "total counts every registration")
  }

  test("specs run on the server's FAIR pool set") {
    // TestSpark shares GraftServer's allocation file, so the pools
    // ExecutionManager hashes statements onto are configured ones
    val sc = TestSpark.spark.sparkContext
    assert(sc.getConf.get("spark.scheduler.mode") == "FAIR")
    val file = sc.getConf.getOption("spark.scheduler.allocation.file")
    assert(file.isDefined, "no allocation file: every pool would be ad hoc")
    val xml = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(file.get)), "UTF-8")
    (0 until 8).foreach { i =>
      assert(xml.contains(s"""<pool name="graft-$i">"""), s"pool graft-$i")
      assert(sc.getPoolForName(s"graft-$i").isDefined, s"pool graft-$i")
    }
  }
}
