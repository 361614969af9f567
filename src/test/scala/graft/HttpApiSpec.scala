package graft

import org.scalatest.funsuite.AnyFunSuite
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import graft.engine.QueryEngine
import graft.server.HttpApi

class HttpApiSpec extends AnyFunSuite {
  lazy val engine = new QueryEngine(TestSpark.spark)
  lazy val api = new HttpApi(engine).start()
  lazy val client = HttpClient.newHttpClient()

  private def post(path: String, body: String): (Int, String) = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${api.boundPort}$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    val r = client.send(req, HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def get(path: String): (Int, String) = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${api.boundPort}$path"))
      .GET().build()
    val r = client.send(req, HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  test("health endpoint") {
    assert(get("/health") == (200, """{"status":"ok"}"""))
  }

  test("POST /query runs SQL and returns the reference JSON shape") {
    val (code, body) = post("/query",
      """{"query": "SELECT 1 AS one, 'a' AS s UNION ALL SELECT 2, 'b' ORDER BY one"}""")
    assert(code == 200)
    assert(body.contains(""""columns":["one","s"]"""))
    assert(body.contains(""""data":[[1,"a"],[2,"b"]]"""))
    assert(body.contains(""""row_count":2"""))
    assert(body.contains(""""query_id":"query_"""))
  }

  test("MERGE INTO is served over the HTTP tier") {
    assert(post("/query", """{"query": "CREATE DATABASE IF NOT EXISTS hapi"}""")._1 == 200)
    post("/query", """{"query": "DROP TABLE IF EXISTS hapi.m"}""")
    assert(post("/query",
      """{"query": "CREATE TABLE hapi.m (id int64 NOT NULL, v string) STORAGE filesystem"}""")._1 == 200)
    assert(post("/query", """{"query": "INSERT INTO hapi.m VALUES (1,'x')"}""")._1 == 200)
    val m = post("/query",
      """{"query": "MERGE INTO hapi.m t USING (VALUES (1,'X'), (2,'y')) AS s(id, v) ON t.id = s.id WHEN MATCHED THEN UPDATE SET v = s.v WHEN NOT MATCHED THEN INSERT VALUES (s.id, s.v)"}""")
    assert(m._1 == 200 && m._2.contains(""""message":"MERGE 1 updated, 0 deleted, 1 inserted""""))
    val sel = post("/query", """{"query": "SELECT id, v FROM hapi.m ORDER BY id"}""")
    assert(sel._2.contains("""[[1,"X"],[2,"y"]]"""))
  }

  test("full DDL+DML lifecycle over HTTP") {
    assert(post("/query", """{"query": "CREATE DATABASE IF NOT EXISTS hapi"}""")._1 == 200)
    assert(post("/query",
      """{"query": "CREATE TABLE hapi.t (id int64 NOT NULL, v string) STORAGE memory"}""")._1 == 200)
    val ins = post("/query", """{"query": "INSERT INTO hapi.t VALUES (1,'x'),(2,'y')"}""")
    assert(ins._1 == 200 && ins._2.contains(""""message":"INSERT 2""""))
    val sel = post("/query", """{"query": "SELECT * FROM hapi.t ORDER BY id"}""")
    assert(sel._2.contains("""[[1,"x"],[2,"y"]]"""))
    val show = post("/query", """{"query": "SHOW COLUMNS FROM hapi.t"}""")
    assert(show._2.contains(""""columns":["Field","Type","Null","Key","Unique","Default","Extra"]"""))
    post("/query", """{"query": "DROP TABLE hapi.t"}""")
  }

  test("EXPLAIN SKIPPING and system.scans round-trip over HTTP") {
    assert(post("/query", """{"query": "CREATE DATABASE IF NOT EXISTS hapi"}""")._1 == 200)
    post("/query", """{"query": "DROP TABLE IF EXISTS hapi.sk"}""")
    assert(post("/query",
      """{"query": "CREATE TABLE hapi.sk (id int64 NOT NULL, v string) STORAGE filesystem"}""")._1 == 200)
    for (base <- Seq(0, 100, 200, 300)) {
      val vals = (base until base + 5).map(i => s"($i, 'r$i')").mkString(", ")
      assert(post("/query", s"""{"query": "INSERT INTO hapi.sk VALUES $vals"}""")._1 == 200)
    }
    assert(post("/query", """{"query": "CREATE INDEX zsk ON hapi.sk (id)"}""")._1 == 200)
    val (code, body) = post("/query",
      """{"query": "EXPLAIN SKIPPING SELECT * FROM hapi.sk WHERE id = 102"}""")
    assert(code == 200, body)
    assert(body.contains(""""columns":["table_name","files_total","files_read","evidence"]"""), body)
    assert(body.contains("zonemap"), body)
    // and the executed SELECT leaves a system.scans row behind
    assert(post("/query", """{"query": "SELECT * FROM hapi.sk WHERE id = 102"}""")._1 == 200)
    val (c2, b2) = post("/query",
      """{"query": "SELECT table_name, evidence FROM system.scans WHERE table_name = 'hapi.sk'"}""")
    assert(c2 == 200 && b2.contains("zonemap"), b2)
  }

  test("system.cdc_subscribers round-trips over HTTP") {
    val sched = new graft.streaming.AsthaScheduler(TestSpark.spark)
    sched.register(
      graft.streaming.Astha.ComponentInfo("http-sub", "1.0", Seq("*"),
        "active", 0L),
      new graft.streaming.Astha.Subscriber {
        override def onEvent(e: graft.engine.Changefeed.CdcEvent): Unit = ()
      })
    try {
      sched.tick()
      val (code, body) = post("/query",
        """{"query": "SELECT component, status, lag FROM system.cdc_subscribers WHERE component = 'http-sub'"}""")
      assert(code == 200, body)
      assert(body.contains(""""columns":["component","status","lag"]"""), body)
      assert(body.contains("http-sub"), body)
    } finally sched.stop()
  }

  test("errors surface as JSON with HTTP 400") {
    val (code, body) = post("/query", """{"query": "PRAGMA version"}""")
    assert(code == 400 && body.contains("not allowed"))
    val (c2, b2) = post("/query", """{"nope": 1}""")
    assert(c2 == 400 && b2.contains("missing 'query'"))
    val (c3, _) = get("/query") // wrong method — handler responds 405
    assert(c3 == 405)
  }

  test("status endpoint reports execution stats") {
    val (code, body) = get("/status")
    assert(code == 200 && body.contains("\"total\":"))
  }

  test("info endpoint and HTTP cancel round-trip") {
    val (code, body) = get("/info")
    assert(code == 200 && body.contains("Graft Analytics Server")
      && body.contains("pgwire"))
    val info = engine.executions.register("SELECT slow")
    val (c2, b2) = post("/cancel", s"""{"query_id": "${info.id}"}""")
    assert(c2 == 200 && b2.contains(info.id))
    val (c3, _) = post("/cancel", """{"query_id": "query_nope"}""")
    assert(c3 == 404)
  }

  test("Iceberg-REST catalog slice: namespaces, tables, schema metadata") {
    post("/query", """{"query": "CREATE DATABASE IF NOT EXISTS restc"}""")
    post("/query", """{"query": "DROP TABLE IF EXISTS restc.ct"}""")
    post("/query",
      """{"query": "CREATE TABLE restc.ct (id int64 NOT NULL, name string) STORAGE filesystem"}""")
    assert(get("/v1/config") == (200, """{"defaults":{},"overrides":{}}"""))
    val (nc, nbody) = get("/v1/namespaces")
    assert(nc == 200 && nbody.contains("""["restc"]"""))
    val (tc, tbody) = get("/v1/namespaces/restc/tables")
    assert(tc == 200 &&
      tbody.contains("""{"namespace":["restc"],"name":"ct"}"""))
    val (mc, mbody) = get("/v1/namespaces/restc/tables/ct")
    assert(mc == 200)
    assert(mbody.contains(""""format-version":2"""))
    assert(mbody.contains(""""name":"id","required":true,"type":"int64""""))
    assert(mbody.contains(""""name":"name","required":false,"type":"string""""))
    assert(mbody.contains(""""location":"""))
    // 404 paths
    assert(get("/v1/namespaces/nope_ns/tables")._1 == 404)
    assert(get("/v1/namespaces/restc/tables/nope_t")._1 == 404)
    post("/query", """{"query": "DROP TABLE restc.ct"}""")
  }

  test("Iceberg-REST catalog write slice: create/drop namespace + table, rename") {
    val delete = (path: String) => {
      val req = HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${api.boundPort}$path")).DELETE().build()
      client.send(req, HttpResponse.BodyHandlers.ofString()).statusCode()
    }
    // create namespace; conflict on repeat
    assert(post("/v1/namespaces", """{"namespace":["restw"]}""")._1 == 200)
    assert(post("/v1/namespaces", """{"namespace":["restw"]}""")._1 == 409)
    // create a table with required + optional fields
    val (cc, cb) = post("/v1/namespaces/restw/tables",
      """{"name":"t1","schema":{"type":"struct","fields":[
        |{"id":1,"name":"id","required":true,"type":"int64"},
        |{"id":2,"name":"v","required":false,"type":"string"}]}}""".stripMargin)
    assert(cc == 200, cb)
    // REST-created tables are commit-logged (default-on) and carry the
    // r13 Iceberg metadata mirror: metadata-location points at a REAL
    // vN.metadata.json an external Iceberg reader can fetch
    assert(cb.contains("metadata-location"))
    assert(cb.contains(".metadata.json"),
      s"metadata-location should reference the mirror file: $cb")
    // discoverable through the read slice with the declared types
    val (gc, gb) = get("/v1/namespaces/restw/tables/t1")
    assert(gc == 200)
    assert(gb.contains(""""name":"id","required":true,"type":"int64""""))
    // usable through the engine (same catalog, dialect bookkeeping)
    assert(post("/query",
      """{"query":"INSERT INTO restw.t1 VALUES (1, 'x')"}""")._1 == 200)
    // after the first commit, GET serves the committed version's file
    val (gc2, gb2) = get("/v1/namespaces/restw/tables/t1")
    assert(gc2 == 200)
    assert(gb2.contains("v1.metadata.json"),
      s"GET should serve the committed mirror version: ${gb2.take(400)}")
    // rename within the namespace
    assert(post("/v1/tables/rename",
      """{"source":{"namespace":["restw"],"name":"t1"},
        |"destination":{"namespace":["restw"],"name":"t2"}}""".stripMargin)._1 == 204)
    assert(get("/v1/namespaces/restw/tables/t2")._1 == 200)
    assert(get("/v1/namespaces/restw/tables/t1")._1 == 404)
    // commit endpoint: add-schema update evolves the table via ALTER
    val (uc, _) = post("/v1/namespaces/restw/tables/t2",
      """{"requirements":[],"updates":[{"action":"add-schema","schema":
        |{"type":"struct","fields":[
        |{"id":1,"name":"id","required":true,"type":"int64"},
        |{"id":2,"name":"v","required":false,"type":"string"},
        |{"id":3,"name":"score","required":false,"type":"float64"}]}}]}"""
        .stripMargin)
    assert(uc == 200)
    val (_, evolved) = get("/v1/namespaces/restw/tables/t2")
    assert(evolved.contains(""""name":"score""""))
    // metadata carries the Iceberg REST snapshots array: empty before
    // any destructive op, populated after a versioned UPDATE
    assert(evolved.contains(""""snapshots":[]"""), evolved)
    assert(post("/query",
      """{"query":"UPDATE restw.t2 SET v = 'z' WHERE id = 1"}""")._1 == 200)
    val (_, versioned) = get("/v1/namespaces/restw/tables/t2")
    assert(versioned.contains(""""snapshot-id""""), versioned)
    assert(versioned.contains(""""operation":"UPDATE""""), versioned)
    assert(post("/query",
      """{"query":"SELECT id, v, score FROM restw.t2"}""")._1 == 200)
    // drop table then namespace; both 404 afterwards
    assert(delete("/v1/namespaces/restw/tables/t2") == 204)
    assert(delete("/v1/namespaces/restw/tables/t2") == 404)
    assert(delete("/v1/namespaces/restw") == 204)
    assert(get("/v1/namespaces/restw")._1 == 404)
  }

  test("REST write slice rejects SQL-fragment smuggling in names and types") {
    assert(post("/v1/namespaces", """{"namespace":["restv"]}""")._1 == 200)
    // hostile column NAME must not reach the engine's SQL
    val (c1, b1) = post("/v1/namespaces/restv/tables",
      """{"name":"inj1","schema":{"type":"struct","fields":[
        |{"id":1,"name":"a string, b","required":false,"type":"string"}]}}"""
        .stripMargin)
    assert(c1 == 500 && b1.contains("invalid column name"), s"$c1 $b1")
    assert(get("/v1/namespaces/restv/tables/inj1")._1 == 404)
    // hostile TYPE: quote breakout fails the charset check; a
    // paren-smuggled fragment ("string) PARTITION BY (a") passes the
    // charset but fails the Iceberg parse whitelist
    val (c2, b2) = post("/v1/namespaces/restv/tables",
      """{"name":"inj2","schema":{"type":"struct","fields":[
        |{"id":1,"name":"a","required":false,"type":"string') PARTITION BY (a"}]}}"""
        .stripMargin)
    assert(c2 == 500 && b2.contains("invalid type"), s"$c2 $b2")
    val (c2b, b2b) = post("/v1/namespaces/restv/tables",
      """{"name":"inj2","schema":{"type":"struct","fields":[
        |{"id":1,"name":"a","required":false,"type":"string) PARTITION BY (a"}]}}"""
        .stripMargin)
    assert(c2b == 500 && b2b.contains("unsupported type"), s"$c2b $b2b")
    assert(get("/v1/namespaces/restv/tables/inj2")._1 == 404)
    // non-Iceberg but charset-clean type fails the parse whitelist
    val (c3, b3) = post("/v1/namespaces/restv/tables",
      """{"name":"inj3","schema":{"type":"struct","fields":[
        |{"id":1,"name":"a","required":false,"type":"varchar(99)"}]}}"""
        .stripMargin)
    assert(c3 == 500 && b3.contains("unsupported type"), s"$c3 $b3")
    // add-schema path gets the same validation
    assert(post("/v1/namespaces/restv/tables",
      """{"name":"ok","schema":{"type":"struct","fields":[
        |{"id":1,"name":"a","required":false,"type":"string"}]}}"""
        .stripMargin)._1 == 200)
    val (c4, b4) = post("/v1/namespaces/restv/tables/ok",
      """{"requirements":[],"updates":[{"action":"add-schema","schema":
        |{"type":"struct","fields":[
        |{"id":1,"name":"a","required":false,"type":"string"},
        |{"id":2,"name":"b` string; DROP TABLE restv.ok; --","required":false,"type":"string"}]}}]}"""
        .stripMargin)
    assert(c4 == 500 && b4.contains("invalid column name"), s"$c4 $b4")
    // rename rejects identifiers that could break out of backtick quoting
    val (c5, b5) = post("/v1/tables/rename",
      """{"source":{"namespace":["restv"],"name":"ok"},
        |"destination":{"namespace":["restv"],"name":"x` (id int64); --"}}"""
        .stripMargin)
    assert(c5 == 500 && b5.contains("invalid identifier"), s"$c5 $b5")
    assert(get("/v1/namespaces/restv/tables/ok")._1 == 200) // unharmed
    val delete = (path: String) => {
      val req = HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${api.boundPort}$path")).DELETE().build()
      client.send(req, HttpResponse.BodyHandlers.ofString()).statusCode()
    }
    assert(delete("/v1/namespaces/restv/tables/ok") == 204)
    assert(delete("/v1/namespaces/restv") == 204)
  }

  test("bearer-token auth gates /query and /cancel; /health stays open") {
    val secured = new HttpApi(engine,
      auth = Some(new graft.server.SimpleAuthProvider(
        tokens = Set("sekret-token")))).start()
    try {
      def postAuth(path: String, body: String, token: Option[String]): Int = {
        val b = HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${secured.boundPort}$path"))
          .POST(HttpRequest.BodyPublishers.ofString(body))
        token.foreach(t => b.header("Authorization", s"Bearer $t"))
        client.send(b.build(), HttpResponse.BodyHandlers.ofString()).statusCode()
      }
      assert(postAuth("/query", """{"query":"SELECT 1 AS x"}""", None) == 401)
      assert(postAuth("/query", """{"query":"SELECT 1 AS x"}""",
        Some("wrong")) == 401)
      assert(postAuth("/query", """{"query":"SELECT 1 AS x"}""",
        Some("sekret-token")) == 200)
      assert(postAuth("/cancel", """{"query_id":"query_nope"}""", None) == 401)
      // health stays unauthenticated (reference health checks)
      val hreq = HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${secured.boundPort}/health")).GET().build()
      assert(client.send(hreq,
        HttpResponse.BodyHandlers.ofString()).statusCode() == 200)
    } finally secured.stop()
  }

  test("INDEX_PROBE answers q33's question over HTTP, SQL only") {
    post("/query", """{"query": "CREATE DATABASE IF NOT EXISTS httpip"}""")
    post("/query", """{"query": "DROP TABLE IF EXISTS httpip.docs"}""")
    post("/query",
      """{"query": "CREATE TABLE httpip.docs (doc_id int64, text string) STORAGE filesystem"}""")
    post("/query", """{"query": "INSERT INTO httpip.docs VALUES (1, 'one two three four five six seven eight nine ten'), (2, 'one two three four five six seven eight nine ten'), (3, 'different content with no overlap in shingles anywhere here')"}""")
    val (ci, _) = post("/query",
      """{"query": "CREATE INDEX bix ON httpip.docs (doc_id, text) USING bands"}""")
    assert(ci == 200)
    val (code, body) = post("/query",
      """{"query": "SELECT doc1, doc2 FROM INDEX_PROBE(httpip.docs, 'neardup', doc_id, text) ORDER BY doc1, doc2"}""")
    assert(code == 200, body)
    assert(body.contains(""""columns":["doc1","doc2"]"""), body)
    assert(body.contains(""""data":[[1,2]]"""), body)
  }

  test("Json helpers round-trip escapes") {
    assert(Json.parse("""{"query": "SELECT '\n\"x\"' AS s"}""")
      .flatMap(Json.text(_, "/query")).contains("SELECT '\n\"x\"' AS s"))
    assert(Json.str("a\"b\nc") == "\"a\\\"b\\nc\"")
    val control = "t\tab \u0001 \u001f"
    assert(Json.parse(Json.obj("v" -> Json.str(control)))
      .flatMap(Json.text(_, "/v")).contains(control))
    assert(Json.parse("not json").isEmpty && Json.parse("[1]").isEmpty)
  }

  test("REST rename reads source and destination in either order") {
    assert(post("/v1/namespaces", """{"namespace":["restr"]}""")._1 == 200)
    assert(post("/v1/namespaces/restr/tables",
      """{"name":"a","schema":{"type":"struct","fields":[
        |{"id":1,"name":"id","required":false,"type":"int64"}]}}""".stripMargin)._1 == 200)
    val (rc, rb) = post("/v1/tables/rename",
      """{"destination":{"namespace":["restr"],"name":"b"},
        |"source":{"namespace":["restr"],"name":"a"}}""".stripMargin)
    assert(rc == 204, rb)
    assert(get("/v1/namespaces/restr/tables/b")._1 == 200)
    assert(get("/v1/namespaces/restr/tables/a")._1 == 404)
    post("/query", """{"query": "DROP TABLE restr.b"}""")
    post("/query", """{"query": "DROP DATABASE restr"}""")
  }

  test("REST create refuses a nested field type instead of dropping the column") {
    assert(post("/v1/namespaces", """{"namespace":["restn"]}""")._1 == 200)
    val (c, b) = post("/v1/namespaces/restn/tables",
      """{"name":"n","schema":{"type":"struct","fields":[
        |{"id":1,"name":"id","required":false,"type":"int64"},
        |{"id":2,"name":"tags","required":false,"type":{"type":"list",
        |"element-id":3,"element":"string","element-required":false}}]}}""".stripMargin)
    assert(c == 400 && b.contains("tags"), s"$c $b")
    assert(get("/v1/namespaces/restn/tables/n")._1 == 404)
    post("/query", """{"query": "DROP DATABASE restn"}""")
  }
}
