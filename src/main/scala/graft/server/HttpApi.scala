package graft.server

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import scala.jdk.CollectionConverters._
import graft.Json
import graft.engine.QueryEngine

/** Minimum HTTP serving slice, mirroring the reference's HTTP protocol
  * (/root/reference/server/protocols/http/server.go:55-64):
  *
  *   POST /query   {"query": "..."}  →  {"query_id", "columns",
  *                  "data", "row_count", "message"}
  *   GET  /health  → {"status":"ok"}
  *   GET  /status  → execution-manager stats
  *
  * One shared SparkSession behind the handlers (the reference shares
  * one engine across protocols the same way); Spark's scheduler
  * multiplexes concurrent queries across its thread pools, so the
  * handler threads just block on collect. Thrift Server / Spark
  * Connect would provide the JDBC analog — out of scope (SURVEY §3.3).
  */
final class HttpApi(engine: QueryEngine, port: Int = 0,
                    auth: Option[AuthProvider] = None,
                    host: String = "0.0.0.0") {

  private val server = HttpServer.create(new InetSocketAddress(host, port), 0)
  server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8))

  def boundPort: Int = server.getAddress.getPort

  /** Bearer-token gate for the mutating endpoints when an auth
    * provider is configured (the HTTP analog of the reference's auth
    * middleware; /health and /info stay open like its health checks). */
  private def authorized(ex: HttpExchange): Boolean =
    auth.forall { provider =>
      Option(ex.getRequestHeaders.getFirst("Authorization"))
        .filter(_.startsWith("Bearer "))
        .exists(h => provider.validateToken(h.stripPrefix("Bearer ")))
    }

  server.createContext("/query", handler { ex =>
    if (!authorized(ex)) (401, """{"error":"authentication required"}""")
    else if (ex.getRequestMethod != "POST") (405, """{"error":"POST required"}""")
    else {
      val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      Json.parse(body).flatMap(Json.text(_, "/query")) match {
        case None => (400, """{"error":"missing 'query' field"}""")
        case Some(sql) =>
          try {
            // per-request isolated session: HTTP is stateless, and the
            // 8 handler threads must not race each other's session conf
            // (dynamic-overwrite toggles) or current database
            val r = engine.newConnectionEngine().execute(sql)
            (200, Json.obj(
              "query_id" -> Json.str(r.queryId),
              "columns" -> Json.arr(r.columns.map(Json.str)),
              "data" -> Json.arr(r.data.map(row => Json.arr(row.map(Json.value)))),
              "row_count" -> r.rowCount.toString,
              "message" -> Json.str(r.message)))
          } catch {
            case e: Throwable =>
              (400, Json.obj("error" -> Json.str(
                Option(e.getMessage).getOrElse(e.getClass.getName))))
          }
      }
    }
  })

  server.createContext("/health", handler { _ => (200, """{"status":"ok"}""") })

  server.createContext("/info", handler { _ =>
    (200, Json.obj(
      "server" -> Json.str("Graft Analytics Server"),
      "version" -> Json.str("1.0"),
      "engine" -> Json.str(s"spark-${engine.spark.version}"),
      "protocols" -> Json.arr(Seq("http", "pgwire", "native").map(Json.str))))
  })

  server.createContext("/cancel", handler { ex =>
    if (!authorized(ex)) (401, """{"error":"authentication required"}""")
    else if (ex.getRequestMethod != "POST") (405, """{"error":"POST required"}""")
    else {
      val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      Json.parse(body).flatMap(Json.text(_, "/query_id")) match {
        case None => (400, """{"error":"missing 'query_id' field"}""")
        case Some(qid) =>
          if (engine.executions.cancel(qid))
            (200, Json.obj("cancelled" -> Json.str(qid)))
          else (404, Json.obj("error" -> Json.str(s"query $qid not found")))
      }
    }
  })

  server.createContext("/status", handler { _ =>
    val stats = engine.executions.stats()
    (200, Json.obj(stats.toSeq.sortBy(_._1).map {
      case (k, v) => k -> v.toString }: _*))
  })

  // ---- Iceberg-REST catalog slice (reference:
  // server/catalog/rest/catalog.go wraps an Iceberg REST catalog; this
  // serves the discovery surface of that protocol over the session
  // catalog, plus the write slice — create/drop namespace, create/drop
  // table, rename — routed through the ENGINE so REST-created objects
  // get the same dialect bookkeeping, CDC events, and snapshot hygiene
  // as DDL statements) ----
  private val nsRe = "^/namespaces/([^/]+)$".r
  private val nsTablesRe = "^/namespaces/([^/]+)/tables$".r
  private val tableRe = "^/namespaces/([^/]+)/tables/([^/]+)$".r

  /** A request the Iceberg-REST slice refuses with 400. */
  private final class BadRequest(msg: String) extends RuntimeException(msg)

  /** (name, icebergType, required) triples from an Iceberg schema
    * object's `fields`. Only primitive types are served: a field whose
    * type is a nested list/map/struct object is refused, never
    * dropped. */
  private def parseFields(schema: com.fasterxml.jackson.databind.JsonNode)
      : Seq[(String, String, Boolean)] =
    schema.at("/fields").elements().asScala.toSeq.map { f =>
      val name = Json.text(f, "/name")
        .getOrElse(throw new BadRequest("schema field without a name"))
      val ty = Json.text(f, "/type").getOrElse(throw new BadRequest(
        s"field $name: only primitive types are supported"))
      (name, ty, f.at("/required").asBoolean(false))
    }

  /** Iceberg-REST `metadata-location`: the ACTUAL current
    * vN.metadata.json when the table carries the r13 metadata mirror
    * (a real Iceberg reader can fetch and parse it), else the table
    * location (pre-mirror behavior). */
  private def metadataLocation(loc: java.net.URI): String = {
    try {
      val dir = new org.apache.hadoop.fs.Path(loc)
      val fs = dir.getFileSystem(engine.spark.sessionState.newHadoopConf())
      val md = graft.engine.IcebergMetadata.metadataDir(dir)
      val hintP = new org.apache.hadoop.fs.Path(md, "version-hint.text")
      if (!fs.exists(hintP)) loc.toString
      else {
        val in = fs.open(hintP)
        val v = try scala.io.Source.fromInputStream(in, "UTF-8")
          .mkString.trim finally in.close()
        val mdFile = new org.apache.hadoop.fs.Path(md, s"v$v.metadata.json")
        if (fs.exists(mdFile)) mdFile.toString else loc.toString
      }
    } catch { case _: Exception => loc.toString }
  }

  /** Field names/types from request JSON are interpolated into engine
    * SQL — reject anything outside \w+ names and parseable Iceberg
    * types (the charset check additionally bans quotes/backticks/
    * semicolons that a hostile type string could smuggle past the
    * dialect parser). */
  private def validateFields(fs: Seq[(String, String, Boolean)]): Unit =
    fs.foreach { case (n, ty, _) =>
      require(n.matches("\\w+"), s"invalid column name: $n")
      require(ty.matches("[A-Za-z0-9_<>(),: ]+"), s"invalid type: $ty")
      graft.types.IcebergTypes.parse(ty) // throws TypeError on non-Iceberg types
    }

  server.createContext("/v1", handler { ex =>
    if (!authorized(ex)) (401, """{"error":"authentication required"}""")
    else {
      val catalog = engine.spark.sessionState.catalog
      def body = Json.parse(new String(ex.getRequestBody.readAllBytes(), UTF_8))
        .getOrElse(throw new BadRequest("request body is not a JSON object"))
      val path = ex.getRequestURI.getPath.stripPrefix("/v1").stripSuffix("/")
      (ex.getRequestMethod, path) match {
        case ("POST", "/namespaces") =>
          // {"namespace": ["ns"]}
          Json.text(body, "/namespace/0") match {
            case None => (400, """{"error":"missing namespace"}""")
            case Some(n) if catalog.databaseExists(n) =>
              (409, Json.obj("error" -> Json.str(s"namespace $n already exists")))
            case Some(n) =>
              engine.execute(s"CREATE DATABASE `$n`")
              (200, Json.obj("namespace" -> Json.arr(Seq(Json.str(n))),
                "properties" -> "{}"))
          }
        case ("DELETE", nsRe(ns)) =>
          if (!catalog.databaseExists(ns))
            (404, Json.obj("error" -> Json.str(s"namespace $ns not found")))
          else { engine.execute(s"DROP DATABASE `$ns`"); (204, "") }
        case ("POST", nsTablesRe(ns)) =>
          val b = body
          (Json.text(b, "/name"), parseFields(b.at("/schema"))) match {
            case (None, _) => (400, """{"error":"missing table name"}""")
            case (_, Seq()) => (400, """{"error":"missing schema.fields"}""")
            case (Some(t), fs) =>
              require(ns.matches("\\w+") && t.matches("\\w+"),
                s"invalid identifier: $ns.$t")
              validateFields(fs)
              val cols = fs.map { case (n, ty, req) =>
                s"$n $ty${if (req) " NOT NULL" else ""}" }.mkString(", ")
              engine.execute(s"CREATE TABLE $ns.$t ($cols) STORAGE FILESYSTEM")
              (200, Json.obj(
                "metadata-location" -> Json.str(metadataLocation(
                  catalog.getTableMetadata(
                    org.apache.spark.sql.catalyst.TableIdentifier(
                      t, Some(ns))).location)),
                "metadata" -> Json.obj("format-version" -> "2")))
          }
        case ("POST", tableRe(ns, t)) =>
          // UpdateTableRequest slice: an "add-schema" update carries
          // the FULL new schema; columns not in the current schema
          // become ALTER TABLE ADD COLUMN through the engine (added
          // columns are nullable — existing rows cannot satisfy a new
          // NOT NULL). Other update actions are acknowledged untouched.
          val ident = org.apache.spark.sql.catalyst.TableIdentifier(t, Some(ns))
          if (!catalog.tableExists(ident))
            (404, Json.obj("error" -> Json.str(s"table $ns.$t not found")))
          else {
            body.at("/updates").elements().asScala
              .find(u => Json.text(u, "/action").contains("add-schema"))
              .foreach { update =>
                require(ns.matches("\\w+") && t.matches("\\w+"),
                  s"invalid identifier: $ns.$t")
                val current = catalog.getTableMetadata(ident)
                  .schema.fieldNames.map(_.toLowerCase).toSet
                val added = parseFields(update.at("/schema"))
                  .filterNot { case (n, _, _) => current.contains(n.toLowerCase) }
                validateFields(added)
                added.foreach { case (n2, ty, _) =>
                  engine.execute(s"ALTER TABLE $ns.$t ADD COLUMN $n2 $ty")
                }
              }
            (200, Json.obj(
              "metadata-location" -> Json.str(metadataLocation(
                catalog.getTableMetadata(ident).location)),
              "metadata" -> Json.obj("format-version" -> "2")))
          }
        case ("DELETE", tableRe(ns, t)) =>
          val ident = org.apache.spark.sql.catalyst.TableIdentifier(t, Some(ns))
          if (!catalog.tableExists(ident))
            (404, Json.obj("error" -> Json.str(s"table $ns.$t not found")))
          else { engine.execute(s"DROP TABLE `$ns`.`$t`"); (204, "") }
        case ("POST", "/tables/rename") =>
          val b = body
          val src = for {
            ns <- Json.text(b, "/source/namespace/0")
            n <- Json.text(b, "/source/name")
          } yield (ns, n)
          val dst = Json.text(b, "/destination/name")
          (src, dst) match {
            case (Some((ns, from)), Some(to)) =>
              require(ns.matches("\\w+") && from.matches("\\w+") && to.matches("\\w+"),
                s"invalid identifier in rename: $ns.$from -> $to")
              engine.execute(s"ALTER TABLE `$ns`.`$from` RENAME TO `$ns`.`$to`")
              (204, "")
            case _ => (400, """{"error":"missing source/destination"}""")
          }
        case (_, "/config") => (200, """{"defaults":{},"overrides":{}}""")
        case ("GET", "/namespaces") =>
          val dbs = catalog.listDatabases().sorted
          (200, Json.obj("namespaces" ->
            Json.arr(dbs.map(d => Json.arr(Seq(Json.str(d)))))))
        case ("GET", nsRe(ns)) =>
          if (!catalog.databaseExists(ns))
            (404, Json.obj("error" -> Json.str(s"namespace $ns not found")))
          else (200, Json.obj(
            "namespace" -> Json.arr(Seq(Json.str(ns))),
            "properties" -> "{}"))
        case ("GET", nsTablesRe(ns)) =>
          if (!catalog.databaseExists(ns))
            (404, Json.obj("error" -> Json.str(s"namespace $ns not found")))
          else {
            // external catalog only: session temp views are not tables
            // of the namespace (listTables would include them)
            val tables = catalog.externalCatalog.listTables(ns).sorted
            (200, Json.obj("identifiers" -> Json.arr(tables.map(t =>
              Json.obj(
                "namespace" -> Json.arr(Seq(Json.str(ns))),
                "name" -> Json.str(t))))))
          }
        case ("GET", tableRe(ns, t)) =>
          val ident = org.apache.spark.sql.catalyst.TableIdentifier(t, Some(ns))
          if (!catalog.tableExists(ident))
            (404, Json.obj("error" -> Json.str(s"table $ns.$t not found")))
          else {
            val meta = catalog.getTableMetadata(ident)
            val props = meta.properties
            // declared order + NOT NULL come from the graft.* props
            // (Spark's parquet catalog reorders partition columns and
            // erases nullability)
            val order = props.get("graft.columns").map(_.split(",").toSeq)
              .getOrElse(meta.schema.fieldNames.toSeq)
            val notNull = props.get("graft.notnull")
              .map(_.split(",").toSet).getOrElse(Set.empty[String])
            val fields = order.zipWithIndex.flatMap { case (name, i) =>
              meta.schema.fields.find(_.name == name).map { f =>
                Json.obj(
                  "id" -> (i + 1).toString,
                  "name" -> Json.str(f.name),
                  "required" -> (notNull.contains(f.name) || !f.nullable).toString,
                  "type" -> Json.str(graft.types.IcebergTypes.canonical(
                    props.getOrElse(s"graft.type.${f.name}",
                      graft.types.IcebergTypes.format(f.dataType)))))
              }
            }
            // snapshot history from the snapshot records — the Iceberg
            // REST metadata's snapshots array (id, op, timestamp)
            val snaps = graft.engine.Snapshots.list(engine.spark, s"$ns.$t")
              .map(si => Json.obj(
                "snapshot-id" -> si.id.toString,
                "timestamp-ms" -> si.createdAtMs.toString,
                "summary" -> Json.obj("operation" -> Json.str(si.operation))))
            (200, Json.obj(
              "metadata-location" -> Json.str(metadataLocation(meta.location)),
              "metadata" -> Json.obj(
              "format-version" -> "2",
              "location" -> Json.str(meta.location.toString),
              "current-schema-id" -> "0",
              "schemas" -> Json.arr(Seq(Json.obj(
                "schema-id" -> "0",
                "type" -> Json.str("struct"),
                "fields" -> Json.arr(fields.toSeq)))),
              "snapshots" -> Json.arr(snaps),
              "properties" -> Json.obj(props.toSeq.sorted.map {
                case (k, v) => k -> Json.str(v) }: _*))))
          }
        case other =>
          (404, Json.obj("error" -> Json.str(s"no route $other")))
      }
    }
  })

  private def handler(f: HttpExchange => (Int, String)): HttpHandler =
    (ex: HttpExchange) => {
      val (code, body) = try f(ex) catch {
        case e: BadRequest => (400, Json.obj("error" -> Json.str(e.getMessage)))
        case e: Throwable => (500, Json.obj("error" -> Json.str(String.valueOf(e.getMessage))))
      }
      val bytes = body.getBytes(UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      if (code == 204 || bytes.isEmpty) {
        // JDK HttpServer: 204/empty must send length -1 (no body);
        // length 0 would switch to chunked encoding and hang clients
        ex.sendResponseHeaders(code, -1)
      } else {
        ex.sendResponseHeaders(code, bytes.length)
        ex.getResponseBody.write(bytes)
      }
      ex.close()
    }

  def start(): HttpApi = { server.start(); this }
  def stop(): Unit = server.stop(0)
}
