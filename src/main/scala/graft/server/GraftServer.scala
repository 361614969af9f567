package graft.server

import org.apache.spark.sql.SparkSession

import graft.engine.QueryEngine
import graft.server.native.NativeServer
import graft.server.pgwire.PgWireServer

/** All three serving tiers on one engine, the analog of the
  * reference's gateway (server/gateway/gateway.go:39-141): HTTP JSON
  * on 2847, pg-wire on 2848, native binary on 2849 — the reference's
  * port layout. One SparkSession serves every protocol; each query
  * runs in its own job group so per-client cancellation works across
  * tiers.
  *
  * Usage: `sbt "runMain graft.server.GraftServer [sfDir]"` — when a
  * test-data dir is given, its parquet tables are registered as views
  * so protocol clients can query them immediately.
  */
object GraftServer {
  /** Allocation file for the bounded FAIR pool set ExecutionManager
    * hashes queries onto, plus weighted named pools from
    * GRAFT_POOL_WEIGHTS ("batch=3,interactive=1") — sessions opt into
    * one via spark.graft.scheduler.pool. Must exist before the
    * SparkContext starts (the scheduler reads it once at init). The
    * test session runs the same pools. */
  private[graft] def allocationFile(poolCount: Int): String = {
    val weighted = sys.env.get("GRAFT_POOL_WEIGHTS").toSeq
      .flatMap(_.split(",")).flatMap(_.split("=") match {
        case Array(name, w) => Some((name.trim, w.trim.toInt))
        case _ => None
      })
    val pools =
      (0 until poolCount).map(i => (s"graft-$i", 1)) ++ weighted
    val xml = pools.map { case (name, w) =>
      s"""  <pool name="$name"><schedulingMode>FIFO</schedulingMode>
         |    <weight>$w</weight><minShare>0</minShare></pool>""".stripMargin
    }.mkString("<?xml version=\"1.0\"?>\n<allocations>\n", "\n", "\n</allocations>\n")
    val f = java.nio.file.Files.createTempFile("graft-pools", ".xml")
    java.nio.file.Files.write(f, xml.getBytes("UTF-8"))
    f.toFile.deleteOnExit() // read once, when the SparkContext starts
    f.toString
  }

  /** The serving tiers + housekeeping started by [[startTiers]];
    * `stop()` tears everything down (specs boot a server from a yml
    * config without `main`'s terminal join). */
  final case class Running(http: Option[HttpApi], pg: Option[PgWireServer],
                           native: Option[NativeServer],
                           retention: java.util.concurrent.ScheduledExecutorService,
                           astha: Option[graft.streaming.AsthaScheduler]) {
    def stop(): Unit = {
      astha.foreach(_.stop())
      retention.shutdown()
      native.foreach(_.stop()); pg.foreach(_.stop()); http.foreach(_.stop())
    }
  }

  /** In-server Astha scheduler — the reference runs its CDC consumer
    * inside the server, with the schema cache subscribed to registry
    * events (storage/schema/astha_subscriber.go). The in-process
    * mutation path already invalidates the LOCAL metadata cache, so
    * this subscriber's value is CROSS-PROCESS coherence: a peer
    * engine sharing the warehouse publishes its mutations to the
    * shared changefeed, and this server's cache learns of them by
    * consumption — without it a cached CatalogTable could serve stale
    * settings until restart. The scheduler's cursor-driven cleanup is
    * the reference's "immediate cleanup for processed events"; the
    * retention timer stays as the stalled-scheduler backstop. Its
    * components are visible in `system.cdc_subscribers`. Disable via
    * spark.graft.astha.enabled=false. */
  def startAstha(spark: SparkSession): graft.streaming.AsthaScheduler = {
    import graft.streaming.{Astha, AsthaScheduler}
    // cleanupProcessed=false: a server never assumes it is the
    // warehouse's only consumer — cursor-driven cleanup would drop
    // events a PEER server's subscribers have not consumed; the
    // retention timer bounds growth for everyone instead
    val sched = new AsthaScheduler(spark, cleanupProcessed = false)
    sched.register(
      Astha.ComponentInfo("schema-cache", "1.0",
        Seq(graft.engine.Changefeed.TableTables,
          graft.engine.Changefeed.TableDatabases), "active", 0L),
      new Astha.Subscriber {
        override def onEvent(e: graft.engine.Changefeed.CdcEvent): Unit =
          e.data.get("table") match {
            case Some(q) => graft.engine.SystemTables.invalidate(spark, q)
            case None => graft.engine.SystemTables.invalidateAll(spark)
          }
        // recovery / registration resync: drop everything, refill lazily
        override def onRefresh(): Unit =
          graft.engine.SystemTables.invalidateAll(spark)
      })
    sched.start()
    sched
  }

  def main(args: Array[String]): Unit = {
    // `--config ranger-server.yml` loads the reference-shaped YAML
    // deployment file (server/config/config.go); a positional arg
    // registers a test-data dir's tables. All file settings become
    // spark confs BEFORE the session builds — one source of truth.
    val cfgPath = args.sliding(2).collectFirst {
      case Array("--config", p) => p }
    val dirArg = args.filterNot(_.startsWith("--"))
      .filterNot(a => cfgPath.contains(a)).headOption
    val cfg = cfgPath.map(ServerConfig.load).getOrElse(ServerConfig())
    val builder = graft.SparkTuning.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .appName("graft-server")
      // FAIR + a bounded pool set (ExecutionManager.run): one client's
      // long scan must not starve the other protocols' short queries
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.scheduler.allocation.file", allocationFile(8))
    cfg.sparkConfs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel(
      if (cfgPath.isDefined) cfg.logLevel.toUpperCase else "WARN")
    dirArg.foreach(dir => graft.sources.Tables.registerAll(spark, dir))

    val running = startTiers(spark)
    println("graft-server listening:" +
      running.http.map(h => s" http=${h.boundPort}").getOrElse("") +
      running.pg.map(p => s" pgwire=${p.boundPort}").getOrElse("") +
      running.native.map(n => s" native=${n.boundPort}").getOrElse(""))
    sys.addShutdownHook {
      running.stop()
      spark.stop()
    }
    Thread.currentThread().join() // serve until killed
  }

  /** Boot the protocol tiers + CDC retention from the session's confs
    * (which [[main]] seeds from the YAML config when given). */
  def startTiers(spark: SparkSession): Running = {
    val engine = new QueryEngine(spark)
    // spark.graft.auth.enabled=true turns on the reference's auth
    // middleware defaults on all three tiers; HTTP bearer tokens come
    // from spark.graft.auth.tokens (comma-separated)
    val auth: Option[AuthProvider] =
      if (spark.conf.getOption("spark.graft.auth.enabled").contains("true"))
        Some(new SimpleAuthProvider(
          tokens = spark.conf.getOption("spark.graft.auth.tokens")
            .map(_.split(",").toSet).getOrElse(Set.empty)))
      else None
    // per-protocol enable flags, the gateway's isHTTPServerEnabled /
    // isJDBCServerEnabled pattern (gateway.go:223-231) — default on
    def enabled(proto: String): Boolean =
      !spark.conf.getOption(s"spark.graft.server.$proto.enabled")
        .exists(v => Set("false", "0", "no", "off")(v.trim.toLowerCase))
    // ports follow the reference's server.port config idea
    // (ranger-server.yml `server:`) with our per-protocol layout;
    // a malformed value must fail with an addressed message, not a
    // raw NumberFormatException mid-bootstrap
    def port(proto: String, dflt: Int): Int =
      spark.conf.getOption(s"spark.graft.server.$proto.port") match {
        case None => dflt
        case Some(v) => v.trim.toIntOption.filter(p => p >= 0 && p <= 65535)
          .getOrElse(sys.error(
            s"invalid spark.graft.server.$proto.port: '$v' " +
              "(need 0-65535; 0 binds an ephemeral port)"))
      }
    val httpPort = port("http", 2847)
    val pgPort = port("pgwire", 2848)
    val nativePort = port("native", 2849)
    // bind address from the config file's server.host (an operator
    // setting 127.0.0.1 expects loopback-only exposure on every tier)
    val host = spark.conf.getOption("spark.graft.server.host")
      .getOrElse("0.0.0.0")
    val http = if (enabled("http"))
      Some(new HttpApi(engine, httpPort, auth, host).start()) else None
    val pg = if (enabled("pgwire")) {
      val s = new PgWireServer(engine, pgPort, auth = auth, host = host)
      s.start(); Some(s)
    } else None
    val native = if (enabled("native")) {
      val s = new NativeServer(engine, nativePort, auth = auth, host = host)
      s.start(); Some(s)
    } else None
    // CDC retention backstop: the in-server Astha scheduler below
    // consumes and cursor-cleans processed events, but a stalled or
    // disabled scheduler must not grow .graft-cdc/ without bound
    // (system.cdc_log would slow down forever) — sweep on a timer
    // independent of subscriber progress
    val retention = {
      def confL(k: String, dflt: Long) =
        spark.conf.getOption(k).map(_.toLong).getOrElse(dflt)
      val maxEvents = confL("spark.graft.cdc.retention.maxEvents", 10000L).toInt
      val maxAgeMs = confL("spark.graft.cdc.retention.maxAgeMs", 24L * 3600 * 1000)
      val intervalMs = confL("spark.graft.cdc.retention.intervalMs", 60000L)
      val e = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(r => {
        val t = new Thread(r, "graft-cdc-retention"); t.setDaemon(true); t
      })
      e.scheduleWithFixedDelay(() => {
        try graft.engine.Changefeed.retain(spark, maxEvents, maxAgeMs)
        catch { case ex: Exception =>
          System.err.println(s"[cdc-retention] sweep failed: ${ex.getMessage}")
        }
      }, intervalMs, intervalMs, java.util.concurrent.TimeUnit.MILLISECONDS)
      e
    }
    val astha = if (spark.conf.getOption("spark.graft.astha.enabled")
        .forall(v => v.trim.toBooleanOption.getOrElse(true)))
      Some(startAstha(spark)) else None
    Running(http, pg, native, retention, astha)
  }
}
