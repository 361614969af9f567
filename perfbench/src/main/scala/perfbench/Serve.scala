package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.functions.{col, to_date}
import graft.engine.QueryEngine
import graft.server.GraftServer

/** The `serve_write` workload: clients commit DML to two indexed
  * commit-log tables, one writer per table, and read both tables over
  * pgwire, native (through the SDK) and HTTP. */
object Serve {
  /** A table as loaded from the sf0.1 parquet input: declared columns,
    * key column, and how many range-partitioned files it starts with. */
  final case class Table(name: String, key: String, ddl: Seq[(String, String)], files: Int) {
    def cols: Seq[String] = ddl.map(_._1)
  }
  val Orders = Table("orders", "o_orderkey", Seq("o_orderkey" -> "int64 NOT NULL",
    "o_custkey" -> "int64", "o_orderstatus" -> "string", "o_totalprice" -> "float64",
    "o_orderdate" -> "date", "o_orderpriority" -> "string"), 16)
  val Customer = Table("customer", "c_custkey", Seq("c_custkey" -> "int64 NOT NULL",
    "c_name" -> "string", "c_nationkey" -> "int32", "c_acctbal" -> "float64",
    "c_mktsegment" -> "string"), 8)
  val Tables = Seq(Orders, Customer)

  /** Creates `db` with the two tables loaded from the sf0.1 input, a
    * zonemap index on order keys and a bloom index on customer names. */
  def load(ctx: Ctx, engine: QueryEngine, db: String): Unit = {
    engine.execute(s"CREATE DATABASE IF NOT EXISTS $db")
    Tables.foreach { t =>
      engine.execute(s"CREATE TABLE $db.${t.name} (" +
        t.ddl.map { case (c, ty) => s"$c $ty" }.mkString(", ") + ") STORAGE filesystem")
      val src = ctx.spark.read.parquet(s"${ctx.args.data}/${t.name}.parquet")
      val typed = t.ddl.foldLeft(src) { case (df, (c, ty)) =>
        if (ty == "date") df.withColumn(c, to_date(col(c))) else df }
      engine.appendBatch(s"$db.${t.name}",
        typed.repartitionByRange(t.files, col(t.key)).sortWithinPartitions(t.key))
    }
    engine.execute(s"CREATE INDEX oz ON $db.orders (o_orderkey)")
    engine.execute(s"CREATE INDEX cb ON $db.customer (c_name) USING bloom")
  }

  /** The benchmark's own copy of a table: key → normalised row. */
  final class Model(val t: Table, init: Iterable[(Long, String)]) {
    val rows = mutable.HashMap.from(init)
    private val keys = mutable.ArrayBuffer.from(rows.keys.toSeq.sorted)
    private val pos = mutable.HashMap.from(keys.zipWithIndex)
    var nextKey: Long = (if (keys.isEmpty) 0L else keys.max) + 1
    val loadedBytes: Long = rows.valuesIterator.map(_.length.toLong).sum

    def sortedKeys: IndexedSeq[Long] = keys.sorted.toIndexedSeq
    def randomKey(r: Random): Long = keys(r.nextInt(keys.size))
    def put(k: Long, row: String): Unit = {
      if (!rows.contains(k)) { pos(k) = keys.size; keys += k }
      rows(k) = row
    }
    def remove(k: Long): Unit = if (rows.remove(k).isDefined) {
      val i = pos.remove(k).get
      val last = keys.remove(keys.size - 1)
      if (last != k) { keys(i) = last; pos(last) = i }
    }
    def fingerprint: (Long, Long) = Norm.fingerprint(rows.valuesIterator)
  }

  def model(ctx: Ctx, t: Table): Model = {
    val src = ctx.spark.read.parquet(s"${ctx.args.data}/${t.name}.parquet")
    val typed = t.ddl.foldLeft(src) { case (df, (c, ty)) =>
      if (ty == "date") df.withColumn(c, to_date(col(c))) else df }
    new Model(t, typed.select(t.cols.map(col): _*).collect().map(r =>
      r.get(0).toString.toLong -> Norm.row(r.toSeq)))
  }

  // ------------------------------------------------------------ statements

  final case class Op(kind: String, sql: String, key: Long = 0L)

  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private def custName(k: Long) = f"Customer#$k%09d"

  /** The read mix. Kinds cycle through a fixed schedule, so every seed
    * runs the same mix and the seed picks only keys and parameters. The
    * two clients start half a schedule apart: between them, a run's
    * first seven reads each cover every kind, and the kinds that recur
    * go over more than one protocol. Point lookups draw keys
    * over the whole table (a tenth miss), so their literal-varying text
    * mostly misses the codegen cache. */
  final class ReadGen(db: String, orders: IndexedSeq[Long], maxCust: Long, r: Random, start: Int = 0) {
    private val oCols = Orders.cols.mkString(", ")
    private val cCols = Customer.cols.mkString(", ")
    private val Schedule = Seq("point", "name", "point", "agg0", "fetch", "agg1", "point",
      "point", "name", "agg2", "point", "fetch", "agg3", "system")
    private var slot = start - 1

    def next(): Op = {
      slot = (slot + 1) % Schedule.size
      make(Schedule(slot))
    }

    /** One statement of every kind, for the warm-up and the final check. */
    def warmup: Seq[Op] = Schedule.distinct.map(make)

    private def make(kind: String): Op = kind match {
      case "point" =>
        val k = if (r.nextInt(10) == 0) 1 + r.nextInt(orders.last.toInt) else orders(r.nextInt(orders.size))
        Op("point", s"SELECT $oCols FROM $db.orders WHERE o_orderkey = $k", k)
      case "name" =>
        val k = 1 + r.nextInt((maxCust * 11 / 10).toInt)
        Op("name", s"SELECT $cCols FROM $db.customer WHERE c_name = '${custName(k)}'", k)
      case "agg0" =>
        val y = 1992 + r.nextInt(7)
        Op("agg", s"SELECT o_orderpriority, count(*) AS n, max(o_totalprice) AS top " +
          s"FROM $db.orders WHERE o_orderdate >= DATE'$y-01-01' AND o_orderdate < DATE'${y + 1}-01-01' " +
          "GROUP BY o_orderpriority")
      case "agg1" =>
        Op("agg", s"SELECT c.c_nationkey, count(*) AS orders FROM $db.orders o " +
          s"JOIN $db.customer c ON o.o_custkey = c.c_custkey " +
          s"WHERE c.c_mktsegment = '${Segments(r.nextInt(5))}' GROUP BY c.c_nationkey")
      case "agg2" =>
        Op("agg", s"SELECT c_mktsegment, count(*) AS n, max(c_acctbal) AS top " +
          s"FROM $db.customer WHERE c_nationkey = ${r.nextInt(25)} GROUP BY c_mktsegment")
      case "agg3" =>
        Op("agg", s"SELECT o_orderstatus, count(*) AS n FROM $db.orders " +
          s"WHERE o_custkey = ${1 + r.nextInt(maxCust.toInt)} GROUP BY o_orderstatus")
      case "fetch" =>
        val i = r.nextInt(orders.size - 1000)
        Op("fetch", s"SELECT $oCols FROM $db.orders " +
          s"WHERE o_orderkey BETWEEN ${orders(i)} AND ${orders(i + 999)}", i)
      case _ =>
        Op("system", if (r.nextBoolean()) "SELECT count(*) AS n FROM system.tables"
                     else "SELECT count(*) AS n FROM system.databases")
    }
  }

  /** One writer's DML over its table's model, on a fixed kind schedule.
    * Each write carries the rows it leaves in the model (key → row,
    * None for a delete). */
  final class WriteGen(db: String, m: Model, r: Random, start: Int) {
    private val t = m.t
    private def price = (r.nextInt(10000000) - 100000) / 100.0
    private def date = java.time.LocalDate.of(1992, 1, 1).plusDays(r.nextInt(2400).toLong).toString

    /** Fresh values for a row, as (SQL literal, batch string, model value). */
    private def values(k: Long): Seq[(String, String, Any)] = if (t == Orders) {
      val c = 1L + r.nextInt(15000); val s = Seq("O", "F", "P")(r.nextInt(3))
      val p = price; val d = date; val pr = Priorities(r.nextInt(5))
      Seq((s"${k}L", k.toString, k), (s"${c}L", c.toString, c), (s"'$s'", s, s),
        (s"${p}D", p.toString, p), (s"DATE'$d'", d, d), (s"'$pr'", pr, pr))
    } else {
      val n = r.nextInt(25); val p = price; val s = Segments(r.nextInt(5))
      Seq((s"${k}L", k.toString, k), (s"'${custName(k)}'", custName(k), custName(k)),
        (n.toString, n.toString, n), (s"${p}D", p.toString, p), (s"'$s'", s, s))
    }

    private def tuple(v: Seq[(String, String, Any)]) = v.map(_._1).mkString("(", ", ", ")")
    private def modelRow(v: Seq[(String, String, Any)]) = Norm.row(v.map(_._3))
    private def fresh(): Long = { val k = m.nextKey; m.nextKey += 1; k }
    private def effects(vs: Seq[Seq[(String, String, Any)]]) =
      vs.map(v => v.head._3.asInstanceOf[Long] -> Some(modelRow(v)))
    private val target = s"$db.${t.name}"

    final case class Write(kind: String, sql: String, batch: Seq[Seq[String]],
                           effects: Seq[(Long, Option[String])]) {
      def userBytes: Long = effects.flatMap(_._2).map(_.length.toLong).sum
    }

    private val Schedule = Seq("insert", "update", "merge", "batch", "delete",
      "update", "insert", "update", "insert", "merge")
    private var slot = start - 1

    def next(): Write = {
      slot = (slot + 1) % Schedule.size
      Schedule(slot) match {
        case "insert" =>
          val vs = Seq.fill(10 + r.nextInt(41))(values(fresh()))
          Write("insert", s"INSERT INTO $target VALUES " + vs.map(tuple).mkString(", "), Nil, effects(vs))
        case "update" =>
          val k = m.randomKey(r)
          val v = values(k)
          val set = t.cols.zip(v).drop(1).take(if (t == Orders) 3 else 4)
            .filterNot(_._1 == "c_name").map { case (c, x) => s"$c = ${x._1}" }
          Write("update", s"UPDATE $target SET ${set.mkString(", ")} WHERE ${t.key} = $k", Nil,
            Seq(k -> Some(Norm.row(updated(m.rows(k), v)))))
        case "delete" =>
          val k = m.randomKey(r)
          Write("delete", s"DELETE FROM $target WHERE ${t.key} = $k", Nil, Seq(k -> None))
        case "merge" =>
          val vs = (Seq.fill(3)(m.randomKey(r)).distinct ++ Seq.fill(2)(fresh())).map(values)
          val cs = t.cols
          Write("merge", s"MERGE INTO $target AS t USING (VALUES ${vs.map(tuple).mkString(", ")}) " +
            s"AS s(${cs.mkString(", ")}) ON t.${t.key} = s.${t.key} " +
            s"WHEN MATCHED THEN UPDATE SET ${cs.drop(1).map(c => s"$c = s.$c").mkString(", ")} " +
            s"WHEN NOT MATCHED THEN INSERT (${cs.mkString(", ")}) VALUES (${cs.map("s." + _).mkString(", ")})",
            Nil, effects(vs))
        case _ =>
          val vs = Seq.fill(500)(values(fresh()))
          Write("batch", "", vs.map(_.map(_._2)), effects(vs))
      }
    }

    /** The model row after an UPDATE that sets every column but the key
      * (and, for customers, the name) to `v`'s values. */
    private def updated(old: String, v: Seq[(String, String, Any)]): Seq[Any] = {
      val cur = old.split("\u0001", -1).toSeq
      val n = if (t == Orders) 4 else 5
      t.cols.indices.map { i =>
        if (i == 0 || i >= n || t.cols(i) == "c_name") cur(i) else v(i)._3 }
    }
  }

  // ----------------------------------------------------------------- run

  private final case class ReadRec(op: Op, proto: String, fp: (Long, Long), ms: Double, traced: Boolean)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val engine = new QueryEngine(spark)
    // set-up runs once: one load costs 13 to 18 s cold (JIT included),
    // and a second would not fit the run's time budget
    val db = "bench"
    val t0 = System.nanoTime()
    load(ctx, engine, db)
    val setup = Seq(ctx.secs(t0))
    val models = Tables.map(model(ctx, _))
    val running = GraftServer.startTiers(spark)
    val ports = Map("pgwire" -> running.pg.get.boundPort,
      "native" -> running.native.get.boundPort, "http" -> running.http.get.boundPort)
    val orderKeys = models(0).sortedKeys
    val maxCust = models(1).rows.keys.max
    val seed = ctx.args.seed

    val reads = new ConcurrentLinkedQueue[ReadRec]()
    val commitMs = new ConcurrentLinkedQueue[(String, Double)]()
    val layer = new ConcurrentLinkedQueue[(String, Double)]()
    def sample(name: String, v: Double): Unit = layer.add(name -> v)
    @volatile var measuring = false
    val ingested = new java.util.concurrent.atomic.AtomicLong
    val sent = new ConcurrentLinkedQueue[(String, String)]()
    val userBytes = new java.util.concurrent.atomic.AtomicLong

    // ---- one read, with the traced run's paired in-process calls
    def readOnce(c: Conn, pair: QueryEngine, op: Op, traced: Boolean): Unit = {
      ctx.attempted.incrementAndGet()
      val b0 = c.bytesIn
      val t0 = System.nanoTime()
      val res = try Some(tr.request("client", s"read.${op.kind}") {
        tr.span("server", s"server.${c.proto}")(c.query(op.sql))
      }) catch { case NonFatal(e) => ctx.fail(s"read.${c.proto}", s"${op.sql}: $e"); None }
      val ms = (System.nanoTime() - t0) / 1e6
      res.foreach { rows =>
        if (measuring) reads.add(ReadRec(op, c.proto, Norm.fingerprint(rows.iterator), ms, traced))
        if (traced && measuring) pairedRead(c, pair, op, rows.size, ms, c.bytesIn - b0)
      }
    }

    def pairedRead(c: Conn, pair: QueryEngine, op: Op, nRows: Int, rttMs: Double, bytes: Long): Unit = {
      var qid = ""
      val e0 = System.nanoTime()
      val er = tr.span("engine", "engine.execute")(pair.execute(op.sql, id => qid = id))
      val engMs = (System.nanoTime() - e0) / 1e6
      sample(s"server.${c.proto}.rtt_ms", rttMs)
      sample(s"server.${c.proto}.overhead_ms", rttMs - engMs)
      sample("engine.read_ms", engMs)
      val wireBytes = if (c.proto == "native") c.asInstanceOf[NativeConn].countedBytes(op.sql)._1 else bytes
      if (nRows > 0) sample(s"server.${c.proto}.bytes_per_row", wireBytes.toDouble / nRows)
      ctx.probe.awaitQuiet(1000)
      ctx.probe.group(qid).foreach { g =>
        sample("spark.jobs_per_statement", g.jobs.get.toDouble)
        sample("spark.queue_s", math.max(0.0, engMs - ctx.probe.stageWallMs(qid)) / 1e3)
        sample("spark.rows_in", g.inputRows.get.toDouble)
        sample("spark.rows_out", er.rowCount.toDouble)
      }
      if (op.kind != "system") {
        val s0 = System.nanoTime()
        val df = tr.span("catalyst", "spark.sql.collect") {
          val d = spark.sql(op.sql); d.collect(); d }
        sample("engine.router_overhead_ms", engMs - (System.nanoTime() - s0) / 1e6)
        val ph = df.queryExecution.tracker.phases
        Seq("analysis", "optimization", "planning").foreach(p =>
          ph.get(p).foreach(s => sample(s"catalyst.${p}_ms", s.durationMs.toDouble)))
      }
      if (op.kind == "point") tr.span("plans", "explain.skipping") {
        pair.execute("EXPLAIN SKIPPING " + op.sql).data.headOption.foreach { r =>
          val total = r(1).toString.toDouble
          if (total > 0) sample("plans.zonemap_files_read_frac", r(2).toString.toDouble / total)
        }
      }
    }

    /** One closed-loop client. Client i is the only writer of table i,
      * so its model is exact; it reads both tables, rotating over the
      * three protocols from a different first one. */
    final class Client(val idx: Int) {
      val m = models(idx)
      // the two tables start three slots apart, so the warm-up's three
      // writes per table cover every kind
      val gen = new WriteGen(db, m, new Random(seed * 7919 + 101 + idx), start = 3 * idx)
      private val pick = new Random(seed * 7919 + 303 + idx)
      val pg = new PgConn(ports("pgwire"))
      val nat = new NativeConn(ports("native"))
      val http = new HttpConn(ports("http"))
      private val check = new HttpConn(ports("http"))
      private val readConns = { val cs = Seq(pg, nat, http); cs.drop(idx) ++ cs.take(idx) }
      def readConn(n: Int): Conn = readConns(n % readConns.size)
      val pair = engine.newConnectionEngine()
      val target = s"$db.${m.t.name}"
      private val sel = s"SELECT ${m.t.cols.mkString(", ")} FROM $target WHERE ${m.t.key} = "

      /** One commit over the wire. A DML statement cannot be replayed
        * in-process for a paired engine time, so the traced run reads
        * the engine's own time for each statement from
        * `system.queries` after the window (see [[engineDmlMs]]). */
      def commit(): Unit = {
        val w = gen.next()
        ctx.attempted.incrementAndGet()
        val t0 = System.nanoTime()
        val ok = try {
          tr.request("client", s"commit.${w.kind}") {
            if (w.kind == "batch") {
              val b = nat.sdk.prepareBatch(target, m.t.cols)
              w.batch.foreach(r => b.append(r: _*))
              val s0 = System.nanoTime()
              tr.span("sdk", "sdk.batch.send")(b.send())
              if (measuring) sample("sdk.batch_send_ms", (System.nanoTime() - s0) / 1e6)
            } else tr.span("server", "server.pgwire")(pg.query(w.sql))
          }
          true
        } catch { case NonFatal(e) => ctx.fail(s"commit.${w.kind}", s"${w.sql.take(200)}: $e"); false }
        val ms = (System.nanoTime() - t0) / 1e6
        if (ok) {
          w.effects.foreach { case (k, v) => v.fold(m.remove(k))(m.put(k, _)) }
          if (measuring) {
            commitMs.add(w.kind -> ms)
            if (w.kind == "batch") sent.add(w.kind -> s"INSERT-BATCH $target (${w.batch.size} rows)")
            else sent.add(w.kind -> w.sql)
            if (w.kind != "update" && w.kind != "delete") ingested.addAndGet(w.effects.size)
          }
          userBytes.addAndGet(w.userBytes)
          // the write must be visible at once from another connection
          val (k, want) = w.effects(pick.nextInt(w.effects.size))
          ctx.attempted.incrementAndGet()
          try {
            val got = check.query(sel + k)
            if (got != want.toSeq) ctx.fail("visibility", s"${m.t.name} key $k: got $got, want $want")
          } catch { case NonFatal(e) => ctx.fail("visibility", e.toString) }
        }
      }

      def close(): Unit = Seq(pg, nat, http, check).foreach(_.close())
    }
    // one client per table: Main.Clients of them
    val clients = models.indices.map(new Client(_))

    // ---- warm-up: three commits per client, and every read kind once,
    // the clients taking alternate kinds; each client's share still goes
    // over all three of its connections
    runAll(clients.map(c => () => {
      val g = new ReadGen(db, orderKeys, maxCust, new Random(seed * 31 + 7 + c.idx))
      (1 to 3).foreach(_ => c.commit())
      g.warmup.zipWithIndex.filter(_._2 % clients.size == c.idx).foreach { case (op, n) =>
        readOnce(c.readConn(n), c.pair, op, traced = false) }
    }))
    val readyS = ctx.sinceJvmStart
    ctx.log(f"ready after $readyS%.1f s (setup ${setup.map(s => f"$s%.2f").mkString(", ")})")

    // ---- measured window. Every client runs the same fixed interleave,
    // one commit then one read, and stops only after a whole pair. The
    // pooled operations are then half commits and half reads whatever
    // either kind costs, so a slower commit path moves the op_* metrics
    // as a slower read path does.
    val storage0 = usage(ctx, db)
    val cdc0 = StorageProbe.cdcBytes(ctx.warehouse)
    val cdcEvents0 = cdcEventCount(ctx)
    val codegen0 = CodegenProbe.compiles
    ctx.probe.awaitQuiet(2000)
    ctx.probe.reset()
    measuring = true
    val w0 = System.nanoTime()
    val deadline = w0 + ctx.args.seconds * 1000000000L
    runAll(clients.map(c => () => {
      val g = new ReadGen(db, orderKeys, maxCust, new Random(seed * 1000003 + c.idx), start = 7 * c.idx)
      var n = 0
      do {
        c.commit()
        readOnce(c.readConn(n), c.pair, g.next(), traced = ctx.args.trace && (n / 3) % 2 == 0)
        n += 1
      } while (System.nanoTime() < deadline)
    }))
    val windowS = ctx.secs(w0)
    measuring = false
    ctx.probe.awaitQuiet()

    // ---- end-of-run state and correctness
    val storage1 = usage(ctx, db)
    val cdc1 = StorageProbe.cdcBytes(ctx.warehouse)
    val commits = commitMs.size
    models.foreach { m =>
      ctx.attempted.incrementAndGet()
      val t = s"$db.${m.t.name}"
      spark.catalog.refreshTable(t)
      val got = Norm.fingerprint(spark.table(t).select(m.t.cols.map(col): _*)
        .collect().iterator.map(r => Norm.row(r.toSeq)))
      if (got != m.fingerprint) ctx.fail("final_state", s"$t: table $got != model ${m.fingerprint}")
    }
    // every read kind over every protocol, against the final state; each
    // client's connection of a protocol takes alternate kinds
    val finalReads = new ReadGen(db, models(0).sortedKeys, models(1).rows.keys.max,
      new Random(seed * 31 + 5)).warmup
    val checked = new ConcurrentLinkedQueue[ReadRec]()
    runAll(clients.flatMap(cl => Seq(cl.pg, cl.nat, cl.http).map(c => () =>
      finalReads.zipWithIndex.filter(_._2 % clients.size == cl.idx).foreach { case (op, _) =>
        ctx.attempted.incrementAndGet()
        try checked.add(ReadRec(op, c.proto, Norm.fingerprint(c.query(op.sql).iterator), 0.0, traced = false))
        catch { case NonFatal(e) => ctx.fail(s"result.${c.proto}.${op.kind}", s"${op.sql}: $e") }
      })))
    verifyReads(ctx, engine, models, checked.asScala.toSeq)
    val backlog = try engine.execute("SELECT coalesce(sum(lag), 0) FROM system.cdc_subscribers")
      .data.head.head.toString.toDouble catch { case NonFatal(_) => 0.0 }
    val cdcEvents = cdcEventCount(ctx) - cdcEvents0

    val engineDml = if (ctx.args.trace) engineDmlMs(ctx, ports("pgwire"), sent.asScala.toSeq)
                    else Map.empty[String, Double]
    val sdkOpen = clients.map(_.nat.sdk.stats.open).sum
    clients.foreach(_.close())
    running.stop()

    // ---- metrics
    val readMs = reads.asScala.map(_.ms).toSeq
    val cMs = commitMs.asScala.map(_._2).toSeq
    ctx.log("commit p50 by kind (ms): " + commitMs.asScala.toSeq.groupMap(_._1)(_._2).toSeq.sortBy(_._1)
      .map { case (k, v) => f"$k=${Stats.median(v)}%.0f/${v.size}" }.mkString(" "))
    ctx.log("read p50 by kind (ms): " + reads.asScala.toSeq.groupMap(r => s"${r.op.kind}.${r.proto}")(_.ms)
      .toSeq.sortBy(_._1).map { case (k, v) => f"$k=${Stats.median(v)}%.0f/${v.size}" }.mkString(" "))
    val usedBytes = storage1.values.map(_.total).sum + cdc1
    val loaded = models.map(_.loadedBytes).sum
    val detail = Seq(
      Stats.Metric("read_p50_ms", Stats.median(readMs), "ms"),
      Stats.Metric("read_p95_ms", Stats.quantile(readMs, 0.95), "ms"),
      Stats.Metric("read_ops_s", readMs.size / windowS, "1/s"),
      Stats.Metric("commit_p50_ms", Stats.median(cMs), "ms"),
      Stats.Metric("commit_p90_ms", Stats.quantile(cMs, 0.9), "ms"),
      Stats.Metric("commit_ops_s", cMs.size / windowS, "1/s"),
      Stats.Metric("ingest_rows_s", ingested.get / windowS, "rows/s"),
      Stats.Metric("bytes_per_user_byte", usedBytes.toDouble / (loaded + userBytes.get), "ratio"),
      Stats.Metric("fail_frac", ctx.failed.get.toDouble / math.max(1L, ctx.attempted.get), "ratio"))

    val samples = layer.asScala.toSeq.groupMap(_._1)(_._2)
    def med(n: String) = samples.get(n).map(Stats.median).getOrElse(0.0)
    val perCommit = (f: StorageProbe.Usage => Long) =>
      if (commits == 0) 0.0
      else (storage1.values.map(f).sum - storage0.values.map(f).sum).toDouble / commits
    val p = ctx.probe
    val layerOut = mutable.Map[String, Double]()
    layerOut ++= detail.map(m => m.name -> m.value)
    layerOut ++= samples.keys.filterNot(_.startsWith("spark.rows_")).map(n => n -> med(n))
    layerOut ++= Map(
      "sdk.conns_opened" -> sdkOpen.toDouble,
      "storage.data_bytes_per_commit" -> perCommit(_.dataBytes),
      "storage.data_files_per_commit" -> perCommit(_.dataFiles),
      "storage.log_bytes_per_commit" -> perCommit(_.logBytes),
      "storage.iceberg_bytes_per_commit" -> perCommit(_.icebergBytes),
      "storage.snapshot_bytes_per_commit" -> perCommit(_.snapshotBytes),
      "storage.cdc_bytes_per_commit" -> (if (commits == 0) 0.0 else (cdc1 - cdc0).toDouble / commits),
      "storage.live_files_per_table" -> Stats.mean(liveFiles(ctx, db)),
      "catalyst.codegen_compiles" -> (CodegenProbe.compiles - codegen0).toDouble,
      "catalyst.codegen_compile_ms" -> CodegenProbe.compileMs(codegen0),
      "spark.rows_examined_per_row" ->
        samples.getOrElse("spark.rows_in", Nil).sum / math.max(1.0, samples.getOrElse("spark.rows_out", Nil).sum),
      "streaming.cdc_events" -> cdcEvents.toDouble,
      "streaming.astha_backlog" -> backlog,
      "setup.ready_s" -> readyS) ++ sparkTotals(p, windowS, ctx.cores)
    if (ctx.args.trace) {
      layerOut("trace.overhead_ms") = traceOverhead(reads.asScala.map(r => (r.op.kind, r.ms, r.traced)).toSeq)
      layerOut ++= engineDml
    }

    Outcome(setup, cMs ++ readMs, windowS, layerOut.toMap, detail)
  }

  /** Runs each body on its own thread and waits for all of them. */
  private def runAll(bodies: Seq[() => Unit]): Unit = {
    val ts = bodies.zipWithIndex.map { case (b, i) => new Thread(() => b(), s"perfbench-client-$i") }
    ts.foreach(_.start())
    ts.foreach(_.join())
  }

  /** Window totals from the Spark listener. */
  def sparkTotals(p: SparkProbe, windowS: Double, cores: Int): Map[String, Double] = Map(
    "spark.jobs" -> p.jobs.get.toDouble, "spark.stages" -> p.stages.get.toDouble,
    "spark.tasks" -> p.tasks.get.toDouble,
    "spark.task_cpu_s" -> p.cpuNs.get / 1e9, "spark.task_run_s" -> p.runMs.get / 1e3,
    "spark.gc_s" -> p.gcMs.get / 1e3,
    "spark.shuffle_write_mb" -> p.shuffleWrite.get / 1048576.0,
    "spark.shuffle_read_mb" -> p.shuffleRead.get / 1048576.0,
    "spark.spill_mb" -> p.spill.get / 1048576.0, "spark.input_mb" -> p.inputBytes.get / 1048576.0,
    "spark.core_util" -> p.runMs.get / 1e3 / (windowS * cores))

  /** In a traced run each client traces every other operation (or
    * block of operations). The tracing overhead is, per operation kind,
    * the traced operations' median latency minus the untraced ones',
    * averaged with weights by the kind's count. */
  def traceOverhead(ops: Seq[(String, Double, Boolean)]): Double = {
    val perKind = ops.groupBy(_._1).values.toSeq.flatMap { xs =>
      val (on, off) = xs.partition(_._3)
      if (on.isEmpty || off.isEmpty) None
      else Some((Stats.median(on.map(_._2)) - Stats.median(off.map(_._2)), xs.size))
    }
    if (perKind.isEmpty) 0.0 else perKind.map(p => p._1 * p._2).sum / perKind.map(_._2).sum
  }

  /** Engine time per DML kind, from the server's own registry: the
    * median `elapsed_sec` of the window's statements in
    * `system.queries`, matched by text. */
  private def engineDmlMs(ctx: Ctx, pgPort: Int, sent: Seq[(String, String)]): Map[String, Double] = {
    val c = new PgConn(pgPort)
    val elapsed = try c.query("SELECT sql, elapsed_sec FROM system.queries WHERE status = 'Completed'")
      .map(_.split("\u0001", -1)).groupMap(_(0))(_(1).toDouble * 1e3)
      catch { case NonFatal(e) => ctx.fail("system.queries", e.toString); Map.empty[String, Seq[Double]] }
      finally c.close()
    sent.groupMap(_._1)(_._2).map { case (kind, sqls) =>
      s"engine.${if (kind == "batch") "batch_insert" else kind}_ms" ->
        Stats.median(sqls.flatMap(q => elapsed.getOrElse(q, Nil)))
    }
  }

  private def usage(ctx: Ctx, db: String): Map[String, StorageProbe.Usage] =
    Seq("orders", "customer").map(t => t -> StorageProbe.table(ctx.warehouse, db, t)).toMap

  private def liveFiles(ctx: Ctx, db: String): Seq[Double] =
    Seq("orders", "customer").map { t =>
      ctx.spark.catalog.refreshTable(s"$db.$t")
      ctx.spark.table(s"$db.$t").inputFiles.length.toDouble
    }

  private def cdcEventCount(ctx: Ctx): Long = {
    val d = new java.io.File(ctx.warehouse, ".graft-cdc")
    if (!d.exists()) 0L
    else {
      val s = java.nio.file.Files.walk(d.toPath)
      try s.iterator().asScala.count(p => java.nio.file.Files.isRegularFile(p)).toLong
      finally s.close()
    }
  }

  /** Read results against the final state: lookups and fetches against
    * the model, everything else against one in-process run of the same
    * text (spark.sql; the engine for system tables). */
  private def verifyReads(ctx: Ctx, engine: QueryEngine, models: Seq[Model],
                          reads: Seq[ReadRec]): Unit = {
    val Seq(orders, cust) = models
    val byName = cust.rows.values.map(r => r.split("\u0001", -1)(1) -> r).toMap
    lazy val sortedOrders = orders.sortedKeys
    val expected = mutable.HashMap[String, (Long, Long)]()
    reads.foreach { rec =>
      val want = rec.op.kind match {
        case "point" => Norm.fingerprint(orders.rows.get(rec.op.key).iterator)
        case "name" => Norm.fingerprint(byName.get(custName(rec.op.key)).iterator)
        case "fetch" => Norm.fingerprint(sortedOrders.slice(rec.op.key.toInt, rec.op.key.toInt + 1000)
          .iterator.map(orders.rows))
        case kind => expected.getOrElseUpdate(rec.op.sql,
          if (kind == "system") Norm.fingerprint(engine.execute(rec.op.sql).data.iterator.map(Norm.row))
          else Norm.fingerprint(ctx.spark.sql(rec.op.sql).collect().iterator.map(r => Norm.row(r.toSeq))))
      }
      if (want != rec.fp) ctx.fail(s"result.${rec.proto}.${rec.op.kind}",
        s"${rec.op.sql}: got ${rec.fp}, want $want")
    }
  }
}
