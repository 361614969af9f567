package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      data: String, work: String, commit: String, record: Option[String])

/** What a workload hands back: its set-up samples, the latencies of
  * its primary operations inside the measured window, and per-layer
  * values (traced runs) and workload detail metrics (all runs). */
final case class Outcome(setupSamples: Seq[Double], opMs: Seq[Double], windowS: Double,
                         layer: Map[String, Double], detail: Seq[Stats.Metric])

/** Shared state of one benchmark process. */
final class Ctx(val args: Args, val spark: SparkSession, val tracer: Tracer,
                val probe: SparkProbe, val cores: Int) {
  val warehouse: String = {
    val w = spark.conf.get("spark.sql.warehouse.dir")
    if (w.startsWith("file:")) new java.io.File(new java.net.URI(w)).getPath else w
  }
  val attempted = new AtomicLong
  val failed = new AtomicLong
  private val failures = TrieMap[String, Int]()

  /** Counts one failed or wrong operation, logging the first few of
    * each kind to stderr. */
  def fail(kind: String, msg: String): Unit = {
    failed.incrementAndGet()
    val n = failures.updateWith(kind)(c => Some(c.getOrElse(0) + 1)).get
    if (n <= 3) System.err.println(s"[perfbench] FAIL $kind: ${msg.take(400)}")
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Seconds from JVM start to now: the process's time to ready. */
  def sinceJvmStart: Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
}

object Main {
  val Workloads = Seq("suite", "serve_write")

  /** Closed-loop clients per workload. With more, statements queue
    * behind each other on the cores, and latency tracks the host's
    * other load more than the engine. */
  val Clients = 2

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val nproc = Runtime.getRuntime.availableProcessors
    val w = need("workload")
    require(Clients <= nproc, s"refusing $Clients client threads on $nproc cores (more than nproc)")
    require(Workloads.contains(w) || m.contains("record"),
      s"unknown workload '$w' (expected one of ${Workloads.mkString(", ")})")
    Args(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("data"), need("work"), m.getOrElse("commit", "unknown"), m.get("record"))
  }

  def session(args: Args, cores: Int): SparkSession = {
    val work = new java.io.File(args.work).getAbsoluteFile
    val s = graft.SparkTuning.tuned(SparkSession.builder())
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").toString)
      .config("spark.local.dir", new java.io.File(work, "spark-local").toString)
      .config("spark.graft.server.host", "127.0.0.1")
      .config("spark.graft.server.http.port", "0")
      .config("spark.graft.server.pgwire.port", "0")
      .config("spark.graft.server.native.port", "0")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val code = try run(argv) catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] aborted: $e")
        e.printStackTrace()
        1
    }
    System.out.flush()
    Runtime.getRuntime.halt(code)
  }

  private def run(argv: Array[String]): Int = {
    val args = parse(argv)
    val loadStart = JvmProbe.loadAvg
    val nproc = Runtime.getRuntime.availableProcessors
    val spark = session(args, nproc)
    val master = spark.sparkContext.master
    val masterCores = """local\[(\d+)""".r.findFirstMatchIn(master).map(_.group(1).toInt)
      .getOrElse(sys.error(s"cannot read a core count from master '$master'"))
    val probe = new SparkProbe
    spark.sparkContext.addSparkListener(probe)
    val ctx = new Ctx(args, spark, new Tracer(args.trace), probe, masterCores)

    args.record match {
      case Some(out) => Suite.record(ctx, out); return 0
      case None =>
    }
    val gc0 = JvmProbe.gcSeconds
    val outcome = args.workload match {
      case "suite" => Suite.run(ctx)
      case "serve_write" => Serve.run(ctx)
    }
    val readyS = outcome.layer.getOrElse("setup.ready_s", 0.0)
    val jvm = Map(
      "jvm.gc_s" -> (JvmProbe.gcSeconds - gc0),
      "jvm.heap_after_gc_mb" -> JvmProbe.heapAfterGcMb,
      "jvm.threads_peak" -> JvmProbe.threadsPeak)

    val opMs = outcome.opMs
    val e2eValues = Map(
      "setup_s" -> Stats.median(outcome.setupSamples),
      "peak_rss_mb" -> JvmProbe.peakRssMb,
      "op_mean_ms" -> Stats.mean(opMs),
      "op_p75_ms" -> Stats.quantile(opMs, 0.75),
      "op_geomean_ms" -> Stats.geomean(opMs),
      "ops_s" -> opMs.size / outcome.windowS)
    val e2e = Catalog.endToEnd.map { case (n, u) => Stats.Metric(n, e2eValues(n), u) }
    val layer = outcome.layer ++ jvm
    val metrics =
      if (args.trace) Catalog.perLayer.map { case (n, u) =>
        Stats.Metric(n, Stats.finite(layer.getOrElse(n, 0.0)), u) }
      else e2e

    val host = Seq(
      "nproc" -> nproc.toString,
      "master" -> Stats.jsonStr(master),
      "master_cores" -> masterCores.toString,
      "clients" -> Clients.toString,
      "loadavg_1m_start" -> Stats.jsonNum(loadStart),
      "loadavg_1m_end" -> Stats.jsonNum(JvmProbe.loadAvg),
      "jvm_heap_flags" -> JvmProbe.heapFlags.map(Stats.jsonStr).mkString("[", ",", "]"),
      "git_commit" -> Stats.jsonStr(args.commit),
      "seed" -> args.seed.toString,
      "ready_s" -> Stats.jsonNum(readyS),
      "setup_samples_s" -> outcome.setupSamples.map(Stats.jsonNum).mkString("[", ",", "]"),
      "ops" -> opMs.size.toString)
    println("{\"host\": {" + host.map { case (k, v) => s"${Stats.jsonStr(k)}: $v" }.mkString(", ") + "}}")
    val detail = outcome.detail ++ e2e
    println("{\"detail\": {" + detail.map(m =>
      s"${Stats.jsonStr(m.name)}: {\"value\": ${Stats.jsonNum(m.value)}, \"unit\": ${Stats.jsonStr(m.unit)}}")
      .mkString(", ") + "}}")
    if (args.trace) {
      val self = ctx.tracer.selfSeconds.toSeq.sortBy(_._1)
      ctx.log("layer self time (s): " + self.map { case (l, s) => f"$l=$s%.3f" }.mkString(" "))
      ctx.tracer.write(java.nio.file.Paths.get(args.work, "trace",
        s"spans-${args.workload}-${args.seed}.jsonl"))
    }
    println(Stats.resultLine(ctx.failed.get == 0, math.max(1L, ctx.attempted.get),
      ctx.failed.get, metrics))
    // main halts the JVM next; stopping Spark first would only add
    // seconds, as the runner deletes the run's directory
    0
  }
}
