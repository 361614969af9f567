package graft.engine

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Query lifecycle registry, mirroring the reference's ExecutionManager
  * (/root/reference/server/query/execution_manager.go:13-245): IDs,
  * pending→running→completed/cancelled/failed status, cancellation,
  * aggregate stats. Cancellation maps to Spark job groups — every query
  * runs under its query ID as job group, and cancel() interrupts all
  * its running stages cluster-wide. */
final class ExecutionManager(spark: SparkSession) {

  sealed trait Status
  case object Pending extends Status
  case object Running extends Status
  case object Completed extends Status
  case object Cancelled extends Status
  case object Failed extends Status

  final case class QueryInfo(
      id: String,
      sql: String,
      var status: Status,
      startNanos: Long,
      var endNanos: Long = -1L,
      var error: Option[String] = None) {
    def elapsedSec: Double =
      ((if (endNanos > 0) endNanos else System.nanoTime()) - startNanos) / 1e9
  }

  private val seq = new AtomicLong()
  private val queries = new ConcurrentHashMap[String, QueryInfo]()
  /** Finished ids, oldest first: the registry keeps every pending or
    * running statement but only the [[ExecutionManager.KeepFinished]]
    * most recently finished ones, so a long-running server's registry
    * (and `system.queries`, `/status`) stays bounded. */
  private val finished = new java.util.ArrayDeque[String]()

  /** Watchdog for the per-query timeout (reference default 300 s,
    * duckdb/engine.go:355-360; override with
    * spark.graft.query.timeout.sec, <= 0 disables). */
  private val watchdog =
    java.util.concurrent.Executors.newSingleThreadScheduledExecutor { r =>
      val t = new Thread(r, "graft-query-timeout"); t.setDaemon(true); t
    }

  private def timeoutSec: Long =
    spark.conf.getOption("spark.graft.query.timeout.sec")
      .map(_.toLong).getOrElse(300L)

  /** query_<nanos> scheme as in engine.go:89-105 (+ a counter so two
    * queries in the same nanosecond cannot collide). */
  def register(sql: String): QueryInfo = {
    val id = s"query_${System.nanoTime()}_${seq.incrementAndGet()}"
    val info = QueryInfo(id, sql, Pending, System.nanoTime())
    queries.put(id, info)
    info
  }

  /** Run `body` under the query's job group so cancel() can reach it;
    * a watchdog cancels the group when the timeout elapses. */
  def run[T](info: QueryInfo)(body: => T): T = {
    info.status = Running
    spark.sparkContext.setJobGroup(info.id, info.sql.take(200),
      interruptOnCancel = true)
    // BOUNDED FAIR pool set: under spark.scheduler.mode=FAIR (set by
    // GraftServer) a long scan cannot starve concurrent short queries —
    // each pool gets an equal task-slot share. Queries hash onto
    // `spark.graft.scheduler.pools.count` pools (default 8) instead of
    // getting a pool each: Spark never removes a pool from the root,
    // so per-query pools grow the scheduler state forever in a
    // long-running server (and warn once per query). A session can pin
    // itself to a named pool with spark.graft.scheduler.pool (the
    // allocation-file weights then apply). A no-op under FIFO.
    val pool = spark.conf.getOption("spark.graft.scheduler.pool")
      .getOrElse {
        val n = spark.conf.getOption("spark.graft.scheduler.pools.count")
          .map(_.toInt).getOrElse(8)
        s"graft-${math.floorMod(info.id.hashCode, math.max(n, 1))}"
      }
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", pool)
    val tmo = timeoutSec
    val timer =
      if (tmo > 0)
        Some(watchdog.schedule(new Runnable {
          def run(): Unit =
            if (cancel(info.id))
              info.error = Some(s"query timed out after ${tmo}s")
        }, tmo, java.util.concurrent.TimeUnit.SECONDS))
      else None
    try {
      val r = body
      // a cancel that raced with completion must not be overwritten
      if (info.status != Cancelled) info.status = Completed
      r
    } catch {
      case e: Throwable =>
        info.status = if (info.status == Cancelled) Cancelled else Failed
        if (info.error.isEmpty) info.error = Some(e.getMessage)
        throw e
    } finally {
      timer.foreach(_.cancel(false))
      info.endNanos = System.nanoTime()
      finished.synchronized {
        finished.addLast(info.id)
        while (finished.size > ExecutionManager.KeepFinished)
          queries.remove(finished.pollFirst())
      }
      spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
      spark.sparkContext.clearJobGroup()
    }
  }

  def cancel(id: String): Boolean = Option(queries.get(id)) match {
    case Some(info) if info.status == Running || info.status == Pending =>
      info.status = Cancelled
      // AndFutureJobs: a cancel issued while the query is still in
      // driver-side planning must also kill the jobs it is about to
      // submit, not just the currently active ones
      spark.sparkContext.cancelJobGroupAndFutureJobs(id)
      true
    case _ => false
  }

  def get(id: String): Option[QueryInfo] = Option(queries.get(id))

  def list(): Seq[QueryInfo] =
    queries.values.asScala.toSeq.sortBy(_.startNanos)

  /** Per-status counts over the retained entries; `total` counts
    * every statement registered since start. */
  def stats(): Map[String, Long] =
    list().groupBy(_.status.toString.toLowerCase)
      .map { case (k, v) => k -> v.size.toLong }
      .withDefaultValue(0L) + ("total" -> seq.get())
}

object ExecutionManager {
  /** Finished statements the registry retains. */
  val KeepFinished = 1000
}
