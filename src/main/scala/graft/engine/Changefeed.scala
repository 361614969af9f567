package graft.engine

import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import graft.Json

/** Durable CDC changefeed — the registry side of the reference's
  * "Astha" subsystem (server/astha/README.md architecture diagram;
  * cdc_consumer.go polls a SQLite `__cdc_log` table populated by
  * triggers; event_store.go buffers events for distribution).
  *
  * Spark-first re-expression: there is no SQLite registry to put
  * triggers on — catalog mutations flow through [[QueryEngine]], so
  * the engine itself appends one small JSON file per event under
  * `<warehouse>/.graft-cdc/`. That file-per-event layout is chosen
  * deliberately:
  *   - appends are atomic at file granularity (write temp + rename),
  *     so a concurrent reader never sees a torn event;
  *   - Structured Streaming's file source tails NEW FILES natively —
  *     `Changefeed.readStream` is a zero-custom-code streaming view
  *     of the registry, the analog of subscribing to Astha;
  *   - metadata-rate traffic (DDL/DML statements, not rows) keeps the
  *     directory small, and processed events are deleted by the
  *     scheduler's cleanup exactly like the reference's "immediate
  *     cleanup for processed events".
  *
  * Event shape mirrors astha/types.go Event[T]: id, table (registry
  * table name: "tables", "databases", "table_files"), operation
  * (INSERT/UPDATE/DELETE), data payload, timestamp.
  */
object Changefeed {

  final case class CdcEvent(id: Long, table: String, operation: String,
                            data: Map[String, String], timestampMs: Long)

  /** Registry tables the reference's CDC covers (astha/README.md
    * component example switches on "tables" / "table_files"). */
  val TableTables = "tables"
  val TableDatabases = "databases"
  val TableFiles = "table_files"

  def enabled(spark: SparkSession): Boolean =
    spark.conf.getOption("spark.graft.cdc.enabled").forall(v => v.trim.toBooleanOption.getOrElse(true))

  def dir(spark: SparkSession): Path =
    new Path(new Path(spark.conf.get("spark.sql.warehouse.dir")), ".graft-cdc")

  /** The cdc dir's filesystem, UNWRAPPED from ChecksumFileSystem on
    * local warehouses: events are tiny rename-published JSON files,
    * and the checksum layer's two-file rename (data + .crc) is the
    * one non-atomic step in the pipeline — under a cross-process id
    * collision it interleaves into a visible event whose data and
    * checksum come from different writers (ChecksumException in every
    * reader). Raw local rename is a single atomic POSIX rename. Old
    * .crc sidecars written before this change are simply never read
    * again (readers tolerate their absence). Non-checksum filesystems
    * (HDFS, object stores) pass through unchanged. */
  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf()) match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }

  // one id sequence per warehouse; initialized from max(log max id,
  // durable _seq high-water mark) so a restarted server continues the
  // sequence even after cleanup emptied the log (the reference gets
  // this from SQLite AUTOINCREMENT, which never reuses ids). Without
  // the _seq file, a restart after cleanup would re-derive the
  // sequence below previously-issued ids, and reused evt-N.json names
  // would be silently skipped by the streaming file source and by any
  // consumer persisting a sinceId cursor.
  private val sequences = new ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()

  private def nextId(spark: SparkSession, fs: FileSystem, d: Path): Long =
    sequences.computeIfAbsent(d.toString, _ => {
      new java.util.concurrent.atomic.AtomicLong(
        math.max(logMaxId(fs, d), readSeq(fs, d)))
    }).incrementAndGet()

  /** Drop the in-memory sequence cache — specs use this to simulate a
    * process restart (the next emit re-derives the sequence from the
    * log + the durable _seq high-water mark). */
  private[graft] def resetSequences(): Unit = sequences.clear()

  private val EventFileRe = """evt-(\d+)\.json""".r
  private val ClaimFileRe = """\.claim-(\d+)""".r
  private val SeqFileName = "_seq"

  private def claimPath(d: Path, id: Long): Path =
    new Path(d, f".claim-$id%016d")

  /** Atomically claim exclusive ownership of `p` (create-if-absent,
    * returns false when another claimant got there first).
    *
    * RawLocalFileSystem's create(overwrite=false) is CHECK-THEN-ACT
    * (exists() + FileOutputStream, no O_EXCL) — two processes can both
    * pass the exists check and both "win" — so local paths go through
    * java.io.File.createNewFile, which the JDK implements with O_EXCL
    * at the syscall: exactly one caller across all processes gets
    * true. Non-local filesystems use create(overwrite=false), which
    * HDFS/object stores enforce atomically at the namenode/store. A
    * real I/O error (as opposed to losing the race) propagates. */
  private def claimId(fs: FileSystem, p: Path): Boolean = fs match {
    case _: org.apache.hadoop.fs.RawLocalFileSystem =>
      new java.io.File(p.toUri.getPath).createNewFile()
    case _ =>
      try { fs.create(p, false).close(); true }
      catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
  }

  private def logMaxId(fs: FileSystem, d: Path): Long =
    if (!fs.exists(d)) 0L
    else fs.listStatus(d).iterator.map(_.getPath.getName)
      .collect { case EventFileRe(id) => id.toLong }
      .foldLeft(0L)(math.max)

  /** Read a small control/event file fully, ALWAYS closing the stream
    * (readFullyToByteArray reads to EOF but does not close — unclosed,
    * every poll leaks an fd). A file that vanished between
    * list/exists and open — a concurrent [[cleanup]]/[[retain]] (on a
    * cluster, another driver's) winning the race — maps to None: a
    * deleted event IS the post-cleanup state, and readers never fail
    * because an expirer got there first (same contract as
    * [[Snapshots]] manifest reads). On a distributed FS the deletion
    * can also land MID-read (open succeeded, blocks then invalidated
    * → an IOException that is not FileNotFound), so a generic read
    * failure maps to None iff the file is gone afterwards; if it
    * still exists the error was real and propagates. */
  private def readUtf8(fs: FileSystem, p: Path): Option[String] =
    try {
      val in = fs.open(p)
      try Some(new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8"))
      finally in.close()
    } catch {
      case _: java.io.FileNotFoundException => None
      case e: java.io.IOException => if (!fs.exists(p)) None else throw e
    }

  private def readSeq(fs: FileSystem, d: Path): Long =
    readUtf8(fs, new Path(d, SeqFileName))
      .flatMap(s => scala.util.Try(s.trim.toLong).toOption)
      .getOrElse(0L)

  /** Persist the high-water mark if `id` advances it (atomic
    * temp+rename; monotonic — never written backwards). Called before
    * cleanup deletes files so issued ids stay durable across restarts. */
  private def advanceSeq(fs: FileSystem, d: Path, id: Long): Unit = {
    if (id <= readSeq(fs, d)) return
    val tmp = new Path(d, s".$SeqFileName.tmp")
    val out = fs.create(tmp, true)
    out.write(id.toString.getBytes("UTF-8"))
    out.close()
    fs.delete(new Path(d, SeqFileName), false)
    fs.rename(tmp, new Path(d, SeqFileName))
  }

  /** Append one event to the log. Called by [[QueryEngine]] after each
    * successful catalog/data mutation; also invalidates the
    * system-tables metadata cache for the touched identifier (the
    * reference's schema cache learns of changes the same way —
    * storage/schema/astha_subscriber.go consumes these events). */
  def emit(spark: SparkSession, table: String, operation: String,
           data: Map[String, String]): Long = {
    if (!enabled(spark)) return -1L
    val d = dir(spark)
    val fs = fsOf(spark, d)
    if (!fs.exists(d)) fs.mkdirs(d)
    // CROSS-PROCESS id claim (rounds 15-16): each process seeds its
    // in-memory sequence from the log's max id, so two engine
    // processes sharing a warehouse (the 2-JVM soak/coherence shape)
    // can draw the SAME id. Round 15 made a collision non-CORRUPTING
    // ([[fsOf]] runs cdc I/O through the raw filesystem — one rename =
    // one atomic POSIX file op) but a colliding rename onto one target
    // still silently REPLACED the first writer's already-visible event
    // (the loser "wins" and the winner's acked event vanishes) —
    // at-least-once delivery broken for whoever consumed the original.
    // Round 16 closes it: an id is OWNED before anything is published
    // under it, via an atomic exclusive create of a hidden
    // `.claim-<id>` marker ([[claimId]]; O_EXCL locally). The dst
    // re-check after a won claim covers the one legal interleaving
    // left: the prior owner published evt-<id> and dropped its marker
    // between our exists() probe and our claim. Once claimed, no other
    // process can rename onto this dst — publish is collision-free and
    // NO acked event is ever lost or replaced (ChangefeedLossSpec
    // hammers this from two JVMs and diffs acks against the log).
    var id = nextId(spark, fs, d)
    var dst = new Path(d, f"evt-$id%016d.json")
    var owned = false
    while (!owned) {
      if (!fs.exists(dst) && claimId(fs, claimPath(d, id))) {
        if (fs.exists(dst)) fs.delete(claimPath(d, id), false) // stale win
        else owned = true
      }
      if (!owned) {
        id = nextId(spark, fs, d)
        dst = new Path(d, f"evt-$id%016d.json")
      }
    }
    val json = Json.obj(
      "id" -> id.toString,
      "table" -> Json.str(table),
      "operation" -> Json.str(operation),
      "data" -> Json.obj(data.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> Json.str(v) }: _*),
      "timestamp_ms" -> System.currentTimeMillis().toString)
    // temp + rename: the streaming file source and the poller must
    // never observe a half-written event. The tmp name carries a
    // uuid so colliding claimants never share a tmp either.
    // Bounded retry around the create+write: Hadoop's RawLocalFileSystem
    // SHELLS OUT to chmod inside create() (Shell.run via setPermission),
    // and under fork pressure (several writer JVMs + host load) that
    // exec can transiently fail — observed killing a soak writer
    // mid-run. A transient fs hiccup must not fail the DML that
    // already committed; durability semantics are preserved because
    // the LAST attempt still throws.
    val tmp = new Path(d,
      s".evt-$id.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    try {
      createWithRetry(fs, tmp, json.getBytes("UTF-8"))
      if (!fs.rename(tmp, dst))
        throw new java.io.IOException(
          s"changefeed emit could not publish $dst (rename returned false)")
    } finally {
      // drop the claim marker whether publish succeeded (the event file
      // itself now excludes the id) or failed (the id becomes claimable
      // again instead of orphaned); a crash inside the try leaves a
      // stale marker that [[cleanup]] sweeps by age.
      try fs.delete(claimPath(d, id), false)
      catch { case _: java.io.IOException => () }
    }
    id
  }

  /** Bounded-retry atomic-ish file write (the changefeed emit's
    * create+write, factored out so the retry contract is directly
    * fault-injectable — ChangefeedRetrySpec drives it with a failing
    * FileSystem). Retries transient IOExceptions up to 3 attempts;
    * the LAST attempt still throws (durability semantics preserved).
    *
    * Never retries a cancellation: a cancelled statement's interrupt
    * can surface either as the thread's interrupt flag OR as a typed
    * exception with the flag already CLEARED (Hadoop code commonly
    * catches InterruptedException and rethrows InterruptedIOException
    * without re-interrupting) — both forms are excluded.
    * SocketTimeoutException extends InterruptedIOException but is a
    * genuine transient (matters only if a remote FS is ever wired
    * in), so it stays retryable. */
  private[graft] def createWithRetry(fs: FileSystem, tmp: Path,
                                     bytes: Array[Byte]): Unit = {
    def isCancellation(e: java.io.IOException): Boolean = e match {
      case _: java.net.SocketTimeoutException => false
      case _: java.io.InterruptedIOException => true
      case _: java.nio.channels.ClosedByInterruptException => true
      case _ => Thread.currentThread().isInterrupted
    }
    var attempt = 0
    var done = false
    while (!done) {
      attempt += 1
      try {
        val out = fs.create(tmp, true)
        try {
          out.write(bytes)
          out.close() // close failure after a clean write is still a failed attempt
          done = true
        } finally {
          // a write/close failure mid-attempt must not leak the stream's
          // fd before the retry re-creates the same path; the secondary
          // close failure is ignored so it can't mask the primary exception
          if (!done) { try out.close() catch { case _: java.io.IOException => () } }
        }
      } catch {
        case e: java.io.IOException
            if attempt < 3 && !isCancellation(e) =>
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"changefeed emit attempt $attempt failed (${e.getMessage}); retrying")
          Thread.sleep(50L * attempt)
      }
    }
  }

  // --------------------------------------------------------------- read

  /** One event file's JSON; None when it is not a whole event. */
  private def parse(txt: String): Option[CdcEvent] =
    Json.parse(txt).flatMap { n =>
      import scala.jdk.CollectionConverters._
      for {
        id <- Json.long(n, "/id")
        tb <- Json.text(n, "/table")
        op <- Json.text(n, "/operation")
        ts <- Json.long(n, "/timestamp_ms")
      } yield CdcEvent(id, tb, op,
        Option(n.get("data")).toSeq.flatMap(_.properties().asScala)
          .map(e => e.getKey -> e.getValue.asText).toMap,
        ts)
    }

  /** Events with id > sinceId, oldest first, at most `limit` — the
    * poller's read (cdc_consumer.go GetEvents, batch-bounded).
    * Driver-side: the log is metadata-rate, never data-scale. */
  def events(spark: SparkSession, sinceId: Long = 0L,
             limit: Int = 256): Seq[CdcEvent] = {
    val d = dir(spark)
    val fs = fsOf(spark, d)
    if (!fs.exists(d)) return Seq.empty
    fs.listStatus(d).iterator
      .flatMap(st => st.getPath.getName match {
        case EventFileRe(id) if id.toLong > sinceId => Some((id.toLong, st.getPath))
        case _ => None
      })
      .toSeq.sortBy(_._1).take(limit)
      .flatMap { case (_, p) =>
        readUtf8(fs, p).flatMap(parse)
      }
  }

  /** Highest id ever issued (0 when none): max of the surviving log
    * and the durable _seq high-water mark. */
  def maxId(spark: SparkSession): Long = {
    val d = dir(spark)
    val fs = fsOf(spark, d)
    if (!fs.exists(d)) return 0L
    math.max(logMaxId(fs, d), readSeq(fs, d))
  }

  /** One (id, path) entry per event file, oldest first — ONE directory
    * listing the caller can slice per consumer ([[graft.streaming.AsthaScheduler]]
    * reads it once per round and serves every component's window from
    * it). */
  def index(spark: SparkSession): Seq[(Long, Path)] = {
    val d = dir(spark)
    val fs = fsOf(spark, d)
    if (!fs.exists(d)) return Seq.empty
    fs.listStatus(d).iterator.flatMap(st => st.getPath.getName match {
      case EventFileRe(id) => Some((id.toLong, st.getPath))
      case _ => None
    }).toSeq.sortBy(_._1)
  }

  /** Read + parse one event file from [[index]]; None if it was
    * cleaned up since the listing. */
  def read(spark: SparkSession, p: Path): Option[CdcEvent] =
    readUtf8(fsOf(spark, p), p).flatMap(parse)

  /** Delete events with id <= upToId — the scheduler's "immediate
    * cleanup for processed events" (astha/README.md). The high-water
    * mark is persisted BEFORE any file is deleted, so ids are never
    * reissued after a restart. */
  def cleanup(spark: SparkSession, upToId: Long): Int = {
    val d = dir(spark)
    val fs = fsOf(spark, d)
    if (!fs.exists(d)) return 0
    val listing = fs.listStatus(d)
    val doomed = listing.iterator.flatMap(st =>
      st.getPath.getName match {
        case EventFileRe(id) if id.toLong <= upToId => Some((id.toLong, st.getPath))
        case _ => None
      }).toSeq
    // sweep claim markers orphaned by a crash between claim and
    // publish — by AGE, never by id: an in-flight claim's id can be
    // below a faster writer's already-cleaned ids, and deleting a live
    // marker would re-open the very collision the claim closes. 60 s
    // dwarfs the claim→publish window (microseconds) by 7+ orders.
    val staleBefore = System.currentTimeMillis() - 60000L
    listing.iterator.foreach { st =>
      st.getPath.getName match {
        case ClaimFileRe(_) if st.getModificationTime < staleBefore =>
          try fs.delete(st.getPath, false)
          catch { case _: java.io.IOException => () }
        case _ => ()
      }
    }
    if (doomed.isEmpty) return 0
    advanceSeq(fs, d, doomed.map(_._1).max)
    doomed.foreach { case (_, p) => fs.delete(p, false) }
    doomed.length
  }

  /** Retention sweep independent of subscriber progress: keep at most
    * `maxEvents` events and nothing older than `maxAgeMs` (either
    * bound <= 0 disables it). A long-running server with no (or a
    * stalled) scheduler would otherwise grow `.graft-cdc/` without
    * bound and `system.cdc_log` would slow down forever —
    * [[graft.server.GraftServer]] runs this on a timer. Returns the
    * number of events removed. */
  def retain(spark: SparkSession, maxEvents: Int, maxAgeMs: Long): Int = {
    val d = dir(spark)
    val fs = fsOf(spark, d)
    if (!fs.exists(d)) return 0
    val entries = fs.listStatus(d).iterator.flatMap(st =>
      st.getPath.getName match {
        case EventFileRe(id) => Some((id.toLong, st.getModificationTime))
        case _ => None
      }).toSeq.sortBy(_._1)
    val now = System.currentTimeMillis()
    val byCount =
      if (maxEvents > 0 && entries.length > maxEvents)
        entries(entries.length - maxEvents - 1)._1 else 0L
    val byAge =
      if (maxAgeMs > 0)
        entries.filter(_._2 < now - maxAgeMs).map(_._1).foldLeft(0L)(math.max)
      else 0L
    val floor = math.max(byCount, byAge)
    if (floor <= 0) 0 else cleanup(spark, floor)
  }

  val schema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("table", StringType),
    StructField("operation", StringType),
    StructField("data", MapType(StringType, StringType)),
    StructField("timestamp_ms", LongType)))

  /** The changefeed as a Structured Streaming source: every new
    * registry event arrives as a row. This is the Spark-native way to
    * "subscribe" at data scale — watermark/window/join it like any
    * stream; the [[graft.streaming.AsthaScheduler]] callback path
    * exists for driver-side components (cache invalidation). */
  def readStream(spark: SparkSession): DataFrame = {
    val d = dir(spark)
    val fs = fsOf(spark, d)
    if (!fs.exists(d)) fs.mkdirs(d)
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 256) // reference batch size
      .json(d.toString)
  }

  /** Batch view of the current log for `system.cdc_log`. */
  def view(spark: SparkSession): DataFrame = {
    val rows = events(spark, 0L, Int.MaxValue).map(e =>
      Row(e.id, e.table, e.operation,
        e.data.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(","),
        new java.sql.Timestamp(e.timestampMs)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("event_id", LongType),
        StructField("table_name", StringType),
        StructField("operation", StringType),
        StructField("data", StringType),
        StructField("created_at", TimestampType))))
  }
}
