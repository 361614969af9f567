package graft.engine

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.{BlockMetaData, ColumnChunkMetaData}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{Decimal, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.ByteArray
import org.apache.spark.util.SerializableConfiguration
import org.apache.spark.util.sketch.BloomFilter
import graft.functions.expressions.BloomAgg
import scala.jdk.CollectionConverters._

/** Per-table OUT-OF-PROCESS atomic commits, in the Iceberg commit
  * shape (the reference writes Iceberg v2 metadata the same way,
  * server/storage/storage.go:749-787): a
  * version-numbered MANIFEST of the table's live data files, committed
  * by ATOMIC RENAME of the next version file, so a reader in ANY
  * process resolves one consistent listing without holding any lock.
  * Every parquet table the engine commits to keeps this log — a table
  * created outside the engine gets it at the engine's first commit —
  * and every reader resolves a table through its manifest whenever the
  * log holds one.
  *
  * Layout, under `<tableLocation>/_graft_log/` (a `_`-prefixed dir —
  * invisible to Spark's own file listings):
  *   v<version>.manifest   one per commit; the commit point IS the
  *                         exclusive publish onto this name — link(2)
  *                         on the local FS, rename + stamp readback
  *                         elsewhere (see [[commitManifest]]) — so an
  *                         existing destination means a detected
  *                         concurrent commit
  *   s<id>.snapshot        a snapshot record pinning one version
  *                         ([[Snapshots]]); it keeps that version's
  *                         files on disk until the record expires
  *   bloom/<md5(rel)>/<col>  one immutable Spark `BloomFilter` per
  *                         (data file, bloom column); in a subdirectory,
  *                         so the version listing does not grow
  *
  * Manifest format (line-based, URL-encoded rel paths and column
  * names — partition dirs can carry any character):
  *   version <tab> N
  *   stamp <tab> uuid
  *   file <tab> <rel> <tab> bytes <tab> rows [<tab> <col>=<bounds>]...
  *        [<tab> ~bloom=<col>[,<col>]...] live data file and its stats
  *   retired <tab> <rel> <tab> v <tab> ms replaced file, kept IN PLACE
  *   gc <tab> N                           GC watermark (absent = 0)
  * `<bounds>` is `n,<lo>,<hi>` (numeric column, doubles), `s,<lo>,<hi>`
  * (string column, hex of the raw UTF-8 bytes) or `-` (the footer
  * proves nothing for the column). Bounds cover exactly the columns of
  * the table's `zonemap` indexes — the Iceberg manifest-entry shape
  * (record_count, file_size_in_bytes, lower/upper_bounds). `~bloom=`
  * names the columns with a filter sidecar (`~` is URL-encoded in a
  * column name). A file line of an older build (`file <tab> <rel>`)
  * parses as an entry without stats, which the next publish fills in.
  *
  * The GC watermark is the highest `Retired.version` whose file any
  * publish has deleted, carried forward and never lowered: a version
  * at or below it may list a file that is gone. The Iceberg mirror
  * drops its snapshots up to it ([[IcebergMetadata]]), so an external
  * reader never resolves a snapshot whose data was collected.
  *
  * Per-file stats have ONE writer: [[publish]] takes the byte size
  * from the table walk it already does, and the row count and bounds
  * from one driver-side parquet footer read ([[footerStats]], no Spark
  * job) of each file that has no entry yet. Entries carried forward
  * keep their stats, so a commit reads only the files it added. When
  * the file set is unchanged but entries lack bounds for a newly
  * indexed column (CREATE INDEX), the current manifest is replaced in
  * place with the same version, stamp and file set plus the backfilled
  * stats (local FS only, where the replace is one atomic rename; other
  * stores get them at the next commit). The bounds thus publish
  * atomically with the commit that made the file live, so no reader in
  * any process sees a file without its evidence.
  *
  * Bloom filters have the same one writer: publish builds them for the
  * files whose entry marks none (the commit's added files, or every
  * file after CREATE INDEX) and writes each sidecar before the manifest
  * that marks it ([[buildBlooms]]). GC deletes a retired file's
  * sidecars with the file.
  *
  * Retirement is what makes cross-process reads race-free: a
  * copy-on-write commit does NOT delete the files it replaced — they
  * stay at their paths, invisible to manifest readers, until a later
  * commit garbage-collects entries older than the grace window
  * (spark.graft.commitlog.graceMs, default 300 000) that no snapshot
  * record pins. A reader that resolved version N can therefore finish
  * its statement against N's files even while N+1 commits — snapshot
  * isolation per statement, no FNF, no lock. The filter side lives in
  * [[graft.plans.CommitLogRule]].
  *
  * Writer-writer COMMIT conflicts across processes are DETECTED (the
  * loser's exclusive publish fails and retries over the merged
  * listing, bounded), but concurrent cross-process DML on ONE table
  * is outside the contract for a reason beyond the version race:
  * publish derives liveness from a DISK LISTING, so a peer writer's
  * in-flight replacement file (visible on disk before the peer's
  * retirements publish) lists as live alongside the file it replaces
  * — a reader can transiently see the replaced rows twice (observed
  * in the 4-writer soak; self-heals at the peer's publish). Fixing
  * that requires Iceberg-style metadata-tree commits where a file
  * becomes visible ONLY via its committing snapshot, never by
  * listing. Single-writer-per-table across processes therefore
  * remains the deployment contract, as in the reference's one-server
  * model; any number of processes may write DISJOINT tables.
  *
  * Every statement that rewrites data — UPDATE, DELETE, MERGE,
  * OPTIMIZE, RESTORE and ALTER's column rewrite — commits file-level:
  * the files it replaces retire in place and it publishes one version,
  * so versions are monotone for the life of the table and no writer
  * truncates this log. */
object CommitLog {

  private val DirName = "_graft_log"

  final case class Retired(rel: String, version: Long, atMs: Long)

  /** Exact [lo, hi] of one column over one file's non-null values. */
  sealed trait Bounds
  /** Numeric column: the extrema rounded to DOUBLE (an int64 above
    * 2^53 may round; decimals go through Spark's `Decimal.toDouble`). */
  final case class NumBounds(lo: Double, hi: Double) extends Bounds
  /** String column: the extrema as RAW UTF-8 bytes, in unsigned byte
    * order (never decoded — invalid UTF-8 must not turn into U+FFFD). */
  final case class StrBounds(lo: Array[Byte], hi: Array[Byte]) extends Bounds

  /** One live file's stats. `bounds` maps every examined (lowercased)
    * column to its bounds, or to None when the footer proves nothing
    * for it — such a file is always kept. `blooms` holds the
    * (lowercased) columns whose filter sidecar is written. */
  final case class FileStats(bytes: Long, rows: Long,
                             bounds: Map[String, Option[Bounds]],
                             blooms: Set[String] = Set.empty)

  /** A bloom-indexed column: its table field (integral or string) and
    * the filter sizing its index froze at CREATE. */
  final case class BloomColumn(field: StructField, expectedItems: Long,
                               fpp: Double)

  /** `stamp` is a fresh UUID per written manifest: version NUMBERS
    * restart at 1 when a table is dropped and re-created at the same
    * location, so readers gate their re-list on the stamp, which never
    * repeats. `stats` is keyed by the rel paths in `files`; a file
    * without an entry (older build) has no stats. `gcWatermark` is the
    * highest retired version whose file GC has deleted. */
  final case class Manifest(version: Long, files: Seq[String],
                            retired: Seq[Retired],
                            stamp: String = "",
                            stats: Map[String, FileStats] = Map.empty,
                            gcWatermark: Long = 0L)

  def logDir(tableLocation: Path): Path = new Path(tableLocation, DirName)

  private def graceMs(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.commitlog.graceMs")
      .flatMap(_.trim.toLongOption).getOrElse(300000L)

  // ------------------------------------------------------------- format

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  private val BloomToken = "~bloom="

  private def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString
  private def unhex(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  private def renderBounds(b: Option[Bounds]): String = b match {
    case Some(NumBounds(lo, hi)) => s"n,$lo,$hi"
    case Some(StrBounds(lo, hi)) => s"s,${hex(lo)},${hex(hi)}"
    case None => "-"
  }

  private def parseBounds(s: String): Option[Bounds] = s.split(",", -1) match {
    case Array("n", lo, hi) => Some(NumBounds(lo.toDouble, hi.toDouble))
    case Array("s", lo, hi) => Some(StrBounds(unhex(lo), unhex(hi)))
    case _ => None
  }

  private def render(m: Manifest): String = {
    val sb = new StringBuilder
    sb ++= s"version\t${m.version}\n"
    sb ++= s"stamp\t${m.stamp}\n"
    m.files.sorted.foreach { f =>
      sb ++= s"file\t${enc(f)}"
      m.stats.get(f).foreach { st =>
        sb ++= s"\t${st.bytes}\t${st.rows}"
        st.bounds.toSeq.sortBy(_._1).foreach { case (c, b) =>
          sb ++= s"\t${enc(c)}=${renderBounds(b)}" }
        if (st.blooms.nonEmpty)
          sb ++= s"\t$BloomToken${st.blooms.toSeq.sorted.map(enc).mkString(",")}"
      }
      sb += '\n'
    }
    m.retired.sortBy(_.rel).foreach(r =>
      sb ++= s"retired\t${enc(r.rel)}\t${r.version}\t${r.atMs}\n")
    if (m.gcWatermark > 0) sb ++= s"gc\t${m.gcWatermark}\n"
    sb.toString
  }

  private def parse(text: String): Manifest = {
    var version = 0L
    var stamp = ""
    var gcWatermark = 0L
    val files = Seq.newBuilder[String]
    val stats = Map.newBuilder[String, FileStats]
    val retired = Seq.newBuilder[Retired]
    text.split("\n").iterator.map(_.trim).filter(_.nonEmpty).foreach { line =>
      line.split("\t") match {
        case Array("version", v) => version = v.toLong
        case Array("stamp", u) => stamp = u
        case Array("file", f) => files += dec(f)
        case Array("file", f, bytes, rows, cols @ _*) =>
          files += dec(f)
          val (blooms, bounds) = cols.partition(_.startsWith(BloomToken))
          stats += dec(f) -> FileStats(bytes.toLong, rows.toLong,
            bounds.map { kv =>
              val i = kv.indexOf('=')
              dec(kv.substring(0, i)) -> parseBounds(kv.substring(i + 1))
            }.toMap,
            blooms.flatMap(_.stripPrefix(BloomToken).split(",").map(dec)).toSet)
        case Array("retired", f, v, ms) =>
          retired += Retired(dec(f), v.toLong, ms.toLong)
        case Array("gc", w) => gcWatermark = w.toLong
        case _ => () // forward compatibility: unknown lines ignored
      }
    }
    Manifest(version, files.result(), retired.result(), stamp, stats.result(),
      gcWatermark)
  }

  // -------------------------------------------------------------- stats

  /** Row count and per-column bounds of one parquet file from its
    * footer — one driver-side read, no Spark job. Soundness rules:
    *  - the bounds of all row groups fold into one [lo, hi];
    *  - a row group is all-null only when its null count equals its
    *    value count, and then contributes nothing;
    *  - a row group with values but no min/max (parquet drops NaN
    *    stats and stats over 4 KB) leaves the FILE without bounds for
    *    that column, so the file is kept;
    *  - only orders the pruning rule compares in are recorded: signed
    *    integers and floating point as doubles, decimals through
    *    Spark's `Decimal.toDouble`, strings as raw bytes. Any other
    *    type (dates, timestamps, unsigned, binary) has no bounds. */
  private[engine] def footerStats(conf: Configuration, st: FileStatus,
                                  cols: Set[String]): FileStats = {
    footerReads.incrementAndGet()
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
    val blocks = try reader.getFooter.getBlocks.asScala.toSeq
                 finally reader.close()
    FileStats(st.getLen, blocks.map(_.getRowCount).sum,
      cols.iterator.map(c => c -> columnBounds(blocks, c)).toMap)
  }

  private def columnBounds(blocks: Seq[BlockMetaData],
                           col: String): Option[Bounds] = {
    val chunks = blocks.map(_.getColumns.asScala.find { ch =>
      val p = ch.getPath.toArray
      p.length == 1 && p(0).equalsIgnoreCase(col)
    })
    // a column the file lacks (added after it was written) is all null
    if (chunks.exists(_.isEmpty)) return None
    val each = chunks.flatten.filterNot { ch =>
      val s = ch.getStatistics
      s != null && s.isNumNullsSet && s.getNumNulls == ch.getValueCount
    }.map(chunkBounds)
    if (each.isEmpty || each.exists(_.isEmpty)) None
    else Some(each.flatten.reduce[Bounds] {
      case (NumBounds(a, b), NumBounds(c, d)) =>
        NumBounds(math.min(a, c), math.max(b, d))
      case (StrBounds(a, b), StrBounds(c, d)) =>
        StrBounds(if (ByteArray.compareBinary(a, c) <= 0) a else c,
                  if (ByteArray.compareBinary(b, d) >= 0) b else d)
      case _ => throw new IllegalStateException(s"mixed types in column $col")
    })
  }

  /** One row group's bounds for one column chunk, None when it has no
    * min/max or a type without a pruning order. */
  private def chunkBounds(ch: ColumnChunkMetaData): Option[Bounds] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation._
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val s = ch.getStatistics
    if (s == null || !s.hasNonNullValue) return None
    def dec(unscaled: java.math.BigInteger, d: DecimalLogicalTypeAnnotation) =
      Decimal(new java.math.BigDecimal(unscaled, d.getScale),
        d.getPrecision, d.getScale).toDouble
    def num(f: Any => Double) =
      Some(NumBounds(f(s.genericGetMin), f(s.genericGetMax)))
    def long(v: Any) = v.asInstanceOf[Number].longValue
    val t = ch.getPrimitiveType
    (t.getPrimitiveTypeName, t.getLogicalTypeAnnotation) match {
      case (INT32 | INT64, null) => num(long(_).toDouble)
      case (INT32 | INT64, i: IntLogicalTypeAnnotation) if i.isSigned =>
        num(long(_).toDouble)
      case (INT32 | INT64, d: DecimalLogicalTypeAnnotation) =>
        num(v => dec(java.math.BigInteger.valueOf(long(v)), d))
      case (FLOAT | DOUBLE, null) =>
        num(_.asInstanceOf[Number].doubleValue)
      case (BINARY | FIXED_LEN_BYTE_ARRAY, d: DecimalLogicalTypeAnnotation) =>
        num(v => dec(new java.math.BigInteger(v.asInstanceOf[Binary].getBytes), d))
      case (BINARY, _: StringLogicalTypeAnnotation) =>
        Some(StrBounds(s.getMinBytes.clone(), s.getMaxBytes.clone()))
      case _ => None
    }
  }

  /** Parquet footers read by [[publish]] in this JVM — specs assert a
    * commit reads only the files it added. */
  val footerReads = new java.util.concurrent.atomic.AtomicLong(0)

  // -------------------------------------------------------------- bloom

  private[graft] def bloomDir(tableLocation: Path, rel: String): Path =
    new Path(new Path(logDir(tableLocation), "bloom"), md5(rel))

  /** Hex MD5 of `s`: a file's key in index and sidecar directories. */
  private[engine] def md5(s: String): String =
    hex(java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")))

  /** The filter of `col` (lowercased) for data file `rel`, None when
    * its sidecar cannot be read — the file then has no bloom evidence
    * and is kept. Callers read only columns the entry marks. */
  def readBloom(fs: FileSystem, tableLocation: Path, rel: String,
                col: String): Option[BloomFilter] = {
    val p = fs.makeQualified(new Path(bloomDir(tableLocation, rel), enc(col)))
    Option(bloomCache.getIfPresent(p.toString)).orElse(
      try {
        val in = fs.open(p)
        val bf = try BloomFilter.readFrom(in) finally in.close()
        bloomCache.put(p.toString, bf)
        Some(bf)
      } catch { case scala.util.control.NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"commit log: bloom filter of $col for $rel at $tableLocation " +
            s"unreadable (${e.getMessage}); planning without it")
        None
      })
  }

  /** Parsed sidecars, least recently used evicted past 256 MiB of
    * filter bits, so repeated point reads plan without re-reading every
    * listed file's filter. Keyed on the sidecar path alone: data files
    * are never rewritten under a name (writers name them by job UUID),
    * and a sidecar is only ever rewritten from the same file's rows
    * (CREATE INDEX again), so a cached filter never proves a false
    * absence. Filters are only tested after their read, never mutated. */
  private val bloomCache = com.google.common.cache.CacheBuilder.newBuilder()
    .maximumWeight(256L << 20)
    .weigher[String, BloomFilter]((_: String, bf: BloomFilter) =>
      math.min(bf.bitSize / 8, Int.MaxValue.toLong).toInt)
    .build[String, BloomFilter]()

  /** Writes the filters of every bloom column for `files` (rel → its
    * stats): their rows grouped by file, one [[BloomAgg]] per column,
    * each filter written to its sidecar by the task that computed it.
    * When the files fit in one scan split (a commit's added files) the
    * rows are coalesced into one task, so the group-by needs no shuffle
    * — which adaptive execution would run as a second job — and the
    * build is ONE job; larger sets (CREATE INDEX, a rewrite of the
    * table) keep the scan's parallelism. A file with no rows gets empty
    * filters without a job. Returns the files whose filters were
    * written; a failure leaves files without filters and never fails
    * the commit. */
  private def buildBlooms(spark: SparkSession, tableLocation: Path,
                          files: Map[String, FileStats],
                          bloomCols: Map[String, BloomColumn]): Set[String] =
    if (files.isEmpty) Set.empty
    else try {
      import org.apache.spark.sql.functions.col
      val cols = bloomCols.keys.toSeq.sorted
      val (empty, full) = files.keySet.partition(files(_).rows == 0)
      val conf = new SerializableConfiguration(spark.sessionState.newHadoopConf())
      val loc = tableLocation.toString
      for (rel <- empty; c <- cols) {
        val bytes = new java.io.ByteArrayOutputStream()
        BloomFilter.create(bloomCols(c).expectedItems, bloomCols(c).fpp).writeTo(bytes)
        writeBloom(conf.value, loc, rel, c, bytes.toByteArray)
      }
      if (full.isEmpty) return empty
      val aggs = cols.map { c =>
        val f = bloomCols(c).field
        val in = if (f.dataType == StringType) col(f.name) else col(f.name).cast("long")
        BloomAgg.bloomAgg(in, bloomCols(c).expectedItems, bloomCols(c).fpp).as(c)
      }
      val sql = spark.sessionState.conf
      val oneSplit = full.iterator.map(files(_).bytes + sql.filesOpenCostInBytes)
        .sum <= sql.filesMaxPartitionBytes
      val rows = spark.read.schema(StructType(cols.map(bloomCols(_).field)))
        .option("basePath", FsPaths.readable(loc))
        .parquet(full.toSeq.sorted.map(r => new Path(tableLocation, r).toString): _*)
      empty ++ (if (oneSplit) rows.coalesce(1) else rows)
        .groupBy(col("_metadata.file_path").as("f"))
        .agg(aggs.head, aggs.tail: _*)
        .rdd.mapPartitions(_.flatMap { r =>
          relativize(new Path(loc), FsPaths.fromListing(r.getString(0))).map { rel =>
            cols.indices.foreach(i =>
              writeBloom(conf.value, loc, rel, cols(i), r.getAs[Array[Byte]](i + 1)))
            rel
          }
        }).collect()
    } catch { case scala.util.control.NonFatal(e) =>
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"commit log: bloom filters for ${files.size} file(s) at " +
          s"$tableLocation failed (${e.getMessage}); publishing them without")
      Set.empty
    }

  /** Writes one filter sidecar, atomically by rename, from the driver
    * or from the task that computed it. */
  private def writeBloom(conf: Configuration, loc: String, rel: String,
                         col: String, filter: Array[Byte]): Unit = {
    val dst = new Path(bloomDir(new Path(loc), rel), enc(col))
    val fs = dst.getFileSystem(conf)
    val tmp = new Path(dst.getParent, s".${dst.getName}.${java.util.UUID.randomUUID()}.tmp")
    val out = fs.create(tmp, true)
    try out.write(filter) finally out.close()
    if (!fs.rename(tmp, dst)) { fs.delete(dst, false); fs.rename(tmp, dst) }
  }

  // --------------------------------------------------------------- read

  private def manifestName(v: Long): String = f"v$v%012d.manifest"

  /** Highest committed version, 0 when the log is empty/absent. One
    * directory listing — the log dir holds only manifests and snapshot
    * records. */
  def currentVersion(fs: FileSystem, tableLocation: Path): Long = {
    val dir = logDir(tableLocation)
    if (!fs.exists(dir)) return 0L
    fs.listStatus(dir).iterator.map(_.getPath.getName).collect {
      case n if n.startsWith("v") && n.endsWith(".manifest") =>
        n.stripPrefix("v").stripSuffix(".manifest").toLong
    }.foldLeft(0L)(math.max)
  }

  def read(fs: FileSystem, tableLocation: Path, v: Long): Option[Manifest] = {
    if (v <= 0) return None
    readPath(fs, new Path(logDir(tableLocation), manifestName(v)))
  }

  private def readPath(fs: FileSystem, p: Path): Option[Manifest] = {
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      Some(parse(new String(bytes.toByteArray, "UTF-8")))
    } finally in.close()
  }

  /** Latest manifest, or None when the table has no commit log yet. */
  def current(fs: FileSystem, tableLocation: Path): Option[Manifest] =
    read(fs, tableLocation, currentVersion(fs, tableLocation))

  // -------------------------------------------------------------- write

  /** Table-relative path of `p` under `base` in decoded-URI space —
    * the manifest's path representation (also used by callers turning
    * replaced listing strings into retirement entries). */
  def relativize(base: Path, p: Path): Option[String] = {
    val b = base.toUri.getPath.stripSuffix("/")
    val s = p.toUri.getPath
    if (s.startsWith(b + "/")) Some(s.substring(b.length + 1)) else None
  }

  /** Publish the table's post-commit state as the next manifest:
    *   live   = data files on disk − still-retired entries
    *   retired = previous retired ∪ `newlyRetired`, minus entries GC'd
    *   stats  = carried forward, footer-read for files without an entry
    *            (or without bounds for one of `boundCols`, the table's
    *            zonemap columns); filters built for entries that lack
    *            one of `bloomCols`, the table's bloom columns
    * GC: retired entries whose grace expired are DELETED from disk and
    * dropped from the log — unless a version some snapshot record pins
    * lists them ([[Snapshots.pinnedFiles]], read only when an entry is
    * past grace); those stay retired in place until the record expires,
    * so once one has passed its grace every commit reads the pinned
    * manifests until then. The highest version among the entries it
    * deletes raises the manifest's GC watermark, and each deleted
    * file's filter sidecars go with it.
    *
    * Called under the table's in-JVM write lock; cross-PROCESS commit
    * collisions are detected by the atomic rename and retried over a
    * fresh listing (bounded). Returns the committed version. */
  def publish(spark: SparkSession, tableLocation: Path,
              newlyRetired: Seq[String],
              boundCols: Set[String] = Set.empty,
              bloomCols: Map[String, BloomColumn] = Map.empty): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = tableLocation.getFileSystem(conf)
    val dir = logDir(tableLocation)
    if (!fs.exists(dir)) fs.mkdirs(dir)
    val grace = graceMs(spark)
    // enough head-room for an N-writer collision burst: each loser
    // re-lists and retries, so N writers converge in ≤ N rounds; the
    // budget is conf'd for soak tests and pathological deployments
    val maxAttempts = spark.conf.getOption(
      "spark.graft.commitlog.publishAttempts")
      .flatMap(_.trim.toIntOption).getOrElse(10)
    var attempts = maxAttempts
    // files whose filters an earlier attempt already wrote: a lost
    // version race re-lists, but sidecars are immutable per file
    var built = Set.empty[String]
    while (true) {
      val prevV = currentVersion(fs, tableLocation)
      val prev = read(fs, tableLocation, prevV)
        .getOrElse(Manifest(0L, Seq.empty, Seq.empty))
      val now = System.currentTimeMillis()
      val retiredAll = (prev.retired ++
        newlyRetired.map(Retired(_, prevV, now)))
        .groupBy(_.rel).map(_._2.minBy(_.atMs)).toSeq
      // GC: out-of-grace entries leave disk AND the log; a reader on
      // a manifest that old has had `grace` ms to finish — raise
      // spark.graft.commitlog.graceMs if statements can run longer.
      // `atMs` was stamped by the RETIRING process's clock; cross-
      // process skew would otherwise shorten another reader's
      // effective grace, so a skew allowance is subtracted from the
      // elapsed time (round-12 advice: clock-sync is part of the
      // deployment contract only up to maxSkewMs)
      val skew = spark.conf.getOption("spark.graft.commitlog.maxSkewMs")
        .flatMap(_.trim.toLongOption).getOrElse(10000L)
      val (pastGrace, inGrace) = retiredAll.partition(r =>
        now - r.atMs - skew > grace)
      val pinned =
        if (pastGrace.isEmpty) Set.empty[String]
        else Snapshots.pinnedFiles(fs, tableLocation)
      val (held, expired) = pastGrace.partition(r => pinned(r.rel))
      val kept = inGrace ++ held
      expired.foreach { r =>
        val p = new Path(tableLocation, r.rel)
        try {
          if (fs.exists(p)) fs.delete(p, false)
          fs.delete(bloomDir(tableLocation, r.rel), true)
        } catch { case _: Exception => () } // GC is best-effort; retry next commit
      }
      // an expired entry whose delete FAILED must stay in the log —
      // otherwise the file reappears as live on the next publish
      val stillThere = expired.filter(r =>
        try fs.exists(new Path(tableLocation, r.rel))
        catch { case _: Exception => true })
      val retired = kept ++ stillThere
      val gcWatermark = (expired.diff(stillThere).map(_.version) :+
        prev.gcWatermark).max
      val retiredRels = retired.map(_.rel).toSet
      val liveStatus = Snapshots.dataFileStatuses(fs, tableLocation)
        .filterNot(f => retiredRels(f._1))
      val live = liveStatus.map(_._1)
      var backfilled = false
      val footed = liveStatus.flatMap { case (rel, st) =>
        val old = prev.stats.get(rel)
        old.filter(e => boundCols.forall(e.bounds.contains))
          .orElse {
            backfilled = true
            try Some(footerStats(conf, st, boundCols)
              .copy(blooms = old.fold(Set.empty[String])(_.blooms)))
            catch { case scala.util.control.NonFatal(e) =>
              org.slf4j.LoggerFactory.getLogger(getClass).warn(
                s"commit log: footer of $rel at $tableLocation unreadable " +
                  s"(${e.getMessage}); publishing it without stats")
              None
            }
          }.map(e => rel -> e.copy(bounds = e.bounds.filter(b => boundCols(b._1)),
            blooms = e.blooms & bloomCols.keySet))
      }.toMap
      // commits that change no files (CREATE INDEX, ALTER SETTINGS)
      // publish no version: readers' version gate then never re-lists
      // for them either. Stats they backfilled replace the current
      // manifest in place (same version, stamp and files) where the FS
      // can swap it atomically; elsewhere filters are not built for
      // them, and wait for the next commit as bounds do.
      val unchanged = prevV > 0 && newlyRetired.isEmpty && expired.isEmpty &&
        live.toSet == prev.files.toSet
      val todo = footed.filter(_._2.blooms != bloomCols.keySet)
      backfilled ||= todo.nonEmpty
      if (!unchanged || inPlace(fs))
        built ++= buildBlooms(spark, tableLocation, todo -- built, bloomCols)
      val stats = footed.map { case (rel, e) =>
        rel -> (if (built(rel)) e.copy(blooms = bloomCols.keySet) else e) }
      if (unchanged) {
        if (backfilled) replaceInPlace(fs, dir, prev.copy(stats = stats))
        return prevV
      }
      val next = Manifest(prevV + 1, live, retired,
        java.util.UUID.randomUUID().toString, stats, gcWatermark)
      val tmp = new Path(dir, s".${manifestName(next.version)}.${
        java.util.UUID.randomUUID().toString.take(8)}.tmp")
      val out = fs.create(tmp, false)
      out.write(render(next).getBytes("UTF-8")); out.close()
      if (commitManifest(fs, tmp, new Path(dir, manifestName(next.version)),
          next.stamp))
        return next.version
      try fs.delete(tmp, false) catch { case _: Exception => () }
      attempts -= 1
      publishRetries.incrementAndGet()
      if (attempts <= 0) throw new java.io.IOException(
        s"commit log: lost the version race at $tableLocation " +
          s"$maxAttempts times — writer contention exceeds the retry " +
          "budget (spark.graft.commitlog.publishAttempts); reduce " +
          "concurrent writers per table or raise the budget")
      // jittered backoff de-synchronizes a collision burst: losers
      // re-list at different times instead of re-colliding in lockstep
      Thread.sleep(1L + java.util.concurrent.ThreadLocalRandom.current()
        .nextLong(5L * (maxAttempts - attempts)))
    }
    0L // unreachable
  }

  /** Swap the published manifest `m` for one carrying backfilled stats.
    * Only on the local FS, where the swap is one atomic rename(2): a
    * reader sees the old file or the new one, never neither. Elsewhere
    * the stats wait for the next commit (no bounds: files are kept). */
  private def replaceInPlace(fs: FileSystem, dir: Path, m: Manifest): Unit = {
    if (!inPlace(fs)) return
    val tmp = new Path(dir, s".${manifestName(m.version)}.${
      java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val out = fs.create(tmp, false)
    out.write(render(m).getBytes("UTF-8")); out.close()
    java.nio.file.Files.move(
      java.nio.file.Paths.get(fs.makeQualified(tmp).toUri.getPath),
      java.nio.file.Paths.get(fs.makeQualified(
        new Path(dir, manifestName(m.version))).toUri.getPath),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    try fs.delete(tmp, false) catch { case _: Exception => () } // its .crc
  }

  private def inPlace(fs: FileSystem): Boolean =
    "file".equalsIgnoreCase(Option(fs.getUri.getScheme).getOrElse(""))

  /** Lost-version-race retries across all publishes in this JVM —
    * soak tests assert the bound, system tables surface it. */
  val publishRetries = new java.util.concurrent.atomic.AtomicLong(0)

  /** THE commit point. HDFS `rename` is atomic and FAILS on an existing
    * destination — the detection the protocol advertises — but
    * RawLocalFileSystem delegates to File#renameTo, which on POSIX
    * OVERWRITES an existing destination: two processes publishing the
    * same next version would both "succeed" and one manifest (with its
    * retirement entries) would be silently lost, resurrecting the
    * files it retired as live on the next publish (round-12 advice,
    * medium). On the local FS the commit is therefore link(2)
    * ([[java.nio.file.Files.createLink]]), which is atomic AND
    * exclusive — the loser gets EEXIST. On every other FS the rename
    * result is readback-verified against the manifest's unique stamp,
    * turning a silently-clobbered publish into a detected retry in all
    * but the (rename .. readback) window; on stores with no exclusive
    * primitive at all (S3A), single-writer-per-table remains the
    * deployment contract. */
  private[graft] def commitManifest(fs: FileSystem, tmp: Path, dst: Path,
                                    stamp: String): Boolean = {
    val local = "file".equalsIgnoreCase(
      Option(fs.getUri.getScheme).getOrElse(""))
    def renameVerify(): Boolean =
      fs.rename(tmp, dst) && readPath(fs, dst).exists(_.stamp == stamp)
    if (local) {
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(fs.makeQualified(dst).toUri.getPath),
          java.nio.file.Paths.get(fs.makeQualified(tmp).toUri.getPath))
        try fs.delete(tmp, false) catch { case _: Exception => () }
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: UnsupportedOperationException => renameVerify()
      }
    } else renameVerify()
  }
}
