package graft.engine

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructType}
import graft.Json

/** Table snapshots + time travel without the Iceberg runtime — the
  * no-jar fallback for the reference's native table format
  * (Iceberg v2 snapshots/metadata: server/storage/storage.go:749-787,
  * server/metadata/iceberg/manager.go:120-234).
  *
  * Design (Iceberg's snapshot model re-expressed): every commit to a
  * table publishes one [[CommitLog]] version whose manifest lists the
  * version's files, and a commit retires the files it replaced IN
  * PLACE. A snapshot is therefore just a PIN on one log version — one
  * small record in the table's own log, no data copied and no second
  * file list. [[CommitLog.publish]] deletes an out-of-grace retired
  * file only when no record pins a version whose manifest lists it, so
  * a pinned version stays readable at its own paths for as long as the
  * record lives.
  *
  * Layout: `<table>/_graft_log/s<id>.snapshot`, a JSON record of id,
  * operation, created_at, the pinned log `version` and the table
  * schema at snapshot time (so a pre-ALTER version reads with its own
  * schema). Written to a temp name and renamed into place under the
  * table's write lock, which every caller of [[create]] holds; the
  * records live and die with the table directory.
  *
  * Retention: `spark.graft.snapshots.retain` (default 10) newest
  * snapshots are kept; `EXPIRE SNAPSHOTS` deletes records manually and
  * its own publish then frees the files no record still pins.
  * Appends (INSERT) snapshot the PRE-insert version when [[onInsert]]
  * is enabled. */
object Snapshots {

  /** Keep-last-N retention cap, enforced at create time (the ADVICE
    * unbounded-growth finding; Iceberg's expire_snapshots analog). */
  def retain(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.snapshots.retain")
      .map(_.toInt).getOrElse(10)

  /** Version INSERTs too (opt-in): an append deletes nothing, so its
    * snapshot pins the pre-insert version and `VERSION AS OF` then
    * covers append history the way every Iceberg append commit does.
    * Off by default because micro-batched ingest (the SDK AsyncInsert
    * path) issues many small INSERTs, each of which would add a record;
    * destructive ops keep versioning regardless, so no data-losing
    * operation is ever unversioned. */
  def onInsert(spark: SparkSession): Boolean =
    spark.conf.getOption("spark.graft.snapshots.oninsert").exists(v => v.trim.toBooleanOption.getOrElse(false))

  private def location(spark: SparkSession, t: String): Path =
    new Path(spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(t)).location)

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  private def relativize(base: Path, p: Path): String = {
    val b = base.toUri.getPath.stripSuffix("/")
    val s = p.toUri.getPath
    require(s.startsWith(b + "/"), s"$p is not under $base")
    s.substring(b.length + 1)
  }

  /** The engine-wide data-file naming contract — ONE definition so
    * commit-log manifests, file-level CoW commits and emptied-partition
    * cleanup can never disagree about what counts as table data
    * (commit markers and hidden files are not data). */
  private[engine] def isDataFileName(name: String): Boolean =
    name.endsWith(".parquet") && !name.startsWith("_") && !name.startsWith(".")

  /** Recursive table-dir walk that is SAFE against concurrent
    * publishers: plain listStatus (no per-entry permission stat — the
    * located-status iterator shells `ls` per file on RawLocalFS and
    * dies on a vanished `.tmp`), skipping hidden (`.`/`_`) and mirror
    * (`metadata`) directories, where the racing tmp files live and
    * data never does. */
  private[engine] def walkFiles(fs: FileSystem, loc: Path)
                               (visit: org.apache.hadoop.fs.FileStatus => Unit): Unit = {
    if (!fs.exists(loc)) return
    def walk(p: Path): Unit =
      fs.listStatus(p).foreach { st =>
        val n = st.getPath.getName
        if (st.isDirectory) {
          if (!n.startsWith(".") && !n.startsWith("_") && n != "metadata")
            walk(st.getPath)
        } else visit(st)
      }
    walk(loc)
  }

  /** The files a reader of `t` sees, as file statuses (absolute path,
    * byte length) from one disk walk: the current commit-log manifest
    * (files an earlier commit retired in place are still on disk), else
    * — no commit yet — every data file on disk. The `replaced` set of a
    * whole-table rewrite; a scan's `inputFiles` is no substitute — a
    * cached (`STORAGE memory`) table lists none. */
  private[engine] def liveFileStatuses(spark: SparkSession,
                                       t: String): Seq[FileStatus] = {
    val loc = location(spark, t)
    val fs = fsOf(spark, loc)
    val manifest = CommitLog.current(fs, loc).map(_.files.toSet)
    val out = Seq.newBuilder[FileStatus]
    walkFiles(fs, loc) { st =>
      if (manifest.fold(isDataFileName(st.getPath.getName))(
            _.contains(relativize(loc, st.getPath))))
        out += st
    }
    out.result()
  }

  /** Table-relative paths of the data files ON DISK (recursive, via
    * [[walkFiles]]) — live and retired alike. */
  private[engine] def listDataFiles(fs: FileSystem, loc: Path): Seq[String] =
    dataFileStatuses(fs, loc).map(_._1)

  /** [[listDataFiles]] with each file's status (length, for the
    * commit-log manifest's per-file stats) from the same walk. */
  private[engine] def dataFileStatuses(fs: FileSystem,
                                       loc: Path): Seq[(String, FileStatus)] = {
    val out = Seq.newBuilder[(String, FileStatus)]
    walkFiles(fs, loc) { f =>
      if (isDataFileName(f.getPath.getName))
        out += relativize(loc, f.getPath) -> f
    }
    out.result()
  }

  // ------------------------------------------------------------- records

  final case class SnapshotInfo(id: Long, operation: String, createdAtMs: Long)

  private final case class Record(info: SnapshotInfo, version: Long,
                                  schemaJson: String)

  private val RecordName = """s(\d+)\.snapshot""".r

  private def recordPath(loc: Path, id: Long): Path =
    new Path(CommitLog.logDir(loc), f"s$id%012d.snapshot")

  /** Snapshot ids recorded in the log at `loc`, ascending, from one
    * directory listing. */
  private def recordIds(fs: FileSystem, loc: Path): Seq[Long] = try {
    fs.listStatus(CommitLog.logDir(loc)).toSeq.map(_.getPath.getName)
      .collect { case RecordName(id) => id.toLong }.sorted
  } catch {
    // no log yet, or the table dir dropped under a lock-free reader
    // (system.snapshots): no records
    case _: java.io.FileNotFoundException => Seq.empty
  }

  private def readRecord(fs: FileSystem, loc: Path, id: Long): Option[Record] = try {
    val in = fs.open(recordPath(loc, id))
    val txt =
      try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
      finally in.close()
    Json.parse(txt).flatMap { n =>
      for {
        op <- Json.text(n, "/operation")
        at <- Json.long(n, "/created_at")
        v <- Json.long(n, "/version")
        schema <- Option(n.get("schema")).filter(_.isObject)
      } yield Record(SnapshotInfo(id, op, at), v, schema.toString)
    }
  } catch {
    // listing→open races a concurrent EXPIRE, retention or DROP in a
    // session that holds no lock on this table: a record that vanishes
    // mid-read IS the post-expire state, never a reader failure
    case _: java.io.FileNotFoundException => None
  }

  private def records(fs: FileSystem, loc: Path): Seq[Record] =
    recordIds(fs, loc).flatMap(readRecord(fs, loc, _))

  /** Every file a log version pinned by a record lists (rel paths) —
    * the GC guard [[CommitLog.publish]] consults for retired entries
    * past their grace window. */
  private[engine] def pinnedFiles(fs: FileSystem, loc: Path): Set[String] =
    records(fs, loc).map(_.version).distinct
      .flatMap(v => CommitLog.read(fs, loc, v)).flatMap(_.files).toSet

  // -------------------------------------------------------------- create

  /** Pin the table's current log version under the next id. A table
    * whose log is still empty runs `publish` — the engine's own commit
    * step, with its provider guard and Iceberg mirror — first, so there
    * is a version to pin; a table the log does not cover (not parquet)
    * pins version 0, the empty listing. Caller holds the table's write
    * lock. Retention deletes the oldest records beyond the keep-last-N
    * cap; the statement's own publish frees their files. */
  def create(spark: SparkSession, t: String, operation: String,
             publish: () => Unit): Long = {
    val loc = location(spark, t)
    val fs = fsOf(spark, loc)
    val version = CommitLog.currentVersion(fs, loc) match {
      case 0L => publish(); CommitLog.currentVersion(fs, loc)
      case v => v
    }
    val ids = recordIds(fs, loc)
    val id = ids.lastOption.getOrElse(0L) + 1L
    val record = Json.obj(
      "id" -> id.toString,
      "operation" -> Json.str(operation),
      "created_at" -> System.currentTimeMillis().toString,
      "version" -> version.toString,
      "schema" -> spark.table(t).schema.json)
    val dst = recordPath(loc, id)
    val tmp = new Path(dst.getParent, s".${dst.getName}.${java.util.UUID.randomUUID()}.tmp")
    val out = fs.create(tmp, true)
    try out.write(record.getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(s"could not publish snapshot record $dst")
    (ids :+ id).dropRight(math.max(retain(spark), 0))
      .foreach(old => fs.delete(recordPath(loc, old), false))
    id
  }

  // ---------------------------------------------------------------- read

  def list(spark: SparkSession, t: String): Seq[SnapshotInfo] = {
    val loc = location(spark, t)
    records(fsOf(spark, loc), loc).map(_.info)
  }

  /** DataFrame over a snapshot: the pinned version's manifest files,
    * read under the schema recorded at snapshot time. */
  def read(spark: SparkSession, t: String, id: Long): DataFrame = {
    val loc = location(spark, t)
    val fs = fsOf(spark, loc)
    val rec = readRecord(fs, loc, id)
      .getOrElse(throw new IllegalArgumentException(s"no snapshot $id for $t"))
    val files =
      if (rec.version == 0L) Seq.empty
      else CommitLog.read(fs, loc, rec.version).map(_.files)
        .getOrElse(throw new IllegalStateException(
          s"snapshot $id of $t pins log version ${rec.version}, which is missing"))
    val schema = DataType.fromJson(rec.schemaJson).asInstanceOf[StructType]
    if (files.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else spark.read.schema(schema)
      .option("basePath", loc.toString)
      .parquet(files.map(r => new Path(loc, r).toString): _*)
      .select(schema.fieldNames.toIndexedSeq.map(col): _*)
  }

  // -------------------------------------------------------------- expire

  /** Delete snapshot records. No qualifier expires everything;
    * `olderThanMs` expires by age; `keepLast` keeps only the newest N.
    * Caller holds the table's write lock; its publish then deletes the
    * out-of-grace files no remaining record pins. Returns how many
    * expired. */
  def expire(spark: SparkSession, t: String, olderThanMs: Option[Long],
             keepLast: Option[Int]): Int = {
    val loc = location(spark, t)
    val fs = fsOf(spark, loc)
    val all = records(fs, loc).map(_.info)
    val byAge = olderThanMs
      .map(cut => all.filter(_.createdAtMs < cut).map(_.id).toSet)
      .getOrElse(Set.empty[Long])
    val byCount = keepLast
      .map(k => all.dropRight(math.max(k, 0)).map(_.id).toSet)
      .getOrElse(Set.empty[Long])
    val doomed =
      if (olderThanMs.isEmpty && keepLast.isEmpty) all.map(_.id).toSet
      else byAge ++ byCount
    doomed.foreach(id => fs.delete(recordPath(loc, id), false))
    doomed.size
  }

  /** DROP hygiene for a table whose directory outlives the drop (a
    * LOCATION table): delete its records, so a table recreated there
    * starts with no history. A managed table's records went with its
    * directory, and then this is a no-op. */
  def purge(spark: SparkSession, location: java.net.URI): Unit = {
    val loc = new Path(location)
    val fs = fsOf(spark, loc)
    recordIds(fs, loc).foreach(id => fs.delete(recordPath(loc, id), false))
  }

  /** Warehouse-wide snapshot inventory for the `system.snapshots`
    * view: (qualified table, snapshot, pinned file count) per record of
    * every catalog table. Holds no lock: a table or record dropped
    * mid-listing is skipped. */
  def listAll(spark: SparkSession): Seq[(String, SnapshotInfo, Int)] = {
    val catalog = spark.sessionState.catalog.externalCatalog
    def skipVanished[A](body: => Seq[A]): Seq[A] =
      try body catch {
        case _: org.apache.spark.sql.AnalysisException |
             _: java.io.FileNotFoundException => Seq.empty
      }
    catalog.listDatabases().flatMap { db =>
      skipVanished(catalog.listTables(db)).flatMap { table =>
        skipVanished(catalog.getTable(db, table).storage.locationUri.toSeq
          .flatMap { uri =>
            val loc = new Path(uri)
            val fs = fsOf(spark, loc)
            records(fs, loc).map(r => (s"$db.$table", r.info,
              CommitLog.read(fs, loc, r.version).fold(0)(_.files.length)))
          })
      }
    }
  }
}
