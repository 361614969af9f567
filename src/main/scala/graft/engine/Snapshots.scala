package graft.engine

import org.apache.hadoop.fs.{FileStatus, FileSystem, FileUtil, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructType}
import graft.Json

/** Table snapshots + time travel without the Iceberg runtime — the
  * no-jar fallback for the reference's native table format
  * (Iceberg v2 snapshots/metadata: server/storage/storage.go:749-787,
  * server/metadata/iceberg/manager.go:120-234).
  *
  * Design (Iceberg's manifest model re-expressed): parquet data files
  * are immutable once written, so a snapshot is a MANIFEST that lists
  * the table's current files — O(file metadata), no data copied at
  * snapshot time. When a rewrite is about to delete files that a live
  * manifest references, exactly those files are preserved into
  * `<root>/archive/` first — copied, since a commit retires replaced
  * files in place (the rebuilding ALTER renames them: it deletes the
  * old table). A snapshot therefore costs O(changed files), never
  * O(table).
  *
  * Layout under `<warehouse>/.graft-snapshots/<db>.<table>/`:
  *   - `<id>/MANIFEST.json` — id, operation, timestamp, schema at
  *     snapshot time, and the file list (paths relative to the table
  *     location); written to a temp name and renamed into place, so a
  *     reader never sees half a manifest. The file list is what a
  *     reader of the table sees: its current commit-log manifest's
  *     files (retired files still on disk are not in it).
  *   - `archive/<relpath>` — files preserved from deletion; a
  *     manifest entry resolves to the archive copy when present, else
  *     to the live table file.
  *
  * Retention: `spark.graft.snapshots.retain` (default 10) newest
  * snapshots are kept; `EXPIRE SNAPSHOTS` prunes manually. Expiry
  * garbage-collects archived files no remaining manifest references.
  * Appends (INSERT) snapshot the PRE-insert file list when
  * [[onInsert]] is enabled — they delete nothing, so the snapshot is
  * manifest metadata only and every existing manifest stays valid.
  */
object Snapshots {

  /** Disable with spark.graft.snapshots.enabled=false. */
  def enabled(spark: SparkSession): Boolean =
    spark.conf.getOption("spark.graft.snapshots.enabled").forall(v => v.trim.toBooleanOption.getOrElse(true))

  /** Keep-last-N retention cap, enforced at create time (the ADVICE
    * unbounded-growth finding; Iceberg's expire_snapshots analog). */
  def retain(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.snapshots.retain")
      .map(_.toInt).getOrElse(10)

  /** Version INSERTs too (opt-in): an append deletes nothing, so its
    * snapshot is a pure manifest listing — O(file metadata), zero
    * archive work — and `VERSION AS OF` then covers append history
    * the way every Iceberg append commit does. Off by default because
    * micro-batched ingest (the SDK AsyncInsert path) issues many small
    * INSERTs and a per-statement file listing is exactly the overhead
    * that path exists to avoid; destructive ops keep versioning
    * regardless, so no data-losing operation is ever unversioned. */
  def onInsert(spark: SparkSession): Boolean =
    spark.conf.getOption("spark.graft.snapshots.oninsert").exists(v => v.trim.toBooleanOption.getOrElse(false))

  private def base(spark: SparkSession, db: String, table: String): Path =
    new Path(new Path(spark.conf.get("spark.sql.warehouse.dir")),
      s".graft-snapshots/$db.$table")

  private def archiveRoot(root: Path): Path = new Path(root, "archive")

  /** The table's archive directory — published into the Iceberg
    * mirror's properties (`graft.archive-location`) so a STATIC
    * reader can resolve a pre-rewrite snapshot's data files after a
    * whole-table rebuild moved them here ([[preserveAll]]). */
  def archiveLocationFor(spark: SparkSession, db: String,
                         table: String): Path =
    archiveRoot(base(spark, db, table))

  private def resolve(spark: SparkSession, t: String): (String, String, Path) = {
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(t)
    val db = ident.database.getOrElse(spark.catalog.currentDatabase)
    val meta = spark.sessionState.catalog.getTableMetadata(ident)
    (db, ident.table, new Path(meta.location))
  }

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  private def relativize(base: Path, p: Path): String = {
    val b = base.toUri.getPath.stripSuffix("/")
    val s = p.toUri.getPath
    require(s.startsWith(b + "/"), s"$p is not under $base")
    s.substring(b.length + 1)
  }

  /** The engine-wide data-file naming contract — ONE definition so
    * snapshot manifests, file-level CoW commits and emptied-partition
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

  /** The files a reader of the table at `loc` sees, relative to it: the
    * current commit-log manifest (files an earlier commit retired in
    * place are still on disk through the grace window), else — no
    * commit yet — every data file on disk. */
  private def liveFiles(fs: FileSystem, loc: Path): Seq[String] =
    CommitLog.current(fs, loc).map(_.files).getOrElse(listDataFiles(fs, loc))

  /** The [[liveFiles]] of `t` as file statuses (absolute path, byte
    * length) from one disk walk: the `replaced` set of a whole-table
    * rewrite. A scan's `inputFiles` is no substitute — a cached
    * (`STORAGE memory`) table lists none. */
  private[engine] def liveFileStatuses(spark: SparkSession,
                                       t: String): Seq[FileStatus] = {
    val (_, _, loc) = resolve(spark, t)
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

  // ------------------------------------------------------------ manifest

  private final case class Manifest(id: Long, operation: String,
                                    createdAtMs: Long, files: Seq[String],
                                    schemaJson: String)

  private def readManifest(fs: FileSystem, dir: Path): Option[Manifest] = try {
    val mf = new Path(dir, "MANIFEST.json")
    if (!fs.exists(mf)) return None
    // readFullyToByteArray reads to EOF but does NOT close — without
    // the finally, every manifest read leaks an fd (and listAll-style
    // readers scan every table's manifests)
    val in = fs.open(mf)
    val txt =
      try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
      finally in.close()
    Json.parse(txt).flatMap { n =>
      import scala.jdk.CollectionConverters._
      for {
        id <- Json.long(n, "/id")
        op <- Json.text(n, "/operation")
        at <- Json.long(n, "/created_at")
        fl <- Option(n.get("files")).filter(_.isArray)
        schema <- Option(n.get("schema")).filter(_.isObject)
      } yield Manifest(id, op, at, fl.elements().asScala.map(_.asText).toSeq,
        schema.toString)
    }
  } catch {
    // exists→open is a TOCTOU against concurrent EXPIRE/retention GC/
    // DROP from another session (this JVM takes the per-table lock,
    // but cross-table readers like system_snapshots hold no lock, and
    // on a real cluster the expirer may be another driver entirely).
    // A manifest that vanishes mid-read IS the post-expire state:
    // report it as absent, never fail the reader.
    case _: java.io.FileNotFoundException => None
  }

  private def manifests(fs: FileSystem, root: Path): Seq[Manifest] = try {
    if (!fs.exists(root)) return Seq.empty
    fs.listStatus(root).toSeq
      .filter(st => scala.util.Try(st.getPath.getName.toLong).isSuccess)
      .flatMap(st => readManifest(fs, st.getPath))
      .sortBy(_.id)
  } catch {
    // same race one level up: the whole snapshot root can be dropped
    // between exists and listStatus
    case _: java.io.FileNotFoundException => Seq.empty
  }

  /** Every file some live manifest still references (relpaths). */
  private def referencedFiles(fs: FileSystem, root: Path): Set[String] =
    manifests(fs, root).iterator.flatMap(_.files).toSet

  // -------------------------------------------------------------- create

  /** Per-table JVM lock: concurrent connections share this JVM, and
    * two DMLs racing on one table must not allocate the same snapshot
    * id (the DML rewrite race itself is the caller's concern: it
    * holds the table's write lock). */
  private val tableLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Record a manifest over the table's CURRENT files; no data moves.
    * Returns the snapshot id. Retention expires the oldest snapshots
    * beyond the keep-last-N cap. */
  def create(spark: SparkSession, t: String, operation: String): Long = {
    val (db, table, loc) = resolve(spark, t)
    tableLocks.computeIfAbsent(s"$db.$table", _ => new Object).synchronized {
      createLocked(spark, t, operation, db, table, loc)
    }
  }

  private def createLocked(spark: SparkSession, t: String, operation: String,
                           db: String, table: String, loc: Path): Long = {
    val fs = fsOf(spark, loc)
    val root = base(spark, db, table)
    val id = manifests(fs, root).lastOption.map(_.id).getOrElse(0L) + 1L
    val target = new Path(root, id.toString)
    fs.mkdirs(target)
    val manifest = Json.obj(
      "id" -> id.toString,
      "operation" -> Json.str(operation),
      "created_at" -> System.currentTimeMillis().toString,
      "files" -> Json.arr(liveFiles(fs, loc).map(Json.str)),
      "schema" -> spark.table(t).schema.json)
    val tmp = new Path(target, s".MANIFEST.json.${java.util.UUID.randomUUID()}.tmp")
    val out = fs.create(tmp, true)
    try out.write(manifest.getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmp, new Path(target, "MANIFEST.json")))
      throw new java.io.IOException(s"could not publish snapshot manifest $target")
    expire(spark, t, olderThanMs = None, keepLast = Some(retain(spark)))
    id
  }

  // ------------------------------------------------------------ preserve

  /** Move every referenced live file into the archive — called by
    * the rebuilding ALTER (the one whole-table rewrite left; every
    * data rewrite preserves through [[preserveExact]]) AFTER the
    * replacement data is durably staged (the rebuild reads from
    * staging, so a rename is safe and costs no data movement).
    * Unreferenced files are left for the rebuild to delete. */
  def preserveAll(spark: SparkSession, t: String): Unit = {
    val (db, table, loc) = resolve(spark, t)
    val fs = fsOf(spark, loc)
    val root = base(spark, db, table)
    val referenced = referencedFiles(fs, root)
    if (referenced.isEmpty) return
    preserveFiles(spark, fs, loc, root,
      listDataFiles(fs, loc).filter(referenced), move = true)
  }

  /** Copy exactly the given live files into the archive when a
    * snapshot references them — the FILE-level CoW DML scope (r11):
    * the caller replaces only these files, every other manifest entry
    * keeps resolving to its still-live table file. A copy, not a
    * rename: the commit retires replaced files IN PLACE (readers on an
    * older commit-log manifest still resolve them), so the live path
    * must survive the archive. */
  def preserveExact(spark: SparkSession, t: String,
                    absFiles: Seq[Path]): Unit = {
    val (db, table, loc) = resolve(spark, t)
    val fs = fsOf(spark, loc)
    val root = base(spark, db, table)
    val referenced = referencedFiles(fs, root)
    if (referenced.isEmpty) return
    val rels = absFiles.map(relativize(loc, _)).filter(referenced)
    preserveFiles(spark, fs, loc, root, rels, move = false)
  }

  private def preserveFiles(spark: SparkSession, fs: FileSystem, loc: Path,
                            root: Path, rels: Seq[String],
                            move: Boolean): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val arch = archiveRoot(root)
    rels.foreach { rel =>
      val src = new Path(loc, rel)
      val dst = new Path(arch, rel)
      if (!fs.exists(dst) && fs.exists(src)) {
        fs.mkdirs(dst.getParent)
        if (move) fs.rename(src, dst)
        else FileUtil.copy(fs, src, fs, dst, false, conf)
      }
    }
  }

  // ---------------------------------------------------------------- read

  final case class SnapshotInfo(id: Long, operation: String, createdAtMs: Long)

  def list(spark: SparkSession, t: String): Seq[SnapshotInfo] = {
    val (db, table, loc) = resolve(spark, t)
    manifests(fsOf(spark, loc), base(spark, db, table))
      .map(m => SnapshotInfo(m.id, m.operation, m.createdAtMs))
  }

  /** DataFrame over an archived version: manifest entries resolve to
    * the archive copy when one exists, else to the still-live table
    * file; read under the schema recorded at snapshot time. */
  def read(spark: SparkSession, t: String, id: Long): DataFrame = {
    val (db, table, loc) = resolve(spark, t)
    val fs = fsOf(spark, loc)
    val root = base(spark, db, table)
    val m = readManifest(fs, new Path(root, id.toString))
      .getOrElse(throw new IllegalArgumentException(s"no snapshot $id for $t"))
    val schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
    val arch = archiveRoot(root)
    val (archived, live) = m.files.partition(r => fs.exists(new Path(arch, r)))
    val missing = live.filterNot(r => fs.exists(new Path(loc, r)))
    require(missing.isEmpty,
      s"snapshot $id of $t is missing ${missing.length} file(s): " +
        missing.take(3).mkString(", "))
    def readFrom(basePath: Path, rels: Seq[String]): Option[DataFrame] =
      if (rels.isEmpty) None
      else Some(spark.read.schema(schema)
        .option("basePath", basePath.toString)
        .parquet(rels.map(r => new Path(basePath, r).toString): _*)
        .select(schema.fieldNames.toIndexedSeq.map(col): _*))
    Seq(readFrom(arch, archived), readFrom(loc, live)).flatten
      .reduceOption(_ union _)
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], schema))
  }

  // -------------------------------------------------------- expire / GC

  /** Expire snapshots and garbage-collect unreferenced archive files.
    * No qualifier expires everything; `olderThanMs` expires by age;
    * `keepLast` keeps only the newest N. Returns how many expired. */
  def expire(spark: SparkSession, t: String, olderThanMs: Option[Long],
             keepLast: Option[Int]): Int = {
    val (db, table, loc) = resolve(spark, t)
    val fs = fsOf(spark, loc)
    val root = base(spark, db, table)
    val all = manifests(fs, root)
    val byAge = olderThanMs
      .map(cut => all.filter(_.createdAtMs < cut).map(_.id).toSet)
      .getOrElse(Set.empty[Long])
    val byCount = keepLast
      .map(k => all.dropRight(math.max(k, 0)).map(_.id).toSet)
      .getOrElse(Set.empty[Long])
    val doomed =
      if (olderThanMs.isEmpty && keepLast.isEmpty) all.map(_.id).toSet
      else byAge ++ byCount
    doomed.foreach(id => fs.delete(new Path(root, id.toString), true))
    if (doomed.nonEmpty) gcArchive(fs, root)
    doomed.size
  }

  /** Delete archived files no remaining manifest references, pruning
    * emptied directories bottom-up. */
  private def gcArchive(fs: FileSystem, root: Path): Unit = {
    val arch = archiveRoot(root)
    if (!fs.exists(arch)) return
    val referenced = referencedFiles(fs, root)
    val it = fs.listFiles(arch, true)
    val doomed = Seq.newBuilder[Path]
    while (it.hasNext) {
      val f = it.next()
      if (f.isFile && !referenced.contains(relativize(arch, f.getPath)))
        doomed += f.getPath
    }
    doomed.result().foreach(p => fs.delete(p, false))
    pruneEmptyDirs(fs, arch)
  }

  private def pruneEmptyDirs(fs: FileSystem, dir: Path): Boolean = {
    if (!fs.exists(dir)) return true
    val children = fs.listStatus(dir)
    // map-then-forall: every child directory gets pruned even when an
    // earlier sibling file means this directory itself must survive
    val gone = children.map { st =>
      if (st.isDirectory) pruneEmptyDirs(fs, st.getPath) else false
    }
    if (children.isEmpty || gone.forall(identity)) {
      fs.delete(dir, false)
      true
    } else false
  }

  /** Drop every snapshot of a table — DROP TABLE hygiene, so a
    * recreated table never inherits a predecessor's history. Needs no
    * catalog metadata (callable after the drop). */
  def purge(spark: SparkSession, t: String): Unit = {
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(t)
    val db = ident.database.getOrElse(spark.catalog.currentDatabase)
    val root = base(spark, db, ident.table)
    val fs = fsOf(spark, root)
    if (fs.exists(root)) fs.delete(root, true)
  }

  /** Warehouse-wide snapshot inventory for the `system_snapshots`
    * view: (qualified table, snapshot, file count) per manifest, read
    * straight from the snapshot roots — no catalog resolution, so
    * orphaned histories (external drops) still show up for cleanup. */
  def listAll(spark: SparkSession): Seq[(String, SnapshotInfo, Int)] = {
    val root = new Path(new Path(spark.conf.get("spark.sql.warehouse.dir")),
      ".graft-snapshots")
    val fs = fsOf(spark, root)
    if (!fs.exists(root)) return Seq.empty
    fs.listStatus(root).toSeq.filter(_.isDirectory).flatMap { st =>
      val table = st.getPath.getName
      manifests(fs, st.getPath).map(m =>
        (table, SnapshotInfo(m.id, m.operation, m.createdAtMs), m.files.length))
    }
  }

  /** DROP DATABASE hygiene: drop every `<db>.<table>` snapshot root. */
  def purgeDatabase(spark: SparkSession, db: String): Unit = {
    val root = new Path(new Path(spark.conf.get("spark.sql.warehouse.dir")),
      ".graft-snapshots")
    val fs = fsOf(spark, root)
    if (!fs.exists(root)) return
    fs.listStatus(root)
      .filter(_.getPath.getName.startsWith(s"$db."))
      .foreach(st => fs.delete(st.getPath, true))
  }
}
