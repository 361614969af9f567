package graft

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{CommitLog, QueryEngine}

/** Per-table atomic commit log (round-11 verdict "Next #1"), single-JVM
  * mechanics: manifest versioning by atomic rename, in-place
  * retirement of replaced files, grace-window GC, the no-op-publish
  * skip, and the reader rule filtering retired files out of scans. The
  * CROSS-process contract is ConcurrencySoak2JvmSpec. */
class CommitLogSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  lazy val engine = new QueryEngine(spark)

  private val Db = "cldb"

  private def freshTable(name: String, ranges: Int = 4): String = {
    engine.execute(s"CREATE DATABASE IF NOT EXISTS $Db")
    engine.execute(s"DROP TABLE IF EXISTS $Db.$name")
    engine.execute(
      s"""CREATE TABLE $Db.$name (id int64 NOT NULL, v string)
         |STORAGE filesystem SETTINGS commitlog=true""".stripMargin)
    (0 until ranges).foreach { r =>
      val vals = (r * 100 until r * 100 + 10)
        .map(i => s"($i, 'row $i')").mkString(", ")
      engine.execute(s"INSERT INTO $Db.$name VALUES $vals")
    }
    s"$Db.$name"
  }

  private def locOf(t: String): Path = new Path(
    spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(t)).location)

  private def fs = new Path(spark.conf.get("spark.sql.warehouse.dir"))
    .getFileSystem(spark.sessionState.newHadoopConf())

  private def diskDataFiles(loc: Path): Seq[String] = {
    val out = Seq.newBuilder[String]
    val it = fs.listFiles(loc, true)
    while (it.hasNext) {
      val f = it.next()
      val n = f.getPath.getName
      if (f.isFile && n.endsWith(".parquet") &&
          !n.startsWith("_") && !n.startsWith("."))
        out += f.getPath.toString
    }
    out.result()
  }

  test("every DML publishes a manifest; CoW retires in place; reads filter retired files") {
    val t = freshTable("m1")
    val loc = locOf(t)
    // four inserts = four commits
    assert(CommitLog.currentVersion(fs, loc) == 4L)
    val m4 = CommitLog.current(fs, loc).get
    assert(m4.files.size >= 4 && m4.retired.isEmpty)

    engine.execute(s"CREATE INDEX zi ON $t (id)") // zonemap, enables file-CoW
    // CREATE INDEX changes no data files: the no-op publish skipped
    assert(CommitLog.currentVersion(fs, loc) == 4L)

    val del = engine.execute(s"DELETE FROM $t WHERE id = 105")
    assert(del.message == "DELETE 1")
    val m5 = CommitLog.current(fs, loc).get
    assert(m5.version == 5L)
    assert(m5.retired.nonEmpty, "file-level CoW must retire, not delete")
    // the retired file is STILL ON DISK (older-manifest readers in
    // other processes keep resolving it) but invisible to scans
    m5.retired.foreach(r => assert(fs.exists(new Path(loc, r.rel)),
      s"retired ${r.rel} must stay in place"))
    assert(diskDataFiles(loc).size > m5.files.size)
    assert(engine.execute(s"SELECT count(*) AS n FROM $t").data.head.head == 39L)
    assert(engine.execute(s"SELECT count(*) AS n FROM $t WHERE id = 105")
      .data.head.head == 0L)
    // scan file set == manifest file set, exactly (read off the
    // OPTIMIZED plan — the rule runs in the optimizer)
    val scanned = spark.table(t).queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation.asInstanceOf[
          org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.inputFiles.toSeq
    }.flatten.toSet
      .map((s: String) => graft.engine.FsPaths.fromListing(s).toUri.getPath)
    val manifest = m5.files.toSet
      .map((r: String) => new Path(loc, r).toUri.getPath)
    assert(scanned == manifest, s"scan=$scanned manifest=$manifest")
  }

  test("grace-window GC: a later commit deletes out-of-grace retired files") {
    val t = freshTable("m2")
    val loc = locOf(t)
    engine.execute(s"CREATE INDEX zi ON $t (id)")
    engine.execute(s"DELETE FROM $t WHERE id = 205")
    val retired = CommitLog.current(fs, loc).get.retired
    assert(retired.nonEmpty)
    // the DELETE's snapshot pins the version listing the retired file;
    // unpin it, so only the grace window holds the file
    engine.execute(s"EXPIRE SNAPSHOTS FROM $t")
    Thread.sleep(5) // make the retirement strictly older than "now"
    spark.conf.set("spark.graft.commitlog.graceMs", "1")
    spark.conf.set("spark.graft.commitlog.maxSkewMs", "0")
    try engine.execute(s"UPDATE $t SET v = 'x' WHERE id = 305")
    finally { spark.conf.unset("spark.graft.commitlog.graceMs"); spark.conf.unset("spark.graft.commitlog.maxSkewMs") }
    val after = CommitLog.current(fs, loc).get
    retired.foreach(r => assert(!fs.exists(new Path(loc, r.rel)),
      s"expired ${r.rel} should be GC'd"))
    assert(!after.retired.map(_.rel).toSet.exists(retired.map(_.rel).toSet),
      "GC'd entries must leave the log")
    // data still exact after GC
    assert(engine.execute(s"SELECT count(*) AS n FROM $t").data.head.head == 39L)
    assert(engine.execute(s"SELECT v FROM $t WHERE id = 305").data == Seq(Seq("x")))
  }

  test("every table keeps a commit log: engine CREATE logs its first INSERT; commitlog=false is refused") {
    engine.execute(s"CREATE DATABASE IF NOT EXISTS $Db")
    // a table created with no SETTINGS gets the log at its first commit
    engine.execute(s"DROP TABLE IF EXISTS $Db.plain")
    engine.execute(
      s"CREATE TABLE $Db.plain (id int64, v string) STORAGE filesystem")
    engine.execute(s"INSERT INTO $Db.plain VALUES (1, 'a')")
    assert(CommitLog.currentVersion(fs, locOf(s"$Db.plain")) == 1L,
      "new tables must keep a commit log")
    assert(engine.execute(s"SELECT count(*) AS c FROM $Db.plain")
      .data.head.head == 1L)

    // no statement can opt a table out: CREATE refuses commitlog=false
    engine.execute(s"DROP TABLE IF EXISTS $Db.optout")
    val created = intercept[Exception](engine.execute(
      s"""CREATE TABLE $Db.optout (id int64, v string)
         |STORAGE filesystem SETTINGS commitlog=false""".stripMargin))
    assert(created.getMessage.contains("commitlog"), created.getMessage)
    assert(!spark.catalog.tableExists(s"$Db.optout"))

    // ... and so does ALTER, after the log already retired files in
    // place: a reader that stopped resolving through the manifest
    // would count the retired files' rows as live
    val t = freshTable("optout2")
    engine.execute(s"UPDATE $t SET v = 'upd' WHERE id = 105")
    engine.execute(s"DELETE FROM $t WHERE id = 205")
    val altered = scala.util.Try(
      engine.execute(s"ALTER TABLE $t SETTINGS commitlog=false"))
    val n = engine.execute(s"SELECT count(*) AS n FROM $t").data.head.head
    val row105 = engine.execute(s"SELECT v FROM $t WHERE id = 105").data
    assert(n == 39L && row105 == Seq(Seq("upd")),
      s"count=$n, id = 105 rows=$row105")
    assert(altered.isFailure, "ALTER … SETTINGS commitlog=false must be refused")
    assert(altered.failed.get.getMessage.contains("commitlog"))
    // commitlog=true stays accepted as a no-op
    assert(engine.execute(s"ALTER TABLE $t SETTINGS commitlog=true")
      .message == "Settings updated")
  }

  test("a table created outside the engine gets its log at the first engine commit") {
    // no graft property on this table: the reader gate must be the
    // log itself, or the files the engine retires in place below
    // would read as live rows
    engine.execute(s"CREATE DATABASE IF NOT EXISTS $Db")
    val t = s"$Db.outside"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (id BIGINT, v STRING) USING parquet")
    spark.range(0, 40).selectExpr("id", "concat('row ', id) AS v")
      .repartitionByRange(4, org.apache.spark.sql.functions.col("id"))
      .write.insertInto(t)
    val loc = locOf(t)
    val before = diskDataFiles(loc).map(p => new Path(p).toUri.getPath).toSet
    assert(before.size == 4, before.toString)
    assert(CommitLog.currentVersion(fs, loc) == 0L)

    assert(engine.execute(s"UPDATE $t SET v = 'upd' WHERE id = 5").rowCount == 1L)
    assert(engine.execute(s"DELETE FROM $t WHERE id = 25").message == "DELETE 1")
    assert(engine.execute(s"SELECT count(*) AS n FROM $t").data.head.head == 39L)
    assert(spark.table(t).count() == 39L)
    assert(engine.execute(s"SELECT v FROM $t WHERE id = 5").data == Seq(Seq("upd")))

    val m = CommitLog.current(fs, loc)
    assert(m.isDefined, "the first engine commit must publish a manifest")
    val live = m.get.files.map(r => new Path(loc, r).toUri.getPath).toSet
    val replaced = before -- live
    assert(replaced.size == 2, s"UPDATE and DELETE each replace one file: $replaced")
    val retired = m.get.retired.map(r => new Path(loc, r.rel).toUri.getPath).toSet
    replaced.foreach { f =>
      assert(retired.contains(f), s"$f must be retired, not deleted")
      assert(fs.exists(new Path(f)), s"$f must stay on disk")
    }
    spark.sql(s"DROP TABLE $t")

    // the log lists parquet data files only: a table in another format
    // gets none, and its rows stay readable
    val j = s"$Db.outside_json"
    spark.sql(s"DROP TABLE IF EXISTS $j")
    spark.sql(s"CREATE TABLE $j (id BIGINT, v STRING) USING json")
    engine.execute(s"INSERT INTO $j VALUES (1, 'a'), (2, 'b')")
    assert(CommitLog.currentVersion(fs, locOf(j)) == 0L)
    assert(engine.execute(s"SELECT count(*) AS n FROM $j").data.head.head == 2L)
    // its snapshot publishes nothing and pins version 0, the empty
    // listing: the table keeps reading its own files
    spark.conf.set("spark.graft.snapshots.oninsert", "true")
    try engine.execute(s"INSERT INTO $j VALUES (3, 'c')")
    finally spark.conf.unset("spark.graft.snapshots.oninsert")
    assert(CommitLog.currentVersion(fs, locOf(j)) == 0L)
    assert(engine.execute(s"SELECT count(*) AS n FROM $j").data.head.head == 3L)
    assert(spark.table(j).count() == 3L)
    assert(engine.execute(s"SHOW SNAPSHOTS FROM $j").rowCount == 1)
    assert(engine.execute(
      s"SELECT count(*) AS n FROM $j VERSION AS OF 1").data.head.head == 0L)
    // ALTER's column rewrite makes it a parquet table holding every
    // row, and retires the json files in place
    val jsonFiles = fs.listStatus(locOf(j)).map(_.getPath.getName)
      .filter(_.endsWith(".json")).toSet
    assert(jsonFiles.nonEmpty)
    assert(engine.execute(s"ALTER TABLE $j DROP COLUMN v").message == "Column v dropped")
    assert(CommitLog.currentVersion(fs, locOf(j)) == 1L)
    assert(engine.execute(s"SELECT count(*) AS n FROM $j").data.head.head == 3L)
    assert(engine.execute(s"SELECT sum(id) AS s FROM $j").data.head.head == 6L)
    assert(spark.table(j).count() == 3L)
    assert(spark.table(j).schema.fieldNames.toSeq == Seq("id"))
    assert(CommitLog.current(fs, locOf(j)).get.retired.map(_.rel).toSet == jsonFiles)
    spark.sql(s"DROP TABLE $j")
  }

  test("PARTITIONED table: retirement inside partition dirs, manifest rels round-trip") {
    engine.execute(s"CREATE DATABASE IF NOT EXISTS $Db")
    engine.execute(s"DROP TABLE IF EXISTS $Db.pt")
    engine.execute(
      s"""CREATE TABLE $Db.pt (id int64 NOT NULL, v string, r string)
         |STORAGE filesystem PARTITION BY (r)
         |SETTINGS commitlog=true""".stripMargin)
    // two partitions x two id-range files each; partition value with a
    // quote exercises the escaped-dir encoding end to end
    for (r <- Seq("emea", "o'brien"); base <- Seq(0, 100)) {
      val off = if (r == "emea") 0 else 1000
      val vals = (base + off until base + off + 10)
        .map(i => s"($i, 'row $i', '${r.replace("'", "''")}')").mkString(", ")
      engine.execute(s"INSERT INTO $Db.pt VALUES $vals")
    }
    engine.execute(s"CREATE INDEX zi ON $Db.pt (id)")
    val loc = locOf(s"$Db.pt")
    val before = CommitLog.current(fs, loc).get
    assert(before.files.size >= 4)
    assert(before.files.exists(_.contains("r=")), before.files.toString)

    val del = engine.execute(s"DELETE FROM $Db.pt WHERE id = 1105")
    assert(del.message == "DELETE 1", del.message)
    val after = CommitLog.current(fs, loc).get
    assert(after.retired.nonEmpty, "partitioned CoW must retire in place")
    after.retired.foreach { r =>
      assert(r.rel.contains("r="), s"retired rel should live in a partition dir: ${r.rel}")
      assert(fs.exists(new Path(loc, r.rel)), s"retired ${r.rel} must stay on disk")
    }
    // reads exact across both partitions, retired rows invisible
    assert(engine.execute(s"SELECT count(*) AS n FROM $Db.pt").data.head.head == 39L)
    assert(engine.execute(
      s"SELECT count(*) AS n FROM $Db.pt WHERE r = 'o''brien'").data.head.head == 19L)
    assert(engine.execute(
      s"SELECT v FROM $Db.pt WHERE id = 1104").data == Seq(Seq("row 1104")))
  }

  test("manifest stamps never repeat across a log reset (reader re-list gate)") {
    // DROP then CREATE at the same location empties the log and version
    // numbering restarts at 1 — a reader that re-list-gated on the NUMBER would
    // skip the refresh for the new v1 and silently filter a stale
    // listing; the gate is the per-manifest UUID stamp instead
    val t = freshTable("m4", ranges = 2)
    val loc = locOf(t)
    val m1 = CommitLog.current(fs, loc).get
    assert(m1.stamp.nonEmpty)
    fs.delete(CommitLog.logDir(loc), true) // simulate the truncation
    engine.execute(s"INSERT INTO $t VALUES (999, 'z')")
    val m2 = CommitLog.current(fs, loc).get
    assert(m2.version == 1L, s"numbering restarts, got v${m2.version}")
    assert(m2.stamp.nonEmpty && m2.stamp != m1.stamp,
      "stamps must differ across the reset")
    // and reads stay exact through the reset
    assert(engine.execute(s"SELECT count(*) AS n FROM $t").data.head.head == 21L)
  }

  test("commit point is exclusive: publishing onto an existing version cannot clobber it") {
    // RawLocalFileSystem.rename delegates to File#renameTo, which on
    // POSIX OVERWRITES an existing destination — the round-12 advice
    // lost-manifest race. The commit point is link(2) on the local FS:
    // the loser gets a detected failure and the winner's manifest
    // (with its retirement entries) survives bit-for-bit.
    val t = freshTable("m5", ranges = 1)
    val loc = locOf(t)
    val dir = CommitLog.logDir(loc)
    val dst = new Path(dir, f"v${99L}%012d.manifest")
    def writeTmp(tag: String): Path = {
      val p = new Path(dir, s".race.$tag.tmp")
      val out = fs.create(p, true)
      out.write(s"version\t99\nstamp\t$tag\n".getBytes("UTF-8")); out.close()
      p
    }
    assert(CommitLog.commitManifest(fs, writeTmp("winner"), dst, "winner"))
    val winner = CommitLog.read(fs, loc, 99L).get
    assert(winner.stamp == "winner")
    val loserTmp = writeTmp("loser")
    assert(!CommitLog.commitManifest(fs, loserTmp, dst, "loser"),
      "second publish of the same version must be DETECTED, not absorbed")
    assert(CommitLog.read(fs, loc, 99L).get.stamp == "winner",
      "the committed manifest must survive the losing attempt unchanged")
    fs.delete(loserTmp, false); fs.delete(dst, false)
  }

  test("8 concurrent publishers: no lost retirements, dense versions, bounded retries") {
    // cross-process collisions simulated by bypassing the in-JVM write
    // lock: 8 threads race CommitLog.publish on one table. Every
    // loser's retry must MERGE over the winner's manifest, so all 8
    // retirement entries survive and versions advance by exactly 1 per
    // publish (round-12 verdict Next #4, in-JVM leg; the 2-process leg
    // is ConcurrencySoak2JvmSpec).
    val t = freshTable("m6", ranges = 2)
    val loc = locOf(t)
    val v0 = CommitLog.currentVersion(fs, loc)
    val before = CommitLog.publishRetries.get()
    val rels = (0 until 8).map(i => s"ghost-$i.parquet")
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = rels.map { rel =>
      new Thread(() =>
        try CommitLog.publish(spark, loc, Seq(rel))
        catch { case e: Throwable => errs.add(e) })
    }
    threads.foreach(_.start()); threads.foreach(_.join(60000))
    assert(errs.isEmpty, s"publishes must all land within the retry budget: ${errs}")
    val fin = CommitLog.current(fs, loc).get
    assert(fin.version == v0 + 8,
      s"8 non-noop publishes must advance exactly 8 versions, got ${fin.version - v0}")
    val retained = fin.retired.map(_.rel).toSet
    rels.foreach(r => assert(retained.contains(r),
      s"retirement $r lost in the race — the clobber bug"))
    val retries = CommitLog.publishRetries.get() - before
    assert(retries <= 8L * 10, s"retries must stay bounded, got $retries")
    info(s"publish retries across the 8-writer burst: $retries")
  }

  test("commit log composes with OPTIMIZE ZORDER: log continues, reads exact, next DML publishes") {
    // a whole-table maintenance rewrite commits like any DML: the
    // pre-OPTIMIZE live files retire in place, the log gains exactly
    // one version, and every subsequent read and commit stays exact
    // (round-12 verdict Next #4, composition leg)
    val t = freshTable("m7")
    val loc = locOf(t)
    engine.execute(s"CREATE INDEX zi ON $t (id)")
    engine.execute(s"DELETE FROM $t WHERE id = 105")
    val pre = CommitLog.current(fs, loc).get
    assert(pre.retired.nonEmpty)
    engine.execute(s"OPTIMIZE $t ZORDER BY (id, v)")
    val post = CommitLog.current(fs, loc).get
    assert(post.version == pre.version + 1,
      s"OPTIMIZE must publish exactly one version: ${pre.version} -> ${post.version}")
    assert(pre.files.toSet.subsetOf(post.retired.map(_.rel).toSet),
      "the pre-OPTIMIZE live files must retire in place")
    assert(post.files.toSet.intersect(pre.files.toSet).isEmpty)
    assert(engine.execute(s"SELECT count(*) AS n FROM $t").data.head.head == 39L)
    // the next DML continues the same log
    engine.execute(s"UPDATE $t SET v = 'z' WHERE id = 205")
    val next = CommitLog.current(fs, loc).get
    assert(next.version == post.version + 1,
      s"unexpected version sequence: ${post.version} -> ${next.version}")
    assert(engine.execute(s"SELECT v FROM $t WHERE id = 205").data == Seq(Seq("z")))
    assert(engine.execute(s"SELECT count(*) AS n FROM $t").data.head.head == 39L)
    // scan file set == manifest file set after the composition
    val scanned = spark.table(t).queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation.asInstanceOf[
          org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.inputFiles.toSeq
    }.flatten.toSet
      .map((s: String) => graft.engine.FsPaths.fromListing(s).toUri.getPath)
    assert(scanned == next.files.toSet
      .map((r: String) => new Path(loc, r).toUri.getPath))
  }

  test("OPTIMIZE counts live files: retired files on disk neither inflate the count nor trigger a rewrite") {
    val t = freshTable("m9")
    val loc = locOf(t)
    engine.execute(s"CREATE INDEX zi ON $t (id)")
    engine.execute(s"DELETE FROM $t WHERE id = 105") // retires one file in place
    val live = CommitLog.current(fs, loc).get.files.size
    assert(diskDataFiles(loc).size > live)
    val first = engine.execute(s"OPTIMIZE $t")
    assert(first.message == s"OPTIMIZE: $live file(s) -> 1 file(s)", first.message)
    val compacted = CommitLog.current(fs, loc).get
    assert(compacted.files.size == 1)
    // the compacted table is already at its target: the retired files
    // still on disk must not make it look fragmented
    val second = engine.execute(s"OPTIMIZE $t")
    assert(second.message == "OPTIMIZE: 1 file(s) -> 1 file(s)", second.message)
    val again = CommitLog.current(fs, loc).get
    assert(again.version == compacted.version && again.stamp == compacted.stamp,
      "a no-op OPTIMIZE must not publish a version")
    assert(again.files == compacted.files)
    assert(engine.execute(s"SELECT count(*) AS n FROM $t").data.head.head == 39L)

    // partitioned: compaction ends at one file per partition, which is
    // the target too
    engine.execute(s"DROP TABLE IF EXISTS $Db.m9p")
    engine.execute(
      s"""CREATE TABLE $Db.m9p (id int64, v string, r string)
         |STORAGE filesystem PARTITION BY (r) SETTINGS commitlog=true""".stripMargin)
    (0 until 4).foreach(i =>
      engine.execute(s"INSERT INTO $Db.m9p VALUES ($i, 'a', 'x'), (${i + 100}, 'b', 'y')"))
    val ploc = locOf(s"$Db.m9p")
    val p1 = engine.execute(s"OPTIMIZE $Db.m9p")
    assert(p1.message == "OPTIMIZE: 8 file(s) -> 2 file(s)", p1.message)
    val pv = CommitLog.currentVersion(fs, ploc)
    val p2 = engine.execute(s"OPTIMIZE $Db.m9p")
    assert(p2.message == "OPTIMIZE: 2 file(s) -> 2 file(s)", p2.message)
    assert(CommitLog.currentVersion(fs, ploc) == pv)
  }

  test("snapshots compose: VERSION AS OF resolves across a retiring commit") {
    val t = freshTable("m3")
    engine.execute(s"CREATE INDEX zi ON $t (id)")
    val snaps0 = engine.execute(s"SHOW SNAPSHOTS FROM $t").rowCount
    engine.execute(s"DELETE FROM $t WHERE id = 105")
    val snaps = engine.execute(s"SHOW SNAPSHOTS FROM $t")
    assert(snaps.rowCount == snaps0 + 1)
    val sid = snaps.data.find(_.apply(1) == "DELETE").get.head
    val before = engine.execute(
      s"SELECT count(*) AS n FROM $t VERSION AS OF $sid")
    assert(before.data.head.head == 40L,
      s"snapshot must see the pre-DELETE state, got ${before.data}")
  }

  test("a snapshot lists the manifest's files, not files retired in place") {
    val t = freshTable("m8")
    engine.execute(s"CREATE INDEX zi ON $t (id)")
    engine.execute(s"DELETE FROM $t WHERE id = 105") // snapshots 40 rows
    engine.execute(s"DELETE FROM $t WHERE id = 205") // snapshots 39 rows
    // the first DELETE's replaced file is still on disk (grace window)
    val retired = CommitLog.current(fs, locOf(t)).get.retired
    assert(retired.nonEmpty && retired.forall(r => fs.exists(new Path(locOf(t), r.rel))))
    val ids = engine.execute(s"SHOW SNAPSHOTS FROM $t").data
      .filter(_.apply(1) == "DELETE").map(_.head.toString.toLong).sorted
    assert(ids.size == 2)
    def countAt(id: Long) = engine.execute(
      s"SELECT count(*) AS n FROM $t VERSION AS OF $id").data.head.head
    assert(countAt(ids(0)) == 40L)
    assert(countAt(ids(1)) == 39L,
      "the snapshot must not resurrect the rows of a retired file")
  }

  test("DML with no skip evidence: one version per commit, untouched paths kept, replaced file retired") {
    // a bloom index on v gives no evidence for predicates on id: the
    // commit still replaces only the file holding the match
    val t = freshTable("m9")
    engine.execute(s"CREATE INDEX bi ON $t (v) USING bloom")
    val loc = locOf(t)
    val m0 = CommitLog.current(fs, loc).get
    val up = engine.execute(s"UPDATE $t SET v = 'changed' WHERE id = 105")
    assert(up.message == "UPDATE 1")
    val m1 = CommitLog.current(fs, loc).get
    assert(m1.version == m0.version + 1, s"v${m0.version} -> v${m1.version}")
    val replaced1 = m0.files.toSet -- m1.files
    assert(replaced1.size == 1, s"one file replaced, got $replaced1")
    assert(m1.retired.map(_.rel).toSet == replaced1)
    replaced1.foreach(r => assert(fs.exists(new Path(loc, r)), s"$r retired in place"))

    val m = engine.execute(
      s"""MERGE INTO $t AS tg
         |USING (SELECT * FROM (VALUES (205, 'merged'), (9000, 'new')) AS v(id, v)) AS s
         |ON tg.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""".stripMargin)
    assert(m.message == "MERGE 1 updated, 0 deleted, 1 inserted", m.message)
    val m2 = CommitLog.current(fs, loc).get
    assert(m2.version == m1.version + 1, s"v${m1.version} -> v${m2.version}")
    val replaced2 = m1.files.toSet -- m2.files
    assert(replaced2.size == 1, s"one file replaced, got $replaced2")
    assert(m2.retired.map(_.rel).toSet == replaced1 ++ replaced2)
    assert(engine.execute(s"SELECT count(*) AS n FROM $t").data.head.head == 41L)
    assert(engine.execute(s"SELECT v FROM $t WHERE id = 105").data == Seq(Seq("changed")))
    assert(engine.execute(s"SELECT v FROM $t WHERE id = 205").data == Seq(Seq("merged")))
  }

  test("an UPDATE that SETs the partition column moves the row in one file-level commit") {
    engine.execute(s"CREATE DATABASE IF NOT EXISTS $Db")
    engine.execute(s"DROP TABLE IF EXISTS $Db.mv")
    engine.execute(
      s"""CREATE TABLE $Db.mv (id int64 NOT NULL, v string, r string)
         |STORAGE filesystem PARTITION BY (r)
         |SETTINGS commitlog=true""".stripMargin)
    for ((r, base) <- Seq("eu" -> 0, "us" -> 100, "eu" -> 200)) {
      val vals = (base until base + 10).map(i => s"($i, 'row $i', '$r')")
      engine.execute(s"INSERT INTO $Db.mv VALUES ${vals.mkString(", ")}")
    }
    val loc = locOf(s"$Db.mv")
    val m0 = CommitLog.current(fs, loc).get
    val up = engine.execute(s"UPDATE $Db.mv SET r = 'apac' WHERE id = 105")
    assert(up.message == "UPDATE 1", up.message)
    val m1 = CommitLog.current(fs, loc).get
    assert(m1.version == m0.version + 1, s"v${m0.version} -> v${m1.version}")
    val replaced = m0.files.toSet -- m1.files
    assert(replaced.size == 1 && replaced.head.startsWith("r=us/"), replaced.toString)
    assert(m1.files.exists(_.startsWith("r=apac/")), m1.files.toString)
    def byRegion = engine.execute(
      s"SELECT r, count(*) AS n FROM $Db.mv GROUP BY r ORDER BY r").data.map(_.toList)
    assert(byRegion == Seq(List("apac", 1L), List("eu", 20L), List("us", 9L)))
    assert(engine.execute(s"SELECT v FROM $Db.mv WHERE r = 'apac'").data ==
      Seq(Seq("row 105")))
    def partitions = spark.sql(s"SHOW PARTITIONS $Db.mv").collect().map(_.getString(0)).toSet
    assert(partitions == Set("r=apac", "r=eu", "r=us"))
    // moving it back empties r=apac: the partition leaves the catalog
    engine.execute(s"UPDATE $Db.mv SET r = 'us' WHERE r = 'apac'")
    assert(byRegion == Seq(List("eu", 20L), List("us", 10L)))
    assert(partitions == Set("r=eu", "r=us"))
  }
}
