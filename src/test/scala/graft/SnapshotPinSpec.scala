package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{CommitLog, QueryEngine}

/** A snapshot is a pinned commit-log version: with no grace window at
  * all, the file a DELETE replaced stays retired in place in the table
  * dir — with its bloom filter sidecar — for as long as a snapshot pins
  * the version that lists it, and the publish of the EXPIRE that
  * unpins it deletes both. No copy of it ever exists outside the table
  * dir. */
class SnapshotPinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  lazy val engine = new QueryEngine(spark)

  private def locOf(t: String): Path = new Path(
    spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(t)).location)

  test("a pinned version keeps its replaced file in place until EXPIRE SNAPSHOTS frees it") {
    spark.conf.set("spark.graft.commitlog.graceMs", "0")
    spark.conf.set("spark.graft.commitlog.maxSkewMs", "0")
    try {
      engine.execute("CREATE DATABASE IF NOT EXISTS pin")
      engine.execute("DROP TABLE IF EXISTS pin.t")
      engine.execute("CREATE TABLE pin.t (id int64, v string) STORAGE filesystem")
      engine.execute("INSERT INTO pin.t VALUES (1,'a'),(2,'b')")
      engine.execute("INSERT INTO pin.t VALUES (3,'c')")
      engine.execute("CREATE INDEX vb ON pin.t (v) USING bloom")
      val loc = locOf("pin.t")
      val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
      val before = CommitLog.current(fs, loc).get.files.toSet

      engine.execute("DELETE FROM pin.t WHERE id = 1") // snapshot 1
      val replaced = before -- CommitLog.current(fs, loc).get.files
      assert(replaced.size == 1, s"expected one replaced file: $replaced")
      val rel = replaced.head
      val file = new Path(loc, rel)
      val sidecar = new Path(CommitLog.bloomDir(loc, rel), "v")
      assert(fs.exists(sidecar), s"retired file $rel lost its filter")

      // later commits run GC with every retired entry past grace: the
      // pinned file stays retired, on disk, in the table dir
      (4 to 5).foreach { i =>
        Thread.sleep(5)
        engine.execute(s"INSERT INTO pin.t VALUES ($i,'x')")
      }
      assert(fs.exists(file), s"pinned file $rel was deleted")
      assert(fs.exists(sidecar), s"pinned file $rel lost its filter")
      assert(CommitLog.current(fs, loc).get.retired.exists(_.rel == rel))
      assert(engine.execute("SELECT id FROM pin.t VERSION AS OF 1 ORDER BY id")
        .data.map(_.head) == Seq(1L, 2L, 3L))
      val warehouse = Paths.get(loc.toUri.getPath).getParent.getParent
      def copiesOutside(): Seq[java.nio.file.Path] =
        Files.walk(warehouse).iterator().asScala
          .filter(p => p.getFileName.toString == file.getName &&
            !p.startsWith(Paths.get(loc.toUri.getPath))).toSeq
      assert(copiesOutside().isEmpty, copiesOutside().mkString(", "))

      Thread.sleep(5)
      assert(engine.execute("EXPIRE SNAPSHOTS FROM pin.t").message ==
        "Expired 1 snapshot(s)")
      assert(!fs.exists(file), s"unpinned file $rel survived EXPIRE's publish")
      assert(!fs.exists(CommitLog.bloomDir(loc, rel)),
        s"unpinned file $rel's filter survived EXPIRE's publish")
      assert(!CommitLog.current(fs, loc).get.retired.exists(_.rel == rel))
      assert(copiesOutside().isEmpty, copiesOutside().mkString(", "))
      assert(engine.execute("SELECT id FROM pin.t ORDER BY id").data.map(_.head) ==
        Seq(2L, 3L, 4L, 5L))
      engine.execute("DROP TABLE pin.t")
    } finally {
      spark.conf.unset("spark.graft.commitlog.graceMs")
      spark.conf.unset("spark.graft.commitlog.maxSkewMs")
    }
  }
}
