package graft

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.engine.{CommitLog, QueryEngine}

/** Per-file stats live in the commit-log manifest: every commit path
  * (UPDATE, DELETE, MERGE, INSERT, appendBatch) publishes a size, a
  * row count and — for the columns of the table's zonemap indexes —
  * bounds for every live file, and no zonemap shard is ever built.
  * With the evidence in the manifest the planner already resolved, a
  * 1-row UPDATE on a zonemap-only table runs only its match-scope and
  * staged-write jobs. */
class ManifestStatsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  lazy val engine = new QueryEngine(spark)

  private val Db = "mstats"

  private def locOf(t: String): Path = new Path(
    spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(t)).location)

  private def fs = new Path(spark.conf.get("spark.sql.warehouse.dir"))
    .getFileSystem(spark.sessionState.newHadoopConf())

  /** A table of `files` key-range files, loaded through the engine's
    * batch append, with a zonemap index on its key. */
  private def ordersTable(name: String, files: Int): String = {
    val t = loadedTable(name, files)
    engine.execute(s"CREATE INDEX oz ON $t (o_orderkey)")
    t
  }

  private def loadedTable(name: String, files: Int): String = {
    engine.execute(s"CREATE DATABASE IF NOT EXISTS $Db")
    engine.execute(s"DROP TABLE IF EXISTS $Db.$name")
    engine.execute(
      s"""CREATE TABLE $Db.$name (o_orderkey int64, o_custkey int64,
         |  o_comment string) STORAGE filesystem""".stripMargin)
    val t = s"$Db.$name"
    engine.appendBatch(t, spark.range(0, files * 100L)
      .select(col("id").as("o_orderkey"), (col("id") % 7).as("o_custkey"),
        concat(lit("c"), col("id").cast("string")).as("o_comment"))
      .repartitionByRange(files, col("o_orderkey")))
    t
  }

  private def assertStats(t: String, step: String): Unit = {
    val shards = new Path(spark.conf.get("spark.sql.warehouse.dir"),
      s".graft-indexes/${t.toLowerCase}/oz/data")
    assert(!fs.exists(shards), s"$step: a zonemap index builds no shards")
    val loc = locOf(t)
    val m = CommitLog.current(fs, loc).get
    assert(m.files.nonEmpty)
    m.files.foreach { f =>
      val st = m.stats.getOrElse(f, fail(s"$step: $f has no stats"))
      val p = new Path(loc, f)
      assert(st.bytes == fs.getFileStatus(p).getLen, s"$step: $f size")
      assert(st.rows == spark.read.parquet(p.toString).count(), s"$step: $f rows")
      assert(st.bounds.get("o_orderkey").exists(_.isDefined),
        s"$step: $f has no o_orderkey bounds: ${st.bounds}")
    }
    assert(m.files.map(m.stats(_).rows).sum ==
      spark.table(t).count(), s"$step: row counts sum to the table")
  }

  /** Every live file of `t` carries a readable `o_comment` filter that
    * holds each of the file's values. */
  private def assertBlooms(t: String, step: String): Unit = {
    val loc = locOf(t)
    val m = CommitLog.current(fs, loc).get
    m.files.foreach { f =>
      assert(m.stats.get(f).exists(_.blooms == Set("o_comment")), s"$step: $f unmarked")
      assert(fs.exists(new Path(CommitLog.bloomDir(loc, f), "o_comment")),
        s"$step: $f has no sidecar")
      val bf = CommitLog.readBloom(fs, loc, f, "o_comment")
        .getOrElse(fail(s"$step: $f has no readable filter"))
      spark.read.parquet(new Path(loc, f).toString).select("o_comment")
        .collect().foreach(r => assert(bf.mightContainBinary(
          r.getString(0).getBytes("UTF-8")), s"$step: $f misses ${r.getString(0)}"))
    }
  }

  test("every commit path publishes size, row count and bounds per live file") {
    val t = ordersTable("o1", 4)
    assertStats(t, "CREATE INDEX")
    engine.execute(s"UPDATE $t SET o_comment = 'u' WHERE o_orderkey = 150")
    assertStats(t, "UPDATE")
    engine.execute(s"DELETE FROM $t WHERE o_orderkey = 250")
    assertStats(t, "DELETE")
    engine.execute(
      s"""MERGE INTO $t AS tg
         |USING (SELECT * FROM (VALUES (10, 1, 'm10'), (9000, 2, 'm9000'))
         |  AS v(o_orderkey, o_custkey, o_comment)) AS s
         |ON tg.o_orderkey = s.o_orderkey
         |WHEN MATCHED THEN UPDATE SET o_comment = s.o_comment
         |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey, o_comment)
         |  VALUES (s.o_orderkey, s.o_custkey, s.o_comment)""".stripMargin)
    assertStats(t, "MERGE")
    engine.execute(s"INSERT INTO $t VALUES (9100, 3, 'i')")
    assertStats(t, "INSERT")
    engine.appendBatch(t, spark.range(9200, 9210).select(
      col("id").as("o_orderkey"), lit(4L).as("o_custkey"),
      lit("b").as("o_comment")))
    assertStats(t, "appendBatch")
    assert(engine.execute(s"SELECT o_comment FROM $t WHERE o_orderkey = 10")
      .data == Seq(Seq("m10")))
  }

  test("an older build's two-field file lines parse without stats; the next publish fills them") {
    val t = ordersTable("old", 3)
    engine.execute(s"CREATE INDEX ob ON $t (o_comment) USING bloom")
    assertBlooms(t, "CREATE INDEX")
    val loc = locOf(t)
    val m = CommitLog.current(fs, loc).get
    val mf = new Path(CommitLog.logDir(loc), f"v${m.version}%012d.manifest")
    val in = fs.open(mf)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
               finally in.close()
    // rewrite the current manifest as an older build wrote it
    val out = fs.create(mf, true)
    out.write(text.split("\n").map { l =>
      if (l.startsWith("file\t")) l.split("\t").take(2).mkString("\t") else l
    }.mkString("", "\n", "\n").getBytes("UTF-8"))
    out.close()
    val old = CommitLog.current(fs, loc).get
    assert(old.files.toSet == m.files.toSet && old.stats.isEmpty)
    // an older build wrote no filter sidecars either
    old.files.foreach(f => fs.delete(CommitLog.bloomDir(loc, f), true))
    engine.execute(s"INSERT INTO $t VALUES (7000, 1, 'new')")
    assertStats(t, "publish after an older build's manifest")
    assertBlooms(t, "publish after an older build's manifest")
  }

  test("tools/iceberg_check.py accepts the mirror's counts and sizes after INSERT, UPDATE, DELETE and OPTIMIZE") {
    val t = ordersTable("oi", 4)
    def check(step: String): Unit = {
      val out = scala.sys.process.Process(Seq("python3",
        "tools/iceberg_check.py", locOf(t).toUri.getPath)).!!
      assert(out.contains("ICEBERG_CHECK PASS"), s"$step: $out")
    }
    engine.execute(s"INSERT INTO $t VALUES (5000, 1, 'i')")
    check("INSERT")
    engine.execute(s"UPDATE $t SET o_comment = 'u' WHERE o_orderkey = 120")
    check("UPDATE")
    engine.execute(s"DELETE FROM $t WHERE o_orderkey = 220")
    check("DELETE")
    engine.execute(s"OPTIMIZE $t")
    check("OPTIMIZE")
  }

  test("tools/iceberg_check.py --all-snapshots accepts every mirror snapshot after DELETE and ALTER DROP COLUMN") {
    val t = ordersTable("oa", 4)
    engine.execute(s"DELETE FROM $t WHERE o_orderkey = 120")
    engine.execute(s"ALTER TABLE $t DROP COLUMN o_comment")
    // the pre-ALTER snapshots list the files ALTER replaced: each must
    // still be at its recorded path, with its recorded size and rows
    val out = scala.sys.process.Process(Seq("python3",
      "tools/iceberg_check.py", locOf(t).toUri.getPath, "--all-snapshots")).!!
    assert(out.contains("ICEBERG_CHECK PASS"), out)
    val snapshots = "snapshots_checked=(\\d+)".r.findFirstMatchIn(out).get.group(1).toInt
    assert(snapshots >= 3, out)
  }

  /** Runs `f` with a counter of the Spark jobs a statement runs,
    * matched by a local-property tag. */
  private def withJobCounter(f: ((=> Unit) => Int) => Unit): Unit = {
    val tagKey = "graft.spec.jobtag"
    val jobs = new java.util.concurrent.ConcurrentHashMap[
      String, java.util.concurrent.atomic.AtomicInteger]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty(tagKey)))
          .foreach(tag => jobs.computeIfAbsent(tag,
            _ => new java.util.concurrent.atomic.AtomicInteger()).incrementAndGet())
    }
    spark.sparkContext.addSparkListener(listener)
    def jobsOf(body: => Unit): Int = {
      val tag = java.util.UUID.randomUUID().toString
      spark.sparkContext.setLocalProperty(tagKey, tag)
      try body finally spark.sparkContext.setLocalProperty(tagKey, null)
      // a sentinel job: once the listener sees it, every earlier
      // event has been delivered (one ordered listener queue)
      val sentinel = tag + "-sentinel"
      spark.sparkContext.setLocalProperty(tagKey, sentinel)
      try spark.range(1).count() finally
        spark.sparkContext.setLocalProperty(tagKey, null)
      val deadline = System.currentTimeMillis() + 30000
      while (!jobs.containsKey(sentinel) && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      Option(jobs.get(tag)).map(_.get).getOrElse(0)
    }
    try f(jobsOf(_)) finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a 1-row UPDATE on a 16-file zonemap-only table runs at most 3 Spark jobs") {
    val t = ordersTable("o16", 16)
    assert(spark.table(t).inputFiles.length == 16)
    withJobCounter { jobsOf =>
      engine.execute(s"UPDATE $t SET o_comment = 'warm' WHERE o_orderkey = 5")
      val n = jobsOf(engine.execute(
        s"UPDATE $t SET o_comment = 'x' WHERE o_orderkey = 777"))
      info(s"1-row UPDATE: $n Spark jobs")
      assert(n >= 1 && n <= 3, s"1-row UPDATE ran $n Spark jobs")
      assert(engine.execute(s"SELECT o_comment FROM $t WHERE o_orderkey = 777")
        .data == Seq(Seq("x")))
    }
  }

  test("a 1-row UPDATE on a 16-file bloom-only table runs at most 3 Spark jobs; the next point read plans with none") {
    val t = loadedTable("b16", 16)
    engine.execute(s"CREATE INDEX ob ON $t (o_comment) USING bloom")
    assert(spark.table(t).inputFiles.length == 16)
    withJobCounter { jobsOf =>
      engine.execute(s"UPDATE $t SET o_custkey = 50 WHERE o_comment = 'c5'")
      // scope, staged write and the replacement file's filter build
      val n = jobsOf(engine.execute(
        s"UPDATE $t SET o_custkey = 77 WHERE o_comment = 'c777'"))
      info(s"1-row UPDATE on a bloom column: $n Spark jobs")
      assert(n >= 1 && n <= 3, s"1-row UPDATE ran $n Spark jobs")
      val q = s"SELECT o_orderkey, o_custkey FROM $t WHERE o_comment = 'c1234'"
      var read = 0L
      val planning = jobsOf {
        read = spark.sql(q).queryExecution.optimizedPlan.collect {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            l.relation.asInstanceOf[
              org.apache.spark.sql.execution.datasources.HadoopFsRelation]
              .location.inputFiles.length.toLong
        }.sum
      }
      assert(planning == 0, s"planning a point read ran $planning Spark jobs")
      assert(read < 16L, s"bloom evidence should prune, read $read of 16 files")
      assert(engine.execute(q).data == Seq(Seq(1234L, 1234L % 7)))
      assert(engine.execute(
        s"SELECT o_custkey FROM $t WHERE o_comment = 'c777'").data == Seq(Seq(77L)))
    }
  }
}
