package graft

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import graft.engine.{CommitLog, QueryEngine}

/** Soundness of the zonemap bounds the commit-log manifest takes from
  * parquet footers. Each case builds files whose footers are the hard
  * part — NaN, all-null, signed zero, oversized strings, decimals, an
  * int64 past 2^53 — and asserts that the rule's rows equal the rows
  * with `spark.graft.zonemap.select.enabled=false`, plus the rows the
  * data holds by construction. Files are written with small row groups
  * (`parquet.block.row.count.limit`) and adopted through
  * `reconcileCommitLog`, the out-of-band writer's path. */
class FooterBoundsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  lazy val engine = new QueryEngine(spark)
  import spark.implicits._

  private val Db = "fbounds"

  private def locOf(t: String): Path = new Path(
    spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(t)).location)

  private def fs = new Path(spark.conf.get("spark.sql.warehouse.dir"))
    .getFileSystem(spark.sessionState.newHadoopConf())

  private def freshTable(name: String, cols: String): String = {
    engine.execute(s"CREATE DATABASE IF NOT EXISTS $Db")
    engine.execute(s"DROP TABLE IF EXISTS $Db.$name")
    engine.execute(s"CREATE TABLE $Db.$name ($cols) STORAGE filesystem")
    s"$Db.$name"
  }

  /** One parquet file per frame, `rowGroup` rows per row group, then
    * one commit that adopts them all. */
  private def addFiles(t: String, rowGroup: Int, frames: DataFrame*): Unit = {
    frames.foreach(_.coalesce(1).write.mode("append")
      .option("parquet.block.row.count.limit", rowGroup.toString)
      .parquet(locOf(t).toString))
    engine.reconcileCommitLog(t)
  }

  private def scanFileCount(df: DataFrame): Long =
    df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation =>
        l.relation.asInstanceOf[HadoopFsRelation].location.inputFiles.length
    }.sum

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def withRuleOff[A](body: => A): A = {
    spark.conf.set("spark.graft.zonemap.select.enabled", "false")
    try body finally
      spark.conf.set("spark.graft.zonemap.select.enabled", "true")
  }

  /** Rows with the rule on == rows with it off; returns (rows, files read). */
  private def same(q: String): (Seq[String], Long) = {
    val df = spark.sql(q)
    val on = rows(df)
    val off = withRuleOff(rows(spark.sql(q)))
    assert(on == off, s"$q: pruned rows differ\n  on=$on\n  off=$off")
    (on, scanFileCount(df))
  }

  private def liveStats(t: String): Map[String, CommitLog.FileStats] = {
    val m = CommitLog.current(fs, locOf(t)).get
    m.files.map(f => f -> m.stats(f)).toMap
  }

  private def rowGroups(t: String, rel: String): Int = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new Path(locOf(t), rel), spark.sessionState.newHadoopConf()))
    try r.getFooter.getBlocks.size finally r.close()
  }

  test("NaN in a row group beside finite ones keeps its file under x > 5") {
    val t = freshTable("nan", "id int64, x float64")
    val n = Double.NaN
    addFiles(t, 4,
      // a finite row group, then one with NaN after finite values
      Seq((1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 4.0),
          (5L, 2.0), (6L, n), (7L, 3.0), (8L, 1.0)).toDF("id", "x"),
      // a row group led by NaN
      Seq((9L, n), (10L, 0.5)).toDF("id", "x"),
      // finite only, all < 5: provably empty for x > 5
      Seq((20L, 1.0), (21L, 4.5)).toDF("id", "x"),
      Seq((30L, 6.0), (31L, 7.0)).toDF("id", "x"))
    engine.execute(s"CREATE INDEX zx ON $t (x)")
    val withNaN = liveStats(t).filter(_._2.rows == 8L).keys.head
    assert(rowGroups(t, withNaN) == 2, "fixture must span two row groups")
    assert(liveStats(t).values.count(_.bounds("x").isEmpty) == 2,
      "both NaN-bearing files must be without bounds")
    val (got, read) = same(s"SELECT id FROM $t WHERE x > 5")
    // Spark orders NaN above every double: both NaN rows match
    assert(got == Seq("30", "31", "6", "9"), got)
    assert(read == 3L, s"only the finite <= 5 file may prune, read $read")
    assert(same(s"SELECT id FROM $t WHERE x < 1")._1 == Seq("10"))
  }

  test("an all-null column has no bounds and never loses a row") {
    val t = freshTable("nulls", "id int64, x float64")
    val none: Option[Double] = None
    addFiles(t, 2,
      Seq((1L, none), (2L, none), (3L, none)).toDF("id", "x"),
      // an all-null row group beside a valued one
      Seq((10L, none), (11L, none), (12L, Some(10.0)), (13L, Some(20.0)))
        .toDF("id", "x"),
      Seq((20L, Some(1.0)), (21L, Some(5.0))).toDF("id", "x"))
    engine.execute(s"CREATE INDEX zx ON $t (x)")
    val stats = liveStats(t)
    assert(stats.values.count(_.bounds("x").isEmpty) == 1,
      s"only the all-null file lacks bounds: $stats")
    assert(stats.values.exists(_.bounds("x").contains(
      CommitLog.NumBounds(10.0, 20.0))), "all-null row group must not widen")
    assert(same(s"SELECT id FROM $t WHERE x = 3")._1.isEmpty)
    assert(same(s"SELECT id FROM $t WHERE x > 0")._1 ==
      Seq("12", "13", "20", "21"))
    assert(same(s"SELECT id FROM $t WHERE x IS NULL")._1 ==
      Seq("1", "10", "11", "2", "3"))
    val (got, read) = same(s"SELECT id FROM $t WHERE x >= 10")
    assert(got == Seq("12", "13") && read == 2L, s"$got read=$read")
  }

  test("-0.0 and 0.0 at a file boundary keep every matching row") {
    val t = freshTable("zero", "id int64, x float64")
    addFiles(t, 8,
      Seq((1L, -0.0)).toDF("id", "x"),
      Seq((2L, 0.0)).toDF("id", "x"),
      Seq((3L, -1.0), (4L, -0.5)).toDF("id", "x"),
      Seq((5L, 0.5), (6L, 1.0)).toDF("id", "x"))
    engine.execute(s"CREATE INDEX zx ON $t (x)")
    assert(same(s"SELECT id FROM $t WHERE x = 0.0")._1 == Seq("1", "2"))
    assert(same(s"SELECT id FROM $t WHERE x = -0.0")._1 == Seq("1", "2"))
    assert(same(s"SELECT id FROM $t WHERE x >= 0")._1 ==
      Seq("1", "2", "5", "6"))
    assert(same(s"SELECT id FROM $t WHERE x <= -0.0")._1 ==
      Seq("1", "2", "3", "4"))
    assert(same(s"SELECT id FROM $t WHERE x > 0")._1 == Seq("5", "6"))
    val (neg, read) = same(s"SELECT id FROM $t WHERE x < 0")
    assert(neg == Seq("3", "4") && read < 4L, s"$neg read=$read")
  }

  test("a string over 4 KB leaves its file without bounds, and kept") {
    val t = freshTable("longstr", "id int64, s string")
    val long = "m" + "z" * 5000
    addFiles(t, 8,
      Seq((1L, "apple"), (2L, long)).toDF("id", "s"),
      Seq((3L, "banana"), (4L, "bar")).toDF("id", "s"),
      Seq((5L, "cherry"), (6L, "date")).toDF("id", "s"))
    engine.execute(s"CREATE INDEX zs ON $t (s)")
    val stats = liveStats(t)
    assert(stats.values.count(_.bounds("s").isEmpty) == 1,
      s"the file holding the long string has no bounds: $stats")
    assert(same(s"SELECT id FROM $t WHERE s = '$long'")._1 == Seq("2"))
    assert(same(s"SELECT id FROM $t WHERE s > 'm'")._1 == Seq("2"))
    val (got, read) = same(s"SELECT id FROM $t WHERE s LIKE 'ba%'")
    assert(got == Seq("3", "4") && read == 2L, s"$got read=$read")
  }

  test("decimal columns convert through Decimal.toDouble, signed") {
    val t = freshTable("dec", "id int64, d decimal(10,2), w decimal(30,5)")
    def f(rs: (Long, String, String)*) =
      rs.toDF("id", "d", "w").selectExpr("id",
        "CAST(d AS DECIMAL(10,2)) AS d", "CAST(w AS DECIMAL(30,5)) AS w")
    addFiles(t, 8,
      f((1L, "1.00", "-5.50000"), (2L, "9.99", "-1.25000")),
      f((3L, "100.00", "123456789012345678901.12345"),
        (4L, "200.50", "123456789012345678902.00000")),
      f((5L, "-3.25", "0.00001"), (6L, "0.00", "7.00000")))
    engine.execute(s"CREATE INDEX zd ON $t (d, w)")
    assert(liveStats(t).values.forall(s =>
      s.bounds("d").isDefined && s.bounds("w").isDefined))
    assert(same(s"SELECT id FROM $t WHERE d = 9.99")._1 == Seq("2"))
    assert(same(s"SELECT id FROM $t WHERE d > 100.5")._1 == Seq("4"))
    assert(same(s"SELECT id FROM $t WHERE d < 0")._1 == Seq("5"))
    assert(same(s"SELECT id FROM $t WHERE w = -1.25")._1 == Seq("2"))
    assert(same(s"SELECT id FROM $t WHERE w < 0")._1 == Seq("1", "2"))
    val (big, read) =
      same(s"SELECT id FROM $t WHERE w >= 123456789012345678902")
    assert(big == Seq("4") && read == 1L, s"$big read=$read")
  }

  test("a bigint above 2^53 at a file edge survives the double rounding") {
    val t = freshTable("big", "id int64, x int64")
    val p53 = 9007199254740992L // 2^53
    addFiles(t, 8,
      Seq((1L, 1L), (2L, p53 + 1)).toDF("id", "x"),
      Seq((3L, p53 + 3), (4L, p53 + 8)).toDF("id", "x"),
      Seq((5L, -p53 - 1), (6L, -5L)).toDF("id", "x"))
    engine.execute(s"CREATE INDEX zx ON $t (x)")
    assert(same(s"SELECT id FROM $t WHERE x = ${p53 + 1}")._1 == Seq("2"))
    assert(same(s"SELECT id FROM $t WHERE x > $p53")._1 == Seq("2", "3", "4"))
    assert(same(s"SELECT id FROM $t WHERE x >= ${p53 + 3}")._1 == Seq("3", "4"))
    assert(same(s"SELECT id FROM $t WHERE x < ${p53 + 3}")._1 ==
      Seq("1", "2", "5", "6"))
    assert(same(s"SELECT id FROM $t WHERE x = ${-p53 - 1}")._1 == Seq("5"))
    val (got, read) = same(s"SELECT id FROM $t WHERE x = ${p53 + 8}")
    assert(got == Seq("4") && read < 3L, s"$got read=$read")
  }
}
