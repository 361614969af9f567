package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import graft.engine.QueryEngine

/** `bloom` index kind: per-file Bloom membership filters feeding the
  * planning-time file-skipping rule for equality/IN predicates —
  * evidence where min/max zonemaps prove nothing because every file
  * spans the whole value range (high-cardinality, unclustered
  * layouts). The pins:
  *  - on an INTERLEAVED corpus (per-file value sets disjoint, value
  *    RANGES fully overlapping) a zonemap alone prunes nothing, and
  *    adding the bloom index makes the same point query read fewer
  *    files with identical results (kill-switch A/B);
  *  - integral equality prunes both bare and through a widening cast
  *    (the compared long value is the column's own value);
  *  - IN prunes only files where EVERY member is absent;
  *  - a value present nowhere prunes every file and still returns the
  *    correct empty result;
  *  - NULL rows are invisible to equality and never unsoundly prune;
  *  - maintenance rides DML: rows INSERTed after CREATE INDEX are
  *    found (the new file's filter is built by the commit-log publish
  *    that makes it live);
  *  - CREATE INDEX rejects column types with no sound shared
  *    representation between build and probe (float, arrays).
  */
class BloomIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  lazy val engine = new QueryEngine(spark)

  private val Db = "blooms"

  private def scanFileCount(df: DataFrame): Long =
    df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation =>
        l.relation.asInstanceOf[HadoopFsRelation].location.inputFiles.length
    }.sum

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  private def withRuleOff[A](body: => A): A = {
    spark.conf.set("spark.graft.zonemap.select.enabled", "false")
    try body finally
      spark.conf.set("spark.graft.zonemap.select.enabled", "true")
  }

  /** Exactly three files whose string sets are disjoint but whose
    * ranges all overlap (values interleave lexicographically), and
    * whose int keys interleave numerically — the layout where zonemaps
    * are blind. Files are appended directly (coalesce(1), the same
    * technique as ZonemapSelectSpec's raw-append fixture) because an
    * engine INSERT may split one batch across several files, which
    * would re-tighten the per-file ranges this fixture exists to
    * overlap; CREATE INDEX afterwards builds every file's filter. */
  private def interleavedTable(name: String): String = {
    engine.execute(s"CREATE DATABASE IF NOT EXISTS $Db")
    engine.execute(s"DROP TABLE IF EXISTS $Db.$name")
    engine.execute(
      s"""CREATE TABLE $Db.$name (k int32 NOT NULL, s string)
         |STORAGE filesystem""".stripMargin)
    val loc = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(s"$Db.$name"))
      .location.toString
    // file i holds s = word<j>_<i> for words spanning a..z and
    // k = 100*j + i — every file's [min, max] covers every value
    val words = Seq("apple", "grape", "mango", "peach", "zebra")
    import spark.implicits._
    for (i <- 0 until 3) {
      words.zipWithIndex.map { case (w, j) => (100 * j + i, s"${w}_$i") }
        .toDF("k", "s")
        .coalesce(1).write.mode("append").parquet(loc)
    }
    spark.catalog.refreshTable(s"$Db.$name")
    s"$Db.$name"
  }

  test("interleaved corpus: zonemap blind, bloom prunes, results identical") {
    val t = interleavedTable("t1")
    val total = spark.table(t).inputFiles.length.toLong
    assert(total >= 3, s"fixture must span multiple files, got $total")

    // zonemap first: ranges overlap, so the point query reads ALL files
    engine.execute(s"CREATE INDEX zi ON $t (k, s)") // default zonemap
    val q = s"SELECT k, s FROM $t WHERE s = 'mango_1'"
    assert(scanFileCount(spark.sql(q)) == total,
      "overlapping ranges: zonemap alone must not prune")

    // bloom on the same columns: only file 1 holds the value
    engine.execute(s"CREATE INDEX bi ON $t (k, s) USING bloom")
    val pruned = spark.sql(q)
    assert(scanFileCount(pruned) < total,
      s"bloom should prune, read ${scanFileCount(pruned)}/$total files")
    val (fullFiles, fullRows) = withRuleOff {
      val d = spark.sql(q); (scanFileCount(d), rows(d))
    }
    assert(fullFiles == total, "kill switch must not prune")
    assert(rows(pruned) == fullRows && fullRows == Seq(Seq(201, "mango_1")))
  }

  test("integral equality prunes bare and through a widening cast") {
    val t = interleavedTable("t2")
    engine.execute(s"CREATE INDEX bi ON $t (k) USING bloom")
    val total = spark.table(t).inputFiles.length.toLong
    for (pred <- Seq("k = 302", "CAST(k AS BIGINT) = 302")) {
      val df = spark.sql(s"SELECT k, s FROM $t WHERE $pred")
      assert(scanFileCount(df) < total, s"$pred: expected bloom pruning")
      assert(rows(df) == Seq(Seq(302, "peach_2")), s"$pred: wrong rows")
    }
  }

  test("IN prunes only files where every member is absent") {
    val t = interleavedTable("t3")
    engine.execute(s"CREATE INDEX bi ON $t (s) USING bloom")
    val total = spark.table(t).inputFiles.length.toLong
    // members span files 0 and 2 — file 1 is the only prunable one
    val q = s"SELECT k FROM $t WHERE s IN ('apple_0', 'zebra_2', 'nope')"
    val df = spark.sql(q)
    assert(scanFileCount(df) < total, "file without any member should drop")
    assert(rows(df) == Seq(Seq(0), Seq(402)))
  }

  test("IN past OptimizeIn's threshold (InSet form) still prunes") {
    // >10 literals: Catalyst rewrites In → InSet in the same optimizer
    // fixed point the rule runs in, so the rule must read both forms
    val t = interleavedTable("t3b")
    engine.execute(s"CREATE INDEX bi ON $t (s) USING bloom")
    val total = spark.table(t).inputFiles.length.toLong
    val absent = (0 until 10).map(i => s"'ghost_$i'")
    val q = s"SELECT k FROM $t WHERE s IN " +
      s"('apple_0', 'zebra_2', ${absent.mkString(", ")})"
    val df = spark.sql(q)
    assert(scanFileCount(df) < total,
      s"InSet shape must prune, read ${scanFileCount(df)}/$total")
    assert(rows(df) == Seq(Seq(0), Seq(402)))
  }

  test("absent value prunes every file and returns the correct empty result") {
    val t = interleavedTable("t4")
    engine.execute(s"CREATE INDEX bi ON $t (s) USING bloom")
    val df = spark.sql(s"SELECT k FROM $t WHERE s = 'never_written'")
    assert(rows(df).isEmpty)
    assert(scanFileCount(df) == 0L,
      s"all files provably empty, read ${scanFileCount(df)}")
  }

  test("NULL rows are invisible to equality and never unsoundly prune") {
    engine.execute(s"CREATE DATABASE IF NOT EXISTS $Db")
    engine.execute(s"DROP TABLE IF EXISTS $Db.tn")
    engine.execute(
      s"CREATE TABLE $Db.tn (k int32, s string) STORAGE filesystem")
    engine.execute(s"INSERT INTO $Db.tn VALUES (1, 'real'), (2, NULL)")
    engine.execute(s"INSERT INTO $Db.tn VALUES (3, NULL), (4, NULL)")
    engine.execute(s"CREATE INDEX bi ON $Db.tn (s) USING bloom")
    // the all-NULL file is provably empty for any equality
    val df = spark.sql(s"SELECT k FROM $Db.tn WHERE s = 'real'")
    assert(rows(df) == Seq(Seq(1)))
    assert(scanFileCount(df) == 1L, "all-NULL file should prune")
    // IS NULL is outside the bloom envelope — full scan, right rows
    assert(spark.sql(s"SELECT count(*) AS n FROM $Db.tn WHERE s IS NULL")
      .collect()(0).getLong(0) == 3L)
  }

  test("maintenance rides DML: late INSERT is found, old files still prune") {
    val t = interleavedTable("t5")
    engine.execute(s"CREATE INDEX bi ON $t (s) USING bloom")
    engine.execute(s"INSERT INTO $t VALUES (999, 'late_arrival')")
    val df = spark.sql(s"SELECT k FROM $t WHERE s = 'late_arrival'")
    assert(rows(df) == Seq(Seq(999)))
    assert(scanFileCount(df) < spark.table(t).inputFiles.length,
      "pre-existing files should prune for the new value")
  }

  test("bloom evidence scopes file-level CoW DML (point DELETE rewrites one file)") {
    // the DML scoping rides the same rule as SELECT pruning, so a
    // DELETE keyed on an unclustered high-cardinality value — where
    // zonemap bounds prove nothing — rewrites only the file that can
    // hold the row
    val t = interleavedTable("t6")
    engine.execute(s"CREATE INDEX bi ON $t (s) USING bloom")
    val before = spark.table(t).inputFiles.toSet
    val del = engine.execute(s"DELETE FROM $t WHERE s = 'grape_1'")
    assert(del.message == "DELETE 1", del.message)
    val after = spark.table(t).inputFiles.toSet
    assert((before intersect after).size == before.size - 1,
      s"exactly one file replaced\nbefore=$before\nafter=$after")
    assert(spark.sql(s"SELECT count(*) AS n FROM $t").collect()(0).getLong(0) == 14L)
    assert(spark.sql(s"SELECT count(*) AS n FROM $t WHERE s = 'grape_0'")
      .collect()(0).getLong(0) == 1L)
  }

  test("CREATE INDEX USING bloom rejects unsupported column types") {
    engine.execute(s"CREATE DATABASE IF NOT EXISTS $Db")
    engine.execute(s"DROP TABLE IF EXISTS $Db.tf")
    engine.execute(
      s"CREATE TABLE $Db.tf (k int32, f float64) STORAGE filesystem")
    engine.execute(s"INSERT INTO $Db.tf VALUES (1, 1.5)")
    val e = intercept[Exception] {
      engine.execute(s"CREATE INDEX bf ON $Db.tf (f) USING bloom")
    }
    assert(e.getMessage.contains("bloom supports integral and string"),
      s"unexpected message: ${e.getMessage}")
  }
}
