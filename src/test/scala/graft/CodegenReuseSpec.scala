package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.QueryEngine
import graft.plans.LiteralRef

/** Generated code compiles once per statement shape. The codegen cache
  * holds a working set far past Spark's default 100 classes
  * ([[SparkTuning.CodegenCacheEntries]]), and [[graft.plans.LiteralRefRule]]
  * keeps literal values out of the generated source, so a repeated
  * plan and a literal-varying statement both reuse their classes.
  * Compiles are counted with Spark's JVM-wide `CodegenMetrics`.
  *
  * A window counts every thread's compiles, so a background thread of
  * an earlier suite could add to it. Each zero-compile check therefore
  * gets up to three windows, each over literal values no earlier
  * window used: a statement that recompiles per literal compiles in
  * every one of them. */
class CodegenReuseSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSpark.spark
  lazy val engine = new QueryEngine(spark)

  private val Db = "cgreuse"

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def compiled(body: => Unit): Long = {
    val c0 = compiles
    body
    compiles - c0
  }

  /** Passes when one of up to three windows `window(0..2)` compiles
    * nothing. */
  private def assertQuietWindow(what: String)(window: Int => Long): Unit = {
    val counts = Seq.newBuilder[Long]
    assert((0 until 3).exists { w => val c = window(w); counts += c; c == 0L },
      s"$what compiled ${counts.result().mkString(", ")} classes")
  }

  /** `variant(i)` runs once for i = 0 to warm the shape, then over
    * fresh values w*n+1..w*n+n in window w. */
  private def assertCompilesOnce(what: String, n: Int = 3)(variant: Int => Unit): Unit = {
    variant(0)
    assertQuietWindow(s"$what: literal variants")(w =>
      compiled((1 to n).foreach(j => variant(w * n + j))))
  }

  private def rows(sql: String): Seq[Seq[Any]] = engine.execute(sql).data

  /** Four INSERTs of disjoint key ranges (k = 1..10, 101..110, ...),
    * so no file spans two ranges; zonemap-indexed on k; v = k / 2.0. */
  private def freshTable(name: String): String = {
    val t = s"$Db.$name"
    engine.execute(s"CREATE DATABASE IF NOT EXISTS $Db")
    engine.execute(s"DROP TABLE IF EXISTS $t")
    engine.execute(s"CREATE TABLE $t (k int64 NOT NULL, v float64) STORAGE filesystem")
    Seq(0L, 100L, 200L, 300L).foreach { base =>
      engine.execute(s"INSERT INTO $t VALUES " +
        (base + 1 to base + 10).map(k => s"($k, ${k / 2.0})").mkString(", "))
    }
    engine.execute(s"CREATE INDEX zk ON $t (k)")
    t
  }

  test("a second run of a plan set larger than 100 classes compiles nothing") {
    // distinct arithmetic in both aggregation stages: each query
    // compiles classes of its own. Each run plans its DataFrames
    // afresh, as every caller does (collecting one DataFrame twice
    // re-runs its already-prepared plan instead)
    def plans = (1 to 60).map { i =>
      spark.range(0, 1000, 1, 2)
        .selectExpr(s"id * $i AS x", s"id % ${i + 7} AS g")
        .groupBy("g").agg(org.apache.spark.sql.functions.expr(s"sum(x) + $i"))
    }
    def run(): Seq[Seq[Any]] =
      plans.flatMap(_.collect().map(_.toSeq).sortBy(_.head.toString))
    var first = Seq.empty[Seq[Any]]
    val firstCompiles = compiled { first = run() }
    assert(firstCompiles > 100, s"the plan set must exceed Spark's default " +
      s"100-entry cache; it compiled $firstCompiles classes")
    assertQuietWindow(s"of $firstCompiles classes, the second run")(_ =>
      compiled(assert(run() == first)))
  }

  test("point, BETWEEN, IN, UPDATE and DELETE literal variants compile once with exact rows") {
    val t = freshTable("lit")
    assertCompilesOnce("point lookup") { i =>
      val k = i + 1
      assert(rows(s"SELECT k, v FROM $t WHERE k = $k") == Seq(Seq(k.toLong, k / 2.0)))
    }
    assertCompilesOnce("BETWEEN") { i =>
      val lo = 100 + i
      assert(rows(s"SELECT count(*) FROM $t WHERE k BETWEEN $lo AND ${lo + 3}") ==
        Seq(Seq((lo to lo + 3).count(k => k >= 101 && k <= 110).toLong)))
    }
    assertCompilesOnce("IN") { i =>
      val ks = Seq(201 + i, 202 + i, 999)
      assert(rows(s"SELECT k FROM $t WHERE k IN (${ks.mkString(", ")}) ORDER BY k") ==
        ks.filter(_ <= 210).map(k => Seq(k.toLong)))
    }
    assertCompilesOnce("UPDATE SET col = lit") { i =>
      val k = 301 + i
      val v = 1000.0 + i
      engine.execute(s"UPDATE $t SET v = $v WHERE k = $k")
      assert(rows(s"SELECT v FROM $t WHERE k = $k") == Seq(Seq(v)))
    }
    assertCompilesOnce("DELETE by key") { i =>
      val k = 1 + i
      engine.execute(s"DELETE FROM $t WHERE k = $k")
      assert(rows(s"SELECT count(*) FROM $t WHERE k = $k") == Seq(Seq(0L)))
    }
    engine.execute(s"DROP TABLE $t")
  }

  test("NULL, NaN, -0.0, date and timestamp literals keep exact rows across variants") {
    val dir = java.nio.file.Files.createTempDirectory("cgreuse_edge").toString + "/e"
    spark.sql(
      """SELECT * FROM VALUES
        |  (1, CAST(0.0 AS DOUBLE), DATE '2024-01-01', TIMESTAMP '2024-01-01 00:00:01'),
        |  (2, -0.0D, DATE '2024-01-02', TIMESTAMP '2024-01-01 00:00:02'),
        |  (3, CAST('NaN' AS DOUBLE), DATE '2024-01-03', TIMESTAMP '2024-01-01 00:00:03'),
        |  (4, CAST(1.5 AS DOUBLE), DATE '2024-01-04', TIMESTAMP '2024-01-01 00:00:04'),
        |  (5, CAST(NULL AS DOUBLE), CAST(NULL AS DATE), CAST(NULL AS TIMESTAMP))
        |  AS e(id, v, d, ts)""".stripMargin)
      .repartition(1).write.parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("cg_edge")
    def ids(where: String): Seq[Int] =
      spark.sql(s"SELECT id FROM cg_edge WHERE $where ORDER BY id")
        .collect().map(_.getInt(0)).toSeq

    // doubles: NaN equals NaN and sorts above every number; -0.0 = 0.0
    val doubles = Seq(
      "CAST('NaN' AS DOUBLE)" -> Seq(3), "-0.0D" -> Seq(1, 2),
      "0.0D" -> Seq(1, 2), "1.5D" -> Seq(4), "2.5D" -> Seq())
    assertCompilesOnce("double equality", n = 1) { i =>
      val (lit, want) = doubles(i % doubles.size)
      assert(ids(s"v = $lit") == want, s"v = $lit")
    }
    val above = Seq("-0.0D" -> Seq(3, 4), "CAST('NaN' AS DOUBLE)" -> Seq(),
      "1.0D" -> Seq(3, 4), "1.5D" -> Seq(3), "0.0D" -> Seq(3, 4))
    assertCompilesOnce("double order", n = 1) { i =>
      val (lit, want) = above(i % above.size)
      assert(ids(s"v > $lit") == want, s"v > $lit")
    }
    // a NULL literal stays a constant; the key beside it varies
    assertCompilesOnce("NULL branch", n = 1) { i =>
      val k = i % 5 + 1
      val got = spark.sql(
        s"SELECT id, CASE WHEN id = $k THEN NULL ELSE id * 10 END FROM cg_edge ORDER BY id")
        .collect().map(r => if (r.isNullAt(1)) None else Some(r.getInt(1))).toSeq
      assert(got == (1 to 5).map(id => if (id == k) None else Some(id * 10)))
    }
    assertCompilesOnce("date", n = 1) { i =>
      val day = i + 1
      assert(ids(s"d = DATE '2024-01-0$day'") == (if (day <= 4) Seq(day) else Seq()))
      assert(ids(s"d >= DATE '2024-01-0$day'") == (day to 4))
    }
    assertCompilesOnce("timestamp", n = 1) { i =>
      val s = i + 1
      assert(ids(s"ts = TIMESTAMP '2024-01-01 00:00:0$s'") == (if (s <= 4) Seq(s) else Seq()))
      assert(ids(s"ts < TIMESTAMP '2024-01-01 00:00:0$s'") == (1 until s))
    }
    spark.catalog.dropTempView("cg_edge")
  }

  test("pruning and pushdown still see the literal; only the Filter reads it by reference") {
    val t = freshTable("prune")
    val files = spark.table(t).inputFiles.length.toLong
    Seq(5, 105, 205, 305).foreach { k =>
      // files whose key range is disjoint from k prune: only the
      // files holding k are read
      val holding = spark.table(t).where(s"k = $k")
        .select(org.apache.spark.sql.functions.input_file_name()).distinct().count()
      assert(holding < files, s"fixture must span several files per key: $files")
      assert(rows(s"EXPLAIN SKIPPING SELECT * FROM $t WHERE k = $k").head.take(3) ==
        Seq(t, files, holding), s"k = $k")
      val df = spark.sql(s"SELECT k, v FROM $t WHERE k = $k")
      assert(df.collect().map(_.getLong(0)).toSeq == Seq(k.toLong))
      val plan = df.queryExecution.executedPlan
      val pushed = collect(plan) { case s: FileSourceScanExec => s.metadata("PushedFilters") }
      assert(pushed.exists(_.contains(s"EqualTo(k,$k)")), s"pushed filters: $pushed")
      val refs = collect(plan) { case f: FilterExec =>
        f.condition.collect { case r: LiteralRef => r.lit.value }
      }.flatten
      assert(refs == Seq(k.toLong), s"filter literal refs: $refs\n$plan")
      assert(plan.toString.contains("*("), s"lost whole-stage codegen:\n$plan")
    }
    engine.execute(s"DROP TABLE $t")
  }

  test("system.commit_stats codegen_compiles stays put when a statement repeats") {
    def counter: Long = rows(
      "SELECT value FROM system.commit_stats WHERE counter = 'codegen_compiles'")
      .head.head.asInstanceOf[Long]
    def stmt(): Unit =
      spark.sql("SELECT id % 13 AS g, count(*) FROM range(100) GROUP BY id % 13").collect()
    val warm = counter
    stmt()
    val once = counter
    assert(once > warm, s"the first run compiles: $warm -> $once")
    assertQuietWindow("by codegen_compiles, a repeated statement") { _ =>
      val before = counter
      stmt()
      counter - before
    }
  }
}
