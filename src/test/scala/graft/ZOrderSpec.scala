package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** OPTIMIZE ... ZORDER BY: after the clustering rewrite, every file
  * is simultaneously clustered in BOTH listed dimensions — the
  * min/max footprint per file shrinks from ~the full domain to a
  * fraction of it, which is what lets row-group/file skipping prune
  * scans on either column (Iceberg/Delta's zorder rewrite). */
class ZOrderSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Spans of the table's live files (under `dir`, when given): a
    * commit-log table keeps the files OPTIMIZE replaced on disk,
    * retired, for the grace window. */
  private def perFileSpans(table: String, dom: Double,
                           dir: String = ""): Seq[(Double, Double)] = {
    val files = spark.table(table).inputFiles.toSeq
      .map(graft.engine.FsPaths.readable).filter(_.contains(s"/$dir"))
    files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min("a"), max("a"), min("b"), max("b")).collect()(0)
      ((r.getLong(1) - r.getLong(0)).toDouble / dom,
       (r.getLong(3) - r.getLong(2)).toDouble / dom)
    }
  }

  test("zorder rewrite clusters files in both dimensions, preserving content") {
    val engine = new graft.engine.QueryEngine(spark)
    engine.execute("CREATE DATABASE IF NOT EXISTS zo")
    engine.execute("DROP TABLE IF EXISTS zo.t")
    engine.execute("CREATE TABLE zo.t (id int64, a int64, b int64) STORAGE filesystem")
    // 40k rows over a 200x200 (a, b) domain, both dims scattered
    // through every file (id-ordered writes, a = id mod, b = id*7919 mod)
    import spark.implicits._
    val data = (0L until 40000L).map(i => (i, i % 200, (i * 7919) % 200))
      .toDF("id", "a", "b").repartition(8)
    data.write.insertInto("zo.t")
    val before = perFileSpans("zo.t", 199.0)
    // scattered layout: every file spans essentially the full domain
    assert(before.forall { case (sa, sb) => sa > 0.9 && sb > 0.9 },
      s"precondition: expected scattered files, got $before")

    // shrink the rotation target so the small test table still spreads
    // over multiple files (default 128 MB -> one file at 40k rows)
    spark.conf.set("spark.graft.optimize.targetFileBytes", "16384")
    val res =
      try engine.execute("OPTIMIZE zo.t ZORDER BY (a, b)")
      finally spark.conf.unset("spark.graft.optimize.targetFileBytes")
    assert(res.message.contains("zordered by (a, b)"), res.message)

    val after = perFileSpans("zo.t", 199.0)
    assert(after.size > 1, s"want multiple files after rewrite, got ${after.size}")
    // clustered layout: on AVERAGE each file covers a fraction of each
    // dimension (perfect 2-d z-order over n files -> ~1/sqrt(n) spans)
    val avgA = after.map(_._1).sum / after.size
    val avgB = after.map(_._2).sum / after.size
    assert(avgA < 0.6 && avgB < 0.6,
      s"files not clustered: avg spans a=$avgA b=$avgB ($after)")
    // content preserved exactly
    val t = spark.table("zo.t")
    assert(t.count() == 40000)
    val sums = t.agg(sum("id"), sum("a"), sum("b")).collect()(0)
    assert(sums.getLong(0) == (0L until 40000L).sum)
    assert(sums.getLong(1) == (0L until 40000L).map(_ % 200).sum)
    assert(sums.getLong(2) == (0L until 40000L).map(i => (i * 7919) % 200).sum)
    engine.execute("DROP TABLE zo.t")
  }

  test("zorder string ranks are byte-prefix: LIKE-prefix pruning improves after the rewrite") {
    // r11 used hash ranks for strings (equality clustering only); the
    // byte-prefix ranks preserve lexicographic ORDER, so after ZORDER
    // the per-file string [min, max] bounds narrow and the zonemap
    // rule's LIKE-prefix / range envelope actually prunes files.
    val engine = new graft.engine.QueryEngine(spark)
    engine.execute("CREATE DATABASE IF NOT EXISTS zo")
    engine.execute("DROP TABLE IF EXISTS zo.s")
    engine.execute("CREATE TABLE zo.s (id int64, name string) STORAGE filesystem")
    import spark.implicits._
    // names span 26 alphabetic prefixes, hash-scattered through files
    val data = (0L until 20000L)
      .map(i => (i, s"${('a' + ((i * 7919) % 26).toInt).toChar}name${i % 1000}"))
      .toDF("id", "name").repartition(8)
    data.write.insertInto("zo.s")
    engine.execute("CREATE INDEX zs ON zo.s (name)") // zonemap

    def filesRead(pred: String): (Long, Long) = {
      val r = engine.execute(s"EXPLAIN SKIPPING SELECT * FROM zo.s WHERE $pred")
      (r.data.head(1).asInstanceOf[Long], r.data.head(2).asInstanceOf[Long])
    }
    val (totalBefore, readBefore) = filesRead("name LIKE 'm%'")
    assert(totalBefore >= 4, s"fixture should span files, got $totalBefore")
    assert(readBefore == totalBefore,
      s"precondition: scattered layout should not prune ($readBefore/$totalBefore)")

    spark.conf.set("spark.graft.optimize.targetFileBytes", "16384")
    try engine.execute("OPTIMIZE zo.s ZORDER BY (name)")
    finally spark.conf.unset("spark.graft.optimize.targetFileBytes")

    val (totalAfter, readAfter) = filesRead("name LIKE 'm%'")
    assert(totalAfter > 1, s"want multiple files after rewrite, got $totalAfter")
    assert(readAfter < totalAfter,
      s"LIKE-prefix should prune after ZORDER ($readAfter/$totalAfter)")
    // and results are exact: the pruned scan equals the full predicate
    val n = engine.execute(
      "SELECT count(*) AS n FROM zo.s WHERE name LIKE 'm%'").data.head.head
    assert(n == (0L until 20000L).count(i => (i * 7919) % 26 == 12).toLong, n)
    engine.execute("DROP TABLE zo.s")
  }

  test("zorder on a partitioned table clusters WITHIN partitions; partition cols rejected") {
    val engine = new graft.engine.QueryEngine(spark)
    engine.execute("CREATE DATABASE IF NOT EXISTS zo")
    engine.execute("DROP TABLE IF EXISTS zo.p")
    engine.execute(
      "CREATE TABLE zo.p (id int64, a int64, b int64, r string) STORAGE filesystem PARTITION BY (r)")
    import spark.implicits._
    // two partitions, each scattered over the 200x200 (a, b) domain
    val data = (0L until 40000L)
      .map(i => (i, i % 200, (i * 7919) % 200, if (i % 2 == 0) "x" else "y"))
      .toDF("id", "a", "b", "r").repartition(8)
    data.write.insertInto("zo.p")
    for (p <- Seq("r=x", "r=y"))
      assert(perFileSpans("zo.p", 199.0, s"$p/")
        .forall { case (sa, sb) => sa > 0.9 && sb > 0.9 },
        s"precondition: expected scattered files in $p")

    // z-ordering ON a partition column is an addressed error
    val e = intercept[IllegalArgumentException](
      engine.execute("OPTIMIZE zo.p ZORDER BY (a, r)"))
    assert(e.getMessage.contains("partition columns"), e.getMessage)

    spark.conf.set("spark.graft.optimize.targetFileBytes", "16384")
    val res =
      try engine.execute("OPTIMIZE zo.p ZORDER BY (a, b)")
      finally spark.conf.unset("spark.graft.optimize.targetFileBytes")
    assert(res.message.contains("zordered by (a, b)"), res.message)

    // hive layout intact, BOTH partitions internally z-clustered
    for (p <- Seq("r=x", "r=y")) {
      val spans = perFileSpans("zo.p", 199.0, s"$p/")
      assert(spans.size > 1, s"want multiple files in $p, got ${spans.size}")
      val avgA = spans.map(_._1).sum / spans.size
      val avgB = spans.map(_._2).sum / spans.size
      assert(avgA < 0.6 && avgB < 0.6,
        s"$p files not clustered: avg spans a=$avgA b=$avgB ($spans)")
    }
    // content preserved exactly, per partition
    val t = spark.table("zo.p")
    assert(t.count() == 40000)
    assert(t.where(col("r") === "x").count() == 20000)
    val sums = t.agg(sum("id"), sum("a"), sum("b")).collect()(0)
    assert(sums.getLong(0) == (0L until 40000L).sum)
    assert(sums.getLong(1) == (0L until 40000L).map(_ % 200).sum)
    assert(sums.getLong(2) == (0L until 40000L).map(i => (i * 7919) % 200).sum)
    engine.execute("DROP TABLE zo.p")
  }

  test("zorder handles date/timestamp columns and >4 dims; rejects empty/unsupported") {
    val engine = new graft.engine.QueryEngine(spark)
    engine.execute("CREATE DATABASE IF NOT EXISTS zo")
    engine.execute("DROP TABLE IF EXISTS zo.d")
    engine.execute(
      "CREATE TABLE zo.d (id int64, d date, ts timestamp, a int64, b int64, c int64) STORAGE filesystem")
    import spark.implicits._
    val rows = (0L until 2000L).map { i =>
      (i,
       java.time.LocalDate.of(2024, 1, 1).plusDays(i % 365),
       java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusHours(i),
       i % 50, (i * 7919) % 50, (i * 31) % 50)
    }.toDF("id", "d", "ts", "a", "b", "c")
    rows.write.insertInto("zo.d")
    // date + timestamp dims: the common partition-evolution case the
    // ADVICE flagged (Spark 4 ANSI cast rejects date→double) — must
    // complete and preserve content exactly
    val r2 = engine.execute("OPTIMIZE zo.d ZORDER BY (d, ts)")
    assert(r2.message.contains("zordered by (d, ts)"), r2.message)
    // 5 dims: bit positions would pass 63 with 16-bit ranks; the
    // shrunken 63/k rank width must keep z-values non-negative and the
    // rewrite lossless
    val r5 = engine.execute("OPTIMIZE zo.d ZORDER BY (d, ts, a, b, c)")
    assert(r5.message.contains("zordered by (d, ts, a, b, c)"), r5.message)
    val t = spark.table("zo.d")
    assert(t.count() == 2000)
    assert(t.agg(sum("id")).collect()(0).getLong(0) == (0L until 2000L).sum)
    // empty column list is a parse error, not an empty.reduce crash
    val eEmpty = intercept[IllegalArgumentException](
      engine.execute("OPTIMIZE zo.d ZORDER BY ( )"))
    assert(eEmpty.getMessage.contains("cannot parse OPTIMIZE"), eEmpty.getMessage)
    // > 31 dims would give 63/k = 1..0 rank bits (0 at k >= 64 was an
    // empty.reduce crash, round-6 ADVICE): addressed error, not a crash
    val many = Seq.fill(6)(Seq("id", "d", "ts", "a", "b", "c")).flatten
    val eMany = intercept[IllegalArgumentException](
      engine.execute(s"OPTIMIZE zo.d ZORDER BY (${many.mkString(", ")})"))
    assert(eMany.getMessage.contains("at most 31"), eMany.getMessage)
    // malformed targetFileBytes is an addressed error naming the conf
    spark.conf.set("spark.graft.optimize.targetFileBytes", "lots")
    val eConf =
      try intercept[RuntimeException](engine.execute("OPTIMIZE zo.d ZORDER BY (a)"))
      finally spark.conf.unset("spark.graft.optimize.targetFileBytes")
    assert(eConf.getMessage.contains("spark.graft.optimize.targetFileBytes") &&
      eConf.getMessage.contains("lots"), eConf.getMessage)
    engine.execute("DROP TABLE zo.d")
    // unsupported type (binary) is an addressed error, not a cast crash
    engine.execute("DROP TABLE IF EXISTS zo.bin")
    engine.execute("CREATE TABLE zo.bin (id int64, payload binary) STORAGE filesystem")
    engine.execute("INSERT INTO zo.bin VALUES (1, X'0102')")
    val eBin = intercept[IllegalArgumentException](
      engine.execute("OPTIMIZE zo.bin ZORDER BY (payload)"))
    assert(eBin.getMessage.contains("unsupported type"), eBin.getMessage)
    engine.execute("DROP TABLE zo.bin")
  }
}
