package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import graft.engine.QueryEngine

/** SELECT-path zonemap file skipping (round-9 verdict "Next #2"):
  * ZonemapPruneRule consults a fresh zonemap index at planning time
  * and narrows the scan's file listing. The pins:
  *  - a point/range SELECT on the indexed column READS FEWER FILES
  *    than the table has, with results identical to the unpruned
  *    scan (kill-switch A/B on the same statement);
  *  - a predicate satisfied by every file prunes nothing;
  *  - pruning survives DML: after INSERT (new file + index sync) the
  *    new file's rows are found, and a predicate matching ONLY them
  *    reads fewer files again;
  *  - non-provable shapes (disjunctions, expressions of the column)
  *    pass through untouched;
  *  - one-ulp envelope: a value equal to a file's exact min survives
  *    pruning (boundary is kept, not dropped).
  */
class ZonemapSelectSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  lazy val engine = new QueryEngine(spark)

  private val Db = "zmaps"

  /** Unpartitioned table whose files have tight disjoint id ranges:
    * one INSERT per range so each becomes its own parquet file. */
  private def freshTable(name: String): String = {
    engine.execute(s"CREATE DATABASE IF NOT EXISTS $Db")
    engine.execute(s"DROP TABLE IF EXISTS $Db.$name")
    engine.execute(
      s"""CREATE TABLE $Db.$name (id int64 NOT NULL, v string)
         |STORAGE filesystem""".stripMargin)
    Seq(0L, 100L, 200L, 300L).foreach { base =>
      val vals = (base until base + 10L)
        .map(i => s"($i, 'row $i')").mkString(", ")
      engine.execute(s"INSERT INTO $Db.$name VALUES $vals")
    }
    s"$Db.$name"
  }

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

  test("point and range predicates read fewer files, identical results") {
    val t = freshTable("t1")
    val total = spark.table(t).inputFiles.length.toLong
    assert(total >= 4, s"fixture must span multiple files, got $total")
    engine.execute(s"CREATE INDEX zi ON $t (id)") // default kind = zonemap

    for (pred <- Seq("id = 105", "id >= 300", "id < 10",
                     "id IN (5, 205)", "id > 150 AND id <= 210")) {
      val q = s"SELECT id, v FROM $t WHERE $pred"
      val prunedDf = spark.sql(q)
      val prunedFiles = scanFileCount(prunedDf)
      val prunedRows = rows(prunedDf)
      val (fullFiles, fullRows) = withRuleOff {
        val df = spark.sql(q); (scanFileCount(df), rows(df))
      }
      assert(fullFiles == total, s"$pred: kill switch must not prune")
      assert(prunedFiles < total, s"$pred: expected pruning, " +
        s"read $prunedFiles of $total files")
      assert(prunedRows == fullRows, s"$pred: pruned results differ")
      assert(prunedRows.nonEmpty, s"$pred: fixture should match rows")
    }
  }

  test("ESCAPED partition dirs: pruned point SELECT still finds the row (r12 regression)") {
    // listing strings are URI-encoded while listFiles' FileStatus
    // paths render single-encoded: the pruned index's keep-set
    // comparison silently dropped every file under an escaped
    // partition dir (r=o%27brien), so a zonemap-pruned point SELECT
    // into that partition returned EMPTY — wrong results, no error
    engine.execute(s"CREATE DATABASE IF NOT EXISTS $Db")
    engine.execute(s"DROP TABLE IF EXISTS $Db.esc")
    engine.execute(
      s"""CREATE TABLE $Db.esc (id int64 NOT NULL, v string, r string)
         |STORAGE filesystem PARTITION BY (r)""".stripMargin)
    for (r <- Seq("emea", "o'brien"); base <- Seq(0, 100)) {
      val off = if (r == "emea") 0 else 1000
      val vals = (base + off until base + off + 10)
        .map(i => s"($i, 'row $i', '${r.replace("'", "''")}')").mkString(", ")
      engine.execute(s"INSERT INTO $Db.esc VALUES $vals")
    }
    engine.execute(s"CREATE INDEX zi ON $Db.esc (id)")
    // point lookups into BOTH partitions; the escaped one is the pin
    assert(engine.execute(s"SELECT v FROM $Db.esc WHERE id = 1105").data
      == Seq(Seq("row 1105")))
    assert(engine.execute(s"SELECT v FROM $Db.esc WHERE id = 5").data
      == Seq(Seq("row 5")))
    // and it PRUNED (not a fallback to the full listing)
    val skip = engine.execute(
      s"EXPLAIN SKIPPING SELECT * FROM $Db.esc WHERE id = 1105").data.head
    assert(skip(2).asInstanceOf[Long] < skip(1).asInstanceOf[Long], skip.toString)
  }

  test("IN past OptimizeIn's threshold (InSet form) still prunes") {
    // 12 literals: Catalyst rewrites In → InSet above
    // spark.sql.optimizer.inSetConversionThreshold (default 10) in the
    // same fixed point the rule runs in; the IN-list envelope must
    // read both forms (the MERGE file scope's ≤1000-key predicate
    // arrives exclusively as InSet)
    val t = freshTable("t1b")
    engine.execute(s"CREATE INDEX zi ON $t (id)")
    val total = spark.table(t).inputFiles.length.toLong
    val q = s"SELECT id, v FROM $t WHERE id IN " +
      "(5, 6, 7, 8, 9, 105, 106, 107, 108, 109, 205, 206)"
    val df = spark.sql(q)
    assert(scanFileCount(df) < total,
      s"InSet shape must prune, read ${scanFileCount(df)}/$total")
    assert(rows(df) == withRuleOff(rows(spark.sql(q))))
    assert(rows(df).size == 12)
  }

  test("predicate satisfiable by every file prunes nothing") {
    val t = freshTable("t2")
    engine.execute(s"CREATE INDEX zi ON $t (id)")
    val total = spark.table(t).inputFiles.length.toLong
    assert(scanFileCount(spark.sql(s"SELECT * FROM $t WHERE id >= 0"))
      == total)
  }

  test("pruning stays correct across INSERT (index sync rides the DML)") {
    val t = freshTable("t3")
    engine.execute(s"CREATE INDEX zi ON $t (id)")
    engine.execute(s"INSERT INTO $t VALUES (9000, 'late arrival')")
    val df = spark.sql(s"SELECT id, v FROM $t WHERE id = 9000")
    assert(rows(df) == Seq(Seq(9000L, "late arrival")))
    assert(scanFileCount(df) < spark.table(t).inputFiles.length,
      "new file's zonemap shard should let old files prune")
    // and the old rows are still fully visible under pruning
    assert(spark.sql(s"SELECT count(*) AS n FROM $t WHERE id < 50")
      .collect()(0).getLong(0) == 10L)
  }

  test("non-provable predicate shapes pass through untouched") {
    val t = freshTable("t4")
    engine.execute(s"CREATE INDEX zi ON $t (id)")
    val total = spark.table(t).inputFiles.length.toLong
    // disjunction and column arithmetic are outside the envelope
    for (pred <- Seq("id = 5 OR v = 'row 205'", "id + 1 = 6")) {
      val df = spark.sql(s"SELECT * FROM $t WHERE $pred")
      assert(scanFileCount(df) == total, s"$pred must not prune")
      assert(df.count() >= 1)
    }
  }

  test("lossy Int/Long→Float cast predicates keep matching files (r10 hole)") {
    // Spark 4's own comparison coercion promotes long-vs-float to
    // DOUBLE (verified: `Filter (cast(id AS DOUBLE) = cast(floatLit AS
    // DOUBLE))`), but an EXPLICIT `CAST(col AS FLOAT)` predicate still
    // reaches the rule, and cast-to-float rounds each row by up to
    // half a FLOAT ulp — 2^16 at magnitude 2^40. A file whose only
    // value is 2^40 + 2^16 must NOT be pruned for the literal
    // float(2^40): the row's cast value ties-to-even onto the literal.
    engine.execute(s"CREATE DATABASE IF NOT EXISTS $Db")
    engine.execute(s"DROP TABLE IF EXISTS $Db.t6")
    engine.execute(
      s"""CREATE TABLE $Db.t6 (id int64 NOT NULL, v string)
         |STORAGE filesystem""".stripMargin)
    engine.execute(s"INSERT INTO $Db.t6 VALUES (1099511693312, 'near')") // 2^40 + 2^16
    engine.execute(s"INSERT INTO $Db.t6 VALUES (5, 'far')")
    engine.execute(s"CREATE INDEX zi ON $Db.t6 (id)")

    val q = s"SELECT v FROM $Db.t6 WHERE CAST(id AS FLOAT) = CAST(1099511627776 AS FLOAT)" // 2^40
    val df = spark.sql(q)
    assert(rows(df) == Seq(Seq("near")), "float-rounded match must survive pruning")
    // ...while pruning through the float cast still works: the file
    // holding only 5 is provably empty even under the float envelope.
    assert(scanFileCount(df) == 1L,
      "far file should still prune under the float-widened envelope")

    // The ADVICE int-column example: cast(16777217 AS FLOAT) == 16777216f.
    engine.execute(s"DROP TABLE IF EXISTS $Db.t7")
    engine.execute(
      s"""CREATE TABLE $Db.t7 (k int32 NOT NULL, v string)
         |STORAGE filesystem""".stripMargin)
    engine.execute(s"INSERT INTO $Db.t7 VALUES (16777217, 'edge')")
    engine.execute(s"INSERT INTO $Db.t7 VALUES (1, 'low')")
    engine.execute(s"CREATE INDEX zi ON $Db.t7 (k)")
    val df2 = spark.sql(
      s"SELECT v FROM $Db.t7 WHERE CAST(k AS FLOAT) = CAST(16777216 AS FLOAT)")
    assert(rows(df2) == Seq(Seq("edge")),
      "int value one past float precision must survive pruning")
    assert(scanFileCount(df2) == 1L, "low file still prunes")
  }

  test("data-column predicates prune files on a PARTITIONED table (r10 Next #4)") {
    // Partition pruning serves p; zonemap must additionally skip files
    // WITHIN the surviving partitions on data-column predicates — the
    // dominant warehouse layout at scale.
    engine.execute(s"CREATE DATABASE IF NOT EXISTS $Db")
    engine.execute(s"DROP TABLE IF EXISTS $Db.pt")
    engine.execute(
      s"""CREATE TABLE $Db.pt (id int64 NOT NULL, v string, p string)
         |STORAGE filesystem PARTITION BY (p)""".stripMargin)
    // 4 inserts × 2 partitions = 8 files; ids of insert i: 'a' gets
    // [i*100, i*100+4], 'b' gets [i*100+5, i*100+9]
    for (i <- 0 until 4) {
      val a = (0 until 5).map(k => s"(${i * 100 + k}, 'row ${i * 100 + k}', 'a')")
      val b = (5 until 10).map(k => s"(${i * 100 + k}, 'row ${i * 100 + k}', 'b')")
      engine.execute(s"INSERT INTO $Db.pt VALUES ${(a ++ b).mkString(", ")}")
    }
    val total = spark.table(s"$Db.pt").inputFiles.length.toLong
    assert(total >= 8, s"fixture must span multiple files per partition, got $total")
    engine.execute(s"CREATE INDEX zi ON $Db.pt (id)")

    // data-only predicate: survives only insert-1's 'b' file
    val q1 = s"SELECT id, v, p FROM $Db.pt WHERE id = 105"
    val df1 = spark.sql(q1)
    assert(rows(df1) == withRuleOff(rows(spark.sql(q1))), "results must match")
    assert(rows(df1) == Seq(Seq(105L, "row 105", "b")))
    assert(scanFileCount(df1) < total,
      s"expected file skipping on partitioned table, read ${scanFileCount(df1)}/$total")

    // partition + data predicate: partition filter composes with zonemap
    val q2 = s"SELECT id FROM $Db.pt WHERE p = 'a' AND id = 102"
    val df2 = spark.sql(q2)
    assert(rows(df2) == Seq(Seq(102L)))
    assert(rows(df2) == withRuleOff(rows(spark.sql(q2))))
    assert(scanFileCount(df2) == 1L,
      s"partition pruning + zonemap should reach 1 file, got ${scanFileCount(df2)}")

    // partition-only predicate: rule must leave the relation to
    // Spark's own partition pruning (identical results, 4 'b' files)
    val q3 = s"SELECT count(*) AS n FROM $Db.pt WHERE p = 'b'"
    assert(spark.sql(q3).collect()(0).getLong(0) == 20L)
  }

  test("string-column bounds prune files (eq, range, LIKE-prefix)") {
    engine.execute(s"CREATE DATABASE IF NOT EXISTS $Db")
    engine.execute(s"DROP TABLE IF EXISTS $Db.st")
    engine.execute(
      s"""CREATE TABLE $Db.st (id int64 NOT NULL, s string)
         |STORAGE filesystem""".stripMargin)
    // three files with disjoint lexicographic ranges
    engine.execute(s"INSERT INTO $Db.st VALUES " +
      (0 until 8).map(i => s"($i, 'apple$i')").mkString(", "))
    engine.execute(s"INSERT INTO $Db.st VALUES " +
      (10 until 18).map(i => s"($i, 'banana${i - 10}')").mkString(", "))
    engine.execute(s"INSERT INTO $Db.st VALUES " +
      (20 until 28).map(i => s"($i, 'cherry${i - 20}')").mkString(", "))
    engine.execute(s"CREATE INDEX zs ON $Db.st (s)")
    val total = spark.table(s"$Db.st").inputFiles.length.toLong
    assert(total >= 3)

    for (pred <- Seq("s = 'banana3'", "s < 'b'", "s >= 'cherry'",
                     "s LIKE 'banana%'", "s IN ('apple1', 'apple5')")) {
      val q = s"SELECT id, s FROM $Db.st WHERE $pred"
      val df = spark.sql(q)
      val (fullFiles, fullRows) = withRuleOff {
        val d = spark.sql(q); (scanFileCount(d), rows(d))
      }
      assert(fullFiles == total, s"$pred: kill switch must not prune")
      assert(scanFileCount(df) < total,
        s"$pred: expected string pruning, read ${scanFileCount(df)}/$total")
      assert(rows(df) == fullRows, s"$pred: pruned results differ")
      assert(rows(df).nonEmpty, s"$pred: fixture should match rows")
    }
    // boundary: exact min of a file must survive
    assert(spark.sql(s"SELECT count(*) AS n FROM $Db.st WHERE s = 'apple0'")
      .collect()(0).getLong(0) == 1L)
  }

  test("pruned-scan stats unlock a broadcast join (kept-file sizeInBytes)") {
    // ManifestFileIndex.keepOnly reports the KEPT files' size, so a
    // 1-of-N-files point lookup should broadcast where the unpruned
    // stats would sort-merge — the join-strategy payoff of planning-
    // time file skipping at warehouse scale.
    val t = freshTable("tb")
    engine.execute(s"CREATE INDEX zi ON $Db.tb (id)")
    val full = spark.table(t).inputFiles
      .map(f => new java.io.File(new java.net.URI(f)).length()).sum
    val one = full / spark.table(t).inputFiles.length
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // threshold between one file's size and the whole table's
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (full min (one * 2)).toString)
    try {
      val q = s"""SELECT a.id, b.v FROM $t a
                 |JOIN (SELECT id, v FROM $t WHERE id = 105) b ON a.id = b.id""".stripMargin
      def joinNodes(sql: String): String =
        spark.sql(sql).queryExecution.executedPlan.toString
      val pruned = joinNodes(q)
      assert(pruned.contains("BroadcastHashJoin"),
        s"pruned point lookup should broadcast:\n$pruned")
      val unpruned = withRuleOff(joinNodes(q))
      assert(!unpruned.contains("BroadcastHashJoin"),
        s"kill-switched stats should NOT broadcast (threshold sanity):\n$unpruned")
      // and the broadcast plan returns the right row
      assert(rows(spark.sql(q)) == Seq(Seq(105L, "row 105")))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
  }

  test("invalid-UTF-8 string values keep exact byte bounds (no U+FFFD corruption)") {
    // parquet BINARY reads permissively: a string value can carry
    // bytes that are not valid UTF-8. Bounds must round-trip as RAW
    // bytes — decoding through java.lang.String would corrupt the min
    // [0xC3, 0x61] to [0xEF,0xBF,0xBD, 0x61] (U+FFFD), which sorts
    // ABOVE 'é' [0xC3,0xA9] and would wrongly prune the file for
    // `s < 'é'` even though its row matches.
    engine.execute(s"CREATE DATABASE IF NOT EXISTS $Db")
    engine.execute(s"DROP TABLE IF EXISTS $Db.ut")
    engine.execute(
      s"CREATE TABLE $Db.ut (id int64, s string) STORAGE filesystem")
    engine.execute(s"INSERT INTO $Db.ut VALUES (1, 'row one')")
    // append a raw file whose only string is the invalid byte pair
    val loc = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(s"$Db.ut")).location.toString
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    Seq((100L, Array(0xC3.toByte, 0x61.toByte))).toDF("id", "b")
      .select(col("id"), col("b").cast("string").as("s"))
      .coalesce(1).write.mode("append").parquet(loc)
    spark.catalog.refreshTable(s"$Db.ut")
    engine.execute(s"CREATE INDEX zs ON $Db.ut (s)")

    val q = s"SELECT id FROM $Db.ut WHERE s < 'é'"
    val pruned = rows(spark.sql(q))
    val full = withRuleOff(rows(spark.sql(q)))
    assert(pruned == full, s"byte-exact bounds must not lose the row: $pruned vs $full")
    assert(pruned.contains(Seq(100L)),
      s"the invalid-UTF-8 row sorts below 'é' in byte order: $pruned")
  }

  test("exact file-min boundary value survives (one-ulp envelope)") {
    val t = freshTable("t5")
    engine.execute(s"CREATE INDEX zi ON $t (id)")
    val df = spark.sql(s"SELECT count(*) AS n FROM $t WHERE id = 300")
    assert(df.collect()(0).getLong(0) == 1L)
    // and the file holding 300 was NOT pruned away while others were
    val point = spark.sql(s"SELECT id FROM $t WHERE id = 300")
    assert(scanFileCount(point) < spark.table(t).inputFiles.length)
  }
}
