package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.{IndexManager, QueryEngine}
import graft.functions.Text
import graft.functions.expressions.ArrayOps

/** Persisted index DDL (round-8 verdict item 3): CREATE/DROP/SHOW
  * INDEX as live catalog objects, with file-diff maintenance across
  * INSERT and MERGE and probe faces that read the stored materials.
  *
  * The load-bearing pins:
  *  - index CONTENT == the same materials freshly computed from the
  *    current table, after CREATE, after INSERT, and after a MERGE
  *    that rewrites partitions (the verdict's "probe == scan-path
  *    results after an append");
  *  - frozen-parameter contract: sq8 codes of post-CREATE rows use
  *    the scales frozen at creation, not recomputed ones;
  *  - restart survival: a FRESH engine (no shared in-memory state —
  *    IndexManager is stateless over the filesystem) lists and probes
  *    the index.
  */
class IndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  lazy val engine = new QueryEngine(spark)

  private val Db = "idxdb"

  private def freshDocs(name: String): String = {
    engine.execute(s"CREATE DATABASE IF NOT EXISTS $Db")
    engine.execute(s"DROP TABLE IF EXISTS $Db.$name")
    engine.execute(
      s"""CREATE TABLE $Db.$name (doc_id int64 NOT NULL, text string,
         |  src string) STORAGE filesystem PARTITION BY (src)""".stripMargin)
    engine.execute(
      s"""INSERT INTO $Db.$name VALUES
         |  (1, 'the quick brown fox jumps over the lazy dog', 'web'),
         |  (2, 'the quick brown fox jumps over the lazy cat', 'web'),
         |  (3, 'spark query join planning at warehouse scale', 'book'),
         |  (4, 'entirely different tokens about nothing shared', 'book'),
         |  (5, 'the quick brown fox jumps over the lazy dog', 'crawl')""".stripMargin)
    s"$Db.$name"
  }

  /** Expected bands rows computed directly from the CURRENT table —
    * the scan path the index must always equal. */
  private def scanBands(t: String): DataFrame =
    spark.table(t)
      .select(col("doc_id").as("key"),
        ArrayOps.wordShingles(Text.tokens(col("text")), 2).as("sh"))
      .where(size(col("sh")) >= 1)
      .withColumn("mh", ArrayOps.minhashSig(col("sh"), 32))
      .select(col("key"),
        posexplode(Text.lshBandKeys(col("mh"), 8, 4)).as(Seq("band", "bh")))
      .select(col("band"), col("bh"), col("key"))

  private def sortedRows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq
      .sortBy(_.map(v => Option(v).map(_.toString).getOrElse("")).mkString("|"))

  test("CREATE INDEX USING bands: listed, content == scan path, survives INSERT and MERGE") {
    val t = freshDocs("docs1")
    val r = engine.execute(s"CREATE INDEX b1 ON $t (doc_id, text) USING bands")
    assert(r.message == "Index b1 created")

    val li = engine.execute(s"SHOW INDEXES ON $t")
    assert(li.columns == Seq("Index", "Table", "Kind", "Columns"))
    assert(li.data.map(_.toList) ==
      Seq(List("b1", t, "bands", "doc_id, text")))

    assert(sortedRows(IndexManager.indexData(spark, t, "b1")) ==
      sortedRows(scanBands(t)), "fresh index != scan-path bands")

    // INSERT appends a new file -> the file-diff sync must index it
    engine.execute(s"INSERT INTO $t VALUES " +
      "(6, 'the quick brown fox jumps over the lazy dog', 'web')")
    assert(sortedRows(IndexManager.indexData(spark, t, "b1")) ==
      sortedRows(scanBands(t)), "post-INSERT index != scan-path bands")

    // MERGE rewrites matched partitions (copy-on-write): the
    // rewritten files' shards must swap, untouched partitions keep
    // theirs
    engine.execute(
      s"""MERGE INTO $t AS d
         |USING (VALUES (3, 'rewritten text about join planning', 'book'))
         |  AS s(doc_id, text, src)
         |ON d.doc_id = s.doc_id
         |WHEN MATCHED THEN UPDATE SET text = s.text
         |WHEN NOT MATCHED THEN INSERT (doc_id, text, src)
         |  VALUES (s.doc_id, s.text, s.src)""".stripMargin)
    assert(sortedRows(IndexManager.indexData(spark, t, "b1")) ==
      sortedRows(scanBands(t)), "post-MERGE index != scan-path bands")

    // probe face: candidate pairs from the stored bands find the
    // planted near-dup group (1, 2, 5, 6 share the fox sentence)
    val cands = IndexManager.bandCandidates(spark, t, "b1")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 5L)) && cands.contains((1L, 6L)) &&
      cands.contains((1L, 2L)))
    assert(!cands.exists(p => p._1 == 4L || p._2 == 4L),
      "the all-different doc must not pair")
  }

  test("postings index: bm25 probe == scan-path scoring, across an append") {
    val t = freshDocs("docs2")
    engine.execute(s"CREATE INDEX p1 ON $t (doc_id, text) USING postings")
    val params = graft.operators.Search.Bm25Params(
      Seq("quick", "join", "tokens"), topN = 10)

    def scanBm25(): DataFrame = {
      val base = spark.table(t)
        .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
        .withColumn("dl", size(col("toks")))
      val stats = base.agg(count(lit(1)).as("n_docs"),
        sum(col("dl")).as("sum_dl"))
      val postings = base
        .select(col("doc_id"), col("dl"), explode(col("toks")).as("w"))
        .where(col("w").isin(params.terms: _*))
        .groupBy(col("doc_id"), col("dl"), col("w"))
        .agg(count(lit(1)).as("tf"))
      graft.operators.Search.scorePostings(postings, stats, params)
    }

    assert(sortedRows(IndexManager.bm25(spark, t, "p1", params)) ==
      sortedRows(scanBm25()))
    engine.execute(s"INSERT INTO $t VALUES " +
      "(7, 'quick join of tokens with tokens', 'web')")
    assert(sortedRows(IndexManager.bm25(spark, t, "p1", params)) ==
      sortedRows(scanBm25()), "post-INSERT bm25 probe != scan path")
  }

  private def freshVectors(name: String): String = {
    engine.execute(s"CREATE DATABASE IF NOT EXISTS $Db")
    engine.execute(s"DROP TABLE IF EXISTS $Db.$name")
    engine.execute(
      s"""CREATE TABLE $Db.$name (vec_id int64 NOT NULL,
         |  v list<float64>) STORAGE filesystem""".stripMargin)
    val vals = (0 until 24).map { i =>
      val vec = Seq(math.cos(i * 0.7), math.sin(i * 0.7),
        (i % 5) * 0.2 - 0.4, 0.1 * i).map(x => f"$x%.4f").mkString(", ")
      s"($i, array($vec))"
    }.mkString(", ")
    engine.execute(s"INSERT INTO $Db.$name VALUES $vals")
    s"$Db.$name"
  }

  test("sq8 index: frozen scales quantize appended rows; decode matches direct computation") {
    val t = freshVectors("vecs1")
    engine.execute(s"CREATE INDEX s1 ON $t (vec_id, v) USING sq8")
    val meta = IndexManager.indexMeta(spark, t, "s1").get
    val mn = meta.params("mn").split(",").map(_.toDouble).toSeq
    val mx = meta.params("mx").split(",").map(_.toDouble).toSeq

    def directDecoded(): DataFrame =
      spark.table(t)
        .select(col("vec_id").as("key"), col("v"))
        .withColumn("mnl", typedlit(mn)).withColumn("mxl", typedlit(mx))
        .withColumn("codes", expr(
          s"""transform(sequence(1, ${mn.length}), i ->
             |  CASE WHEN element_at(mxl, i) = element_at(mnl, i) THEN 0
             |  ELSE least(255, greatest(0, CAST(floor(
             |    (element_at(v, i) - element_at(mnl, i)) * 255.0D
             |      / (element_at(mxl, i) - element_at(mnl, i))) AS INT))) END)""".stripMargin))
        .withColumn("dv", expr(
          s"""transform(sequence(1, ${mn.length}), i ->
             |  element_at(mnl, i) + CAST(element_at(codes, i) AS DOUBLE)
             |    * (element_at(mxl, i) - element_at(mnl, i)) / 255.0D)""".stripMargin))
        .select(col("key"), col("dv"))

    assert(sortedRows(IndexManager.sq8Decoded(spark, t, "s1")) ==
      sortedRows(directDecoded()))

    // an appended OUT-OF-RANGE vector must clamp against the FROZEN
    // scales (the stored-index drift contract), still matching the
    // direct computation with those same frozen scales
    engine.execute(s"INSERT INTO $t VALUES (99, array(9.0, -9.0, 9.0, -9.0))")
    assert(sortedRows(IndexManager.sq8Decoded(spark, t, "s1")) ==
      sortedRows(directDecoded()), "post-INSERT sq8 probe != frozen-scale path")
    val clamped = IndexManager.indexData(spark, t, "s1")
      .where(col("key") === 99L).select(col("codes")).head.getSeq[Int](0)
    assert(clamped == Seq(255, 0, 255, 0), s"expected clamped codes, got $clamped")
  }

  test("ivf index: probe routes frozen cells; candidates match recomputed assignment") {
    val t = freshVectors("vecs2")
    engine.execute(s"CREATE INDEX i1 ON $t (vec_id, v) USING ivf")
    val meta = IndexManager.indexMeta(spark, t, "i1").get
    val cents = meta.params("centroids").split(";").toSeq
      .map(_.split(",").toSeq.map(_.toDouble))

    // covering-index contract: the shard carries the vector next to
    // its cell assignment so probes never re-scan the base table
    def directCells(): DataFrame =
      spark.table(t).select(col("vec_id").as("key"),
          col("v").cast("array<double>").as("v"))
        .withColumn("cell", element_at(
          ArrayOps.ivfCells(col("v"), cents, 1), 1).getField("cell"))
        .select(col("cell"), col("key"), col("v"))

    assert(sortedRows(IndexManager.indexData(spark, t, "i1")) ==
      sortedRows(directCells()))
    engine.execute(s"INSERT INTO $t VALUES (50, array(0.5, 0.5, 0.1, 0.9))")
    assert(sortedRows(IndexManager.indexData(spark, t, "i1")) ==
      sortedRows(directCells()), "post-INSERT ivf index != frozen-codebook path")

    val nn = IndexManager.ivfNeighbors(spark, t, "i1",
      queryKeys = Seq(0L), k = 3, nprobe = 8)
    assert(nn.count() == 3)
    assert(nn.where(col("neighbor_id") === 0L).count() == 0,
      "query must not be its own neighbor")
  }

  test("shard format versioning: old-format ivf index refuses probes, sync migrates in place") {
    val t = freshVectors("vecs3")
    engine.execute(s"CREATE INDEX i1 ON $t (vec_id, v) USING ivf")
    assert(IndexManager.indexMeta(spark, t, "i1").get.params("fmt") == "2")
    val before = IndexManager.ivfNeighbors(spark, t, "i1",
      queryKeys = Seq(0L), k = 3, nprobe = 8).collect().map(_.toSeq).toSeq

    // simulate an index persisted by a pre-round-10 build: meta with
    // no fmt stamp, shards in the old (cell, key) non-covering schema
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val idxDir = new org.apache.hadoop.fs.Path(
      s"$wh/.graft-indexes/${t.toLowerCase}/i1")
    val fs = idxDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metaPath = new org.apache.hadoop.fs.Path(idxDir, "meta.json")
    val metaIn = fs.open(metaPath)
    val metaBytes = new Array[Byte](fs.getFileStatus(metaPath).getLen.toInt)
    metaIn.readFully(metaBytes); metaIn.close()
    val oldJson = new String(metaBytes, "UTF-8").replace("\"fmt\":\"2\",", "")
    assert(!oldJson.contains("fmt"), oldJson)
    val out = fs.create(metaPath, true)
    out.write(oldJson.getBytes("UTF-8")); out.close()
    val dataDir = new org.apache.hadoop.fs.Path(idxDir, "data")
    val shard = fs.listStatus(dataDir).map(_.getPath.getName)
      .find(_.startsWith("f=")).get
    // strip the covering column v from one shard — the old layout
    val shardPath = new org.apache.hadoop.fs.Path(dataDir, shard).toString
    val oldRows = spark.read.parquet(shardPath).select("cell", "key")
    val tmp = shardPath + ".old"
    oldRows.write.mode("overwrite").parquet(tmp)
    fs.delete(new org.apache.hadoop.fs.Path(shardPath), true)
    fs.rename(new org.apache.hadoop.fs.Path(tmp),
      new org.apache.hadoop.fs.Path(shardPath))

    val e = intercept[IllegalStateException](
      IndexManager.indexData(spark, t, "i1"))
    assert(e.getMessage.contains("older shard format") &&
      e.getMessage.contains("DROP"), e.getMessage)

    // sync migrates: shards wiped + rebuilt, meta restamped, probe works
    IndexManager.sync(spark, t)
    assert(IndexManager.indexMeta(spark, t, "i1").get.params("fmt") == "2")
    val after = IndexManager.ivfNeighbors(spark, t, "i1",
      queryKeys = Seq(0L), k = 3, nprobe = 8).collect().map(_.toSeq).toSeq
    assert(after == before, "migrated probe must equal the pre-tamper answer")
  }

  test("zonemap default kind: manifest bounds per file; pruning identifies dead files") {
    val t = freshDocs("docs3")
    // reference-compatible statement (no USING) -> zonemap
    engine.execute(s"CREATE INDEX z1 ON $t (doc_id)")
    assert(IndexManager.indexMeta(spark, t, "z1").get.kind == "zonemap")
    assert(!hadoopFs(indexPath(t, "z1", "data")).exists(indexPath(t, "z1", "data")),
      "a zonemap index builds no shards")
    // one bounds entry per live file in the commit-log manifest,
    // whatever the write layout
    val loc = new org.apache.hadoop.fs.Path(spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(t))
      .location)
    val m = graft.engine.CommitLog.current(hadoopFs(loc), loc).get
    val nFiles = spark.table(t).inputFiles.length.toLong
    assert(m.files.size == nFiles)
    assert(m.files.count(f => m.stats.get(f)
      .exists(_.bounds.get("doc_id").exists(_.isDefined))) == nFiles)
    def scanFiles(pred: String): Long =
      spark.sql(s"SELECT * FROM $t WHERE $pred").queryExecution
        .optimizedPlan.collect {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            l.relation.asInstanceOf[
              org.apache.spark.sql.execution.datasources.HadoopFsRelation]
              .location.inputFiles.length.toLong
        }.sum
    def skipping(pred: String): Seq[Any] =
      engine.execute(s"EXPLAIN SKIPPING SELECT * FROM $t WHERE $pred")
        .data.head.take(3)
    // doc_id=100 is outside every file's bounds -> all prunable
    assert(scanFiles("doc_id = 100") == 0L)
    assert(skipping("doc_id = 100") == Seq(t, nFiles, 0L))
    // doc_id=3: every file NOT containing it prunes (tight
    // single-partition ranges here), and its own file survives
    val filesWith3 = spark.table(t).where(col("doc_id") === 3)
      .select(input_file_name()).distinct().count()
    assert(scanFiles("doc_id = 3") == filesWith3)
    assert(skipping("doc_id = 3") == Seq(t, nFiles, filesWith3))
  }

  test("restart survival: a fresh engine lists and probes the index from disk") {
    val t = freshDocs("docs4")
    engine.execute(s"CREATE INDEX b4 ON $t (doc_id, text) USING bands")
    val fresh = new QueryEngine(spark) // no shared in-memory state
    val li = fresh.execute(s"SHOW INDEXES ON $t")
    assert(li.data.map(_.head) == Seq("b4"))
    assert(sortedRows(IndexManager.indexData(spark, t, "b4")) ==
      sortedRows(scanBands(t)))
    // and maintenance still fires through the fresh engine
    fresh.execute(s"INSERT INTO $t VALUES (9, 'spark query join text', 'web')")
    assert(sortedRows(IndexManager.indexData(spark, t, "b4")) ==
      sortedRows(scanBands(t)))
  }

  test("DDL edges: duplicate, unknown kind, UNIQUE, bad arity, DROP, table purge") {
    val t = freshDocs("docs5")
    engine.execute(s"CREATE INDEX e1 ON $t (doc_id, text) USING bands")
    assertThrows[Exception](
      engine.execute(s"CREATE INDEX e1 ON $t (doc_id, text) USING bands"))
    assert(engine.execute(
      s"CREATE INDEX IF NOT EXISTS e1 ON $t (doc_id, text) USING bands")
      .message.contains("already exists"))
    assertThrows[Exception](
      engine.execute(s"CREATE INDEX e2 ON $t (doc_id, text) USING wavelet"))
    assertThrows[Exception](
      engine.execute(s"CREATE UNIQUE INDEX e3 ON $t (doc_id)"))
    assertThrows[Exception](
      engine.execute(s"CREATE INDEX e4 ON $t (doc_id) USING bands"))
    assertThrows[Exception](
      engine.execute(s"CREATE INDEX e5 ON $t (text, text) USING bands"))

    assert(engine.execute(s"DROP INDEX e1 ON $t").message == "Index e1 dropped")
    assertThrows[Exception](engine.execute(s"DROP INDEX e1 ON $t"))
    assert(engine.execute(s"DROP INDEX IF EXISTS e1 ON $t")
      .message.contains("does not exist"))

    // DROP TABLE purges index storage: a recreated table starts clean
    engine.execute(s"CREATE INDEX e6 ON $t (doc_id, text) USING bands")
    engine.execute(s"DROP TABLE $t")
    val t2 = freshDocs("docs5")
    assert(engine.execute(s"SHOW INDEXES ON $t2").rowCount == 0)
  }

  // ---------------------------------------------- round-10 advice pins

  private def indexPath(t: String, name: String, file: String) =
    new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"),
      s".graft-indexes/${t.toLowerCase}/$name/$file")

  private def hadoopFs(p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("partition columns rejected at CREATE: shards read data files where they are absent") {
    val t = freshDocs("docs6")
    // zonemap directly on the partition column
    val e = intercept[Exception](engine.execute(s"CREATE INDEX p1 ON $t (src)"))
    assert(e.getMessage.contains("partition column"))
    // two-col kind with a partition payload
    val e2 = intercept[Exception](
      engine.execute(s"CREATE INDEX p2 ON $t (doc_id, src) USING bands"))
    assert(e2.getMessage.contains("partition column"))
    // mixed zonemap column list: any partition member poisons it
    val e3 = intercept[Exception](
      engine.execute(s"CREATE INDEX p3 ON $t (text, src)"))
    assert(e3.getMessage.contains("partition column"))
    // non-partition columns still index fine
    engine.execute(s"CREATE INDEX p4 ON $t (text)")
    assert(engine.execute(s"SHOW INDEXES ON $t").data.map(_.head) == Seq("p4"))
  }

  test("STALE marker: probes refuse with an addressed error; the next successful sync heals") {
    val t = freshDocs("docs7")
    engine.execute(s"CREATE INDEX s1 ON $t (doc_id, text) USING bands")
    // simulate a failed maintenance pass via the documented marker file
    val marker = indexPath(t, "s1", "STALE")
    val out = hadoopFs(marker).create(marker, true)
    out.write("simulated shard-build failure".getBytes("UTF-8")); out.close()
    assert(IndexManager.isStale(spark, t, "s1"))
    val err = intercept[IllegalStateException](
      IndexManager.indexData(spark, t, "s1"))
    assert(err.getMessage.contains("STALE"))
    // any DML reruns the idempotent file diff; success clears the marker
    engine.execute(s"INSERT INTO $t VALUES (10, 'heal the index now', 'web')")
    assert(!IndexManager.isStale(spark, t, "s1"))
    assert(sortedRows(IndexManager.indexData(spark, t, "s1")) ==
      sortedRows(scanBands(t)))
  }

  test("broken index maintenance cannot fail a committed DML or drop its CDC event") {
    val t = freshDocs("docs8")
    engine.execute(s"CREATE INDEX c1 ON $t (doc_id, text) USING bands")
    // corrupt meta.json: the index LISTING itself now throws inside
    // sync — the catastrophic path that runs before the per-index loop
    val meta = indexPath(t, "c1", "meta.json")
    val out = hadoopFs(meta).create(meta, true)
    out.write("{this is not json".getBytes("UTF-8")); out.close()
    val before = engine.execute(
      "SELECT count(*) FROM system.cdc_log").data.head.head
      .asInstanceOf[Long]
    // the INSERT commits, returns success, and emits its CDC event
    engine.execute(s"INSERT INTO $t VALUES (11, 'corrupt meta survives', 'web')")
    assert(spark.table(t).count() == 6)
    val after = engine.execute(
      "SELECT count(*) FROM system.cdc_log").data.head.head
      .asInstanceOf[Long]
    assert(after > before, "CDC event for the committed DML must exist")
    // hygiene: a corrupt catalog object is removable
    hadoopFs(meta).delete(indexPath(t, "c1", ""), true)
  }

  test("meta.json round-trips hostile names: a param named 'kind', quotes and ']' in values") {
    // the regex parser this replaced corrupted on exactly these
    val m = IndexManager.IndexMeta("i\"x]", "db.t]bl", "zonemap",
      Seq("a]b", "c\"d"), Map("kind" -> "tro]jan", "k\"2" -> "v\\2"))
    val parsed = IndexManager.roundTripMetaForTest(m)
    assert(parsed == m)
    // unknown kind in a (hand-edited) meta file fails loudly
    val bad = m.copy(kind = "wavelet")
    assert(intercept[Exception](IndexManager.roundTripMetaForTest(bad))
      .getMessage.contains("unknown kind"))
  }

  test("meta.json round-trips control characters in names and params") {
    val m = IndexManager.IndexMeta("i\tx", "db.t", "zonemap",
      Seq("a\nb", "c\u0001d"), Map("k" -> "v\r\u001f"))
    assert(IndexManager.roundTripMetaForTest(m) == m)
  }
}
