package graft

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.QueryEngine
import graft.sources.IcebergStatic

/** Static Iceberg table-directory reads ([[graft.sources.IcebergStatic]])
  * — both dialects a migration actually meets: graft's own mirror
  * (real Avro manifests + version hint) and the reference's layout
  * (creation-shell metadata JSON with empty snapshots, JSON-bodied
  * `manifest-*.avro` per batch, data under `data/` —
  * /root/reference/server/paths/manager.go:80-126,
  * server/storage/storage.go:749-787, metadata/iceberg/metadata.go). */
class IcebergStaticSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  lazy val engine = new QueryEngine(spark)

  private def fs = new Path(spark.conf.get("spark.sql.warehouse.dir"))
    .getFileSystem(spark.sessionState.newHadoopConf())

  private def locOf(t: String): Path = new Path(
    spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(t)).location)

  test("graft mirror round-trip: static read == engine SELECT, retired files excluded") {
    engine.execute("CREATE DATABASE IF NOT EXISTS isdb")
    engine.execute("DROP TABLE IF EXISTS isdb.t1")
    engine.execute(
      """CREATE TABLE isdb.t1 (id int64 NOT NULL, v string)
        |STORAGE filesystem""".stripMargin) // commitlog (and mirror) default-on
    (0 until 3).foreach { r =>
      val vals = (r * 100 until r * 100 + 10)
        .map(i => s"($i, 'row $i')").mkString(", ")
      engine.execute(s"INSERT INTO isdb.t1 VALUES $vals")
    }
    engine.execute("CREATE INDEX zi ON isdb.t1 (id)")
    engine.execute("DELETE FROM isdb.t1 WHERE id = 105") // CoW retire
    val loc = locOf("isdb.t1").toString
    val viaStatic = IcebergStatic.read(spark, loc)
      .collect().map(_.toSeq).toSet
    val viaEngine = engine.execute("SELECT id, v FROM isdb.t1")
      .data.map(_.toSeq).toSet
    assert(viaStatic.size == 29, "retired file must be invisible")
    assert(viaStatic == viaEngine.map(_.toSeq))
    // declared schema drives the read
    assert(IcebergStatic.read(spark, loc).schema("id").dataType ==
      org.apache.spark.sql.types.LongType)
  }

  test("reference layout: creation-shell metadata + JSON-bodied manifests resolve the batch files") {
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft_ref_iceberg").toString
    val tdir = s"$base/tables/refdb/events"
    // data/ holds two batches; the manifest lists only batch 1 (the
    // second is "unregistered" — exactly what a half-ingested
    // reference table looks like mid-pipeline)
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .coalesce(1).write.parquet(s"$tdir/data/batch1")
    Seq((3L, "c")).toDF("id", "v")
      .coalesce(1).write.parquet(s"$tdir/data/batch2")
    def parquetsUnder(p: String): Seq[String] = {
      val out = Seq.newBuilder[String]
      val it = fs.listFiles(new Path(p), true)
      while (it.hasNext) {
        val f = it.next()
        if (f.isFile && f.getPath.getName.endsWith(".parquet"))
          out += f.getPath.toString
      }
      out.result()
    }
    val batch1 = parquetsUnder(s"$tdir/data/batch1")
    // v1.metadata.json: the reference's CREATE-time shell
    // (storage.go:749-787) — format v2, empty snapshots, schema fields
    val mdDir = new Path(s"$tdir/metadata")
    fs.mkdirs(mdDir)
    def write(p: Path, text: String): Unit = {
      val out = fs.create(p, true)
      out.write(text.getBytes("UTF-8")); out.close()
    }
    write(new Path(mdDir, "v1.metadata.json"),
      """{"format-version":2,"table-uuid":"u","location":"LOC",
        |"schemas":[{"schema-id":0,"type":"struct","fields":[
        |  {"id":1,"name":"id","required":true,"type":"long"},
        |  {"id":2,"name":"v","required":false,"type":"string"}]}],
        |"current-schema-id":0,"partition-specs":[{"spec-id":0,"fields":[]}],
        |"default-spec-id":0,"sort-orders":[{"order-id":0,"fields":[]}],
        |"default-sort-order-id":0,
        |"snapshots":[],"current-snapshot-id":null,
        |"snapshot-log":[],"metadata-log":[],"properties":{}}"""
        .stripMargin.replace("LOC", tdir))
    // manifest-<batch>-<ts>.avro with a JSON body (metadata.go:131-146)
    val entries = batch1.map(f =>
      s"""{"status":1,"snapshot_id":1,"data_sequence_number":1,
         |"file_sequence_number":1,"data_file":{
         |"content":0,"file_path":"$f","file_format":"PARQUET",
         |"partition":{},"record_count":2,"file_size_in_bytes":10}}"""
        .stripMargin).mkString(",")
    write(new Path(mdDir, "manifest-b1-1700000000.avro"),
      s"""{"manifest_type":"ENTRY","content":0,"sequence_number":1,
         |"min_sequence_number":1,"entries":[$entries]}""".stripMargin)

    val df = IcebergStatic.read(spark, tdir)
    // names + types come from the metadata schema (nullability is
    // Spark-forced to true on file sources, so it's not asserted)
    assert(df.schema.fieldNames.toSeq == Seq("id", "v"))
    assert(df.schema("id").dataType == org.apache.spark.sql.types.LongType)
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L),
      "only the manifest-listed batch is live")

    // no manifests at all -> the data/ fallback reads everything
    fs.delete(new Path(mdDir, "manifest-b1-1700000000.avro"), false)
    val all = IcebergStatic.read(spark, tdir)
    assert(all.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("ICEBERG_SCAN snapshot time travel reads a retained older version") {
    engine.execute("CREATE DATABASE IF NOT EXISTS isdb")
    engine.execute("DROP TABLE IF EXISTS isdb.tt")
    engine.execute(
      "CREATE TABLE isdb.tt (id int64 NOT NULL, v string) STORAGE filesystem")
    engine.execute("INSERT INTO isdb.tt VALUES (1, 'a')") // snapshot 1
    engine.execute("INSERT INTO isdb.tt VALUES (2, 'b')") // snapshot 2
    val loc = locOf("isdb.tt").toString.replace("'", "''")
    assert(engine.execute(
      s"SELECT count(*) AS n FROM ICEBERG_SCAN('$loc')").data.head.head == 2L)
    val old = engine.execute(
      s"SELECT id FROM ICEBERG_SCAN('$loc', 1)")
    assert(old.data == Seq(Seq(1L)),
      s"snapshot 1 must see only the first insert: ${old.data}")
    // an id outside the retained window fails addressably
    val err = intercept[Exception](
      engine.execute(s"SELECT * FROM ICEBERG_SCAN('$loc', 999)"))
    assert(err.getMessage.contains("no snapshot 999"), err.getMessage)
  }

  test("ICEBERG_SCAN('<dir>') SQL face: standalone and joined to a catalog table") {
    engine.execute("CREATE DATABASE IF NOT EXISTS isdb")
    engine.execute("DROP TABLE IF EXISTS isdb.t2")
    engine.execute(
      "CREATE TABLE isdb.t2 (id int64 NOT NULL, v string) STORAGE filesystem")
    engine.execute("INSERT INTO isdb.t2 VALUES (1, 'x'), (2, 'y'), (3, 'z')")
    val loc = locOf("isdb.t2").toString.replace("'", "''")
    val r = engine.execute(
      s"SELECT count(*) AS n FROM ICEBERG_SCAN('$loc')")
    assert(r.data.head.head == 3L)
    val joined = engine.execute(
      s"""SELECT t.v FROM ICEBERG_SCAN('$loc') s
         |JOIN isdb.t2 t ON t.id = s.id WHERE s.id = 2""".stripMargin)
    assert(joined.data == Seq(Seq("y")))
  }

  test("selectDataFrame reads ICEBERG_SCAN like a routed query") {
    engine.execute("CREATE DATABASE IF NOT EXISTS isdb")
    engine.execute("DROP TABLE IF EXISTS isdb.t3")
    engine.execute(
      "CREATE TABLE isdb.t3 (id int64 NOT NULL, v string) STORAGE filesystem")
    engine.execute("INSERT INTO isdb.t3 VALUES (1, 'x'), (2, 'y')")
    val loc = locOf("isdb.t3").toString.replace("'", "''")
    val df = engine.selectDataFrame(
      s"SELECT v FROM ICEBERG_SCAN('$loc') WHERE id = 2")
    assert(df.collect().map(_.getString(0)).toSeq == Seq("y"))
  }
}
