package graft

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.ObjectMapper
import graft.engine.{CommitLog, IcebergMetadata, QueryEngine}

/** Iceberg-compatible metadata export (round-12 verdict Next #2): every
  * commit-log publish mirrors into the standard static-table layout —
  * vN.metadata.json + version-hint.text + Avro manifest list/manifest —
  * matching the reference's CREATE-time metadata
  * (/root/reference/server/storage/storage.go:749-787) and its Avro
  * record layouts (server/metadata/iceberg/avro_schemas.go). The
  * container has no iceberg jar and DuckDB cannot download its iceberg
  * extension (zero egress), so the external-reader assertion is
  * from-scratch: plain Jackson over the JSON, the generic Avro reader
  * (schema FROM THE FILE HEADER, not the writer's constant) over the
  * manifests. */
class IcebergMetadataSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  lazy val engine = new QueryEngine(spark)
  private val om = new ObjectMapper()

  private val Db = "icedb"

  private def fs = new Path(spark.conf.get("spark.sql.warehouse.dir"))
    .getFileSystem(spark.sessionState.newHadoopConf())

  private def locOf(t: String): Path = new Path(
    spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(t)).location)

  private def readJson(p: Path) = {
    val in = fs.open(p)
    try om.readTree(in) finally in.close()
  }

  private def mdDir(loc: Path) = IcebergMetadata.metadataDir(loc)

  private def hint(loc: Path): Long = {
    val in = fs.open(new Path(mdDir(loc), "version-hint.text"))
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
    finally in.close()
  }

  test("CREATE writes the v0 shell; commits mirror vN + hint; uuid is stable") {
    engine.execute(s"CREATE DATABASE IF NOT EXISTS $Db")
    engine.execute(s"DROP TABLE IF EXISTS $Db.t1")
    engine.execute(
      s"""CREATE TABLE $Db.t1 (id int64 NOT NULL, v string, ts timestamptz)
         |STORAGE filesystem ORDER BY (id)
         |SETTINGS commitlog=true""".stripMargin)
    val loc = locOf(s"$Db.t1")
    // creation shell (reference storage.go:737-806): no snapshots yet
    val v0 = readJson(new Path(mdDir(loc), "v0.metadata.json"))
    assert(v0.get("format-version").asInt == 2)
    assert(v0.get("snapshots").size == 0)
    assert(v0.get("current-snapshot-id").asLong == -1L)
    val uuid = v0.get("table-uuid").asText
    assert(uuid.nonEmpty)
    assert(hint(loc) == 0L)

    engine.execute(s"INSERT INTO $Db.t1 VALUES (1, 'a', SYS_TIMESTAMP)")
    engine.execute(s"INSERT INTO $Db.t1 VALUES (2, 'b', SYS_TIMESTAMP)")
    assert(hint(loc) == 2L)
    val v2 = readJson(new Path(mdDir(loc), s"v2.metadata.json"))
    assert(v2.get("table-uuid").asText == uuid, "uuid must carry forward")
    assert(v2.get("current-snapshot-id").asLong == 2L)
    assert(v2.get("snapshots").size == 2)
    assert(v2.get("last-sequence-number").asLong == 2L)
    // schema round-trip: names, iceberg spec types, required, unique ids
    val fields = v2.get("schemas").get(0).get("fields")
    val byName = (0 until fields.size).map(i => fields.get(i))
      .map(f => f.get("name").asText -> f).toMap
    assert(byName("id").get("type").asText == "long")
    assert(byName("id").get("required").asBoolean)
    assert(byName("v").get("type").asText == "string")
    assert(byName("ts").get("type").asText == "timestamptz")
    val ids = (0 until fields.size).map(i => fields.get(i).get("id").asInt)
    assert(ids.distinct.size == ids.size && ids.forall(_ > 0))
    // sort order mirrors ORDER BY (id)
    val order = v2.get("sort-orders").get(0)
    assert(v2.get("default-sort-order-id").asInt == 1)
    assert(order.get("fields").get(0).get("source-id").asInt ==
      byName("id").get("id").asInt)
    // snapshot-log grows with commits; metadata-log references v1
    assert(v2.get("snapshot-log").size == 2)
    assert(v2.get("metadata-log").size >= 1)
  }

  test("manifest list + manifest resolve EXACTLY the commit-log live files, with row counts") {
    engine.execute(s"CREATE DATABASE IF NOT EXISTS $Db")
    engine.execute(s"DROP TABLE IF EXISTS $Db.t2")
    engine.execute(
      s"""CREATE TABLE $Db.t2 (id int64 NOT NULL, v string)
         |STORAGE filesystem SETTINGS commitlog=true""".stripMargin)
    (0 until 3).foreach { r =>
      val vals = (r * 100 until r * 100 + 10)
        .map(i => s"($i, 'row $i')").mkString(", ")
      engine.execute(s"INSERT INTO $Db.t2 VALUES $vals")
    }
    engine.execute(s"CREATE INDEX zi ON $Db.t2 (id)")
    engine.execute(s"DELETE FROM $Db.t2 WHERE id = 105") // retiring CoW commit
    val loc = locOf(s"$Db.t2")
    val cur = CommitLog.current(fs, loc).get
    assert(cur.retired.nonEmpty)
    val md = readJson(new Path(mdDir(loc), s"v${cur.version}.metadata.json"))
    val snap = md.get("snapshots").get(md.get("snapshots").size - 1)
    assert(snap.get("snapshot-id").asLong == cur.version)
    assert(snap.get("summary").get("operation").asText == "overwrite")

    // ---- external-reader path: header-schema Avro readback
    val list = IcebergMetadata.readAvro(fs,
      new Path(snap.get("manifest-list").asText))
    assert(list.size == 1)
    val mf = list.head
    assert(mf.get("added_snapshot_id").asInstanceOf[Long] == cur.version)
    assert(mf.get("added_files_count").asInstanceOf[Int] == cur.files.size)
    assert(mf.get("deleted_files_count").asInstanceOf[Int] == cur.retired.size)
    val manifestLen = fs.getFileStatus(
      new Path(mf.get("manifest_path").toString)).getLen
    assert(mf.get("manifest_length").asInstanceOf[Long] == manifestLen)

    val entries = IcebergMetadata.readAvro(fs,
      new Path(mf.get("manifest_path").toString))
    val listed = entries.map(_.get("data_file")
      .asInstanceOf[org.apache.avro.generic.GenericRecord]
      .get("file_path").toString).toSet
    val expected = cur.files.map(r => new Path(loc, r).toString).toSet
    assert(listed == expected,
      s"manifest files must equal the commit-log live set\n  extra=${
        listed -- expected}\n  missing=${expected -- listed}")
    // retired files are NOT in the manifest
    cur.retired.foreach(r =>
      assert(!listed.contains(new Path(loc, r.rel).toString)))
    // row counts: per-file counts sum to the table's live rows
    val totalRows = entries.map(_.get("data_file")
      .asInstanceOf[org.apache.avro.generic.GenericRecord]
      .get("record_count").asInstanceOf[Long]).sum
    assert(totalRows == 29L, s"expected 29 live rows, manifests say $totalRows")
    entries.foreach { e =>
      val df = e.get("data_file").asInstanceOf[
        org.apache.avro.generic.GenericRecord]
      assert(df.get("file_format").toString == "PARQUET")
      assert(df.get("file_size_in_bytes").asInstanceOf[Long] > 0L)
    }

    // spec `field-id` props (round 14): strict Iceberg readers resolve
    // fields by id, not name — assert the EMBEDDED container-file
    // schemas carry the published spec assignments (manifest_entry
    // 0/1/3/4/2, data_file 134/100-104, manifest_file 500-514).
    // Round 16: `partition` is the spec's r102 STRUCT (empty for an
    // unpartitioned table), not the reference's string map.
    def fid(s: org.apache.avro.Schema, name: String): Int =
      s.getField(name).getObjectProp("field-id").asInstanceOf[Number].intValue
    val es = entries.head.getSchema
    assert(fid(es, "status") == 0 && fid(es, "snapshot_id") == 1 &&
      fid(es, "data_sequence_number") == 3 && fid(es, "file_sequence_number") == 4 &&
      fid(es, "data_file") == 2)
    val dfs = es.getField("data_file").schema()
    assert(fid(dfs, "file_path") == 100 && fid(dfs, "file_format") == 101 &&
      fid(dfs, "partition") == 102 && fid(dfs, "record_count") == 103 &&
      fid(dfs, "file_size_in_bytes") == 104 && fid(dfs, "content") == 134)
    val pm = dfs.getField("partition").schema()
    assert(pm.getType == org.apache.avro.Schema.Type.RECORD && pm.getName == "r102")
    assert(pm.getFields.isEmpty, "unpartitioned table's r102 struct must be empty")
    val ls = mf.getSchema
    assert(fid(ls, "manifest_path") == 500 && fid(ls, "manifest_length") == 501 &&
      fid(ls, "partition_spec_id") == 502 && fid(ls, "added_snapshot_id") == 503 &&
      fid(ls, "added_files_count") == 504 && fid(ls, "deleted_files_count") == 506 &&
      fid(ls, "added_rows_count") == 512 && fid(ls, "deleted_rows_count") == 514)
  }

  test("partitioned table: identity spec with source-ids, partition values per data file") {
    engine.execute(s"CREATE DATABASE IF NOT EXISTS $Db")
    engine.execute(s"DROP TABLE IF EXISTS $Db.pt")
    engine.execute(
      s"""CREATE TABLE $Db.pt (id int64 NOT NULL, v string, r string)
         |STORAGE filesystem PARTITION BY (r)
         |SETTINGS commitlog=true""".stripMargin)
    engine.execute(s"INSERT INTO $Db.pt VALUES (1, 'x', 'emea'), (2, 'y', 'o''brien')")
    val loc = locOf(s"$Db.pt")
    val cur = CommitLog.current(fs, loc).get
    val md = readJson(new Path(mdDir(loc), s"v${cur.version}.metadata.json"))
    val spec = md.get("partition-specs").get(0)
    val pf = spec.get("fields").get(0)
    assert(pf.get("name").asText == "r")
    assert(pf.get("transform").asText == "identity")
    val fields = md.get("schemas").get(0).get("fields")
    val rId = (0 until fields.size).map(fields.get)
      .find(_.get("name").asText == "r").get.get("id").asInt
    assert(pf.get("source-id").asInt == rId)
    assert(pf.get("field-id").asInt == 1000)

    val snap = md.get("snapshots").get(md.get("snapshots").size - 1)
    val mf = IcebergMetadata.readAvro(fs,
      new Path(snap.get("manifest-list").asText)).head
    val entries = IcebergMetadata.readAvro(fs,
      new Path(mf.get("manifest_path").toString))
    // round 16: the manifest's partition is the spec's r102 struct —
    // its field carries the SAME field-id (1000) the metadata.json
    // partition spec declares, so an id-resolving reader lines the
    // manifest values up with the spec (the round-15 string map could
    // not express this; its synthetic 1000/1001 key/value ids even
    // collided with the partition-field range)
    val prSchema = entries.head.get("data_file").asInstanceOf[
      org.apache.avro.generic.GenericRecord].get("partition")
      .asInstanceOf[org.apache.avro.generic.GenericRecord].getSchema
    assert(prSchema.getName == "r102")
    val prField = prSchema.getField("r")
    assert(prField.getObjectProp("field-id").asInstanceOf[Number].intValue == 1000)
    assert(prField.schema().getType == org.apache.avro.Schema.Type.UNION,
      "r102 fields are nullable unions")
    val partVals = entries.map { e =>
      e.get("data_file").asInstanceOf[org.apache.avro.generic.GenericRecord]
        .get("partition").asInstanceOf[org.apache.avro.generic.GenericRecord]
        .get("r").toString
    }.toSet
    assert(partVals == Set("emea", "o'brien"),
      s"partition values must round-trip the escaped dir names: $partVals")
  }

  test("typed r102 values, and the string-map shape behind the compat flag") {
    engine.execute(s"CREATE DATABASE IF NOT EXISTS $Db")
    engine.execute(s"DROP TABLE IF EXISTS $Db.ptn")
    engine.execute(
      s"""CREATE TABLE $Db.ptn (id int64 NOT NULL, v string, bucket int32)
         |STORAGE filesystem PARTITION BY (bucket)
         |SETTINGS commitlog=true""".stripMargin)
    engine.execute(s"INSERT INTO $Db.ptn VALUES (1, 'x', 7), (2, 'y', 12)")
    val loc = locOf(s"$Db.ptn")
    def manifestEntries() = {
      val cur = CommitLog.current(fs, loc).get
      val md = readJson(new Path(mdDir(loc), s"v${cur.version}.metadata.json"))
      val snap = md.get("snapshots").get(md.get("snapshots").size - 1)
      val mf = IcebergMetadata.readAvro(fs,
        new Path(snap.get("manifest-list").asText)).head
      IcebergMetadata.readAvro(fs, new Path(mf.get("manifest_path").toString))
    }
    // an int32 partition column lands as a TYPED int in r102
    val typed = manifestEntries().map { e =>
      e.get("data_file").asInstanceOf[org.apache.avro.generic.GenericRecord]
        .get("partition").asInstanceOf[org.apache.avro.generic.GenericRecord]
        .get("bucket")
    }.toSet
    assert(typed == Set[Any](7, 12), s"expected typed ints, got $typed")

    // compat flag: the reference's string-map shape, with synthetic
    // key/value ids clear of data-column AND partition-field ranges
    spark.conf.set("spark.graft.iceberg.partitionMapCompat", "true")
    try {
      engine.execute(s"INSERT INTO $Db.ptn VALUES (3, 'z', 7)")
      val es = manifestEntries()
      val pm = es.head.get("data_file").asInstanceOf[
        org.apache.avro.generic.GenericRecord].getSchema
        .getField("partition").schema()
      assert(pm.getType == org.apache.avro.Schema.Type.MAP)
      assert(pm.getObjectProp("key-id").asInstanceOf[Number].intValue == 2147482000)
      assert(pm.getObjectProp("value-id").asInstanceOf[Number].intValue == 2147482001)
      val vals = es.map { e =>
        e.get("data_file").asInstanceOf[org.apache.avro.generic.GenericRecord]
          .get("partition").asInstanceOf[java.util.Map[Any, Any]]
          .entrySet().iterator().next().getValue.toString
      }.toSet
      assert(vals == Set("7", "12"))
    } finally spark.conf.unset("spark.graft.iceberg.partitionMapCompat")
    engine.execute(s"DROP TABLE $Db.ptn")
  }

  test("OPTIMIZE and RESTORE continue the mirror: same table-uuid, logs only grow, one version each") {
    engine.execute(s"CREATE DATABASE IF NOT EXISTS $Db")
    engine.execute(s"DROP TABLE IF EXISTS $Db.t9")
    engine.execute(
      s"""CREATE TABLE $Db.t9 (id int64 NOT NULL, v string)
         |STORAGE filesystem SETTINGS commitlog=true""".stripMargin)
    val loc = locOf(s"$Db.t9")
    val uuid = readJson(new Path(mdDir(loc), "v0.metadata.json"))
      .get("table-uuid").asText
    (0 until 3).foreach { r =>
      val vals = (r * 100 until r * 100 + 10)
        .map(i => s"($i, 'row $i')").mkString(", ")
      engine.execute(s"INSERT INTO $Db.t9 VALUES $vals")
    }
    engine.execute(s"DELETE FROM $Db.t9 WHERE id = 105") // snapshot 1
    def field(md: com.fasterxml.jackson.databind.JsonNode, log: String,
              key: String): Seq[String] = {
      val a = md.get(log)
      (0 until a.size).map(i => a.get(i).get(key).asText)
    }
    def state() = {
      val v = hint(loc)
      val md = readJson(new Path(mdDir(loc), s"v$v.metadata.json"))
      (v, md.get("table-uuid").asText, field(md, "snapshot-log", "snapshot-id"),
        field(md, "metadata-log", "metadata-file"))
    }
    var prev = state()
    assert(prev._2 == uuid)
    for (stmt <- Seq(s"OPTIMIZE $Db.t9", s"RESTORE TABLE $Db.t9 VERSION AS OF 1")) {
      engine.execute(stmt)
      val cur = state()
      assert(cur._1 == prev._1 + 1, s"$stmt: mirror v${prev._1} -> v${cur._1}")
      assert(cur._2 == uuid, s"$stmt must keep the table-uuid")
      assert(cur._3.startsWith(prev._3) && cur._3.size == prev._3.size + 1,
        s"$stmt: snapshot-log ${prev._3} -> ${cur._3}")
      assert(cur._4.startsWith(prev._4) && cur._4.size == prev._4.size + 1,
        s"$stmt: metadata-log ${prev._4} -> ${cur._4}")
      prev = cur
    }
    // the restore brought back the pre-DELETE rows
    assert(engine.execute(s"SELECT count(*) AS n FROM $Db.t9").data.head.head == 30L)
  }

  test("snapshot retention is bounded and dropped snapshots' files are GC'd") {
    spark.conf.set("spark.graft.iceberg.keepSnapshots", "3")
    try {
      engine.execute(s"CREATE DATABASE IF NOT EXISTS $Db")
      engine.execute(s"DROP TABLE IF EXISTS $Db.t3")
      engine.execute(
        s"""CREATE TABLE $Db.t3 (id int64, v string)
           |STORAGE filesystem SETTINGS commitlog=true""".stripMargin)
      (1 to 6).foreach(i =>
        engine.execute(s"INSERT INTO $Db.t3 VALUES ($i, 'r$i')"))
      val loc = locOf(s"$Db.t3")
      val md = readJson(new Path(mdDir(loc), s"v${hint(loc)}.metadata.json"))
      assert(md.get("snapshots").size == 3, "retention must bound snapshots")
      assert(md.get("snapshot-log").size <= 3)
      // old manifest lists are gone from disk, the kept ones resolve
      val files = fs.listStatus(mdDir(loc)).map(_.getPath.getName)
      assert(files.count(_.startsWith("snap-")) == 3,
        s"dropped snapshots' manifest lists must be GC'd: ${files.toSeq}")
      val snaps = md.get("snapshots")
      (0 until snaps.size).foreach { i =>
        assert(fs.exists(new Path(snaps.get(i).get("manifest-list").asText)))
      }
      // metadata files beyond the keep window are GC'd too
      assert(files.count(_.endsWith(".metadata.json")) <= 4)
    } finally spark.conf.unset("spark.graft.iceberg.keepSnapshots")
  }

  test("metadata-only ALTER re-emits the mirror with the new schema at the same version") {
    engine.execute(s"CREATE DATABASE IF NOT EXISTS $Db")
    engine.execute(s"DROP TABLE IF EXISTS $Db.t6")
    engine.execute(
      s"""CREATE TABLE $Db.t6 (id int64 NOT NULL, v string)
         |STORAGE filesystem SETTINGS commitlog=true""".stripMargin)
    engine.execute(s"INSERT INTO $Db.t6 VALUES (1, 'a')")
    val loc = locOf(s"$Db.t6")
    val v = hint(loc)
    engine.execute(s"ALTER TABLE $Db.t6 ADD COLUMN score float64")
    assert(hint(loc) == v, "metadata-only ALTER must not mint a version")
    val md = readJson(new Path(mdDir(loc), s"v$v.metadata.json"))
    // with schema history (round 15) the evolved shape is APPENDED —
    // resolve the current schema by id, not position
    val curSchemaId = md.get("current-schema-id").asInt
    val ss = md.get("schemas")
    val fields = (0 until ss.size).map(ss.get)
      .find(_.get("schema-id").asInt == curSchemaId).get.get("fields")
    val names = (0 until fields.size).map(i =>
      fields.get(i).get("name").asText)
    assert(names.contains("score"),
      s"mirror must carry the ALTERed schema, got $names")
    assert((0 until fields.size).map(fields.get)
      .find(_.get("name").asText == "score").get
      .get("type").asText == "double")
  }

  test("schema evolution: ALTER chain appends schema-ids with stable field " +
       "ids; time travel resolves the pre-ALTER shape and data") {
    engine.execute(s"CREATE DATABASE IF NOT EXISTS $Db")
    engine.execute(s"DROP TABLE IF EXISTS $Db.evo")
    engine.execute(
      s"""CREATE TABLE $Db.evo (id int64 NOT NULL, v string)
         |STORAGE filesystem SETTINGS commitlog=true""".stripMargin)
    engine.execute(s"INSERT INTO $Db.evo VALUES (1, 'a')") // snapshot 1
    engine.execute(s"INSERT INTO $Db.evo VALUES (2, 'b')") // snapshot 2
    val loc0 = locOf(s"$Db.evo")
    val pre = readJson(new Path(mdDir(loc0), s"v${hint(loc0)}.metadata.json"))
    val uuid = pre.get("table-uuid").asText
    val preSchemaId = pre.get("current-schema-id").asInt
    def fieldsByName(md: com.fasterxml.jackson.databind.JsonNode,
                     schemaId: Int) = {
      val ss = md.get("schemas")
      val s = (0 until ss.size).map(ss.get)
        .find(_.get("schema-id").asInt == schemaId).get
      val fs = s.get("fields")
      (0 until fs.size).map(fs.get).map(f => f.get("name").asText -> f).toMap
    }
    val vIdPre = fieldsByName(pre, preSchemaId)("v").get("id").asInt
    val preLastColId = pre.get("last-column-id").asInt

    // metadata-only evolution (ADD) then a rebuild evolution (RENAME —
    // the path that drops/recreates the table dir and must carry the
    // commit log + mirror history across)
    engine.execute(s"ALTER TABLE $Db.evo ADD COLUMN score float64")
    engine.execute(s"INSERT INTO $Db.evo VALUES (3, 'c', 1.5)")
    engine.execute(s"ALTER TABLE $Db.evo RENAME COLUMN v TO label")
    engine.execute(s"INSERT INTO $Db.evo VALUES (4, 'd', 2.5)")

    val loc = locOf(s"$Db.evo")
    val v = hint(loc)
    val cur = readJson(new Path(mdDir(loc), s"v$v.metadata.json"))
    assert(cur.get("table-uuid").asText == uuid,
      "identity must survive the rebuild ALTER")
    // history: three shapes — (id,v), (id,v,score), (id,label,score)
    assert(cur.get("schemas").size >= 3,
      s"expected the full schema history, got ${cur.get("schemas")}")
    val curId = cur.get("current-schema-id").asInt
    assert(curId != preSchemaId)
    val curFields = fieldsByName(cur, curId)
    assert(curFields.keySet == Set("id", "label", "score"))
    // stable ids: RENAME keeps v's id (spec rule, via the AlterTable
    // breadcrumb); ADD allocates past the previous last-column-id
    assert(curFields("label").get("id").asInt == vIdPre,
      "rename must keep the field id")
    assert(curFields("score").get("id").asInt > preLastColId,
      "added column must allocate a fresh id past last-column-id")
    // snapshots record the schema they were written under
    val snaps = cur.get("snapshots")
    val byId = (0 until snaps.size).map(snaps.get)
      .map(s => s.get("snapshot-id").asLong -> s).toMap
    assert(byId(2L).get("schema-id").asInt == preSchemaId,
      "pre-ALTER snapshot must keep its pre-ALTER schema-id")
    assert(byId(v).get("schema-id").asInt == curId)

    // time travel: the pre-ALTER snapshot reads with the pre-ALTER
    // shape AND its pre-rewrite data files, retired in place at their
    // recorded paths
    val esc = loc.toString.replace("'", "''")
    val old = engine.execute(
      s"SELECT * FROM ICEBERG_SCAN('$esc', 2) ORDER BY id")
    assert(old.columns == Seq("id", "v"),
      s"pre-ALTER snapshot must resolve the pre-ALTER schema: ${old.columns}")
    assert(old.data == Seq(Seq(1L, "a"), Seq(2L, "b")), old.data.toString)
    // the current scan serves the evolved shape
    val now = engine.execute(
      s"SELECT id, label, score FROM ICEBERG_SCAN('$esc') ORDER BY id")
    assert(now.data.map(_.head) == Seq(1L, 2L, 3L, 4L), now.data.toString)
    assert(now.data.last == Seq(4L, "d", 2.5), now.data.toString)
  }

  test("stale rename breadcrumbs can never alias one field id across two live columns") {
    // the round-16 advice scenario: RENAME a->b, re-add a, drop b,
    // re-add b. The pre-fix emit followed the surviving graft.renamed.b=a
    // breadcrumb and deep-copied a's node for the re-added b — two live
    // columns sharing one field id. Now (1) the breadcrumb is consumed
    // by the first emit that records the rename, and (2) even an
    // unconsumed breadcrumb cannot claim a node a live column owns.
    engine.execute(s"CREATE DATABASE IF NOT EXISTS $Db")
    engine.execute(s"DROP TABLE IF EXISTS $Db.bc")
    engine.execute(
      s"""CREATE TABLE $Db.bc (id int64 NOT NULL, a string)
         |STORAGE filesystem SETTINGS commitlog=true""".stripMargin)
    engine.execute(s"INSERT INTO $Db.bc VALUES (1, 'x')")
    engine.execute(s"ALTER TABLE $Db.bc RENAME COLUMN a TO b")
    // the publish that recorded the rename consumed the breadcrumb
    val props = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(s"$Db.bc")).properties
    assert(!props.keys.exists(_.startsWith("graft.renamed.")),
      s"breadcrumb must be consumed by the first post-rename emit: $props")
    engine.execute(s"ALTER TABLE $Db.bc ADD COLUMN a string")     // re-add a
    engine.execute(s"ALTER TABLE $Db.bc DROP COLUMN b")
    engine.execute(s"ALTER TABLE $Db.bc ADD COLUMN b string")     // re-add b
    val loc = locOf(s"$Db.bc")
    val md = readJson(new Path(mdDir(loc), s"v${hint(loc)}.metadata.json"))
    val ss = md.get("schemas")
    val curSchema = (0 until ss.size).map(ss.get)
      .find(_.get("schema-id").asInt == md.get("current-schema-id").asInt).get
    val fs2 = curSchema.get("fields")
    val ids = (0 until fs2.size).map(i => fs2.get(i).get("id").asInt)
    assert(ids.distinct.length == ids.length,
      s"two live columns share a field id: ${(0 until fs2.size).map(fs2.get)}")
    engine.execute(s"DROP TABLE $Db.bc")
  }

  test("kill switch: no mirror when spark.graft.iceberg.enabled=false") {
    spark.conf.set("spark.graft.iceberg.enabled", "false")
    try {
      engine.execute(s"CREATE DATABASE IF NOT EXISTS $Db")
      engine.execute(s"DROP TABLE IF EXISTS $Db.t4")
      engine.execute(
        s"""CREATE TABLE $Db.t4 (id int64, v string)
           |STORAGE filesystem SETTINGS commitlog=true""".stripMargin)
      engine.execute(s"INSERT INTO $Db.t4 VALUES (1, 'a')")
      val loc = locOf(s"$Db.t4")
      assert(!fs.exists(mdDir(loc)), "kill switch must stop the mirror")
      // the commit log itself is unaffected
      assert(CommitLog.currentVersion(fs, loc) == 1L)
    } finally spark.conf.unset("spark.graft.iceberg.enabled")
  }

  test("emission is O(changed files): counts and sizes come from the manifest") {
    engine.execute(s"CREATE DATABASE IF NOT EXISTS $Db")
    engine.execute(s"DROP TABLE IF EXISTS $Db.t5")
    engine.execute(
      s"""CREATE TABLE $Db.t5 (id int64, v string)
         |STORAGE filesystem SETTINGS commitlog=true""".stripMargin)
    engine.execute(s"INSERT INTO $Db.t5 VALUES (1, 'a'), (2, 'b')")
    val loc = locOf(s"$Db.t5")
    val reads = CommitLog.footerReads.get
    engine.execute(s"INSERT INTO $Db.t5 VALUES (3, 'c')")
    // the publish footer-read only the file this INSERT added; the
    // first INSERT's files carried their manifest stats forward
    assert(CommitLog.footerReads.get - reads == 1L,
      s"footer reads: ${CommitLog.footerReads.get - reads}")
    assert(!fs.exists(new Path(mdDir(loc), ".rowcounts.tsv")))
    val cur = CommitLog.current(fs, loc).get
    val md = readJson(new Path(mdDir(loc), s"v${cur.version}.metadata.json"))
    val snap = md.get("snapshots").get(md.get("snapshots").size - 1)
    val entries = IcebergMetadata.readAvro(fs,
      new Path(snap.get("manifest-list").asText)).flatMap(mf =>
        IcebergMetadata.readAvro(fs, new Path(mf.get("manifest_path").toString)))
      .map(_.get("data_file").asInstanceOf[org.apache.avro.generic.GenericRecord])
    // first INSERT wrote one file per VALUES row (2), second added 1
    assert(entries.size == 3, s"one entry per live file: ${entries.size}")
    entries.foreach { df =>
      val p = new Path(df.get("file_path").toString)
      assert(df.get("record_count").asInstanceOf[Long] == 1L, s"$p rows")
      assert(df.get("file_size_in_bytes").asInstanceOf[Long] ==
        fs.getFileStatus(p).getLen, s"$p size")
    }
    assert(snap.get("summary").get("total-records").asText == "3")
  }
}
