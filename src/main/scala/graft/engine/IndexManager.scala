package graft.engine

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Json
import graft.functions.Text
import graft.functions.expressions.ArrayOps

/** Persisted secondary indexes as CATALOG OBJECTS — the surface the
  * reference PARSES and rejects (`CREATE INDEX`,
  * `server/query/parser/parser.go:3942-4013`; its engine has no route
  * for `CreateIndexStmt`). This engine goes further: the bucketed
  * index MATERIALS the analytics operators already use as query-side
  * intermediates (LSH band tables, BM25 postings, IVF cell
  * assignments, SQ8 code tables) become durable objects the engine
  * creates, lists, maintains across DML, and probes.
  *
  * Syntax (superset — the reference grammar plus USING):
  * {{{
  *   CREATE INDEX name ON [db.]table (keyCol, payloadCol) USING bands
  *   CREATE INDEX name ON [db.]table (col, ...)            -- zonemap
  *   SHOW INDEXES [ON [db.]table]
  *   DROP INDEX name ON [db.]table
  * }}}
  * Kinds: `bands` (MinHash-LSH near-dup), `postings` (BM25 inverted
  * index + doc-length carrier rows), `ivf` (cell routing over a
  * codebook FROZEN at creation), `sq8` (8-bit scalar quantization
  * against per-dimension [min,max] FROZEN at creation), `bloom`
  * (per-file membership filters), `zonemap` (per-file min/max — the
  * default when USING is omitted, i.e. for every reference-compatible
  * statement).
  *
  * == Storage and maintenance model ==
  *
  * Everything lives on the filesystem —
  * `<warehouse>/.graft-indexes/<db>.<table>/<index>/` holds
  * `meta.json`. A `zonemap` or `bloom` index is that file alone: its
  * per-file evidence (bounds in the manifest entry, filters in
  * sidecars under `_graft_log/bloom/`) lives in the table's commit log
  * ([[graft.engine.CommitLog]]), written by the publish that makes
  * the file live, so it needs no maintenance here. Every other kind
  * also holds `data/f=<md5(srcFile)>/` parquet shards, ONE SHARD PER
  * BASE-TABLE DATA FILE. That granularity is the whole design:
  *  - '''maintenance is a file diff''', not a log protocol. After any
  *    mutation, [[sync]] lists the table's live data files, builds
  *    shards for new files, and deletes shards whose source file is
  *    gone. INSERT appends shards; MERGE/UPDATE/DELETE (copy-on-write
  *    file rewrites) swap exactly the rewritten files' shards;
  *    OPTIMIZE/RESTORE fall out for free. Work is always O(changed
  *    files), never O(table).
  *  - '''restart survival is trivial''' — there is no in-memory
  *    registry; every read goes through `meta.json` + the shard dirs.
  *  - '''at 100 TB''' each shard build reads one parquet file and
  *    writes one bounded shard — embarrassingly parallel across files,
  *    and the probe side reads the shard set as one partitioned
  *    parquet table (partition column `f` = source-file identity).
  *
  * Frozen-parameter contract: `ivf` centroids and `sq8` scales are
  * computed once at CREATE and stored in `meta.json`, so shard
  * contents depend only on (file contents, meta) — the property that
  * makes the per-file diff sound. The trade (documented, standard for
  * stored ANN indexes): drifted data quantizes against stale scales
  * until the index is rebuilt (DROP + CREATE).
  */
object IndexManager {

  /** Index kinds and the column arity each expects. */
  private val TwoColKinds = Set("bands", "postings", "ivf", "sq8")
  val Kinds: Set[String] = TwoColKinds + "zonemap" + "bloom"

  /** Shard FORMAT version per kind, stamped into meta params as
    * "fmt" at CREATE. Bump when a kind's shard schema changes (ivf
    * went (cell, key) → covering (cell, key, v) in round 10): an old
    * shard under a new build would fail every probe with a bare
    * missing-column AnalysisException. [[sync]] migrates a
    * version-mismatched index by wiping and rebuilding its shards;
    * [[indexData]] refuses an unmigrated one with an addressed error. */
  private val ShardFormats: Map[String, String] = Map("ivf" -> "2")
  private def shardFormat(kind: String): String =
    ShardFormats.getOrElse(kind, "1")

  // bands parameters — the q33 operating point (Dedup's constants)
  private val ShingleK = 2
  private val NumHashes = 32
  private val NumBands = 8
  private val BucketCap = 20
  // ivf/sq8 defaults
  private val DefaultIvfK = 32

  final case class IndexMeta(name: String, table: String, kind: String,
                             cols: Seq[String],
                             params: Map[String, String]) {
    def keyCol: String = cols.head
    def payloadCol: String = cols(1)
  }

  // ---------------------------------------------------------------- paths

  private def root(spark: SparkSession): Path =
    new Path(new Path(spark.conf.get("spark.sql.warehouse.dir")),
      ".graft-indexes")

  private def fs(spark: SparkSession): FileSystem =
    root(spark).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tableDir(spark: SparkSession, qualified: String): Path =
    new Path(root(spark), qualified.toLowerCase)

  private def indexDir(spark: SparkSession, qualified: String,
                       name: String): Path =
    new Path(tableDir(spark, qualified), name.toLowerCase)

  // ----------------------------------------------------------- meta JSON

  /** Written through the strict [[graft.Json]] writer, which
    * escapes quotes, backslashes and control characters. */
  private def metaJson(m: IndexMeta): String =
    Json.obj(
      "name" -> Json.str(m.name),
      "table" -> Json.str(m.table),
      "kind" -> Json.str(m.kind),
      "cols" -> Json.arr(m.cols.map(Json.str)),
      "params" -> Json.obj(m.params.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> Json.str(v) }: _*))

  /** Real JSON parse through the shared [[graft.Json]] mapper — the
    * hand-rolled regexes broke on a param literally named "kind" or a
    * column containing ']'; structural parsing cannot. Parsed meta is
    * validated against [[Kinds]] so a corrupt/drifted file fails
    * loudly instead of building shards of an unknown kind. */
  private def parseMeta(json: String): IndexMeta = {
    import scala.jdk.CollectionConverters._
    val node = Json.mapper.readTree(json)
    def str(f: String): String = {
      val v = node.get(f)
      require(v != null && v.isTextual, s"index meta.json missing field '$f'")
      v.asText()
    }
    val colsNode = node.get("cols")
    require(colsNode != null && colsNode.isArray,
      "index meta.json missing array field 'cols'")
    val cols = colsNode.elements().asScala.map(_.asText()).toSeq
    val paramsNode = node.get("params")
    require(paramsNode != null && paramsNode.isObject,
      "index meta.json missing object field 'params'")
    val params = paramsNode.properties().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap
    val m = IndexMeta(str("name"), str("table"), str("kind"), cols, params)
    require(Kinds.contains(m.kind),
      s"index meta.json has unknown kind '${m.kind}'")
    m
  }

  /** Test hook: serialize + parse without touching the filesystem. */
  private[graft] def roundTripMetaForTest(m: IndexMeta): IndexMeta =
    parseMeta(metaJson(m))

  private def writeMeta(spark: SparkSession, m: IndexMeta): Unit = {
    val out = fs(spark).create(
      new Path(indexDir(spark, m.table, m.name), "meta.json"), true)
    out.write(metaJson(m).getBytes("UTF-8")); out.close()
  }

  private def readMeta(spark: SparkSession, dir: Path): Option[IndexMeta] = {
    val f = new Path(dir, "meta.json")
    val filesys = fs(spark)
    if (!filesys.exists(f)) None
    else {
      val in = filesys.open(f)
      try {
        val bytes = new Array[Byte](filesys.getFileStatus(f).getLen.toInt)
        in.readFully(bytes)
        Some(parseMeta(new String(bytes, "UTF-8")))
      } finally in.close()
    }
  }

  // ------------------------------------------------------------- catalog

  /** All indexes of one table (qualified `db.table`). */
  def indexesOf(spark: SparkSession, qualified: String): Seq[IndexMeta] = {
    val td = tableDir(spark, qualified)
    val filesys = fs(spark)
    if (!filesys.exists(td)) Seq.empty
    else filesys.listStatus(td).toSeq.filter(_.isDirectory)
      .flatMap(st => readMeta(spark, st.getPath))
      .sortBy(_.name)
  }

  /** Every index under the warehouse (SHOW INDEXES with no table). */
  def allIndexes(spark: SparkSession): Seq[IndexMeta] = {
    val r = root(spark)
    val filesys = fs(spark)
    if (!filesys.exists(r)) Seq.empty
    else filesys.listStatus(r).toSeq.filter(_.isDirectory)
      .flatMap(td => filesys.listStatus(td.getPath).toSeq
        .filter(_.isDirectory).flatMap(st => readMeta(spark, st.getPath)))
      .sortBy(m => (m.table, m.name))
  }

  def indexMeta(spark: SparkSession, qualified: String,
                name: String): Option[IndexMeta] =
    readMeta(spark, indexDir(spark, qualified, name))

  /** CREATE INDEX: validate, freeze data-dependent parameters, write
    * meta, then [[sync]] builds one shard per live base file — or, for
    * a zonemap or bloom index, the statement's commit-log publish
    * backfills bounds or filters in place. */
  def create(spark: SparkSession, name: String, qualified: String,
             cols: Seq[String], kindOpt: Option[String],
             ifNotExists: Boolean): String = {
    val kind = kindOpt.map(_.toLowerCase).getOrElse("zonemap")
    require(Kinds.contains(kind),
      s"unknown index kind '$kind' (expected one of ${Kinds.toSeq.sorted.mkString(", ")})")
    if (!spark.catalog.tableExists(qualified))
      throw new IllegalArgumentException(s"table $qualified does not exist")
    val schema = spark.table(qualified).schema
    cols.foreach(c => require(schema.fieldNames.map(_.toLowerCase)
        .contains(c.toLowerCase), s"column $c does not exist in $qualified"))
    // Partition columns live in directory names, not in the parquet
    // files [[sync]] and the manifest's footer read see — an index over
    // one would build with null keys/values (bands: null-key candidates;
    // ivf/sq8: every row dropped; zonemap: no bounds, never prunes) and
    // return WRONG probe results with no error. Reject at CREATE:
    // partition pruning already covers these columns for free.
    val partCols = spark.catalog.listColumns(qualified).collect()
      .filter(_.isPartition).map(_.name.toLowerCase).toSet
    cols.foreach(c => require(!partCols.contains(c.toLowerCase),
      s"column $c is a partition column of $qualified — it is not stored " +
        "in the data files, so an index shard would see only nulls; " +
        "partition pruning already serves predicates on it"))
    // addressed lookup even though existence was validated above —
    // a future reordering must fail with the table+column named, not
    // a bare NoSuchElementException
    def fieldOf(c: String) = schema.fieldNames.find(_.equalsIgnoreCase(c))
      .map(schema(_)).getOrElse(throw new IllegalArgumentException(
        s"column $c does not exist in $qualified"))
    if (TwoColKinds.contains(kind)) {
      require(cols.length == 2,
        s"USING $kind expects (keyColumn, payloadColumn); got ${cols.length} column(s)")
      val keyType = fieldOf(cols.head).dataType
      require(Seq("int", "bigint", "smallint", "tinyint")
          .contains(keyType.simpleString),
        s"USING $kind needs an integral key column; ${cols.head} is ${keyType.simpleString}")
    } else require(cols.nonEmpty, "index needs at least one column")
    if (kind == "bloom") cols.foreach { c =>
      // the probe hashes either a LONG (integral columns, exact under
      // widening-cast equality) or raw UTF-8 bytes (strings); any
      // other type has no sound shared representation with its
      // predicate literals (float equality re-rounds, date/timestamp
      // literals arrive in internal units) — reject at CREATE
      val dt = fieldOf(c).dataType.simpleString
      require(Seq("tinyint", "smallint", "int", "bigint", "string")
          .contains(dt),
        s"USING bloom supports integral and string columns; $c is $dt")
    }
    if (indexMeta(spark, qualified, name).isDefined) {
      if (ifNotExists) return s"Index $name already exists"
      throw new IllegalArgumentException(
        s"index $name already exists on $qualified")
    }
    val meta = IndexMeta(name, qualified, kind, cols,
      defaultParams(spark, qualified, kind, cols) +
        ("fmt" -> shardFormat(kind)))
    writeMeta(spark, meta)
    // fail-fast: a CREATE whose initial build breaks should error at
    // the user, not leave a silently-stale index behind
    try sync(spark, qualified, failFast = true)
    catch { case e: Exception => drop(spark, qualified, name, ifExists = true); throw e }
    s"Index $name created"
  }

  def drop(spark: SparkSession, qualified: String, name: String,
           ifExists: Boolean): String = {
    val dir = indexDir(spark, qualified, name)
    val filesys = fs(spark)
    if (!filesys.exists(new Path(dir, "meta.json"))) {
      if (ifExists) return s"Index $name does not exist"
      throw new IllegalArgumentException(
        s"index $name does not exist on $qualified")
    }
    filesys.delete(dir, true)
    s"Index $name dropped"
  }

  /** DROP TABLE hygiene — a recreated table must not inherit stale
    * index shards (same contract as Snapshots.purge). */
  def purgeTable(spark: SparkSession, qualified: String): Unit = {
    val td = tableDir(spark, qualified)
    if (fs(spark).exists(td)) fs(spark).delete(td, true)
  }

  // -------------------------------------------------------- maintenance

  /** File-diff maintenance: one call after ANY mutation of `qualified`
    * brings every shard-backed index (`bands`, `postings`, `ivf`,
    * `sq8`) up to date in O(changed files). No-op for tables with no
    * shard-backed index — the common DML path lists no files for it. */
  def sync(spark: SparkSession, qualified: String,
           failFast: Boolean = false): Unit = {
    val metas = indexesOf(spark, qualified).filter(m => TwoColKinds(m.kind))
    if (metas.isEmpty) return
    val live: Map[String, String] = spark.table(qualified).inputFiles
      .map(f => CommitLog.md5(f) -> f).toMap
    val filesys = fs(spark)
    metas.foreach { meta0 =>
      val dataDir = new Path(indexDir(spark, qualified, meta0.name), "data")
      try {
        // format migration: a version-mismatched index (persisted by an
        // older build whose shard schema differed) is wiped here and
        // rebuilt in full by the file diff below — self-healing, same
        // contract as a missing-shard rebuild.
        val meta =
          if (meta0.params.getOrElse("fmt", "1") == shardFormat(meta0.kind))
            meta0
          else {
            if (filesys.exists(dataDir)) filesys.delete(dataDir, true)
            val m = meta0.copy(params =
              meta0.params + ("fmt" -> shardFormat(meta0.kind)))
            writeMeta(spark, m)
            m
          }
        val have: Set[String] =
          if (!filesys.exists(dataDir)) Set.empty
          else filesys.listStatus(dataDir).toSeq.map(_.getPath.getName)
            .filter(_.startsWith("f=")).map(_.stripPrefix("f=")).toSet
        val missing = (live.keySet -- have).toSeq.sorted
        // Shard builds are independent per file — run them as
        // CONCURRENT Spark jobs (bounded pool) instead of a serial
        // driver loop: a 200-file CREATE INDEX was 200 sequential
        // ~0.2 s jobs (36 s measured at the 50× zonemap probe) when
        // the cluster could run them all at once. Any build failure
        // propagates out of Await and hits the stale-marking catch
        // exactly like the serial loop's did.
        if (missing.nonEmpty) {
          import scala.concurrent.{Await, ExecutionContext, Future}
          val par = math.min(math.max(1,
            spark.conf.getOption("spark.graft.index.sync.parallelism")
              .flatMap(_.toIntOption).getOrElse(8)), missing.size)
          val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
          implicit val ec: ExecutionContext =
            ExecutionContext.fromExecutor(pool)
          try Await.result(
            Future.sequence(missing.map { h => Future {
              buildRows(spark, meta, readBaseFile(spark, qualified, live(h)))
                .write.mode("overwrite")
                .parquet(new Path(dataDir, s"f=$h").toString)
            } }), scala.concurrent.duration.Duration.Inf)
          finally pool.shutdown()
        }
        (have -- live.keySet).toSeq.sorted.foreach { h =>
          filesys.delete(new Path(dataDir, s"f=$h"), true)
        }
        clearStale(spark, qualified, meta.name)
      } catch {
        case e: Exception if !failFast =>
          // An index-maintenance failure (schema drift vs frozen
          // ivf/sq8 meta, a corrupt base file) must NOT fail a DML
          // that already committed, and must not be silent either:
          // mark the index STALE (probes refuse with an addressed
          // error), log, move on. The file diff is idempotent, so the
          // next successful sync rebuilds exactly the missing shards
          // and clears the marker — self-healing.
          markStale(spark, qualified, meta0.name, e.getMessage)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"index ${meta0.name} on $qualified failed maintenance and " +
              s"is marked stale: ${e.getMessage}")
      }
    }
  }

  // --------------------------------------------------------- stale marker

  private def staleFile(spark: SparkSession, qualified: String,
                        name: String): Path =
    new Path(indexDir(spark, qualified, name), "STALE")

  private def markStale(spark: SparkSession, qualified: String,
                        name: String, why: String): Unit = {
    val out = fs(spark).create(staleFile(spark, qualified, name), true)
    out.write(Option(why).getOrElse("").getBytes("UTF-8")); out.close()
  }

  private def clearStale(spark: SparkSession, qualified: String,
                         name: String): Unit = {
    val f = staleFile(spark, qualified, name)
    val filesys = fs(spark)
    if (filesys.exists(f)) filesys.delete(f, false)
  }

  /** True if the last maintenance pass for this index failed — shard
    * contents may be missing or stale relative to the base table. */
  def isStale(spark: SparkSession, qualified: String,
              name: String): Boolean =
    fs(spark).exists(staleFile(spark, qualified, name))

  private def requireFresh(spark: SparkSession, qualified: String,
                           name: String): Unit =
    if (isStale(spark, qualified, name))
      throw new IllegalStateException(
        s"index $name on $qualified is STALE (last maintenance failed); " +
          "probing would return wrong results — run any DML on the table " +
          "(or IndexManager.sync) to heal, or DROP and re-CREATE the index")

  private def readBaseFile(spark: SparkSession, qualified: String,
                           file: String): DataFrame =
    // `file` is a listing string — decode (FsPaths) or a shard build
    // over an escaped partition dir fails PATH_NOT_FOUND and marks
    // the index stale on every sync
    spark.read.schema(spark.table(qualified).schema)
      .parquet(FsPaths.readable(file))

  // ------------------------------------------------------ shard builders

  /** The index rows for one slice of the base table (one file during
    * maintenance; `limit(0)` of the table for the empty-index
    * schema). Pure in (rows, meta) — the soundness condition of the
    * per-file diff. */
  private[engine] def buildRows(spark: SparkSession, meta: IndexMeta,
                                src: DataFrame): DataFrame = meta.kind match {
    case "bands" =>
      val nh = meta.params("numHashes").toInt
      val nb = meta.params("bands").toInt
      src.select(col(meta.keyCol).cast("long").as("key"),
          ArrayOps.wordShingles(Text.tokens(col(meta.payloadCol).cast("string")),
            meta.params("shingleK").toInt).as("sh"))
        .where(size(col("sh")) >= 1)
        .withColumn("mh", ArrayOps.minhashSig(col("sh"), nh))
        .select(col("key"),
          posexplode(Text.lshBandKeys(col("mh"), nb, nh / nb))
            .as(Seq("band", "bh")))
        .select(col("band"), col("bh"), col("key"))
    case "postings" =>
      val toks = src.select(col(meta.keyCol).cast("long").as("key"),
          Text.tokens(col(meta.payloadCol).cast("string")).as("t"))
        .withColumn("dl", size(col("t")))
      // term rows + ONE dl-carrier row per doc (w='', tf=0), so corpus
      // stats (n_docs, avgdl) are computable from the index alone —
      // including docs that match no query term
      toks.select(col("key"), col("dl"), explode(col("t")).as("w"))
        .groupBy(col("key"), col("dl"), col("w"))
        .agg(count(lit(1)).as("tf"))
        .select(col("w"), col("key"), col("dl"), col("tf"))
        .unionByName(toks.select(lit("").as("w"), col("key"), col("dl"),
          lit(0L).as("tf")))
    case "ivf" =>
      // COVERING index: the vector rides in the shard next to its cell
      // assignment, rows sorted by cell within each shard — so a probe
      // filtered to its nprobe cells reads only those cells' row
      // groups (parquet min/max stats on `cell`) and never touches the
      // base table for candidate vectors. The storage trade (the index
      // duplicates the vector column) is the classic one: at 100 TB a
      // probe that re-scans the corpus for candidate payloads costs
      // the full scan the index exists to avoid.
      val cents = decodeMatrix(meta.params("centroids"))
      src.select(col(meta.keyCol).cast("long").as("key"),
          col(meta.payloadCol).cast("array<double>").as("v"))
        .where(col("v").isNotNull)
        .withColumn("cell", element_at(
          ArrayOps.ivfCells(col("v"), cents, 1), 1).getField("cell"))
        .select(col("cell"), col("key"), col("v"))
        .sortWithinPartitions(col("cell"))
    case "sq8" =>
      val mn = decodeVector(meta.params("mn"))
      val mx = decodeVector(meta.params("mx"))
      val dim = mn.length
      src.select(col(meta.keyCol).cast("long").as("key"),
          col(meta.payloadCol).cast("array<double>").as("v"))
        .where(col("v").isNotNull)
        .withColumn("mnl", typedlit(mn)).withColumn("mxl", typedlit(mx))
        // same quantizer expression as q94 (Similarity.sqAdcTopK):
        // out-of-range values (data drift after the scales froze)
        // CLAMP to [0,255] — the stored-index trade, documented above
        .withColumn("codes", expr(
          s"""transform(sequence(1, $dim), i ->
             |  CASE WHEN element_at(mxl, i) = element_at(mnl, i) THEN 0
             |  ELSE least(255, greatest(0, CAST(floor(
             |    (element_at(v, i) - element_at(mnl, i)) * 255.0D
             |      / (element_at(mxl, i) - element_at(mnl, i))) AS INT))) END)""".stripMargin))
        .select(col("key"), col("codes"))
  }

  /** Full index contents as a DataFrame; `f` is the source-file shard
    * column (dropped — provenance is an implementation detail to
    * probes). Empty-shard case returns the correct empty schema. */
  def indexData(spark: SparkSession, qualified: String,
                name: String): DataFrame = {
    val meta = indexMeta(spark, qualified, name).getOrElse(
      throw new IllegalArgumentException(
        s"index $name does not exist on $qualified"))
    requireFresh(spark, qualified, name)
    require(TwoColKinds(meta.kind), s"${meta.kind} index $name on $qualified " +
      "has no shards: its per-file evidence is in the table's commit log " +
      "(CommitLog.current)")
    if (meta.params.getOrElse("fmt", "1") != shardFormat(meta.kind))
      throw new IllegalStateException(
        s"index $name on $qualified was persisted in an older shard " +
          s"format (v${meta.params.getOrElse("fmt", "1")}, current " +
          s"v${shardFormat(meta.kind)}); run any DML on the table (or " +
          "IndexManager.sync) to migrate it in place, or DROP and " +
          s"re-CREATE index $name")
    val dataDir = new Path(indexDir(spark, qualified, name), "data")
    val filesys = fs(spark)
    val shards =
      if (!filesys.exists(dataDir)) Seq.empty
      else filesys.listStatus(dataDir).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("f="))
    if (shards.isEmpty)
      buildRows(spark, meta, spark.table(qualified).limit(0))
    else spark.read.parquet(dataDir.toString).drop("f")
  }

  // ------------------------------------------------------- probe faces

  /** LSH near-dup candidate pairs straight from a `bands` index —
    * the q33 candidate stage reading the PERSISTED band table instead
    * of recomputing signatures (bucket caps and pair convention
    * identical). */
  def bandCandidates(spark: SparkSession, qualified: String,
                     name: String): DataFrame =
    bandRowsToCandidates(indexData(spark, qualified, name))

  /** Band rows (band, bh, key) → capped bucket-local candidate pairs —
    * shared by the persisted-index probe and the scan-path fallback of
    * [[graft.engine.QueryEngine.nearDupCandidates]]; identical pair
    * convention to `Dedup.lshCandidatePairs`. */
  private[engine] def bandRowsToCandidates(bands: DataFrame): DataFrame = {
    val buckets = bands.groupBy(col("band"), col("bh"))
      .agg(graft.functions.expressions.CappedLongsAgg
        .cappedLongs(col("key"), BucketCap + 1).as("ids"))
      .where(size(col("ids")).between(2, BucketCap))
    buckets.select(explode(graft.functions.expressions.ArrayOps
        .orderedPairs(col("ids"))).as("p"))
      .select(col("p.doc1").as("doc1"), col("p.doc2").as("doc2"))
      .distinct()
  }

  /** Scan-path computation of what a `kind` index would contain for
    * the CURRENT table — the fallback the index-aware faces use when
    * no index exists. Same [[buildRows]] builder, so index-present and
    * index-absent answers are identical by construction. */
  private[engine] def scanRows(spark: SparkSession, qualified: String,
                               kind: String, cols: Seq[String]): DataFrame =
    buildRows(spark,
      IndexMeta("__scan", qualified, kind, cols,
        defaultParams(spark, qualified, kind, cols)),
      spark.table(qualified))

  /** The data-dependent parameters a `kind` index freezes at CREATE —
    * also what the scan-path fallback computes on the fly, so both
    * paths quantize/route identically against the CURRENT table. */
  private[engine] def defaultParams(spark: SparkSession, qualified: String,
                                    kind: String,
                                    cols: Seq[String]): Map[String, String] =
    kind match {
      case "ivf" => Map("k" -> DefaultIvfK.toString,
        "centroids" -> encodeMatrix(
          ivfCodebook(spark, qualified, cols.head, cols(1))))
      case "sq8" =>
        val (mn, mx) = sq8Scales(spark, qualified, cols(1))
        Map("mn" -> encodeVector(mn), "mx" -> encodeVector(mx))
      case "bands" => Map("shingleK" -> ShingleK.toString,
        "numHashes" -> NumHashes.toString, "bands" -> NumBands.toString)
      case "bloom" =>
        // freeze per-file sizing at CREATE (the data-dependent-params
        // contract): expected items = current rows-per-file with 1.5×
        // headroom for growth. Drift past it only RAISES the false-
        // positive rate (weaker pruning) — never a false negative, so
        // soundness does not depend on the estimate. fpp is validated
        // here so a bad conf fails the CREATE, not a probe.
        val tbl = spark.table(qualified)
        val files = math.max(1L, tbl.inputFiles.length.toLong)
        val rows = tbl.count()
        val per = math.min(8L * 1024 * 1024,
          math.max(1024L, rows / files + (rows / files) / 2))
        val fpp = spark.conf.getOption("spark.graft.index.bloom.fpp")
          .map(_.toDouble).getOrElse(0.03)
        require(fpp > 0.0 && fpp < 0.5,
          s"spark.graft.index.bloom.fpp must be in (0, 0.5), got $fpp")
        Map("expectedItems" -> per.toString, "fpp" -> fpp.toString)
      case _ => Map.empty
    }

  /** BM25 from a `postings` index: stats from the dl-carrier rows,
    * scoring via the same [[graft.operators.Search.scorePostings]]
    * kernel as the scan path — identical integer points. */
  def bm25(spark: SparkSession, qualified: String, name: String,
           p: graft.operators.Search.Bm25Params): DataFrame =
    bm25Over(indexData(spark, qualified, name), p)

  /** BM25 over postings-index-shaped rows (key, dl, w, tf + the dl-
    * carrier rows at w="") — works identically over [[indexData]] and
    * the [[scanRows]] fallback. */
  private[engine] def bm25Over(data: DataFrame,
                               p: graft.operators.Search.Bm25Params): DataFrame = {
    val stats = data.where(col("w") === "")
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val postings = data.where(col("w").isin(p.terms: _*))
      .select(col("key").as("doc_id"), col("dl"), col("w"), col("tf"))
    graft.operators.Search.scorePostings(postings, stats, p)
  }

  /** Top-k cosine neighbors for `queryKeys` from an `ivf` index: the
    * probe routes through the frozen codebook's cells, candidates are
    * index rows in the probed cells, and only candidate vectors are
    * fetched from the base table — the q41 shape over a persisted
    * assignment table. */
  def ivfNeighbors(spark: SparkSession, qualified: String, name: String,
                   queryKeys: Seq[Long], k: Int,
                   nprobe: Int = 4): DataFrame = {
    val meta = indexMeta(spark, qualified, name).getOrElse(
      throw new IllegalArgumentException(
        s"index $name does not exist on $qualified"))
    ivfNeighborsOver(spark, qualified, meta.keyCol, meta.payloadCol,
      decodeMatrix(meta.params("centroids")),
      indexData(spark, qualified, name), queryKeys, k, nprobe)
  }

  /** IVF probe over covering cell rows (cell, key, v) and an explicit
    * codebook — shared by the persisted-index path ([[indexData]] +
    * frozen centroids) and the scan fallback ([[scanRows]] + a
    * freshly-computed codebook).
    *
    * Probe I/O shape: query vectors come from the base table under a
    * pushed-down `key IN (...)` filter (tiny read); the probed cell
    * ids (≤ |queries|·nprobe) are collected and pushed as a
    * `cell IN (...)` filter on the covering rows — on the persisted
    * path that's a parquet scan whose cell-sorted row groups prune by
    * min/max stats, so candidate vectors are read from exactly the
    * probed cells and the base table is never re-scanned. */
  private[engine] def ivfNeighborsOver(spark: SparkSession, qualified: String,
                                       keyCol: String, payloadCol: String,
                                       cents: Seq[Seq[Double]],
                                       cells: DataFrame, queryKeys: Seq[Long],
                                       k: Int, nprobe: Int): DataFrame = {
    // the hint goes on the JOIN INPUT below, not here: `q` also feeds
    // the probed-cell collect, where a broadcast hint has no join to
    // attach to and Catalyst drops it with a HintErrorLogger warning —
    // a silently-ignored hint is how a plan regression hides
    val q = spark.table(qualified)
      .select(col(keyCol).cast("long").as("key"),
        col(payloadCol).cast("array<double>").as("v"))
      .where(col("v").isNotNull)
      .where(col("key").isin(queryKeys: _*))
      .select(col("key").as("query_id"), col("v").as("qv"),
        explode(transform(
          slice(ArrayOps.ivfCells(col("v"), cents, nprobe), 1, nprobe),
          s => s.getField("cell"))).as("cell"))
    // bounded collect: ≤ |queryKeys| · nprobe cell ids — the handle
    // that turns the candidate fetch into a pushed-down index filter
    val probedCells = q.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val cands = cells.where(col("cell").isin(probedCells: _*))
      .join(broadcast(q), Seq("cell"))
      .where(col("key") =!= col("query_id"))
      // one cell per key and distinct cells per query ⇒ no dup pairs;
      // dropDuplicates is the defensive pin of that invariant
      .dropDuplicates("query_id", "key")
    import org.apache.spark.sql.expressions.Window
    cands
      .withColumn("dot", expr(
        "aggregate(zip_with(qv, v, (a, b) -> a * b), 0D, (acc, x) -> acc + x)"))
      .withColumn("cos", col("dot") /
        (sqrt(expr("aggregate(transform(qv, x -> x * x), 0D, (a, x) -> a + x)")) *
         sqrt(expr("aggregate(transform(v, x -> x * x), 0D, (a, x) -> a + x)"))))
      .withColumn("rk", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("key").asc)))
      .where(col("rk") <= k)
      .select(col("query_id"), col("key").as("neighbor_id"),
        round(col("cos"), 6).as("cosine"))
  }

  /** Decoded vectors from an `sq8` index (frozen scales) — the ADC
    * scoring input; the spec pins these against quantize-then-decode
    * computed directly from the base table. */
  def sq8Decoded(spark: SparkSession, qualified: String,
                 name: String): DataFrame = {
    val meta = indexMeta(spark, qualified, name).getOrElse(
      throw new IllegalArgumentException(
        s"index $name does not exist on $qualified"))
    val mn = decodeVector(meta.params("mn"))
    val mx = decodeVector(meta.params("mx"))
    indexData(spark, qualified, name)
      .withColumn("mnl", typedlit(mn)).withColumn("mxl", typedlit(mx))
      .withColumn("dv", expr(
        s"""transform(sequence(1, ${mn.length}), i ->
           |  element_at(mnl, i) + CAST(element_at(codes, i) AS DOUBLE)
           |    * (element_at(mxl, i) - element_at(mnl, i)) / 255.0D)""".stripMargin))
      .select(col("key"), col("dv"))
  }

  /** Lowercased columns of `qualified`'s skip-evidence indexes, from
    * meta.json alone: zonemap columns (bounds in the commit-log
    * manifest) and bloom columns (filters in its sidecars), each with
    * the index that froze its sizing, first by name. Both empty: no
    * file can prune, so the MERGE file scope skips its key jobs. */
  private[graft] def skipColumns(spark: SparkSession, qualified: String)
      : (Set[String], Map[String, IndexMeta]) = {
    val metas = indexesOf(spark, qualified)
    (metas.filter(_.kind == "zonemap").flatMap(_.cols.map(_.toLowerCase)).toSet,
     metas.filter(_.kind == "bloom").reverse
       .flatMap(m => m.cols.map(_.toLowerCase -> m)).toMap)
  }

  // ------------------------------------------------ frozen param helpers

  /** Deterministic codebook frozen at CREATE: the first k vectors in
    * key order (content-addressed enough for cell ROUTING — IVF
    * recall depends on probe count, not centroid optimality; a Lloyd
    * refinement can be layered the way q88 does for the query-side
    * codebooks). */
  /** Scan-fallback codebook for the index-aware ANN face — the same
    * deterministic first-k-by-key codebook [[create]] freezes. */
  private[engine] def scanIvfCodebook(spark: SparkSession, qualified: String,
                                      keyCol: String,
                                      vecCol: String): Seq[Seq[Double]] =
    ivfCodebook(spark, qualified, keyCol, vecCol)

  private def ivfCodebook(spark: SparkSession, qualified: String,
                          keyCol: String,
                          vecCol: String): Seq[Seq[Double]] = {
    val rows = spark.table(qualified)
      .select(col(keyCol).cast("long").as("k"),
        col(vecCol).cast("array<double>").as("v"))
      .where(col("v").isNotNull)
      .orderBy(col("k")).limit(DefaultIvfK)
      .collect().map(_.getSeq[Double](1).toSeq).toSeq
    require(rows.nonEmpty, s"cannot build ivf codebook: $qualified has no vectors")
    rows
  }

  private def sq8Scales(spark: SparkSession, qualified: String,
                        vecCol: String): (Seq[Double], Seq[Double]) = {
    val v = spark.table(qualified)
      .select(col(vecCol).cast("array<double>").as("v"))
      .where(col("v").isNotNull)
    val dim = v.select(size(col("v"))).head.getInt(0)
    val aggs = (1 to dim).flatMap(i => Seq(
      min(element_at(col("v"), i)).as(s"mn$i"),
      max(element_at(col("v"), i)).as(s"mx$i")))
    val row = v.agg(aggs.head, aggs.tail: _*).head
    ((0 until dim).map(i => row.getDouble(2 * i)),
     (0 until dim).map(i => row.getDouble(2 * i + 1)))
  }

  private def encodeVector(v: Seq[Double]): String = v.mkString(",")
  private def decodeVector(s: String): Seq[Double] =
    s.split(",").toSeq.map(_.toDouble)
  private def encodeMatrix(m: Seq[Seq[Double]]): String =
    m.map(encodeVector).mkString(";")
  private def decodeMatrix(s: String): Seq[Seq[Double]] =
    s.split(";").toSeq.map(decodeVector)
}
