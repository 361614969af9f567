package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.engine.QueryEngine

/** Queries answered THROUGH the persisted-index surface (round-9
  * verdict "Next #1"): each q100 entry ingests the driver fixture into
  * an engine table via the DDL/DML funnel, CREATEs the index, and then
  * answers an existing oracle-gated question by PROBING the stored
  * index via the engine's index-aware analytic faces
  * ([[graft.engine.QueryEngine.nearDupCandidates]] / `bm25Search` /
  * `annNeighbors`) — so the correctness gate now covers the full
  * catalog-object lifecycle: CREATE TABLE → INSERT (file-diff index
  * maintenance rides the CDC hook) → CREATE INDEX → probe.
  *
  * Reference anchor: `CREATE INDEX` is the surface the reference
  * parses and rejects (`server/query/parser/parser.go:3943-4013`); the
  * probe semantics are this engine's superset.
  *
  * Oracle strategy: q100 (bands) shares q33's oracle VERBATIM — the
  * persisted band table uses the same shingle/minhash/band constants
  * and bucket-cap pair convention as the scan path, and the verify
  * stage is literally `Dedup.jaccardVerifiedPairs`. q100b (postings)
  * shares q72's — `Search.scorePostings` is the shared kernel, and the
  * dl-carrier rows reproduce the corpus stats exactly. q100c (ivf)
  * carries its own oracle mirroring the frozen-codebook probe (first
  * 32 vectors by key, squared-L2 cell routing with (d, cell) ascending
  * tie-break, nprobe=4, cosine top-5) — q41's oracle normalizes
  * vectors and samples its codebook differently, so sharing it would
  * be a lie.
  *
  * Scale: the setup cost is one corpus pass per index (embarrassingly
  * parallel per base file); every probe then reads ONLY the stored
  * materials — the band table, the query terms' postings slice, the
  * probed cells' membership — never re-deriving them from text. At
  * 100 TB that's the difference between a candidate query that scans
  * the corpus and one that scans an index 100-1000× smaller.
  */
object IndexedOps {

  private val Db = "idxq"

  private def dirTag(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString

  /** DROP TABLE IF EXISTS only covers tables the CURRENT catalog
    * knows; a fresh JVM over a persistent warehouse (every Verify run)
    * leaves the previous run's table location and index shards on
    * disk with no catalog entry. Clear both physically so setup is
    * idempotent across JVMs. */
  private def dropLeftovers(s: SparkSession, table: String): Unit = {
    val Array(db, t) = table.split("\\.", 2)
    val wh = new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir"))
    val loc = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(wh, s"$db.db"), t)
    val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    graft.engine.IndexManager.purgeTable(s, table)
  }

  /** (docsTable, vecsTable), built on first use per (session,
    * warehouse, fixture dir): CREATE TABLE, INSERT from the fixture
    * through the engine (rides the CDC/index-sync funnel), CREATE
    * INDEX bands+postings / ivf. Table names carry a dir tag so
    * different SFs coexist in one warehouse; the store's once-cell
    * keeps concurrent bench passes from racing the DDL, and every query
    * then just probes. */
  private def ensure(s: SparkSession, dir: String): (String, String) =
    Artifacts.getOrCompute("indexedOpsSetup", s, Seq(dir),
        s.conf.get("spark.sql.warehouse.dir")) {
      val tag = dirTag(dir)
      val docs = s"$Db.docs_$tag"
      val vecs = s"$Db.vecs_$tag"
      val engine = new QueryEngine(s)
      engine.execute(s"CREATE DATABASE IF NOT EXISTS $Db")
      engine.execute(s"DROP TABLE IF EXISTS $docs")
      dropLeftovers(s, docs)
      engine.execute(s"CREATE TABLE $docs (doc_id int64, text string, source string) STORAGE filesystem")
      engine.execute(
        s"INSERT INTO $docs SELECT doc_id, text, source FROM parquet.`$dir/documents.parquet`")
      engine.execute(s"CREATE INDEX bands_ix ON $docs (doc_id, text) USING bands")
      engine.execute(s"CREATE INDEX post_ix ON $docs (doc_id, text) USING postings")
      engine.execute(s"CREATE INDEX zm_ix ON $docs (doc_id, text)") // zonemap
      engine.execute(s"CREATE INDEX bl_ix ON $docs (source) USING bloom")
      engine.execute(s"DROP TABLE IF EXISTS $vecs")
      dropLeftovers(s, vecs)
      engine.execute(s"CREATE TABLE $vecs (vec_id int64, embedding list<float32>) STORAGE filesystem")
      engine.execute(
        s"INSERT INTO $vecs SELECT vec_id, embedding FROM parquet.`$dir/embeddings.parquet`")
      engine.execute(s"CREATE INDEX ivf_ix ON $vecs (vec_id, embedding) USING ivf")
      (docs, vecs)
    }

  /** IVF probe operating point: the q41-family query convention
    * (vec_id < 10 are the query vectors), top-5, nprobe 4. */
  private val IvfQueryKeys: Seq[Long] = (0L until 10L)
  private val IvfK = 5
  private val IvfNprobe = 4

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // q33 through the persisted band table: candidates come from the
    // index (no re-shingling), verify is the shared exact stage
    "q100_index_bands" -> ((s, dir) => {
      val (docs, _) = ensure(s, dir)
      val engine = new QueryEngine(s)
      Dedup.jaccardVerifiedPairs(s, dir,
        engine.nearDupCandidates(docs, "doc_id", "text"))
    }),
    // q72 through the persisted inverted index: stats from the
    // dl-carrier rows, scoring via the shared kernel
    "q100b_index_bm25" -> ((s, dir) => {
      val (docs, _) = ensure(s, dir)
      val engine = new QueryEngine(s)
      engine.bm25Search(docs, "doc_id", "text", Search.DefaultQuery)
    }),
    // ANN through the persisted cell assignments + frozen codebook
    "q100c_index_ivf" -> ((s, dir) => {
      val (_, vecs) = ensure(s, dir)
      val engine = new QueryEngine(s)
      engine.annNeighbors(vecs, "vec_id", "embedding", IvfQueryKeys,
        IvfK, IvfNprobe)
    }),
    // Zonemap SELECT-path pruning inside the gate (r11): point/range
    // and string-prefix SELECTs over the engine table plan through
    // ZonemapPruneRule (GraftExtensions is registered in Verify/Bench),
    // so the file-skipping rewrite itself is oracle-checked — a prune
    // soundness bug becomes a hash mismatch, not just a spec failure.
    "q101_zonemap_select" -> ((s, dir) => {
      val (docs, _) = ensure(s, dir)
      new QueryEngine(s).selectDataFrame(
        s"SELECT doc_id, text FROM $docs WHERE doc_id BETWEEN 100 AND 199")
    }),
    "q101b_zonemap_string" -> ((s, dir) => {
      val (docs, _) = ensure(s, dir)
      new QueryEngine(s).selectDataFrame(
        s"SELECT doc_id FROM $docs WHERE text LIKE 'the %'")
    }),
    // q72's question through the SQL statement face: INDEX_PROBE is
    // resolved in the engine's parsed plan, so that resolution sits
    // inside the oracle gate alongside the probe it serves
    "q102_probe_sql" -> ((s, dir) => {
      val (docs, _) = ensure(s, dir)
      new QueryEngine(s).selectDataFrame(
        s"SELECT * FROM INDEX_PROBE($docs, 'bm25', doc_id, text, " +
          s"'${Search.DefaultQuery.terms.mkString(" ")}', ${Search.DefaultQuery.topN})")
    }),
    // Bloom-index SELECT path inside the gate (r11): equality and IN
    // on an unclustered string column plan through the file-skipping
    // rule's bloom evidence (min/max proves nothing here — `source`
    // values interleave across every file), so a membership-probe
    // soundness bug becomes a hash mismatch. The IN carries a value
    // present in NO file: bloom evidence must drop it without
    // dropping rows of the present one.
    "q103_bloom_select" -> ((s, dir) => {
      val (docs, _) = ensure(s, dir)
      new QueryEngine(s).selectDataFrame(
        s"SELECT doc_id, source FROM $docs " +
          "WHERE source IN ('src7', 'src_absent')")
    })
  )

  def oracleSql: Map[String, String] = Map(
    // same statements as q33/q72 — identical output IS the contract
    "q100_index_bands" -> Dedup.minhashOracleSql(8),
    "q100b_index_bm25" -> Search.bm25OracleSql(Search.DefaultQuery),
    "q100c_index_ivf" -> ivfIndexOracleSql,
    "q101_zonemap_select" ->
      "SELECT doc_id, text FROM documents WHERE doc_id BETWEEN 100 AND 199",
    "q101b_zonemap_string" ->
      "SELECT doc_id FROM documents WHERE text LIKE 'the %'",
    "q102_probe_sql" -> Search.bm25OracleSql(Search.DefaultQuery),
    "q103_bloom_select" ->
      ("SELECT doc_id, source FROM documents " +
        "WHERE source IN ('src7', 'src_absent')")
  )

  /** DuckDB replay of the frozen-codebook IVF probe. Conventions
    * mirrored from IndexManager: codebook = first 32 vectors ORDER BY
    * vec_id (raw, not normalized); cell = argmin squared-L2 with
    * (d, cell) ascending tie-break; probe = top-4 cells per query;
    * candidates distinct, self excluded; cosine = dot/(|q||v|) with
    * the same sequential fold order (generate_series) as the Spark
    * aggregate/zip_with chain; rank by (cosine DESC, neighbor ASC),
    * top-5, cosine rounded to 6. */
  private def ivfIndexOracleSql: String =
    s"""WITH v AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
       |  FROM embeddings),
       |cents AS (
       |  SELECT list(struct_pack(cid := r, cve := ve) ORDER BY r) AS cl
       |  FROM (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS r, ve
       |        FROM (SELECT vec_id, ve FROM v ORDER BY vec_id LIMIT 32))),
       |assigned AS (
       |  SELECT vec_id, ve,
       |    list_sort(list_transform(cl, c -> struct_pack(
       |      d := list_sum(list_transform(generate_series(1, 64),
       |             i -> (c.cve[i] - ve[i]) * (c.cve[i] - ve[i]))),
       |      cell := c.cid))) AS cbd
       |  FROM v, cents),
       |corpus AS (
       |  SELECT vec_id, ve, cbd[1].cell AS cell FROM assigned),
       |probes AS (
       |  SELECT vec_id AS query_id,
       |    unnest(list_transform(cbd[1:$IvfNprobe], s2 -> s2.cell)) AS cell
       |  FROM assigned WHERE vec_id < 10),
       |cand AS (
       |  SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id
       |  FROM probes p JOIN corpus c ON c.cell = p.cell
       |  WHERE c.vec_id <> p.query_id),
       |scored AS (
       |  SELECT cand.query_id, cand.neighbor_id,
       |    list_sum(list_transform(generate_series(1, 64),
       |        i -> q.ve[i] * nb.ve[i]))
       |      / (sqrt(list_sum(list_transform(q.ve, x -> x * x)))
       |         * sqrt(list_sum(list_transform(nb.ve, x -> x * x)))) AS cosine
       |  FROM cand
       |  JOIN v q ON q.vec_id = cand.query_id
       |  JOIN v nb ON nb.vec_id = cand.neighbor_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cosine,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY cosine DESC, neighbor_id ASC) AS rn
       |  FROM scored)
       |SELECT query_id, neighbor_id, round(cosine, 6) AS cosine
       |FROM ranked WHERE rn <= $IvfK""".stripMargin
}
