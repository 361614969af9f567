package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Artifacts, Dedup}

/** q61d multi-batch cluster-state maintenance + its streaming sink:
  * documents arrive in waves/micro-batches, the persisted state
  * (labels, bands, bucket counts, shingle sets) absorbs each one
  * through the q61c affected-scope machinery, and the label table is
  * continuously EQUAL to a full re-cluster of everything ingested so
  * far — whatever the arrival order. */
class MaintainStateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val Bands = 8

  private def sortedRows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  private def fullLabels(d: DataFrame): DataFrame = {
    // independent full recompute over exactly `d`, via the public CC
    // pieces (shingle -> bands -> capped buckets -> verify -> CC)
    import graft.functions.expressions.ArrayOps
    import graft.functions.Text
    val sets = d.select(col("doc_id"),
        ArrayOps.wordShingles(Text.tokens(col("text")), 2).as("sh"))
      .where(size(col("sh")) >= 1)
      .withColumn("mh", ArrayOps.minhashSig(col("sh"), 32))
      .withColumn("shx", ArrayOps.sortedHashes(col("sh")))
      .select(col("doc_id"), col("mh"), col("shx"), size(col("sh")).as("n"))
    val bands = sets.select(col("doc_id"),
      posexplode(Text.lshBandKeys(col("mh"), Bands, 4)).as(Seq("band", "bh")))
    val ok = bands.groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("c")).where(col("c").between(2, 20))
      .select(col("band"), col("bh"))
    val buckets = bands.join(ok, Seq("band", "bh"), "left_semi")
      .groupBy(col("band"), col("bh"))
      .agg(collect_list(col("doc_id")).as("ids"))
      .where(size(col("ids")) >= 2)
    val cand = buckets.select(explode(expr(
        """flatten(transform(ids, a ->
          |  transform(filter(ids, b -> b > a),
          |            b -> named_struct('doc1', a, 'doc2', b))))""".stripMargin)).as("p"))
      .select(col("p.doc1").as("doc1"), col("p.doc2").as("doc2")).distinct()
    val verified = cand
      .join(sets.select(col("doc_id").as("doc1"), col("shx").as("s1"),
        col("n").as("n1")), "doc1")
      .join(sets.select(col("doc_id").as("doc2"), col("shx").as("s2"),
        col("n").as("n2")), "doc2")
      .withColumn("i", graft.functions.expressions.ArrayOps
        .sortedIntersectCount(col("s1"), col("s2")))
      .where(round(col("i").cast("double") /
        (col("n1") + col("n2") - col("i")), 4) >= 0.1)
      .select(col("doc1"), col("doc2"))
    Dedup.connectedComponents(verified)
      .select(col("node").as("doc_id"), col("label").as("cluster_id"))
  }

  test("wave ingest: state labels == full recompute after EVERY wave") {
    import spark.implicits._
    val state = java.nio.file.Files
      .createTempDirectory("maintain_state").toString
    val docs = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
      .select(col("doc_id"), col("text"))
    var ingested: DataFrame = null
    for (w <- 0 until 3) {
      val wave = docs.where(pmod(col("doc_id"), lit(3)) === w)
      ingested = if (ingested == null) wave else ingested.unionByName(wave)
      val got = Dedup.maintainClusterState(spark, state, wave, Bands)
      assert(sortedRows(got) == sortedRows(fullLabels(ingested)),
        s"state diverged from full recompute after wave $w")
    }
  }

  test("a legacy (pre-bucketed) state dir fails fast with a format-upgrade error") {
    // round-16 advice: resuming over a round-14 layout (v* dirs, no
    // _buckets pin) used to surface as an obscure missing-column
    // AnalysisException deep in the prune; now it is an explicit
    // format-incompatibility error naming the remedy.
    import spark.implicits._
    val state = java.nio.file.Files
      .createTempDirectory("maintain_state_legacy").toString
    val p = new org.apache.hadoop.fs.Path(state, "v0")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(p)
    val wave = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
      .select(col("doc_id"), col("text")).limit(5)
    val e = intercept[IllegalStateException](
      Dedup.maintainClusterState(spark, state, wave, Bands))
    assert(e.getMessage.contains("legacy layout") &&
      e.getMessage.contains("_buckets"), e.getMessage)
  }

  test("retention: version count stays bounded across 10 waves; latest reads unaffected") {
    import spark.implicits._
    val state = java.nio.file.Files
      .createTempDirectory("maintain_retain").toString
    spark.conf.set("spark.graft.clusterstate.retain", "3")
    spark.conf.set("spark.graft.clusterstate.compactEvery", "2")
    try {
      val t = "the quick brown fox jumps over the lazy dog"
      var all = Seq.empty[(Long, String)]
      for (w <- 0 until 10) {
        val wave = Seq((w * 2L, s"$t ${w}a"), (w * 2L + 1, s"$t ${w}b"))
        all = all ++ wave
        val got = Dedup.maintainClusterState(spark, state,
          wave.toDF("doc_id", "text"), Bands)
        val versions = new java.io.File(state).listFiles()
          .map(_.getName).filter(_.startsWith("v"))
        // round 16: a retained delta version pins its whole chain back
        // to its base, so the dir count is bounded by
        // retain + compactEvery - 1, not retain alone
        assert(versions.length <= 4,
          s"wave $w left ${versions.length} versions: ${versions.toSeq}")
        // the maintained state still equals the full recompute —
        // expiry must never touch the cumulative wave deltas
        assert(sortedRows(got) ==
          sortedRows(fullLabels(all.toDF("doc_id", "text"))),
          s"state diverged after expiry at wave $w")
      }
      // wave deltas for every wave survive (cumulative state)
      assert(new java.io.File(s"$state/bands").listFiles()
        .count(_.getName.startsWith("w=")) == 10)
    } finally {
      spark.conf.unset("spark.graft.clusterstate.retain")
      spark.conf.unset("spark.graft.clusterstate.compactEvery")
    }
  }

  test("delta chain: waves write deltas, compaction rebases, labels stay exact") {
    // round 16: ordinary waves write O(batch) labels_delta/
    // counts_delta/pairs_delta files; every compactEvery-th wave
    // rewrites full tables and starts a new chain. Exactness must
    // hold through the compaction boundary in both directions.
    import spark.implicits._
    val state = java.nio.file.Files
      .createTempDirectory("maintain_deltachain").toString
    spark.conf.set("spark.graft.clusterstate.compactEvery", "3")
    try {
      val docs = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
        .select(col("doc_id"), col("text"))
      var ingested: DataFrame = null
      for (w <- 0 until 6) {
        val wave = docs.where(pmod(col("doc_id"), lit(6)) === w)
        ingested = if (ingested == null) wave else ingested.unionByName(wave)
        val got = Dedup.maintainClusterState(spark, state, wave, Bands)
        assert(sortedRows(got) == sortedRows(fullLabels(ingested)),
          s"delta chain diverged from full recompute after wave $w")
        val vDir = new java.io.File(s"$state/v$w")
        val names = vDir.listFiles().map(_.getName).toSet
        if (w == 0 || w == 3) // bootstrap + compaction = full bases
          assert(names.contains("labels") && names.contains("pairs") &&
            names.contains("counts"), s"wave $w should be a base: $names")
        else
          assert(names.contains("labels_delta") &&
            names.contains("pairs_delta") && names.contains("counts_delta") &&
            !names.contains("labels"), s"wave $w should be a delta: $names")
        assert(names.contains("_base"), s"wave $w missing _base marker")
      }
    } finally spark.conf.unset("spark.graft.clusterstate.compactEvery")
  }

  test("resume over a pre-round-16 full-version layout chains seamlessly") {
    // r15 state dirs hold full v<N>/{labels,counts,pairs} with no
    // _base marker; baseOf treats a marker-less version as its own
    // base, so a new delta wave chains onto it without migration.
    import spark.implicits._
    val state = java.nio.file.Files
      .createTempDirectory("maintain_r15compat").toString
    val docs = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
      .select(col("doc_id"), col("text"))
    val w0 = docs.where(pmod(col("doc_id"), lit(2)) === 0)
    Dedup.maintainClusterState(spark, state, w0, Bands)
    // simulate the r15 layout: v0 is full (bootstrap always is) —
    // drop its marker
    assert(new java.io.File(s"$state/v0/_base").delete())
    val w1 = docs.where(pmod(col("doc_id"), lit(2)) === 1)
    val got = Dedup.maintainClusterState(spark, state, w1, Bands)
    assert(sortedRows(got) == sortedRows(fullLabels(docs)),
      "resume over a marker-less full version diverged")
    // and the new wave is a delta chained to the legacy base
    val v1 = new java.io.File(s"$state/v1")
    assert(v1.listFiles().map(_.getName).toSet.contains("labels_delta"))
  }

  test("q61d replay equals q61's full clustering (the shared oracle's claim)") {
    Artifacts.clear("clusterMaintenanceReplay")
    Artifacts.clear("dedupClusters")
    val got = Dedup.clusterMaintenanceReplay(spark, TestSpark.sfDir, Bands)
    val want = Dedup.dedupClusters(spark, TestSpark.sfDir, Bands)
    assert(sortedRows(got) == sortedRows(want))
    Artifacts.clear("clusterMaintenanceReplay")
  }

  test("streaming sink: micro-batches maintain the state continuously") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val state = java.nio.file.Files
      .createTempDirectory("maintain_stream").toString
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val ck = java.nio.file.Files
      .createTempDirectory("maintain_ck").toString
    val q = graft.streaming.DocStream
      .clusterMaintenanceSink(stream, state, Bands)
      .option("checkpointLocation", ck).start()
    try {
      val t = "the quick brown fox jumps over the lazy dog"
      input.addData((1L, t), (2L, t), (10L, "totally unrelated content here now"))
      q.processAllAvailable()
      input.addData((3L, t), (11L, "totally unrelated content here also"))
      q.processAllAvailable()
      val all = Seq((1L, t), (2L, t),
        (10L, "totally unrelated content here now"), (3L, t),
        (11L, "totally unrelated content here also")).toDF("doc_id", "text")
      // latest state version == full recompute over everything
      // streamed (read through the public face — since round 16 a
      // version may be a delta on an earlier base)
      val got = Dedup.clusterStateLabels(spark, state)
      assert(sortedRows(got) == sortedRows(fullLabels(all)))
      // and the planted group actually merged across micro-batches
      val byDoc = got.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(byDoc.get(3L).contains(1L),
        "doc arriving in batch 2 failed to join the batch-1 cluster")
    } finally q.stop()
  }
}
