package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.operators.{Artifacts, Dedup}

/** q61c incremental cluster maintenance (round-8 verdict item 6): an
  * arriving batch updates the persisted labels without re-clustering
  * the corpus, and the result is EXACTLY the full recompute.
  *
  * Pins:
  *  - incremental == full recompute on a planted corpus covering the
  *    four interesting dynamics: batch JOINS an existing cluster,
  *    batch gives a pairless doc its FIRST edge, an untouched cluster
  *    passes through, and — the hard one — the batch pushes a
  *    full-bucket over the cap so an old component must SPLIT
  *    (dis-appear) exactly as a full recompute would drop it;
  *  - incremental == full recompute on the real sf fixture;
  *  - boundedness: the recomputed scope (subIds) excludes every doc
  *    of untouched components — corpus-side work is O(batch +
  *    affected clusters), never a corpus re-cluster.
  */
class IncrementalClusterSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val Bands = 8

  private def sortedRows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  /** The pre-batch artifacts model persisted ingest tables; a test
    * that needs them rebuilt drops both. */
  private def clearPreBatch(): Unit =
    Seq("preBatchState", "batchBands").foreach(Artifacts.clear)

  /** Planted corpus; batch membership is the q87 carve-out
    * (doc_id % 10 == 7). */
  private lazy val plantedDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("incclust").toString
    import spark.implicits._
    val tA = "alpha beta gamma delta epsilon zeta eta theta"
    val tCap = "iota kappa lambda mu nu xi omicron pi rho sigma"
    val tE = "tau upsilon phi chi psi omega aleph bet gimel dalet"
    val tD1 = "red orange yellow green blue indigo violet crimson"
    val tD2 = "red orange yellow green blue indigo violet scarlet"
    val rows =
      // cluster A: two corpus docs + one batch doc with identical text
      Seq((1L, tA), (2L, tA), (7L, tA)) ++
      // cap-split: 20 identical corpus docs (bucket exactly at cap ->
      // clustered pre-batch) + 1 identical batch doc (21 > cap ->
      // full recompute drops every pair; the old component must go)
      (0 until 20).map(i => (100L + i * 10, tCap)) ++   // ids 100,110,…,290 — none % 10 == 7
      Seq((307L, tCap)) ++
      // first-edge: a pairless corpus doc + an identical batch doc
      Seq((41L, tE), (47L, tE)) ++
      // untouched far cluster D: two corpus near-dups, no batch contact
      Seq((31L, tD1), (32L, tD1), (33L, tD2))
    rows.toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("planted dynamics: incremental == full recompute (join, first-edge, untouched, cap-split)") {
    Artifacts.clear("dedupClusters")
    clearPreBatch()
    // the planted corpus touches 3 of its 4 clusters by design — pin
    // the INCREMENTAL path itself, not the degenerate-scope fallback
    spark.conf.set("spark.graft.incclusters.fullFallback", "1.0")
    val inc = Dedup.incrementalClusters(spark, plantedDir, Bands)
    val full = Dedup.dedupClusters(spark, plantedDir, Bands)
    val (gi, gf) = (sortedRows(inc), sortedRows(full))
    assert(gi == gf, s"incremental != full recompute:\ninc=$gi\nfull=$gf")
    // spot-check the planted semantics really happened
    val byDoc = inc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byDoc.get(7L).contains(1L), "batch doc failed to join cluster A")
    assert(byDoc.get(47L).contains(41L), "first-edge pair missed")
    assert(byDoc.get(31L).contains(31L) && byDoc.get(32L).contains(31L),
      "untouched cluster D lost its labels")
    assert(!byDoc.contains(100L) && !byDoc.contains(307L),
      "cap-split failed: over-cap bucket still produced a cluster")
    // …and the split was a real state change, not a vacuous pass: the
    // cap-bucket docs sat in the recomputed (affected) scope, meaning
    // the pre-batch world knew them as a live component
    val (subIds, _, _) =
      Dedup.incrementalClusterParts(spark, plantedDir, Bands)
    assert(subIds.collect().map(_.getLong(0)).toSet.contains(100L),
      "cap-bucket docs never became affected — pre-batch cluster missing")
    spark.conf.unset("spark.graft.incclusters.fullFallback")
    clearPreBatch()
  }

  test("boundedness: untouched components never enter the recomputed scope") {
    clearPreBatch()
    val (subIds, subPairs, _) =
      Dedup.incrementalClusterParts(spark, plantedDir, Bands)
    val ids = subIds.collect().map(_.getLong(0)).toSet
    assert(Seq(31L, 32L, 33L).forall(!ids.contains(_)),
      s"untouched cluster D entered the recompute scope: $ids")
    // affected scope = cluster A + cap bucket + first-edge pair + batch
    assert(ids.contains(1L) && ids.contains(7L) && ids.contains(41L))
    val pairNodes = subPairs.collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(pairNodes.subsetOf(ids), "recomputed pairs escaped the scope")
    clearPreBatch()
  }

  test("fullFallback conf is validated: garbage and out-of-range values fail addressed") {
    for (bad <- Seq("yes", "-0.2", "1.5")) {
      Artifacts.clear("dedupClusters")
      clearPreBatch()
      Artifacts.clear("incrementalClusters")
      spark.conf.set("spark.graft.incclusters.fullFallback", bad)
      try {
        val e = intercept[RuntimeException](
          Dedup.incrementalClusters(spark, plantedDir, Bands))
        assert(e.getMessage.contains("spark.graft.incclusters.fullFallback"),
          s"error for '$bad' not addressed: ${e.getMessage}")
      } finally {
        spark.conf.unset("spark.graft.incclusters.fullFallback")
        clearPreBatch()
      }
    }
  }

  test("real fixture: incremental == full recompute at the test SF") {
    Artifacts.clear("dedupClusters")
    clearPreBatch()
    val inc = Dedup.incrementalClusters(spark, TestSpark.sfDir, Bands)
    val full = Dedup.dedupClusters(spark, TestSpark.sfDir, Bands)
    assert(sortedRows(inc) == sortedRows(full))
    clearPreBatch()
  }
}
