package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Curation

/** Dataset-curation operators: deterministic content-addressed splits,
  * benchmark decontamination, composed pipeline. */
class CurationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = TestSpark.sfDir

  test("hash split is deterministic, content-addressed, and ~80/10/10") {
    val a = Curation.queries("q54_hash_split")(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = Curation.queries("q54_hash_split")(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a == b) // re-run identical
    val total = a.values.sum.toDouble
    assert(a("train") / total > 0.7 && a("train") / total < 0.9,
      s"train share off: $a")
    assert(a.keySet == Set("train", "val", "test"))
  }

  test("decontamination flags a planted benchmark copy") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("decontam").toString
    val bench = graft.sources.Tables.load(spark, dir, "documents")
      .where(col("doc_id") < 10)
    // plant: training doc 9001 is an exact copy of benchmark doc 0
    val benchText = bench.where(col("doc_id") === 0)
      .select(col("text")).collect().head.getString(0)
    val planted = Seq((9001L, benchText, "en", "planted", benchText.length))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    graft.sources.Tables.load(spark, dir, "documents")
      .select("doc_id", "text", "lang", "source", "n_chars")
      .union(planted)
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val flagged = Curation.queries("q55_decontam")(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(flagged.contains(9001L), s"planted copy not flagged: ${flagged.keys}")
    // the copy shares (nearly) all its 3-grams with the benchmark
    assert(flagged(9001L) >= 10)
  }

  test("curation pipeline output is consistent with its stages") {
    val out = Curation.queries("q56_curation_pipeline")(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val split = Curation.queries("q54_hash_split")(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // pipeline output is a filtered subset of the raw split counts
    out.foreach { case (k, n) => assert(n <= split(k), s"$k grew: $n > ${split(k)}") }
    assert(out.values.sum > 0)
  }

  test("stratified sample respects per-language rates and is deterministic") {
    val rows = Curation.queries("q62_stratified_sample")(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows.keySet == Set("en", "de", "es", "fr", "zh"))
    // achieved rates track the configured ones (binomial tolerance on
    // ~70-220 docs per stratum): en ~0.9 upsampled, zh ~0.25 down
    val en = rows("en")._2.toDouble / rows("en")._1
    val zh = rows("zh")._2.toDouble / rows("zh")._1
    assert(en > 0.75, s"en rate $en should be ~0.9")
    assert(zh < 0.45, s"zh rate $zh should be ~0.25")
    assert(en > zh, "upsampled stratum must keep a larger share")
    // content-addressed: re-run is row-identical
    val again = Curation.queries("q62_stratified_sample")(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows == again)
  }

  test("token-budget mix stops each source exactly at its budget") {
    val kept = Curation.queries("q63_token_budget_mix")(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(kept.nonEmpty)
    // every source's kept tokens are within budget...
    kept.foreach { case (src, (n, toks)) =>
      assert(toks <= 600, s"$src exceeded budget: $toks")
      assert(n > 0)
    }
    // ...and the cut is maximal: adding the NEXT doc in hash order
    // would exceed the budget (verified by recomputing the window)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(md5(col("text").cast("binary")), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val firstOver = graft.sources.Tables.load(spark, dir, "documents")
      .withColumn("tk", size(split(col("text"), " ")))
      .withColumn("cum", sum(col("tk")).over(w))
      .where(col("cum") > 600)
      .groupBy(col("source")).agg(min(col("cum")).as("next_cum"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    firstOver.foreach { case (src, nextCum) =>
      assert(nextCum > 600)
      kept.get(src).foreach { case (_, toks) =>
        assert(toks < nextCum, s"$src cut is not maximal")
      }
    }
  }

  // shared local corpus view for the differential tests below
  private def localDocs(): Seq[(Long, String, String, String)] =
    graft.sources.Tables.load(spark, dir, "documents")
      .select("doc_id", "text", "lang", "source")
      .collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("sequence packing matches an independent per-source recomputation") {
    val rows = Curation.queries("q66_sequence_packing")(spark, dir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(rows.nonEmpty)
    // chunk math invariants per source
    rows.foreach { case (src, (nDocs, total, nSeq, tail, boundary)) =>
      assert(nSeq * 512 + tail == total, s"$src chunk math")
      assert(tail >= 0 && tail < 512)
      assert(boundary <= math.min(nDocs, nSeq), s"$src boundary bound")
    }
    // independent recomputation: same ordering, scalar loop
    val want = localDocs().groupBy(_._4).map { case (src, ds) =>
      val ordered = ds.map { case (id, text, _, _) =>
        (md5hex(text), id, text.split(" ", -1).length.toLong)
      }.sortBy(t => (t._1, t._2))
      var cum = 0L
      var boundary = 0L
      ordered.foreach { case (_, _, tk) =>
        val st = cum; cum += tk
        if (tk > 0 && st / 512 != (cum - 1) / 512) boundary += 1
      }
      src -> (ordered.length.toLong, cum, cum / 512, cum % 512, boundary)
    }
    assert(rows == want, s"packing mismatch:\n got  $rows\n want $want")
  }

  test("packing manifest is consistent with the packing summary") {
    val summary = Curation.queries("q66_sequence_packing")(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val manifest = Curation.queries("q66b_packing_manifest")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val bySource = manifest.groupBy(_._1)
    assert(bySource.keySet == summary.keySet)
    bySource.foreach { case (src, rows) =>
      // manifest docs/tokens add up to the summary totals
      assert(rows.map(_._3).sum == summary(src)._1, s"$src docs")
      assert(rows.map(_._4).sum == summary(src)._2, s"$src tokens")
      // sequence indices are dense from 0 (every sequence has a first doc)
      val idxs = rows.map(_._2).sorted.toSeq
      assert(idxs == (0L until idxs.length.toLong),
        s"$src seq indices not dense: $idxs")
    }
  }

  test("boilerplate segments match an independent recomputation") {
    val got = Curation.queries("q67_boilerplate_segments")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val docs = localDocs().map { case (id, text, _, _) =>
      id -> text.split(" ", -1).toSeq
    }
    val segsByDoc = docs.map { case (id, toks) =>
      id -> (0 until toks.length / 3)
        .map(i => toks.slice(i * 3, i * 3 + 3).mkString(" "))
    }.filter(_._2.nonEmpty)
    val df = segsByDoc.flatMap { case (id, ss) => ss.distinct.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
    val boiler = df.filter(_._2 >= 2).keySet
    val want = segsByDoc.map { case (id, ss) =>
      val nb = ss.count(boiler)
      val tk = docs.toMap.apply(id).length.toLong
      id -> (ss.length.toLong, nb.toLong, tk - nb * 3)
    }.toMap
    assert(got == want,
      s"boilerplate mismatch on ${got.keySet.diff(want.keySet)} / value diffs: " +
        got.collect { case (k, v) if want.get(k).exists(_ != v) => (k, v, want(k)) }.take(3))
    // the flagged set is non-trivial on this corpus (the test has teeth)
    assert(want.values.map(_._2).sum > 0, "no boilerplate found — corpus too clean")
  }

  test("importance scores match an independent recomputation and favor the target") {
    val got = Curation.queries("q69_importance_scores")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.length == 20)
    val docs = localDocs()
    val toks = docs.map { case (id, text, lang, _) =>
      (id, lang, text.split(" ", -1).toSeq)
    }
    val cr = toks.flatMap(_._3).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val ct = toks.filter(_._2 == "en").flatMap(_._3)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val tr = toks.map(_._3.length.toLong).sum
    val tt = toks.filter(_._2 == "en").map(_._3.length.toLong).sum
    val scores = toks.map { case (id, _, ws) =>
      id -> ws.map(w => ct.getOrElse(w, 0L) * tr - cr(w) * tt).sum
    }
    val want = scores.sortBy { case (id, sc) => (-sc, id) }.take(20)
    assert(got == want, s"importance mismatch:\n got  $got\n want $want")
    // the scorer should rank the target language to the top: en docs
    // are over-represented in the top 20 vs the corpus share
    val enTop = docs.filter(d => got.map(_._1).contains(d._1)).count(_._3 == "en")
    val enShare = docs.count(_._3 == "en").toDouble / docs.length
    assert(enTop.toDouble / 20 > enShare,
      s"top-20 en share ${enTop / 20.0} not above corpus share $enShare")
  }

  test("q76 dataset card: rollup levels are mutually consistent") {
    val rows = Curation.queries("q76_dataset_card")(spark, dir).collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1)),
                 r.getLong(2), r.getLong(3), r.getLong(4)))
    val grand = rows.filter(r => r._1.isEmpty && r._2.isEmpty)
    val perLang = rows.filter(r => r._1.nonEmpty && r._2.isEmpty)
    val leaves = rows.filter(r => r._1.nonEmpty && r._2.nonEmpty)
    assert(grand.length == 1 && perLang.nonEmpty && leaves.nonEmpty)
    // every level sums to the grand total, metric by metric
    def sums(rs: Array[(Option[String], Option[String], Long, Long, Long)]) =
      (rs.map(_._3).sum, rs.map(_._4).sum, rs.map(_._5).sum)
    assert(sums(perLang) == sums(grand))
    assert(sums(leaves) == sums(grand))
    // per-lang rows equal the sum of their leaves
    perLang.foreach { case (lang, _, nd, nt, nq) =>
      val mine = leaves.filter(_._1 == lang)
      assert((mine.map(_._3).sum, mine.map(_._4).sum, mine.map(_._5).sum)
        == ((nd, nt, nq)), s"lang $lang")
    }
    // quality keeps bounded by docs
    rows.foreach { case (_, _, nd, _, nq) => assert(nq <= nd) }
  }

  test("q85 LM rarity matches a scalar recomputation and ranks the odd doc first") {
    import spark.implicits._
    // 10 fluent docs of the same two common bigrams + one doc that
    // detours through two hapax tokens (q, z) — the LM must find it
    // most surprising.
    val texts: Seq[(Long, String)] =
      (1L to 10L).map(i => i -> "a b a b a b") :+ (99L -> "a b q z a b")
    val df = texts.map { case (id, t) => (id, t, "en", "unit", t.length) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Curation.lmRarity(df).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.head._1 == 99L, s"odd doc not ranked most surprising: ${out.head}")
    // independent scalar recomputation of the integer-domain formula
    val tokss = texts.map { case (id, t) => id -> t.split(" ", -1).toSeq }
      .filter(_._2.length >= 2)
    val allToks = tokss.flatMap(_._2)
    val cu = allToks.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val vocabSize = cu.size.toLong
    val cb = tokss.flatMap(_._2.sliding(2).map(p => (p(0), p(1))))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expected = tokss.map { case (id, ts) =>
      val rs = ts.sliding(2).toSeq
        .map { p => ((cu(p(0)) + vocabSize) * 1000L) / (cb((p(0), p(1))) + 1L) }
      (id, rs.size.toLong, rs.sum, rs.sum / rs.size)
    }.sortBy { case (id, _, _, avg) => (-avg, id) }.take(20)
    assert(out.toSeq == expected)
  }

  test("q86 chunking geometry: overlap, suppressed tails, content-addressed hashes") {
    import spark.implicits._
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val df = Seq(
      (1L, words(40)), // 2 chunks: [0,32) and [24,40)
      (2L, words(10)), // short doc: one chunk of 10
      (3L, words(32)), // exact width: tail start 24 >= 32-8 suppressed
      (4L, words(33))  // one past: tail start 24 < 25 emitted, 9 tokens
    ).map { case (id, t) => (id, t, "en", "unit", t.length) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Curation.chunkWithOverlap(df).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getString(4)))
      .sortBy(c => (c._1, c._2))
    val byDoc = out.groupBy(_._1)
    assert(byDoc(1L).map(c => (c._2, c._3, c._4)).toSeq ==
      Seq((0, 0, 32), (1, 24, 16)))
    assert(byDoc(2L).map(c => (c._2, c._3, c._4)).toSeq == Seq((0, 0, 10)))
    assert(byDoc(3L).map(c => (c._2, c._3, c._4)).toSeq == Seq((0, 0, 32)))
    assert(byDoc(4L).map(c => (c._2, c._3, c._4)).toSeq ==
      Seq((0, 0, 32), (1, 24, 9)))
    // hash is content-addressed: doc 1 chunk 0 = md5 of tokens 1..32,
    // so it equals doc 3's only chunk (same text prefix)
    assert(byDoc(1L).head._5 == byDoc(3L).head._5)
    // overlap really is carried: doc 1 chunk 1 starts at token 25
    val md = java.security.MessageDigest.getInstance("MD5")
    val want = md.digest((25 to 40).map(i => s"w$i").mkString(" ")
      .getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(byDoc(1L)(1)._5 == want)
  }

  test("BPE merges (q89) match a plain-Scala greedy reference; best-pair count never increases") {
    import org.apache.spark.sql.functions._
    // independent reference over the same word-frequency table
    val wordCnt = graft.sources.Tables.load(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("tok"))
      .where(length(col("tok")) >= 1)
      .groupBy("tok").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    var words: Map[Vector[String], Long] =
      wordCnt.groupBy { case (tok, _) => tok.toVector.map(_.toString) }
        .view.mapValues(_.values.sum).toMap
    val refMerges = scala.collection.mutable.ListBuffer
      .empty[(Int, String, String, String, Long)]
    for (r <- 0 until graft.operators.Curation.BpeRounds) {
      val pairCnt = scala.collection.mutable.Map
        .empty[(String, String), Long].withDefaultValue(0L)
      for ((syms, c) <- words; i <- 0 until syms.length - 1)
        pairCnt((syms(i), syms(i + 1))) += c
      if (pairCnt.nonEmpty) {
        val ((a, b), c) = pairCnt.minBy { case ((a, b), c) => (-c, a, b) }
        refMerges += ((r, a, b, a + b, c))
        words = words.groupBy { case (syms, _) =>
          // greedy left-to-right application
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
              out += (a + b); i += 2
            } else { out += syms(i); i += 1 }
          }
          out.toVector
        }.view.mapValues(_.values.sum).toMap
      }
    }
    val got = graft.operators.Curation.queries("q89_bpe_merges")(spark, dir)
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
                 r.getString(3), r.getLong(4))).sortBy(_._1)
    assert(got.toSeq == refMerges.toSeq, "merge tables diverge")
    // the mode switch is purely a scale decision: the batched
    // DISTRIBUTED path must produce the same merges as the default
    // (local at this word-table size) path just checked
    spark.conf.set("spark.graft.bpe.mode", "distributed")
    graft.operators.Artifacts.clear("bpeMerges")
    try {
      val dist = graft.operators.Curation
        .queries("q89_bpe_merges")(spark, dir).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2),
                   r.getString(3), r.getLong(4))).sortBy(_._1)
      assert(dist.toSeq == refMerges.toSeq, "distributed mode diverges")
    } finally {
      spark.conf.unset("spark.graft.bpe.mode")
      graft.operators.Artifacts.clear("bpeMerges")
    }
    // greedy BPE invariant: the winning pair count is non-increasing
    val cs = got.map(_._5)
    assert(cs.zip(cs.drop(1)).forall { case (x, y) => y <= x }, cs.toSeq)
    // the learned vocab covers every surviving symbol exactly
    val vocab = graft.operators.Curation.queries("q89b_bpe_vocab")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val refVocab = words.toSeq
      .flatMap { case (syms, c) => syms.map(_ -> c) }
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    assert(vocab == refVocab, "vocab diverges from reference")
    // q89c: encoding the corpus with the trained model matches a pure
    // per-doc recomputation from the reference's final word state
    val tokLen = words.map { case (syms, _) => syms.mkString("") -> syms.length }
    val refEnc = graft.sources.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map { r =>
        val toks = r.getString(1).split(" ").filter(_.nonEmpty)
        r.getLong(0) -> ((toks.length.toLong, toks.map(t => tokLen(t).toLong).sum))
      }.toMap
    val enc = graft.operators.Curation.queries("q89c_bpe_encode")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(enc == refEnc, "trained-tokenizer encode diverges from reference")
  }

  test("spread cumulative sum == window cumulative sum through q63/q105/q66/q66b") {
    // perSourceCumSum's distributed path (hash-prefix range buckets +
    // driver-side offsets) must be byte-identical to the per-source
    // running-sum window it replaces at scale. Strongest check: run
    // the four REAL queries both ways on the fixture and diff the
    // collected results.
    val names = Seq("q63_token_budget_mix", "q105_temperature_mix",
      "q66_sequence_packing", "q66b_packing_manifest")
    def runAll(): Map[String, Set[String]] = names.map { n =>
      n -> Curation.queries(n)(spark, dir).collect().map(_.toString).toSet
    }.toMap
    val window = runAll() // fixture is below the default gate
    spark.conf.set("spark.graft.spread.threshold", "0")
    try {
      val spread = runAll()
      names.foreach { n =>
        assert(window(n) == spread(n),
          s"$n diverges between window and spread paths: " +
            s"only-window=${(window(n) -- spread(n)).take(3)} " +
            s"only-spread=${(spread(n) -- window(n)).take(3)}")
      }
    } finally spark.conf.unset("spark.graft.spread.threshold")
  }

  test("q105 temperature mix: alpha=0.5 upweights small sources, budgets bounded") {
    import org.apache.spark.sql.functions._
    val rows = graft.operators.Curation
      .queries("q105_temperature_mix")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    // kept tokens never exceed the budget; budgets sum to <= the target
    rows.foreach { case (src, budget, _, kept) =>
      assert(kept <= budget, s"$src kept $kept > budget $budget")
    }
    assert(rows.map(_._2).sum <= 20000L)
    // temperature property: the SMALLEST source's budget share must
    // exceed its token share, the LARGEST source's must be below it
    // (sqrt flattens the distribution toward uniform)
    val ns = spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("tk", size(split(col("text"), " ")))
      .groupBy(col("source")).agg(sum(col("tk")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val totalN = ns.values.sum.toDouble
    val totalB = rows.map(_._2).sum.toDouble
    val smallest = ns.minBy(_._2)._1
    val largest = ns.maxBy(_._2)._1
    def budgetShare(src: String) =
      rows.find(_._1 == src).get._2 / totalB
    def tokenShare(src: String) = ns(src) / totalN
    assert(budgetShare(smallest) > tokenShare(smallest),
      s"smallest source not upweighted: ${budgetShare(smallest)} vs ${tokenShare(smallest)}")
    assert(budgetShare(largest) < tokenShare(largest),
      s"largest source not downweighted: ${budgetShare(largest)} vs ${tokenShare(largest)}")
  }
}
