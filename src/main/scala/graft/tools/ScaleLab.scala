package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Artifacts

/** Scale-measurement harness (SCALING.md's "evidence, not
  * extrapolation" rows):
  *
  *  - `replicate <srcSfDir> <outDir> <factor>` — build a factor-×
  *    corpus replica of `documents`/`embeddings`. Each replica keeps
  *    the source's vocabulary, length, and norm distributions but is
  *    content-distinct: document tokens and embedding elements are
  *    circularly rotated by the replica index (deterministic — no
  *    RNG, so re-runs build the identical corpus), ids offset per
  *    replica.
  *  - `semdedup <dir> <k|auto> [threshold]` — warm median-of-3 of
  *    [[graft.operators.Similarity.semdedup]] at the given codebook
  *    size; `auto` = AnnParams.ivfKFor(|embeddings|), the √n default.
  *  - `spans <dir> <saltBuckets> [hotPct] [rep]` — warm median-of-3
  *    of [[graft.operators.Dedup.spanCoverage]] on the corpus with a
  *    PLANTED Zipf hot-key load: `hotPct`% of docs (by id) get the
  *    same 5-token boilerplate phrase repeated `rep` times prepended,
  *    so 5 span keys carry ~hotPct·rep/avgLen of all span rows — the
  *    repeated-header shape that makes the unsalted window a one-
  *    partition straggler. Run with saltBuckets=0 (window) vs >0
  *    (two-phase salted) on the SAME planted corpus to measure the
  *    skew win; row-for-row output equality is SkewSpec's pin.
  *  - `minhash <dir> [bands]` — warm median-of-3 of
  *    [[graft.operators.Dedup.minhashPairs]] (default 8 bands): the
  *    band-bucket pipeline's runtime should grow ~linearly with the
  *    corpus, and replicas share no shingles by construction.
  *  - `tfidf <dir> [k]` — warm median-of-3 of
  *    [[graft.operators.Search.tfidfKeywords]] (q82). Replicas
  *    permute tokens, so every doc's term multiset — hence tf, df
  *    (×factor), and per-doc scores — is preserved exactly: measured
  *    growth is the operator's row volume, not a distribution shift.
  *    The VOCABULARY stays constant across replicas, so this probes
  *    the tf explode/agg/window path, not the df join strategy.
  *  - `cc <dir> [bands] [maxRounds]` — warm median-of-3 of
  *    [[graft.operators.Dedup.dedupClusters]] (q61), the suite's only
  *    ITERATIVE operator, with the cluster memo cleared before every
  *    timed run so each sample re-materializes the pointer-jumping
  *    rounds; prints pair/node/cluster/max-cluster counts so the
  *    growth number is interpretable next to how the graph grew.
  *    `maxRounds` sets spark.graft.cc.maxRounds — the 50x replica
  *    corpus canonicalizes token order per replica, which densifies
  *    the near-dup graph into a giant boilerplate-style component
  *    (measured: 4.7k docs, >16-round diameter) — the regime the
  *    knob exists for.
  *  - `lmrarity <dir>` — warm median-of-3 of
  *    [[graft.operators.Curation.lmRarity]] (q85): LM training
  *    (bigram/unigram counts + vocab join) plus instance scoring,
  *    end to end. Caveat, measured: permutation grows the bigram
  *    vocab only toward its |V|² cap — the synthetic corpus has
  *    |V|=31 tokens, so the LM saturates at 961 rows by 1× and the
  *    probe measures INSTANCE-row growth (×factor) against a
  *    constant-size LM. The corpus-proportional-vocab join strategy
  *    is pinned by PlanQualitySpec's forced-large-estimate test, not
  *    by this measurement. Bigram frequencies are not a real
  *    corpus's (permutation flattens them) — runtime shape only,
  *    never LM quality.
  *
  * Used to measure the fixed-k vs grown-k SemDeDup curve at 10×
  * (round-6 verdict item 4; SCALING.md "Round 5: measured scale-up")
  * and the salted-vs-window span curve (round-7, SCALING.md).
  */
object ScaleLab {

  def main(args: Array[String]): Unit = {
    val spark = graft.SparkTuning.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_scalelab_wh").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    args.toList match {
      case "replicate" :: src :: out :: factor :: Nil =>
        replicate(spark, src, out, factor.toInt)
      case "semdedup" :: dir :: k :: rest =>
        val threshold = rest.headOption.map(_.toDouble).getOrElse(0.4)
        probeSemdedup(spark, dir, k, threshold)
      case "spans" :: dir :: salt :: rest =>
        val hotPct = rest.headOption.map(_.toInt).getOrElse(20)
        val rep = rest.drop(1).headOption.map(_.toInt).getOrElse(40)
        probeSpans(spark, dir, salt.toInt, hotPct, rep)
      case "minhash" :: dir :: rest =>
        probeMinhash(spark, dir, rest.headOption.map(_.toInt).getOrElse(8))
      case "tfidf" :: dir :: rest =>
        probeTfidf(spark, dir, rest.headOption.map(_.toInt).getOrElse(3))
      case "cc" :: dir :: rest =>
        rest.drop(1).headOption.foreach(r =>
          spark.conf.set("spark.graft.cc.maxRounds", r))
        probeCc(spark, dir, rest.headOption.map(_.toInt).getOrElse(8))
      case "lmrarity" :: dir :: Nil =>
        probeLmRarity(spark, dir)
      case "ivfflat" :: dir :: k :: rest =>
        val np = rest.headOption.map(_.toInt).getOrElse(8)
        val (median, times) = timeMedian3(graft.operators.Similarity
          .knnIvf(spark, dir, graft.operators.Similarity
            .AnnParams(ivfK = k.toInt, ivfProbe = np)))
        println(f"IVFFLAT_PROBE dir=$dir k=$k np=$np " +
          f"median=$median%.3f all=${fmtAll(times)}")
      case "ivf2" :: dir :: k :: coarseK :: rest =>
        val cp = rest.headOption.map(_.toInt).getOrElse(4)
        val np = rest.drop(1).headOption.map(_.toInt).getOrElse(8)
        val outDir = rest.drop(2).headOption
        probeIvf2(spark, dir, k.toInt, coarseK.toInt, cp, np, outDir)
      case "order" :: dir :: Nil =>
        probeOrder(spark, dir)
      case "bloom" :: dir :: rest =>
        probeBloom(spark, dir, rest.headOption.map(_.toLong).getOrElse(25000L))
      case "perceptron" :: dir :: Nil =>
        probePerceptron(spark, dir)
      case "rerank" :: dir :: Nil =>
        probeRerank(spark, dir)
      case "heavyhitters" :: dir :: rest =>
        probeHeavyHitters(spark, dir,
          rest.headOption.map(_.toInt).getOrElse(255),
          rest.drop(1).headOption.map(_.toInt).getOrElse(1))
      case "prefixjoin" :: target :: rest =>
        val num = rest.headOption.map(_.toInt).getOrElse(9)
        val den = rest.drop(1).headOption.map(_.toInt).getOrElse(10)
        probePrefixJoin(spark, target, num, den)
      case "rangejoin" :: dir :: rest =>
        probeRangeJoin(spark, dir, rest.headOption.map(_.toInt).getOrElse(4))
      case "bpe" :: dir :: rest =>
        val rounds = rest.headOption.map(_.toInt).getOrElse(64)
        val batch = rest.drop(1).headOption.map(_.toInt).getOrElse(16)
        val mode = rest.drop(2).headOption.getOrElse("auto")
        probeBpe(spark, dir, rounds, batch, mode)
      case "stagepar" :: dir :: names =>
        probeStagePar(spark, dir, names)
      case "incclusters" :: dir :: rest =>
        probeIncClusters(spark, dir, rest.headOption.map(_.toInt).getOrElse(8))
      case "indexsync" :: dir :: rest =>
        probeIndexSync(spark, dir, rest.headOption.map(_.toInt).getOrElse(10))
      case "indexprobe" :: dir :: Nil =>
        probeIndexProbe(spark, dir)
      case "bloomprune" :: dir :: Nil =>
        probeBloomPrune(spark, dir)
      case "zonemap" :: dir :: Nil =>
        probeZonemap(spark, dir)
      case "filecow" :: dir :: Nil =>
        probeFileCow(spark, dir)
      case "zorderprune" :: dir :: Nil =>
        probeZorderPrune(spark, dir)
      case "fullsuite" :: dir :: rest =>
        probeFullSuite(spark, dir, rest.headOption)
      case "clusteredgen" :: out :: rest =>
        genClusteredEmbeddings(spark, out,
          rest.headOption.map(_.toInt).getOrElse(20000),
          rest.drop(1).headOption.map(_.toInt).getOrElse(32),
          rest.drop(2).headOption.map(_.toDouble).getOrElse(0.35))
      case "maintainwin" :: dir :: rest =>
        probeMaintainWin(spark, dir,
          rest.headOption.map(_.toInt).getOrElse(10),
          rest.drop(1).headOption.map(_.toInt).getOrElse(8),
          rest.drop(2).headOption.map(_.toInt).getOrElse(1))
      case "maintainstages" :: dir :: rest =>
        // optional 3rd arg: pair-state bucket count B (pinned at
        // bootstrap). Measured tuning rule (SCALING.md round-16
        // ladder): a bucket escapes a wave's read only when NO batch
        // doc hashes into it (P ≈ e^(-batch/B)), so pruning needs
        // B >> batch — pruned read ≈ state x batch/B — while
        // per-bucket fixed costs scale with B (the B=256 A/B at a
        // 10k-doc batch cost 3x MORE and still pruned nothing).
        // Fixture-ratio batches: keep the small default. Production
        // ratios (tiny waves into a huge state): size B so
        // batch/B << 1.
        rest.drop(2).headOption.foreach(b =>
          spark.conf.set("spark.graft.clusterstate.buckets", b))
        probeMaintainStages(spark, dir,
          rest.headOption.map(_.toInt).getOrElse(10),
          rest.drop(1).headOption.map(_.toInt).getOrElse(8))
      case "hardneg" :: dir :: rest =>
        probeHardNegSweep(spark, dir,
          rest.headOption.map(_.toInt).getOrElse(16),
          if (rest.drop(1).nonEmpty) rest.drop(1).map(_.toInt)
          else Seq(1, 2, 4, 8, 16))
      case "mmrivf" :: dir :: rest =>
        probeMmrIvf(spark, dir,
          rest.headOption.map(_.toInt).getOrElse(16),
          if (rest.drop(1).nonEmpty) rest.drop(1).map(_.toInt)
          else Seq(1, 2, 4, 8, 16))
      case "maintain" :: dir :: rest =>
        // q61d end-to-end replay (3 waves over a fresh state dir),
        // memo cleared per sample — the bench-sequential number
        // without the 6-minute full suite around it
        val bands = rest.headOption.map(_.toInt).getOrElse(8)
        val (m, ts) = timeMedian3 {
          Artifacts.clear("clusterMaintenanceReplay")
          graft.operators.Dedup.clusterMaintenanceReplay(spark, dir, bands)
        }
        println(f"MAINTAIN_PROBE dir=$dir bands=$bands median=$m%.3f " +
          f"all=${fmtAll(ts)}")
        // per-wave breakdown on a fresh state dir (one cold pass)
        val state = java.nio.file.Files
          .createTempDirectory("graft_maintain_probe").toString
        val d = spark.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text"))
        for (w <- 0 until 3) {
          val t0 = System.nanoTime()
          val labels = graft.operators.Dedup.maintainClusterState(spark,
            state, d.where(pmod(col("doc_id"), lit(3)) === w), bands)
          val tc = (System.nanoTime() - t0) / 1e9
          val t1 = System.nanoTime()
          labels.write.format("noop").mode("overwrite").save()
          val tr = (System.nanoTime() - t1) / 1e9
          println(f"MAINTAIN_WAVE w=$w commit=$tc%.3f readback=$tr%.3f")
        }
      case other =>
        System.err.println(s"unknown ScaleLab args: $other")
        sys.exit(2)
    }
    spark.stop()
  }

  private def replicate(spark: SparkSession, src: String, out: String,
                        factor: Int): Unit = {
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val docOffset = docs.agg(max("doc_id")).collect()(0).getLong(0) + 1
    val docReps = (0 until factor).map { r =>
      // replica 0 is the source verbatim; each other replica PERMUTES
      // every doc's tokens by a per-replica hash order. A permutation
      // keeps the vocabulary multiset and doc length (so token/vocab
      // distributions and per-doc work are preserved) and destroys
      // w-gram structure, so replicas share no spans/segments/
      // shingles with each other or the source — a circular ROTATION
      // would not (it preserves every interior w-gram and repeats
      // verbatim once r wraps), which silently turned span-family
      // scale measurements into ~100% cross-doc duplication. Not
      // preserved: token-ORDER statistics (bigram frequencies) —
      // fine for the hash-keyed span/shingle/semdedup operators this
      // harness measures, wrong for an LM-perplexity-style probe.
      val permuted =
        if (r == 0) docs
        else docs
          .withColumn("toks", split(col("text"), " "))
          .withColumn("text",
            concat_ws(" ", transform(
              array_sort(transform(col("toks"),
                t => struct(md5(concat(t, lit(s"#$r"))).as("k"), t.as("tok")))),
              s => s.getField("tok"))))
          .drop("toks")
      permuted.withColumn("doc_id", col("doc_id") + lit(r * docOffset))
    }
    docReps.reduce(_ unionAll _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    // element rotation has period 64 (= Dim); replicas 64..127 negate
    // the rotated vector — the norm stays exact and a negated vector
    // is maximally far (cosine -1) from its un-negated twin, so the
    // second period lands in distinct cells rather than repeating the
    // first verbatim. Beyond 128 the scheme repeats — refuse rather
    // than skew a measurement silently.
    require(factor <= 128,
      s"embedding replicas repeat beyond 128x (rotation x sign period); got $factor")
    val vecOffset = emb.agg(max("vec_id")).collect()(0).getLong(0) + 1
    val embReps = (0 until factor).map { r =>
      // rotate embedding elements by r: preserves the norm exactly,
      // changes the direction, so replicas land in different cells
      val rot = r % 64
      val rotated = flatten(array(
        expr(s"slice(embedding, ${rot + 1}, size(embedding))"),
        expr(s"slice(embedding, 1, $rot)")))
      emb
        .withColumn("vec_id", col("vec_id") + lit(r * vecOffset))
        .withColumn("embedding",
          if (r < 64) rotated
          else transform(rotated, x => -x))
    }
    embReps.reduce(_ unionAll _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    // relational tables, so the FULL suite runs at the replica scale
    // (round-9 verdict item 6). Dimensions are copied verbatim and the
    // fact tables grow by disjoint key ranges against them — the
    // realistic growth shape (10x the orders against the same customer
    // base), and the one that keeps every dim join broadcast-able at
    // any factor. orders/lineitem share ONE key offset so the
    // order->line join degree distribution is preserved exactly.
    // events grow by USERS (ids offset per replica): more keys with
    // the same per-key volume, so per-user window/session state does
    // not inflate with the factor (10x-fatter users would probe state
    // skew, not scale).
    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    val orders = spark.read.parquet(s"$src/orders.parquet")
    val orderOffset = orders.agg(max("o_orderkey")).collect()(0).getLong(0) + 1
    def offsetReps(df: DataFrame, shifts: Map[String, Long]): DataFrame =
      (0 until factor).map { r =>
        shifts.foldLeft(df) { case (d, (c, off)) =>
          d.withColumn(c, col(c) + lit(r * off)) }
      }.reduce(_ unionAll _).repartition(32)
    offsetReps(orders, Map("o_orderkey" -> orderOffset))
      .write.mode("overwrite").parquet(s"$out/orders.parquet")
    offsetReps(spark.read.parquet(s"$src/lineitem.parquet"),
      Map("l_orderkey" -> orderOffset))
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    val events = spark.read.parquet(s"$src/events.parquet")
    val Seq(eventOffset, userOffset) = events
      .agg(max("event_id"), max("user_id")).collect()(0)
      .toSeq.map(_.asInstanceOf[Long] + 1)
    offsetReps(events,
      Map("event_id" -> eventOffset, "user_id" -> userOffset))
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    println(s"REPLICATE done: $out x$factor " +
      s"docs=${spark.read.parquet(s"$out/documents.parquet").count()} " +
      s"vecs=${spark.read.parquet(s"$out/embeddings.parquet").count()} " +
      s"lines=${spark.read.parquet(s"$out/lineitem.parquet").count()} " +
      s"events=${spark.read.parquet(s"$out/events.parquet").count()}")
  }

  /** q90's bucketed global enumeration vs the naive single-partition
    * window over the same sort key — the measured case for why the
    * bucket-offset shape exists. The naive plan funnels every row
    * through one task; the bucketed plan's widest window is one
    * (band, hash-byte) bucket (~1/2560 of the corpus). */
  private def probeOrder(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    val (mb, tb) = timeMedian3(
      graft.operators.Curation.globalOrder(spark, dir, banded = true, seed = ""))
    def naive = {
      val docs = graft.sources.Tables.load(spark, dir, "documents")
        .withColumn("h", md5(col("text").cast("binary")))
        .withColumn("band",
          least(expr("size(split(text, ' ')) div 100"), lit(9)).cast("long"))
      docs.withColumn("global_pos",
          row_number().over(Window.orderBy(col("band"), col("h"), col("doc_id"))))
        .select(col("doc_id"), col("band"), col("global_pos"))
    }
    val (mn, tn) = timeMedian3(naive)
    println(f"ORDER_PROBE dir=$dir bucketed_median=$mb%.3f all=${fmtAll(tb)} " +
      f"naive_global_window_median=$mn%.3f all=${fmtAll(tn)}")
  }

  /** The three decontam shapes at a LARGE eval set (doc_id <
    * benchMaxId — a fraction of the corpus, modeling a full eval
    * harness whose raw shingles outgrow broadcast): q55's broadcast
    * join, the un-hinted exact shuffle join, and the Bloom prefilter
    * above it. Identical output by contract; the measurement is where
    * the crossover sits. */
  private def probeBloom(spark: SparkSession, dir: String,
                         benchMaxId: Long): Unit = {
    def run(mode: String) =
      timeMedian3(graft.operators.Curation.decontam(spark, dir, benchMaxId, mode))
    val (mBloom, aBloom) = run("bloom")
    val (mShuffle, aShuffle) = run("shuffle")
    val (mBcast, aBcast) = run("broadcast")
    // the scale-relevant metric a local wall can't show: rows entering
    // the exact-join shuffle with and without the prefilter (local
    // shuffles are in-memory; a cluster pays network+disk per row)
    val (train, bench) = graft.operators.Curation.decontamLegs(spark, dir, benchMaxId)
    val nTrain = train.count()
    val nBench = bench.count()
    val nCand = graft.operators.Curation.bloomFiltered(train, bench).count()
    // mechanical selectivity on a DISJOINT key set (every bench key
    // suffixed out of the corpus space): survivors are pure false
    // positives — the shuffle reduction the filter delivers on a
    // corpus where eval shingles are rare (real benchmarks), however
    // saturated this synthetic shingle space is
    val benchDisjoint = bench.select(
      concat(col("shingle"), lit("#eval")).as("shingle"))
    val nFp = graft.operators.Curation.bloomFiltered(train, benchDisjoint).count()
    println(f"BLOOM_PROBE dir=$dir benchMaxId=$benchMaxId " +
      f"bloom=$mBloom%.3f all=${fmtAll(aBloom)} " +
      f"shuffle=$mShuffle%.3f all=${fmtAll(aShuffle)} " +
      f"broadcast=$mBcast%.3f all=${fmtAll(aBcast)} " +
      f"trainShingles=$nTrain benchShingles=$nBench " +
      f"bloomCandidates=$nCand (${100.0 * nCand / nTrain}%.2f%% shuffled) " +
      f"disjointFp=$nFp (${100.0 * nFp / nTrain}%.3f%% pure-fpp floor)")
  }

  /** The shared probe protocol: materialize `df` through the noop
    * sink once to warm (fills plan/codebook memos — the offline
    * model), then report median-of-3. One definition so all probes
    * measure identically; a protocol change lands everywhere at once. */
  private def timeMedian3(df: => DataFrame): (Double, Seq[Double]) = {
    def once(): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    once() // warm
    val times = (1 to 3).map(_ => once()).sorted
    (times(1), times)
  }

  private def fmtAll(times: Seq[Double]): String =
    times.map(t => f"$t%.3f").mkString(",")

  private def probeSemdedup(spark: SparkSession, dir: String, kArg: String,
                            threshold: Double): Unit = {
    import graft.operators.Similarity
    val n = spark.read.parquet(s"$dir/embeddings.parquet").count()
    val k = kArg match {
      case "auto" => Similarity.AnnParams.ivfKFor(n)
      case other  => other.toInt
    }
    val (median, times) =
      timeMedian3(Similarity.semdedup(spark, dir, k, threshold))
    println(f"SEMDEDUP_PROBE dir=$dir n=$n k=$k threshold=$threshold " +
      f"median=$median%.3f all=${fmtAll(times)}")
  }

  private def probeMinhash(spark: SparkSession, dir: String,
                           numBands: Int): Unit = {
    // q33's full band-bucket pipeline at scale: candidate generation
    // is bounded by the bucket cap, so pair volume — and with it
    // runtime — should grow ~linearly in corpus size, NOT
    // quadratically. NOTE the synthetic 31-token vocabulary makes
    // mid-range background similarity ubiquitous (39 bigrams sampled
    // from a 961-bigram space), so cross-replica pairs are REAL and
    // the recall-correct family finds them — pair volume at 50x is
    // ~21x the correlated family's count (measured; SCALING.md).
    val n = spark.read.parquet(s"$dir/documents.parquet").count()
    val (median, times) =
      timeMedian3(graft.operators.Dedup.minhashPairs(spark, dir, numBands))
    println(f"MINHASH_PROBE dir=$dir n=$n bands=$numBands " +
      f"median=$median%.3f all=${fmtAll(times)}")
  }

  private def probeTfidf(spark: SparkSession, dir: String, k: Int): Unit = {
    val n = spark.read.parquet(s"$dir/documents.parquet").count()
    val (median, times) =
      timeMedian3(graft.operators.Search.tfidfKeywords(spark, dir, k))
    println(f"TFIDF_PROBE dir=$dir n=$n k=$k " +
      f"median=$median%.3f all=${fmtAll(times)}")
  }

  /** q61c vs q61 at scale: with the pre-batch label table warm (the
    * persisted-artifact model), the incremental update should track
    * the AFFECTED scope, not the corpus — while the full recompute
    * pays pairs+CC over everything every time. Prints both walls plus
    * the scope sizes that make the gap interpretable. */
  private def probeIncClusters(spark: SparkSession, dir: String,
                               bands: Int): Unit = {
    import graft.operators.Dedup
    val n = spark.read.parquet(s"$dir/documents.parquet").count()
    // warm the persisted artifacts (pre-batch labels + shingle base) —
    // the state an ingest pipeline holds when a shard arrives
    Dedup.incrementalClusters(spark, dir, bands)
      .write.format("noop").mode("overwrite").save()
    // per-run: clear the RESULT memo (each sample re-runs the
    // maintenance), keep the pre-batch artifacts warm (they model
    // persisted ingest tables)
    val (mi, ti) = timeMedian3 {
      // clear BOTH memos: when the doc-fraction fallback fires, the
      // incremental call IS a full recompute — a warm cluster memo
      // would time only the gate and overstate the win
      Artifacts.clear("incrementalClusters")
      Artifacts.clear("dedupClusters")
      Dedup.incrementalClusters(spark, dir, bands)
    }
    val (mf, tf) = timeMedian3 {
      Artifacts.clear("dedupClusters")
      Dedup.dedupClusters(spark, dir, bands)
    }
    val (subIds, subPairs, _) = Dedup.incrementalClusterParts(spark, dir, bands)
    println(f"INCCLUSTERS_PROBE dir=$dir n=$n bands=$bands " +
      f"inc_median=$mi%.3f inc_all=${fmtAll(ti)} " +
      f"full_median=$mf%.3f full_all=${fmtAll(tf)} " +
      f"affected_docs=${subIds.count()} sub_pairs=${subPairs.count()}")
  }

  /** Index maintenance at scale: load `documents` into an engine
    * table, CREATE a bands index, append a `batchPct`% batch, and
    * time the file-diff sync against a DROP+CREATE full rebuild. The
    * claim under test: maintenance is O(changed files). */
  private def probeIndexSync(spark: SparkSession, dir: String,
                             batchPct: Int): Unit = {
    val engine = new graft.engine.QueryEngine(spark)
    engine.execute("CREATE DATABASE IF NOT EXISTS sl")
    engine.execute("DROP TABLE IF EXISTS sl.idocs")
    engine.execute(
      """CREATE TABLE sl.idocs (doc_id int64 NOT NULL, text string)
        |STORAGE filesystem""".stripMargin)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val n = docs.count()
    val batchN = n * batchPct / 100
    docs.where(col("doc_id") % 100 >= batchPct)
      .createOrReplaceTempView("sl_base")
    docs.where(col("doc_id") % 100 < batchPct)
      .createOrReplaceTempView("sl_batch")
    engine.execute("INSERT INTO sl.idocs SELECT doc_id, text FROM sl_base")
    val t0 = System.nanoTime()
    engine.execute("CREATE INDEX ib ON sl.idocs (doc_id, text) USING bands")
    val build = (System.nanoTime() - t0) / 1e9
    // the append triggers the file-diff sync inside the INSERT
    val t1 = System.nanoTime()
    engine.execute("INSERT INTO sl.idocs SELECT doc_id, text FROM sl_batch")
    val sync = (System.nanoTime() - t1) / 1e9
    val rows = graft.engine.IndexManager
      .indexData(spark, "sl.idocs", "ib").count()
    // full rebuild for comparison
    engine.execute("DROP INDEX ib ON sl.idocs")
    val t2 = System.nanoTime()
    engine.execute("CREATE INDEX ib ON sl.idocs (doc_id, text) USING bands")
    val rebuild = (System.nanoTime() - t2) / 1e9
    println(f"INDEXSYNC_PROBE dir=$dir n=$n batch~=$batchN " +
      f"initial_build=$build%.3f insert_with_sync=$sync%.3f " +
      f"full_rebuild=$rebuild%.3f index_rows=$rows")
  }

  /** Probe-vs-recompute A/B for the index-aware analytic faces
    * (round-9 verdict "Next #1"'s measurement half): load the corpus
    * into an engine table, CREATE the bands/postings/ivf indexes
    * (timing the one-time build), then warm-median-3 each face WITH
    * its index (probe reads only the stored materials) and again
    * AFTER DROP INDEX (scan fallback re-derives them from the
    * corpus). AnalyticFacesSpec pins the two answers equal; this
    * measures what that equality COSTS each way. */
  private def probeIndexProbe(spark: SparkSession, dir: String): Unit = {
    val engine = new graft.engine.QueryEngine(spark)
    engine.execute("CREATE DATABASE IF NOT EXISTS sl")
    engine.execute("DROP TABLE IF EXISTS sl.pdocs")
    engine.execute("CREATE TABLE sl.pdocs (doc_id int64, text string) STORAGE filesystem")
    engine.execute(
      s"INSERT INTO sl.pdocs SELECT doc_id, text FROM parquet.`$dir/documents.parquet`")
    engine.execute("DROP TABLE IF EXISTS sl.pvecs")
    engine.execute("CREATE TABLE sl.pvecs (vec_id int64, embedding list<float32>) STORAGE filesystem")
    engine.execute(
      s"INSERT INTO sl.pvecs SELECT vec_id, embedding FROM parquet.`$dir/embeddings.parquet`")
    val nDocs = spark.table("sl.pdocs").count()
    val nVecs = spark.table("sl.pvecs").count()

    def buildOne(ddl: String): Double = {
      val t0 = System.nanoTime()
      engine.execute(ddl)
      (System.nanoTime() - t0) / 1e9
    }
    val bBands = buildOne("CREATE INDEX pb ON sl.pdocs (doc_id, text) USING bands")
    val bPost = buildOne("CREATE INDEX pp ON sl.pdocs (doc_id, text) USING postings")
    val bIvf = buildOne("CREATE INDEX pi ON sl.pvecs (vec_id, embedding) USING ivf")

    def faces: Seq[(String, () => DataFrame)] = Seq(
      "bands" -> (() => engine.nearDupCandidates("sl.pdocs", "doc_id", "text")),
      "bm25" -> (() => engine.bm25Search("sl.pdocs", "doc_id", "text",
        graft.operators.Search.DefaultQuery)),
      "ivf" -> (() => engine.annNeighbors("sl.pvecs", "vec_id", "embedding",
        0L until 10L, 5, 4)))
    def measure(tag: String): Map[String, Double] =
      faces.map { case (name, f) =>
        val (median, times) = timeMedian3(f())
        println(f"INDEXPROBE_LEG face=$name path=$tag " +
          f"median=$median%.3f all=${fmtAll(times)}")
        name -> median
      }.toMap

    val withIx = measure("index")
    engine.execute("DROP INDEX pb ON sl.pdocs")
    engine.execute("DROP INDEX pp ON sl.pdocs")
    engine.execute("DROP INDEX pi ON sl.pvecs")
    val scan = measure("scan")
    val ratios = faces.map { case (name, _) =>
      f"$name=${scan(name) / withIx(name)}%.1fx" }.mkString(" ")
    println(f"INDEXPROBE dir=$dir docs=$nDocs vecs=$nVecs " +
      f"build_bands=$bBands%.3f build_postings=$bPost%.3f build_ivf=$bIvf%.3f " +
      f"probe_bands=${withIx("bands")}%.3f scan_bands=${scan("bands")}%.3f " +
      f"probe_bm25=${withIx("bm25")}%.3f scan_bm25=${scan("bm25")}%.3f " +
      f"probe_ivf=${withIx("ivf")}%.3f scan_ivf=${scan("ivf")}%.3f " +
      s"speedup: $ratios")
  }

  /** Full-suite scale point (round-9 verdict item 6): run EVERY
    * SparkEntry query once, warm, sequentially, at the given
    * (replicated) scale dir, with the bench's metrics listener
    * attached — per-query wall + heavy-stage parallelism + serial
    * suspects, exactly the idle-pass protocol Bench uses, minus the
    * concurrent passes (a scale probe measures the PLANS' growth, not
    * host throughput). Output: one JSON line (slowest-15 + suspects)
    * and the full per-query record at `outPath` (default
    * /tmp/FULLSUITE_<basename>.json) for the SCALING.md table. */
  private def probeFullSuite(spark: SparkSession, dir: String,
                             outPathOpt: Option[String]): Unit = {
    val outPath = outPathOpt.getOrElse(
      s"/tmp/FULLSUITE_${new java.io.File(dir).getName}.json")
    // calm-host guard (Bench's round-13 protocol): a shared-host load
    // burst inflates every stage wall and the probe publishes bogus
    // walls + dozens of false serial suspects (observed: 433 s vs
    // 209 s for identical code at 10x under loadavg 9). Wait, bounded.
    val cores = Runtime.getRuntime.availableProcessors
    // floating division with a floor of 1.0 (r13 ADVICE): integer
    // cores/4 is 0 on a <4-core host, forcing the full wait on any
    // nonzero load; getSystemLoadAverage may return -1.0 on
    // unsupported platforms — then the guard is a deliberate no-op.
    val calmBar = math.max(1.0, cores / 4.0)
    def loadavg: Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    var waited = 0
    while (loadavg > calmBar && waited < 300) {
      System.err.println(
        f"[fullsuite] host loadavg $loadavg%.1f > $calmBar%.1f: waiting")
      Thread.sleep(15000); waited += 15
    }
    val listener = new graft.bench.QueryMetricsListener
    spark.sparkContext.addSparkListener(listener)
    def run1(name: String,
             fn: (SparkSession, String) => DataFrame): Double = {
      spark.sparkContext.setJobGroup(name, name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try fn(spark, dir).write.format("noop").mode("overwrite").save()
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[fullsuite] $name failed: ${e.getMessage}")
      }
      finally spark.sparkContext.clearJobGroup()
      (System.nanoTime() - t0) / 1e9
    }
    val suite = graft.SparkEntry.queries.toSeq.sortBy(_._1)
    suite.foreach { case (n, f) => run1(s"warmup-$n", f) }
    listener.snapshotFullAndReset()
    val t0 = System.nanoTime()
    val sequential = suite.map { case (name, fn) =>
      graft.Bench.MemoBypass.get(name).foreach(Artifacts.clear)
      name -> run1(name, fn)
    }
    val total = (System.nanoTime() - t0) / 1e9
    listener.awaitQuiescent(maxWaitMs = 15000)
    val snap = listener.snapshotFullAndReset()
    val heavyParRaw = snap.heavyStagePar(listener.HeavyStageSec)
    // suspect calm-retry (round-14, parity with Bench's round-13
    // protocol): the sequential pass is not load-guarded mid-run, so
    // a co-tenant burst can flag genuinely-parallel queries. Re-run
    // each flagged query alone (gc + bounded calm wait) and keep the
    // MAX measured par; a retry with no heavy stage AND a small wall
    // clears the suspect (published under `retry_cleared`, never as a
    // fake ratio). A failed retry keeps the original reading.
    val retryCleared = scala.collection.mutable.ArrayBuffer[String]()
    val heavyPar: Map[String, Double] = heavyParRaw.flatMap { case (q, p0) =>
      var p = p0
      var cleared = false
      var attempts = 0
      while (p < 4.0 && !cleared && attempts < 2) {
        attempts += 1
        System.gc()
        var w2 = 0
        while (loadavg > calmBar * 2 && w2 < 120) { Thread.sleep(5000); w2 += 5 }
        suite.find(_._1 == q).foreach { case (name, fn) =>
          graft.Bench.MemoBypass.get(name).foreach(Artifacts.clear)
          listener.snapshotFullAndReset()
          spark.sparkContext.setJobGroup(name, name, interruptOnCancel = false)
          val rt0 = System.nanoTime()
          val ok =
            try { fn(spark, dir).write.format("noop").mode("overwrite").save(); true }
            catch { case scala.util.control.NonFatal(e) =>
              System.err.println(s"[fullsuite] retry $name failed: ${e.getMessage}"); false }
            finally spark.sparkContext.clearJobGroup()
          val retryWall = (System.nanoTime() - rt0) / 1e9
          listener.awaitQuiescent(maxWaitMs = 15000)
          val parOpt = listener.snapshotFullAndReset()
            .heavyStagePar(listener.HeavyStageSec).get(name)
          if (!ok)
            System.err.println(s"[fullsuite] retry $name failed; keeping original par for $q")
          else parOpt match {
            case Some(par) => if (par > p) p = par
            case None => if (retryWall < 4.0 * listener.HeavyStageSec) cleared = true
          }
        }
      }
      if (attempts > 0)
        System.err.println(f"[fullsuite] suspect retry $q: par $p0%.2f -> " +
          (if (cleared) "cleared" else f"$p%.2f") + s" ($attempts attempts)")
      if (cleared) { retryCleared += q; None } else Some(q -> p)
    }
    val suspects = heavyPar.filter(_._2 < 4.0).toSeq.sortBy(_._2)
    def r3(v: Double): String = f"$v%.3f"
    def jmap(kv: Seq[(String, Double)]): String =
      kv.map { case (k, v) => "\"" + k + "\":" + r3(v) }
        .mkString("{", ",", "}")
    val full = s"""{"dir":"$dir","sequential_total":${r3(total)},""" +
      s""""n_queries":${suite.length},""" +
      s""""queries":${jmap(sequential)},""" +
      s""""queries_heavy_stage_par":${jmap(heavyPar.toSeq.sortBy(_._1))},""" +
      s""""retry_cleared":[${
        retryCleared.sorted.map("\"" + _ + "\"").mkString(",")}],""" +
      s""""serial_suspects":${jmap(suspects)}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      full.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"""{"probe":"fullsuite","dir":"$dir",""" +
      s""""sequential_total":${r3(total)},""" +
      s""""slowest":${jmap(sequential.sortBy(-_._2).take(15))},""" +
      s""""serial_suspects":${jmap(suspects)},"full":"$outPath"}""")
  }

  /** q61d WIN-regime A/B (round-13 verdict: the incremental
    * maintenance path's win regime — temporally-local batches — was
    * asserted by spec but never MEASURED beating recompute at scale;
    * only the adversarial regime had numbers). The replica corpus is
    * wave-local BY CONSTRUCTION: `replicate` permutes every doc's
    * tokens with a per-replica hash, so near-dup pairs exist only
    * WITHIN a replica — ingesting replica-by-replica models the
    * production regime where arriving content near-dups recent
    * content, not the whole history (the adversarial doc_id-mod-W
    * split, which shatters every dup group across ALL waves, stays
    * covered by the `maintain`/`incclusters` probes). Per wave w:
    *   inc(w)  = maintainClusterState(state, wave w)      — O(batch)?
    *   full(w) = maintainClusterState(fresh, waves 0..w as one batch)
    *             — the recompute a stateless pipeline would run
    * Both walls include the state commit (the recompute also rewrites
    * state in production). The final label tables must be identical —
    * checked with exceptAll both ways.
    *
    * `docRep` repeats every doc's text R times (uniformly, so dup
    * structure is preserved): the fixture's ~300-char docs make
    * corpus FEATURIZE — the O(corpus) term incremental maintenance
    * avoids — unrealistically cheap next to the state scans it adds;
    * web documents are KBs, and docRep measures at that per-doc cost
    * without changing the graph. */
  private def probeMaintainWin(spark: SparkSession, dir: String,
                               waves: Int, bands: Int,
                               docRep: Int): Unit = {
    def loadavg: Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    locally { // calm-host guard, same bar as the fullsuite probe
      val bar = math.max(1.0, Runtime.getRuntime.availableProcessors / 4.0)
      var waited = 0
      while (loadavg > bar && waited < 300) {
        System.err.println(f"[maintainwin] loadavg $loadavg%.1f > $bar%.1f: waiting")
        Thread.sleep(15000); waited += 15
      }
    }
    val docs0 = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val docs =
      if (docRep <= 1) docs0
      else docs0.withColumn("text",
        concat_ws(" ", flatten(transform(
          sequence(lit(1), lit(docRep)), _ => split(col("text"), " ")))))
    val maxId = docs.agg(max("doc_id")).collect()(0).getLong(0)
    val width = (maxId + waves) / waves // = ceil((max+1)/waves)
    def waveOf = floor(col("doc_id") / lit(width))
    // warm-up: one tiny bootstrap so wave 0's inc timing is not the
    // JVM's first-codegen bill (measured: 4.98 s vs 1.71 s for the
    // IDENTICAL bootstrap work when inc ran first, cold)
    locally {
      val warmState = java.nio.file.Files
        .createTempDirectory("graft_mwin_warm").toString
      graft.operators.Dedup.maintainClusterState(
        spark, warmState, docs.limit(200), bands)
        .write.format("noop").mode("overwrite").save()
    }
    val incState = java.nio.file.Files
      .createTempDirectory("graft_mwin_inc").toString
    var lastInc: DataFrame = null
    var lastFull: DataFrame = null
    // walls at fixture scale are JOB-BARRIER-dominated on both paths
    // (measured: docRep 1 -> 8 left every wall unchanged — featurize
    // is 32-way and the corpus fits in seconds of core-time), so the
    // scale separation lives in EXECUTOR TASK TIME — the thing a
    // 1000-executor bill scales with. The listener attributes it per
    // job group.
    val listener = new graft.bench.QueryMetricsListener
    spark.sparkContext.addSparkListener(listener)
    def timed(group: String)(body: => DataFrame): (Double, DataFrame) = {
      spark.sparkContext.setJobGroup(group, group, interruptOnCancel = false)
      val t0 = System.nanoTime()
      val df = try { val d = body
        d.write.format("noop").mode("overwrite").save(); d }
        finally spark.sparkContext.clearJobGroup()
      ((System.nanoTime() - t0) / 1e9, df)
    }
    val walls = (0 until waves).map { w =>
      listener.snapshotFullAndReset()
      val (tInc, dInc) = timed(s"inc") {
        graft.operators.Dedup.maintainClusterState(
          spark, incState, docs.where(waveOf === w), bands)
      }
      lastInc = dInc
      val fullState = java.nio.file.Files
        .createTempDirectory(s"graft_mwin_full$w").toString
      val (tFull, dFull) = timed(s"full") {
        graft.operators.Dedup.maintainClusterState(
          spark, fullState, docs.where(waveOf <= w), bands)
      }
      lastFull = dFull
      listener.awaitQuiescent(maxWaitMs = 10000)
      val (_, taskTime) = listener.snapshotAndReset()
      val (ttInc, ttFull) =
        (taskTime.getOrElse("inc", 0.0), taskTime.getOrElse("full", 0.0))
      println(f"MAINTAINWIN wave=$w inc=$tInc%.3f full=$tFull%.3f " +
        f"ratio=${tFull / tInc}%.2fx task_inc=$ttInc%.3f task_full=$ttFull%.3f " +
        f"task_ratio=${ttFull / math.max(ttInc, 1e-9)}%.2fx load=$loadavg%.1f")
      (tInc, tFull, ttInc, ttFull)
    }
    val a = lastInc.select(col("doc_id"), col("cluster_id"))
    val b = lastFull.select(col("doc_id"), col("cluster_id"))
    val diff = a.exceptAll(b).count() + b.exceptAll(a).count()
    println(f"MAINTAINWIN_TOTAL waves=$waves docRep=$docRep " +
      f"inc_total=${walls.map(_._1).sum}%.3f " +
      f"full_total=${walls.map(_._2).sum}%.3f " +
      f"task_inc_total=${walls.map(_._3).sum}%.3f " +
      f"task_full_total=${walls.map(_._4).sum}%.3f " +
      f"last_wave_inc=${walls.last._1}%.3f last_wave_full=${walls.last._2}%.3f " +
      f"last_task_inc=${walls.last._3}%.3f last_task_full=${walls.last._4}%.3f " +
      f"last_wave_ratio=${walls.last._2 / walls.last._1}%.2fx label_diff=$diff")
  }

  /** SELECT-path zonemap file skipping A/B (round-10): ingest the
    * corpus id-sorted (range shuffle ⇒ each parquet file holds a
    * contiguous disjoint id range — the layout a warehouse's
    * cluster-by produces), CREATE a zonemap index, then time a point
    * SELECT with the pruning rule ON vs OFF and report the file
    * counts each plan read. */
  /** Per-stage attribution of the incremental maintainer's waves —
    * which stages' task time grows with the accumulated corpus. */
  private def probeMaintainStages(spark: SparkSession, dir: String,
                                  waves: Int, bands: Int): Unit = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val maxId = docs.agg(max("doc_id")).collect()(0).getLong(0)
    val width = (maxId + waves) / waves
    val incState = java.nio.file.Files
      .createTempDirectory("graft_mstages").toString
    spark.conf.set("spark.graft.clusterstate.debug", "true")
    val listener = new graft.bench.QueryMetricsListener
    spark.sparkContext.addSparkListener(listener)
    (0 until waves).foreach { w =>
      listener.snapshotFullAndReset()
      spark.sparkContext.setJobGroup("wave", "wave", interruptOnCancel = false)
      try graft.operators.Dedup.maintainClusterState(spark, incState,
        docs.where(floor(col("doc_id") / lit(width)) === w), bands)
        .write.format("noop").mode("overwrite").save()
      finally spark.sparkContext.clearJobGroup()
      listener.awaitQuiescent(maxWaitMs = 10000)
      val snap = listener.snapshotFullAndReset()
      val recs = snap.stages.getOrElse("wave", Nil)
      val total = recs.map(_.taskTime).sum
      println(f"MSTAGE_WAVE w=$w total_task=$total%.2f stages=${recs.size}")
      recs.sortBy(-_.taskTime).take(8).foreach { r =>
        println(f"  w=$w task=${r.taskTime}%7.2f n=${r.nTasks}%4d " +
          f"wall=${r.wall}%6.2f  ${r.name.take(72)}")
      }
    }
  }

  /** Mixture-of-Gaussians embedding fixture (round-16 verdict item 3):
    * the driver's synthetic embeddings are near-uniform on the sphere,
    * where IVF recall ≈ scanned-cell fraction — operating points
    * measured there prove arithmetic, not retrieval quality. Real
    * corpora cluster; this generator plants `nClusters` unit-norm
    * Gaussian centers and draws each vector as
    * normalize(center + spread * N(0, I)), with `label` = the true
    * cluster id (hard negatives become near-boundary vectors of OTHER
    * clusters — the semantically honest regime). Fully deterministic:
    * one fixed-seed driver-side PRNG stream; same args → identical
    * parquet. Schema matches the driver fixture (vec_id int64,
    * embedding array<float> dim 64, label int32), so every ANN probe
    * (`hardneg`, `mmrivf`) and q92's recall monitor run against the
    * out dir unchanged. */
  private[graft] def genClusteredEmbeddings(spark: SparkSession, out: String,
                                     nVecs: Int, nClusters: Int,
                                     spread: Double): Unit = {
    val Dim = 64
    val rnd = new scala.util.Random(20260816L)
    def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v else v.map(_ / n)
    }
    val centers = Array.fill(nClusters)(
      normalize(Array.fill(Dim)(rnd.nextGaussian())))
    val rows = (0 until nVecs).map { i =>
      val c = rnd.nextInt(nClusters)
      val v = normalize(centers(c).map(x => x + spread * rnd.nextGaussian()))
      org.apache.spark.sql.Row(i.toLong, v.map(_.toFloat).toSeq, c)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)),
      org.apache.spark.sql.types.StructField("label",
        org.apache.spark.sql.types.IntegerType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 32), schema)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    // mean within-cluster vs cross-cluster cosine — the two numbers
    // that say how clustered the fixture actually is
    val emb = spark.read.parquet(s"$out/embeddings.parquet")
    val centerRows = centers.zipWithIndex.map { case (v, c) =>
      org.apache.spark.sql.Row(c, v.toSeq) }
    val cSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("label",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("center",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType))))
    val cdf = spark.createDataFrame(
      spark.sparkContext.parallelize(centerRows.toSeq, 1), cSchema)
    val stats = emb.join(cdf, "label")
      .select(graft.functions.expressions.ArrayOps.dotProduct(
        expr("transform(embedding, x -> CAST(x AS DOUBLE))"),
        col("center")).as("cos"))
      .agg(avg("cos"), min("cos")).collect()(0)
    println(f"CLUSTEREDGEN out=$out n=$nVecs clusters=$nClusters " +
      f"spread=$spread%.2f mean_center_cos=${stats.getDouble(0)}%.4f " +
      f"min_center_cos=${stats.getDouble(1)}%.4f")
  }

  /** q104b nprobe sweep (round-14 verdict item 5): recall@k of the
    * IVF hard-negative miner against the brute miner, per nprobe,
    * with median-of-3 walls — the recall/cost curve that says which
    * operating point a deployment should run. Recall counts exact
    * (query_id, neighbor_id) hits; both sides share the label
    * predicate so the denominator is the brute top-k itself. */
  private def probeHardNegSweep(spark: SparkSession, dir: String,
                                k: Int, nprobes: Seq[Int]): Unit = {
    import graft.operators.Similarity
    val truth = Similarity.queries("q104_hard_negatives")(spark, dir)
      .select(col("query_id"), col("neighbor_id")).cache()
    val nTrue = truth.count()
    val (bruteMedian, bruteTimes) =
      timeMedian3(Similarity.queries("q104_hard_negatives")(spark, dir))
    println(f"HARDNEG_BRUTE dir=$dir n_true=$nTrue " +
      f"median=$bruteMedian%.3f all=${fmtAll(bruteTimes)}")
    nprobes.foreach { np =>
      val p = Similarity.AnnParams(ivfK = k, ivfProbe = np)
      val approx = Similarity.hardNegativesIvf(spark, dir, p)
        .select(col("query_id"), col("neighbor_id"))
      val nHit = truth.join(approx, Seq("query_id", "neighbor_id"),
        "left_semi").count()
      val (median, times) =
        timeMedian3(Similarity.hardNegativesIvf(spark, dir, p))
      println(f"HARDNEG_SWEEP dir=$dir k=${p.ivfK} np=$np " +
        f"recall=${nHit.toDouble / nTrue}%.4f median=$median%.3f " +
        f"speedup=${bruteMedian / median}%.2fx all=${fmtAll(times)}")
    }
    truth.unpersist()
  }

  /** q107c selection-quality sweep: overlap of the IVF-celled MMR
    * selection with the brute MMR selection (rank-insensitive
    * (query_id, neighbor_id) match — MMR is a set selector), per
    * nprobe, with median-of-3 walls. The q92 recall-monitor pattern
    * applied to the diversified-retrieval operator. */
  private def probeMmrIvf(spark: SparkSession, dir: String,
                          k: Int, nprobes: Seq[Int]): Unit = {
    import graft.operators.Similarity
    val truth = Similarity
      .mmrDiversify(spark, dir, Similarity.MmrDefault)
      .select(col("query_id"), col("neighbor_id")).cache()
    val nTrue = truth.count()
    val (bruteMedian, bruteTimes) = timeMedian3(
      Similarity.mmrDiversify(spark, dir, Similarity.MmrDefault))
    println(f"MMR_BRUTE dir=$dir n_true=$nTrue " +
      f"median=$bruteMedian%.3f all=${fmtAll(bruteTimes)}")
    nprobes.foreach { np =>
      val p = Similarity.AnnParams(ivfK = k, ivfProbe = np)
      val approx = Similarity
        .mmrDiversifyIvf(spark, dir, Similarity.MmrDefault, p)
        .select(col("query_id"), col("neighbor_id"))
      val nHit = truth.join(approx, Seq("query_id", "neighbor_id"),
        "left_semi").count()
      val (median, times) = timeMedian3(Similarity
        .mmrDiversifyIvf(spark, dir, Similarity.MmrDefault, p))
      println(f"MMRIVF_SWEEP dir=$dir k=${p.ivfK} np=$np " +
        f"overlap=${nHit.toDouble / nTrue}%.4f median=$median%.3f " +
        f"speedup=${bruteMedian / median}%.2fx all=${fmtAll(times)}")
    }
    truth.unpersist()
  }

  private def probeZonemap(spark: SparkSession, dir: String): Unit = {
    val engine = new graft.engine.QueryEngine(spark)
    engine.execute("CREATE DATABASE IF NOT EXISTS sl")
    engine.execute("DROP TABLE IF EXISTS sl.zdocs")
    engine.execute("CREATE TABLE sl.zdocs (doc_id int64, text string) STORAGE filesystem")
    // a warehouse-shaped file count: the id-sorted insert range-
    // shuffles into ~200 files, each holding a contiguous id range
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    val prevCoalesce = spark.conf
      .get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try engine.execute(
      s"""INSERT INTO sl.zdocs SELECT doc_id, text
         |FROM parquet.`$dir/documents.parquet` ORDER BY doc_id""".stripMargin)
    finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prevCoalesce)
    }
    val nFiles = spark.table("sl.zdocs").inputFiles.length
    val t0 = System.nanoTime()
    engine.execute("CREATE INDEX zp ON sl.zdocs (doc_id)")
    val build = (System.nanoTime() - t0) / 1e9
    val q = "SELECT count(*) AS n, sum(length(text)) AS b " +
      "FROM sl.zdocs WHERE doc_id >= 1000 AND doc_id < 1050"
    def filesRead(): Long = spark.sql(q).queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation.asInstanceOf[
          org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.inputFiles.length.toLong
    }.sum
    def leg(): (Double, Seq[Double], Long, Seq[Any]) = {
      val f = filesRead()
      val r = spark.sql(q).collect()(0).toSeq
      val (m, ts) = timeMedian3(spark.sql(q))
      (m, ts, f, r)
    }
    val (mOn, tsOn, fOn, rOn) = leg()
    spark.conf.set("spark.graft.zonemap.select.enabled", "false")
    val (mOff, tsOff, fOff, rOff) = leg()
    spark.conf.set("spark.graft.zonemap.select.enabled", "true")
    require(rOn == rOff, s"pruned result differs: $rOn vs $rOff")
    println(f"ZONEMAP_PROBE dir=$dir files=$nFiles build=$build%.3f " +
      f"pruned_files=$fOn full_files=$fOff " +
      f"pruned=$mOn%.3f all=${fmtAll(tsOn)} " +
      f"full=$mOff%.3f all=${fmtAll(tsOff)} speedup=${mOff / mOn}%.1fx")

    // ---- r11 legs: the partitioned and string-sorted layouts ----
    probeZonemapLeg(spark, engine, "ZONEMAP_PART",
      create = """CREATE TABLE sl.zpdocs (doc_id int64, text string,
                 |p string) STORAGE filesystem PARTITION BY (p)""".stripMargin,
      table = "sl.zpdocs",
      insert = s"""INSERT INTO sl.zpdocs SELECT doc_id, text,
                  |CAST(pmod(doc_id, 8) AS STRING) AS p
                  |FROM parquet.`$dir/documents.parquet` ORDER BY doc_id""".stripMargin,
      indexCols = "(doc_id)",
      // data-column range UNDER a partition filter: partition pruning
      // serves p, zonemap must skip files WITHIN the partition
      query = "SELECT count(*) AS n, sum(length(text)) AS b FROM sl.zpdocs " +
        "WHERE p = '3' AND doc_id >= 1000 AND doc_id < 1400")
    probeZonemapLeg(spark, engine, "ZONEMAP_STR",
      create = "CREATE TABLE sl.zsdocs (doc_id int64, text string) STORAGE filesystem",
      table = "sl.zsdocs",
      // text-sorted layout — the warehouse sort-key case where string
      // bounds are tight per file (random text would pin full-range
      // bounds on every file and prune nothing, honestly)
      insert = s"""INSERT INTO sl.zsdocs SELECT doc_id, text
                  |FROM parquet.`$dir/documents.parquet` ORDER BY text""".stripMargin,
      indexCols = "(text)",
      query = "SELECT count(*) AS n FROM sl.zsdocs WHERE text LIKE 'the q%'")
  }

  /** FILE-level CoW DML A/B (r11): a point DELETE/UPDATE on a
    * 200-file zonemap-indexed table rewrites 1 file; with the rule
    * kill-switched the same statement rewrites all 200. The wall gap
    * IS the CoW story — at 100 TB the full path rewrites the table. */
  private def probeFileCow(spark: SparkSession, dir: String): Unit = {
    val engine = new graft.engine.QueryEngine(spark)
    engine.execute("CREATE DATABASE IF NOT EXISTS sl")
    // lineitem, not documents: the CoW story is REWRITE I/O, so the
    // probe needs a table where rewriting all files costs real time
    // (50x lineitem = 30M rows); documents at this SF is 25k rows and
    // fixed per-statement overheads drown the signal
    def build(name: String): Unit = {
      engine.execute(s"DROP TABLE IF EXISTS sl.$name")
      engine.execute(
        s"""CREATE TABLE sl.$name (l_orderkey int64, l_quantity float64,
           |l_returnflag string, l_shipdate timestamp) STORAGE filesystem""".stripMargin)
      val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
      val prevCoalesce = spark.conf
        .get("spark.sql.adaptive.coalescePartitions.enabled", "true")
      spark.conf.set("spark.sql.shuffle.partitions", "200")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      try engine.execute(
        s"""INSERT INTO sl.$name SELECT l_orderkey, l_quantity, l_returnflag,
           |l_shipdate FROM parquet.`$dir/lineitem.parquet`
           |ORDER BY l_orderkey""".stripMargin)
      finally {
        spark.conf.set("spark.sql.shuffle.partitions", prevParts)
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prevCoalesce)
      }
      engine.execute(s"CREATE INDEX zc ON sl.$name (l_orderkey)")
    }
    def timedDelete(name: String, id: Long): (Double, Long, Long) = {
      val before = spark.table(s"sl.$name").inputFiles.toSet
      val t0 = System.nanoTime()
      val r = engine.execute(s"DELETE FROM sl.$name WHERE l_orderkey = $id")
      val sec = (System.nanoTime() - t0) / 1e9
      val after = spark.table(s"sl.$name").inputFiles.toSet
      (sec, r.rowCount, (before -- after).size.toLong)
    }
    build("cow")
    val (tOn, nOn, replacedOn) = timedDelete("cow", 1000L)
    build("cow")
    spark.conf.set("spark.graft.zonemap.select.enabled", "false")
    val (tOff, nOff, replacedOff) = try timedDelete("cow", 1000L)
      finally spark.conf.set("spark.graft.zonemap.select.enabled", "true")
    require(nOn == nOff, s"matched counts differ: $nOn vs $nOff")
    println(f"FILECOW_PROBE dir=$dir deleted=$nOn " +
      f"pruned=$tOn%.3f replaced=$replacedOn " +
      f"unpruned=$tOff%.3f replaced_unpruned=$replacedOff " +
      f"speedup=${tOff / tOn}%.1fx")

    // MERGE leg: a 3-key upsert — the streaming/batch upsert shape
    def timedMerge(name: String): (Double, Long, Long) = {
      val before = spark.table(s"sl.$name").inputFiles.toSet
      val t0 = System.nanoTime()
      val r = engine.execute(
        s"""MERGE INTO sl.$name AS tg
           |USING (SELECT * FROM (VALUES (1000, CAST(99.0 AS DOUBLE)),
           |  (500000, CAST(88.0 AS DOUBLE)),
           |  (-7, CAST(1.0 AS DOUBLE))) AS v(k, q)) AS s
           |ON tg.l_orderkey = s.k
           |WHEN MATCHED THEN UPDATE SET l_quantity = s.q
           |WHEN NOT MATCHED THEN INSERT (l_orderkey, l_quantity,
           |  l_returnflag, l_shipdate) VALUES (s.k, s.q, 'N', NULL)""".stripMargin)
      val sec = (System.nanoTime() - t0) / 1e9
      val after = spark.table(s"sl.$name").inputFiles.toSet
      (sec, r.rowCount, (before -- after).size.toLong)
    }
    build("cowm")
    val (mOn, mnOn, mrOn) = timedMerge("cowm")
    build("cowm")
    spark.conf.set("spark.graft.zonemap.select.enabled", "false")
    val (mOff, mnOff, mrOff) = try timedMerge("cowm")
      finally spark.conf.set("spark.graft.zonemap.select.enabled", "true")
    require(mnOn == mnOff, s"merge counts differ: $mnOn vs $mnOff")
    println(f"FILECOW_MERGE dir=$dir touched=$mnOn " +
      f"pruned=$mOn%.3f replaced=$mrOn " +
      f"unpruned=$mOff%.3f replaced_unpruned=$mrOff " +
      f"speedup=${mOff / mOn}%.1fx")

    // MULTI-KEY MERGE leg: 100 distinct keys — past OptimizeIn's
    // 10-literal threshold, so the scope predicate reaches the rule
    // as InSet (the form every 11..1000-key upsert batch takes; a
    // rule that only reads In silently scans every file for the scope
    // here). Keys cluster in a handful of files; the bulk must keep
    // their paths.
    def timedMergeWide(name: String): (Double, Long, Long) = {
      val before = spark.table(s"sl.$name").inputFiles.toSet
      val vals = (0 until 100)
        .map(i => s"(${1000 + i * 7}, CAST(${50 + i} AS DOUBLE))")
        .mkString(", ")
      val t0 = System.nanoTime()
      val r = engine.execute(
        s"""MERGE INTO sl.$name AS tg
           |USING (SELECT * FROM (VALUES $vals) AS v(k, q)) AS s
           |ON tg.l_orderkey = s.k
           |WHEN MATCHED THEN UPDATE SET l_quantity = s.q
           |WHEN NOT MATCHED THEN INSERT (l_orderkey, l_quantity,
           |  l_returnflag, l_shipdate) VALUES (s.k, s.q, 'N', NULL)""".stripMargin)
      val sec = (System.nanoTime() - t0) / 1e9
      val after = spark.table(s"sl.$name").inputFiles.toSet
      (sec, r.rowCount, (before -- after).size.toLong)
    }
    build("cowmw")
    val (wOn, wnOn, wrOn) = timedMergeWide("cowmw")
    build("cowmw")
    spark.conf.set("spark.graft.zonemap.select.enabled", "false")
    val (wOff, wnOff, wrOff) = try timedMergeWide("cowmw")
      finally spark.conf.set("spark.graft.zonemap.select.enabled", "true")
    require(wnOn == wnOff, s"wide-merge counts differ: $wnOn vs $wnOff")
    println(f"FILECOW_MERGE_100KEY dir=$dir touched=$wnOn " +
      f"pruned=$wOn%.3f replaced=$wrOn " +
      f"unpruned=$wOff%.3f replaced_unpruned=$wrOff " +
      f"speedup=${wOff / wOn}%.1fx")
  }

  /** The layout lever (r11): zonemap bounds only bite when files are
    * CLUSTERED by the predicate column. A hash-shuffled table prunes
    * nothing; `OPTIMIZE ... ZORDER BY (col)` re-clusters it (index
    * file-diff rides the rewrite) and the same point query then reads
    * one file — the "your table doesn't prune? ZORDER it" story. */
  private def probeZorderPrune(spark: SparkSession, dir: String): Unit = {
    val engine = new graft.engine.QueryEngine(spark)
    engine.execute("CREATE DATABASE IF NOT EXISTS sl")
    engine.execute("DROP TABLE IF EXISTS sl.zz")
    engine.execute(
      """CREATE TABLE sl.zz (l_orderkey int64, l_quantity float64)
        |STORAGE filesystem""".stripMargin)
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    val prevCoalesce = spark.conf
      .get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    // hash order destroys key clustering — every file's [mn, mx]
    // spans ~the whole key range
    try engine.execute(
      s"""INSERT INTO sl.zz SELECT l_orderkey, l_quantity
         |FROM parquet.`$dir/lineitem.parquet`
         |ORDER BY md5(CAST(l_orderkey AS STRING))""".stripMargin)
    finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prevCoalesce)
    }
    engine.execute("CREATE INDEX zp ON sl.zz (l_orderkey)")
    val q = "SELECT count(*) AS n FROM sl.zz WHERE l_orderkey = 1000"
    def filesRead(): Long = spark.sql(q).queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation.asInstanceOf[
          org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.inputFiles.length.toLong
    }.sum
    val totalBefore = spark.table("sl.zz").inputFiles.length
    val readBefore = filesRead()
    val rowsBefore = spark.sql(q).collect()(0).getLong(0)
    // keep a multi-file layout after compaction so the zordered side
    // demonstrates SELECTIVE pruning, not a single-file collapse
    spark.conf.set("spark.graft.optimize.targetFileBytes",
      (4L * 1024 * 1024).toString)
    try engine.execute("OPTIMIZE sl.zz ZORDER BY (l_orderkey)")
    finally spark.conf.unset("spark.graft.optimize.targetFileBytes")
    val totalAfter = spark.table("sl.zz").inputFiles.length
    val readAfter = filesRead()
    val rowsAfter = spark.sql(q).collect()(0).getLong(0)
    require(rowsBefore == rowsAfter, s"$rowsBefore vs $rowsAfter")
    println(s"ZORDER_PRUNE dir=$dir shuffled=$readBefore/$totalBefore " +
      s"zordered=$readAfter/$totalAfter rows=$rowsAfter")
  }

  /** One zonemap A/B leg: build table+index with a 200-file layout,
    * time the query pruned vs kill-switched, pin identical results. */
  /** Bloom-index file skipping A/B/C (r11): a point SELECT on a
    * HASH-LAID-OUT high-cardinality string key — the layout where
    * every file spans the whole value range, so zonemap bounds are
    * provably blind and membership evidence is the only planning-time
    * lever. C0 = no pruning (kill switch), C1 = zonemap index only
    * (expected: reads every file), C2 = + bloom index (expected: reads
    * the 1-2 files actually holding the value). At 100 TB C2-vs-C0 is
    * a point lookup that opens a couple of footers instead of
    * scheduling a task per file. */
  private def probeBloomPrune(spark: SparkSession, dir: String): Unit = {
    val engine = new graft.engine.QueryEngine(spark)
    engine.execute("CREATE DATABASE IF NOT EXISTS sl")
    engine.execute("DROP TABLE IF EXISTS sl.bdocs")
    engine.execute(
      "CREATE TABLE sl.bdocs (doc_id int64, src string, text string) STORAGE filesystem")
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    val prevCoalesce = spark.conf
      .get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    // DISTRIBUTE BY a hash: ids (and so src values) scatter across all
    // 200 files — the unclustered layout the probe is about
    try engine.execute(
      s"""INSERT INTO sl.bdocs
         |SELECT doc_id, concat('u', CAST(doc_id AS STRING)) AS src, text
         |FROM parquet.`$dir/documents.parquet`
         |DISTRIBUTE BY pmod(hash(doc_id), 200)""".stripMargin)
    finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prevCoalesce)
    }
    val nFiles = spark.table("sl.bdocs").inputFiles.length
    // probe the lexicographic MEDIAN value: every file's [min, max]
    // covers it (probing the global min/max would let the zonemap
    // prune by accident and overstate C1)
    val total = spark.table("sl.bdocs").count()
    val probeKey = spark.table("sl.bdocs").selectExpr("src")
      .orderBy("src").offset((total / 2).toInt).limit(1)
      .collect()(0).getString(0)
    val q = s"SELECT count(*) AS n, sum(length(text)) AS b " +
      s"FROM sl.bdocs WHERE src = '$probeKey'"
    def filesRead(): Long = spark.sql(q).queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation.asInstanceOf[
          org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.inputFiles.length.toLong
    }.sum
    def leg(): (Double, Seq[Double], Long, Seq[Any]) = {
      val f = filesRead()
      val r = spark.sql(q).collect()(0).toSeq
      val (m, ts) = timeMedian3(spark.sql(q))
      (m, ts, f, r)
    }
    spark.conf.set("spark.graft.zonemap.select.enabled", "false")
    val (m0, ts0, f0, r0) = leg()
    spark.conf.set("spark.graft.zonemap.select.enabled", "true")
    engine.execute("CREATE INDEX bz ON sl.bdocs (src)") // zonemap
    val (m1, _, f1, r1) = leg()
    val t0 = System.nanoTime()
    engine.execute("CREATE INDEX bb ON sl.bdocs (src) USING bloom")
    val build = (System.nanoTime() - t0) / 1e9
    val (m2, ts2, f2, r2) = leg()
    require(r0 == r1 && r1 == r2, s"pruned result differs: $r0 / $r1 / $r2")
    println(f"BLOOM_PRUNE dir=$dir files=$nFiles bloom_build=$build%.3f " +
      f"full_files=$f0 zonemap_files=$f1 bloom_files=$f2 " +
      f"full=$m0%.3f all=${fmtAll(ts0)} zonemap=$m1%.3f " +
      f"bloom=$m2%.3f all=${fmtAll(ts2)} speedup=${m0 / m2}%.1fx")
  }

  private def probeZonemapLeg(spark: SparkSession,
                              engine: graft.engine.QueryEngine,
                              tag: String, create: String, table: String,
                              insert: String, indexCols: String,
                              query: String): Unit = {
    engine.execute(s"DROP TABLE IF EXISTS $table")
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    val prevCoalesce = spark.conf
      .get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    engine.execute(create)
    try engine.execute(insert)
    finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prevCoalesce)
    }
    val nFiles = spark.table(table).inputFiles.length
    val t0 = System.nanoTime()
    engine.execute(s"CREATE INDEX zl ON $table $indexCols")
    val build = (System.nanoTime() - t0) / 1e9
    def filesRead(): Long = spark.sql(query).queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation.asInstanceOf[
          org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.inputFiles.length.toLong
    }.sum
    def leg(): (Double, Seq[Double], Long, Seq[Any]) = {
      val f = filesRead()
      val r = spark.sql(query).collect()(0).toSeq
      val (m, ts) = timeMedian3(spark.sql(query))
      (m, ts, f, r)
    }
    val (mOn, tsOn, fOn, rOn) = leg()
    spark.conf.set("spark.graft.zonemap.select.enabled", "false")
    val (mOff, tsOff, fOff, rOff) = leg()
    spark.conf.set("spark.graft.zonemap.select.enabled", "true")
    require(rOn == rOff, s"$tag pruned result differs: $rOn vs $rOff")
    println(f"$tag files=$nFiles build=$build%.3f " +
      f"pruned_files=$fOn full_files=$fOff " +
      f"pruned=$mOn%.3f all=${fmtAll(tsOn)} " +
      f"full=$mOff%.3f all=${fmtAll(tsOff)} speedup=${mOff / mOn}%.1fx")
  }

  private def probeCc(spark: SparkSession, dir: String, bands: Int): Unit = {
    import graft.operators.Dedup
    // q61 end to end: minhash pairs -> pointer-jumping connected
    // components -> min-id labels. The ONLY iterative operator in the
    // suite — rounds grow with cluster DIAMETER (log-halved each
    // jump), not corpus size, so wall growth should track the pair
    // volume (~linear, see the minhash probe), never rounds x corpus.
    // The memo is cleared before every timed run (the bench's own
    // q61 discipline) so each sample re-materializes the clustering.
    val n = spark.read.parquet(s"$dir/documents.parquet").count()
    val (median, times) = timeMedian3 {
      Artifacts.clear("dedupClusters")
      Dedup.dedupClusters(spark, dir, bands)
    }
    // graph shape alongside the timing: wall depends on pair volume
    // AND rounds (~log2 diameter), so a growth number is only
    // interpretable next to how the graph itself grew
    val nPairs = Dedup.minhashPairs(spark, dir, bands).count()
    val labels = Dedup.dedupClusters(spark, dir, bands)
    val nNodes = labels.count()
    // coalesce: max() over zero clusters is null (corpus with no
    // near-dup pairs) — the probe should print 0s, not NPE after
    // paying for all the timed runs
    val top = labels.groupBy("cluster_id").count()
      .agg(count(lit(1)).as("k"), coalesce(max("count"), lit(0L)).as("mx"))
      .collect()(0)
    println(f"CC_PROBE dir=$dir n=$n bands=$bands " +
      f"median=$median%.3f all=${fmtAll(times)} " +
      f"pairs=$nPairs nodes=$nNodes clusters=${top.getLong(0)} " +
      f"maxCluster=${top.getLong(1)}")
  }

  private def probeLmRarity(spark: SparkSession, dir: String): Unit = {
    val docs = graft.sources.Tables.load(spark, dir, "documents")
    val n = docs.count()
    val (median, times) =
      timeMedian3(graft.operators.Curation.lmRarity(docs))
    println(f"LMRARITY_PROBE dir=$dir n=$n " +
      f"median=$median%.3f all=${fmtAll(times)}")
  }

  /** Two-level IVF probe (q41d at arbitrary operating points, e.g.
    * the k=1024 point the 64k-literal bound motivates). Times the
    * search; with `outDir` set, also dumps the Spark result parquet +
    * generated oracle SQL in tools/oracle_check.py layout so the
    * operating point can be hash-verified against DuckDB. */
  private def probeIvf2(spark: SparkSession, dir: String, k: Int,
                        coarseK: Int, cp: Int, np: Int,
                        outDir: Option[String]): Unit = {
    import graft.operators.Similarity
    val (median, times) = timeMedian3(
      Similarity.knnIvfTwoLevel(spark, dir, k, coarseK, cp, np))
    println(f"IVF2_PROBE dir=$dir k=$k coarse=$coarseK cp=$cp np=$np " +
      f"median=$median%.3f all=${fmtAll(times)}")
    outDir.foreach { out =>
      val name = s"q41d_ivf2_k$k"
      Similarity.knnIvfTwoLevel(spark, dir, k, coarseK, cp, np)
        .write.mode("overwrite").parquet(s"$out/$name")
      val sql = Similarity.ivfTwoLevelOracleSql(k, coarseK, cp, np)
        .replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$out/oracle_sql.json"),
        s"""{"$name": "$sql"}""".getBytes("UTF-8"))
      println(s"IVF2_ORACLE_DUMP $out/$name")
    }
  }

  /** q89 batching probe: driver rounds (Spark jobs) and wall for BPE
    * training at a given merge count and batch size. The scale claim
    * under test: jobs ≈ rounds / batch while the merge list stays
    * bit-identical to sequential greedy (BpeBatchSpec's theorem). */
  private def probeBpe(spark: SparkSession, dirArg: String, rounds: Int,
                       batch: Int, mode: String): Unit = {
    import graft.operators.Curation
    // `synth:<nWords>` builds a diverse-vocabulary corpus on the fly.
    // The testdata documents table has ~100 distinct words, so its
    // merges form per-word sequential chains (exhausts at ~89 merges)
    // — adversarial for batching and nothing like web text, whose
    // millions of distinct words keep the top pair candidates symbol-
    // disjoint. Batching is a diverse-vocabulary optimization; this
    // corpus measures that regime.
    val dir = if (dirArg.startsWith("synth:")) {
      val nWords = dirArg.stripPrefix("synth:").toInt
      val rnd = new scala.util.Random(42)
      val letters = "abcdefghijklmnop"
      val rows = (1 to nWords).map { i =>
        val w = (0 to 4 + rnd.nextInt(7))
          .map(_ => letters(rnd.nextInt(letters.length))).mkString
        (i.toLong, Seq.fill(1 + rnd.nextInt(20))(w).mkString(" "))
      }
      val tmp = java.nio.file.Files
        .createTempDirectory("bpe_synth").toString
      import spark.implicits._
      rows.toDF("doc_id", "text").repartition(8)
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      tmp
    } else dirArg
    spark.conf.set("spark.graft.bpe.batch", batch.toString)
    spark.conf.set("spark.graft.bpe.mode", mode)
    Artifacts.clear("bpeMerges")
    val t0 = System.nanoTime()
    val merges = Curation.bpeMerges(spark, dir, rounds)._1
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"BPE_PROBE dir=$dir rounds=$rounds batch=$batch mode=$mode " +
      f"merges=${merges.size} jobs=${Curation.lastTrainJobs.get} " +
      f"sec=$sec%.2f")
    Artifacts.clear("bpeMerges")
  }

  /** The two-stage-ANN claim measured: exact brute top-k (q36) vs
    * binary Hamming top-k (q95) vs Hamming-shortlist + exact rerank
    * (q95b) at the probe corpus size. The rerank should track the
    * cheap binary pass, not the brute pass — that gap IS the reason
    * the sign codes exist, and it widens with corpus size because the
    * float work is shortlist-bounded while brute work is
    * corpus-bounded. */
  /** q57b exact heavy hitters: MG-candidates + exact recount vs the
    * full-vocab groupBy equivalent, warm median-of-3 each. The MG
    * path's shuffle is bounded by capacity × partitions and its
    * driver state by capacity, independent of vocabulary size — the
    * property that matters when the "tokens" are n-grams and the
    * vocab is billions. */
  private def probeHeavyHitters(spark: SparkSession, dir: String,
                                cap: Int, ngram: Int): Unit = {
    import graft.functions.expressions.MisraGriesAgg.mgSummary
    // ngram > 1 probes the regime the aggregate exists for: the
    // synthetic corpus has |V|=31 unigrams (full groupBy is trivially
    // cheap there — measured honestly), but n-gram "tokens" grow the
    // vocab toward corpus-position counts, which is where bounding the
    // shuffle at capacity × partitions starts to matter.
    val words = graft.functions.Text.tokens(col("text"))
    val items =
      if (ngram <= 1) words
      else graft.functions.expressions.ArrayOps.wordShingles(words, ngram)
    val toks = spark.read.parquet(s"$dir/documents.parquet")
      .select(explode(items).as("tok"))
    def mgPath(): DataFrame = {
      val s = toks.agg(mgSummary(col("tok"), cap).as("s")).head.getStruct(0)
      val n = s.getLong(0)
      val cands = s.getSeq[String](1)
      toks.filter(col("tok").isin(cands: _*))
        .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
        .where(col("freq") * (cap + 1L) > lit(n))
    }
    def fullPath(): DataFrame = {
      val tot = toks.agg(count(lit(1)).as("n"))
      toks.groupBy(col("tok")).agg(count(lit(1)).as("freq"))
        .crossJoin(broadcast(tot))
        .where(col("freq") * (cap + 1L) > col("n"))
        .select(col("tok"), col("freq"))
    }
    val (mMg, tMg) = timeMedian3(mgPath())
    val (mFull, tFull) = timeMedian3(fullPath())
    val vocab = toks.distinct().count()
    val hits = mgPath().count()
    // the scale-relevant invariant: SHUFFLE ROWS. local[N] shuffles at
    // memory speed, so walls can't show the win — row volume can.
    val mgShuffle = shuffleRecordsOf(spark) { mgPath().count() }
    val fullShuffle = shuffleRecordsOf(spark) { fullPath().count() }
    println(f"HEAVYHITTERS_PROBE dir=$dir cap=$cap ngram=$ngram " +
      f"vocab=$vocab matches=$hits mg=$mMg%.3f full=$mFull%.3f " +
      f"shuffle_rows_mg=$mgShuffle shuffle_rows_full=$fullShuffle " +
      f"all_mg=${fmtAll(tMg)} all_full=${fmtAll(tFull)}")
  }

  /** Total shuffle-write records across all stages run by `body`. */
  private def shuffleRecordsOf(spark: SparkSession)(body: => Unit): Long = {
    val acc = new java.util.concurrent.atomic.AtomicLong(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        acc.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      // bus drains asynchronously; poll to a stable count (bounded)
      var last = -1L
      var waited = 0
      while (acc.get() != last && waited < 5000) {
        last = acc.get()
        Thread.sleep(250)
        waited += 250
      }
    } finally spark.sparkContext.removeSparkListener(l)
    acc.get()
  }

  /** q99's naive-vs-binned range join at growing scale. Replicates the
    * events time axis (replica k shifts ts by k months, so event
    * DENSITY — and with it the binned join's per-bucket output — stays
    * constant while the naive nested loop's pair count grows
    * quadratically). `rangejoin <dir> [maxRep]` runs both shapes at
    * r = 1, 2, .., maxRep (doubling). */
  private def probeRangeJoin(spark: SparkSession, dir: String,
                             maxRep: Int): Unit = {
    val ev = graft.sources.Tables.load(spark, dir, "events")
    val W = 600L * 1000000L
    val month = 30L * 86400L * 1000000L
    def rep(df: DataFrame, r: Int, idCol: String, tsCol: String): DataFrame =
      (0 until r).map(k => df
        .withColumn(idCol, col(idCol) + lit(k.toLong * 10000000L))
        .withColumn(tsCol, col(tsCol) + lit(k.toLong * month)))
        .reduce(_ union _)
    val views0 = ev.where(col("event_type") === "view")
      .select(col("event_id"), unix_micros(col("ts")).as("ta"))
    val buys0 = ev.where(col("event_type") === "purchase")
      .select(unix_micros(col("ts")).as("tb"), col("value"))
      .withColumn("bid", monotonically_increasing_id())
    val reps = Iterator.iterate(1)(_ * 2).takeWhile(_ <= maxRep).toSeq
    for (r <- reps) {
      val views = rep(views0, r, "event_id", "ta").cache(); views.count()
      val buys = rep(buys0, r, "bid", "tb").cache(); buys.count()
      def agg(j: DataFrame): DataFrame = j
        .where(col("tb") >= col("ta") && col("tb") < col("ta") + lit(W))
        .groupBy(col("event_id"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("v"))
      val (mN, tN) = timeMedian3(agg(
        views.join(buys,
          col("tb") >= col("ta") && col("tb") < col("ta") + lit(W))))
      val bb = buys.withColumn("bin", expr(s"tb div ${W}L"))
      val (mB, tB) = timeMedian3(agg(
        views.select(col("event_id"), col("ta"),
            explode(array(expr(s"ta div ${W}L"),
                          expr(s"ta div ${W}L + 1L"))).as("bin"))
          .join(bb, "bin")))
      println(f"RANGEJOIN_PROBE r=$r views=${views.count()} " +
        f"naive_median=$mN%.3f naive_all=${fmtAll(tN)} " +
        f"binned_median=$mB%.3f binned_all=${fmtAll(tB)}")
      views.unpersist(); buys.unpersist()
    }
  }

  /** q35b exact prefix-filtering join: candidate-stage pruning ratio +
    * warm median-of-3 wall. `target` is a corpus dir, or `zipf:N` for
    * a deterministic (fixed-seed) N-doc Zipf-token corpus — the DF
    * distribution real text has and where the DF-ranked prefix must
    * prune hard; the template `documents` corpus is the adversarial
    * near-uniform-DF case, measured honestly next to it. */
  private def probePrefixJoin(spark: SparkSession, target: String,
                              num: Int, den: Int): Unit = {
    import graft.operators.Dedup
    val docsDf: DataFrame =
      if (target.startsWith("zipf:")) {
        val n = target.drop(5).toInt
        val rng = new scala.util.Random(61)
        val rows = (0 until n).map { i =>
          val toks = (0 until 30).map { _ =>
            val r = math.max(rng.nextDouble(), 1e-4)
            "z" + math.min((1.0 / r - 1).toInt, 5000)
          }.distinct
          (i.toLong, toks.mkString(" "))
        }
        spark.createDataFrame(rows).toDF("doc_id", "text")
      } else spark.read.parquet(s"$target/documents.parquet")
        .select(col("doc_id"), col("text"))
    val nDocs = docsDf.count()
    val base = docsDf.select(col("doc_id"),
      array_distinct(graft.functions.expressions.ArrayOps.sortedHashes(
        array_distinct(graft.functions.Text.tokens(col("text"))))).as("hs"))
      .cache()
    val cands = Dedup.prefixCandidatePairs(base, num, den).count()
    val matches = Dedup.prefixSimilarityJoin(docsDf, num, den).count()
    val (median, times) = timeMedian3(Dedup.prefixSimilarityJoin(docsDf, num, den))
    val totalPairs = nDocs * (nDocs - 1) / 2
    println(f"PREFIXJOIN_PROBE target=$target t=$num/$den docs=$nDocs " +
      f"total_pairs=$totalPairs candidates=$cands matches=$matches " +
      f"prune_pct=${100.0 * (1 - cands.toDouble / totalPairs)}%.1f " +
      f"median=$median%.3f all=${fmtAll(times)}")
    base.unpersist()
  }

  /** Per-stage parallelism report for named SparkEntry queries (all
    * queries when none named): one warm run, then one measured run
    * with [[graft.bench.QueryMetricsListener]], printing each stage
    * with ≥0.2 s task time as (task, wall, nTasks, par). The
    * serial-stage signature — par ≈ 1 with multi-second task time on
    * a 32-core host — is exactly what this surfaces; used to A/B the
    * repartition pins (round-8 verdict items 1-2, 7). */
  private def probeStagePar(spark: SparkSession, dir: String,
                            names: List[String]): Unit = {
    val listener = new graft.bench.QueryMetricsListener
    spark.sparkContext.addSparkListener(listener)
    val qs =
      if (names.isEmpty) graft.SparkEntry.queries.keys.toList.sorted
      else names
    try qs.foreach { n =>
      val fn = graft.SparkEntry.queries.getOrElse(n,
        sys.error(s"unknown query: $n"))
      fn(spark, dir).write.format("noop").mode("overwrite").save() // warm
      // the measured run must be attributable work, not a memo hit —
      // same contract as Bench's sequential pass
      graft.Bench.MemoBypass.get(n).foreach(Artifacts.clear)
      listener.snapshotFullAndReset()
      spark.sparkContext.setJobGroup(n, n, interruptOnCancel = false)
      val t0 = System.nanoTime()
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      val w = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.clearJobGroup()
      listener.awaitQuiescent()
      val snap = listener.snapshotFullAndReset()
      val ss = snap.stages.getOrElse(n, Nil)
      val minPar = snap.heavyStagePar(listener.HeavyStageSec).get(n)
      println(f"STAGEPAR $n wall=$w%.3f stages=${ss.size}" +
        minPar.map(p => f" heavy_min_par=$p%.2f").getOrElse(""))
      ss.filter(_.taskTime >= 0.2).sortBy(-_.taskTime).take(8).foreach { r =>
        println(f"  stage=${r.stageId} task=${r.taskTime}%.3f " +
          f"wall=${r.wall}%.3f nTasks=${r.nTasks} par=${r.par}%.2f")
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def probeRerank(spark: SparkSession, dir: String): Unit = {
    import graft.operators.Similarity
    val (mb, tb) = timeMedian3(Similarity.queries("q36_knn_brute")(spark, dir))
    val (mh, th) = timeMedian3(Similarity.queries("q95_binary_knn")(spark, dir))
    val (mr, tr) = timeMedian3(Similarity.queries("q95b_binary_rerank")(spark, dir))
    println(f"RERANK_PROBE dir=$dir brute=$mb%.3f binary=$mh%.3f " +
      f"rerank=$mr%.3f all_brute=${fmtAll(tb)} all_binary=${fmtAll(th)} " +
      f"all_rerank=${fmtAll(tr)}")
  }

  /** Perceptron IPM training at the probe corpus size: wall per run
    * and the invariant that driver traffic is EPOCHS bounded-collects
    * regardless of corpus size (epoch cost is one repartition+sort
    * job over the feature table -> wall should track corpus
    * linearly; the mix is S rows per epoch no matter what). */
  private def probePerceptron(spark: SparkSession, dir: String): Unit = {
    import graft.operators.Classifier
    Artifacts.clear("trainWeights")
    val t0 = System.nanoTime()
    val w = Classifier.trainWeights(spark, dir)
    val sec = (System.nanoTime() - t0) / 1e9
    val nz = w.count(_ != 0L)
    println(f"PERCEPTRON_PROBE dir=$dir epochs=${Classifier.Epochs} " +
      f"nonzero_weights=$nz sec=$sec%.2f " +
      f"driver_rows_per_epoch<=${Classifier.S}")
    Artifacts.clear("trainWeights")
  }

  private def probeSpans(spark: SparkSession, dir: String, saltBuckets: Int,
                         hotPct: Int, rep: Int): Unit = {
    import graft.operators.Dedup
    // plant: hotPct% of docs open with the same 5-token phrase
    // repeated `rep` times — the 5 cyclic 5-grams of the phrase each
    // occur ~rep times per hot doc, concentrating a large fraction of
    // all span rows on 5 keys (the Zipf boilerplate-header shape)
    val phrase = Seq.fill(rep)("gr4ft hot span probe key").mkString(" ")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("text",
        when(col("doc_id") % 100 < hotPct,
          concat(lit(phrase + " "), col("text"))).otherwise(col("text")))
    val n = docs.count()
    val (median, times) = timeMedian3(Dedup.spanCoverage(docs, 5, saltBuckets))
    println(f"SPANS_PROBE dir=$dir n=$n salt=$saltBuckets hotPct=$hotPct " +
      f"rep=$rep median=$median%.3f all=${fmtAll(times)}")
  }
}
