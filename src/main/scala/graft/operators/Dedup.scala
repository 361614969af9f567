package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.Text

/** Deduplication operators over `documents`: exact (hash-groupBy),
  * MinHash+LSH near-dup, SimHash fingerprints, n-gram Jaccard.
  *
  * Scale design (the part that matters at 100 TB):
  *  - exact dedup is a single hash-shuffle on a 16-byte digest, with
  *    map-side partial aggregation;
  *  - MinHash/LSH shuffles (band, bandHash) keys — each doc is
  *    replicated `numBands` times (small constant), never pairwise;
  *  - candidate pairs are generated *inside* buckets with a bucket-size
  *    cap, so a degenerate bucket (all-identical boilerplate docs)
  *    cannot go quadratic — the standard guard in web-scale dedup;
  *  - verification (exact Jaccard) touches only candidate pairs.
  */
object Dedup {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** Shingle size: word bigrams give a usable Jaccard range on the
    * driver's short synthetic docs; production text would use 5-9. */
  private val ShingleK = 2
  private val NumHashes = 32
  // S-curve tuning, measured on the driver corpus: background pair
  // jaccard is <= ~0.1, true near-dups ~0.97. r=4 rows/band puts the
  // collision knee at j ~ 0.5: P(candidate | j=0.1) = 8*1e-4 (no
  // explosion), P(candidate | j=0.8) = 98.5%, j=0.97 ≈ 100%.
  // The band count is a corpus-sized knob, not a constant: the
  // pipeline and its DuckDB oracle are generated from the same value
  // ([[minhashPairs]]/[[minhashOracleSql]]), session-tunable via
  // spark.graft.minhash.bands, and q33b pins a second operating point.
  private val DefaultBands = 8
  private val BucketCap = 20

  /** Session-tunable band count; must divide NumHashes. */
  def bandsFor(s: SparkSession): Int = {
    val b = s.conf.getOption("spark.graft.minhash.bands")
      .map(_.toInt).getOrElse(DefaultBands)
    require(NumHashes % b == 0, s"bands=$b must divide $NumHashes")
    b
  }

  private def jaccard(inter: Column, n1: Column, n2: Column): Column =
    inter.cast("double") / (n1 + n2 - inter)

  /** Window width (tokens) for q70's exact-substring coverage. */
  private val SpanW = 5

  /** Salt-bucket count for the span-key shuffles of q70/q67 (0 = off,
    * single window shuffle). Zipf-distributed boilerplate makes some
    * span keys carry a constant fraction of ALL rows — at 100× the
    * hot key is the straggler task, and AQE cannot split a window
    * partition the way it splits a skewed join. */
  def spanSaltBuckets(s: SparkSession): Int =
    s.conf.getOption("spark.graft.span.saltBuckets")
      .flatMap(_.trim.toIntOption).getOrElse(0)

  /** The SALTED shape's bucket count when it runs as a benchmark
    * entry (q70b/q67b): conf override, else one bucket per core —
    * a pinned literal (the old 8) caps the hot key's fan-out below
    * the machine and shows up as a serial suspect on 32 cores
    * (round-12 verdict Next #8). Specs that pin row-for-row equality
    * against the window shape keep passing literal bucket counts. */
  def spanSaltBucketsAuto(s: SparkSession): Int =
    s.conf.getOption("spark.graft.span.saltBuckets")
      .flatMap(_.trim.toIntOption).filter(_ > 0)
      .getOrElse(math.max(8, s.sparkContext.defaultParallelism))

  /** q70's operator, factored so the skew spec can drive it on a
    * planted Zipfian corpus: exact-substring duplication coverage
    * (the w-gram approximation of suffix-array substring dedup). A
    * span is `w` consecutive tokens at stride 1; a span appearing in
    * >= 2 distinct docs is duplicated text. Per doc: how many of its
    * token positions are covered by some duplicated span — the number
    * span-removal would cut.
    *
    * Scale/perf: the span key is a position-weighted sum of per-TOKEN
    * md5-family hashes (the minhash pipeline's cross-engine family;
    * weights 1..w keep the checked BIGINT arithmetic under 2^60),
    * computed by the native SpanKeysExpr — one codegen'd pass, one
    * md5 per token. Every downstream stage moves an 8-byte long
    * instead of a ~25-char string. The interpreted string-span
    * version benched 1.93 s at sf0.1; this is 0.5 s.
    *
    * Two physical shapes for the >= 2-distinct-docs test, chosen by
    * `saltBuckets`:
    *  - 0 (default): min(doc_id) != max(doc_id) over a window on the
    *    key — one shuffle, span stream computed ONCE, no join-back;
    *    right up until a hot boilerplate key serializes through one
    *    window partition.
    *  - > 0: two-phase salted aggregate — per (span, salt) min/max
    *    (the hot key fans over `saltBuckets` reducers), merged per
    *    span into the duplicated-key set, then a LEFT SEMI join back
    *    to the span stream. The join-back re-shuffles on the key, but
    *    a skewed JOIN partition is exactly what AQE's skew-join
    *    splitting handles (and the dup-key set is aggregated, so AQE
    *    broadcasts it when small). Row-for-row identical output.
    */
  def spanCoverage(docsDf: DataFrame, w: Int = SpanW,
                   saltBuckets: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (base, dupRows) = dupSpanRows(docsDf, w, saltBuckets)
    // |union of [i, i+w-1]| by interval arithmetic on the SORTED span
    // positions: each occurrence contributes the part of its window
    // not overlapped by the NEXT one — min(next_i - i, w); the last
    // contributes w. (doc_id, i) rows are unique by construction
    // (posexplode emits each position once; the window filter and the
    // semi join both preserve that). This replaces the w-way position
    // explode + corpus-wide distinct + re-aggregate — three stages and
    // a w× row multiplication — with one doc-keyed window whose
    // partitioning the final aggregate reuses (guide §2.3/§2.4:
    // shuffle fewer bytes, then share the exchange).
    val docWin = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    val covered = dupRows
      .select(col("doc_id"), col("i"))
      .withColumn("nxt", lead(col("i"), 1).over(docWin))
      .groupBy(col("doc_id"))
      .agg(sum(coalesce(least(col("nxt") - col("i"), lit(w)), lit(w)))
        .as("covered_tokens"))
    base.select(col("doc_id"), col("n").cast("long").as("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
              coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"))
  }

  /** Shared front half of q70/q83: tokenized base + the span stream
    * filtered to spans appearing in >= 2 distinct docs, in the two
    * physical shapes [[spanCoverage]] documents. Returns
    * (base(doc_id, text, toks, n), dupRows(doc_id, i, span)). */
  /** `spread=true` (the cross-doc span family): the local fixture is
    * ONE parquet file → a one-partition scan, so the span explode
    * (the family's CPU-heaviest per-row stage) would run in a single
    * task however AQE is tuned. Pin the base to cluster parallelism
    * on the stable doc key — at warehouse scale the table is
    * thousands of files and the scan parallelizes by layout, making
    * this one cheap extra exchange; at fixture scale it is what turns
    * a serial tokenize+explode into 32 tasks (q83b idle wall
    * 1.45 → 1.10 s measured). q84 passes `spread=false`: its work is
    * document-local with NO downstream shuffle at all, so adding an
    * exchange just to spread a 0.2 s scan would break its
    * zero-shuffle design claim (PlanQualitySpec pin). */
  private def tokenizedBase(docsDf: DataFrame,
                            spread: Boolean = true): DataFrame = {
    val base =
      if (spread)
        docsDf.repartition(
          docsDf.sparkSession.sparkContext.defaultParallelism, col("doc_id"))
      else docsDf
    base
      .withColumn("toks", graft.functions.Text.tokens(col("text")))
      .withColumn("n", size(col("toks")))
  }

  private def dupSpanRows(docsDf: DataFrame, w: Int,
                          saltBuckets: Int): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val base = tokenizedBase(docsDf)
    // no `where(n >= w)` guard: spanKeys returns an EMPTY array for
    // short docs, so the posexplode already drops them. The explicit
    // filter was worse than redundant — Catalyst substituted it to
    // `size(split(text)) >= w` and pushed it below the repartition
    // into the one-task fixture scan (tokenizing every doc serially,
    // ~0.5 s), and the differing pushed filters made the three
    // consumers' exchanges non-canonical so the scan ran THREE times.
    // Filter-free, all branches share one ReusedExchange and the
    // serial scan stage is a pure 0.6 MB read (bench serial-suspect
    // watchdog, round-13).
    val spans = base
      .select(col("doc_id"), posexplode(graft.functions.expressions.ArrayOps
        .spanKeys(col("toks"), w)))
      .toDF("doc_id", "i", "span")
    val dupRows =
      if (saltBuckets <= 0) {
        val win = Window.partitionBy(col("span"))
        // explicit span partitioning satisfies the window's required
        // distribution (replacing its own exchange) while staying
        // exempt from AQE coalescing, which otherwise runs the
        // span-window stage ~4-way at fixture bytes (bench watchdog)
        spans
          .repartition(
            spans.sparkSession.sparkContext.defaultParallelism, col("span"))
          .withColumn("mn", min(col("doc_id")).over(win))
          .withColumn("mx", max(col("doc_id")).over(win))
          .where(col("mn") =!= col("mx"))
      } else {
        spans.join(saltedRepeatKeys(spans, "span", saltBuckets),
          Seq("span"), "left_semi")
      }
    (base, dupRows)
  }

  /** The ONE salted >= 2-distinct-docs test, shared by every span
    * operator (q70b here, q67b in Curation): per (key, salt) min/max
    * partial aggregate — the hot key fans over `saltBuckets`
    * reducers — merged per key into the repeated-key set. `rows` must
    * carry (doc_id, i, `keyName`). */
  private[operators] def saltedRepeatKeys(rows: DataFrame, keyName: String,
                                          saltBuckets: Int): DataFrame =
    rows
      // NOT repartition-pinned like the window branch: an explicit
      // exchange on the grouping keys would satisfy the aggregate's
      // distribution and make Catalyst SKIP the partial (map-side)
      // min/max — shuffling raw span rows instead of one row per
      // (key, salt) — which is the exact volume trade the salted
      // design exists to win. The final-agg stage coalescing ~4-way
      // at fixture bytes costs ~0.1 s of wall and is by-design.
      .groupBy(col(keyName),
        pmod(xxhash64(col("doc_id"), col("i")), lit(saltBuckets)).as("s"))
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      .groupBy(col(keyName))
      .agg(min(col("mn")).as("mn"), max(col("mx")).as("mx"))
      .where(col("mn") =!= col("mx"))
      .select(col(keyName))

  /** The APPLY step q70 only counts (q83): rewrite every document
    * with its duplicated-span token positions REMOVED — the
    * suffix-array-style exact-substring dedup transformation that
    * actually shrinks a training corpus, w-gram approximated like
    * q70. Emits (doc_id, n_tokens, kept_tokens, kept_text); a fully
    * boilerplate doc comes back with kept_text = ''.
    *
    * Scale: the duplicated-position set rides the q70 span pipeline
    * (same salt knob); the rewrite joins it back to the token stream
    * with a LEFT ANTI on (doc_id, p) — hash-distributed on doc_id,
    * no skew (positions are per-doc) — and reassembles per doc with
    * a bounded collect_list (a document's own tokens; never a
    * corpus-scale state). */
  def spanDedupApply(docsDf: DataFrame, w: Int = SpanW,
                     saltBuckets: Int = 0): DataFrame = {
    val (base, dupRows) = dupSpanRows(docsDf, w, saltBuckets)
    // every covered position is removed = runs with no length floor
    applyRemoval(base, coveredRuns(dupRows, w))
  }

  /** Minimum merged-run length (tokens) for q83b's variable-length
    * removal. Lee et al. ("Deduplicating Training Data Makes Language
    * Models Better") use 50 on web corpora; 20 keeps useful signal at
    * the test scales while still letting short incidental overlaps
    * survive — the knob a real pipeline tunes. */
  private[graft] val MinRun = 20

  /** VARIABLE-LENGTH exact-substring dedup (q83b): the Lee-et-al
    * semantics "remove any duplicated run of at least `minRun`
    * tokens, as a unit". q83 removes every shared w-gram — correct
    * for aggressive boilerplate stripping, but it also deletes
    * incidental 5-token overlaps (common phrases). Here the
    * duplicated w-gram COVERAGE is first merged into maximal runs
    * per document (gaps-and-islands: two covered spans merge iff
    * their coverage is contiguous, i.e. start difference <= w), and
    * only runs of >= `minRun` tokens are removed. A 50-token
    * duplicated paragraph disappears byte-exactly; a shared idiom
    * survives.
    *
    * Scale: island detection is a per-doc window over the (already
    * >= 2-distinct-docs filtered, salt-shareable) span stream —
    * doc-scoped keys, no skew — and the removal tail is q83's. The
    * interval union this computes is the same fold the streaming
    * face runs per micro-batch (DocStream.spanCoverageStream). */
  def spanDedupApplyRuns(docsDf: DataFrame, w: Int = SpanW,
                         minRun: Int = MinRun,
                         saltBuckets: Int = 0): DataFrame = {
    val (base, dupRows) = dupSpanRows(docsDf, w, saltBuckets)
    applyRemoval(base,
      coveredRuns(dupRows, w).where(col("e") - col("s") + 1 >= minRun))
  }

  /** (doc_id, i) span-occurrence rows → maximal covered RUNS
    * (doc_id, s, e): gaps-and-islands over the sorted positions (two
    * occurrences merge iff their coverage is contiguous, i.e. start
    * difference <= w), each island covering tokens s..e inclusive.
    * Shared by q83 (every run removed) and q83b (length >= minRun
    * only). Rows are unique per (doc_id, i) by construction — see
    * [[spanCoverage]] — so no distinct shuffle is needed, and both
    * windows plus the island aggregate share ONE doc_id exchange. */
  private def coveredRuns(rows: DataFrame, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docWin = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    rows.select(col("doc_id"), col("i"))
      .withColumn("brk",
        when(col("i") - lag(col("i"), 1).over(docWin) <= w, lit(0))
          .otherwise(lit(1)))
      .withColumn("g", sum(col("brk")).over(docWin))
      .groupBy(col("doc_id"), col("g"))
      .agg(min(col("i")).as("s"), (max(col("i")) + lit(w - 1)).as("e"))
  }

  /** Rebuild per-doc text with the covered `runs` (doc_id, s, e)
    * removed — shared tail of q83/q83b. The runs are collected per doc
    * (run count is bounded by the doc's own span positions, never
    * corpus-scale) and the rebuild is ONE native pass over the token
    * array ([[graft.functions.expressions.RemoveRunsExpr]]). The
    * previous shape posexploded every token of the corpus, anti-joined
    * on (doc_id, p) and re-assembled via collect_list + array_sort —
    * shuffling the full token payload twice to apply a decision set
    * orders of magnitude smaller (guide §8's rule: move decisions,
    * not payloads); measured 12.6/13.1 task-sec on q83/q83b at sf0.1,
    * almost all of it in the explode/anti-join/reassemble tail. */
  private def applyRemoval(base: DataFrame, runs: DataFrame): DataFrame = {
    val perDoc = runs.groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("s"), col("e")))).as("runs"))
    base.select(col("doc_id"), col("n").cast("long").as("n_tokens"),
                col("toks"))
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn("r", graft.functions.expressions.ArrayOps.removeRuns(
        col("toks"),
        coalesce(col("runs"), array().cast("array<struct<s:int,e:int>>"))))
      // null toks null-propagate through the kernel; the old
      // posexplode/anti-join tail returned (0, '') for a null-text doc
      // (no positions to keep), so coalesce preserves that contract
      .select(col("doc_id"), col("n_tokens"),
              coalesce(col("r.kept_tokens"), lit(0L)).as("kept_tokens"),
              coalesce(col("r.kept_text"), lit("")).as("kept_text"))
  }

  /** WITHIN-document span dedup (q84): remove every repeated span
    * occurrence INSIDE a document — the self-dedup pass scraped pages
    * need (headers/footers/menus repeating within one page), distinct
    * from q83's cross-doc removal. A position is removed iff covered
    * by a span occurrence that is not its span key's FIRST occurrence
    * in that doc; the first occurrence's un-overlapped tokens stay.
    *
    * Scale: the work is document-local by DEFINITION, so the plan is
    * a bare scan — one native per-row pass (IntraDocDedupExpr: span
    * keys, first-occurrence map, covered flags, rebuild), ZERO
    * shuffles at any corpus size. This replaced a 6-shuffle
    * spans/firsts/repeats/anti-join/collect pipeline whose keys were
    * doc-scoped anyway (1.42 -> 0.18 s sequential-warm at sf0.1);
    * the relational tail ([[applyRemoval]]) remains the CROSS-doc
    * path's shape, where shuffles are inherent. */
  def intraDocDedupApply(docsDf: DataFrame, w: Int = SpanW): DataFrame =
    tokenizedBase(docsDf, spread = false)
      .withColumn("r", graft.functions.expressions.ArrayOps
        .intraDocDedup(col("toks"), w))
      .select(col("doc_id"), col("n").cast("long").as("n_tokens"),
              col("r").getField("kept_tokens").as("kept_tokens"),
              col("r").getField("kept_text").as("kept_text"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q70_span_coverage" -> ((s, dir) =>
      spanCoverage(docs(s, dir), SpanW, spanSaltBuckets(s))),
    // the salted shape as a standing operating point the driver
    // hash-verifies every round against the SAME oracle — identical
    // output is the whole contract. Buckets auto-scale with the
    // machine (conf-overridable); the literal-8 A/B point lives in
    // SkewSpec/ScaleLab only.
    "q70b_span_salted" -> ((s, dir) =>
      spanCoverage(docs(s, dir), SpanW, spanSaltBucketsAuto(s))),

    "q83_span_dedup_apply" -> ((s, dir) =>
      spanDedupApply(docs(s, dir), SpanW, spanSaltBuckets(s))),

    "q83b_span_dedup_runs" -> ((s, dir) =>
      spanDedupApplyRuns(docs(s, dir), SpanW, MinRun, spanSaltBuckets(s))),

    "q84_intradoc_dedup" -> ((s, dir) =>
      intraDocDedupApply(docs(s, dir), SpanW)),

    "q31_dedup_exact" -> ((s, dir) =>
      // one-shuffle exact dedup summary on the content digest
      docs(s, dir)
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text"))).as("n_unique"),
          (count(lit(1)) - countDistinct(md5(col("text")))).as("n_dupes"))),

    "q32_dedup_keep_first" -> ((s, dir) =>
      // representative-per-group dedup (keep lowest doc_id), the
      // groupBy form every exact-dedup pipeline reduces to
      docs(s, dir)
        .groupBy(col("lang"), col("source"))
        .agg(min(col("doc_id")).as("keeper"),
             count(lit(1)).as("group_size"),
             sum(col("n_chars")).as("total_chars"))),

    "q33_minhash_pairs" -> ((s, dir) => minhashPairs(s, dir, DefaultBands)),
    // second banding point (r=2, lower collision knee), same generated
    // oracle — the parameterization carries its hash-match oracle
    "q33b_minhash_b16" -> ((s, dir) => minhashPairs(s, dir, 16)),

    "q81_containment" -> ((s, dir) => containmentPairs(s, dir, DefaultBands)),

    "q106_edit_distance_dedup" -> ((s, dir) =>
      editDistancePairs(s, dir, DefaultBands)),

    // the capped-prefix operating point a 100-TB deployment runs —
    // the verifier compares left(text, EditPrefixCap) in both engines
    "q106b_edit_distance_capped" -> ((s, dir) =>
      editDistancePairs(s, dir, DefaultBands, Some(EditPrefixCap))),

    "q87_incremental_neardup" -> ((s, dir) =>
      incrementalNearDupPairs(s, dir, DefaultBands)),

    "q87b_incremental_keep" -> ((s, dir) =>
      incrementalKeep(s, dir, DefaultBands)),

    "q61_dedup_clusters" -> ((s, dir) => dedupClusters(s, dir, DefaultBands)),

    "q61d_cluster_maintenance" -> ((s, dir) =>
      // three-wave ingest through the persisted-state maintainer;
      // final labels == full recompute == q61's oracle
      clusterMaintenanceReplay(s, dir, DefaultBands)),

    "q61c_incremental_clusters" -> ((s, dir) =>
      // incremental maintenance == full recompute (exact, incl. the
      // cap-split case), so it shares q61's oracle — the q91/q55
      // shared-oracle convention
      incrementalClusters(s, dir, DefaultBands)),

    "q97_leakage_safe_split" -> ((s, dir) =>
      leakageSafeSplit(s, dir, DefaultBands)),

    "q61b_dedup_apply" -> ((s, dir) => {
      // APPLY the fuzzy-dedup clusters: drop every paired doc that is
      // not its cluster's representative, report the kept corpus per
      // source — the step that actually shrinks the training set.
      // The non-representative set is cluster-output-sized (orders of
      // magnitude below the corpus), so the removal is a left-anti
      // join against a small side; the corpus scans once.
      val nonRep = dedupClusters(s, dir, DefaultBands)
        .where(!col("is_representative"))
        .select(col("doc_id"))
      docs(s, dir).join(nonRep, Seq("doc_id"), "left_anti")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
             sum(col("n_chars")).as("kept_chars"))
    }),

    "q61e_dedup_keep_best" -> ((s, dir) => {
      // KEEP-BEST representative policy: instead of q61b's min-id
      // representative, each near-dup cluster keeps its LONGEST
      // member (most tokens, tie-break min doc_id) — the policy real
      // corpus builds use, since the longest near-duplicate usually
      // subsumes the truncated copies. Argmax rides an integer
      // struct-max (token count, negated id), so the choice is exact
      // and engine-independent.
      //
      // Scale: cluster labels are OUTPUT-sized (docs that paired),
      // the per-cluster argmax groups that small table, and the
      // corpus scans once into a left-anti against the dropped set —
      // the q61b shape with one extra tiny aggregate.
      val tk = docs(s, dir)
        .withColumn("tk", size(Text.tokens(col("text"))).cast("long"))
      val members = dedupClusters(s, dir, DefaultBands)
        .select(col("doc_id"), col("cluster_id"))
        .join(tk.select(col("doc_id"), col("tk")), Seq("doc_id"))
      val best = members.groupBy(col("cluster_id"))
        .agg(max(struct(col("tk"), (-col("doc_id")).as("negid"))).as("m"))
        .select(col("cluster_id"), (-col("m.negid")).as("keep_id"))
      val dropped = members.join(best, Seq("cluster_id"))
        .where(col("doc_id") =!= col("keep_id"))
        .select(col("doc_id"))
      tk.join(dropped, Seq("doc_id"), "left_anti")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
             sum(col("tk")).as("kept_tokens"))
    }),

    "q34_simhash" -> ((s, dir) =>
      // 64-bit SimHash fingerprints via the native Catalyst expression
      // (one O(N) codegen'd loop per row; see SimHash64Expr). The md5
      // vote-bit family is reproducible in DuckDB → hash-match oracle.
      docs(s, dir)
        .select(col("doc_id"), col("source"),
                graft.functions.expressions.SimHash64Expr
                  .simhash64(Text.tokens(col("text"))).as("simhash"))),

    "q34b_simhash_pairs" -> ((s, dir) => {
      // SimHash near-dup pairs at scale: split the 64-bit fingerprint
      // into 4 x 16-bit bands — two fingerprints within hamming
      // distance 3 must agree on at least one band (pigeonhole), so a
      // band-bucket join finds all candidates with 4x replication, no
      // pairwise compare; exact hamming verifies. Oracle below.
      val fp = docs(s, dir)
        .select(col("doc_id"),
                graft.functions.expressions.SimHash64Expr
                  .simhash64(Text.tokens(col("text"))).as("simhash"))
        .transform(cacheOnce)
      val banded = fp.select(col("doc_id"), col("simhash"),
        explode(expr(
          """transform(sequence(0, 3),
            |  b -> named_struct('band', b,
            |    'bits', (simhash >> (b * 16)) & 65535L))""".stripMargin)).as("bb"))
        .select(col("doc_id"), col("simhash"),
                col("bb.band").as("band"), col("bb.bits").as("bits"))
      val a = banded.select(col("band"), col("bits"),
        col("doc_id").as("doc1"), col("simhash").as("sh1"))
      val b = banded.select(col("band"), col("bits"),
        col("doc_id").as("doc2"), col("simhash").as("sh2"))
      a.join(b, Seq("band", "bits"))
        .where(col("doc2") > col("doc1"))
        .select(col("doc1"), col("doc2"),
                Text.hamming64(col("sh1"), col("sh2")).cast("int").as("hamming"))
        .where(col("hamming") <= 3) // filter BEFORE distinct: shrinks the shuffle
        .distinct()
    }),

    "q35_ngram_jaccard" -> ((s, dir) => {
      // exact token-set Jaccard over a banded self-join (same source,
      // doc_id within +5): linear pair count, oracle-checkable.
      // tokens hashed to sorted 56-bit md5 prefixes once per doc; each
      // pair check is then a merge, not a string-set build (the same
      // verify kernel as the LSH pipelines — see SortedHashesExpr)
      val t = docs(s, dir)
        .select(col("doc_id"), col("source"),
                array_distinct(Text.tokens(col("text"))).as("tset"))
        .withColumn("n", size(col("tset")))
        .withColumn("tx", graft.functions.expressions.ArrayOps
          .sortedHashes(col("tset")))
      val a = t.select(col("source"), col("doc_id").as("doc1"),
                       col("tx").as("t1"), col("n").as("n1"))
      val b = t.select(col("source"), col("doc_id").as("doc2"),
                       col("tx").as("t2"), col("n").as("n2"))
      // doc_ids are assigned round-robin across sources (stride 20), so
      // the band must span >= a few strides to produce any pairs
      a.join(b, Seq("source"))
        .where(col("doc2") > col("doc1") && col("doc2") <= col("doc1") + 100)
        .withColumn("inter", graft.functions.expressions.ArrayOps
          .sortedIntersectCount(col("t1"), col("t2")))
        .select(col("source"), col("doc1"), col("doc2"),
                round(jaccard(col("inter"), col("n1"), col("n2")), 4).as("jaccard"))
    }),

    "q35b_prefix_join" -> ((s, dir) => {
      // EXACT set-similarity self-join at Jaccard >= 0.9 over the WHOLE
      // corpus — no band (q35) and no LSH false negatives (q33):
      // prefix filtering (Chaudhuri et al. ICDE'06; Bayardo et al.
      // WWW'07 "AllPairs"). Token sets ordered rarest-document-
      // frequency-first; two sets with J >= t MUST share a token in
      // their first n - ceil(t*n) + 1 entries, so the candidate join
      // runs on rare prefix tokens only, plus the length filter
      // (J <= n_min/n_max => 10*n_min >= 9*n_max). Threshold 9/10 is
      // kept in INTEGER arithmetic end-to-end — ceil(9n/10) as
      // (9n+9) div 10, the final gate as 10*inter >= 9*union — so the
      // oracle replays bit-exactly. At web scale the DF-ranked prefix
      // is what bounds candidates (Zipf: most prefixes are near-unique
      // tokens — measured in ScaleLab `prefixjoin`); THIS synthetic
      // template corpus is the adversarial case — near-uniform DFs
      // prune little and most of the 125k pairs really are >= 0.9 —
      // which the exact semantics must (and do) survive.
      prefixSimilarityJoin(docs(s, dir), num = 9, den = 10)
    })
  )

  /** Prefix-filtering exact Jaccard self-join at threshold num/den
    * (see the q35b entry comment). `docsDf` needs (doc_id, text);
    * candidate generation explodes only the DF-ranked prefix of each
    * token set, and the candidate pair count is also exposed to
    * [[graft.tools.ScaleLab]] for the Zipf pruning probe. */
  private[graft] def prefixSimilarityJoin(docsDf: DataFrame,
                                          num: Int, den: Int): DataFrame = {
    import graft.functions.expressions.ArrayOps
    val base = docsDf.select(col("doc_id"),
        array_distinct(ArrayOps.sortedHashes(
          array_distinct(Text.tokens(col("text"))))).as("hs"))
    // EXACT-DUPLICATE GROUPING (r12): Jaccard is a function of the
    // token SET alone, so the quadratic candidate + verify stages run
    // once per DISTINCT set — docs group by their exact set (grouped
    // BY THE ARRAY, not a hash of it: a 64-bit hash collision would
    // silently merge different sets), the min doc_id represents the
    // group, and pairs expand afterwards. Real corpora are full of
    // exact duplicates (that is why exact dedup exists), and template
    // corpora are ~all duplicates: at a 10× replicated corpus this is
    // the difference between verifying 100× the pairs and 1×. The
    // expansion's output is the same pair set either way — intra-group
    // pairs ARE duplicates (J = 1.0 ≥ t always), cross-group pairs
    // inherit the representative pair's exact jaccard.
    // null/empty sets never enter the ungrouped algorithm (no tokens,
    // no candidates) — they must not form an intra group either
    val nonEmpty = base.where(col("hs").isNotNull && size(col("hs")) > 0)
    val reps = nonEmpty.groupBy(col("hs")).agg(min(col("doc_id")).as("rep"))
    val m = nonEmpty.join(reps, "hs").select(col("doc_id"), col("rep"))
    val repBase = reps.select(col("rep").as("doc_id"), col("hs"))
    val pairs = prefixCandidatePairs(repBase, num, den)
    val f1 = repBase.select(col("doc_id").as("doc1"), col("hs").as("h1"),
                            size(col("hs")).as("n1"))
    val f2 = repBase.select(col("doc_id").as("doc2"), col("hs").as("h2"),
                            size(col("hs")).as("n2"))
    val repPairs = pairs.join(f1, "doc1").join(f2, "doc2")
      .withColumn("inter", ArrayOps.sortedIntersectCount(col("h1"), col("h2")))
      .withColumn("uni", col("n1") + col("n2") - col("inter"))
      .where(col("inter") * den >= col("uni") * num)
      .select(col("doc1"), col("doc2"),
        round(col("inter").cast("double") / col("uni"), 4).as("jaccard"))
    // expansion: every (a, b) with a's set ~ b's set, a < b — exactly
    // the pairs the ungrouped join emitted
    val cross = repPairs
      .join(m.as("ma"), col("ma.rep") === col("doc1"))
      .join(m.as("mb"), col("mb.rep") === col("doc2"))
      .select(
        least(col("ma.doc_id"), col("mb.doc_id")).as("doc1"),
        greatest(col("ma.doc_id"), col("mb.doc_id")).as("doc2"),
        col("jaccard"))
    val intra = m.as("a").join(m.as("b"),
        col("a.rep") === col("b.rep") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"),
        lit(1.0).as("jaccard"))
    cross.unionByName(intra)
  }

  /** Candidate stage only (doc1, doc2 distinct pairs): DF-ranked
    * prefixes + the length filter. Split out so the pruning ratio is
    * measurable on its own. */
  private[graft] def prefixCandidatePairs(base: DataFrame,
                                          num: Int, den: Int): DataFrame = {
    val tok = base.select(col("doc_id"), explode(col("hs")).as("h"))
    val dfTab = tok.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val ranked = tok.join(dfTab, "h")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("h")))).as("ord"))
      .select(col("doc_id"),
        transform(col("ord"), x => x.getField("h")).as("toks"),
        size(col("ord")).as("n"))
    val cand = ranked
      .withColumn("p",
        (col("n") - expr(s"($num*n+${den - 1}) div $den") + 1).cast("int"))
      .select(col("doc_id"), col("n"),
              posexplode(slice(col("toks"), lit(1), col("p"))))
      .select(col("doc_id"), col("n"), col("pos"), col("col").as("h"))
    // The self-join's OUTPUT is quadratic in per-token df while its
    // INPUT bytes are tiny, so AQE's byte-based coalescing would run
    // the whole pair explosion (+ the distinct and the verify merge
    // downstream) in one task. Pin the probe side's partition count to
    // the cluster's parallelism — explicit numPartitions is exempt
    // from AQE coalescing; hash on (doc_id, h) so one hot template
    // token still spreads its df rows across all tasks.
    //
    // (doc_id, h) is deliberate even though it does not satisfy the
    // join's ClusteredDistribution(h): at pin-relevant scale the
    // build side is broadcast (PlanQualitySpec pins BHJ + the probe's
    // 32 partitions), so the pinned partitioning STREAMS through the
    // join and a hot token's df rows stay spread across all tasks —
    // repartition(h) alone would put each hot token's quadratic pair
    // output in ONE task. If cand outgrows broadcast (huge corpora),
    // the SMJ re-shuffle this keying triggers is byte-heavy enough
    // that AQE sizes its parallelism correctly on its own.
    val probe = cand.repartition(
      base.sparkSession.sparkContext.defaultParallelism,
      col("doc_id"), col("h"))
    // POSITIONAL filtering (Xiao et al. VLDB'08, PPJoin): a match on
    // the token at 0-based prefix positions (p in x, q in y) bounds
    // the whole overlap — common tokens BEFORE the match ≤ min(p, q)
    // (both lists share one global DF order), common tokens AFTER it
    // ≤ min(nx-p-1, ny-q-1), plus the match itself. J ≥ num/den needs
    // overlap ≥ ceil(num·(nx+ny)/(num+den)); a true pair satisfies
    // the bound at EVERY shared prefix token (the bound is an upper
    // envelope of the true overlap), so filtering each joined row
    // before the distinct loses no pair — it only stops the padding
    // tokens of long docs from pairing with the prefixes of short
    // ones, the dominant surviving-candidate class on Zipf corpora
    // after the length filter.
    val positional =
      least(col("a.pos"), col("b.pos")) + lit(1) +
        least(col("a.n") - col("a.pos") - 1, col("b.n") - col("b.pos") - 1) >=
      expr(s"($num*(a.n + b.n) + ${num + den - 1}) div ${num + den}")
    probe.as("a").join(cand.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id")
          && least(col("a.n"), col("b.n")) * den
             >= greatest(col("a.n"), col("b.n")) * num
          && positional)
      .select(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
      .distinct()
  }

  /** MinHash + LSH banding near-dup candidates at any band count,
    * verified with exact shingle-set Jaccard. The md5-derived hash
    * family (ArrayOpsImpl) makes the whole pipeline reproducible in
    * DuckDB → full hash-match oracle from [[minhashOracleSql]] at the
    * SAME band count.
    * cache: `base` feeds both the banding pass and the two
    * verification joins — without it the shingle+minhash expression
    * re-evaluates three times. At warehouse scale this projection
    * would be a persisted/bucketed intermediate table instead. */
  /** Cached (doc_id, sh, mh) projection — the band-count-independent
    * stage every minhash consumer (q33/q33b/q81/q87) shares, so one
    * cache serves every banding configuration run in a session. */
  private def shingleBase(s: SparkSession, dir: String): DataFrame =
    Artifacts.getOrCompute("shingleBase", s, Seq(dir), ()) {
      docs(s, dir)
        // cache-layout pin: the one-file fixture scan is ONE
        // partition, and a cached plan FREEZES that layout — every
        // downstream map stage (band explode, set projection — the
        // bulk of q87b's 40-stage DAG) would then run one task per
        // scan of the cache. Repartition BEFORE caching so the
        // cached layout is cluster-wide; a warehouse deployment gets
        // the same effect from its bucketed persisted table.
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"),
                graft.functions.expressions.ArrayOps
                  .wordShingles(Text.tokens(col("text")), ShingleK).as("sh"))
        .where(size(col("sh")) >= 1) // degenerate (<k tokens) docs out
        .withColumn("mh", graft.functions.expressions.ArrayOps
          .minhashSig(col("sh"), NumHashes))
        // sorted 56-bit md5-prefix hashes of the shingle set: the
        // verify-side representation. Computed ONCE per doc here so
        // every candidate-pair check is an allocation-free merge
        // instead of a per-pair string HashSet (measured 3x on the
        // b=16 operating point, whose 2-row bands emit ~1% of all
        // pairs as candidates).
        .withColumn("shx", graft.functions.expressions.ArrayOps
          .sortedHashes(col("sh")))
        .transform(cacheOnce)
    }

  /** LSH candidate pairs from the scan path: band keys computed from
    * the corpus, then bucket-local capped pair generation. */
  private[graft] def lshCandidatePairs(s: SparkSession, dir: String,
                                numBands: Int): DataFrame = {
    val rowsPerBand = NumHashes / numBands
    val base = shingleBase(s, dir)
    val bands = base.select(
      col("doc_id"),
      posexplode(Text.lshBandKeys(col("mh"), numBands, rowsPerBand)).as(Seq("band", "bh")))
    // bucket-local pair generation, capped: degenerate buckets are
    // dropped instead of exploding quadratically
    val buckets = bands.groupBy(col("band"), col("bh"))
      .agg(graft.functions.expressions.CappedLongsAgg
        .cappedLongs(col("doc_id"), BucketCap + 1).as("ids"))
      .where(size(col("ids")).between(2, BucketCap))
    buckets
      .select(explode(graft.functions.expressions.ArrayOps
        .orderedPairs(col("ids"))).as("p"))
      .select(col("p.doc1").as("doc1"), col("p.doc2").as("doc2"))
      .distinct()
  }

  /** Exact shingle-set overlap for an arbitrary (doc1, doc2) candidate
    * frame — the verify stage shared by the scan path and the
    * persisted-index path (IndexManager.bandCandidates feeds the SAME
    * pair convention, so verification is source-agnostic). */
  private[graft] def withSetOverlap(s: SparkSession, dir: String,
                                    cand: DataFrame): DataFrame = {
    val sets = shingleBase(s, dir)
      .select(col("doc_id"), col("shx"), size(col("sh")).as("n"))
    cand
      .join(sets.select(col("doc_id").as("doc1"), col("shx").as("sh1"), col("n").as("n1")), "doc1")
      .join(sets.select(col("doc_id").as("doc2"), col("shx").as("sh2"), col("n").as("n2")), "doc2")
      .withColumn("inter", graft.functions.expressions.ArrayOps
        .sortedIntersectCount(col("sh1"), col("sh2")))
  }

  private def lshCandidates(s: SparkSession, dir: String,
                            numBands: Int): DataFrame =
    withSetOverlap(s, dir, lshCandidatePairs(s, dir, numBands))

  /** Jaccard-verified near-dup pairs over an externally-supplied
    * candidate set — q33's verify+threshold stage, reusable against
    * index-sourced candidates (q100_index_bands). */
  private[graft] def jaccardVerifiedPairs(s: SparkSession, dir: String,
                                          cand: DataFrame): DataFrame =
    withSetOverlap(s, dir, cand)
      .select(
        col("doc1"), col("doc2"),
        round(jaccard(col("inter"), col("n1"), col("n2")), 4).as("jaccard"))
      .where(col("jaccard") >= 0.1)

  def minhashPairs(s: SparkSession, dir: String, numBands: Int): DataFrame =
    jaccardVerifiedPairs(s, dir, lshCandidatePairs(s, dir, numBands))

  /** Containment verifier (q81): |A∩B|/|A| and /|B| over the LSH
    * candidates — the ASYMMETRIC near-dup measure that catches a
    * short doc copied INSIDE a longer one, which symmetric Jaccard
    * dilutes below any workable threshold. Same banding, same bucket
    * caps; recall measured 25/26 of ground-truth containment-0.5
    * pairs at sf0.01 (the one miss is the LSH trade, stated plainly:
    * extreme size skew lowers Jaccard and with it band-collision
    * probability). */
  private[graft] val ContainmentThreshold = 0.5

  def containmentPairs(s: SparkSession, dir: String,
                       numBands: Int): DataFrame =
    lshCandidates(s, dir, numBands)
      .select(
        col("doc1"), col("doc2"),
        round(col("inter").cast("double") / col("n1"), 4).as("cont1"),
        round(col("inter").cast("double") / col("n2"), 4).as("cont2"))
      .where(greatest(col("cont1"), col("cont2")) >= ContainmentThreshold)

  /** q106: edit-distance-verified near-dup pairs — the
    * CHARACTER-level complement of the shingle-Jaccard verifier
    * (q33): LSH banded candidates (same banding, same bucket caps)
    * verified by normalized Levenshtein distance,
    * dist/max(len1,len2) <= 0.4, written in INTEGER arithmetic
    * (dist*5 <= maxlen*2) so the decision is engine-exact against
    * DuckDB. Jaccard tolerates token reordering; edit distance
    * punishes it — this is the verifier for "same bytes, light
    * edits" dedup (plagiarism-style), and on the fixture it prunes
    * the reordered-token candidates Jaccard keeps (measured at
    * sf0.01: 30 candidates, bimodal NED at ~0.02 and ~0.7, 25 pass).
    *
    * Scale: Levenshtein is O(len1*len2) per pair, so it runs ONLY on
    * the banded candidate set (never all-pairs), joined to texts by
    * doc_id — two hash joins that broadcast the candidate side when
    * small. The quadratic cost bounds the operating length; a 100-TB
    * deployment caps compared prefixes (as CommonCrawl-style dedup
    * does) — q106b ([[EditPrefixCap]]) IS that operating point,
    * oracle-pinned: both engines compare the first `cap` characters
    * with the same integer bar over the CAPPED lengths, so the
    * decision a capped deployment makes is hash-checked, not prose.
    * Candidates stay full-document LSH bands (the sketch is already
    * length-bounded); only the quadratic verifier is capped. */
  def editDistancePairs(s: SparkSession, dir: String, numBands: Int,
                        prefixCap: Option[Int] = None): DataFrame = {
    val texts0 = docs(s, dir).select(col("doc_id"), col("text"))
    val texts = prefixCap match {
      case Some(cap) => texts0.select(col("doc_id"),
        substring(col("text"), 1, cap).as("text"))
      case None => texts0
    }
    lshCandidatePairs(s, dir, numBands)
      // spread FIRST: candidate rows are tiny in BYTES but each will
      // carry an O(len1*len2) Levenshtein — AQE coalesces the
      // distinct's exchange to 2 tasks at 10x and, without this,
      // joins + DP all ride those 2 tasks (260k pairs, 224 s of task
      // time, par 1.6, measured). REPARTITION_BY_NUM is
      // AQE-coalesce-exempt — and the key must be doc1 ALONE: the
      // candidate distinct already hash-partitions on (doc1, doc2)
      // and broadcast joins preserve partitioning, so a (doc1, doc2)
      // repartition is elided as redundant by EnsureRequirements.
      // Placed BEFORE the text joins so the joins, the length prune,
      // and the DP share one cluster-wide stage (the plan pin is
      // PlanQualitySpec's).
      .repartition(s.sparkContext.defaultParallelism, col("doc1"))
      .join(texts.select(col("doc_id").as("doc1"), col("text").as("t1")), "doc1")
      .join(texts.select(col("doc_id").as("doc2"), col("text").as("t2")), "doc2")
      .withColumn("max_len",
        greatest(length(col("t1")), length(col("t2"))).cast("long"))
      // exact length prune: dist >= |len1 - len2|, so a pair whose
      // length gap alone exceeds the bar cannot pass (26% of the 10x
      // candidate set) — the oracle needs no mirror, pruned pairs
      // fail its distance bar by the same inequality
      .where((col("max_len")
          - least(length(col("t1")), length(col("t2"))).cast("long")) * 5
        <= col("max_len") * 2)
      // belt for the SMJ regime: if the text side ever outgrows
      // broadcast, the doc2-side join re-partitions the stream on
      // doc2 and AQE may coalesce it — this second spread (same key,
      // so ELIDED as redundant whenever the broadcast regime kept the
      // pre-join width) guarantees the DP its own wide stage either
      // way.
      .repartition(s.sparkContext.defaultParallelism, col("doc1"))
      // one-element explode barrier (SCALING.md round 13): the filter
      // below references the computed distance, and without the
      // Generate Catalyst pushes compute + filter back through the
      // exchange into the 2-task join stage. The per-row THRESHOLD
      // makes the DP banded (O(k*len) instead of O(len^2), -1 beyond
      // the bar); for every KEPT row dist <= floor(0.4*max_len), where
      // the banded result equals the exact distance — so the oracle's
      // plain levenshtein + the same integer bar keeps the identical
      // set and values.
      .select(col("doc1"), col("doc2"), col("max_len"),
        explode(array(struct(expr(
          "levenshtein(t1, t2, cast(max_len * 2 div 5 as int))")
          .as("d")))).as("e"))
      .select(col("doc1"), col("doc2"),
        col("e.d").cast("long").as("edit_dist"), col("max_len"))
      .where(col("edit_dist") >= 0 &&
        col("edit_dist") * 5 <= col("max_len") * 2)
  }

  /** Near-dup decision threshold for the incremental (batch-vs-corpus)
    * probe — matches [[graft.streaming.DocStream.nearDupAgainstBands]]
    * so the batch entry and its streaming face agree on what counts
    * as a duplicate. */
  private val IncThreshold = 0.5

  /** q106b's compared-prefix cap (characters). 200 deliberately bites
    * on the ~300-char fixture docs so the capped decision is exercised
    * (not vacuously equal to q106); a production cap is KBs. */
  private[graft] val EditPrefixCap = 200

  /** The "new batch" carve-out for q87: a deterministic tenth of the
    * corpus plays the freshly-crawled shard, the rest the ingested
    * corpus — mirrored verbatim in the DuckDB oracle. */
  private def isBatch: Column = col("doc_id") % 10 === 7

  /** Incremental near-dedup (q87): LSH-probe a NEW batch of documents
    * against the already-ingested corpus — the shape every continuous
    * ingest pipeline runs, where re-shuffling the corpus per shard is
    * the thing you must never do.
    *
    * Scale design: the corpus side of the band join is exactly the
    * [[graft.streaming.DocStream.corpusBands]] schema — at 100 TB it
    * is a persisted `bucketBy(bh)` table written once at ingest, so
    * each shard's probe scans only colliding buckets and shuffles
    * only the (small) batch side, which AQE broadcasts when it fits.
    * The corpus-side bucket cap is the same degeneracy guard as the
    * self-join path: an over-full bucket is boilerplate, not signal.
    * This PAIRS view answers only "is it already in the corpus";
    * duplicates WITHIN the arriving batch are handled by the keep
    * decision ([[incrementalKeep]] via [[batchInternalPairs]]).
    * Reference: near-dup semantics as q33 (`minhashPairs`); split
    * probe shape as the streaming face. */
  def incrementalNearDupPairs(s: SparkSession, dir: String,
                              numBands: Int): DataFrame = {
    val rowsPerBand = NumHashes / numBands
    val base = shingleBase(s, dir)
    val bands = base.select(
      col("doc_id"),
      posexplode(Text.lshBandKeys(col("mh"), numBands, rowsPerBand))
        .as(Seq("band", "bh")))
    val corpB = bands.where(!isBatch)
      .select(col("band"), col("bh"), col("doc_id").as("corpus_id"))
    val okBuckets = corpB.groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("c")).where(col("c") <= BucketCap)
      .select(col("band"), col("bh"))
    // Pin the verified-pair stage's parallelism: the candidate list is
    // BYTES-tiny (two longs per row) but each row costs a full
    // sorted-merge over both docs' shingle sets, so AQE's byte-based
    // coalescing runs the whole verify pass in one task (the q35b
    // disease; BENCH_full r8 measured q87b at ~0.8 effective tasks on
    // 32 cores). Explicit numPartitions is exempt from coalescing, and
    // the set sides are broadcast at this stage's operating point
    // (batch-candidate-bounded), so the pinned partitioning streams
    // through both joins and the merge runs cluster-wide.
    val cand = bands.where(isBatch)
      .join(corpB.join(okBuckets, Seq("band", "bh")), Seq("band", "bh"))
      .select(col("doc_id"), col("corpus_id")).distinct()
      .repartition(s.sparkContext.defaultParallelism,
        col("doc_id"), col("corpus_id"))
    val sets = base.select(col("doc_id"), col("shx"), size(col("sh")).as("n"))
    cand
      .join(sets.select(col("doc_id"), col("shx").as("sh1"),
                        col("n").as("n1")), "doc_id")
      .join(sets.select(col("doc_id").as("corpus_id"), col("shx").as("sh2"),
                        col("n").as("n2")), "corpus_id")
      .withColumn("inter", graft.functions.expressions.ArrayOps
        .sortedIntersectCount(col("sh1"), col("sh2")))
      .select(col("doc_id"), col("corpus_id"),
              round(jaccard(col("inter"), col("n1"), col("n2")), 4)
                .as("jaccard"))
      .where(col("jaccard") >= IncThreshold)
  }

  /** Verified near-dup pairs WITHIN the arriving batch (doc1 < doc2)
    * — the other half of the incremental decision. The self-join
    * touches ONLY batch bands: a shard is orders of magnitude smaller
    * than the corpus, so this is the cheap side and the corpus still
    * never re-shuffles. Same banding, bucket cap, and threshold as
    * the corpus probe. */
  private def batchInternalPairs(s: SparkSession, dir: String,
                                 numBands: Int): DataFrame = {
    val rowsPerBand = NumHashes / numBands
    val base = shingleBase(s, dir)
    val bands = base.where(isBatch).select(
      col("doc_id"),
      posexplode(Text.lshBandKeys(col("mh"), numBands, rowsPerBand))
        .as(Seq("band", "bh")))
    val buckets = bands.groupBy(col("band"), col("bh"))
      .agg(graft.functions.expressions.CappedLongsAgg
        .cappedLongs(col("doc_id"), BucketCap + 1).as("ids"))
      .where(size(col("ids")).between(2, BucketCap))
    val cand = buckets
      .select(explode(graft.functions.expressions.ArrayOps
        .orderedPairs(col("ids"))).as("p"))
      .select(col("p.doc1").as("doc1"), col("p.doc2").as("doc2"))
      .distinct()
      // same verify-stage parallelism pin as the corpus probe above
      .repartition(s.sparkContext.defaultParallelism,
        col("doc1"), col("doc2"))
    val sets = base.select(col("doc_id"), col("shx"), size(col("sh")).as("n"))
    cand
      .join(sets.select(col("doc_id").as("doc1"), col("shx").as("sh1"),
                        col("n").as("n1")), "doc1")
      .join(sets.select(col("doc_id").as("doc2"), col("shx").as("sh2"),
                        col("n").as("n2")), "doc2")
      .withColumn("inter", graft.functions.expressions.ArrayOps
        .sortedIntersectCount(col("sh1"), col("sh2")))
      .select(col("doc1"), col("doc2"),
              round(jaccard(col("inter"), col("n1"), col("n2")), 4)
                .as("jaccard"))
      .where(col("jaccard") >= IncThreshold)
  }

  /** The incremental KEEP decision (q87b), in documented order:
    *
    *  1. reject on an exact content-digest twin in the CORPUS;
    *  2. reject on a verified corpus near-dup above [[IncThreshold]]
    *     ([[incrementalNearDupPairs]]);
    *  3. among the survivors, batch-internal exact twins keep the
    *     lowest doc_id per digest;
    *  4. batch-internal near-dup CLUSTERS (connected components over
    *     [[batchInternalPairs]] restricted to step-3 survivors) keep
    *     the lowest doc_id per cluster — the q61b convention, and
    *     what RefinedWeb-style pipelines do to a shard.
    *
    * Steps 3-4 close the round-7 gap where a twin ARRIVING IN THE
    * SAME SHARD passed the gate. Restricting the cluster edges to
    * survivors matches sequential-ingest intuition: a doc rejected by
    * the corpus does not bridge two otherwise-distinct batch docs.
    * All rejection sides stay small: digests shuffle 16 bytes with
    * map-side distinct, the flag lists are candidate-bounded, and the
    * CC runs on the shard's own pair graph only. */
  def incrementalKeep(s: SparkSession, dir: String,
                      numBands: Int): DataFrame = {
    val d = docs(s, dir)
    val corpusFp = d.where(!isBatch)
      .select(md5(col("text")).as("fp")).distinct()
    val flagged = incrementalNearDupPairs(s, dir, numBands)
      .select(col("doc_id")).distinct()
    val corpusSurvivors = d.where(isBatch)
      .withColumn("fp", md5(col("text")))
      .join(corpusFp, Seq("fp"), "left_anti")
      .join(flagged, Seq("doc_id"), "left_anti")
    // Materialize the step-3 survivors ONCE (pruned to the three
    // output columns — no text). [[shardCC]] collects its edge list at
    // DataFrame-CONSTRUCTION time, so without this barrier the whole
    // corpusFp→flagged→window pipeline above runs TWICE: once under
    // the collect, again under the final anti-join — measured as
    // q87b's 40-stage DAG (half of BENCH_full r8's 9 s of task time
    // was this recomputation). The checkpoint is batch-survivor-sized;
    // at warehouse scale it is the persisted shard-survivors
    // intermediate every incremental-ingest pipeline writes anyway.
    val exactKept = corpusSurvivors
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("fp")).orderBy(col("doc_id"))))
      .where(col("rn") === 1)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .localCheckpoint()
    val ids = exactKept.select(col("doc_id"))
    val bp = batchInternalPairs(s, dir, numBands)
      .join(ids.select(col("doc_id").as("doc1")), "doc1")
      .join(ids.select(col("doc_id").as("doc2")), "doc2")
      .select(col("doc1"), col("doc2"))
    val reject = shardCC(s, bp)
      .where(col("node") =!= col("label"))
      .select(col("node").as("doc_id"))
    exactKept.join(reject, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"), col("n_chars"))
  }

  /** q97: LEAKAGE-SAFE train/val/test split — the q54 content-hash
    * split made contamination-aware: assignment happens at the
    * NEAR-DUP-CLUSTER level (q61's components), so two fuzzy twins
    * can never land one in train and one in test — the split-level
    * contamination that silently inflates eval scores when a per-doc
    * split (q54) cuts straight through a duplicate cluster. Unpaired
    * docs are their own singleton group.
    *
    * The group's bucket is the md5 bucket of its REPRESENTATIVE's
    * text (component-minimum doc), so the split stays
    * content-addressed: re-sharding or re-running the pipeline
    * reassigns nothing.
    *
    * Scale shape: the corpus scans ONCE with its per-row bucket; the
    * only joins are against cluster metadata — the membership table
    * (dup-pair-sized) and the rep-bucket lookup (cluster-count-sized,
    * built by a semi-join-pruned second read that touches only rep
    * rows). Both are orders of magnitude below the corpus and
    * AQE-broadcastable; no corpus-sized shuffle anywhere. */
  /** Doc-level assignments of [[leakageSafeSplit]]: (doc_id, gid,
    * split, n_chars) — exposed so the leakage PROPERTY (no group
    * spans two splits) is directly testable. */
  private[graft] def splitAssignments(s: SparkSession, dir: String,
                                      numBands: Int): DataFrame = {
    val d = docs(s, dir)
    val cl = dedupClusters(s, dir, numBands)
      .select(col("doc_id"), col("cluster_id"))
    val repBuckets = d
      .join(cl.select(col("cluster_id")).distinct()
              .withColumnRenamed("cluster_id", "doc_id"),
            Seq("doc_id"))
      .select(col("doc_id").as("cluster_id"),
              Curation.splitBucket.as("rep_bucket"))
    d.select(col("doc_id"), col("n_chars"),
             Curation.splitBucket.as("own_bucket"))
      .join(cl, Seq("doc_id"), "left")
      .join(repBuckets, Seq("cluster_id"), "left")
      .withColumn("gid", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("split", Curation.splitName(
        coalesce(col("rep_bucket"), col("own_bucket"))))
      .select(col("doc_id"), col("gid"), col("split"), col("n_chars"))
  }

  def leakageSafeSplit(s: SparkSession, dir: String,
                       numBands: Int): DataFrame =
    splitAssignments(s, dir, numBands)
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
           countDistinct(col("gid")).as("n_groups"),
           sum(col("n_chars")).as("n_chars"))

  def leakageSafeSplitOracleSql(numBands: Int): String =
    s"""WITH RECURSIVE ${minhashPairsCtes(numBands)},
       |edges AS (
       |  SELECT doc1 AS u, doc2 AS v FROM pairs
       |  UNION SELECT doc2, doc1 FROM pairs),
       |reach(u, v) AS (
       |  SELECT u, v FROM edges
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v
       |  WHERE e.v <> r.u),
       |clusters AS (
       |  SELECT u AS doc_id, least(u, min(v)) AS cluster_id
       |  FROM reach GROUP BY u),
       |b AS (
       |  SELECT doc_id, n_chars,
       |    ('0x' || substring(md5(text), 1, 8))::BIGINT % 100 AS bucket
       |  FROM documents),
       |g AS (
       |  SELECT b.doc_id, b.n_chars,
       |    coalesce(c.cluster_id, b.doc_id) AS gid
       |  FROM b LEFT JOIN clusters c ON c.doc_id = b.doc_id),
       |a AS (
       |  SELECT g.doc_id, g.gid, g.n_chars,
       |    CASE WHEN rb.bucket < 80 THEN 'train'
       |         WHEN rb.bucket < 90 THEN 'val' ELSE 'test' END AS split
       |  FROM g JOIN b rb ON rb.doc_id = g.gid)
       |SELECT split, count(*) AS n_docs,
       |  CAST(count(DISTINCT gid) AS BIGINT) AS n_groups,
       |  CAST(sum(n_chars) AS BIGINT) AS n_chars
       |FROM a GROUP BY 1""".stripMargin

  /** CC sized for a SHARD's pair graph: an arriving batch is orders
    * of magnitude below the corpus and its verified near-dup pairs
    * are candidate-bounded, so the graph near-always fits the driver
    * — collect once, union-find, done (the codebook bounded-collect
    * contract; the iterative distributed CC costs several
    * checkpoint+count rounds of driver coordination that dwarf a
    * 50-edge graph). Above `spark.graft.cc.localMaxEdges` (default
    * 2M — ~32 MB of longs on the driver, while the distributed CC's
    * ~20 driver-coordinated stages cost more wall than collecting
    * that; r15 raised it from 100k when a dissolved mega-component's
    * STORED edge list crossed 100k and paid ~200 stages per wave for
    * a graph local union-find eats in well under a second) it falls
    * back to [[connectedComponents]], which is the right tool for
    * corpus-scale graphs (q61). Both return
    * (node, label = component minimum). */
  private[graft] def shardCC(s: SparkSession, pairs: DataFrame): DataFrame = {
    val cap = s.conf.getOption("spark.graft.cc.localMaxEdges")
      .getOrElse("2000000").toInt
    // validate the rounds knob up front, whichever path runs: a
    // garbage value must be an addressed error even when the local
    // path would never read it (the conf-validation contract)
    val maxRounds = ccMaxRounds(s)
    val edges = pairs.limit(cap + 1).collect()
    if (edges.length > cap) connectedComponents(pairs, maxRounds)
    else {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) {
          val next = parent.getOrElse(c, c); parent(c) = r; c = next
        }
        r
      }
      for (e <- edges) {
        val (a, b) = (find(e.getLong(0)), find(e.getLong(1)))
        if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
      }
      val nodes = edges.flatMap(e => Seq(e.getLong(0), e.getLong(1))).distinct
      import s.implicits._
      nodes.toSeq.map(n => (n, find(n))).toDF("node", "label")
    }
  }

  /** The full minhash-pair pipeline as a CTE stack ending in
    * `pairs(doc1, doc2, jaccard)` — shared by [[minhashOracleSql]] and
    * the clustering oracle, which extends it recursively. */
  /** CTE stack up to the LSH candidate set (`cand`) — shared by the
    * Jaccard, clustering, and containment oracles. */
  private def candCtes(numBands: Int): String = {
    val r = NumHashes / numBands
    s"""$duckShingleCte,
       |bands AS (
       |  SELECT doc_id, b.range AS band,
       |    array_to_string(mh[b.range * $r + 1 : b.range * $r + $r], '_') AS bh
       |  FROM mh, range(0, $numBands) b),
       |buckets AS (
       |  SELECT band, bh FROM bands GROUP BY band, bh
       |  HAVING count(*) BETWEEN 2 AND $BucketCap),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc1, y.doc_id AS doc2
       |  FROM bands x
       |  JOIN bands y ON x.band = y.band AND x.bh = y.bh AND y.doc_id > x.doc_id
       |  JOIN buckets k ON k.band = x.band AND k.bh = x.bh)""".stripMargin
  }

  private def minhashPairsCtes(numBands: Int): String = {
    s"""${candCtes(numBands)},
       |pairs AS (
       |  SELECT c.doc1, c.doc2,
       |    round(CAST(len(list_intersect(a.hxv, b.hxv)) AS DOUBLE)
       |          / (a.n + b.n - len(list_intersect(a.hxv, b.hxv))), 4) AS jaccard
       |  FROM cand c
       |  JOIN hp a ON a.doc_id = c.doc1
       |  JOIN hp b ON b.doc_id = c.doc2
       |  WHERE round(CAST(len(list_intersect(a.hxv, b.hxv)) AS DOUBLE)
       |        / (a.n + b.n - len(list_intersect(a.hxv, b.hxv))), 4) >= 0.1)""".stripMargin
  }

  /** DuckDB oracle for [[minhashPairs]] at the same band count. */
  def minhashOracleSql(numBands: Int): String =
    s"""WITH ${minhashPairsCtes(numBands)}
       |SELECT doc1, doc2, jaccard FROM pairs""".stripMargin

  /** DuckDB oracle for [[containmentPairs]] at the same band count. */
  def containmentOracleSql(numBands: Int): String =
    s"""WITH ${candCtes(numBands)},
       |cont AS (
       |  SELECT c.doc1, c.doc2,
       |    round(CAST(len(list_intersect(a.hxv, b.hxv)) AS DOUBLE) / a.n, 4)
       |      AS cont1,
       |    round(CAST(len(list_intersect(a.hxv, b.hxv)) AS DOUBLE) / b.n, 4)
       |      AS cont2
       |  FROM cand c
       |  JOIN hp a ON a.doc_id = c.doc1
       |  JOIN hp b ON b.doc_id = c.doc2)
       |SELECT doc1, doc2, cont1, cont2 FROM cont
       |WHERE greatest(cont1, cont2) >= $ContainmentThreshold""".stripMargin

  /** CTE stack for the incremental probe (q87/q87b), ending in
    * `ipairs(doc_id, corpus_id, jaccard)`: batch = `doc_id % 10 = 7`,
    * corpus-side bucket cap and the [[IncThreshold]] decision mirrored
    * from the Spark path verbatim. */
  private def incPairsCtes(numBands: Int): String = {
    val r = NumHashes / numBands
    s"""$duckShingleCte,
       |bands AS (
       |  SELECT doc_id, b.range AS band,
       |    array_to_string(mh[b.range * $r + 1 : b.range * $r + $r], '_') AS bh
       |  FROM mh, range(0, $numBands) b),
       |corpb AS (SELECT * FROM bands WHERE doc_id % 10 <> 7),
       |okb AS (
       |  SELECT band, bh FROM corpb GROUP BY band, bh
       |  HAVING count(*) <= $BucketCap),
       |icand AS (
       |  SELECT DISTINCT x.doc_id AS doc_id, y.doc_id AS corpus_id
       |  FROM bands x
       |  JOIN corpb y ON x.band = y.band AND x.bh = y.bh
       |  JOIN okb k ON k.band = x.band AND k.bh = x.bh
       |  WHERE x.doc_id % 10 = 7),
       |ipairs AS (
       |  SELECT c.doc_id, c.corpus_id,
       |    round(CAST(len(list_intersect(a.hxv, b.hxv)) AS DOUBLE)
       |          / (a.n + b.n - len(list_intersect(a.hxv, b.hxv))), 4) AS jaccard
       |  FROM icand c
       |  JOIN hp a ON a.doc_id = c.doc_id
       |  JOIN hp b ON b.doc_id = c.corpus_id
       |  WHERE round(CAST(len(list_intersect(a.hxv, b.hxv)) AS DOUBLE)
       |        / (a.n + b.n - len(list_intersect(a.hxv, b.hxv))), 4)
       |        >= $IncThreshold)""".stripMargin
  }

  /** Near-duplicate CLUSTERS: connected components over the verified
    * minhash pair graph — the step that turns pairwise matches into
    * dedup groups, keeping the lowest doc_id as each group's
    * representative (the semantics of every fuzzy-dedup pipeline's
    * final pass).
    *
    * Algorithm: iterative min-label propagation with POINTER JUMPING
    * (label <- label(label) each round), so rounds grow with log of
    * the component diameter, not the diameter itself. Every round
    * touches only the pair-graph node set — already bucket-bounded by
    * the LSH stage and orders of magnitude smaller than the corpus —
    * never the corpus. Convergence is observed on a bounded count and
    * the loop is capped; labels only decrease, so the fixpoint is the
    * component minimum. At 100 TB this is the alternating-star
    * iteration over an edge list that fits comfortably in a shuffle.
    */
  def dedupClusters(s: SparkSession, dir: String, numBands: Int): DataFrame =
    Artifacts.getOrCompute("dedupClusters", s, Seq(dir), numBands)(
      computeClusters(s, dir, numBands))

  /** spark.graft.cc.maxRounds: the convergence bound reaches the
    * user at every CC entry point — the addressed non-convergence
    * error tells them to raise it (default 16 = diameters to ~65k;
    * deep chained-near-dup graphs need more). */
  private def ccMaxRounds(s: SparkSession): Int =
    s.conf.getOption("spark.graft.cc.maxRounds")
      .map(v => v.trim.toIntOption.filter(_ > 0).getOrElse(sys.error(
        s"invalid spark.graft.cc.maxRounds: '$v' (need a positive int)")))
      .getOrElse(16)

  private def computeClusters(s: SparkSession, dir: String,
                              numBands: Int): DataFrame = {
    val pairs = minhashPairs(s, dir, numBands)
      .select(col("doc1"), col("doc2"))
    // two-mode CC, the BPE-trainer trade: the pair graph is
    // candidate-bounded (bucket caps), so when it fits the
    // local-edges cap a single bounded collect + union-find replaces
    // ~8 driver-coordinated pointer-jumping rounds (q61 sequential
    // 2.1 -> 0.6 s at sf0.1); past the cap, [[shardCC]] falls back to
    // the checkpointed distributed loop unchanged. Labels are
    // identical either way (min-id per component).
    shardCC(s, pairs)
      .select(col("node").as("doc_id"), col("label").as("cluster_id"))
      .withColumn("is_representative", col("doc_id") === col("cluster_id"))
  }

  // ---- q61c: incremental cluster maintenance -----------------------

  /** Pre-batch state — the corpus-only clustering, i.e. the state of
    * the world before the q87 batch arrived: (labels, corpus bucket
    * counts, corpus band table) — ALL written
    * at ingest time in production (the band table is the
    * DocStream.corpusBands model; the counts are its bucket-size
    * metadata), so an arriving shard's maintenance touches persisted
    * tables, never a corpus-wide re-explode. Everything is
    * checkpointed: they ARE tables, and the CC output's
    * iterative-join lineage otherwise compounds size ESTIMATES
    * per round (measured BigInteger overflow at 50x —
    * GraftBridge.dropOriginStats). */
  private def preBatchState(s: SparkSession, dir: String, numBands: Int)
      : (DataFrame, DataFrame, DataFrame) =
    Artifacts.getOrCompute("preBatchState", s, Seq(dir), numBands) {
      val rowsPerBand = NumHashes / numBands
      val bandsC = shingleBase(s, dir).where(!isBatch).select(
        col("doc_id"),
        posexplode(Text.lshBandKeys(col("mh"), numBands, rowsPerBand))
          .as(Seq("band", "bh")))
        .localCheckpoint()
      val labels =
        shardCC(s, verifiedPairs(s, dir, bucketPairs(bandsC)))
          .select(col("node").as("doc_id"), col("label").as("cluster_id"))
          .localCheckpoint()
      val counts = bandsC.groupBy(col("band"), col("bh"))
        .agg(count(lit(1)).as("c0"))
        .localCheckpoint()
      (labels, counts, bandsC)
    }

  private def preBatchLabels(s: SparkSession, dir: String,
                             numBands: Int): DataFrame =
    preBatchState(s, dir, numBands)._1

  /** The BATCH's band rows, shared by the r13 doc-fraction fallback
    * gate and the scope chain — computing them means shingling +
    * minhashing the batch, and doing that twice cost q61c ~1.2 s of
    * pure overhead at sf0.1. Batch-sized; lifecycle = preBatchState's
    * (both model the persisted ingest tables an arriving shard joins). */
  private def batchBandsOf(s: SparkSession, dir: String,
                           numBands: Int): DataFrame =
    Artifacts.getOrCompute("batchBands", s, Seq(dir), numBands) {
      val rowsPerBand = NumHashes / numBands
      shingleBase(s, dir).where(isBatch).select(
        col("doc_id"),
        posexplode(Text.lshBandKeys(col("mh"), numBands, rowsPerBand))
          .as(Seq("band", "bh")))
        .localCheckpoint()
    }

  /** Bucket-local candidate pairs of a band table, capped — the
    * lshCandidates pair kernel, factored for subset band tables. */
  private def bucketPairs(bandsDf: DataFrame): DataFrame =
    bandsDf.groupBy(col("band"), col("bh"))
      .agg(graft.functions.expressions.CappedLongsAgg
        .cappedLongs(col("doc_id"), BucketCap + 1).as("ids"))
      .where(size(col("ids")).between(2, BucketCap))
      .select(explode(graft.functions.expressions.ArrayOps
        .orderedPairs(col("ids"))).as("p"))
      .select(col("p.doc1").as("doc1"), col("p.doc2").as("doc2"))
      .distinct()

  /** [[bucketPairs]] keeping the per-pair BUCKET COUNT (`nb`) instead
    * of deduplicating — the support bookkeeping of the persisted pair
    * state ([[maintainClusterState]]): a pair's support is the number
    * of pair-capable buckets containing both endpoints, so a bucket
    * crossing the cap decrements exactly its own contribution. */
  private def bucketPairCounts(bandsDf: DataFrame): DataFrame =
    bandsDf.groupBy(col("band"), col("bh"))
      .agg(graft.functions.expressions.CappedLongsAgg
        .cappedLongs(col("doc_id"), BucketCap + 1).as("ids"))
      .where(size(col("ids")).between(2, BucketCap))
      .select(explode(graft.functions.expressions.ArrayOps
        .orderedPairs(col("ids"))).as("p"))
      .select(col("p.doc1").as("doc1"), col("p.doc2").as("doc2"))
      .groupBy(col("doc1"), col("doc2"))
      .agg(count(lit(1)).as("nb"))

  /** Exact-Jaccard verification of candidate pairs at the q61/q33
    * threshold — identical expressions to [[minhashPairs]], so every
    * incremental edge decision matches the full recompute bit-exactly. */
  private def verifiedPairs(s: SparkSession, dir: String,
                            cand: DataFrame): DataFrame = {
    val sets = shingleBase(s, dir)
      .select(col("doc_id"), col("shx"), size(col("sh")).as("n"))
    cand
      .join(sets.select(col("doc_id").as("doc1"), col("shx").as("sh1"),
                        col("n").as("n1")), "doc1")
      .join(sets.select(col("doc_id").as("doc2"), col("shx").as("sh2"),
                        col("n").as("n2")), "doc2")
      .withColumn("inter", graft.functions.expressions.ArrayOps
        .sortedIntersectCount(col("sh1"), col("sh2")))
      .where(round(jaccard(col("inter"), col("n1"), col("n2")), 4) >= 0.1)
      .select(col("doc1"), col("doc2"))
  }

  /** The affected scope + recomputed sub-graph behind
    * [[incrementalClusters]], exposed so the boundedness property —
    * corpus-side work is O(batch + affected clusters), never a corpus
    * re-cluster — is directly testable. Returns (subIds, verified
    * sub-pairs). */
  private[graft] def incrementalClusterParts(s: SparkSession, dir: String,
                                             numBands: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val base = shingleBase(s, dir)
    val (old, corpusCounts, corpusBands) = preBatchState(s, dir, numBands)
    // per-shard work reads the PERSISTED corpus band table; only the
    // batch's own bands are computed (batch-sized explode, memoized —
    // the fallback gate consumed them already)
    val batchBands = batchBandsOf(s, dir, numBands)
    val bands = corpusBands.unionByName(batchBands)
    // buckets the batch touches; corpus docs sharing them; those
    // docs' whole components. Only these can gain or lose an edge:
    // every NEW candidate has a batch member in its bucket, and every
    // REMOVED candidate sits in a bucket the batch pushed over the
    // cap — in both cases the bucket is touched. Corpus-corpus edges
    // in untouched buckets are bit-stable (same members, same count,
    // content-based verification), and a verified edge can never
    // connect an affected to an unaffected component (the edge
    // existed pre-batch, so its endpoints shared a component).
    val touched = batchBands
      .select(col("band"), col("bh")).distinct()
    val touchedCorpus = corpusBands
      .join(touched, Seq("band", "bh"), "left_semi")
      .select(col("doc_id")).distinct()
    // materialize the (tiny) affected-label set once: it feeds the
    // fallback count, the pass-through anti-join, AND the scope —
    // without the barrier the touched-bucket chain re-runs in every
    // consumer (measured 3 full scope evaluations per q61c call)
    val affLabels = old.join(touchedCorpus, Seq("doc_id"))
      .select(col("cluster_id")).distinct()
      .coalesce(1) // cluster-metadata-sized; 32 checkpoint shards are pure overhead
      .localCheckpoint()
    val affDocs = old.join(affLabels, Seq("cluster_id"), "left_semi")
      .select(col("doc_id"))
    // touchedCorpus ∪ affDocs: a touched-bucket corpus doc may have
    // had NO pre-batch pairs (absent from the label table) yet gain
    // its first edge from the batch
    val subIds = touchedCorpus
      .union(affDocs)
      .union(base.where(isBatch).select(col("doc_id")))
      .distinct()
      .coalesce(1) // batch+affected-sized
      .localCheckpoint()
    // full-corpus bucket sizes = persisted corpus bucket counts (the
    // pre-batch artifact) + batch counts — a metadata join, never a
    // corpus-band re-count; sub-bucket pair lists stay under the cap
    // because they are subsets of capped buckets
    val batchCounts = batchBands
      .groupBy(col("band"), col("bh")).agg(count(lit(1)).as("cb"))
    val okBuckets = corpusCounts
      .join(batchCounts, Seq("band", "bh"), "full_outer")
      .select(col("band"), col("bh"),
        (coalesce(col("c0"), lit(0L)) + coalesce(col("cb"), lit(0L))).as("c"))
      .where(col("c").between(2, BucketCap))
      .select(col("band"), col("bh"))
    val subBands = bands.join(subIds, Seq("doc_id"), "left_semi")
      .join(okBuckets, Seq("band", "bh"), "left_semi")
    (subIds, verifiedPairs(s, dir, bucketPairs(subBands)), affLabels)
  }

  /** q61c: INCREMENTAL cluster maintenance — the arriving q87 batch
    * updates the persisted cluster labels without re-clustering the
    * corpus (round-8 verdict item 6). Affected components (those
    * owning a member of a batch-touched bucket) are re-clustered
    * together with the batch from freshly generated+verified pairs;
    * every other component's rows pass through from the label table
    * untouched. The result is EXACTLY the full recompute — including
    * the hard case where the batch pushes a bucket over the cap and
    * an old component must SPLIT — so q61c shares q61's oracle, and
    * IncrementalClusterSpec pins equality on planted join / bridge /
    * first-edge / cap-split scenarios plus the boundedness of the
    * recomputed scope. */
  def incrementalClusters(s: SparkSession, dir: String,
                          numBands: Int): DataFrame =
    Artifacts.getOrCompute("incrementalClusters", s, Seq(dir), numBands)(
      computeIncrementalClusters(s, dir, numBands).localCheckpoint())

  private def computeIncrementalClusters(s: SparkSession, dir: String,
                                         numBands: Int): DataFrame = {
    // Degenerate-scope guard: incremental maintenance wins when the
    // batch touches FEW docs (the fixture corpus: 4% — and the
    // realistic web-dedup regime, where shards are temporally local).
    // When the touched fraction is large (measured at 50x: a
    // uniformly-sprinkled batch over a replica-densified giant
    // component made 94% of the corpus "affected", and incremental =
    // full recompute + scope overhead, 62 s vs 26 s), the full
    // recompute IS the cheaper plan — take it. Both paths produce
    // identical output, so the switch is invisible to the oracle.
    // spark.graft.incclusters.fullFallback: affected-doc fraction
    // above which to fall back (1.0 disables — the spec uses that to
    // pin the incremental path itself).
    val frac = s.conf.getOption("spark.graft.incclusters.fullFallback")
      .map(v => v.trim.toDoubleOption.filter(f => f >= 0.0 && f <= 1.0)
        .getOrElse(sys.error(
          s"invalid spark.graft.incclusters.fullFallback: '$v' " +
            "(need a fraction in [0, 1]; 1.0 disables the fallback)")))
      .getOrElse(0.5)
    // r13 PRE-gate, on DOC fraction: the round-12 gate compared
    // affected-CLUSTER count to the labeled-cluster total, which
    // under-fires on singleton-heavy corpora — at the measured 10×
    // point the batch touched 86% of DOCS while the cluster fraction
    // stayed under the bar, so the incremental path ran (21 s) where
    // the full recompute was cheaper (14 s). The cost driver is the
    // affected-DOC count (the recompute scope), and a LOWER BOUND on
    // it — touched-bucket corpus docs + the batch — is countable from
    // the memoized corpus band table with one semi-join: no component
    // machinery, no pair generation, so the gate costs a fraction of
    // the scope chain it avoids building.
    if (frac < 1.0) {
      val base = shingleBase(s, dir)
      val (_, _, corpusBands) = preBatchState(s, dir, numBands)
      val batchBands = batchBandsOf(s, dir, numBands)
      val touched = batchBands.select(col("band"), col("bh")).distinct()
      val touchedCorpusN = corpusBands
        .join(touched, Seq("band", "bh"), "left_semi")
        .select(col("doc_id")).distinct().count()
      val batchN = base.where(isBatch).count()
      val totalN = base.count()
      if (totalN > 0 && touchedCorpusN + batchN > frac * totalN)
        return dedupClusters(s, dir, numBands)
    }
    val (_, subPairs, affLabels) = incrementalClusterParts(s, dir, numBands)
    val old = preBatchLabels(s, dir, numBands)
    // component-blow-up backstop: few touched DOCS can still drag in
    // most LABELED CLUSTERS via giant components — the original gate
    val totalClusters = old.select(col("cluster_id")).distinct().count()
    if (totalClusters > 0 && affLabels.count() > frac * totalClusters)
      dedupClusters(s, dir, numBands)
    else {
      val cc = shardCC(s, subPairs)
      old.join(affLabels, Seq("cluster_id"), "left_anti")
        .select(col("doc_id"), col("cluster_id"))
        .unionByName(cc.select(col("node").as("doc_id"),
          col("label").as("cluster_id")))
        .withColumn("is_representative", col("doc_id") === col("cluster_id"))
    }
  }

  // ---- q61d: multi-batch cluster-state maintenance ------------------

  /** Persisted cluster state, two tiers by write pattern:
    *  - `<dir>/v<N>/` — VERSIONED labels/counts/pairs. Round 16: a
    *    version is either a BASE (full tables — the bootstrap wave
    *    and every compactEvery-th wave) or an O(batch) DELTA chained
    *    to one via the `_base` marker (labels as latest-wins rows
    *    with tombstones; counts and pairs as signed sum deltas; the
    *    r15 design rewrote all three fully per wave — the
    *    bytes-proportional linear term at 10×). labels are the
    *    product; counts the per-(band,bh) collision directory; pairs
    *    (round 15) every verified near-dup pair with `support` = the
    *    number of pair-capable buckets containing both endpoints,
    *    bucketed by doc1's hash (partition dirs on bases, a data
    *    column with one-value-per-file footer stats on deltas) so
    *    decrements and a dissolved component's edge list are pruned
    *    reads. Latest = max N. A version is staged under `_tmp_v<N>`
    *    and RENAMED into place only complete, so a reader never sees
    *    a half-written version.
    *  - `<dir>/{bands,sets}/w=<N>/{bb,sb}=<k>` — APPEND-ONLY per-wave
    *    deltas (a doc's band rows and shingle set never change after
    *    ingest); version N's view is the union of waves w ≤ N via
    *    partition pruning on `w`. Round 9 rewrote the FULL accumulated
    *    bands/sets every wave — O(corpus ingested so far) of write
    *    amplification per commit that at 100 TB ingest cadence is the
    *    whole cost; deltas make each commit O(batch) for those two.
    *    Round 15 added the second partition level — a HASH BUCKET
    *    (bands by `pmod(hash(band,bh),B)`, sets by
    *    `pmod(hash(doc_id),B)`, B = spark.graft.clusterstate.buckets
    *    pinned per state dir in `_buckets`) — because the round-14
    *    maintainwin probe measured the per-wave accumulated-state
    *    SCAN as the incremental path's one linear-in-corpus term
    *    (task time 148→231 s over 10 constant-size waves). Each
    *    state table serves exactly ONE access pattern so its
    *    bucketing prunes the read:
    *      bands — by KEY: the versioned `counts` table (one row per
    *        (band,bh) ever seen) is joined to the batch's keys to
    *        find the COLLIDING keys first; their distinct bucket ids
    *        (a ≤B-int collect) drive partition-pruned reads, so a
    *        batch that collides with nothing reads nothing — the
    *        production regime, where arriving content near-dups
    *        recent content, scans O(collisions), not O(corpus);
    *      sets — by DOC: the affected-component ids (touched corpus
    *        docs + their cluster mates) are known before the read,
    *        so their ≤B distinct doc-buckets prune it; the affected
    *        docs' band rows are then RE-DERIVED from the minhash
    *        signature stored in their set rows (32 longs/doc) rather
    *        than read by doc from the band state, which would need a
    *        second, differently-bucketed copy.
    * The four writes are independent and run as concurrent jobs —
    * round 9's ~4 serial driver commits per wave were q61d's entire
    * 6.25 s wall (task time 0.27 s).
    * Retention: [[expireClusterState]] keeps the last
    * spark.graft.clusterstate.retain versions (default 10); wave
    * deltas are cumulative state shared by every version and are
    * never expired. */
  /** Hash-bucket count for the band/set wave deltas, PINNED per state
    * dir at bootstrap (`<dir>/_buckets`): pruning computes the same
    * `pmod(hash(...), B)` the writes used, so B changing mid-stream
    * would silently read the wrong partitions. Session default
    * spark.graft.clusterstate.buckets (16 — at fixture scale the
    * bucket count is per-wave write tasks + files, ~0.1 s/task
    * constant each, while the win-regime prune reads ~0 buckets at
    * any B). Measured sizing rule (SCALING.md round-16 100x ladder +
    * B=256 A/B): a bucket escapes a wave's pruned read only when NO
    * batch doc hashes into it (P ≈ e^(-batch/B)), so the pruned read
    * is ~state x batch/B and pruning requires B >> batch-size, while
    * per-bucket fixed costs grow with B — at fixture batch/corpus
    * ratios (percent-scale waves) the small default with full pair
    * reads is optimal (B=256 cost 3x more and pruned nothing); at
    * production ratios (tiny ingest waves into a huge state) size B
    * so batch/B << 1 AND a bucket's accumulated slice stays a few
    * hundred MB. */
  private def stateBuckets(s: SparkSession, dir: String): Int = {
    val p = new org.apache.hadoop.fs.Path(dir, "_buckets")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt
      finally in.close()
    } else {
      // format guard (round 16): v* dirs WITHOUT a _buckets pin mean a
      // pre-round-15 state layout (unbucketed deltas, set-based pairs).
      // Resuming over it would fail later with an obscure missing-
      // column AnalysisException or a path-not-found on v<N>/pairs —
      // fail up front with the real diagnosis instead.
      val root = new org.apache.hadoop.fs.Path(dir)
      val legacyVersions =
        if (!fs.exists(root)) Seq.empty
        else fs.listStatus(root).toSeq.map(_.getPath.getName)
          .filter(n => n.startsWith("v") && n.drop(1).toIntOption.isDefined)
      if (legacyVersions.nonEmpty) throw new IllegalStateException(
        s"cluster state at $dir uses a pre-bucketed legacy layout " +
          s"(versions ${legacyVersions.sorted.mkString(",")} exist but no " +
          "_buckets pin) — the state format was upgraded in round 15; " +
          "rebuild the state from the corpus (delete the dir and re-run " +
          "bootstrap) or migrate it by rewriting bands/sets with the " +
          "bucketed partitioning before resuming")
      val b = s.conf.getOption("spark.graft.clusterstate.buckets")
        .flatMap(_.toIntOption).filter(_ >= 1).getOrElse(16)
      val out = fs.create(p, true)
      try out.write(b.toString.getBytes("UTF-8")) finally out.close()
      b
    }
  }

  private def latestVersion(s: SparkSession, dir: String): Option[Int] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("v")).flatMap(_.drop(1).toIntOption)
      .sorted.lastOption
  }

  // ---- delta-chain state resolution (round 16). A version is either
  // a BASE (full labels/counts/pairs — the bootstrap wave and every
  // compactEvery-th wave) or a DELTA chained back to its base via the
  // v<N>/_base marker. Per-wave writes are O(batch); the full rewrites
  // whose bytes-proportional cost made the 10x per-wave tail creep
  // linearly in the corpus (r15 verdict: ~79->98 s over waves 4-9)
  // happen only at compaction, amortized O(corpus / compactEvery).

  /** Tombstone label: a dissolved member whose pairs are all gone
    * leaves the label table, exactly as a recompute would drop it.
    * Real labels are min doc ids (>= 0), so -1 can never collide. */
  private val LabelTombstone = -1L

  /** Current label table of a maintained cluster state — the public
    * read face of [[maintainClusterState]]'s persisted state. The
    * on-disk layout is internal (since round 16 a version may be a
    * delta chained to an earlier base); consumers must come through
    * here, not read v<N>/labels directly. */
  def clusterStateLabels(s: SparkSession, stateDir: String): DataFrame =
    latestVersion(s, stateDir) match {
      case Some(v) => labelsView(s, stateDir, v)
      case None =>
        throw new IllegalStateException(s"no cluster state at $stateDir")
    }

  // explicit schemas for every chain read: a wave can legitimately
  // write an EMPTY delta (no touched labels, no new/decremented
  // pairs), and schema inference fails on a parquet dir holding only
  // _SUCCESS — with the schema pinned it reads as empty. (pb is a
  // partition column; listing it lets the empty-dir read still
  // resolve `pb`, and on populated dirs the directory value wins.)
  private val LabelsChainSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("cluster_id",
      org.apache.spark.sql.types.LongType)))
  private val LabelsChainSchemaW = LabelsChainSchema.add(
    org.apache.spark.sql.types.StructField("w",
      org.apache.spark.sql.types.IntegerType))
  private def countsChainSchema(valueCol: String) =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("band",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("bh",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField(valueCol,
        org.apache.spark.sql.types.LongType)))
  private def pairsChainSchema(valueCol: String) =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc1",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("doc2",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField(valueCol,
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("pb",
        org.apache.spark.sql.types.IntegerType)))

  /** The base (full) version of `v`'s delta chain. A version dir
    * without a marker is its own base (pre-round-16 layouts were
    * always full — resuming over them needs no migration). */
  private def baseOf(s: SparkSession, stateDir: String, v: Int): Int = {
    val p = new org.apache.hadoop.fs.Path(s"$stateDir/v$v/_base")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) v
    else {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt
      finally in.close()
    }
  }

  /** Accumulated labels at version `v`: the base's full table plus the
    * chain's per-wave LATEST-WINS deltas (each wave writes at most one
    * row per touched doc; [[LabelTombstone]] rows delete). */
  private def labelsView(s: SparkSession, stateDir: String, v: Int): DataFrame = {
    val b = baseOf(s, stateDir, v)
    val base = s.read.schema(LabelsChainSchema)
      .parquet(s"$stateDir/v$b/labels")
      .select(col("doc_id"), col("cluster_id"))
    val deltaDirs = ((b + 1) to v).map(i => s"$stateDir/v$i/labels_delta")
    if (deltaDirs.isEmpty) base
    else base.withColumn("w", lit(b))
      // ONE scan relation over every delta dir (w is written into the
      // rows): per-version union branches cost a scan task per file
      // per version — measured as the whole within-chain creep at 10x
      // (stage task counts 32 -> 151 across waves 2-8)
      .unionByName(s.read.schema(LabelsChainSchemaW)
        .parquet(deltaDirs: _*))
      .groupBy(col("doc_id"))
      .agg(max(struct(col("w"), col("cluster_id"))).as("m"))
      .select(col("doc_id"), col("m.cluster_id").as("cluster_id"))
      .where(col("cluster_id") =!= lit(LabelTombstone))
  }

  /** Accumulated (band, bh) bucket counts at `v` (sum semantics —
    * counts only grow, so deltas are always positive batch counts). */
  private def countsView(s: SparkSession, stateDir: String, v: Int): DataFrame = {
    val b = baseOf(s, stateDir, v)
    val base = s.read.schema(countsChainSchema("c0"))
      .parquet(s"$stateDir/v$b/counts")
    val deltaDirs = ((b + 1) to v).map(i => s"$stateDir/v$i/counts_delta")
    if (deltaDirs.isEmpty) base
    else base
      .unionByName(s.read.schema(countsChainSchema("dc"))
        .parquet(deltaDirs: _*).withColumnRenamed("dc", "c0"))
      .groupBy(col("band"), col("bh")).agg(sum(col("c0")).as("c0"))
  }

  /** Accumulated pair state at `v` (support = sum of signed deltas;
    * a pair whose support hit 0 can never resurrect — new pairs always
    * involve fresh batch ids — so no tombstones are needed). `pbs`
    * prunes to the given doc1-hash partition buckets: a wave's pair
    * reads are O(touched buckets), never O(stored pairs). */
  private def pairsView(s: SparkSession, stateDir: String, v: Int,
                        pbs: Option[Seq[Int]]): DataFrame = {
    val b = baseOf(s, stateDir, v)
    def prune(df: DataFrame): DataFrame = pbs match {
      case Some(Nil) => df.where(lit(false))
      case Some(list) => df.where(col("pb").isin(list: _*))
      case None => df
    }
    // base: pb is a PARTITION column (dir pruning — the base is the
    // big table). Deltas: pb is a DATA column, each file ~one pb value
    // (written repartitioned by pb), so the isin predicate skips whole
    // files via footer stats — and every delta dir rides ONE scan
    // relation instead of a union branch per version.
    val base = prune(s.read.schema(pairsChainSchema("support"))
        .parquet(s"$stateDir/v$b/pairs"))
      .select(col("doc1"), col("doc2"), col("support").as("ds"))
    val deltaDirs = ((b + 1) to v).map(i => s"$stateDir/v$i/pairs_delta")
    val all =
      if (deltaDirs.isEmpty) base
      else base
        .unionByName(prune(s.read.schema(pairsChainSchema("ds"))
          .parquet(deltaDirs: _*))
          .select(col("doc1"), col("doc2"), col("ds")))
        .groupBy(col("doc1"), col("doc2")).agg(sum(col("ds")).as("ds"))
    all.where(col("ds") >= 1)
      .select(col("doc1"), col("doc2"), col("ds").as("support"))
  }

  /** Apply ONE arriving batch of documents (doc_id, text — ids must
    * be new) to the persisted cluster state at `stateDir`, the
    * GENERALIZED q61c: same affected-component scope, same
    * full-count bucket caps, same exactness argument, but against
    * explicit persisted state instead of the %10 carve-out — so it
    * composes into a streaming sink
    * ([[graft.streaming.DocStream.clusterMaintenanceSink]]) and the
    * maintained labels equal a full recompute over everything
    * ingested so far (MaintainStateSpec). Returns the new label
    * table. */
  def maintainClusterState(s: SparkSession, stateDir: String,
                           batch: DataFrame, numBands: Int): DataFrame = {
    val rowsPerBand = NumHashes / numBands
    // spread the batch BEFORE the featurize (the tokenizedBase
    // pattern): shingle+minhash+sorted-hash extraction is the
    // heaviest per-doc compute in the wave, and without the explicit
    // exchange it runs at the arriving batch's file-layout
    // parallelism (the q61d 10x probe showed it as the wave's
    // narrow stage). One cheap exchange of (doc_id, text), then the
    // localCheckpoint below materializes the featurized rows wide.
    val batchSets = batch
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"),
        graft.functions.expressions.ArrayOps
          .wordShingles(Text.tokens(col("text")), ShingleK).as("sh"))
      .where(size(col("sh")) >= 1)
      .withColumn("mh", graft.functions.expressions.ArrayOps
        .minhashSig(col("sh"), NumHashes))
      .withColumn("shx", graft.functions.expressions.ArrayOps
        .sortedHashes(col("sh")))
      .select(col("doc_id"), col("mh"), col("shx"),
        size(col("sh")).as("n"))
      .localCheckpoint()
    // no checkpoint: a projection of the CHECKPOINTED batchSets —
    // each of its ~4 uses re-derives from materialized rows for less
    // than a dedicated job barrier costs per wave
    val batchBands = batchSets.select(
      col("doc_id"),
      posexplode(Text.lshBandKeys(col("mh"), numBands, rowsPerBand))
        .as(Seq("band", "bh")))
      .select(col("doc_id"), col("band"), col("bh"))
    val batchCounts = batchBands.groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("cb"))
    // mh rides along in the set rows (32 longs/doc) so an affected
    // doc's band keys are re-derivable without a by-doc band read
    def setsFor(df: DataFrame) =
      df.select(col("doc_id"), col("mh"), col("shx"), col("n"))
    def verify(cand: DataFrame, sets: DataFrame): DataFrame =
      cand
        .join(sets.select(col("doc_id").as("doc1"), col("shx").as("sh1"),
          col("n").as("n1")), "doc1")
        .join(sets.select(col("doc_id").as("doc2"), col("shx").as("sh2"),
          col("n").as("n2")), "doc2")
        .withColumn("inter", graft.functions.expressions.ArrayOps
          .sortedIntersectCount(col("sh1"), col("sh2")))
        .where(round(jaccard(col("inter"), col("n1"), col("n2")), 4) >= 0.1)
        .select(col("doc1"), col("doc2"))

    // ---- wave application over the delta-chain state (round 16).
    // Ordinary waves write O(batch) DELTAS for all five state tables;
    // compaction waves (every compactEvery-th, and the bootstrap)
    // rewrite labels/counts/pairs in full and start a new chain. The
    // r15 design rewrote labels/counts/pairs fully EVERY wave — the
    // bytes-proportional cost the 10x probe measured as the residual
    // per-wave creep (~79->98 s across waves 4-9).
    val nBuckets = stateBuckets(s, stateDir)
    val compactEvery = s.conf.getOption("spark.graft.clusterstate.compactEvery")
      .flatMap(_.toIntOption).filter(_ >= 1).getOrElse(8)
    val prevVersion = latestVersion(s, stateDir)
    val next = prevVersion.map(_ + 1).getOrElse(0)
    val newBands = batchBands
    val newSets = setsFor(batchSets)
    var unpersistables: Seq[DataFrame] = Seq.empty

    // (full-write?, labels out, counts out, pairs out, base marker)
    val (writeFull, labelsOut, countsOut, pairsOut, baseMarker) =
      prevVersion match {
        case None =>
          // bootstrap: the first batch clusters against itself; the
          // verified pairs seed the PAIR STATE with their bucket
          // support counts. Always a BASE version.
          val okB = batchCounts.where(col("cb").between(2, BucketCap))
            .select(col("band"), col("bh"))
          val candCounts = bucketPairCounts(
            batchBands.join(okB, Seq("band", "bh"), "left_semi"))
          val pairs = verify(candCounts.select(col("doc1"), col("doc2")),
            setsFor(batchSets))
          val pairState = pairs.join(candCounts, Seq("doc1", "doc2"))
            .select(col("doc1"), col("doc2"), col("nb").as("support"))
          val labels = shardCC(s, pairs)
            .select(col("node").as("doc_id"), col("label").as("cluster_id"))
          (true, labels, batchCounts.withColumnRenamed("cb", "c0"),
            pairState, next)

        case Some(v) =>
          val base = baseOf(s, stateDir, v)
          // pruned accumulated-state read: waves w <= v (stray
          // post-crash deltas excluded) AND only the listed hash
          // buckets — both are partition columns, so Catalyst prunes
          // the untouched directories at planning time
          def wavesPruned(name: String, bucketCol: String,
                          buckets: Seq[Int]): DataFrame = {
            val df = s.read
              .option("basePath", s"$stateDir/$name")
              .parquet(s"$stateDir/$name")
              .where(col("w") <= v)
            (if (buckets.isEmpty) df.where(lit(false))
             else df.where(col(bucketCol).isin(buckets: _*)))
              .drop("w", bucketCol)
          }
          // one merged (band,bh) count view serves the affected-scope
          // gate, the pair-bucket filter, the counts delta, and the
          // compaction rewrite: c0 = accumulated, cb = this batch,
          // c = after. PERSISTED (round-16 barrier diet): previously
          // every downstream key-set re-evaluated the counts read +
          // full_outer join inside its own job's lineage.
          val merged = countsView(s, stateDir, v)
            .join(batchCounts, Seq("band", "bh"), "full_outer")
            .select(col("band"), col("bh"),
              coalesce(col("c0"), lit(0L)).as("c0"),
              coalesce(col("cb"), lit(0L)).as("cb"))
            .withColumn("c", col("c0") + col("cb"))
            .persist()
          unpersistables :+= merged
          // PAIR-RELEVANT collisions only (round 15): a touched bucket
          // can change an edge only if pairs could exist in it before
          // (2 <= c0 <= cap) or can after (2 <= c <= cap). A bucket
          // over the cap in BOTH states contributes no pair in either.
          // The collect is bounded by nBuckets ints.
          // ---- COMPONENT CONTRACTION over a PERSISTED PAIR STATE
          // (round 15). Invariant: the pair view at v holds every
          // verified pair with `support` = the number of pair-capable
          // buckets (2 <= count <= cap) containing both endpoints.
          // Counts only grow, so a pair's support changes in exactly
          // two ways:
          //   - a bucket the batch wrote into crosses the cap
          //     (2 <= c0 <= cap < c): it stops supporting the stored
          //     pairs among its corpus docs — a bounded decrement
          //     (crossed buckets hold <= cap docs each), NO
          //     re-verification;
          //   - a batch doc lands in a pair-capable bucket: its pairs
          //     there are verified (the ONLY per-wave set-intersect
          //     work) and inserted with their bucket counts. A
          //     corpus-corpus pair cannot newly appear.
          // Clustering then never re-derives a standing component:
          // clusters losing an edge ENTIRELY (support hit 0) are
          // dissolved (their surviving edges come from the pair
          // state); every other cluster is CONTRACTED to one
          // super-node (cluster_id = min member id keeps min-labels
          // exact; components are edge-closed).
          val crossedKeys = merged
            .where(col("c0").between(2, BucketCap) &&
              col("c") > BucketCap).select(col("band"), col("bh"))
          // touched pair-capable keys: an existing corpus doc can gain
          // an edge only in a bucket the batch wrote into (cb >= 1)
          // that is pair-capable after (2 <= c <= cap)
          val touchedKeys = merged
            .where(col("cb") >= 1 && col("c0") >= 1 &&
              col("c").between(2, BucketCap))
            .select(col("band"), col("bh"))
          val collidingBbs = crossedKeys.unionByName(touchedKeys)
            .select(pmod(hash(col("band"), col("bh")), lit(nBuckets))
              .as("bb")).distinct()
            .collect().map(_.getInt(0)).toSeq
          val prunedBands = wavesPruned("bands", "bb", collidingBbs)
          // support decrements: stored pairs among a crossed bucket's
          // corpus docs, with the number of crossed buckets containing
          // both (a pair can lose several supports in one wave)
          val removedCounts = bucketPairCounts(prunedBands
            .join(crossedKeys, Seq("band", "bh"), "left_semi"))
            .withColumnRenamed("nb", "rm")
          val touchedCorpus = prunedBands
            .join(touchedKeys, Seq("band", "bh"), "left_semi")
            .select(col("doc_id")).distinct()
          // ONE bounded collect for BOTH pruning lists (r15 ran two):
          // touched docs' set-buckets and the decremented pairs'
          // doc1-buckets — each <= nBuckets ints
          val bucketLists = touchedCorpus
            .select(pmod(hash(col("doc_id")), lit(nBuckets)).as("b"),
              lit("s").as("t"))
            .unionByName(removedCounts
              .select(pmod(hash(col("doc1")), lit(nBuckets)).as("b"),
                lit("r").as("t")))
            .distinct().collect()
          val subSbs = bucketLists.filter(_.getString(1) == "s")
            .map(_.getInt(0)).toSeq
          val rmPbs = bucketLists.filter(_.getString(1) == "r")
            .map(_.getInt(0)).toSeq
          // sets are read ONLY for the touched docs — the batch's
          // verification counterparties; dissolution reads no sets
          val corpusSubSets = wavesPruned("sets", "sb", subSbs)
            .join(touchedCorpus, Seq("doc_id"), "left_semi")
          // pair-capable buckets the batch wrote into — the only
          // places a new pair can form
          val pairBuckets = merged
            .where(col("cb") >= 1 && col("c").between(2, BucketCap))
            .select(col("band"), col("bh"))
          // touched docs' band rows re-derived from their stored
          // minhash sig — identical keys to what the band state holds
          // for them, without a by-doc band-state access pattern
          val corpusSubBands = corpusSubSets.select(
            col("doc_id"),
            posexplode(Text.lshBandKeys(col("mh"), numBands, rowsPerBand))
              .as(Seq("band", "bh")))
            .select(col("doc_id"), col("band"), col("bh"))
          val candCounts = bucketPairCounts(
            corpusSubBands.unionByName(batchBands)
              .join(pairBuckets, Seq("band", "bh"), "left_semi"))
          // batch-involving candidates only: a corpus-corpus pair in a
          // touched bucket is already stored (the bucket was
          // pair-capable before) and its support there is unchanged
          val batchIds = batchSets.select(col("doc_id"))
          val newCand = candCounts
            .join(batchIds.select(col("doc_id").as("doc1"),
              lit(1).as("b1")), Seq("doc1"), "left")
            .join(batchIds.select(col("doc_id").as("doc2"),
              lit(1).as("b2")), Seq("doc2"), "left")
            .where(col("b1").isNotNull || col("b2").isNotNull)
            .select(col("doc1"), col("doc2"), col("nb"))
          val verifiedNewRaw = verify(newCand.select(col("doc1"), col("doc2")),
            corpusSubSets.unionByName(setsFor(batchSets)))
            .join(newCand, Seq("doc1", "doc2"))
            .select(col("doc1"), col("doc2"), col("nb").as("support"))
          // stored-pair decrements, PRUNED to the crossed buckets'
          // doc1-hash partitions (r15 scanned the full pair table and
          // rewrote it whole; now only touched partitions are read and
          // only signed delta rows are written)
          // persisted: the pruned view is consumed twice inside the
          // fused checkpoint job (decrement rows + dissolution scope)
          // and its reconstruction is a groupBy over the chain
          val pairsTouchedV = pairsView(s, stateDir, v, Some(rmPbs)).persist()
          unpersistables :+= pairsTouchedV
          val decTouched = pairsTouchedV
            .join(removedCounts, Seq("doc1", "doc2"))
            .select(col("doc1"), col("doc2"), (-col("rm")).as("ds"),
              (col("support") - col("rm")).as("after"))
          // accumulated labels, persisted for the wave's three uses
          // (dissolution scope, contraction map, delta emission)
          val labelsV = labelsView(s, stateDir, v).persist()
          unpersistables :+= labelsV
          val droppedEndsExpr = decTouched.where(col("after") <= 0)
            .select(explode(array(col("doc1"), col("doc2")))
              .as("doc_id")).distinct()
          // ONE checkpoint job for the wave's three small reused
          // frames (r15 ran two): new pairs 'p', support decrements
          // 'd', dissolved cluster ids 'a'
          val fused = verifiedNewRaw
            .select(lit("p").as("t"), col("doc1").as("a"),
              col("doc2").as("b"), col("support").as("c"))
            .unionByName(decTouched
              .select(lit("d").as("t"), col("doc1").as("a"),
                col("doc2").as("b"), col("ds").as("c")))
            .unionByName(labelsV.join(droppedEndsExpr, Seq("doc_id"))
              .select(col("cluster_id")).distinct()
              .select(lit("a").as("t"), col("cluster_id").as("a"),
                lit(0L).as("b"), lit(0L).as("c")))
            .localCheckpoint()
          val verifiedNew = fused.where(col("t") === "p")
            .select(col("a").as("doc1"), col("b").as("doc2"),
              col("c").as("support"))
          val pairDeltaNeg = fused.where(col("t") === "d")
            .select(col("a").as("doc1"), col("b").as("doc2"),
              col("c").as("ds"))
          val affLabels = fused.where(col("t") === "a")
            .select(col("a").as("cluster_id"))
          val contractMap = labelsV
            .join(affLabels, Seq("cluster_id"), "left_anti")
          // dissolved components' surviving edges come from the pair
          // state, pruned by the members' doc1-buckets (bounded
          // collect; empty on the steady-state no-dissolution path).
          // Components are edge-closed: doc1-side membership suffices.
          val dissolved = labelsV
            .join(affLabels, Seq("cluster_id"), "left_semi")
          val memberPbs = dissolved
            .select(pmod(hash(col("doc_id")), lit(nBuckets)).as("b"))
            .distinct().collect().map(_.getInt(0)).toSeq
          val closureEdges = pairsView(s, stateDir, v, Some(memberPbs))
            .join(dissolved.select(col("doc_id").as("doc1")),
              Seq("doc1"), "left_semi")
            .join(pairDeltaNeg, Seq("doc1", "doc2"), "left")
            .where(col("support") + coalesce(col("ds"), lit(0L)) >= 1)
            .select(col("doc1"), col("doc2"))
          if (s.conf.getOption("spark.graft.clusterstate.debug")
                .contains("true"))
            System.err.println(s"[clusterstate] v=$v base=$base " +
              s"colliding_bbs=${collidingBbs.length} " +
              s"sub_sbs=${subSbs.length} rm_pbs=${rmPbs.length} " +
              s"member_pbs=${memberPbs.length} " +
              s"touched=${touchedCorpus.count()} " +
              s"dissolved_clusters=${affLabels.count()} " +
              s"new_pairs=${verifiedNew.count()}")
          // a surviving corpus-corpus edge between two contracted docs
          // maps to a self-loop and drops
          val superEdges = verifiedNew.select(col("doc1"), col("doc2"))
            .unionByName(closureEdges)
            .join(contractMap.select(col("doc_id").as("doc1"),
              col("cluster_id").as("s1")), Seq("doc1"), "left")
            .join(contractMap.select(col("doc_id").as("doc2"),
              col("cluster_id").as("s2")), Seq("doc2"), "left")
            .select(coalesce(col("s1"), col("doc1")).as("n1"),
              coalesce(col("s2"), col("doc2")).as("n2"))
            .where(col("n1") =!= col("n2"))
            .select(col("n1"), col("n2"))
          val cc = shardCC(s, superEdges)
          // relabel merged super-nodes; emit direct rows for every cc
          // node that is not a contracted member (batch docs,
          // dissolved members that kept pairs, touched singletons)
          val relabel = cc.where(col("label") =!= col("node"))
            .select(col("node").as("cluster_id"),
              col("label").as("new_cluster_id"))
          val direct = cc
            .select(col("node").as("doc_id"), col("label").as("cluster_id"))
            .join(contractMap.select(col("doc_id")), Seq("doc_id"),
              "left_anti")
          val compact = (next - base) >= compactEvery
          if (compact) {
            // compaction: full rewrites, new chain base — the
            // amortized O(corpus / compactEvery) bill
            val updatedFull = contractMap
              .join(relabel, Seq("cluster_id"), "left")
              .select(col("doc_id"),
                coalesce(col("new_cluster_id"), col("cluster_id"))
                  .as("cluster_id"))
              .unionByName(direct)
            val pairsFull = pairsView(s, stateDir, v, None)
              .join(pairDeltaNeg, Seq("doc1", "doc2"), "left")
              .select(col("doc1"), col("doc2"),
                (col("support") + coalesce(col("ds"), lit(0L)))
                  .as("support"))
              .where(col("support") >= 1)
              .unionByName(verifiedNew)
            (true, updatedFull,
              merged.select(col("band"), col("bh"), col("c").as("c0")),
              pairsFull, next)
          } else {
            // delta wave: one latest-wins row per touched doc —
            // members of merged clusters get their new id, cc nodes
            // outside the contraction get direct rows, dissolved
            // members with no surviving pairs get tombstones (the
            // three sets are disjoint by construction)
            val changed = contractMap.join(relabel, Seq("cluster_id"))
              .select(col("doc_id"), col("new_cluster_id").as("cluster_id"))
            val tombstones = dissolved.select(col("doc_id"))
              .join(direct.select(col("doc_id")), Seq("doc_id"), "left_anti")
              .select(col("doc_id"), lit(LabelTombstone).as("cluster_id"))
            val labelsDelta = changed.unionByName(direct)
              .unionByName(tombstones)
            val pairsDelta = verifiedNew
              .select(col("doc1"), col("doc2"), col("support").as("ds"))
              .unionByName(pairDeltaNeg)
            (false, labelsDelta, batchCounts.withColumnRenamed("cb", "dc"),
              pairsDelta, base)
          }
      }
    val tmp = s"$stateDir/_tmp_v$next"
    val out = s"$stateDir/v$next"
    // one commit = five independent concurrent jobs (two O(batch)
    // bands/sets wave deltas + the three versioned outputs), then an
    // atomic-ish rename makes the version visible only complete
    locally {
      import scala.concurrent.{Await, ExecutionContext, Future}
      val pool = java.util.concurrent.Executors.newFixedThreadPool(5)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      // Write-task budget (r17). Thread dumps of the wave showed the
      // dominant non-CPU term: EVERY write task deserializes the job's
      // SerializableConfiguration, whose readObject gunzips ~2k
      // compressed strings — one java.util.zip.Inflater create+end per
      // string, and Inflater.end() takes the JVM-GLOBAL PhantomCleanable
      // list lock, so concurrent write tasks serialize on it (19 of 35
      // executor threads BLOCKED there mid-wave). These five outputs are
      // O(batch) delta rows; spreading them across nBuckets..32 tasks
      // each bought no bandwidth and paid ~112 conf-gunzip storms per
      // wave. A small explicit task count (REPARTITION_BY_NUM — still
      // AQE-coalesce-exempt, so the old one-task-writes-all-buckets
      // collapse cannot return) keeps the partitionBy dir layout (dir
      // pruning is task-count-independent) and cuts the storm ~4x.
      // Production: delta bytes scale with the batch, so size this with
      // the batch (spark.graft.clusterstate.writeTasks), not nBuckets.
      val writeTasks = s.conf
        .getOption("spark.graft.clusterstate.writeTasks")
        .flatMap(_.toIntOption).filter(_ >= 1)
        .getOrElse(math.min(4, nBuckets))
      try Await.result(Future.sequence(Seq(
        Future { newBands
          .withColumn("bb",
            pmod(hash(col("band"), col("bh")), lit(nBuckets)))
          .repartition(writeTasks, col("bb"))
          .write.mode("overwrite").partitionBy("bb")
          .parquet(s"$stateDir/bands/w=$next") },
        Future { newSets
          .withColumn("sb", pmod(hash(col("doc_id")), lit(nBuckets)))
          .repartition(writeTasks, col("sb"))
          .write.mode("overwrite").partitionBy("sb")
          .parquet(s"$stateDir/sets/w=$next") },
        Future { countsOut.coalesce(writeTasks).write.mode("overwrite")
          .parquet(s"$tmp/${if (writeFull) "counts" else "counts_delta"}") },
        // pair rows bucketed by doc1's hash so decrements and
        // dissolved-component edge reads stay pruned: the FULL base
        // uses pb partition dirs (task-count-independent); DELTAS keep
        // pb as a data column, SORTED within each write task so row
        // groups are pb-contiguous — the chain read's isin predicate
        // then skips at row-group granularity via parquet stats even
        // though a file now spans several pb values (range
        // partitioning would keep whole-file skipping but costs a
        // sampling job per wave)
        Future {
          val pc = pairsOut
            .withColumn("pb", pmod(hash(col("doc1")), lit(nBuckets)))
          if (writeFull)
            pc.repartition(writeTasks, col("pb"))
              .write.mode("overwrite").partitionBy("pb")
              .parquet(s"$tmp/pairs")
          else pc.repartition(writeTasks, col("pb"))
            .sortWithinPartitions(col("pb"))
            .write.mode("overwrite").parquet(s"$tmp/pairs_delta")
        },
        Future {
          if (writeFull) labelsOut.coalesce(writeTasks)
            .write.mode("overwrite").parquet(s"$tmp/labels")
          else labelsOut.withColumn("w", lit(next)).coalesce(writeTasks)
            .write.mode("overwrite").parquet(s"$tmp/labels_delta")
        }
      )), scala.concurrent.duration.Duration.Inf)
      finally pool.shutdown()
    }
    // the _base marker rides inside the tmp dir: a version becomes
    // visible complete (marker included) or not at all
    locally {
      val mp = new org.apache.hadoop.fs.Path(s"$tmp/_base")
      val mfs = mp.getFileSystem(s.sparkContext.hadoopConfiguration)
      val o = mfs.create(mp, true)
      try o.write(baseMarker.toString.getBytes("UTF-8")) finally o.close()
    }
    val p = new org.apache.hadoop.fs.Path(out)
    val fsys = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    fsys.rename(new org.apache.hadoop.fs.Path(tmp), p)
    unpersistables.foreach(df => df.unpersist(false))
    val retain = s.conf.getOption("spark.graft.clusterstate.retain")
      .flatMap(_.toIntOption).filter(_ >= 1).getOrElse(10)
    expireClusterState(s, stateDir, retain)
    labelsView(s, stateDir, next)
  }

  /** Keep only the newest `keepLast` state VERSIONS under `stateDir`
    * (mirrors Snapshots' expire semantics) — plus, since round 16,
    * every version a retained delta chain resolves through, so the
    * real dir bound is keepLast + compactEvery - 1. Wave deltas are
    * shared cumulative state and are never touched. Returns the
    * number of versions removed. Runs automatically after every
    * [[maintainClusterState]] commit (spark.graft.clusterstate.retain,
    * default 10) so an always-on ingest cannot grow the state dir
    * unboundedly in versions. */
  def expireClusterState(s: SparkSession, stateDir: String,
                         keepLast: Int): Int = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val p = new org.apache.hadoop.fs.Path(stateDir)
    val fsys = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fsys.exists(p)) return 0
    val versions = fsys.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("v")).flatMap(_.drop(1).toIntOption).sorted
    // a retained delta version resolves through EVERY version from its
    // chain's base up — drop only versions below the oldest base any
    // kept version needs, so dir count is bounded by
    // keepLast + compactEvery, not keepLast alone
    val kept = versions.takeRight(keepLast)
    val floor = kept.map(v => baseOf(s, stateDir, v)).minOption.getOrElse(0)
    val drop = versions.filter(_ < math.min(floor,
      kept.headOption.getOrElse(Int.MaxValue)))
    drop.foreach(n => fsys.delete(new org.apache.hadoop.fs.Path(p, s"v$n"), true))
    drop.size
  }

  /** q61d: the multi-batch maintenance path under the driver's oracle
    * gate — ingest the corpus in three waves (doc_id mod 3) through
    * [[maintainClusterState]] on a fresh state dir; the final label
    * table equals the full recompute whatever the arrival order, so
    * it shares q61's oracle. */
  def clusterMaintenanceReplay(s: SparkSession, dir: String,
                               numBands: Int): DataFrame =
    Artifacts.getOrCompute("clusterMaintenanceReplay", s, Seq(dir), numBands) {
      val state = java.nio.file.Files
        .createTempDirectory("graft_q61d_state").toString
      val d = docs(s, dir)
      var labels: DataFrame = null
      for (w <- 0 until 3)
        labels = maintainClusterState(s, state,
          d.where(pmod(col("doc_id"), lit(3)) === w)
            .select(col("doc_id"), col("text")), numBands)
      labels
        .withColumn("is_representative", col("doc_id") === col("cluster_id"))
        .localCheckpoint()
    }

  /** Min-label connected components over an undirected pair list
    * (columns: two numeric ids). Returns (node, label) with label =
    * the component's minimum id. Factored from the dedup pipeline so
    * the algorithm is testable on arbitrary graphs.
    *
    * `maxRounds` is a convergence bound: pointer jumping needs
    * ~log2(diameter) rounds, so the default 16 covers diameters up to
    * ~65k. If the loop exits with labels still changing (adversarially
    * deep graphs), the result would be non-minimal — that is an ERROR,
    * not a silent degradation: raise `maxRounds` for such graphs.
    *
    * `reliable = true` swaps the lineage truncation from
    * localCheckpoint (executor-local blocks: fast, but a lost executor
    * FAILS the job — truncated lineage cannot recompute) to a reliable
    * checkpoint in `spark.sparkContext.getCheckpointDir`. That is the
    * right setting for a multi-hour 100 TB clustering pass, where the
    * probability of losing one of 1000 executors mid-loop approaches 1
    * and re-running the whole iteration costs more than the HDFS
    * round-trip per round. Requires setCheckpointDir; default stays
    * local for short interactive runs. */
  def connectedComponents(pairs: DataFrame, maxRounds: Int = 16,
                          reliable: Boolean = false): DataFrame = {
    val (c1, c2) = (pairs.columns(0), pairs.columns(1))
    if (reliable)
      require(pairs.sparkSession.sparkContext.getCheckpointDir.isDefined,
        "reliable=true needs spark.sparkContext.setCheckpointDir(...)")
    // dropOriginStats: checkpoint preserves the ORIGINAL plan's size
    // statistics, and this loop's self-joins compound them ~12x per
    // round — the estimate's exponent grows as 12^rounds and
    // overflows BigInteger near round 9 (measured at 50x; see
    // GraftBridge.dropOriginStats). Lineage AND stats both truncate.
    def truncate(df: DataFrame): DataFrame =
      org.apache.spark.sql.GraftBridge.dropOriginStats(
        if (reliable) df.checkpoint(true) else df.localCheckpoint(true))
    // lineage truncation (not cache) everywhere in the loop: each
    // round's self-join would otherwise DOUBLE the logical plan, and
    // Catalyst re-analyzes the whole lineage per action — measured
    // 1.9s -> 3.2s -> 10.9s per round at sf0.1 before truncation.
    val edges = truncate(pairs.select(col(c1), col(c2))
      .union(pairs.select(col(c2), col(c1)))
      .toDF("u", "v"))
    var labels = truncate(edges.select(col("u").as("node")).distinct()
      .withColumn("label", col("node")))
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < maxRounds) {
      val nbrMin = edges
        .join(labels.select(col("node").as("v"), col("label").as("vl")), "v")
        .groupBy(col("u")).agg(min(col("vl")).as("nl"))
      val prop = labels
        .join(nbrMin.select(col("u").as("node"), col("nl")), Seq("node"), "left")
        .select(col("node"),
                least(col("label"), coalesce(col("nl"), col("label"))).as("label"))
      // pointer jump x2: follow the label two more hops. One
      // propagate+jump round advances a path-graph frontier ~2x per
      // round; the second jump squares the chase (~4x) for one extra
      // same-keyed join — at cluster scale a ROUND is a full shuffle
      // of edges+labels plus a count action, so fewer rounds beat a
      // thinner round (measured at 50x on the giant-component
      // corpus: 17+ rounds -> converges inside the default 16).
      // truncate BETWEEN stages, not just after: jump(df) references
      // df twice, so un-truncated nesting evaluates prop's
      // edges⋈labels aggregation 4x per round — measured as a ~10x
      // round-time blowup at 50x. With per-stage truncation the
      // expensive propagate subtree runs exactly once per round and
      // the self-joins read label-sized checkpoint blocks.
      def jump(df: DataFrame): DataFrame = df
        .join(df.select(col("node").as("label"), col("label").as("ll")),
              Seq("label"), "left")
        .select(col("node"), coalesce(col("ll"), col("label")).as("label"))
      val p0 = truncate(prop)
      val j1 = truncate(jump(p0))
      val jumped = truncate(jump(j1))
      changed = jumped
        .join(labels.withColumnRenamed("label", "old"), "node")
        .where(col("label") =!= col("old")).count()
      // round-scoped checkpoints (and the superseded labels) die here,
      // not with the JVM — 3 truncations/round would otherwise pin
      // 3*rounds label-sized block sets in the block manager
      Artifacts.unpersist((p0, j1, labels))
      labels = jumped
      rounds += 1
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxRounds rounds " +
          s"($changed labels still changing) — labels would be non-minimal; " +
          "raise spark.graft.cc.maxRounds (rounds grow with log2 of " +
          "component diameter)")
    labels
  }

  /** DuckDB oracle for [[dedupClusters]]: the same pair CTEs extended
    * with a recursive reachability closure; cluster id = min reachable
    * node. Safe to enumerate: the pair graph is candidate-bounded. */
  def clustersOracleSql(numBands: Int): String =
    s"""WITH RECURSIVE ${minhashPairsCtes(numBands)},
       |edges AS (
       |  SELECT doc1 AS u, doc2 AS v FROM pairs
       |  UNION SELECT doc2, doc1 FROM pairs),
       |reach(u, v) AS (
       |  SELECT u, v FROM edges
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v
       |  WHERE e.v <> r.u)
       |SELECT u AS doc_id, least(u, min(v)) AS cluster_id,
       |  u = least(u, min(v)) AS is_representative
       |FROM reach GROUP BY u""".stripMargin

  /** DuckDB rendering of the md5 hash family (ArrayOpsImpl doc):
    * x = hex chars 1-8 (32-bit), g_j = (a_j*x + b_j) mod (2^31-1)
    * with a_j/b_j re-derived from md5("graft_mh_a"/"_b" + j) — the
    * 2-independent construction; constants and modulus must match
    * ArrayOpsImpl bit for bit. */
  private val duckShingleCte =
    """tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    CASE WHEN len(t) >= 2
      |         THEN list_distinct(list_transform(generate_series(1, len(t) - 1),
      |                i -> t[i] || ' ' || t[i + 1]))
      |         ELSE []::VARCHAR[] END AS sh
      |  FROM tok),
      |hp AS (
      |  SELECT doc_id, sh, len(sh) AS n,
      |    list_transform(sh,
      |      s -> ('0x' || substring(md5(s), 1, 8))::BIGINT) AS hx,
      |    list_transform(sh,
      |      s -> ('0x' || substring(md5(s), 1, 14))::BIGINT) AS hxv
      |  FROM sh WHERE len(sh) >= 1),
      |mh AS (
      |  SELECT doc_id, sh, n,
      |    list_transform(range(0, 32), j ->
      |      list_min(list_transform(hx, x ->
      |        ((((('0x' || substring(md5('graft_mh_a' || j), 1, 8))::BIGINT
      |              & 1073741823) | 1) * x
      |          + (('0x' || substring(md5('graft_mh_b' || j), 1, 8))::BIGINT
      |              & 1073741823))
      |         % 2147483647)))) AS mh
      |  FROM hp)""".stripMargin

  /** DuckDB rendering of the md5 SimHash (SimHashImpl doc): vote bits
    * 0-31 from hex chars 1-8, 32-63 from chars 9-16; bit 63 packs as
    * int64 min to avoid DuckDB's checked `1 << 63` overflow. */
  private val duckSimhashCte =
    """fp AS (
      |  SELECT doc_id, source,
      |    CAST(list_sum(list_transform(range(0, 64), b ->
      |      CASE WHEN list_sum(list_transform(string_split(text, ' '), tok ->
      |             CASE WHEN (CASE WHEN b < 32
      |                   THEN ('0x' || substring(md5(tok), 1, 8))::BIGINT >> b
      |                   ELSE ('0x' || substring(md5(tok), 9, 8))::BIGINT >> (b - 32)
      |                 END) & 1 = 1 THEN 1 ELSE -1 END)) > 0
      |           THEN CASE WHEN b = 63 THEN -9223372036854775807 - 1
      |                     ELSE 1::BIGINT << b END
      |           ELSE 0 END)) AS BIGINT) AS simhash
      |  FROM documents)""".stripMargin

  /** Shared DuckDB prelude of every span-family oracle (q70/q70b,
    * q83, q84): tokenized docs + stride-1 SpanW-gram keys as
    * spans(doc_id, i, span) — ONE rendering so the replayed hash
    * family cannot drift between the oracles it feeds. Powers-of-two
    * weights: see SpanKeysExpr (subset sums distinct). */
  private def spanOracleCtes: String = {
    val rolled = (1 to SpanW)
      .map(j => s"th[i + $j] * ${1L << (j - 1)}").mkString(" + ")
    s"""t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |h AS (
       |  SELECT doc_id, toks,
       |    list_transform(toks,
       |      tk -> ('0x' || substring(md5(tk), 1, 14))::BIGINT) AS th
       |  FROM t),
       |sp AS (
       |  SELECT doc_id,
       |    unnest(list_transform(generate_series(0, len(toks) - $SpanW),
       |      i -> struct_pack(i := i, span := $rolled))) AS s
       |  FROM h WHERE len(toks) >= $SpanW),
       |spans AS (SELECT doc_id, s.i AS i, s.span AS span FROM sp)""".stripMargin
  }

  /** Shared reassembly tail of the APPLY oracles (q83/q84): a
    * `cov(doc_id, p)` CTE upstream -> kept token count + position-
    * ordered kept text per doc. */
  private def applyOracleTail: String =
    s"""tok AS (
       |  SELECT doc_id,
       |    unnest(list_transform(generate_series(1, len(toks)),
       |      j -> struct_pack(p := j - 1, tok := toks[j]))) AS u
       |  FROM t),
       |kept AS (
       |  SELECT k.doc_id, count(*) AS kept_tokens,
       |    string_agg(k.u.tok, ' ' ORDER BY k.u.p) AS kept_text
       |  FROM tok k LEFT JOIN cov c
       |    ON c.doc_id = k.doc_id AND c.p = k.u.p
       |  WHERE c.p IS NULL
       |  GROUP BY k.doc_id)
       |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
       |  CAST(coalesce(k.kept_tokens, 0) AS BIGINT) AS kept_tokens,
       |  coalesce(k.kept_text, '') AS kept_text
       |FROM t LEFT JOIN kept k ON k.doc_id = t.doc_id""".stripMargin

  /** q70's DuckDB replay; shared verbatim by q70b (the salted shape's
    * contract is identical output, so it carries the identical
    * oracle). */
  private def q70OracleSql: String =
    s"""WITH $spanOracleCtes,
       |rep AS (
       |  SELECT span FROM spans GROUP BY span
       |  HAVING count(DISTINCT doc_id) >= 2),
       |cov AS (
       |  SELECT doc_id, count(*) AS covered FROM (
       |    SELECT DISTINCT doc_id, unnest(generate_series(i, i + ${SpanW - 1})) AS p
       |    FROM spans JOIN rep USING (span))
       |  GROUP BY doc_id)
       |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
       |  CAST(coalesce(c.covered, 0) AS BIGINT) AS covered_tokens
       |FROM t LEFT JOIN cov c ON c.doc_id = t.doc_id""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q33_minhash_pairs" -> minhashOracleSql(DefaultBands),
    "q33b_minhash_b16" -> minhashOracleSql(16),
    "q81_containment" -> containmentOracleSql(DefaultBands),

    "q106_edit_distance_dedup" ->
      s"""WITH ${candCtes(DefaultBands)},
         |ed AS (
         |  SELECT c.doc1, c.doc2,
         |    CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist,
         |    CAST(greatest(length(a.text), length(b.text)) AS BIGINT)
         |      AS max_len
         |  FROM cand c
         |  JOIN documents a ON a.doc_id = c.doc1
         |  JOIN documents b ON b.doc_id = c.doc2)
         |SELECT doc1, doc2, edit_dist, max_len FROM ed
         |WHERE edit_dist * 5 <= max_len * 2""".stripMargin,

    "q106b_edit_distance_capped" ->
      s"""WITH ${candCtes(DefaultBands)},
         |ed AS (
         |  SELECT c.doc1, c.doc2,
         |    CAST(levenshtein(left(a.text, $EditPrefixCap),
         |                     left(b.text, $EditPrefixCap)) AS BIGINT)
         |      AS edit_dist,
         |    CAST(greatest(length(left(a.text, $EditPrefixCap)),
         |                  length(left(b.text, $EditPrefixCap))) AS BIGINT)
         |      AS max_len
         |  FROM cand c
         |  JOIN documents a ON a.doc_id = c.doc1
         |  JOIN documents b ON b.doc_id = c.doc2)
         |SELECT doc1, doc2, edit_dist, max_len FROM ed
         |WHERE edit_dist * 5 <= max_len * 2""".stripMargin,

    "q87_incremental_neardup" ->
      s"""WITH ${incPairsCtes(DefaultBands)}
         |SELECT doc_id, corpus_id, jaccard FROM ipairs""".stripMargin,

    "q87b_incremental_keep" ->
      s"""WITH RECURSIVE ${incPairsCtes(DefaultBands)},
         |bsurv AS (
         |  SELECT d.doc_id, d.source, d.n_chars, md5(d.text) AS fp
         |  FROM documents d
         |  WHERE d.doc_id % 10 = 7
         |    AND NOT EXISTS (SELECT 1 FROM documents c
         |      WHERE c.doc_id % 10 <> 7 AND md5(c.text) = md5(d.text))
         |    AND NOT EXISTS (SELECT 1 FROM ipairs p
         |      WHERE p.doc_id = d.doc_id)),
         |bkeep AS (
         |  SELECT doc_id, source, n_chars FROM bsurv
         |  QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1),
         |bbk AS (SELECT * FROM bands WHERE doc_id % 10 = 7),
         |bokb AS (
         |  SELECT band, bh FROM bbk GROUP BY band, bh
         |  HAVING count(*) BETWEEN 2 AND $BucketCap),
         |bcand AS (
         |  SELECT DISTINCT x.doc_id AS doc1, y.doc_id AS doc2
         |  FROM bbk x
         |  JOIN bbk y ON x.band = y.band AND x.bh = y.bh
         |            AND y.doc_id > x.doc_id
         |  JOIN bokb k ON k.band = x.band AND k.bh = x.bh),
         |bpairs AS (
         |  SELECT c.doc1, c.doc2
         |  FROM bcand c
         |  JOIN hp a ON a.doc_id = c.doc1
         |  JOIN hp b ON b.doc_id = c.doc2
         |  WHERE c.doc1 IN (SELECT doc_id FROM bkeep)
         |    AND c.doc2 IN (SELECT doc_id FROM bkeep)
         |    AND round(CAST(len(list_intersect(a.hxv, b.hxv)) AS DOUBLE)
         |        / (a.n + b.n - len(list_intersect(a.hxv, b.hxv))), 4)
         |        >= $IncThreshold),
         |bedges AS (
         |  SELECT doc1 AS u, doc2 AS v FROM bpairs
         |  UNION SELECT doc2, doc1 FROM bpairs),
         |breach(u, v) AS (
         |  SELECT u, v FROM bedges
         |  UNION
         |  SELECT r.u, e.v FROM breach r JOIN bedges e ON e.u = r.v
         |  WHERE e.v <> r.u),
         |bnonrep AS (
         |  SELECT u AS doc_id FROM breach GROUP BY u
         |  HAVING u <> least(u, min(v)))
         |SELECT b.doc_id, b.source, b.n_chars FROM bkeep b
         |WHERE NOT EXISTS (SELECT 1 FROM bnonrep nr
         |                  WHERE nr.doc_id = b.doc_id)""".stripMargin,
    "q61_dedup_clusters" -> clustersOracleSql(DefaultBands),
    "q61c_incremental_clusters" -> clustersOracleSql(DefaultBands),
    "q61d_cluster_maintenance" -> clustersOracleSql(DefaultBands),
    "q97_leakage_safe_split" -> leakageSafeSplitOracleSql(DefaultBands),

    "q61b_dedup_apply" ->
      s"""WITH RECURSIVE ${minhashPairsCtes(DefaultBands)},
         |edges AS (
         |  SELECT doc1 AS u, doc2 AS v FROM pairs
         |  UNION SELECT doc2, doc1 FROM pairs),
         |reach(u, v) AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v
         |  WHERE e.v <> r.u),
         |nonrep AS (
         |  SELECT u AS doc_id FROM reach GROUP BY u
         |  HAVING u <> least(u, min(v)))
         |SELECT d.source, count(*) AS n_kept,
         |  CAST(sum(d.n_chars) AS BIGINT) AS kept_chars
         |FROM documents d LEFT JOIN nonrep nr ON nr.doc_id = d.doc_id
         |WHERE nr.doc_id IS NULL
         |GROUP BY d.source""".stripMargin,

    "q61e_dedup_keep_best" ->
      s"""WITH RECURSIVE ${minhashPairsCtes(DefaultBands)},
         |edges AS (
         |  SELECT doc1 AS u, doc2 AS v FROM pairs
         |  UNION SELECT doc2, doc1 FROM pairs),
         |reach(u, v) AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v
         |  WHERE e.v <> r.u),
         |lab AS (
         |  SELECT u AS doc_id, least(u, min(v)) AS cluster_id
         |  FROM reach GROUP BY u),
         |tkt AS (
         |  SELECT doc_id, source,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tk
         |  FROM documents),
         |ranked AS (
         |  SELECT l.doc_id,
         |    row_number() OVER (PARTITION BY l.cluster_id
         |                       ORDER BY t.tk DESC, l.doc_id ASC) AS rn
         |  FROM lab l JOIN tkt t ON t.doc_id = l.doc_id),
         |dropped AS (SELECT doc_id FROM ranked WHERE rn > 1)
         |SELECT t.source, count(*) AS n_kept,
         |  CAST(sum(t.tk) AS BIGINT) AS kept_tokens
         |FROM tkt t LEFT JOIN dropped dr ON dr.doc_id = t.doc_id
         |WHERE dr.doc_id IS NULL
         |GROUP BY t.source""".stripMargin,

    "q34_simhash" ->
      s"WITH $duckSimhashCte\nSELECT doc_id, source, simhash FROM fp",

    "q34b_simhash_pairs" ->
      s"""WITH $duckSimhashCte,
         |banded AS (
         |  SELECT doc_id, simhash, b.range AS band,
         |    (simhash >> (b.range * 16)) & 65535 AS bits
         |  FROM fp, range(0, 4) b)
         |SELECT DISTINCT a.doc_id AS doc1, b2.doc_id AS doc2,
         |  CAST(bit_count(xor(a.simhash, b2.simhash)) AS INT) AS hamming
         |FROM banded a
         |JOIN banded b2 ON a.band = b2.band AND a.bits = b2.bits
         |  AND b2.doc_id > a.doc_id
         |WHERE bit_count(xor(a.simhash, b2.simhash)) <= 3""".stripMargin,

    "q31_dedup_exact" ->
      """SELECT count(*) AS n_docs,
        |  count(DISTINCT md5(text)) AS n_unique,
        |  count(*) - count(DISTINCT md5(text)) AS n_dupes
        |FROM documents""".stripMargin,

    "q70_span_coverage" -> q70OracleSql,
    // same statement: the salted plan must hash to the window plan
    "q70b_span_salted" -> q70OracleSql,

    "q83_span_dedup_apply" ->
      s"""WITH $spanOracleCtes,
         |rep AS (
         |  SELECT span FROM spans GROUP BY span
         |  HAVING count(DISTINCT doc_id) >= 2),
         |cov AS (
         |  SELECT DISTINCT doc_id, unnest(generate_series(i, i + ${SpanW - 1})) AS p
         |  FROM spans JOIN rep USING (span)),
         |$applyOracleTail""".stripMargin,

    "q83b_span_dedup_runs" ->
      s"""WITH $spanOracleCtes,
         |rep AS (
         |  SELECT span FROM spans GROUP BY span
         |  HAVING count(DISTINCT doc_id) >= 2),
         |drows AS (
         |  SELECT DISTINCT s.doc_id, s.i FROM spans s JOIN rep USING (span)),
         |isl AS (
         |  SELECT doc_id, i,
         |    CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i)
         |              <= $SpanW
         |         THEN 0 ELSE 1 END AS brk
         |  FROM drows),
         |grp AS (
         |  SELECT doc_id, i,
         |    sum(brk) OVER (PARTITION BY doc_id ORDER BY i) AS g
         |  FROM isl),
         |runs AS (
         |  SELECT doc_id, g, min(i) AS s, max(i) + ${SpanW - 1} AS e
         |  FROM grp GROUP BY doc_id, g
         |  HAVING max(i) + ${SpanW - 1} - min(i) + 1 >= $MinRun),
         |cov AS (
         |  SELECT DISTINCT doc_id, unnest(generate_series(s, e)) AS p
         |  FROM runs),
         |$applyOracleTail""".stripMargin,

    "q84_intradoc_dedup" ->
      s"""WITH $spanOracleCtes,
         |firsts AS (
         |  SELECT doc_id, span, min(i) AS i0 FROM spans
         |  GROUP BY doc_id, span),
         |cov AS (
         |  SELECT DISTINCT sp2.doc_id,
         |    unnest(generate_series(sp2.i, sp2.i + ${SpanW - 1})) AS p
         |  FROM spans sp2 JOIN firsts f
         |    ON f.doc_id = sp2.doc_id AND f.span = sp2.span
         |  WHERE sp2.i <> f.i0),
         |$applyOracleTail""".stripMargin,

    "q32_dedup_keep_first" ->
      """SELECT lang, source,
        |  min(doc_id) AS keeper,
        |  count(*) AS group_size,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY lang, source""".stripMargin,

    "q35_ngram_jaccard" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    list_transform(list_distinct(string_split(text, ' ')),
        |      s -> ('0x' || substring(md5(s), 1, 14))::BIGINT) AS tset,
        |    len(list_distinct(string_split(text, ' '))) AS n
        |  FROM documents)
        |SELECT a.source AS source, a.doc_id AS doc1, b.doc_id AS doc2,
        |  round(CAST(len(list_intersect(a.tset, b.tset)) AS DOUBLE)
        |        / (a.n + b.n - len(list_intersect(a.tset, b.tset))), 4) AS jaccard
        |FROM t a, t b
        |WHERE a.source = b.source AND b.doc_id > a.doc_id
        |  AND b.doc_id <= a.doc_id + 100""".stripMargin,

    "q35b_prefix_join" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    list_sort(list_distinct(list_transform(
        |      list_distinct(string_split(text, ' ')),
        |      s -> ('0x' || substring(md5(s), 1, 14))::BIGINT))) AS hs
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(hs) AS h FROM base),
        |dfq AS (SELECT h, count(*) AS df FROM tok GROUP BY h),
        |ranked AS (
        |  SELECT t.doc_id, list(t.h ORDER BY d.df, t.h) AS toks,
        |         count(*) AS n
        |  FROM tok t JOIN dfq d USING (h) GROUP BY t.doc_id),
        |pref AS (
        |  SELECT doc_id, n,
        |    unnest(toks[1 : CAST(n - (9*n+9)//10 + 1 AS INT)]) AS h
        |  FROM ranked),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
        |  FROM pref a JOIN pref b
        |    ON a.h = b.h AND a.doc_id < b.doc_id
        |   AND least(a.n, b.n) * 10 >= greatest(a.n, b.n) * 9)
        |SELECT p.doc1, p.doc2,
        |  round(CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE)
        |        / (len(x.hs) + len(y.hs) - len(list_intersect(x.hs, y.hs))),
        |        4) AS jaccard
        |FROM pairs p
        |JOIN base x ON x.doc_id = p.doc1
        |JOIN base y ON y.doc_id = p.doc2
        |WHERE len(list_intersect(x.hs, y.hs)) * 10
        |      >= (len(x.hs) + len(y.hs) - len(list_intersect(x.hs, y.hs))) * 9""".stripMargin
  )
}
