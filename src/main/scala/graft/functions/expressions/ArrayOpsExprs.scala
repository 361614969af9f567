package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.{Column, GraftBridge}

/** Native MinHash signature: replaces the nested-HOF formulation
  * (32 interpreted `transform` passes per row) with one loop using
  * Kirsch-Mitzenmacher double hashing — g_j(s) = h1(s) + j*h2(s) —
  * so each shingle is digested once regardless of signature width.
  * h1/h2 come from the cross-engine md5 family (see [[ArrayOpsImpl]])
  * so the signature is reproducible in DuckDB oracle SQL. */
case class MinHashExpr(child: Expression, numHashes: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(input: Any): Any =
    ArrayOpsImpl.minhash(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.expressions.ArrayOpsImpl.minhash($c, $numHashes)")

  override protected def withNewChildInternal(newChild: Expression): MinHashExpr =
    copy(child = newChild)
}

/** Native rolling span keys for exact-substring coverage (q70): one
  * md5 per TOKEN, then every stride-1 window of `w` tokens collapses
  * to the position-weighted key sum(h1(tok[i+j]) << j, j=0..w-1).
  * Weights MUST be powers of two: subset sums of {1,2,4,...} are
  * distinct, so a cross-segment collision needs a genuine linear
  * relation among random 56-bit hashes (weights 1..w had 1+2=3 —
  * "a a b" collided with "b b a" structurally). h1 < 2^56 and the
  * weights sum to 2^w - 1 <= 31, so the key stays under 2^61 —
  * inside DuckDB's checked BIGINT range, replayable as
  * th[i+j]*(1<<j) SQL. Replaces an interpreted
  * transform/slice/concat_ws HOF that built (and shuffled) a
  * ~25-char string per span. */
case class SpanKeysExpr(child: Expression, w: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "span_keys"

  override def nullSafeEval(input: Any): Any =
    ArrayOpsImpl.spanKeys(input.asInstanceOf[ArrayData], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.expressions.ArrayOpsImpl.spanKeys($c, $w)")

  override protected def withNewChildInternal(newChild: Expression): SpanKeysExpr =
    copy(child = newChild)
}

/** Native dot product over two array<double> columns: one fused loop,
  * no per-element lambda dispatch, no intermediate zipped array.
  * Summation is sequential left-to-right — bit-identical to
  * `aggregate(zip_with(a, b, *), 0D, +)` and to DuckDB's loop, which
  * the KNN oracle parity depends on. */
case class DotProductExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  override def nullSafeEval(a: Any, b: Any): Any =
    ArrayOpsImpl.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.expressions.ArrayOpsImpl.dot($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductExpr =
    copy(left = newLeft, right = newRight)
}

/** Distinct-element intersection count of two string arrays in one
  * hash-set pass — the verify kernel of the Jaccard dedup pipelines
  * (array_intersect+size allocates the intersection array per pair;
  * this only counts). Inputs are assumed element-distinct, which both
  * shingle/token producers guarantee. */
case class IntersectCountExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "intersect_count"

  override def nullSafeEval(a: Any, b: Any): Any =
    ArrayOpsImpl.intersectCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.expressions.ArrayOpsImpl.intersectCount($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntersectCountExpr =
    copy(left = newLeft, right = newRight)
}

/** Sorted 56-bit md5-prefix hashes of a string array — the verify-side
  * representation of a shingle set. 56 bits = the md5 hex prefix
  * family every cross-engine hash in this repo derives from (DuckDB:
  * `('0x' || substring(md5(s), 1, 14))::BIGINT`); at 10^4 distinct
  * shingles per document the within-set collision odds are ~10^-9, and
  * the oracle replays the SAME hashes so the engines agree regardless.
  * Computed once per document (cached in the shingle base), it turns
  * each candidate-pair verification from a per-pair string HashSet
  * build into an allocation-free merge over two sorted long arrays —
  * the kernel cost that dominates band-bucket dedup at low band rows
  * (b=16 emits ~1% of all pairs as candidates). */
case class SortedHashesExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "sorted_md5_hashes"

  override def nullSafeEval(input: Any): Any =
    ArrayOpsImpl.sortedHashes(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.expressions.ArrayOpsImpl.sortedHashes($c)")

  override protected def withNewChildInternal(newChild: Expression): SortedHashesExpr =
    copy(child = newChild)
}

/** Distinct-match intersection count of two SORTED long arrays by
  * two-pointer merge — set semantics (a duplicated value counts once),
  * matching DuckDB's `len(list_intersect(...))` exactly. O(n1+n2)
  * comparisons, zero allocation: the hot verify kernel for LSH
  * candidate pairs, where [[IntersectCountExpr]]'s per-pair string
  * HashSet was the measured bottleneck. */
case class SortedIntersectCountExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "sorted_intersect_count"

  override def nullSafeEval(a: Any, b: Any): Any =
    ArrayOpsImpl.sortedIntersectCount(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.expressions.ArrayOpsImpl.sortedIntersectCount($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCountExpr =
    copy(left = newLeft, right = newRight)
}

/** Sign-bit hyperplane LSH bucket code: bit i of the result is the
  * sign of dot(v, planes(i)). Replaces an 8x64-node Column arithmetic
  * tree (whose codegen compile time dominated the query) with one
  * nested loop. */
case class HyperplaneLSHExpr(child: Expression, planes: Seq[Seq[Double]])
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "hyperplane_lsh"

  @transient private lazy val planeArr: Array[Array[Double]] =
    planes.map(_.toArray).toArray

  override def nullSafeEval(input: Any): Any =
    ArrayOpsImpl.hyperplaneBucket(input.asInstanceOf[ArrayData], planeArr)

  // interpreted eval only: the per-row work is already one tight JVM
  // loop, and the plane matrix would otherwise need codegen references
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("planes", planeArr, "double[][]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.expressions.ArrayOpsImpl.hyperplaneBucket($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneLSHExpr =
    copy(child = newChild)
}

/** Distinct word k-shingles in one pass (native analog of the
  * transform+slice+concat_ws HOF chain, which paid per-element
  * interpreted-lambda dispatch). Output order = first occurrence. */
case class ShinglesExpr(child: Expression, k: Int)
    extends UnaryExpression {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)
  override def prettyName: String = "word_shingles"

  override def nullSafeEval(input: Any): Any =
    ArrayOpsImpl.shingles(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.expressions.ArrayOpsImpl.shingles($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): ShinglesExpr =
    copy(child = newChild)
}

/** Within-document span dedup in ONE per-row pass (q84): repeated
  * span-key occurrences (same md5 family as [[SpanKeysExpr]] — the
  * key, not the token sequence, is the identity, exactly as the
  * relational formulation joined) mark their w windows covered; the
  * surviving tokens are counted and re-joined. The work is
  * document-local by definition, so the right plan is NO plan: this
  * expression replaces a 6-shuffle spans/firsts/repeats/anti-join/
  * collect pipeline with a scan — within-doc state never belongs in
  * a shuffle, at any corpus size. The DuckDB oracle is unchanged:
  * it replays the relational formulation over the same key family,
  * and the outputs are defined to be identical. */
case class IntraDocDedupExpr(child: Expression, w: Int)
    extends UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("kept_tokens", LongType,
      nullable = false),
    org.apache.spark.sql.types.StructField("kept_text",
      org.apache.spark.sql.types.StringType, nullable = false)))
  override def prettyName: String = "intra_doc_dedup"

  override def nullSafeEval(input: Any): Any =
    ArrayOpsImpl.intraDocDedup(input.asInstanceOf[ArrayData], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.expressions.ArrayOpsImpl.intraDocDedup($c, $w)")

  override protected def withNewChildInternal(newChild: Expression): IntraDocDedupExpr =
    copy(child = newChild)
}

/** Sorted (squared-distance, cell) pairs against a centroid codebook
  * in one pass — the native replacement for the IVF assignment's
  * 16-way zip_with+aggregate HOF chain (interpreted lambda dispatch
  * per element; k=16 vs k=8 measured ~0.35 s apart at sf0.1, all of
  * it HOF evaluation). Arithmetic matches the HOF form exactly:
  * sequential sum of squared diffs per centroid from 0.0, sort by
  * (d, cell) ascending — the DuckDB oracle replay is unchanged. */
/** Nearest-centroid cells for an embedding, ascending by (distance,
  * cell), truncated to the `top` nearest. `top` exists because the
  * consumers only ever read a PREFIX (argmin for cell assignment,
  * nprobe for multi-probe): materializing and sorting all k entries
  * made per-row cost O(k log k) with boxed allocations — measured
  * 3.4× SLOWER than k=16 when the codebook grew to k=317 at a 100k
  * corpus, inverting the √n codebook economics. With the O(k·top)
  * unboxed selection the output is byte-identical to the sorted
  * prefix, and per-row cost is the O(k) distance scan it should be. */
case class IvfCellsExpr(child: Expression, centroids: Seq[Seq[Double]],
                        top: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("d", DoubleType, nullable = false),
      org.apache.spark.sql.types.StructField("cell",
        org.apache.spark.sql.types.IntegerType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "ivf_cells"

  @transient private lazy val centArr: Array[Array[Double]] =
    centroids.map(_.toArray).toArray

  override def nullSafeEval(input: Any): Any =
    ArrayOpsImpl.ivfCells(input.asInstanceOf[ArrayData], centArr, top)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cents", centArr, "double[][]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.expressions.ArrayOpsImpl.ivfCells($c, $ref, $top)")
  }

  override protected def withNewChildInternal(newChild: Expression): IvfCellsExpr =
    copy(child = newChild)
}

/** q107's greedy MMR selection as ONE per-row kernel: candidates for
  * one query arrive as `array<struct<id long, rel double,
  * ve array<double>, nrm double>>` (collect_list order — the kernel is
  * input-order independent because the argmax tie-break is total:
  * mmr desc, then id asc) and the full k-round greedy runs in-row,
  * returning `array<struct<id, rel, mmr, rank>>` in selection order.
  *
  * Why an expression and not k rounds of joins: the round formulation
  * measured 5.5 s of WALL at every scale (≈30 AQE-replanned tiny
  * stages of driver coordination — flat in corpus size but serial in
  * the DAG scheduler under concurrency), while the kernel form is one
  * groupBy shuffle plus a map stage, parallel in the number of
  * queries — the shape a million-query batch needs. Arithmetic
  * mirrors the unrolled-CTE oracle term for term: sim =
  * sequential-dot / (nrm*nrm), mmr = lam*rel - pen*maxsim, round 1
  * mmr = lam*rel (empty max = 0). */
case class MmrSelectExpr(child: Expression, k: Int, lam: Double, pen: Double)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", LongType, nullable = false),
      org.apache.spark.sql.types.StructField("rel", DoubleType, nullable = false),
      org.apache.spark.sql.types.StructField("mmr", DoubleType, nullable = false),
      org.apache.spark.sql.types.StructField("rank",
        org.apache.spark.sql.types.IntegerType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "mmr_select"

  override def nullSafeEval(input: Any): Any =
    ArrayOpsImpl.mmrSelect(input.asInstanceOf[ArrayData], k, lam, pen)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.expressions.ArrayOpsImpl.mmrSelect($c, $k, ${lam}D, ${pen}D)")

  override protected def withNewChildInternal(newChild: Expression): MmrSelectExpr =
    copy(child = newChild)
}

/** Bucket-local ordered candidate pairs (the LSH pair kernel shared by
  * q33/q33b/q81/q106/q87b, the q61 pair-state maintenance and the
  * index probe): all (a, b) with b > a over a bucket's id list, in the
  * HOF emission order. Replaces
  * `flatten(transform(ids, a -> transform(filter(ids, b -> b > a),
  * b -> struct(a, b))))` — three nested interpreted-lambda passes plus
  * two intermediate arrays per bucket — with one n² long loop
  * (n <= BucketCap). Same pair multiset, same order. */
case class OrderedPairsExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  // the kernel reads elements via getLong: anything but array<bigint>
  // must fail at ANALYSIS time, not yield garbage pairs (r16 advice).
  // (return type inferred: AbstractDataType is private[sql])
  override def inputTypes = Seq(ArrayType(LongType))

  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc1", LongType, nullable = false),
      org.apache.spark.sql.types.StructField("doc2", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "ordered_pairs"

  override def nullSafeEval(input: Any): Any =
    ArrayOpsImpl.orderedPairs(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.expressions.ArrayOpsImpl.orderedPairs($c)")

  override protected def withNewChildInternal(newChild: Expression): OrderedPairsExpr =
    copy(child = newChild)
}

/** Native LSH band keys (round 17): the minhash signature split into
  * `numBands` keys of `rowsPerBand` values each, rendered as the
  * IDENTICAL strings the HOF formulation produced —
  * `transform(sequence(0, B-1), b -> concat_ws('_',
  * transform(slice(mh, b*r+1, r), cast as string)))` — which the
  * DuckDB oracles and the q61d persisted band state replay verbatim.
  * The HOF runs three nested interpreted lambdas and allocates a
  * slice array + a cast array per band per row; this is one pass
  * with a single string builder. Emission order and content are
  * byte-identical (pinned in ArrayOpsExprSpec). */
case class BandKeysExpr(child: Expression, numBands: Int, rowsPerBand: Int)
    extends UnaryExpression with ExpectsInputTypes {

  // getLong elements — anything but array<bigint> fails analysis
  override def inputTypes = Seq(ArrayType(LongType))

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "lsh_band_keys"

  override def nullSafeEval(input: Any): Any =
    ArrayOpsImpl.bandKeys(input.asInstanceOf[ArrayData], numBands, rowsPerBand)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.expressions.ArrayOpsImpl.bandKeys($c, $numBands, $rowsPerBand)")

  override protected def withNewChildInternal(newChild: Expression): BandKeysExpr =
    copy(child = newChild)
}

/** Cross-document span-removal rebuild (q83/q83b tail): given a doc's
  * token array and its merged covered RUNS (array<struct<s int,
  * e int>>, disjoint, sorted by s — token positions s..e inclusive are
  * removed), emit struct(kept_tokens, kept_text) in one per-row pass.
  * Replaces the posexplode → anti-join on (doc_id, p) → collect_list/
  * array_sort/concat_ws reassembly, which shuffled EVERY token of the
  * corpus twice (once exploded, once inside the collected struct) to
  * delete a per-doc-decided position set: the decision rows (runs) are
  * orders of magnitude smaller than the token stream, so they are what
  * should move (optimization guide §2.3/§8 — shuffle decisions, not
  * payloads). Output is defined identical to the relational tail: the
  * DuckDB oracle replays the position-level formulation unchanged. */
case class RemoveRunsExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  // getUTF8String tokens + getStruct(int, int) runs: enforce the
  // shapes at analysis time (r16 advice).
  // (return type inferred: AbstractDataType is private[sql])
  override def inputTypes = Seq(
    ArrayType(StringType),
    ArrayType(StructType(Seq(
      StructField("s", IntegerType), StructField("e", IntegerType)))))

  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("kept_tokens", LongType,
      nullable = false),
    org.apache.spark.sql.types.StructField("kept_text",
      org.apache.spark.sql.types.StringType, nullable = false)))
  override def prettyName: String = "remove_runs"

  override def nullSafeEval(toks: Any, runs: Any): Any =
    ArrayOpsImpl.removeRuns(
      toks.asInstanceOf[ArrayData], runs.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (t, r) => s"graft.functions.expressions.ArrayOpsImpl.removeRuns($t, $r)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): RemoveRunsExpr =
    copy(left = newLeft, right = newRight)
}

/** Companion class => Java static forwarders for generated code. */
class ArrayOpsImpl private ()

/** Cross-engine md5-derived hash family.
  *
  * MD5 is the only hash primitive Spark and DuckDB share, so every
  * hash-dependent operator (MinHash, SimHash) derives its family from
  * the MD5 digest — which makes the whole LSH pipeline expressible as
  * oracle SQL and hash-checkable against DuckDB (the round-1 verdict's
  * top ask). Family definition (hex = lowercase md5 hex, 1-indexed):
  *   x(s)  = int(hex[1..8])   = digest bytes 0..3 big-endian, 32 bits
  *   a_j   = (int(md5hex("graft_mh_a" + j)[1..8]) & (2^30-1)) | 1
  *   b_j   =  int(md5hex("graft_mh_b" + j)[1..8]) & (2^30-1)
  *   g_j(s) = (a_j * x(s) + b_j) mod p,  p = 2^31-1 (prime)
  *            a_j < 2^30, x < 2^32 → a_j*x + b_j < 2^62 + 2^30: no
  *            BIGINT overflow in either engine (DuckDB errors on
  *            int64 overflow, so the family is sized to stay in range)
  *   lo(s) = int(hex[1..8])  = bytes 0..3 BE (SimHash vote bits 0-31)
  *   hi(s) = int(hex[9..16]) = bytes 4..7 BE (SimHash vote bits 32-63)
  * DuckDB side: ('0x' || substring(md5(s), a, n))::BIGINT.
  * Spark SQL side: CAST(conv(substring(md5(s), a, n), 16, 10) AS BIGINT).
  *
  * Why multiply-mod and not the earlier g_j = h1 + j*h2: a LINEAR
  * family in j shares one argmin across all j whenever some shingle
  * is small in both coordinates (Pareto-dominant), which collapses
  * the 32 hashes to ~1 effective permutation — a doc pair at true
  * Jaccard 0.9 was measured agreeing on 0/32 positions because each
  * doc's dominant shingle was the unshared one. (a_j*x + b_j) mod p
  * is the standard 2-independent construction: per-j orderings are
  * pairwise-uncorrelated and P[min agrees] tracks Jaccard, restoring
  * the S-curve the band-count tuning assumes. */
object ArrayOpsImpl {

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Big-endian unsigned int of `nBytes` digest bytes starting at `from`. */
  private def be(d: Array[Byte], from: Int, nBytes: Int): Long = {
    var v = 0L
    var i = 0
    while (i < nBytes) { v = (v << 8) | (d(from + i) & 0xFFL); i += 1 }
    v
  }

  /** p = 2^31 - 1 (prime) — the modulus of the minhash family. */
  private[graft] val MhP = 2147483647L

  private val MhMaxHashes = 64

  /** a_j (odd, < 2^30) / b_j (< 2^30) of the 2-independent family,
    * derived from md5 of a seed string so the DuckDB oracle re-derives
    * bit-identical constants (see the family spec above). */
  private def mhConst(seed: String, j: Int, odd: Boolean): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest((seed + j).getBytes("UTF-8"))
    val v = be(d, 0, 4) & 0x3FFFFFFFL
    if (odd) v | 1L else v
  }
  private val MhA =
    Array.tabulate(MhMaxHashes)(j => mhConst("graft_mh_a", j, odd = true))
  private val MhB =
    Array.tabulate(MhMaxHashes)(j => mhConst("graft_mh_b", j, odd = false))

  private[graft] def mhFamilyA(j: Int): Long = MhA(j)
  private[graft] def mhFamilyB(j: Int): Long = MhB(j)

  def minhash(elems: ArrayData, numHashes: Int): ArrayData = {
    require(numHashes <= MhMaxHashes,
      s"numHashes=$numHashes exceeds the family size $MhMaxHashes")
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val md = md5Local.get()
    val n = elems.numElements()
    var i = 0
    while (i < n) {
      val s = elems.getUTF8String(i)
      if (s != null) {
        md.reset()
        val d = md.digest(s.getBytes)
        val x = be(d, 0, 4)
        var j = 0
        while (j < numHashes) {
          val g = (MhA(j) * x + MhB(j)) % MhP
          if (g < mins(j)) mins(j) = g
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  def spanKeys(tokens: ArrayData, w: Int): ArrayData = {
    val n = tokens.numElements()
    if (n < w) return new GenericArrayData(Array.empty[Any])
    val md = md5Local.get()
    val h = new Array[Long](n)
    var i = 0
    while (i < n) {
      val s = tokens.getUTF8String(i)
      if (s != null) {
        md.reset()
        h(i) = be(md.digest(s.getBytes), 0, 7) // h1: hex chars 1-14
      }
      i += 1
    }
    val out = new Array[Long](n - w + 1)
    var k = 0
    while (k <= n - w) {
      var acc = 0L
      var j = 0
      while (j < w) { acc += h(k + j) << j; j += 1 }
      out(k) = acc
      k += 1
    }
    new GenericArrayData(out)
  }

  def sortedHashes(elems: ArrayData): ArrayData = {
    val md = md5Local.get()
    val n = elems.numElements()
    val out = new Array[Long](n)
    var k = 0
    var i = 0
    while (i < n) {
      val s = elems.getUTF8String(i)
      // skip nulls (shrinking the output): a 0L placeholder would make
      // nulls hash-collide with each other — and with any string
      // hashing to 0 — and count as intersect matches, where the
      // DuckDB counterpart (list_transform md5) maps NULL -> NULL
      // (round-7 ADVICE). Current callers never produce nulls, but
      // the declared contract allows them.
      if (s != null) {
        md.reset()
        out(k) = be(md.digest(s.getBytes), 0, 7) // first 14 hex chars
        k += 1
      }
      i += 1
    }
    val trimmed = if (k == n) out else java.util.Arrays.copyOf(out, k)
    java.util.Arrays.sort(trimmed)
    new GenericArrayData(trimmed)
  }

  def sortedIntersectCount(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var count = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else {
        count += 1
        // skip duplicate runs on BOTH sides: distinct-match (set)
        // semantics, same as DuckDB list_intersect
        val v = x
        while (i < na && a.getLong(i) == v) i += 1
        while (j < nb && b.getLong(j) == v) j += 1
      }
    }
    count
  }

  def intraDocDedup(tokens: ArrayData, w: Int)
      : org.apache.spark.sql.catalyst.expressions.GenericInternalRow = {
    val n = tokens.numElements()
    val covered = new Array[Boolean](n)
    if (n >= w) {
      val keys = spanKeys(tokens, w)
      val m = n - w + 1
      val seen = new java.util.HashMap[java.lang.Long, Integer](m * 2)
      var i = 0
      while (i < m) {
        if (seen.putIfAbsent(keys.getLong(i), i) != null) {
          var j = i
          while (j < i + w) { covered(j) = true; j += 1 }
        }
        i += 1
      }
    }
    var kept = 0L
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < n) {
      if (!covered(i)) {
        if (kept > 0) sb.append(' ')
        // null-guard to match spanKeys' defensiveness above (a null
        // token hashes as 0 there; here it rebuilds as empty) — the
        // concat_ws path this kernel replaced tolerated nulls too
        val t = tokens.getUTF8String(i)
        if (t != null) sb.append(t.toString)
        kept += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](kept,
        org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)))
  }

  /** See [[BandKeysExpr]]. Matches the HOF's semantics exactly:
    * slice is 1-based and clamps at the array end; cast(long) is
    * Long.toString; concat_ws skips null elements entirely — no value
    * and no separator (minhash signatures never contain them, but the
    * spec pin covers nullable-element arrays). */
  def bandKeys(mh: ArrayData, numBands: Int, rowsPerBand: Int): ArrayData = {
    val n = mh.numElements()
    val out = new Array[AnyRef](numBands)
    val sb = new java.lang.StringBuilder(24 * rowsPerBand)
    var b = 0
    while (b < numBands) {
      sb.setLength(0)
      val from = b * rowsPerBand
      val to = math.min(from + rowsPerBand, n)
      var i = from
      while (i < to) {
        if (!mh.isNullAt(i)) {
          if (sb.length > 0) sb.append('_')
          sb.append(mh.getLong(i))
        }
        i += 1
      }
      out(b) = org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
      b += 1
    }
    new GenericArrayData(out)
  }

  /** See [[OrderedPairsExpr]]. */
  def orderedPairs(ids: ArrayData): ArrayData = {
    val n = ids.numElements()
    val v = new Array[Long](n)
    var i = 0
    while (i < n) { v(i) = ids.getLong(i); i += 1 }
    val out = new scala.collection.mutable.ArrayBuffer[Any](n * (n - 1) / 2)
    i = 0
    while (i < n) {
      var j = 0
      while (j < n) {
        if (v(j) > v(i)) out += new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(Array[Any](v(i), v(j)))
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** See [[RemoveRunsExpr]]. Runs are disjoint and sorted by start
    * (the caller array_sorts the collected struct list; struct order
    * (s, e) sorts by s first). A doc with no covered runs passes an
    * EMPTY array (the call site coalesces the left join's null). */
  def removeRuns(tokens: ArrayData, runs: ArrayData)
      : org.apache.spark.sql.catalyst.expressions.GenericInternalRow = {
    val n = tokens.numElements()
    val m = runs.numElements()
    var kept = 0L
    var emitted = false
    val sb = new java.lang.StringBuilder
    var r = 0
    var i = 0
    while (i < n) {
      // advance past runs ending before i; then i is covered iff the
      // current run has started
      while (r < m && runs.getStruct(r, 2).getInt(1) < i) r += 1
      val coveredHere = r < m && runs.getStruct(r, 2).getInt(0) <= i
      if (!coveredHere) {
        // null-guard matching the concat_ws path this kernel replaced:
        // concat_ws SKIPS null elements entirely (no separator), so a
        // null kept token contributes to kept_tokens (the old
        // anti-join counted kept POSITIONS) but neither text nor space;
        // empty-string tokens DO take a separator, hence the `emitted`
        // flag rather than an sb.length check
        val t = tokens.getUTF8String(i)
        if (t != null) {
          if (emitted) sb.append(' ')
          sb.append(t.toString)
          emitted = true
        }
        kept += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](kept,
        org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)))
  }

  def intersectCount(a: ArrayData, b: ArrayData): Int = {
    val (small, big) =
      if (a.numElements() <= b.numElements()) (a, b) else (b, a)
    val set = new java.util.HashSet[org.apache.spark.unsafe.types.UTF8String](
      small.numElements() * 2)
    var i = 0
    val ns = small.numElements()
    while (i < ns) {
      val s = small.getUTF8String(i)
      if (s != null) set.add(s)
      i += 1
    }
    var count = 0
    var j = 0
    val nb = big.numElements()
    while (j < nb) {
      val s = big.getUTF8String(j)
      if (s != null && set.contains(s)) count += 1
      j += 1
    }
    count
  }

  def shingles(tokens: ArrayData, k: Int): ArrayData = {
    val n = tokens.numElements()
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val space = org.apache.spark.unsafe.types.UTF8String.fromString(" ")
    val seen = new java.util.LinkedHashSet[org.apache.spark.unsafe.types.UTF8String]()
    val window = new Array[org.apache.spark.unsafe.types.UTF8String](k)
    var i = 0
    while (i <= n - k) {
      var j = 0
      while (j < k) { window(j) = tokens.getUTF8String(i + j); j += 1 }
      seen.add(org.apache.spark.unsafe.types.UTF8String.concatWs(space, window: _*))
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[AnyRef]])
  }

  def hyperplaneBucket(v: ArrayData, planes: Array[Array[Double]]): Long = {
    var out = 0L
    var p = 0
    while (p < planes.length) {
      val plane = planes(p)
      val n = math.min(v.numElements(), plane.length)
      var acc = 0.0
      var i = 0
      while (i < n) {
        acc += v.getDouble(i) * plane(i)
        i += 1
      }
      if (acc >= 0) out |= (1L << p)
      p += 1
    }
    out
  }

  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }

  /** Greedy MMR over one query's candidate structs — see
    * [[MmrSelectExpr]]. Input-order independent (total tie-break);
    * incremental per-candidate max-to-selected equals the oracle's
    * per-round max over the full selected set (max is associative
    * over the same finite sims). */
  def mmrSelect(cands: ArrayData, k: Int, lam: Double, pen: Double): ArrayData = {
    val n = cands.numElements()
    val ids = new Array[Long](n)
    val rels = new Array[Double](n)
    val nrms = new Array[Double](n)
    val ves = new Array[Array[Double]](n)
    var i = 0
    while (i < n) {
      val r = cands.getStruct(i, 4)
      ids(i) = r.getLong(0)
      rels(i) = r.getDouble(1)
      val va = r.getArray(2)
      val d = va.numElements()
      val v = new Array[Double](d)
      var j = 0
      while (j < d) { v(j) = va.getDouble(j); j += 1 }
      ves(i) = v
      nrms(i) = r.getDouble(3)
      i += 1
    }
    val m = math.min(math.max(k, 0), n)
    val used = new Array[Boolean](n)
    val maxsim = new Array[Double](n)
    val out = new Array[AnyRef](m)
    var s = 0
    while (s < m) {
      var best = -1
      var bestMmr = 0.0
      var c = 0
      while (c < n) {
        if (!used(c)) {
          val mmr = if (s == 0) lam * rels(c)
                    else lam * rels(c) - pen * maxsim(c)
          val cmp = if (best < 0) 1 else java.lang.Double.compare(mmr, bestMmr)
          if (cmp > 0 || (cmp == 0 && ids(c) < ids(best))) {
            best = c; bestMmr = mmr
          }
        }
        c += 1
      }
      used(best) = true
      out(s) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](ids(best), rels(best), bestMmr, s + 1))
      val bv = ves(best)
      val bn = nrms(best)
      var c2 = 0
      while (c2 < n) {
        if (!used(c2)) {
          val v = ves(c2)
          val d = math.min(v.length, bv.length)
          var acc = 0.0
          var j = 0
          while (j < d) { acc += v(j) * bv(j); j += 1 }
          val sim = acc / (nrms(c2) * bn)
          if (s == 0 || sim > maxsim(c2)) maxsim(c2) = sim
        }
        c2 += 1
      }
      s += 1
    }
    new GenericArrayData(out)
  }

  def ivfCells(v: ArrayData, cents: Array[Array[Double]], top: Int): ArrayData = {
    val dim = v.numElements()
    val vec = new Array[Double](dim)
    var i = 0
    while (i < dim) { vec(i) = v.getDouble(i); i += 1 }
    val k = cents.length
    val ds = new Array[Double](k)
    var c = 0
    while (c < k) {
      val cent = cents(c)
      val n = math.min(dim, cent.length)
      var acc = 0.0 // same sequential order as aggregate(zip_with(...))
      var j = 0
      while (j < n) {
        val diff = cent(j) - vec(j)
        acc += diff * diff
        j += 1
      }
      ds(c) = acc
      c += 1
    }
    // the `m` nearest by (d, cell) ascending — identical to the
    // prefix of a full (d, cell) sort, via unboxed O(k·m) selection.
    // Double.compare (not <): NaN distances must order GREATEST, as
    // the sort this replaced did — a strict < would let a NaN picked
    // as the first candidate win unconditionally. compare()==0 on
    // ties keeps the LOWEST cell index (first seen wins).
    val m = math.min(math.max(top, 0), k)
    val used = new Array[Boolean](k)
    val out = new Array[AnyRef](m)
    var s = 0
    while (s < m) {
      var best = -1
      var cc = 0
      while (cc < k) {
        if (!used(cc) &&
            (best < 0 || java.lang.Double.compare(ds(cc), ds(best)) < 0)) best = cc
        cc += 1
      }
      used(best) = true
      out(s) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](ds(best), best))
      s += 1
    }
    new GenericArrayData(out)
  }
}

object ArrayOps {
  def minhashSig(elems: Column, numHashes: Int): Column =
    GraftBridge.column(MinHashExpr(GraftBridge.expression(elems), numHashes))

  def dotProduct(a: Column, b: Column): Column =
    GraftBridge.column(DotProductExpr(GraftBridge.expression(a), GraftBridge.expression(b)))

  def hyperplaneBucket(v: Column, planes: Seq[Seq[Double]]): Column =
    GraftBridge.column(HyperplaneLSHExpr(GraftBridge.expression(v), planes))

  def wordShingles(tokens: Column, k: Int): Column =
    GraftBridge.column(ShinglesExpr(GraftBridge.expression(tokens), k))

  def intersectCount(a: Column, b: Column): Column =
    GraftBridge.column(IntersectCountExpr(
      GraftBridge.expression(a), GraftBridge.expression(b)))

  def sortedHashes(elems: Column): Column =
    GraftBridge.column(SortedHashesExpr(GraftBridge.expression(elems)))

  def sortedIntersectCount(a: Column, b: Column): Column =
    GraftBridge.column(SortedIntersectCountExpr(
      GraftBridge.expression(a), GraftBridge.expression(b)))

  /** `top` defaults to the full codebook for backward compatibility;
    * pass the prefix actually consumed (1 for assignment, nprobe for
    * multi-probe) — see IvfCellsExpr's scaling note. */
  def ivfCells(v: Column, centroids: Seq[Seq[Double]],
               top: Int = Int.MaxValue): Column =
    GraftBridge.column(IvfCellsExpr(GraftBridge.expression(v), centroids,
      math.min(top, centroids.length)))

  def spanKeys(tokens: Column, w: Int): Column =
    GraftBridge.column(SpanKeysExpr(GraftBridge.expression(tokens), w))

  def intraDocDedup(tokens: Column, w: Int): Column =
    GraftBridge.column(IntraDocDedupExpr(GraftBridge.expression(tokens), w))

  def removeRuns(tokens: Column, runs: Column): Column =
    GraftBridge.column(RemoveRunsExpr(
      GraftBridge.expression(tokens), GraftBridge.expression(runs)))

  def orderedPairs(ids: Column): Column =
    GraftBridge.column(OrderedPairsExpr(GraftBridge.expression(ids)))

  def bandKeys(mh: Column, numBands: Int, rowsPerBand: Int): Column =
    GraftBridge.column(BandKeysExpr(
      GraftBridge.expression(mh), numBands, rowsPerBand))

  def byteSymbols(s: Column): Column =
    GraftBridge.column(ByteSymbolsExpr(GraftBridge.expression(s)))

  def mmrSelect(cands: Column, k: Int, lam: Double, pen: Double): Column =
    GraftBridge.column(MmrSelectExpr(GraftBridge.expression(cands), k, lam, pen))
}
