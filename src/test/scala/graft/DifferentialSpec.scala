package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based differential testing, beyond the fixed query corpus:
  * random predicate trees run as Spark SQL over lineitem and are
  * re-evaluated row-by-row in plain Scala over the collected data —
  * two independent implementations of the same semantics. Catches
  * operator-translation bugs (precedence, null handling, type
  * coercion) that a fixed corpus misses. The reference has no
  * equivalent (its parser tests assert ASTs, not results). */
class DifferentialSpec extends AnyFunSuite {

  /** Deterministic generator sampling (no scalatestplus bridge in the
    * offline cache): one sample per seed 1..n. */
  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))
  lazy val spark = TestSpark.spark

  // typed row mirror of the columns under test
  private case class Li(orderkey: Long, quantity: Double, price: Double,
                        flag: String, ship: java.time.LocalDateTime)
  private lazy val rows: Seq[Li] = {
    val df = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
      .select("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag", "l_shipdate")
    df.collect().map(r => Li(r.getLong(0), r.getDouble(1), r.getDouble(2),
      r.getString(3), r.getAs[java.time.LocalDateTime](4))).toSeq
  }
  private lazy val view: Unit = {
    graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
      .createOrReplaceTempView("li_diff")
  }

  // -- predicate AST ---------------------------------------------------

  private sealed trait Pred {
    def sql: String
    def eval(r: Li): Boolean
  }
  private case class Cmp(col: String, op: String, lit: String) extends Pred {
    def sql = s"$col $op $lit"
    def eval(r: Li): Boolean = {
      val c = op match {
        case _ if col == "l_quantity" => r.quantity.compareTo(lit.toDouble)
        case _ if col == "l_extendedprice" => r.price.compareTo(lit.toDouble)
        case _ if col == "l_orderkey" => r.orderkey.compareTo(lit.toLong)
        case _ if col == "l_returnflag" =>
          r.flag.compareTo(lit.stripPrefix("'").stripSuffix("'"))
        case _ =>
          // DATE literal vs TIMESTAMP_NTZ column: Spark widens the
          // date to midnight — mirror that exactly
          r.ship.compareTo(java.time.LocalDate.parse(
            lit.stripPrefix("DATE '").stripSuffix("'")).atStartOfDay())
      }
      op match {
        case "="  => c == 0
        case "<>" => c != 0
        case "<"  => c < 0
        case "<=" => c <= 0
        case ">"  => c > 0
        case ">=" => c >= 0
      }
    }
  }
  private case class AndP(a: Pred, b: Pred) extends Pred {
    def sql = s"(${a.sql} AND ${b.sql})"
    def eval(r: Li): Boolean = a.eval(r) && b.eval(r)
  }
  private case class OrP(a: Pred, b: Pred) extends Pred {
    def sql = s"(${a.sql} OR ${b.sql})"
    def eval(r: Li): Boolean = a.eval(r) || b.eval(r)
  }
  private case class NotP(a: Pred) extends Pred {
    def sql = s"(NOT ${a.sql})"
    def eval(r: Li): Boolean = !a.eval(r)
  }

  private val ops = Gen.oneOf("=", "<>", "<", "<=", ">", ">=")
  private val leaf: Gen[Pred] = Gen.oneOf(
    for { op <- ops; v <- Gen.choose(1, 50) }
      yield Cmp("l_quantity", op, v.toString),
    for { op <- ops; v <- Gen.choose(1000, 90000) }
      yield Cmp("l_extendedprice", op, s"$v.5"),
    for { op <- ops; v <- Gen.choose(1L, 6000L) }
      yield Cmp("l_orderkey", op, v.toString),
    for { op <- ops; v <- Gen.oneOf("A", "N", "R") }
      yield Cmp("l_returnflag", op, s"'$v'"),
    for { op <- ops; m <- Gen.choose(1, 12); d <- Gen.choose(1, 28);
          y <- Gen.choose(1992, 1998) }
      yield Cmp("l_shipdate", op, f"DATE '$y%04d-$m%02d-$d%02d'"))

  private def pred(depth: Int): Gen[Pred] =
    if (depth == 0) leaf
    else Gen.frequency(
      3 -> leaf,
      2 -> (for { a <- pred(depth - 1); b <- pred(depth - 1) } yield AndP(a, b)),
      2 -> (for { a <- pred(depth - 1); b <- pred(depth - 1) } yield OrP(a, b)),
      1 -> pred(depth - 1).map(NotP))

  test("random predicate trees: Spark SQL == direct Scala evaluation") {
    view
    samples(pred(3), 60).foreach { p =>
      val sparkCount = spark.sql(
        s"SELECT count(*) AS n, coalesce(sum(l_orderkey), 0) AS s " +
        s"FROM li_diff WHERE ${p.sql}").collect().head
      val matches = rows.filter(p.eval)
      assert(sparkCount.getLong(0) == matches.length.toLong,
        s"count mismatch for: ${p.sql}")
      assert(sparkCount.getLong(1) == matches.map(_.orderkey).sum,
        s"checksum mismatch for: ${p.sql}")
    }
  }

  test("random filtered aggregations: Spark SQL == direct Scala evaluation") {
    view
    // GROUP BY l_returnflag with a random predicate + random aggregate
    val aggGen = for {
      p <- pred(2)
      agg <- Gen.oneOf("count", "sum_qty", "min_price", "max_price")
    } yield (p, agg)
    samples(aggGen, 30).foreach { case (p, agg) =>
      val (aggSql, aggScala): (String, Seq[Li] => Any) = agg match {
        case "count" => ("count(*)", g => g.length.toLong)
        case "sum_qty" =>
          // integral quantities sum exactly in double — no FP-order issues
          ("sum(l_quantity)", g => g.map(_.quantity).sum)
        case "min_price" => ("min(l_extendedprice)", g => g.map(_.price).min)
        case "max_price" => ("max(l_extendedprice)", g => g.map(_.price).max)
      }
      val got = spark.sql(
        s"SELECT l_returnflag, $aggSql AS v FROM li_diff " +
        s"WHERE ${p.sql} GROUP BY l_returnflag").collect()
        .map(r => r.getString(0) -> r.get(1)).toMap
      val want = rows.filter(p.eval).groupBy(_.flag).map {
        case (k, g) => k -> aggScala(g)
      }
      assert(got.keySet == want.keySet, s"groups differ for ${p.sql} / $agg")
      want.foreach { case (k, v) =>
        assert(got(k) == v, s"$agg mismatch for group $k under ${p.sql}: " +
          s"spark=${got(k)} scala=$v")
      }
    }
  }

  test("random DDL round-trips through the dialect and SHOW COLUMNS") {
    val e = new graft.engine.QueryEngine(spark)
    e.execute("CREATE DATABASE IF NOT EXISTS fuzz")
    val types = Gen.oneOf("int32", "int64", "float64", "string", "boolean",
      "date", "decimal(10,2)", "list<string>", "map<string, int32>",
      "struct<a: int64, b: string>")
    val colGen = for {
      n <- Gen.choose(1, 6)
      ts <- Gen.listOfN(n, types)
      nn <- Gen.listOfN(n, Gen.oneOf(true, false))
    } yield ts.zip(nn).zipWithIndex.map { case ((t, notNull), i) =>
      (s"c$i", t, notNull)
    }
    samples(colGen, 15).foreach { cols =>
      e.execute("DROP TABLE IF EXISTS fuzz.t")
      val ddl = cols.map { case (n, t, nn) =>
        s"$n $t${if (nn) " NOT NULL" else ""}"
      }.mkString("CREATE TABLE fuzz.t (", ", ", ") STORAGE filesystem")
      e.execute(ddl)
      val shown = e.execute("SHOW COLUMNS FROM fuzz.t").data
        .map(r => (r(0).toString, r(1).toString, r(2).toString))
      assert(shown == cols.map { case (n, t, nn) =>
        (n, t, if (nn) "NO" else "YES")
      }, s"round-trip mismatch for: $ddl")
    }
    e.execute("DROP TABLE IF EXISTS fuzz.t")
  }

  test("random graphs: distributed connected components == union-find") {
    import spark.implicits._
    val edgeGen = for {
      n <- Gen.choose(4, 40)            // node id space
      m <- Gen.choose(1, 60)            // edge count
      es <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n.toLong)
        b <- Gen.choose(0L, n.toLong) if a != b
      } yield (math.min(a, b), math.max(a, b)))
    } yield es.distinct
    samples(edgeGen, 12).filter(_.nonEmpty).foreach { edges =>
      val got = graft.operators.Dedup
        .connectedComponents(edges.toDF("a", "b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // independent oracle: classic union-find with path compression
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // normalize: representative = min node of the component
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val byRoot = nodes.groupBy(find)
      val want = byRoot.values.flatMap { members =>
        val m = members.min
        members.map(_ -> m)
      }.toMap
      assert(got == want, s"CC mismatch on edges $edges:\n got  $got\n want $want")
    }
  }

  test("reliable checkpointing yields identical components (and requires a checkpoint dir)") {
    import spark.implicits._
    val edges = Seq((0L, 1L), (1L, 2L), (5L, 6L), (6L, 7L), (2L, 5L), (9L, 10L))
    val df = edges.toDF("a", "b")
    val sc = spark.sparkContext
    if (sc.getCheckpointDir.isEmpty) {
      // without a checkpoint dir the reliable path must refuse loudly
      intercept[IllegalArgumentException] {
        graft.operators.Dedup.connectedComponents(df, reliable = true)
      }
      sc.setCheckpointDir(
        java.nio.file.Files.createTempDirectory("cc_ckpt").toString)
    }
    val ckptDir = sc.getCheckpointDir.get
    val rel = graft.operators.Dedup.connectedComponents(df, reliable = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val loc = graft.operators.Dedup.connectedComponents(df)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rel == loc)
    assert(rel.values.toSet == Set(0L, 9L))
    // the reliable path actually wrote checkpoint data
    assert(new java.io.File(new java.net.URI(ckptDir).getPath)
      .listFiles().nonEmpty)
  }

  test("connectedComponents raises on non-convergence instead of returning non-minimal labels") {
    import spark.implicits._
    // a 12-node chain cannot converge in one round; the old code
    // returned silently with labels still changing
    val chain = (0L until 11L).map(i => (i, i + 1))
    val ex = intercept[IllegalStateException] {
      graft.operators.Dedup.connectedComponents(chain.toDF("a", "b"), maxRounds = 1)
    }
    assert(ex.getMessage.contains("did not converge"))
    // the default bound converges and labels the whole chain with 0
    val ok = graft.operators.Dedup.connectedComponents(chain.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ok.values.toSet == Set(0L) && ok.size == 12)
  }

  test("minhash LSH recall: every ground-truth J>=0.9 pair found at sf0.001") {
    // Differential recall check — LSH candidates vs brute-force exact
    // Jaccard over ALL pairs (500 docs -> 125k pairs, in-test scale).
    // The sf0.001 corpus holds 28 true pairs, all at J>=0.9, where the
    // band S-curve promises ~100% recall (P(miss) ~ 2e-4 per pair);
    // the pre-fix correlated family passed the fixed-corpus oracles
    // while silently missing mid-range pairs, so recall is pinned
    // against an independent computation, not a replayed family.
    import org.apache.spark.sql.functions._
    val dir = TestSpark.sfDir
    val sets = graft.sources.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), array_distinct(graft.functions.Text.shingles(
        graft.functions.Text.tokens(col("text")), 2)).as("sh"))
      .where(size(col("sh")) >= 1)
    val truth = sets.select(col("doc_id").as("d1"), col("sh").as("s1"))
      .crossJoin(sets.select(col("doc_id").as("d2"), col("sh").as("s2")))
      .where(col("d2") > col("d1"))
      .withColumn("inter", graft.functions.expressions.ArrayOps
        .intersectCount(col("s1"), col("s2")))
      .where(col("inter").cast("double") /
        (size(col("s1")) + size(col("s2")) - col("inter")) >= 0.9)
      .select(col("d1"), col("d2"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.size >= 20, s"corpus drifted: only ${truth.size} true pairs")
    val found = graft.operators.Dedup.queries("q33_minhash_pairs")(spark, dir)
      .select(col("doc1"), col("doc2"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = truth -- found
    assert(missed.isEmpty, s"LSH missed ground-truth pairs: $missed")
  }

  test("spark.graft.cc.maxRounds reaches the q61 entry point") {
    // The ScaleLab cc probe at 50x hit a giant (4.7k-doc) component
    // whose diameter needs >16 jump rounds; the non-convergence error
    // says "raise spark.graft.cc.maxRounds", so the q61 path must expose the
    // knob. Validation mirrors optimize.targetFileBytes: a garbage
    // value is an addressed error, not a NumberFormatException.
    val conf = "spark.graft.cc.maxRounds"
    try {
      spark.conf.set(conf, "not-a-number")
      graft.operators.Artifacts.clear("dedupClusters")
      val ex = intercept[RuntimeException] {
        graft.operators.Dedup.dedupClusters(
          spark, "/root/testdata/sf0.001", 8).count()
      }
      assert(ex.getMessage.contains("invalid spark.graft.cc.maxRounds"))
      // a valid override computes normally (memo cleared in between)
      spark.conf.set(conf, "24")
      graft.operators.Artifacts.clear("dedupClusters")
      assert(graft.operators.Dedup.dedupClusters(
        spark, "/root/testdata/sf0.001", 8).count() > 0)
    } finally {
      spark.conf.unset(conf)
      graft.operators.Artifacts.clear("dedupClusters")
    }
  }
}
