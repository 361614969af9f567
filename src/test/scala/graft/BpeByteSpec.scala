package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.expressions.ByteSymbolsImpl
import graft.operators.{Artifacts, BpeTrainer, Curation}

/** Byte-level BPE (round-8 verdict missing #5): byte alphabet base
  * case + GPT-2-style pre-tokenization on the unchanged two-mode
  * trainer. Pins, per the verdict's done-criteria:
  *  - byte-level merges BIT-MATCH a from-scratch naive reference
  *    (fresh pair recount each round, no heap, no batching) on a
  *    corpus with multi-byte UTF-8 — in BOTH trainer modes;
  *  - UTF-8 edge cases: multi-byte chars decompose to per-byte
  *    symbols; invalid UTF-8 BYTES still map (alphabet total);
  *  - the no-UNK property: encoding drops nothing.
  */
class BpeByteSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // ---------------------------------------------------------- mapping

  test("GPT-2 byte map: 256 distinct single-char printable symbols, space -> Ġ") {
    val t = ByteSymbolsImpl.symbolTable.map(_.toString)
    assert(t.length == 256 && t.distinct.length == 256)
    assert(t.forall(s => s.codePointCount(0, s.length) == 1))
    assert(t.forall(s => !s.contains(" ")), "no symbol may contain a space")
    assert(t(0x20) == "Ġ", "space must render as Ġ (GPT-2)")
    assert(t('a'.toInt) == "a" && t('Z'.toInt) == "Z" && t('!'.toInt) == "!")
    assert(t(0) == "Ā" && t(127) == "ġ" && t(173) == "Ń")
    // the formula the DuckDB oracle CASE generates, replayed in Scala
    def oracleCase(b: Int): String =
      if ((b >= 33 && b <= 126) || (b >= 161 && b <= 172) ||
          (b >= 174 && b <= 255)) new String(Character.toChars(b))
      else if (b <= 32) new String(Character.toChars(256 + b))
      else if (b >= 127 && b <= 160) new String(Character.toChars(289 + b - 127))
      else new String(Character.toChars(323))
    (0 until 256).foreach(b => assert(t(b) == oracleCase(b),
      s"byte $b: table '${t(b)}' != oracle CASE '${oracleCase(b)}'"))
  }

  test("multi-byte chars decompose per byte; invalid UTF-8 bytes still map") {
    // 'é' = C3 A9 -> two symbols; '你' = E4 BD A0 -> three
    def syms(s: String): Seq[String] = {
      val a = ByteSymbolsImpl.compute(UTF8String.fromString(s))
      (0 until a.numElements()).map(a.getUTF8String(_).toString)
    }
    assert(syms("é") == Seq("Ã", "©"))
    assert(syms("你").length == 3)
    assert(syms("ab") == Seq("a", "b"))
    // invalid UTF-8 (a lone 0xFF byte): the alphabet is total over
    // BYTES, so even a malformed sequence maps — no UNK, ever
    val bad = ByteSymbolsImpl.compute(
      UTF8String.fromBytes(Array(0xFF.toByte, 'A'.toByte)))
    assert(bad.numElements() == 2)
    assert(bad.getUTF8String(0).toString == ByteSymbolsImpl.symbolTable(0xFF).toString)
    assert(bad.getUTF8String(1).toString == "A")
  }

  // ------------------------------------------- from-scratch reference

  /** Naive greedy BPE: recount every pair from scratch each round,
    * argmax by (count DESC, a, b) in unsigned UTF-8 byte order, apply
    * left-to-right. Deliberately shares NO code with the trainer
    * beyond the two 4-line primitives it is checking against. */
  private def naiveTrain(table: Seq[(Seq[String], Long)], rounds: Int)
      : Seq[(Int, String, String, String, Long)] = {
    var words = table.map(_._1.toArray).toArray
    val cnts = table.map(_._2).toArray
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    var r = 0
    var done = false
    while (r < rounds && !done) {
      val counts = scala.collection.mutable.Map
        .empty[(String, String), Long].withDefaultValue(0L)
      for (w <- words.indices; i <- 0 until words(w).length - 1)
        counts((words(w)(i), words(w)(i + 1))) += cnts(w)
      if (counts.isEmpty) done = true
      else {
        val ((a, b), c) = counts.toSeq.sortWith { case ((p1, c1), (p2, c2)) =>
          if (c1 != c2) c1 > c2
          else {
            val ca = BpeTrainer.utf8Compare(p1._1, p2._1)
            if (ca != 0) ca < 0 else BpeTrainer.utf8Compare(p1._2, p2._2) < 0
          }
        }.head
        merges += ((r, a, b, a + b, c))
        words = words.map { syms =>
          val out = Array.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
              out += (a + b); i += 2
            } else { out += syms(i); i += 1 }
          }
          out.result()
        }
      }
      r += 1
    }
    merges.result()
  }

  /** Multi-byte corpus written as a documents.parquet fixture so the
    * REAL operator path (Tables.load -> pre-tokenize -> train) runs. */
  private lazy val utf8Dir: String = {
    val dir = java.nio.file.Files.createTempDirectory("bpebyte").toString
    import spark.implicits._
    Seq(
      (1L, "héllo héllo café naïve café héllo"),
      (2L, "the café was naïve, héllo said the dog; 你好 你好 你好"),
      (3L, "héllo héllo the the the café 123 456 123"),
      (4L, "naïve dog! dog? dog. café 你好"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def expectedWordTable(): Seq[(Seq[String], Long)] = {
    val pat = Curation.BytePreTokenRe.r
    val texts = spark.read.parquet(s"$utf8Dir/documents.parquet")
      .select("text").collect().map(_.getString(0))
    val pretoks = texts.flatMap(t => pat.findAllIn(t).toSeq)
      .filter(_.nonEmpty)
    pretoks.groupBy(identity).toSeq.map { case (ptok, occ) =>
      val bytes = ptok.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      (bytes.toSeq.map(b => ByteSymbolsImpl.symbolTable(b & 0xff).toString),
        occ.length.toLong)
    }
  }

  test("byte-level merges bit-match the naive reference in BOTH trainer modes") {
    val want = naiveTrain(expectedWordTable(), rounds = 24)
    assert(want.nonEmpty)
    // multi-byte content must actually be exercised: some merged pair
    // must involve a remapped (non-ASCII-printable) symbol
    assert(want.exists { case (_, a, b, _, _) =>
      (a + b).exists(_ >= 0x80) },
      "corpus failed to force a multi-byte merge — test corpus too weak")
    for (mode <- Seq("local", "distributed")) {
      spark.conf.set("spark.graft.bpe.mode", mode)
      try {
        Artifacts.clear("bpeMerges")
        val got = Curation.bpeMerges(spark, utf8Dir, rounds = 24,
          byteLevel = true)._1
        assert(got == want, s"$mode mode diverged from naive reference")
      } finally spark.conf.unset("spark.graft.bpe.mode")
    }
    Artifacts.clear("bpeMerges")
  }

  test("no-UNK: every pre-token encodes; leading-space words carry Ġ") {
    Artifacts.clear("bpeMerges")
    val enc = Curation.bpeByteEncodeCounts(spark, utf8Dir)
    val pat = Curation.BytePreTokenRe.r
    val perDoc = spark.read.parquet(s"$utf8Dir/documents.parquet")
      .collect().map(r => r.getLong(0) ->
        pat.findAllIn(r.getString(1)).count(_.nonEmpty)).toMap
    val got = enc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == perDoc.map { case (k, v) => k -> v.toLong },
      "inner-join encoding dropped pre-tokens — UNK appeared")
    // n_bpe_tokens <= total bytes, >= pre-token count (merges only shrink)
    enc.collect().foreach { r =>
      assert(r.getLong(2) >= r.getLong(1)) }
    // the trained vocab contains a leading-Ġ symbol (space-prefixed
    // pre-tokens are the GPT-2 shape)
    val fin = Curation.bpeMerges(spark, utf8Dir, byteLevel = true)._2
    val syms = fin.select(explode(split(trim(col("w")), "  ")).as("s"))
      .distinct().collect().map(_.getString(0))
    assert(syms.exists(_.startsWith("Ġ")),
      "no space-prefixed (Ġ…) symbol in the trained table")
    Artifacts.clear("bpeMerges")
  }
}
