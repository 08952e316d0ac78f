package graft.text

import graft.TestBase
import graft.text.GopherRepetition.Profile

object GopherRepetitionSuiteHelper {
  def q4(num: Long, den: Long): Long =
    if (den > 0) math.floor(num.toDouble / den * 10000.0 + 0.5).toLong
    else 0L
}

class GopherRepetitionSuite extends TestBase {
  import spark.implicits._

  test("overlap-aware duplicate n-gram coverage counts positions once") {
    // "a a a a a a" (11 document chars): the duplicated 5-gram
    // "a a a a a" occurs at positions 1 and 2 — overlapping — and
    // together covers ALL six word positions exactly once each
    val p = GopherRepetition.profile("a a a a a a")
    assert(p.nWords == 6)
    assert(p.dup5Q4 == 5455)           // 6 covered word chars / 11 doc
    assert(p.dup6Q4 == 0)              // single 6-gram: not duplicated
    assert(p.dup7Q4 == 0 && p.dup10Q4 == 0)
    // top 2-gram "a a" occurs 5 times, 3 chars INCLUDING the inner
    // space (the ecosystem's len(" ".join) * count): q4(15, 11)
    assert(p.top2Q4 == 13636)
    assert(p.top3Q4 == 18182)          // 4 * 5 chars / 11
    assert(p.top4Q4 == 19091)          // 3 * 7 chars / 11
    assert(p.nLines == 1 && p.dupLineQ4 == 0)
    assert(p.nParas == 1 && p.dupParaQ4 == 0)
  }

  test("words follow the oracle's space-only trim: C0 control ends stay " +
    "words") {
    // DuckDB 1.0.0: len(list_filter(string_split_regex(
    //   trim(chr(1)||' foo '||chr(1)), '\s+'), x -> x <> '')) = 3;
    // Java String.trim would strip both \u0001 and count one word
    assert(GopherRepetition.profile("\u0001 foo \u0001").nWords == 3)
    assert(GopherRepetition.profile("\ta\r\nb ").nWords == 2)
  }

  test("duplicate fractions exclude first occurrences (datatrove rule)") {
    // 13 document chars. lines: x, y, x, P1, P1 -> groups x:2, P1:2,
    // exclude-first dup count = 2 of 5; dup chars = 1 + 2 = 3 of the
    // DOCUMENT's 13 (not of the line-char sum — round-14 semantics)
    val p = GopherRepetition.profile("x\ny\nx\n\nP1\n\nP1")
    assert(p.nLines == 5)
    assert(p.dupLineQ4 == 4000)        // floor(2/5*10000+0.5)
    assert(p.dupLineCharQ4 == 2308)    // floor(3/13*10000+0.5)
    // paragraphs: "x\ny\nx", P1, P1 -> 1 of 3 dup, 2 of 13 chars
    assert(p.nParas == 3)
    assert(p.dupParaQ4 == 3333)
    assert(p.dupParaCharQ4 == 1538)    // floor(2/13*10000+0.5)
    assert(p.nWords == 5)
    // all 2-grams unique -> tie broken to the codepoint-smallest gram
    // "P1 P1" (5 chars with its space, of 13 document chars)
    assert(p.top2Q4 == 3846)
    assert(p.top3Q4 == 5385)           // "x P1 P1": 7 of 13
    assert(p.top4Q4 == 6154)           // "x y x P1": 8 of 13
    assert(p.dup5Q4 == 0)              // the only 5-gram is unique
  }

  test("degenerate inputs yield all-zero profiles") {
    val zero = Profile(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    assert(GopherRepetition.profile(null) == zero)
    assert(GopherRepetition.profile("") == zero)
    // SPACE-only trim (the oracle's DuckDB trim): each '\n'-split line
    // ("   " and "  ") empties, but the single paragraph "   \n  "
    // trims to "\n" — nonempty, so it COUNTS (Java trim would drop it,
    // which is exactly the divergence the round-13 review caught)
    val ws = GopherRepetition.profile("   \n  ")
    assert(ws == zero.copy(nParas = 1))
    // one word: no grams of any order
    val one = GopherRepetition.profile("solo")
    assert(one.nWords == 1 && one.top2Q4 == 0 && one.dup5Q4 == 0)
    // CRLF parity with the oracle: 'a\r' and 'a' are DISTINCT lines
    // (space-only trim keeps the \r, as DuckDB trim does)
    val crlf = GopherRepetition.profile("a\r\na\nrest.")
    assert(crlf.nLines == 3 && crlf.dupLineQ4 == 0)
  }

  test("invariants over random repetitive text (exclude-first, coverage)") {
    val rnd = new scala.util.Random(20260815L)
    val vocab = Array("aa", "bb", "cc", "dd", "ee", "ff", "你好",
      "x", "line")
    def randText(): String = {
      val n = 1 + rnd.nextInt(120)
      (0 until n).map { _ =>
        val w = vocab(rnd.nextInt(vocab.length))
        val sep = rnd.nextInt(10) match {
          case 0 => "\n"
          case 1 => "\n\n"
          case _ => " "
        }
        w + sep
      }.mkString
    }
    (1 to 200).foreach { _ =>
      val t = randText()
      val p = GopherRepetition.profile(t)
      val fracs = Seq(p.dupLineQ4, p.dupLineCharQ4, p.dupParaQ4,
        p.dupParaCharQ4, p.top2Q4, p.top3Q4, p.top4Q4,
        p.dup5Q4, p.dup6Q4, p.dup7Q4, p.dup8Q4, p.dup9Q4, p.dup10Q4)
      assert(fracs.forall(f => f >= 0 && f <= 10000), s"$p\n$t")
      // exclude-first: even an all-duplicate list scores (n-1)/n < 1
      if (p.nLines > 0)
        assert(p.dupLineQ4 <= GopherRepetitionSuiteHelper
          .q4(p.nLines - 1, p.nLines), s"$p\n$t")
      if (p.nParas > 0)
        assert(p.dupParaQ4 <= GopherRepetitionSuiteHelper
          .q4(p.nParas - 1, p.nParas), s"$p\n$t")
      // coverage monotonicity: a duplicated (n+1)-gram duplicates its
      // two constituent n-grams, so covered positions shrink with n
      val dups = Seq(p.dup5Q4, p.dup6Q4, p.dup7Q4, p.dup8Q4,
        p.dup9Q4, p.dup10Q4)
      dups.sliding(2).foreach(w => assert(w(0) >= w(1), s"$dups\n$t"))
      // pure function
      assert(GopherRepetition.profile(t) == p)
    }
  }

  test("id-window kernel matches the naive string-built reference") {
    // the round-15 GramIndex (interned ids + open-addressed window
    // table + virtual-join tie-break) must be value-identical to the
    // round-14 mkString(" ") kernel, replicated here as the oracle
    def cpLen(s: String): Long = s.codePointCount(0, s.length).toLong
    def q4(num: Long, den: Long): Long =
      GopherRepetitionSuiteHelper.q4(num, den)
    def naive(text: String, n: Int): (Long, Long) = {
      val docChars = cpLen(text)
      // the oracle's words: DuckDB trims spaces only, and once empty
      // tokens drop no trim matters (Java trim would eat a trailing
      // "\u0001" off the vocab's "a\u0001")
      val words = text.split("\\s+").filter(_.nonEmpty)
      val nW = words.length
      val m = nW - n + 1
      if (m < 1 || docChars == 0) return (0L, 0L)
      val grams = Array.tabulate(m)(i => words.slice(i, i + n).mkString(" "))
      val counts = grams.groupBy(identity).map { case (g, o) => g -> o.length }
      // the codepoint-smallest among max-count grams, the way the old
      // kernel's cpCompare loop broke ties
      val maxC = counts.values.max
      val smallest = counts.filter(_._2 == maxC).keys.toSeq
        .sortWith((a, b) => GopherRepetition.cpCompare(a, b) < 0).head
      val top = q4(maxC.toLong * cpLen(smallest), docChars)
      val covered = new Array[Boolean](nW)
      (0 until m).foreach { i =>
        if (counts(grams(i)) > 1) (i until i + n).foreach(covered(_) = true)
      }
      val dch = (0 until nW).filter(covered)
        .map(i => cpLen(words(i))).sum
      (top, q4(dch, docChars))
    }
    // adversarial vocab: supplementary codepoints (astral — UTF-16 vs
    // codepoint order diverges), a control char below ' ', words that
    // are prefixes of each other (exercises the virtual-space branch),
    // and multibyte
    val vocab = Array("a", "ab", "a\u0001", "😀",
      "😀x", "z", "你好", "你", "b")
    val rnd = new scala.util.Random(15L)
    (1 to 300).foreach { _ =>
      val n = 1 + rnd.nextInt(40)
      val t = (0 until n).map(_ => vocab(rnd.nextInt(vocab.length)))
        .mkString(" ")
      val p = GopherRepetition.profile(t)
      val got = Seq(p.top2Q4, p.top3Q4, p.top4Q4) ++
        Seq(p.dup5Q4, p.dup6Q4, p.dup7Q4, p.dup8Q4, p.dup9Q4, p.dup10Q4)
      val want = (2 to 4).map(naive(t, _)._1) ++
        (5 to 10).map(naive(t, _)._2)
      assert(got == want, s"text: $t")
    }
  }

  test("transformer emits the full 16-column profile in order") {
    val df = Seq((1L, "a a a a a a"), (2L, "x\ny\nx\n\nP1\n\nP1"))
      .toDF("doc_id", "text")
    val out = new GopherRepetition().setInputCol("text").transform(df)
    assert(out.columns.toSeq ==
      Seq("doc_id", "text") ++ GopherRepetition.fields.map(_._1))
    val r = out.orderBy("doc_id")
      .select("gr_dup_5gram_char_q4", "gr_dup_line_q4", "gr_n_words")
      .as[(Long, Long, Long)].collect()
    assert(r(0) == ((5455L, 0L, 6L)))
    assert(r(1) == ((0L, 4000L, 5L)))
    // a taken gr_profile name must not collide with the temp column
    val clash = df.withColumn("gr_profile",
      org.apache.spark.sql.functions.lit(1))
    val out2 = new GopherRepetition().setInputCol("text").transform(clash)
    assert(out2.columns.contains("gr_profile") &&
      out2.columns.contains("gr_n_words"))
  }
}
