package graft.text

import org.scalatest.funsuite.AnyFunSuite

/** The JVM word rules ([[Words.words]], [[Words.collapse]]) against the
  * oracle engine. Every expected value is a literal printed by DuckDB
  * 1.0.0 (the engine `scripts/check.py` runs), from
  * `list_filter(string_split_regex(trim(s), '\s+'), x -> x <> '')` and
  * `regexp_replace(s, '\s+', ' ', 'g')`. No Spark session. */
class WordsSuite extends AnyFunSuite {
  private val cases: Seq[(String, Seq[String], String)] = Seq(
    ("", Seq(), ""),
    ("   ", Seq(), " "),
    ("\ta b", Seq("a", "b"), " a b"),
    ("a\r\nb", Seq("a", "b"), "a b"),
    // DuckDB's trim strips spaces only, so the C0 control characters
    // stay words; Java String.trim would drop both
    ("\u0001 foo \u0001", Seq("\u0001", "foo", "\u0001"), "\u0001 foo \u0001"),
    // RE2's \s has no vertical tab, so U+000B stays inside the word
    ("a\u000Bb c", Seq("a\u000Bb", "c"), "a\u000Bb c"))

  test("JVM words match DuckDB's list_filter(string_split_regex(trim(s)))") {
    cases.foreach { case (s, want, _) =>
      assert(Words.words(s).toSeq == want, s"for ${s.map(_.toInt)}")
    }
  }

  test("JVM collapse matches DuckDB's regexp_replace(s, '\\s+', ' ', 'g')") {
    cases.foreach { case (s, _, want) =>
      assert(Words.collapse(s) == want, s"for ${s.map(_.toInt)}")
    }
  }

  test("the embedder tokenization is Words over the simple lowercase") {
    // DuckDB: list_filter(string_split_regex(lower(trim(s)), '\s+'), ...)
    assert(HashedEmbedder.tokens("\u0001 ΟΔΟΣ\tİx \u0001").toSeq ==
      Seq("\u0001", "οδοσ", "ix", "\u0001"))
    assert(HashedEmbedder.tokens(null).isEmpty)
  }
}
