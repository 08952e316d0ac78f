package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{filter, length, split, trim}

/** The one rule for "what is a word" in the text, dedup and explain
  * families, as the reference feeds its whole `TextFeaturizer` chain from
  * one tokenizer (featurize/text/TextFeaturizer.scala:285-348). Words are
  * separated by runs of [[ws]]; lowercasing stays with the caller
  * (`words(lower(c))`, `words(HashedEmbedder.simpleLower(s))`). The trim
  * is Spark's, which strips spaces only, as DuckDB's `trim` does. Java
  * `String.trim` also strips control chars at the ends, which the oracle
  * keeps as words, so the JVM rule does not trim at all.
  */
object Words {

  /** A whitespace run in Java regex, the engine of Spark's `split` and
    * `regexp_replace`: RE2's `\s` class (tab, newline, form feed,
    * carriage return, space), which the DuckDB oracles use. Java's `\s`
    * also matches the vertical tab U+000B; RE2's does not. */
  val ws: String = "[\\t\\n\\f\\r ]+"
  private val wsPattern = java.util.regex.Pattern.compile(ws)

  /** `split(trim(c), ws)`, keeping Spark's empty token: `""` gives `[""]`,
    * `"\ta"` gives `["", "a"]`, null gives null. Oracle:
    * `string_split_regex(trim(c), '\s+')`. */
  def tokens(c: Column): Column = split(trim(c), ws)

  /** [[tokens]] with empty tokens dropped (`""` gives `[]`). Oracle:
    * `list_filter(string_split_regex(trim(c), '\s+'), x -> x <> '')`. */
  def words(c: Column): Column = filter(tokens(c), t => length(t) > 0)

  /** The words of a non-null string, the same as the SQL rule above. */
  def words(s: String): Array[String] = wsPattern.split(s).filter(_.nonEmpty)

  /** Each whitespace run of a non-null string as one space, no trim.
    * Oracle: `regexp_replace(s, '\s+', ' ', 'g')`. */
  def collapse(s: String): String = wsPattern.matcher(s).replaceAll(" ")
}
