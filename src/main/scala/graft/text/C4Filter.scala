package graft.text

import org.apache.spark.ml.Transformer
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core._

/** C4-style heuristic cleaning (Raffel et al. 2020, "Exploring the
  * Limits of Transfer Learning…", §2.2): the line- and page-level rules
  * that built C4 from Common Crawl, as one narrow transformer.
  *
  * Line rules (a line survives iff ALL hold):
  *  - ends in a terminal punctuation mark (`.` `!` `?` `"` — the
  *    paper's rule);
  *  - has at least `minWordsPerLine` whitespace words (paper: 3);
  *  - does not contain the word "javascript" (case-insensitive) or any
  *    other `lineDropTerms` entry.
  *
  * Page rules, evaluated on the CLEANED text (surviving lines joined
  * with newlines — a documented ordering choice; the paper leaves it
  * unspecified):
  *  - at least `minSentences` sentences (paper: 5) — counted as
  *    terminal-punctuation occurrences, a deterministic stand-in for
  *    the paper's English sentence tokenizer;
  *  - no `pageDropLiterals` substring ("lorem ipsum", "{" — the
  *    paper's source-code and boilerplate tells);
  *  - no whitespace token on the `badWords` list (the paper uses the
  *    public "List of Dirty, Naughty…" blocklist; the param ships
  *    EMPTY — supply your own list).
  *
  * Every rule is a codegen'd builtin expression over a split-lines
  * array — no UDF, no shuffle: the operator is a narrow filter +
  * projection whatever the corpus size, and every predicate is
  * SQL-replayable (the driver gate's oracle replays all of them).
  * Survivors gain the cleaned text in `outputCol`; dropped pages leave
  * the corpus. The paper's remaining step — three-sentence-span
  * global dedup — is the [[LineDeduplicator]] /
  * [[ExactSubstringDeduplicator]] family, composed downstream.
  */
class C4Filter(override val uid: String)
    extends Transformer with HasInputCol with GraftWritable {
  def this() = this(Identifiable.randomUID("C4Filter"))

  final val minWordsPerLine = new IntParam(this, "minWordsPerLine",
    "minimum whitespace words a line needs to survive",
    ParamValidators.gtEq(0))
  setDefault(minWordsPerLine -> 3)
  def setMinWordsPerLine(v: Int): this.type = set(minWordsPerLine, v)
  final val minSentences = new IntParam(this, "minSentences",
    "minimum terminal-punctuation sentences a cleaned page needs",
    ParamValidators.gtEq(0))
  setDefault(minSentences -> 5)
  def setMinSentences(v: Int): this.type = set(minSentences, v)
  final val lineDropTerms = new StringArrayParam(this, "lineDropTerms",
    "case-insensitive substrings that kill a line")
  setDefault(lineDropTerms -> Array("javascript"))
  def setLineDropTerms(v: Array[String]): this.type = set(lineDropTerms, v)
  final val pageDropLiterals = new StringArrayParam(this, "pageDropLiterals",
    "case-insensitive substrings that kill the whole page")
  setDefault(pageDropLiterals -> Array("lorem ipsum", "{"))
  def setPageDropLiterals(v: Array[String]): this.type =
    set(pageDropLiterals, v)
  final val badWords = new StringArrayParam(this, "badWords",
    "lowercase word blocklist; any exact token match kills the page " +
      "(ships empty — supply a list)")
  setDefault(badWords -> Array.empty[String])
  def setBadWords(v: Array[String]): this.type = set(badWords, v)
  final val outputCol = new Param[String](this, "outputCol",
    "cleaned-text column added to surviving rows")
  setDefault(outputCol -> "c4_text")
  def setOutputCol(v: String): this.type = set(outputCol, v)

  override def transform(ds: Dataset[_]): DataFrame = {
    val df = ds.toDF()
    val lines = split(col(getInputCol), "\n")
    val keepLine = (l: Column) => {
      val t = trim(l)
      val low = lower(l)
      val words = Words.words(l)
      t.rlike("[.!?\"]$") &&
        (size(words) >= $(minWordsPerLine)) &&
        !$(lineDropTerms).foldLeft(lit(false))((acc, term) =>
          acc || low.contains(lit(term.toLowerCase)))
    }
    val cleaned = array_join(
      org.apache.spark.sql.functions.filter(lines, keepLine), "\n")
    val lowClean = lower(cleaned)
    val nSentences =
      length(cleaned) - length(regexp_replace(cleaned, "[.!?]", ""))
    val noPageLiteral = $(pageDropLiterals).foldLeft(lit(true))((acc, s) =>
      acc && !lowClean.contains(lit(s.toLowerCase)))
    val noBadWord =
      if ($(badWords).isEmpty) lit(true)
      else !arrays_overlap(Words.words(lowClean),
        lit($(badWords).map(_.toLowerCase)))
    df.withColumn($(outputCol), cleaned)
      .filter((nSentences >= $(minSentences)) && noPageLiteral && noBadWord)
  }

  override def transformSchema(schema: StructType): StructType =
    StructType(schema :+ StructField($(outputCol), StringType))
  override def copy(extra: ParamMap): C4Filter = defaultCopy(extra)
}
object C4Filter extends GraftReadable[C4Filter]
