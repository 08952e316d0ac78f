package graft.text

import org.apache.spark.ml.Transformer
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core._

/** The complete Gopher quality-removal rule (Rae et al. 2021, Table A1)
  * as one document filter: the conjunction of the structural gates
  * ([[GopherSignals]] columns), the full repetition gates
  * ([[GopherRepetition]] columns), and the two remaining Table-A1
  * signals computed here natively — mean word length in [3, 10] and
  * "contains at least `minStopWords` of the stop-word list". Default
  * thresholds are the paper's, expressed in the library's q4 fraction
  * units (0.30 → 3000) so every comparison is exact integer
  * arithmetic, never a float boundary — and the repetition fractions
  * they compare against follow the de-facto public implementations of
  * the rule (datatrove/FineWeb, Dolma: exclude-first duplicate
  * counting, whole-document character denominators — see
  * [[GopherRepetition]]'s semantics note), so the defaults filter at
  * ecosystem parity rather than strictly over-filtering.
  *
  * This is the gate [[Recipes.corpusCuration]]'s minWords/bullet
  * subset approximates; compose this transformer in its place for the
  * published rule. Stop words are matched as whole lowercase tokens
  * (punctuation-attached forms do not match — the standard
  * implementation shortcut, deterministic and SQL-replayable).
  *
  * Scale shape: the structural and extra signals are codegen'd narrow
  * expressions; the repetition signals are [[GopherRepetition]]'s
  * one-pass UDF kernel — the whole filter is a zero-shuffle narrow
  * scan, so at 100 TB it is a map-only pass whose parallelism is scan
  * splits. `keepSignals` keeps the 28 signal columns for auditing;
  * the default drops them so only the survivor rows' original columns
  * flow on.
  */
class GopherQualityFilter(override val uid: String)
    extends Transformer with HasInputCol with GraftWritable {
  def this() = this(Identifiable.randomUID("GopherQualityFilter"))

  final val minWords = new LongParam(this, "minWords",
    "minimum word count (paper: 50)")
  final val maxWords = new LongParam(this, "maxWords",
    "maximum word count (paper: 100000)")
  final val minMeanWordLenQ4 = new LongParam(this, "minMeanWordLenQ4",
    "minimum mean word length, q4 units (paper: 3 -> 30000)")
  final val maxMeanWordLenQ4 = new LongParam(this, "maxMeanWordLenQ4",
    "maximum mean word length, q4 units (paper: 10 -> 100000)")
  final val maxSymbolWordQ4 = new LongParam(this, "maxSymbolWordQ4",
    "max hash/ellipsis symbol-to-word ratio, q4 (paper: 0.1 -> 1000)")
  final val minAlphaWordQ4 = new LongParam(this, "minAlphaWordQ4",
    "min fraction of words with an alphabetic char, q4 (paper: 0.8)")
  final val maxBulletLineQ4 = new LongParam(this, "maxBulletLineQ4",
    "max fraction of bullet-starting lines, q4 (paper: 0.9)")
  final val maxEllipsisLineQ4 = new LongParam(this, "maxEllipsisLineQ4",
    "max fraction of ellipsis-ending lines, q4 (paper: 0.3)")
  final val minStopWords = new IntParam(this, "minStopWords",
    "min distinct stop words present (paper: 2)")
  final val stopWords = new StringArrayParam(this, "stopWords",
    "stop-word list, matched as whole lowercase tokens (paper's eight)")
  final val maxDupLineQ4 = new LongParam(this, "maxDupLineQ4",
    "max duplicate-line fraction, q4 (paper: 0.30)")
  final val maxDupParaQ4 = new LongParam(this, "maxDupParaQ4",
    "max duplicate-paragraph fraction, q4 (paper: 0.30)")
  final val maxDupLineCharQ4 = new LongParam(this, "maxDupLineCharQ4",
    "max duplicate-line character fraction, q4 (paper: 0.20)")
  final val maxDupParaCharQ4 = new LongParam(this, "maxDupParaCharQ4",
    "max duplicate-paragraph character fraction, q4 (paper: 0.20)")
  final val maxTopNgramCharQ4 = new IntArrayParam(this, "maxTopNgramCharQ4",
    "max top-{2,3,4}-gram char fractions, q4 (paper: 0.20/0.18/0.16)")
  final val maxDupNgramCharQ4 = new IntArrayParam(this, "maxDupNgramCharQ4",
    "max dup-{5..10}-gram char fractions, q4 (paper: 0.15 down to 0.10)")
  final val keepSignals = new BooleanParam(this, "keepSignals",
    "keep the 28 signal columns on survivors instead of dropping them")

  setDefault(minWords -> 50L, maxWords -> 100000L,
    minMeanWordLenQ4 -> 30000L, maxMeanWordLenQ4 -> 100000L,
    maxSymbolWordQ4 -> 1000L, minAlphaWordQ4 -> 8000L,
    maxBulletLineQ4 -> 9000L, maxEllipsisLineQ4 -> 3000L,
    minStopWords -> 2,
    stopWords -> Array("the", "be", "to", "of", "and", "that", "have",
      "with"),
    maxDupLineQ4 -> 3000L, maxDupParaQ4 -> 3000L,
    maxDupLineCharQ4 -> 2000L, maxDupParaCharQ4 -> 2000L,
    maxTopNgramCharQ4 -> Array(2000, 1800, 1600),
    maxDupNgramCharQ4 -> Array(1500, 1400, 1300, 1200, 1100, 1000),
    keepSignals -> false)

  def setMinWords(v: Long): this.type = set(minWords, v)
  def setMaxWords(v: Long): this.type = set(maxWords, v)
  def setMinStopWords(v: Int): this.type = set(minStopWords, v)
  def setStopWords(v: Array[String]): this.type = set(stopWords, v)
  def setKeepSignals(v: Boolean): this.type = set(keepSignals, v)

  /** the 28 signal columns this filter computes (and drops by default) */
  def signalColumns: Seq[String] =
    Seq("gs_n_words", "gs_n_alpha_words", "gs_alpha_word_q4",
      "gs_n_symbols", "gs_symbol_word_q4", "gs_n_lines",
      "gs_n_bullet_lines", "gs_bullet_line_q4", "gs_n_ellipsis_lines",
      "gs_ellipsis_line_q4") ++
      GopherRepetition.fields.map(_._1) ++
      Seq("gq_mean_word_len_q4", "gq_stop_words")

  override def transform(ds: Dataset[_]): DataFrame = {
    import PipelineFunctions.q4
    // ONE fused kernel pass per document (round 15): the repetition
    // Profile and the structural S both derive from a single UDF call
    // that tokenizes the text ONCE and hands the shared word array to
    // both kernels — the former two-UDF chain deserialized the text
    // column and regex-split it twice per row (round-13 review had
    // already collapsed the structural side to one call; this removes
    // the remaining duplicate scan). Values and column order are
    // identical to the GopherSignals ∘ GopherRepetition composition,
    // which remains the audit path.
    val sw = $(stopWords)
    val fUdf = udf { t: String =>
      val text = if (t == null) "" else t
      val words = Words.words(text)
      GopherQualityFilter.Fused(
        GopherRepetition.profileOfWords(text, words),
        GopherStructural.profileOfWords(text, words, sw))
    }
    val tmp = graft.core.DatasetExtensions
      .findUnusedColumnName("gq_fused", ds.schema)
    val withS = ds.toDF().withColumn(tmp, fUdf(col(getInputCol)))
    val t = col(tmp).getField("s")
    val rep = col(tmp).getField("rep")
    val sigSet = signalColumns.toSet
    val origCols = ds.toDF().columns.toIndexedSeq
      .filterNot(sigSet).map(col)
    val grCols = GopherRepetition.fields.map { case (outName, fieldName) =>
      rep.getField(fieldName).as(outName)
    }
    val full = withS.select(origCols ++ Seq(
      t.getField("nWords").as("gs_n_words"),
      t.getField("nAlphaWords").as("gs_n_alpha_words"),
      q4(t.getField("nAlphaWords"), t.getField("nWords"))
        .as("gs_alpha_word_q4"),
      t.getField("nSymbols").as("gs_n_symbols"),
      q4(t.getField("nSymbols"), t.getField("nWords"))
        .as("gs_symbol_word_q4"),
      t.getField("nLines").as("gs_n_lines"),
      t.getField("nBulletLines").as("gs_n_bullet_lines"),
      q4(t.getField("nBulletLines"), t.getField("nLines"))
        .as("gs_bullet_line_q4"),
      t.getField("nEllipsisLines").as("gs_n_ellipsis_lines"),
      q4(t.getField("nEllipsisLines"), t.getField("nLines"))
        .as("gs_ellipsis_line_q4")) ++
      grCols ++ Seq(
      q4(t.getField("wordChars"), t.getField("nWords"))
        .as("gq_mean_word_len_q4"),
      t.getField("stopHits").as("gq_stop_words")): _*)
    val top = $(maxTopNgramCharQ4)
    val dup = $(maxDupNgramCharQ4)
    require(top.length == 3 && dup.length == 6,
      "maxTopNgramCharQ4 needs 3 entries (n=2..4), " +
        "maxDupNgramCharQ4 needs 6 (n=5..10)")
    val pass: Column =
      col("gs_n_words").between($(minWords), $(maxWords)) &&
        col("gq_mean_word_len_q4")
          .between($(minMeanWordLenQ4), $(maxMeanWordLenQ4)) &&
        col("gs_symbol_word_q4") <= $(maxSymbolWordQ4) &&
        col("gs_alpha_word_q4") >= $(minAlphaWordQ4) &&
        col("gs_bullet_line_q4") <= $(maxBulletLineQ4) &&
        col("gs_ellipsis_line_q4") <= $(maxEllipsisLineQ4) &&
        col("gq_stop_words") >= $(minStopWords) &&
        col("gr_dup_line_q4") <= $(maxDupLineQ4) &&
        col("gr_dup_para_q4") <= $(maxDupParaQ4) &&
        col("gr_dup_line_char_q4") <= $(maxDupLineCharQ4) &&
        col("gr_dup_para_char_q4") <= $(maxDupParaCharQ4) &&
        col("gr_top_2gram_char_q4") <= top(0) &&
        col("gr_top_3gram_char_q4") <= top(1) &&
        col("gr_top_4gram_char_q4") <= top(2) &&
        col("gr_dup_5gram_char_q4") <= dup(0) &&
        col("gr_dup_6gram_char_q4") <= dup(1) &&
        col("gr_dup_7gram_char_q4") <= dup(2) &&
        col("gr_dup_8gram_char_q4") <= dup(3) &&
        col("gr_dup_9gram_char_q4") <= dup(4) &&
        col("gr_dup_10gram_char_q4") <= dup(5)
    val filtered = full.filter(pass)
    if ($(keepSignals)) filtered
    else filtered.drop(signalColumns: _*)
  }

  override def transformSchema(schema: StructType): StructType =
    if ($(keepSignals)) {
      // mirror transform's replace semantics on re-application
      val outs = signalColumns.toSet
      StructType(schema.filterNot(f => outs.contains(f.name)) ++
        signalColumns.map(StructField(_, LongType)))
    } else StructType(schema.filterNot(f =>
      signalColumns.contains(f.name)))
  override def copy(extra: ParamMap): GopherQualityFilter = defaultCopy(extra)
}
object GopherQualityFilter extends GraftReadable[GopherQualityFilter] {
  /** fused per-document kernel output: both signal families from one
    * text deserialization and one tokenization */
  private[text] case class Fused(
      rep: GopherRepetition.Profile, s: GopherStructural.S)
}
