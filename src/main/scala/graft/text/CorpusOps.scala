package graft.text

import graft.core._
import org.apache.spark.ml.Transformer
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Corpus-level text statistics and filtering beyond per-document signals
  * (builder brief: training-data-pipeline operators). */

/** Top-k most frequent word n-grams across the corpus — the standard
  * boilerplate / template detector in large-scale curation (the most
  * common 10-grams of a crawl are cookie banners and licence headers;
  * their doc-frequency feeds removal rules and repetition audits).
  *
  * Scale shape: explode → hash-aggregate count (map-side partial
  * combine, one shuffle of (gram, partial-count) pairs) → global top-k
  * via sort-limit, which Spark plans as `TakeOrderedAndProject` — each
  * partition keeps only its k best, the driver merges k×partitions
  * rows, and no global sort ever materializes. Deterministic: total
  * order (count desc, gram asc). Tokens keep the empty token
  * ([[Words.tokens]]), as the oracle's do.
  */
class FrequentNGrams(override val uid: String) extends Transformer
    with HasInputCol with graft.core.GraftWritable {
  def this() = this(Identifiable.randomUID("FrequentNGrams"))

  final val n = new IntParam(this, "n", "n-gram size", ParamValidators.gt(0))
  setDefault(n -> 3)
  def setN(v: Int): this.type = set(n, v)
  final val topK = new IntParam(this, "topK", "grams to keep",
    ParamValidators.gt(0))
  setDefault(topK -> 20)
  def setTopK(v: Int): this.type = set(topK, v)

  override def transform(ds: Dataset[_]): DataFrame = {
    PipelineFunctions.explodeNGrams(
        ds.toDF()
          .select(Words.tokens(lower(col(getInputCol))).as("__toks")),
        col("__toks"), $(n), "gram")
      .select("gram")
      .groupBy("gram").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("gram"))
      .limit($(topK))
  }
  override def transformSchema(schema: StructType): StructType =
    StructType(Seq(StructField("gram", StringType),
      StructField("cnt", LongType, nullable = false)))
  override def copy(extra: ParamMap): FrequentNGrams = defaultCopy(extra)
}
object FrequentNGrams extends graft.core.GraftReadable[FrequentNGrams]


/** Gopher-style document quality filter (Rae et al. 2021 §A1.1, public):
  * keeps documents whose cheap structural signals clear configurable
  * thresholds — token-count window, composite quality score, minimum
  * stopword evidence. The signals are [[DocumentAnalyzer]]'s (integer /
  * q4-scaled, hash-gate-safe); the filter is one narrow codegen'd
  * projection + predicate, no shuffle — at 100 TB it rides the scan.
  */
class QualityFilter(override val uid: String) extends Transformer
    with HasInputCol with graft.core.GraftWritable {
  def this() = this(Identifiable.randomUID("QualityFilter"))

  final val minTokens = new IntParam(this, "minTokens", "min token count")
  setDefault(minTokens -> 50)
  def setMinTokens(v: Int): this.type = set(minTokens, v)
  final val maxTokens = new IntParam(this, "maxTokens", "max token count")
  setDefault(maxTokens -> 100000)
  def setMaxTokens(v: Int): this.type = set(maxTokens, v)
  /** Threshold on the q4-scaled composite quality score (0..10000). */
  final val minQualityQ4 = new LongParam(this, "minQualityQ4",
    "min floor(quality*1e4+0.5)")
  setDefault(minQualityQ4 -> 2500L)
  def setMinQualityQ4(v: Long): this.type = set(minQualityQ4, v)
  /** Gopher's "must contain at least N stop words" evidence rule. */
  final val minStopwordHits = new LongParam(this, "minStopwordHits",
    "min stopword occurrences")
  setDefault(minStopwordHits -> 0L)
  def setMinStopwordHits(v: Long): this.type = set(minStopwordHits, v)

  override def transform(ds: Dataset[_]): DataFrame = {
    transformSchema(ds.schema)
    val c = col(getInputCol)
    ds.toDF().filter(
      TextFunctions.tokenCount(c).between($(minTokens), $(maxTokens)) &&
        TextFunctions.qualityScaled(c) >= $(minQualityQ4) &&
        TextFunctions.stopwordHits(c) >= $(minStopwordHits))
  }
  override def transformSchema(schema: StructType): StructType = {
    SchemaChecks.requireCols(schema, "inputCol" -> getInputCol)
    schema
  }
  override def copy(extra: ParamMap): QualityFilter = defaultCopy(extra)
}
object QualityFilter extends graft.core.GraftReadable[QualityFilter]

/** The Gopher §A1.1 STRUCTURAL quality signals (Rae et al. 2021, public)
  * that [[QualityFilter]]'s composite does not carry — the line- and
  * word-shape rules: fraction of words containing an alphabetic
  * character (paper keeps docs with ≥ 80%), symbol-to-word ratio for
  * `#` and ellipses (paper drops > 0.1), fraction of lines STARTING
  * with a bullet (paper drops > 90%), and fraction of lines ENDING with
  * an ellipsis (paper drops > 30%). Emitted as exact integers plus
  * q4-scaled ratios (floor(r·1e4+0.5) — the hash-gate-safe convention),
  * so the thresholds above are one narrow `filter` away.
  *
  * Scale shape: a single codegen'd projection — split/filter/transform
  * over literal character classes (engine-portable, no `\p{...}`
  * Unicode-table drift), no shuffle, no state; at 100 TB it rides the
  * scan. Lines are `\n`-split then trimmed, empty lines dropped (the
  * LineDeduplicator convention); ellipses count both `...` and `…`.
  *
  * Columns: `gs_n_words`, `gs_n_alpha_words`, `gs_alpha_word_q4`,
  * `gs_n_symbols`, `gs_symbol_word_q4`, `gs_n_lines`,
  * `gs_n_bullet_lines`, `gs_bullet_line_q4`, `gs_n_ellipsis_lines`,
  * `gs_ellipsis_line_q4`.
  */
class GopherSignals(override val uid: String) extends Transformer
    with HasInputCol with graft.core.GraftWritable {
  def this() = this(Identifiable.randomUID("GopherSignals"))

  override def transform(ds: Dataset[_]): DataFrame = {
    import PipelineFunctions.q4
    // one-pass kernel + two projections, not ten HOF withColumns: each
    // withColumn re-analyzed the whole logical plan (driver-side
    // seconds per query under a large upstream tree), and the
    // filter/transform higher-order functions are CodegenFallback —
    // interpreted per-element lambda dispatch measured at ~2 ms/doc in
    // jstack samples (SimpleHigherOrderFunction.eval). The winnowing
    // precedent (round 12, 16.7x): when the operator IS the kernel, a
    // one-pass UDF wins. Semantics are bit-identical to the old
    // expression chain (GopherSignalsSuite pins the edge cases and the
    // gopher_signals oracle hash-checks them end to end).
    val tmp = graft.core.DatasetExtensions
      .findUnusedColumnName("gs_struct", ds.schema)
    val sUdf = udf { t: String => GopherStructural.profile(t, Array.empty) }
    val base = ds.toDF()
    // replace semantics on re-application (withColumn's old behavior):
    // pre-existing OUTPUT columns are superseded, not duplicated — by
    // exact name, never by prefix (a user-owned gs_custom column must
    // pass through untouched)
    val baseCols = base.columns.toIndexedSeq
      .filterNot(GopherSignals.outputColumns.toSet).map(col)
    val counted = base.withColumn(tmp, sUdf(col(getInputCol)))
    counted.select(baseCols ++ Seq(
      col(tmp).getField("nWords").as("gs_n_words"),
      col(tmp).getField("nAlphaWords").as("gs_n_alpha_words"),
      q4(col(tmp).getField("nAlphaWords"), col(tmp).getField("nWords"))
        .as("gs_alpha_word_q4"),
      col(tmp).getField("nSymbols").as("gs_n_symbols"),
      q4(col(tmp).getField("nSymbols"), col(tmp).getField("nWords"))
        .as("gs_symbol_word_q4"),
      col(tmp).getField("nLines").as("gs_n_lines"),
      col(tmp).getField("nBulletLines").as("gs_n_bullet_lines"),
      q4(col(tmp).getField("nBulletLines"), col(tmp).getField("nLines"))
        .as("gs_bullet_line_q4"),
      col(tmp).getField("nEllipsisLines").as("gs_n_ellipsis_lines"),
      q4(col(tmp).getField("nEllipsisLines"), col(tmp).getField("nLines"))
        .as("gs_ellipsis_line_q4")): _*)
  }
  override def transformSchema(schema: StructType): StructType =
    // mirror transform's replace semantics: re-application declares
    // each output field once, not twice
    StructType(schema.filterNot(f =>
      GopherSignals.outputColumns.contains(f.name)) ++
      GopherSignals.outputColumns.map(StructField(_, LongType)))
  override def copy(extra: ParamMap): GopherSignals = defaultCopy(extra)
}
object GopherSignals extends graft.core.GraftReadable[GopherSignals] {
  /** the ten signal columns, in emission order */
  val outputColumns: Seq[String] = Seq(
    "gs_n_words", "gs_n_alpha_words", "gs_alpha_word_q4",
    "gs_n_symbols", "gs_symbol_word_q4", "gs_n_lines",
    "gs_n_bullet_lines", "gs_bullet_line_q4",
    "gs_n_ellipsis_lines", "gs_ellipsis_line_q4")
}

/** One-pass JVM kernel behind [[GopherSignals]] and
  * [[GopherQualityFilter]]'s two extra Table-A1 signals. Each count
  * replicates the original Spark expression EXACTLY (the oracle SQL
  * replays those semantics):
  *
  *  - words = [[Words.words]] (empty tokens dropped); an alpha word
  *    contains an ASCII letter (`rlike("[A-Za-z]")`).
  *  - symbols = '#' count + NON-OVERLAPPING left-to-right "..." count
  *    (the replace-length arithmetic) + '…' count.
  *  - lines = `split(text, "\n")`, SPACE-trimmed (Spark `trim` strips
  *    ' ' only — NOT Java `String.trim`, which also strips \t and \r),
  *    empties dropped; bullet lines start with one of - * • ‣ ▶;
  *    ellipsis lines end with "..." or "…".
  *  - wordChars = sum of word lengths in CODEPOINTS (Spark `length`
  *    counts characters, not UTF-16 units).
  *  - stopHits = number of DISTINCT `stops` entries present among the
  *    lowercased words (`Locale.ROOT` — equals Spark `lower` on the
  *    ASCII stop lists this gates).
  */
private[text] object GopherStructural {
  case class S(nWords: Long, nAlphaWords: Long, nSymbols: Long,
      nLines: Long, nBulletLines: Long, nEllipsisLines: Long,
      wordChars: Long, stopHits: Long)

  private[text] def spaceTrim(s: String): String = {
    var b = 0; var e = s.length
    while (b < e && s.charAt(b) == ' ') b += 1
    while (e > b && s.charAt(e - 1) == ' ') e -= 1
    if (b == 0 && e == s.length) s else s.substring(b, e)
  }

  private def isBullet(ch: Char): Boolean =
    ch == '-' || ch == '*' || ch == '•' || ch == '‣' || ch == '▶'

  def profile(text0: String, stops: Array[String]): S = {
    val text = if (text0 == null) "" else text0
    profileOfWords(text, Words.words(text), stops)
  }

  /** [[profile]] over an already-split word array ([[Words.words]]) —
    * lets [[GopherQualityFilter]]'s fused kernel split each document
    * once for both signal families. */
  private[text] def profileOfWords(text: String, words: Array[String],
      stops: Array[String]): S = {
    // words
    var nWords = 0L; var nAlpha = 0L; var wordChars = 0L
    val lowered = if (stops.nonEmpty)
      new java.util.HashSet[String]() else null
    words.foreach { w =>
      nWords += 1
      wordChars += w.codePointCount(0, w.length)
      var i = 0; var hasAlpha = false
      while (i < w.length && !hasAlpha) {
        val c = w.charAt(i)
        if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z'))
          hasAlpha = true
        i += 1
      }
      if (hasAlpha) nAlpha += 1
      if (lowered != null)
        lowered.add(w.toLowerCase(java.util.Locale.ROOT))
    }
    var stopHits = 0L
    if (lowered != null) stops.foreach { s =>
      if (lowered.contains(s)) stopHits += 1
    }
    // symbols
    var nSym = 0L
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (c == '#' || c == '…') nSym += 1
      i += 1
    }
    var from = text.indexOf("...")
    while (from >= 0) { nSym += 1; from = text.indexOf("...", from + 3) }
    // lines
    var nLines = 0L; var nBullet = 0L; var nEllipsis = 0L
    var start = 0
    while (start <= text.length) {
      val nl = text.indexOf('\n', start)
      val end = if (nl < 0) text.length else nl
      val l = spaceTrim(text.substring(start, end))
      if (l.nonEmpty) {
        nLines += 1
        if (isBullet(l.charAt(0))) nBullet += 1
        if (l.endsWith("...") || l.endsWith("…")) nEllipsis += 1
      }
      start = end + 1
    }
    S(nWords, nAlpha, nSym, nLines, nBullet, nEllipsis,
      wordChars, stopHits)
  }
}
