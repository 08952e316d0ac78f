package graft.text

import org.apache.spark.ml.Transformer
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core._

/** HTML → plain text extraction — the step between a crawl's `response`
  * records ([[graft.io.warc.WarcFiles]]) and every text operator in
  * this library (the WET-conversion step of the C4/CCNet pipelines).
  *
  * Deliberately a deterministic TAG-LEVEL extractor, not a DOM parser:
  * the whole transform is a fixed chain of codegen'd `regexp_replace`
  * expressions (drop comments and script/style/head subtrees, convert
  * block-level tags to line breaks, strip remaining tags, decode the
  * common entities, normalize whitespace) — one narrow zero-shuffle
  * projection whose every step the DuckDB oracle replays verbatim.
  * Regexes stay inside the Java∩RE2 common subset (no `\s`, whose
  * character class differs between engines; explicit classes instead)
  * so Spark and the oracle agree byte-for-byte. Content-density
  * boilerplate pruning (justext-style) is intentionally NOT here: its
  * inputs are per-BLOCK statistics, which downstream
  * [[C4Filter]]/[[GopherSignals]] line rules already cover on the
  * extracted text.
  *
  * Numeric character references: the universal few decode as chain
  * literals (`&#39; &#34;`); GENERAL `&#x...;` decoding needs computed
  * characters, which no regexp chain can express — setting
  * `numericEntities` inserts the linear native decode
  * [[graft.functions.TextExpressions.decodeNumericEntities]] between
  * the entity literals and the amp-decodes-last step (off by default:
  * the default chain stays the published, fully-regexp-replayable
  * spec; the `html_entities` gate pins the decode against planted
  * refs the oracle replays as literals).
  */
class HtmlTextExtractor(override val uid: String)
    extends Transformer with HasInputCol with HasOutputCol
    with GraftWritable {
  def this() = this(Identifiable.randomUID("HtmlTextExtractor"))
  setDefault(outputCol -> "text")

  final val numericEntities = new BooleanParam(this, "numericEntities",
    "decode general numeric character references (&#NNN; / &#xHHHH;) " +
      "with the native linear expression")
  setDefault(numericEntities -> false)
  def setNumericEntities(v: Boolean): this.type = set(numericEntities, v)

  override def transform(ds: Dataset[_]): DataFrame =
    ds.toDF().withColumn($(outputCol),
      HtmlTextExtractor.extract(col(getInputCol), $(numericEntities)))

  override def transformSchema(schema: StructType): StructType =
    StructType(schema :+ StructField($(outputCol), StringType))
  override def copy(extra: ParamMap): HtmlTextExtractor = defaultCopy(extra)
}

object HtmlTextExtractor extends GraftReadable[HtmlTextExtractor] {

  /** (pattern, replacement) chain in its SPEC form — `.*?` shortest
    * match, the form the `html_extract` oracle replays step for step
    * (RE2 executes non-greedy in linear time; these ARE the oracle's
    * patterns verbatim). */
  val steps: Seq[(String, String)] = Seq(
    // 1. comments (DOTALL, non-greedy)
    ("(?s)<!--.*?-->", ""),
    // 2. non-content subtrees, case-insensitive
    ("(?is)<script\\b[^>]*>.*?</script>", ""),
    ("(?is)<style\\b[^>]*>.*?</style>", ""),
    ("(?is)<noscript\\b[^>]*>.*?</noscript>", ""),
    ("(?is)<head\\b[^>]*>.*?</head>", ""),
    // 3. block-level tags become line breaks (open or close). The tag
    // body is BOUNDED ({0,1000}, RE2's repetition limit): unbounded
    // [^>]* rescans to EOF at every '<' of a '>'-free suffix — "a<b,
    // c<d" math/code text is quadratic under java.util.regex; the
    // bound caps each attempt, and a >1000-char tag (nonexistent in
    // practice) simply survives to the text, where the quality gates
    // judge it
    ("(?i)</?(p|div|br|h[1-6]|li|ul|ol|table|tr|td|th|blockquote|" +
      "section|article|header|footer|pre|form)\\b[^>]{0,1000}>", "\n"),
    // 4. every remaining tag vanishes (same bound)
    ("<[^>]{1,1000}>", ""),
    // 5. entities — &amp; LAST so it cannot create new entities
    ("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"), ("&quot;", "\""),
    ("&#34;", "\""), ("&#39;", "'"), ("&apos;", "'"), ("&amp;", "&"),
    // 6. whitespace: horizontal runs to one space, strip around
    // newlines, collapse 3+ newlines to a blank line (explicit
    // classes — no \s, whose Java and RE2 definitions differ)
    ("[ \\t\\r]+", " "),
    (" ?\\n ?", "\n"),
    // one line per block: adjacent close+open tags and source newlines
    // stack, and the line-level consumers (LineDeduplicator, C4Filter,
    // GopherSignals) want one boundary per block, not typography
    ("\\n{2,}", "\n"),
    // anchors, not trim(): both engines' trim strips spaces only
    ("^\\n+", ""), ("\\n+$", ""))

  /** The full chain as one nested column expression; leading/trailing
    * spaces trimmed last. The first five steps (comments + the four
    * subtree strips) execute as the LINEAR native kernel
    * [[graft.functions.TextExpressions.stripHtmlSubtrees]] rather than
    * java.util.regex: Java regex attempts `.*?Closer` at every start
    * position and rescans to EOF on each failure — quadratic on pages
    * full of unclosed `<!--`/`<script`, a routine crawl shape under
    * crawler length caps (92-150 s measured for ONE 300 KB adversarial
    * page, in both the non-greedy and possessive formulations; numbers
    * as recorded; HtmlTextSuite asserts the bound). RE2, the oracle
    * engine, simulates all starts in one automaton pass, so the oracle
    * keeps the published spec form and stays linear. */
  def extract(c: Column, numericEntities: Boolean = false): Column = {
    val rest = steps.drop(5)
    // the numeric decode slots between the entity literals and the
    // amp step: &amp; decodes LAST so it cannot create new entities,
    // and a double-escaped &amp;#39; therefore survives as the literal
    // text &#39; under either setting
    val ampAt = rest.indexWhere(_._1 == "&amp;")
    val (beforeAmp, fromAmp) = rest.splitAt(ampAt)
    val pre = beforeAmp.foldLeft(
      graft.functions.TextExpressions.stripHtmlSubtrees(c)) {
      case (acc, (p, r)) => regexp_replace(acc, p, r)
    }
    val mid =
      if (numericEntities)
        graft.functions.TextExpressions.decodeNumericEntities(pre)
      else pre
    trim(fromAmp.foldLeft(mid) {
      case (acc, (p, r)) => regexp_replace(acc, p, r)
    })
  }
}
