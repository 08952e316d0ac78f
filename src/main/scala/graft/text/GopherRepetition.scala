package graft.text

import org.apache.spark.ml.Transformer
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core._

/** The full Gopher repetition-removal signal set (Rae et al. 2021,
  * "Scaling Language Models: ... Gopher", Table A1 — the filters
  * RefinedWeb, FineWeb and Dolma reuse): per document,
  *
  *  - duplicate LINE fraction and the fraction of document characters
  *    inside duplicated lines (lines = newline-split, trimmed,
  *    blank-dropped); same pair for PARAGRAPHS (blank-line-separated,
  *    i.e. split on 2+ consecutive newlines). Duplicates are counted
  *    EXCLUDING each group's first occurrence — `x,y,x` scores 1/3,
  *    the datatrove/Dolma `find_duplicates` convention the published
  *    thresholds were calibrated against (an all-members count scores
  *    2/3 and silently over-filters at the same thresholds);
  *  - TOP n-gram character fraction for n in {2,3,4}: occurrences of
  *    the single most frequent word n-gram times that gram's character
  *    length — inner spaces included, the ecosystem's
  *    `len(" ".join(gram)) * count` — over total DOCUMENT characters
  *    (ties broken toward the codepoint-smallest gram so the statistic
  *    is deterministic — matches binary-collation `ORDER BY` in the
  *    SQL replay);
  *  - DUPLICATE n-gram character fraction for n in {5..10}: characters
  *    of words covered by any n-gram that occurs more than once,
  *    counting each covered word position ONCE even under overlapping
  *    occurrences (the paper's "taking care not to count characters
  *    ... more than once", which is also Dolma's coverage-mask rule),
  *    over total document characters.
  *
  * Semantics note (round 14): fractions follow the de-facto public
  * implementations of the rule (datatrove/FineWeb, Dolma) — exclude-
  * first duplicate counting and whole-document-character denominators
  * — so [[GopherQualityFilter]]'s paper-default thresholds filter at
  * ecosystem parity. Two deliberate residual divergences, both
  * documented rather than replicated: (a) lines/paragraphs are trimmed
  * and blank-dropped before duplicate counting (blank runs are
  * structure, not repeated content; datatrove keeps raw splits), and
  * (b) the dup-n-gram numerator counts covered WORD characters, not
  * the spaces between covered words (Dolma's character mask includes
  * them; datatrove instead counts non-overlapping space-free joins) —
  * strictly smaller by at most the inter-word spaces, i.e. marginally
  * more lenient, never stricter.
  *
  * All fractions are emitted q4-scaled (`floor(x*10000+0.5)` as long,
  * 0 when the denominator is 0) — the library's convention for
  * hash-stable fraction columns. [[RepetitionProfiler]] remains the
  * cheap native-expression subset (dup-word + 2-gram stats); this
  * transformer is the complete removal-rule input.
  *
  * Scale shape: per-document one-pass UDF — a narrow projection, no
  * shuffle, no explode; scan splits are the parallelism source. Inside
  * the row the pass is O(words) per gram order: words are interned to
  * dense ids once and each order counts id WINDOWS in a reused
  * open-addressed table ([[GopherRepetition.GramIndex]], round 15) —
  * exact, zero per-window allocation; the round-14 kernel's
  * mkString-per-window formulation was rebuilt after measuring as the
  * library's slowest map-only wall @100x. The builtin-expression
  * formulation was rejected for exactly this operator class in round
  * 12 (winnowing sweep: 16.7x allocation/GC tax when the operator IS
  * the kernel — SCALING.md round-12 tranche 3).
  *
  * Tokenization spec (shared with the SQL oracle): words =
  * [[Words.words]] — whitespace runs split on `\s+`, empties dropped,
  * no Java trim. Character counts are Unicode codepoints (not UTF-16
  * units), so they agree with DuckDB `len()`.
  */
class GopherRepetition(override val uid: String)
    extends Transformer with HasInputCol with GraftWritable {
  def this() = this(Identifiable.randomUID("GopherRepetition"))

  override def transform(ds: Dataset[_]): DataFrame = {
    val profUdf = udf { text: String => GopherRepetition.profile(text) }
    val tmp = graft.core.DatasetExtensions
      .findUnusedColumnName("gr_profile", ds.schema)
    // one projection for all sixteen fields, not a withColumn fold:
    // each withColumn re-analyzes the whole plan, and sixteen re-walks
    // were measured as driver-side seconds when the upstream expression
    // tree is large (SCALING.md round 13). The tmp struct column keeps
    // the UDF evaluated once; not re-selecting it is the drop.
    val base = ds.toDF()
    // replace semantics on re-application (withColumn's old behavior):
    // pre-existing gr_* columns are superseded, not duplicated
    base.withColumn(tmp, profUdf(col(getInputCol)))
      .select(base.columns.toIndexedSeq
          .filterNot(GopherRepetition.fields.map(_._1).toSet).map(col) ++
        GopherRepetition.fields.map { case (outName, fieldName) =>
          col(tmp).getField(fieldName).as(outName)
        }: _*)
  }

  override def transformSchema(schema: StructType): StructType = {
    // mirror transform's replace semantics on re-application
    val outs = GopherRepetition.fields.map(_._1)
    StructType(schema.filterNot(f => outs.contains(f.name)) ++
      outs.map(StructField(_, LongType)))
  }
  override def copy(extra: ParamMap): GopherRepetition = defaultCopy(extra)
}

object GopherRepetition extends GraftReadable[GopherRepetition] {

  /** output column -> Profile field, in emission order */
  val fields: Seq[(String, String)] = Seq(
    "gr_n_lines" -> "nLines",
    "gr_dup_line_q4" -> "dupLineQ4",
    "gr_dup_line_char_q4" -> "dupLineCharQ4",
    "gr_n_paras" -> "nParas",
    "gr_dup_para_q4" -> "dupParaQ4",
    "gr_dup_para_char_q4" -> "dupParaCharQ4",
    "gr_n_words" -> "nWords",
    "gr_top_2gram_char_q4" -> "top2Q4",
    "gr_top_3gram_char_q4" -> "top3Q4",
    "gr_top_4gram_char_q4" -> "top4Q4",
    "gr_dup_5gram_char_q4" -> "dup5Q4",
    "gr_dup_6gram_char_q4" -> "dup6Q4",
    "gr_dup_7gram_char_q4" -> "dup7Q4",
    "gr_dup_8gram_char_q4" -> "dup8Q4",
    "gr_dup_9gram_char_q4" -> "dup9Q4",
    "gr_dup_10gram_char_q4" -> "dup10Q4")

  case class Profile(
      nLines: Long, dupLineQ4: Long, dupLineCharQ4: Long,
      nParas: Long, dupParaQ4: Long, dupParaCharQ4: Long,
      nWords: Long,
      top2Q4: Long, top3Q4: Long, top4Q4: Long,
      dup5Q4: Long, dup6Q4: Long, dup7Q4: Long,
      dup8Q4: Long, dup9Q4: Long, dup10Q4: Long)

  private val Zero =
    Profile(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)

  private def q4(num: Long, den: Long): Long =
    if (den > 0) math.floor(num.toDouble / den.toDouble * 10000.0 + 0.5).toLong
    else 0L

  private def cpLen(s: String): Long =
    s.codePointCount(0, s.length).toLong

  /** Codepoint-order comparison — equals DuckDB's binary VARCHAR
    * collation (UTF-8 byte order), unlike String.compareTo which is
    * UTF-16-unit order and disagrees on supplementary characters.
    * (Retained as the reference comparator [[GramIndex.compareGrams]]
    * must agree with over joined gram strings; suite-pinned.) */
  private[text] def cpCompare(a: String, b: String): Int = {
    var i = 0; var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i); val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca); j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  /** (count, dupCount, dupChars) over a trimmed, blank-dropped item
    * list — the line/paragraph measure. Duplicates exclude each
    * group's FIRST occurrence (a group of c copies contributes c-1),
    * the datatrove/Dolma `find_duplicates` convention. */
  private def dupStats(items: Array[String]): (Long, Long, Long) = {
    val counts = new java.util.HashMap[String, Int](items.length * 2)
    items.foreach(s => counts.put(s, counts.getOrDefault(s, 0) + 1))
    var dupC = 0L; var dupChars = 0L
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val c = e.getValue
      if (c > 1) { dupC += c - 1; dupChars += (c - 1) * cpLen(e.getKey) }
    }
    (items.length.toLong, dupC, dupChars)
  }

  def profile(text: String): Profile =
    if (text == null) Zero
    else profileOfWords(text, Words.words(text))

  private[text] def profileOfWords(
      text: String, words: Array[String]): Profile = {
    // SPACE-only trim (GopherStructural.spaceTrim), not Java String.trim:
    // the DuckDB oracle's trim(l) strips spaces only, and GopherSignals'
    // line census uses the same rule — Java trim would also strip \t/\r,
    // so CRLF crawl text would count 'a\r' and 'a' as one line here but
    // two in the oracle (caught by round-13 review; suite-pinned below)
    val lines = text.split("\n", -1).map(GopherStructural.spaceTrim)
      .filter(_.nonEmpty)
    val (nl, lDup, lDupChars) = dupStats(lines)
    val paras = text.split("\n{2,}", -1).map(GopherStructural.spaceTrim)
      .filter(_.nonEmpty)
    val (np, pDup, pDupChars) = dupStats(paras)
    // char-fraction denominator = the WHOLE document's codepoints (the
    // ecosystem's len(text)), not the sum of item/word characters
    val docChars = cpLen(text)
    val gi = new GramIndex(words)

    Profile(
      nl, q4(lDup, nl), q4(lDupChars, docChars),
      np, q4(pDup, np), q4(pDupChars, docChars),
      words.length.toLong,
      gi.topQ4(2, docChars), gi.topQ4(3, docChars), gi.topQ4(4, docChars),
      gi.dupQ4(5, docChars), gi.dupQ4(6, docChars), gi.dupQ4(7, docChars),
      gi.dupQ4(8, docChars), gi.dupQ4(9, docChars), gi.dupQ4(10, docChars))
  }

  /** Shared per-document scratch for the nine per-order n-gram passes.
    * Round 14's kernel built a fresh `mkString(" ")` String per window
    * per order (~9m gram Strings a document) and hashed their chars —
    * the allocation tax made `gopher_repetition` the slowest map-only
    * wall in the library (122.9 s @100x, round-14 SCALING.md). Here
    * words are interned to dense ids ONCE, so a gram is an id window:
    * counting is an open-addressed table keyed by (FNV-mix over the id
    * window) with id-window equality on probe — EXACT (the join with a
    * single-space separator over space-free words is injective at fixed
    * n, so id-window equality ⇔ gram-string equality; never
    * fingerprint-only), and zero per-window allocation. The table,
    * per-position slot map, and coverage mask are allocated once at the
    * n=2 size and reused across orders via fill-reset. Top-gram ties
    * are broken by [[compareGrams]] — the joined strings' codepoint
    * order computed over the word windows without building either
    * string. */
  private final class GramIndex(words: Array[String]) {
    private val nW = words.length
    private val wLen: Array[Long] = words.map(cpLen)
    // dense word ids: gram equality becomes id-window equality
    private val ids = new Array[Int](nW)
    locally {
      val m = new java.util.HashMap[String, Integer](nW * 2)
      var i = 0
      while (i < nW) {
        var id = m.get(words(i))
        if (id == null) { id = Integer.valueOf(m.size); m.put(words(i), id) }
        ids(i) = id.intValue()
        i += 1
      }
    }
    private val maxM = math.max(nW - 1, 0) // window count at n=2
    private val maxCap = tableCap(maxM)
    private val tblPos = new Array[Int](maxCap) // entry position + 1; 0 empty
    private val tblCnt = new Array[Int](maxCap)
    private val slotOf = new Array[Int](math.max(maxM, 1))
    private val covered = new Array[Boolean](math.max(nW, 1))

    private def tableCap(m: Int): Int = {
      var cap = 8
      while (cap < m.toLong * 10 / 7 + 1) cap <<= 1
      cap
    }

    private def sameWindow(a: Int, b: Int, n: Int): Boolean = {
      var k = 0
      while (k < n) {
        if (ids(a + k) != ids(b + k)) return false
        k += 1
      }
      true
    }

    /** count all id windows of order n into the shared table; returns
      * the table capacity in use (windows exist iff caller checked
      * m >= 1) */
    private def count(n: Int): Int = {
      val m = nW - n + 1
      val cap = tableCap(m)
      java.util.Arrays.fill(tblPos, 0, cap, 0)
      val mask = cap - 1
      var i = 0
      while (i < m) {
        // FNV-1a over the id window + the CompactStringSet finalizer
        var h = 0xcbf29ce484222325L
        var j = i
        val end = i + n
        while (j < end) {
          h ^= ids(j).toLong & 0xffffffffL
          h *= 0x100000001b3L
          j += 1
        }
        h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
        var slot = (h & mask.toLong).toInt
        var done = false
        while (!done) {
          val e = tblPos(slot)
          if (e == 0) {
            tblPos(slot) = i + 1; tblCnt(slot) = 1; slotOf(i) = slot
            done = true
          } else if (sameWindow(e - 1, i, n)) {
            tblCnt(slot) += 1; slotOf(i) = slot
            done = true
          } else slot = (slot + 1) & mask
        }
        i += 1
      }
      cap
    }

    /** codepoint order of the space-joined grams at word positions a
      * and b — equals cpCompare over the two mkString(" ") strings
      * without building either. Words contain no ASCII space (split on
      * \s+), so the virtual separator never ties a real character. */
    private def compareGrams(a: Int, b: Int, n: Int): Int = {
      var k = 0
      while (k < n) {
        val u = words(a + k); val v = words(b + k)
        var i = 0; var j = 0
        while (i < u.length && j < v.length) {
          val cu = u.codePointAt(i); val cv = v.codePointAt(j)
          if (cu != cv) return Integer.compare(cu, cv)
          i += Character.charCount(cu); j += Character.charCount(cv)
        }
        if (i < u.length) {
          // v's word ended first: its next joined char is ' ', or
          // end-of-string on the last word (prefix ⇒ smaller)
          return if (k == n - 1) 1 else Integer.compare(u.codePointAt(i), 32)
        }
        if (j < v.length) {
          return if (k == n - 1) -1 else Integer.compare(32, v.codePointAt(j))
        }
        k += 1
      }
      0
    }

    /** most-frequent n-gram's occurrences × its characters (spaces
      * included — the gram string as joined), q4 over docChars */
    def topQ4(n: Int, docChars: Long): Long = {
      val m = nW - n + 1
      if (m < 1 || docChars == 0) return 0L
      val cap = count(n)
      var bestPos = -1; var bestC = 0
      var s = 0
      while (s < cap) {
        val e = tblPos(s)
        if (e != 0) {
          val c = tblCnt(s)
          if (c > bestC ||
              (c == bestC && compareGrams(e - 1, bestPos, n) < 0)) {
            bestC = c; bestPos = e - 1
          }
        }
        s += 1
      }
      var chars = (n - 1).toLong // the joined gram's inner spaces
      var k = 0
      while (k < n) { chars += wLen(bestPos + k); k += 1 }
      q4(bestC.toLong * chars, docChars)
    }

    /** characters of word positions covered by any duplicated n-gram,
      * each position counted once (overlap-aware), q4 over docChars */
    def dupQ4(n: Int, docChars: Long): Long = {
      val m = nW - n + 1
      if (m < 1 || docChars == 0) return 0L
      count(n)
      java.util.Arrays.fill(covered, 0, nW, false)
      var i = 0
      while (i < m) {
        if (tblCnt(slotOf(i)) > 1) {
          var j = i
          while (j < i + n) { covered(j) = true; j += 1 }
        }
        i += 1
      }
      var dch = 0L
      i = 0
      while (i < nW) { if (covered(i)) dch += wLen(i); i += 1 }
      q4(dch, docChars)
    }
  }
}
