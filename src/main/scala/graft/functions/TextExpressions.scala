package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the per-document text stages — these
  * run in the 100 TB scan path, so they must stay inside whole-stage
  * codegen rather than crossing a Scala-UDF serialization boundary per
  * row. Codegen references the expression instance itself
  * (`addReferenceObj`), so stateful pieces (a compiled Pattern, a
  * Normalizer form) are created once per task, not per row.
  */
object TextExpressions {

  private def toCol(e: Expression): Column =
    org.apache.spark.sql.graftshims.ColumnBridge.column(e)
  private def expr(c: Column): Expression =
    org.apache.spark.sql.graftshims.ColumnBridge.expression(c)

  /** Unicode normalization (NFC/NFD/NFKC/NFKD) + optional lowercase. */
  def unicodeNormalize(text: Column, form: String, lower: Boolean): Column =
    toCol(UnicodeNormalizeExpr(expr(text), form, lower))

  case class UnicodeNormalizeExpr(child: Expression, form: String,
      lower: Boolean) extends UnaryExpression {
    override def dataType: DataType = StringType

    @transient private lazy val f = java.text.Normalizer.Form.valueOf(form)

    def normalize(s: UTF8String): UTF8String = {
      val n = java.text.Normalizer.normalize(s.toString, f)
      // Locale.ROOT: executors on tr/az-locale JVMs would otherwise map
      // 'I' -> 'ı', making the normalize stage environment-dependent
      UTF8String.fromString(
        if (lower) n.toLowerCase(java.util.Locale.ROOT) else n)
    }

    override def nullSafeEval(a: Any): Any =
      normalize(a.asInstanceOf[UTF8String])

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("unicodeNormalize", this,
        classOf[UnicodeNormalizeExpr].getName)
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.normalize($a);")
    }

    override protected def withNewChildInternal(c: Expression): UnicodeNormalizeExpr =
      copy(child = c)
  }

  /** Longest-match-wins multi-substring replace over a prebuilt trie.
    * The trie ships inside the expression (codegen references array) —
    * one deserialization per task, zero per-row conversion.
    */
  def trieReplace(text: Column, trie: graft.text.Trie): Column =
    toCol(TrieReplaceExpr(expr(text), trie))

  case class TrieReplaceExpr(child: Expression, trie: graft.text.Trie)
      extends UnaryExpression {
    override def dataType: DataType = StringType

    def replace(s: UTF8String): UTF8String =
      UTF8String.fromString(trie.replaceAll(s.toString))

    override def nullSafeEval(a: Any): Any =
      replace(a.asInstanceOf[UTF8String])

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("trieReplace", this,
        classOf[TrieReplaceExpr].getName)
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.replace($a);")
    }

    override protected def withNewChildInternal(c: Expression): TrieReplaceExpr =
      copy(child = c)
  }

  /** Greedy page split: cut at the last boundary-regex match in
    * (minLen, maxLen], hard cut at maxLen when none. */
  def pageSplit(text: Column, maxLen: Int, minLen: Int,
      boundaryRegex: String): Column =
    toCol(PageSplitExpr(expr(text), maxLen, minLen, boundaryRegex))

  case class PageSplitExpr(child: Expression, maxLen: Int, minLen: Int,
      boundaryRegex: String) extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = true)

    @transient private lazy val re = boundaryRegex.r

    def split(s: UTF8String): ArrayData = {
      val pages = scala.collection.mutable.ArrayBuffer.empty[Any]
      var rest = s.toString
      while (rest.length > maxLen) {
        // last boundary in (minLen, maxLen]; hard cut if none
        val window = rest.substring(minLen, maxLen)
        val m = re.findAllMatchIn(window).toSeq.lastOption
        val cut = m.map(minLen + _.end).getOrElse(maxLen)
        pages += UTF8String.fromString(rest.substring(0, cut))
        rest = rest.substring(cut)
      }
      if (rest.nonEmpty || pages.isEmpty) pages += UTF8String.fromString(rest)
      new GenericArrayData(pages.toArray)
    }

    override def nullSafeEval(a: Any): Any =
      split(a.asInstanceOf[UTF8String])

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("pageSplit", this,
        classOf[PageSplitExpr].getName)
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.split($a);")
    }

    override protected def withNewChildInternal(c: Expression): PageSplitExpr =
      copy(child = c)
  }

  /** Remove HTML comments and script/style/noscript/head subtrees —
    * language-equivalent to the regexp chain
    * `(?s)<!--.*?-->` then `(?is)<TAG\b[^>]*>.*?</TAG>` per tag, but
    * LINEAR: five sequential indexOf scans, each character copied once.
    * java.util.regex attempts those patterns at every start position
    * and rescans to EOF on each failure, which is quadratic on a page
    * full of UNCLOSED `<!--`/`<script` (measured 92-150 s for ONE
    * 300 KB adversarial page in either the non-greedy or the
    * possessive formulation — numbers as recorded; HtmlTextSuite
    * asserts the bound; crawler length caps make truncated pages
    * routine). The DuckDB oracle keeps the spec regexp form: RE2
    * simulates all start positions in one automaton pass, so `.*?` is
    * already linear THERE, and the shortest-match semantics the scan
    * implements is exactly what `.*?Closer` denotes. Case-insensitive matching uses Unicode
    * folding (regionMatches), the same folding RE2's `(?i)` applies. */
  def stripHtmlSubtrees(text: Column): Column =
    toCol(StripHtmlSubtreesExpr(expr(text)))

  case class StripHtmlSubtreesExpr(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = StringType

    private def isWord(c: Char): Boolean =
      (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
        (c >= '0' && c <= '9') || c == '_'

    private def find(s: String, t: String, from: Int, ci: Boolean): Int =
      if (!ci) s.indexOf(t, from)
      else {
        var i = from
        val max = s.length - t.length
        while (i <= max) {
          if (s.regionMatches(true, i, t, 0, t.length)) return i
          i += 1
        }
        -1
      }

    /** One pass: every non-overlapping `open[^>]*?>…close` span (tag
      * form) or `open…close` span (comment form) removed, shortest
      * close, continuing after each removal — regexp-replace-all
      * semantics. An opener with no closer stays in place, and no
      * later opener can match either (its closer search space is a
      * suffix of the failed one), so the pass ends. */
    private def strip(s: String, open: String, close: String,
        isTag: Boolean, ci: Boolean): String = {
      val n = s.length
      var i = find(s, open, 0, ci)
      if (i < 0) return s // common case: zero allocation
      val sb = new java.lang.StringBuilder(n)
      var copied = 0
      while (i >= 0 && i < n) {
        val body = i + open.length
        if (isTag && body < n && isWord(s.charAt(body))) {
          // \b failed (e.g. "<scripts"): this is not an opener
          i = find(s, open, i + 1, ci)
        } else {
          val afterOpen =
            if (!isTag) body
            else {
              val gt = s.indexOf('>', body)
              if (gt < 0) -1 else gt + 1
            }
          val c = if (afterOpen < 0) -1 else find(s, close, afterOpen, ci)
          if (c < 0) i = -1 // no completable match here or later
          else {
            sb.append(s, copied, i)
            copied = c + close.length
            i = find(s, open, copied, ci)
          }
        }
      }
      if (copied == 0) s else { sb.append(s, copied, n); sb.toString }
    }

    def stripAll(u: UTF8String): UTF8String = {
      var s = u.toString
      s = strip(s, "<!--", "-->", isTag = false, ci = false)
      var t = 0
      val tags = Array("script", "style", "noscript", "head")
      while (t < tags.length) {
        s = strip(s, "<" + tags(t), "</" + tags(t) + ">",
          isTag = true, ci = true)
        t += 1
      }
      UTF8String.fromString(s)
    }

    override def nullSafeEval(a: Any): Any =
      stripAll(a.asInstanceOf[UTF8String])

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("stripHtml", this,
        classOf[StripHtmlSubtreesExpr].getName)
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.stripAll($a);")
    }

    override protected def withNewChildInternal(c: Expression): StripHtmlSubtreesExpr =
      copy(child = c)
  }

  /** Decode HTML numeric character references — `&#NNN;` and
    * `&#xHHHH;` — in one linear pass (computed code points are exactly
    * what a regexp-replace chain cannot express). WHATWG semantics:
    *  - 0, surrogates, and > 0x10FFFF become U+FFFD;
    *  - C1 refs 0x80-0x9F take the spec's Windows-1252 remapping
    *    (`&#146;` is the classic cp1252 apostrophe on real pages) —
    *    derived from the JDK cp1252 decoder, not hand-typed (the
    *    MojibakeRepair discipline);
    *  - supplementary planes emit the surrogate pair;
    *  - anything malformed (no digits, no terminating `;`) stays
    *    verbatim. A double-escaped `&amp;#39;` never matches (`&#`
    *    does not occur in it), preserving the entity chain's
    *    amp-decodes-last contract. */
  def decodeNumericEntities(text: Column): Column =
    toCol(DecodeNumericEntitiesExpr(expr(text)))

  case class DecodeNumericEntitiesExpr(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = StringType

    private def appendCp(sb: java.lang.StringBuilder, cp: Long): Unit =
      if (cp == 0L || (cp >= 0xD800L && cp <= 0xDFFFL) || cp > 0x10FFFFL)
        sb.append('�')
      else if (cp >= 0x80L && cp <= 0x9FL) {
        // derived from the JDK cp1252 decoder, whose REPLACE of the 5
        // undefined bytes (0x81 0x8D 0x8F 0x90 0x9D) marks exactly the
        // positions the WHATWG table leaves as the code point itself
        val d = new String(Array(cp.toByte), "windows-1252")
        if (d.charAt(0) == '�') sb.append(cp.toChar) else sb.append(d)
      }
      else sb.appendCodePoint(cp.toInt)

    def decode(u: UTF8String): UTF8String = {
      val s = u.toString
      var i = s.indexOf("&#")
      if (i < 0) return u // common case: zero allocation
      val sb = new java.lang.StringBuilder(s.length)
      var copied = 0
      while (i >= 0) {
        var j = i + 2
        val hex =
          j < s.length && (s.charAt(j) == 'x' || s.charAt(j) == 'X')
        if (hex) j += 1
        val start = j
        var cp = 0L
        var more = true
        while (more && j < s.length) {
          val c = s.charAt(j)
          val v =
            if (c >= '0' && c <= '9') c - '0'
            else if (hex && c >= 'a' && c <= 'f') c - 'a' + 10
            else if (hex && c >= 'A' && c <= 'F') c - 'A' + 10
            else -1
          if (v < 0) more = false
          else {
            // saturate instead of overflow: every over-long ref is
            // out of range and becomes U+FFFD anyway
            cp = math.min(cp * (if (hex) 16 else 10) + v, 0x7FFFFFFFL)
            j += 1
          }
        }
        if (j > start && j < s.length && s.charAt(j) == ';') {
          sb.append(s, copied, i)
          appendCp(sb, cp)
          copied = j + 1
          i = s.indexOf("&#", copied)
        } else {
          // malformed: stays verbatim; resume after this '&'
          i = s.indexOf("&#", i + 1)
        }
      }
      if (copied == 0) u
      else { sb.append(s, copied, s.length); UTF8String.fromString(sb.toString) }
    }

    override def nullSafeEval(a: Any): Any =
      decode(a.asInstanceOf[UTF8String])

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("decodeNumEnt", this,
        classOf[DecodeNumericEntitiesExpr].getName)
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.decode($a);")
    }

    override protected def withNewChildInternal(c: Expression): DecodeNumericEntitiesExpr =
      copy(child = c)
  }
}
