package graft.text

import org.apache.spark.ml.Transformer
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core._

/** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken 2003,
  * "Winnowing: Local Algorithms for Document Fingerprinting" — the MOSS
  * algorithm). Each document yields the set of (position, hash) pairs
  * selected by sliding a `window`-wide window over its character
  * `k`-gram hashes and keeping each window's minimum (rightmost
  * occurrence on ties — the paper's rule). The guarantee: any shared
  * substring of length ≥ k + window − 1 between two documents produces
  * at least one identical fingerprint, while expected density is only
  * 2/(window+1) — the standard local, position-aware alternative to
  * MinHash when "which span matched" matters (plagiarism/provenance).
  *
  * Scale shape: the whole computation is per-document — a narrow
  * one-pass UDF, no shuffle; scan splits are the parallelism source
  * (on tiny local corpora that is the wall — lower
  * `spark.sql.files.maxPartitionBytes` to fan out; a real corpus has
  * ample splits). Inside the row the pass is O(len): md5 over a sliding
  * UTF-8 byte window (no per-gram string), window minima through a
  * monotonic deque whose tie rule (evict-equal-from-back) IS the
  * paper's rightmost-min selection, selections deduped by the
  * monotonicity of winnowing picks. Hashes are md5 — hex encoding is
  * byte-order-preserving, so digest comparison equals the hex-string
  * comparison the DuckDB oracle replays.
  *
  * Tried and REJECTED: a builtin-expression formulation
  * (`transform(sequence)` gram hashing + per-window `slice`/
  * `array_min`/`reverse`/`array_position`). Whole-stage codegen bought
  * nothing — the operator IS the kernel — while every window allocated
  * three w-arrays and every gram a 32-char hex string: measured
  * 1962 s at the 100x sweep point vs this implementation's one-pass
  * arithmetic (SCALING.md round-12 tranche 3), a pure
  * allocation/GC tax with identical output.
  *
  * Documents shorter than k characters yield no fingerprints; documents
  * with fewer than `window` grams yield the single minimum over all
  * their grams (the degenerate one-window case).
  */
class DocumentFingerprinter(override val uid: String)
    extends Transformer with HasInputCol with GraftWritable {
  def this() = this(Identifiable.randomUID("DocumentFingerprinter"))

  final val k = new IntParam(this, "k",
    "character k-gram length (noise threshold: matches shorter than k " +
      "are never detected)", ParamValidators.gt(0))
  setDefault(k -> 9)
  def setK(v: Int): this.type = set(k, v)
  final val window = new IntParam(this, "window",
    "winnowing window in grams (guarantee threshold t = k + window - 1)",
    ParamValidators.gt(0))
  setDefault(window -> 4)
  def setWindow(v: Int): this.type = set(window, v)
  final val outputCol = new Param[String](this, "outputCol",
    "fingerprint array column: array<struct<pos int, hash string>>, " +
      "1-indexed gram positions, distinct, pos-ascending")
  setDefault(outputCol -> "fingerprints")
  def setOutputCol(v: String): this.type = set(outputCol, v)

  override def transform(ds: Dataset[_]): DataFrame = {
    val kk = $(k)
    val w = $(window)
    val fpUdf = udf { text: String =>
      Winnowing.fingerprints(text, kk, w)
    }
    ds.toDF().withColumn($(outputCol), fpUdf(col(getInputCol)))
  }

  override def transformSchema(schema: StructType): StructType =
    StructType(schema :+ StructField($(outputCol), ArrayType(
      StructType(Seq(StructField("pos", IntegerType),
        StructField("hash", StringType))))))
  override def copy(extra: ParamMap): DocumentFingerprinter = defaultCopy(extra)
}
object DocumentFingerprinter
  extends GraftReadable[DocumentFingerprinter]

object Winnowing {
  /** One selected fingerprint: 1-indexed gram position + md5 hex. */
  case class Fingerprint(pos: Int, hash: String)

  private val HexDigits = "0123456789abcdef".toCharArray

  private def hex(d: Array[Byte]): String = {
    val out = new Array[Char](d.length * 2)
    var i = 0
    while (i < d.length) {
      out(2 * i) = HexDigits((d(i) >> 4) & 0xf)
      out(2 * i + 1) = HexDigits(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** Unsigned lexicographic digest compare — equals hex-string order
    * because the nibble→'0'..'9','a'..'f' map is monotone in ASCII. */
  private def cmp(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    while (i < a.length) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    0
  }

  /** Canonical text (the oracle's `trim(regexp_replace(lower(text),
    * '\s+', ' ', 'g'))`: per-codepoint lowercase, whitespace runs →
    * single spaces, space-only trim — so fingerprints survive reflow/case
    * edits) then the paper's algorithm in one pass. */
  def fingerprints(text: String, k: Int, w: Int): Seq[Fingerprint] = {
    if (text == null) return Seq.empty
    val t = GopherStructural.spaceTrim(
      Words.collapse(HashedEmbedder.simpleLower(text)))
    // code points, not UTF-16 units: gram positions must agree with the
    // SQL oracle's substr() and Spark's substring(), both codepoint-based
    val cps = t.codePoints().toArray
    val m = cps.length - k + 1
    if (m < 1) return Seq.empty
    // UTF-8 bytes once, plus per-codepoint byte offsets: gram i hashes
    // the byte range [off(i), off(i+k)) — no per-gram string
    val bytes = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val off = new Array[Int](cps.length + 1)
    var ci = 0
    var bi = 0
    while (ci < cps.length) {
      val cp = cps(ci)
      bi += (if (cp < 0x80) 1 else if (cp < 0x800) 2
             else if (cp < 0x10000) 3 else 4)
      ci += 1
      off(ci) = bi
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    val digests = new Array[Array[Byte]](m)
    var i = 0
    while (i < m) {
      md.update(bytes, off(i), off(i + k) - off(i))
      digests(i) = md.digest()
      i += 1
    }
    // monotonic min-deque; evicting EQUAL hashes from the back keeps the
    // newest of any tie at the front — exactly the rightmost-min rule.
    // Winnowing selections are non-decreasing in position (a smaller
    // hash later would have won the earlier window too), so consecutive
    // duplicate selections collapse by tracking the last emitted pos.
    val deque = new java.util.ArrayDeque[Integer](w + 1)
    val out = scala.collection.mutable.ArrayBuffer.empty[Fingerprint]
    var lastEmitted = -1
    var j = 0
    while (j < m) {
      while (!deque.isEmpty && cmp(digests(deque.peekLast), digests(j)) >= 0)
        deque.pollLast()
      deque.addLast(j)
      if (deque.peekFirst < j - w + 1) deque.pollFirst()
      // a full window ends at j ≥ w-1; if m < w there is one clipped
      // window, emitted at the final gram
      if (j >= w - 1 || j == m - 1) {
        val sel = deque.peekFirst.intValue
        if (sel != lastEmitted) {
          out += Fingerprint(sel + 1, hex(digests(sel)))
          lastEmitted = sel
        }
      }
      j += 1
    }
    out.toSeq
  }
}
