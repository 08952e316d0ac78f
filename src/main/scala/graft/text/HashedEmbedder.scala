package graft.text

import org.apache.spark.ml.Transformer
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core._

/** Deterministic text → dense embedding via feature hashing + signed
  * random projection — the classical fit-free baseline (feature
  * hashing: Weinberger et al. 2009; sign-random-projection: Charikar
  * 2002), closing the library's embedding loop: every downstream
  * consumer ([[graft.dedup.SemDeDup]], the ANN family,
  * [[graft.nn.MLPScorer]]) takes an `Array[Float]` column, and until
  * now the embeddings had to arrive from an external model. A learned
  * encoder still wins on semantics — this is the scale-shaped baseline
  * and plumbing-compatible stand-in, not a replacement.
  *
  * Construction: tokens (the [[UnigramLM.tokens]] convention —
  * lowercased, `\s+`-split) are term-frequency counted per document;
  * each distinct token contributes `weight(tf) * sign_j(token)` to
  * output dimension j, where sign_j is bit j of md5(token ":" salt) —
  * md5 because it is the library's engine-portable hash family (the
  * mixture samplers' convention), so the SQL oracle replays the exact
  * embedding. The un-normalized accumulator is therefore an exact
  * INTEGER under `count` weighting — the gate compares exact values,
  * no float tolerance. Output is L2-normalized by default
  * (cosine-ready); `dim` ≤ 128 (md5 supplies 128 sign bits).
  *
  * Scale shape: one narrow per-document UDF projection — zero shuffle,
  * no fit, no vocabulary state, identical output for any partitioning
  * or cluster size. O(distinct tokens × dim) per document.
  */
class HashedEmbedder(override val uid: String)
    extends Transformer with HasInputCol with GraftWritable {
  def this() = this(Identifiable.randomUID("HashedEmbedder"))

  final val outputCol = new Param[String](this, "outputCol",
    "embedding output column (array<float>)")
  setDefault(outputCol -> "embedding")
  def setOutputCol(v: String): this.type = set(outputCol, v)

  final val dim = new IntParam(this, "dim",
    "embedding dimensions (<= 128: md5 supplies the sign bits)",
    (d: Int) => d >= 1 && d <= 128)
  setDefault(dim -> 64)
  def setDim(v: Int): this.type = set(dim, v)

  final val salt = new Param[String](this, "salt",
    "hash salt — vary for an independent projection")
  setDefault(salt -> "emb")
  def setSalt(v: String): this.type = set(salt, v)

  final val tfWeighting = new Param[String](this, "tfWeighting",
    "term-frequency weighting: count, log (1 + ln tf), or binary",
    ParamValidators.inArray(Array("count", "log", "binary")))
  setDefault(tfWeighting -> "count")
  def setTfWeighting(v: String): this.type = set(tfWeighting, v)

  final val normalize = new BooleanParam(this, "normalize",
    "L2-normalize the output (cosine-ready); false emits the raw " +
      "accumulator (exact integers under count weighting)")
  setDefault(normalize -> true)
  def setNormalize(v: Boolean): this.type = set(normalize, v)

  override def transform(ds: Dataset[_]): DataFrame = {
    val d = $(dim)
    val saltV = $(salt)
    val weighting = $(tfWeighting)
    val norm = $(normalize)
    val embUdf = udf { text: String =>
      if (text == null) null
      else {
        val toks = HashedEmbedder.tokens(text)
        val tf = new java.util.HashMap[String, Int](toks.length * 2)
        toks.foreach(t => tf.put(t, tf.getOrDefault(t, 0) + 1))
        val acc = new Array[Double](d)
        val it = tf.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val w = weighting match {
            case "count" => e.getValue.toDouble
            case "log" => 1.0 + math.log(e.getValue.toDouble)
            case _ => 1.0
          }
          // sign bits come from a per-thread Zipf cache: the corpus
          // re-digests the same frequent tokens document after
          // document, so md5 runs only on cache misses; the digest is
          // packed into two big-endian longs, so bit j of the digest
          // (== the hex-char arithmetic the SQL oracle replays) is one
          // shift
          val signs = HashedEmbedder.signBits(e.getKey + ":" + saltV)
          var j = 0
          while (j < d) {
            val bit = (signs(j >> 6) >>> (63 - (j & 63))) & 1L
            acc(j) += (if (bit == 1L) w else -w)
            j += 1
          }
        }
        if (norm) {
          var ss = 0.0
          var j = 0
          while (j < d) { ss += acc(j) * acc(j); j += 1 }
          val inv = if (ss > 0.0) 1.0 / math.sqrt(ss) else 0.0
          val out = new Array[Float](d)
          j = 0
          while (j < d) { out(j) = (acc(j) * inv).toFloat; j += 1 }
          out
        } else {
          val out = new Array[Float](d)
          var j = 0
          while (j < d) { out(j) = acc(j).toFloat; j += 1 }
          out
        }
      }
    }
    ds.toDF().withColumn($(outputCol), embUdf(col(getInputCol)))
  }

  override def transformSchema(schema: StructType): StructType = {
    // the round-15 convention: a same-named input column would be
    // silently overwritten at transform — fail at validation instead
    require(!schema.fieldNames.contains($(outputCol)),
      s"input already has a column named '${$(outputCol)}'")
    StructType(schema :+ StructField($(outputCol), ArrayType(FloatType)))
  }
  override def copy(extra: ParamMap): HashedEmbedder = defaultCopy(extra)
}

object HashedEmbedder extends GraftReadable[HashedEmbedder] {
  /** The embedder tokenization, shared with [[TrainedEmbedder]] and
    * [[SoftDeduplicator]]; null text has no tokens. */
  private[text] def tokens(text: String): Array[String] =
    if (text == null) Array.empty[String] else Words.words(simpleLower(text))

  /** Per-codepoint SIMPLE lowercase (Character.toLowerCase) — the
    * mapping SQL `lower()` applies, so the md5 sign bits the SQL oracle
    * replays stay byte-identical on non-ASCII input. JVM
    * String.toLowerCase applies the FULL context-sensitive mapping
    * ('Σ' at token end → 'ς', 'İ' → "i̇") and would silently diverge
    * token-by-token (round-15 advice). */
  private[text] def simpleLower(s: String): String = {
    var i = 0
    // ASCII-or-already-lower fast path: no allocation for the common case
    var simple = true
    while (simple && i < s.length) {
      val c = s.charAt(i)
      if (c >= 'A' && c <= 'Z') simple = false
      else if (c >= 0x80) simple = false
      i += 1
    }
    if (simple) return s
    val sb = new java.lang.StringBuilder(s.length)
    i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      sb.appendCodePoint(Character.toLowerCase(cp))
      i += Character.charCount(cp)
    }
    sb.toString
  }

  // one digest instance per executor thread: getInstance per token was
  // the kernel's dominant allocation (digest() leaves the instance
  // reset, so reuse is safe)
  private val mdLocal =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  /** lowercase hex md5 — the mixture-sampler hash family */
  private[text] def md5Hex(s: String): String = {
    val d = mdLocal.get()
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val sb = new java.lang.StringBuilder(32)
    d.foreach { b =>
      sb.append(Character.forDigit((b >> 4) & 0xf, 16))
      sb.append(Character.forDigit(b & 0xf, 16))
    }
    sb.toString
  }

  // bounded per-thread LRU of salted-token -> packed digest bits:
  // token frequency is Zipf, so a 64k-entry cache absorbs almost every
  // digest after warmup; ~3 MB/thread worst case
  private val signCache =
    new ThreadLocal[java.util.LinkedHashMap[String, Array[Long]]] {
      override def initialValue()
          : java.util.LinkedHashMap[String, Array[Long]] =
        new java.util.LinkedHashMap[String, Array[Long]](1024, 0.75f, true) {
          override def removeEldestEntry(
              e: java.util.Map.Entry[String, Array[Long]]): Boolean =
            size() > 65536
        }
    }

  /** the md5 digest of `salted` as two big-endian longs — bit j of the
    * digest (the oracle's hex-char arithmetic) is bit (63 - j&63) of
    * word (j >> 6) */
  private[text] def signBits(salted: String): Array[Long] = {
    val cache = signCache.get()
    val hit = cache.get(salted)
    if (hit != null) hit
    else {
      val d = mdLocal.get()
        .digest(salted.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val w = new Array[Long](2)
      var k = 0
      while (k < 16) {
        w(k >> 3) = (w(k >> 3) << 8) | (d(k) & 0xffL)
        k += 1
      }
      cache.put(salted, w)
      w
    }
  }
}
