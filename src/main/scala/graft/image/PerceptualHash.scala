package graft.image

import graft.core._
import org.apache.spark.ml.Transformer
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** 64-bit DCT perceptual hash of encoded image bytes (the classic
  * "pHash" construction — Zauner 2010, "Implementation and Benchmarking
  * of Perceptual Image Hash Functions", public literature; the
  * image-side analogue of [[graft.dedup.DedupFunctions.simHash64]] for
  * text): decode → bilinear 32×32 grayscale (the
  * [[ImageFeatures.decodeResizeGray]] path MultimodalFeaturizer's image
  * modality already uses) → 2-D DCT-II → the 63 low-frequency AC
  * coefficients (the 8×8 block minus the DC term) → one bit per
  * coefficient, set iff it exceeds their median. Exactly 31 bits set
  * for distinct coefficients; bit 63 is always 0.
  *
  * Dropping the DC term and thresholding at the median makes the hash
  * invariant (up to per-pixel rounding noise) under uniform brightness
  * shifts — which change only the DC — and global contrast scaling —
  * which scales every AC and the median together. Those are exactly the
  * re-encodes that defeat byte-exact dedup on image corpora; near-dups
  * land within a few bits, unrelated images ~32 bits apart
  * (PerceptualHashSuite pins the margins on the planted-fixture
  * family).
  *
  * Reference analogue: none — the reference's image stack featurizes
  * through a DNN runtime (`deep-learning/.../ImageFeaturizer.scala:
  * 1-197`, out of scope); this provides the dedup half of that
  * capability with pure-JVM decode (PNG/BMP/GIF — the deterministic
  * codecs) and no external model.
  */
object PerceptualHash {
  private val N = 32 // downsampled side
  private val K = 8  // low-frequency block side

  /** cosT(u)(y) = cos(π(2y+1)u / 2N) — the DCT-II basis (normalization
    * constants omitted: thresholding at the median is scale-free). */
  private lazy val cosT: Array[Array[Double]] =
    Array.tabulate(N, N)((u, y) =>
      math.cos(math.Pi * (2 * y + 1) * u / (2.0 * N)))

  /** The 63 low-frequency AC coefficients (row-major 8×8 block minus
    * DC) of the decoded 32×32 grayscale — the shared front half of
    * [[phash64]] (median-threshold bits) and [[ImageEmbedder]] (the
    * coefficients themselves as a dense feature vector). None for null
    * or undecodable input. */
  private[graft] def acCoeffs(bytes: Array[Byte]): Option[Array[Double]] =
    ImageFeatures.decodeResizeGray(bytes, N, N).map { px =>
      // separable low-frequency DCT: rows for u < K, then columns —
      // O(K·N² + K²·N) multiplies per image
      val t = Array.ofDim[Double](K, N)
      var u = 0
      while (u < K) {
        var x = 0
        while (x < N) {
          var s = 0.0
          var y = 0
          while (y < N) { s += px(y * N + x) * cosT(u)(y); y += 1 }
          t(u)(x) = s
          x += 1
        }
        u += 1
      }
      val ac = new Array[Double](K * K - 1)
      var j = 0
      u = 0
      while (u < K) {
        var v = 0
        while (v < K) {
          if (u != 0 || v != 0) {
            var s = 0.0
            var x = 0
            while (x < N) { s += t(u)(x) * cosT(v)(x); x += 1 }
            ac(j) = s
            j += 1
          }
          v += 1
        }
        u += 1
      }
      ac
    }

  /** pHash of encoded image bytes; null for null or undecodable input
    * (no evidence — callers must treat null as "keep"). */
  def phash64(bytes: Array[Byte]): java.lang.Long =
    acCoeffs(bytes) match {
      case None => null
      case Some(ac) =>
        // median of 63 = the unique 32nd-smallest — no tie-averaging
        val sorted = ac.clone()
        java.util.Arrays.sort(sorted)
        val med = sorted(31)
        var bits = 0L
        var j = 0
        while (j < 63) { if (ac(j) > med) bits |= 1L << j; j += 1 }
        java.lang.Long.valueOf(bits)
    }
}

/** Appends an in-library dense image embedding: the 63 low-frequency
  * DCT AC coefficients behind [[PerceptualHash]], L2-normalized —
  * brightness-invariant (no DC term) and contrast-invariant (the
  * normalization divides the uniform scale out), cosine-ready. Emits
  * the same `Array[Float]` contract as [[graft.text.HashedEmbedder]] /
  * [[graft.text.TrainedEmbedder]], so the whole embedding-consumer
  * family — [[graft.nn.NearestNeighbors]] and the ANN variants,
  * [[graft.dedup.SemDeDup]],
  * [[graft.sim.EmbeddingClusterer]] — runs over images unchanged:
  * in-library image similarity search and semantic image dedup with no
  * external model (the classical slice of the reference's
  * ImageFeaturizer capability — deep-learning/.../ImageFeaturizer
  * .scala:1-197 — whose DNN backbone stays out of scope offline). Null
  * or undecodable payloads embed as null. One narrow map, no shuffle.
  */
class ImageEmbedder(override val uid: String) extends Transformer
    with HasInputCol with HasOutputCol with GraftWritable {
  def this() = this(Identifiable.randomUID("ImageEmbedder"))
  setDefault(outputCol -> "image_embedding")

  final val normalize = new BooleanParam(this, "normalize",
    "L2-normalize (cosine-ready, contrast-invariant); raw DCT " +
      "coefficients when false")
  setDefault(normalize -> true)
  def setNormalize(v: Boolean): this.type = set(normalize, v)

  override def transform(ds: Dataset[_]): DataFrame = {
    val norm = $(normalize)
    val embUdf = udf((b: Array[Byte]) =>
      PerceptualHash.acCoeffs(b) match {
        case None => null
        case Some(ac) =>
          val out = new Array[Float](ac.length)
          var inv = 1.0
          if (norm) {
            var ss = 0.0
            var i = 0
            while (i < ac.length) { ss += ac(i) * ac(i); i += 1 }
            inv = if (ss > 0.0) 1.0 / math.sqrt(ss) else 0.0
          }
          var i = 0
          while (i < ac.length) { out(i) = (ac(i) * inv).toFloat; i += 1 }
          out
      })
    ds.toDF().withColumn(getOutputCol, embUdf(col(getInputCol)))
  }

  override def transformSchema(schema: StructType): StructType = {
    require(!schema.fieldNames.contains(getOutputCol),
      s"input already has a column named '$getOutputCol'")
    StructType(schema :+ StructField(getOutputCol, ArrayType(FloatType)))
  }
  override def copy(extra: ParamMap): ImageEmbedder = defaultCopy(extra)
}
object ImageEmbedder extends GraftReadable[ImageEmbedder]

/** Appends the [[PerceptualHash.phash64]] of a binary image column as a
  * nullable long — one narrow map, no shuffle; compose with
  * [[graft.dedup.DedupFunctions.hamming64]] or
  * [[ImagePHashDeduplicator]] downstream. */
class ImagePHash(override val uid: String) extends Transformer
    with HasInputCol with HasOutputCol with GraftWritable {
  def this() = this(Identifiable.randomUID("ImagePHash"))
  setDefault(outputCol -> "phash")

  override def transform(ds: Dataset[_]): DataFrame = {
    val pUdf = udf((b: Array[Byte]) => PerceptualHash.phash64(b))
    ds.toDF().withColumn(getOutputCol, pUdf(col(getInputCol)))
  }

  override def transformSchema(schema: StructType): StructType = {
    require(!schema.fieldNames.contains(getOutputCol),
      s"input already has a column named '$getOutputCol'")
    StructType(schema :+ StructField(getOutputCol, LongType))
  }
  override def copy(extra: ParamMap): ImagePHash = defaultCopy(extra)
}
object ImagePHash extends GraftReadable[ImagePHash]

/** Perceptual near-duplicate image removal (the image-corpus dedup
  * step of multimodal curation — e.g. the LAION pipeline's pHash
  * stage, public literature): [[PerceptualHash.phash64]] per row, then
  * the same Manku block-permutation pigeonhole as
  * [[graft.dedup.SimHashDeduplicator]]
  * ([[graft.dedup.DedupFunctions.hammingDupIds]] — C(blocks,
  * blocks−maxHamming) narrow (key, id) bucket tables, exact-Hamming
  * verification, smallest id survives). Undecodable or null payloads
  * carry no fingerprint and are always KEPT.
  *
  * Scale shape: decode is the expensive step, so the narrow (id,
  * fingerprint) frame is materialized once (`localCheckpoint` — the
  * [[graft.dedup.SemDeDup]] convention; 16 bytes/doc) instead of
  * letting the bucket and verification branches re-decode the corpus;
  * everything after is the 8-byte-key machinery the text family
  * already proved sublinear.
  */
class ImagePHashDeduplicator(override val uid: String)
    extends graft.dedup.FingerprintDeduplicatorBase {
  def this() = this(Identifiable.randomUID("ImagePHashDeduplicator"))

  /** pHash re-encode noise (resize rounding, mild contrast) lands a few
    * bits wide of zero, so the inherited maxHamming default (4) sits
    * above SimHash's text default (3); see the base's `blocks` scaladoc
    * for the key-width analysis this operator's 100x sweep produced.
    *
    * spreadDecode is TRUE here: image decode+DCT is CPU-heavy
    * (~0.5 ms/image) and shuffling the (id, bytes) frame to every slot
    * was measured to beat decoding on a handful of cores at the 100x
    * corpus — 331 → 261 s (SCALING.md round 16). */
  override protected val spreadDecode = true

  override protected def fingerprint(bytes: Array[Byte]): java.lang.Long =
    PerceptualHash.phash64(bytes)
  override def copy(extra: ParamMap): ImagePHashDeduplicator =
    defaultCopy(extra)
}
object ImagePHashDeduplicator extends GraftReadable[ImagePHashDeduplicator]
