package graft.io.binary

import graft.core._
import org.apache.spark.ml.Transformer
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** 64-bit energy-contour audio fingerprint (the sign-of-difference
  * construction of Haitsma & Kalker 2002, "A Highly Robust Audio
  * Fingerprinting System", ISMIR — public literature — reduced to the
  * time axis): decode to mono ([[AudioFeatures.decodeMono]], the same
  * pure-JVM path the multimodal featurizer uses) → 64 equal-length
  * windows → energy per window → bit i set iff window i is louder than
  * window i+1 (63 bits; bit 63 reserved zero, matching
  * [[graft.image.PerceptualHash]]'s layout).
  *
  * Comparing energy RATIOS makes the fingerprint invariant under
  * uniform volume scaling — every window's energy scales by the same
  * factor, so no comparison flips (the audio re-encode byte-exact
  * hashing cannot survive, exactly as brightness is for images).
  * Equal-energy neighbours emit a stable 0 (strict `>`). Null or
  * undecodable payloads fingerprint as null — no evidence, keep.
  */
class AudioFingerprint(override val uid: String) extends Transformer
    with HasInputCol with HasOutputCol with GraftWritable {
  def this() = this(Identifiable.randomUID("AudioFingerprint"))
  setDefault(outputCol -> "audio_fp")

  override def transform(ds: Dataset[_]): DataFrame = {
    val fpUdf = udf((b: Array[Byte]) => AudioFingerprint.fp64(b))
    ds.toDF().withColumn(getOutputCol, fpUdf(col(getInputCol)))
  }

  override def transformSchema(schema: StructType): StructType = {
    require(!schema.fieldNames.contains(getOutputCol),
      s"input already has a column named '$getOutputCol'")
    StructType(schema :+ StructField(getOutputCol, LongType))
  }
  override def copy(extra: ParamMap): AudioFingerprint = defaultCopy(extra)
}

object AudioFingerprint extends GraftReadable[AudioFingerprint] {
  /** Contour windows; 63 adjacent-window comparisons = the bit width. */
  val Windows = 64

  /** Fingerprint of decodable audio bytes; null for null/undecodable. */
  def fp64(bytes: Array[Byte]): java.lang.Long =
    AudioFeatures.decodeMono(bytes) match {
      case None => null
      case Some((mono, _, _)) =>
        val n = mono.length
        if (n < Windows) return null // sub-window clip: no contour evidence
        val e = new Array[Double](Windows)
        var w = 0
        while (w < Windows) {
          val lo = (w.toLong * n / Windows).toInt
          val hi = ((w + 1).toLong * n / Windows).toInt
          var acc = 0.0
          var j = lo
          while (j < hi) { acc += mono(j) * mono(j); j += 1 }
          e(w) = acc
          w += 1
        }
        var bits = 0L
        w = 0
        while (w < Windows - 1) {
          if (e(w) > e(w + 1)) bits |= 1L << w
          w += 1
        }
        java.lang.Long.valueOf(bits)
    }
}

/** Near-duplicate audio removal over the energy-contour fingerprint —
  * the audio member of the multimodal dedup family (text SimHash,
  * image pHash, audio contour; all three share
  * [[graft.dedup.DedupFunctions.hammingDupIds]]'s Manku pigeonhole and
  * the smallest-id-survives rule). Decode runs ONCE into a checkpointed
  * narrow (id, fp) frame (the [[graft.image.ImagePHashDeduplicator]]
  * shape — decode is the expensive step; 16 bytes/row ride the
  * machinery). Undecodable or null payloads are always KEPT. */
class AudioFingerprintDeduplicator(override val uid: String)
    extends graft.dedup.FingerprintDeduplicatorBase {
  def this() = this(Identifiable.randomUID("AudioFingerprintDeduplicator"))

  /** Volume re-encodes land at hamming 0 by construction, so the
    * inherited maxHamming default (4) tolerates mild
    * clipping/requantization noise with margin.
    *
    * spreadDecode is FALSE, unlike
    * [[graft.image.ImagePHashDeduplicator]]: the contour decode is one
    * cheap pass over the samples, and shuffling full audio payloads to
    * gain parallelism was measured to LOSE at the 100x corpus
    * (154 → 311 s, SCALING.md round 16). */
  override protected val spreadDecode = false

  override protected def fingerprint(bytes: Array[Byte]): java.lang.Long =
    AudioFingerprint.fp64(bytes)
  override def copy(extra: ParamMap): AudioFingerprintDeduplicator =
    defaultCopy(extra)
}
object AudioFingerprintDeduplicator
    extends GraftReadable[AudioFingerprintDeduplicator]
