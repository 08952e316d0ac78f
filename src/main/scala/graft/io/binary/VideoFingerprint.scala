package graft.io.binary

import graft.core._
import org.apache.spark.ml.Transformer
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** 64-bit luma-contour video fingerprint — the video member of the
  * sign-of-difference fingerprint family ([[AudioFingerprint]]'s
  * construction over the per-frame mean-luma series instead of window
  * energies): Y4M frame walk ([[VideoFeatures.frameLumaMeans]], the
  * same pure-JVM decode the multimodal featurizer uses) → 64
  * equal-length frame windows → mean luma per window → bit i set iff
  * window i is brighter than window i+1 (63 bits; bit 63 reserved
  * zero).
  *
  * Comparing luma RATIOS makes the fingerprint invariant under uniform
  * brightness re-grades — every window's mean scales by the same
  * factor, so no comparison flips; temporal structure (scene
  * brightness over time) is what survives, which is the property a
  * re-encoded copy of the same footage preserves and unrelated footage
  * does not. Clips shorter than 64 frames, null, or structurally
  * invalid payloads fingerprint as null — no evidence, keep.
  */
class VideoFingerprint(override val uid: String) extends Transformer
    with HasInputCol with HasOutputCol with GraftWritable {
  def this() = this(Identifiable.randomUID("VideoFingerprint"))
  setDefault(outputCol -> "video_fp")

  override def transform(ds: Dataset[_]): DataFrame = {
    val fpUdf = udf((b: Array[Byte]) => VideoFingerprint.fp64(b))
    ds.toDF().withColumn(getOutputCol, fpUdf(col(getInputCol)))
  }

  override def transformSchema(schema: StructType): StructType = {
    require(!schema.fieldNames.contains(getOutputCol),
      s"input already has a column named '$getOutputCol'")
    StructType(schema :+ StructField(getOutputCol, LongType))
  }
  override def copy(extra: ParamMap): VideoFingerprint = defaultCopy(extra)
}

object VideoFingerprint extends GraftReadable[VideoFingerprint] {
  /** Contour windows over the frame series; 63 comparisons = bits. */
  val Windows = 64

  /** Fingerprint of decodable Y4M bytes; null for null/undecodable or
    * sub-[[Windows]]-frame clips. */
  def fp64(bytes: Array[Byte]): java.lang.Long =
    VideoFeatures.frameLumaMeans(bytes) match {
      case None => null
      case Some((means, _, _, _)) =>
        val n = means.length
        if (n < Windows) return null
        val m = new Array[Double](Windows)
        var w = 0
        while (w < Windows) {
          val lo = (w.toLong * n / Windows).toInt
          val hi = ((w + 1).toLong * n / Windows).toInt
          var acc = 0.0
          var j = lo
          while (j < hi) { acc += means(j); j += 1 }
          m(w) = acc / (hi - lo)
          w += 1
        }
        var bits = 0L
        w = 0
        while (w < Windows - 1) {
          if (m(w) > m(w + 1)) bits |= 1L << w
          w += 1
        }
        java.lang.Long.valueOf(bits)
    }
}

/** Near-duplicate video removal over the luma-contour fingerprint —
  * completes the multimodal dedup family (text SimHash, image pHash,
  * audio energy contour, video luma contour; one shared
  * [[FingerprintDeduplicatorBase]] shell and Manku pigeonhole).
  * spreadDecode is FALSE like the audio member: the frame walk
  * is one cheap pass over the luma planes, cheaper than shuffling raw
  * video payloads. */
class VideoFingerprintDeduplicator(override val uid: String)
    extends graft.dedup.FingerprintDeduplicatorBase {
  def this() = this(Identifiable.randomUID("VideoFingerprintDeduplicator"))
  override protected val spreadDecode = false

  override protected def fingerprint(bytes: Array[Byte]): java.lang.Long =
    VideoFingerprint.fp64(bytes)
  override def copy(extra: ParamMap): VideoFingerprintDeduplicator =
    defaultCopy(extra)
}
object VideoFingerprintDeduplicator
    extends GraftReadable[VideoFingerprintDeduplicator]
