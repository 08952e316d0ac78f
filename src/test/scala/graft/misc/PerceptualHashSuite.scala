package graft.misc

import graft.TestBase
import graft.image.{ImagePHash, ImagePHashDeduplicator, PerceptualHash}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pins the DCT perceptual hash and its dedup operating point on the
  * planted BMP family ([[graft.gates.MediaFixtures.testBmpBytes]]): re-encode
  * invariances, the within/cross-group Hamming margins the
  * `image_phash_dedup` gate relies on, null/undecodable handling, and
  * the end-to-end min-id-per-group survivor rule. */
class PerceptualHashSuite extends TestBase {

  private def bmp(id: Long): Array[Byte] = graft.gates.MediaFixtures.testBmpBytes(id)
  private def ph(id: Long): Long = {
    val h = PerceptualHash.phash64(bmp(id))
    assert(h != null, s"id $id should decode")
    h.longValue()
  }
  private def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  test("null and undecodable bytes hash to null") {
    assert(PerceptualHash.phash64(null) == null)
    assert(PerceptualHash.phash64("not an image".getBytes("UTF-8")) == null)
    assert(PerceptualHash.phash64(Array.emptyByteArray) == null)
  }

  test("hash is deterministic with exactly 31 of 63 bits set") {
    (0L until 16L).foreach { id =>
      val h = ph(id)
      assert(h == ph(id))
      assert((h & (1L << 63)) == 0L, "bit 63 is reserved zero")
      assert(java.lang.Long.bitCount(h) == 31,
        s"median split of 63 distinct ACs sets exactly 31 bits, id $id")
    }
  }

  test("golden value pins the construction against silent drift") {
    // decode → bilinear 32×32 gray → DCT-II → 63 ACs vs median; any
    // change to resize, gray weights, DCT layout, or bit order moves it
    assert(ph(0L) == PerceptualHashSuite.golden0)
  }

  test("brightness/contrast variants stay within the gate's ball") {
    // groups of 4 ids share a pattern; variants are +24 brightness,
    // x9/8 contrast, both (see testBmpBytes). The gate runs the default
    // maxHamming=4, so 4 IS the ball edge — this pin guards it
    val maxWithin = (0L until 200L).flatMap { i =>
      ((i + 1) until 200L).collect {
        case j if (j >> 2) == (i >> 2) => ham(ph(i), ph(j))
      }
    }.max
    assert(maxWithin <= 4, s"within-group hamming crept to $maxWithin")
  }

  test("distinct patterns sit well outside the ball") {
    val hs = (0L until 200L).map(ph)
    val minCross = (0 until 200).flatMap { i =>
      ((i + 1) until 200).collect {
        case j if (j >> 2) != (i >> 2) => ham(hs(i), hs(j))
      }
    }.min
    assert(minCross >= 10, s"cross-group hamming fell to $minCross")
  }

  test("brightness shift of a real decode leaves the hash unchanged") {
    // pure uniform shift on a synthetic gray BMP == DC-only change
    val base = ph(0L)
    val shifted = ph(1L) // +24 brightness variant of the same pattern
    assert(ham(base, shifted) <= 2)
  }

  test("ImagePHash transformer appends a nullable long column") {
    val df = spark.createDataFrame(
      java.util.List.of(Row(1L, bmp(4L)), Row(2L, null)),
      StructType(Seq(StructField("id", LongType),
        StructField("img", BinaryType))))
    val out = new ImagePHash().setInputCol("img").setOutputCol("ph")
      .transform(df).select("id", "ph").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(out(1L).contains(ph(4L)))
    assert(out(2L).isEmpty)
    intercept[IllegalArgumentException] {
      new ImagePHash().setInputCol("img").setOutputCol("img")
        .transformSchema(df.schema)
    }
  }

  test("dedup keeps the smallest id per planted group and all undecodables") {
    val rows = (0L until 40L).map(id => Row(id, bmp(id))) ++
      Seq(Row(100L, "garbage".getBytes("UTF-8")), Row(101L, null))
    val df = spark.createDataFrame(
      java.util.List.copyOf(scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("img", BinaryType))))
    val kept = new ImagePHashDeduplicator().setInputCol("img")
      .setIdCol("doc_id").transform(df)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val expected = (0L until 40L by 4L) ++ Seq(100L, 101L)
    assert(kept.toSeq == expected.sorted)
  }

  test("ImageEmbedder: unit norms, re-encode invariance, group margins") {
    def emb(id: Long): Array[Float] = {
      val df = spark.createDataFrame(
        java.util.List.of(Row(id, bmp(id))),
        StructType(Seq(StructField("doc_id", LongType),
          StructField("img", BinaryType))))
      new graft.image.ImageEmbedder().setInputCol("img")
        .transform(df).select("image_embedding")
        .head.getSeq[Float](0).toArray
    }
    def cos(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => x.toDouble * y }.sum
    val base = emb(0L)
    assert(base.length == 63)
    assert(math.abs(cos(base, base) - 1.0) < 1e-5, "unit norm")
    // variants of the same pattern (brightness/contrast re-encodes)
    // stay essentially colinear; independent patterns point elsewhere
    (1L to 3L).foreach { v =>
      assert(cos(base, emb(v)) > 0.995, s"variant $v drifted")
    }
    (1L to 5L).foreach { g =>
      assert(cos(base, emb(4 * g)) < 0.9, s"group $g too close")
    }
    // null/undecodable embed as null
    val df = spark.createDataFrame(
      java.util.List.of(Row(1L, "junk".getBytes("UTF-8")), Row(2L, null)),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("img", BinaryType))))
    assert(new graft.image.ImageEmbedder().setInputCol("img")
      .transform(df).filter(org.apache.spark.sql.functions
        .col("image_embedding").isNull).count() == 2)
  }

  test("pHash survives a lossy JPEG re-encode inside the dedup ball") {
    // the real-pipeline case the planted BMP re-encodes stand in for:
    // the same image saved through an actual lossy codec must stay
    // within the gate's hamming <= 4 of its source — pHash reads only
    // the low-frequency DCT signs, which JPEG quantization preserves
    def jpeg(src: Array[Byte], quality: Float): Array[Byte] = {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(src))
      val writer = javax.imageio.ImageIO
        .getImageWritersByFormatName("jpg").next()
      val out = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(out)
      writer.setOutput(ios)
      val p = writer.getDefaultWriteParam
      p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionQuality(quality)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), p)
      writer.dispose(); ios.close()
      out.toByteArray
    }
    (0L until 40L).foreach { id =>
      val j = PerceptualHash.phash64(jpeg(bmp(id), 0.9f))
      assert(j != null, s"id $id jpeg undecodable")
      val d = ham(ph(id), j.longValue())
      assert(d <= 4, s"id $id: jpeg(q=0.9) re-encode drifted $d bits")
    }
    // and a jpeg re-encode still sits far from OTHER groups
    val j0 = PerceptualHash.phash64(jpeg(bmp(0L), 0.9f)).longValue()
    (1L until 10L).foreach { g =>
      assert(ham(j0, ph(g * 4)) >= 10,
        s"jpeg of group 0 too close to group $g")
    }
  }

  test("widening the ball past blocks fails fast") {
    val df = spark.createDataFrame(
      java.util.List.of(Row(1L, bmp(0L))),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("img", BinaryType))))
    intercept[IllegalArgumentException] {
      new ImagePHashDeduplicator().setInputCol("img").setIdCol("doc_id")
        .setMaxHamming(8).setBlocks(8).transform(df).count()
    }
  }
}

object PerceptualHashSuite {
  /** Computed once via graft.tools.PHashProbe from the committed
    * construction; a change to any stage of the hash moves it. */
  val golden0: Long = 8610891368843371006L
}
