package graft.misc

import graft.TestBase
import graft.anomaly.IsolationForest
import graft.featurize.{Murmur3, VowpalHashFeaturizer}
import graft.image._
import graft.io.binary.{BinaryFileReader, MultimodalFeaturizer}
import graft.stages.MultiColumnAdapter
import graft.text.UnicodeNormalize
import org.apache.spark.ml.linalg.{SparseVector, DenseVector}
import org.apache.spark.sql.functions._
import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import javax.imageio.ImageIO

class MiscOpsSuite extends TestBase {
  import spark.implicits._

  test("Murmur3 x86_32 matches the canonical algorithm") {
    // scala.util.hashing.MurmurHash3.bytesHash IS canonical murmur3
    // x86_32 (4-byte LE blocks, mixLast tail, fmix(h ^ len)); Spark's
    // unsafe Murmur3_x86_32 intentionally diverges on unaligned tails
    assert(Murmur3.hash32(Array.emptyByteArray, 0) == 0)
    assert(Murmur3.hashString("", 1) == 0x514E28B7) // canonical vector
    val rnd = new scala.util.Random(17)
    for (_ <- 0 until 200) {
      val len = rnd.nextInt(24)
      val bytes = Array.fill(len)(rnd.nextInt().toByte)
      val seed = rnd.nextInt()
      val expected = scala.util.hashing.MurmurHash3.bytesHash(bytes, seed)
      assert(Murmur3.hash32(bytes, seed) == expected, s"len=$len seed=$seed")
    }
  }

  test("VowpalHashFeaturizer hashes numeric and categorical columns") {
    val df = Seq((1.5, "red"), (0.0, "blue")).toDF("x", "color")
    val out = new VowpalHashFeaturizer().setInputCols(Seq("x", "color"))
      .setNumBits(10).transform(df)
      .select("features").collect().map(_.getAs[SparseVector](0))
    val mask = (1 << 10) - 1
    val xIdx = Murmur3.hashString("x", 0) & mask
    val redIdx = Murmur3.hashString("color=red", 0) & mask
    assert(out(0)(xIdx) == 1.5 && out(0)(redIdx) == 1.0)
    assert(out(1)(xIdx) == 0.0) // zero numeric omitted
    assert(out(1)(Murmur3.hashString("color=blue", 0) & mask) == 1.0)
  }

  test("IsolationForest scores an obvious outlier highest") {
    val rnd = new scala.util.Random(5)
    val normal = (0 until 300).map(i =>
      (i.toLong, rnd.nextGaussian(), rnd.nextGaussian()))
    val data = (normal :+ (999L, 10.0, 10.0)).toDF("id", "f1", "f2")
    val model = new IsolationForest().setInputCols(Seq("f1", "f2"))
      .setNumTrees(50).setSubsampleSize(64).fit(data)
    val scored = model.transform(data)
      .select("id", "anomaly_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val outlier = scored(999L)
    val normalMax = scored.filter(_._1 != 999L).values.max
    assert(outlier > 0.6, s"outlier score $outlier")
    assert(outlier >= normalMax,
      s"outlier $outlier should top normal max $normalMax")
  }

  test("IsolationForest planted-gate fixture keeps margin from the boundary") {
    // the isolation_forest driver gate asserts top-|planted| == planted;
    // this margin test mirrors its construction (x100 + 5000 outliers vs
    // a bounded inlier range) and demands clear SCORE separation, so the
    // gate can't be passing by a tie-break or a hair's width
    val rnd = new scala.util.Random(11)
    val rows = (0 until 2000).map { i =>
      val planted = i % 97 == 0
      val base = rnd.nextDouble() * 490
      (i.toLong, if (planted) base * 100 + 5000.0 else base, planted)
    }
    val df = rows.toDF("id", "v", "planted")
    val m = new IsolationForest().setInputCols(Seq("v"))
      .setNumTrees(50).setSubsampleSize(256).fit(df)
    val scored = m.transform(df).select("planted", "anomaly_score").collect()
    val plantedMin = scored.filter(_.getBoolean(0)).map(_.getDouble(1)).min
    val inlierMax = scored.filterNot(_.getBoolean(0)).map(_.getDouble(1)).max
    assert(plantedMin - inlierMax > 0.05,
      s"margin too thin: plantedMin=$plantedMin inlierMax=$inlierMax")
  }

  test("image decode/resize/unroll pipeline") {
    // 4x2 PNG with known colors
    val img = new BufferedImage(4, 2, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 2; x <- 0 until 4)
      img.setRGB(x, y, if ((x + y) % 2 == 0) 0xFF0000 else 0x0000FF)
    val baos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", baos)
    val df = Seq((1L, baos.toByteArray)).toDF("id", "bytes")
    val decoded = new DecodeImage().setInputCol("bytes").setOutputCol("image")
      .transform(df)
    val r = decoded.select("image.height", "image.width", "image.nChannels").head
    assert((r.getInt(0), r.getInt(1), r.getInt(2)) == (2, 4, 3))
    val resized = new ResizeImage().setInputCol("image").setOutputCol("small")
      .setHeight(1).setWidth(2).transform(decoded)
    val r2 = resized.select("small.height", "small.width").head
    assert((r2.getInt(0), r2.getInt(1)) == (1, 2))
    val unrolled = new UnrollImage().setInputCol("small")
      .setOutputCol("vec").setNormalize(true).transform(resized)
      .select("vec").head.getAs[DenseVector](0)
    assert(unrolled.size == 1 * 2 * 3)
    assert(unrolled.values.forall(v => v >= 0.0 && v <= 1.0))
  }

  test("BinaryFileReader reads files and inspects zips") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bin")
    java.nio.file.Files.write(dir.resolve("a.txt"), "hello".getBytes)
    // zip with two members
    val zipPath = dir.resolve("stuff.zip")
    val zos = new java.util.zip.ZipOutputStream(
      java.nio.file.Files.newOutputStream(zipPath))
    zos.putNextEntry(new java.util.zip.ZipEntry("one.txt"))
    zos.write("first".getBytes); zos.closeEntry()
    zos.putNextEntry(new java.util.zip.ZipEntry("two.txt"))
    zos.write("second".getBytes); zos.closeEntry()
    zos.close()
    val plain = BinaryFileReader.read(spark, dir.toString)
    assert(plain.count() == 2)
    val inspected = BinaryFileReader.read(spark, dir.toString, inspectZip = true)
    val names = inspected.select("path").as[String].collect().toSet
    assert(names.exists(_.endsWith("a.txt")))
    assert(names.contains("one.txt") && names.contains("two.txt"))
    val content = inspected.filter(col("path") === "two.txt")
      .select("bytes").head.getAs[Array[Byte]](0)
    assert(new String(content) == "second")
  }

  test("BinaryFileWriter round-trips with BinaryFileReader") {
    val outDir = java.nio.file.Files.createTempDirectory("graft-bw").toString
    val df = Seq(("one.bin", "alpha".getBytes), ("two.bin", "beta".getBytes))
      .toDF("path", "bytes")
    graft.io.binary.BinaryFileWriter.write(df, outDir)
    val back = BinaryFileReader.read(spark, outDir)
      .collect().map(r => new java.io.File(r.getString(0)).getName ->
        new String(r.getAs[Array[Byte]](1))).toMap
    assert(back == Map("one.bin" -> "alpha", "two.bin" -> "beta"))
  }

  test("TarShards round-trips and rolls byte-capped shards") {
    val outDir = java.nio.file.Files.createTempDirectory("graft-tar").toString
    val rows = (0 until 20).map(i => (f"doc$i%02d.txt", s"payload $i".getBytes))
    val df = rows.toDF("path", "bytes").repartition(3)
    // cap sized for ~2 framed entries per shard forces every partition
    // to roll; the cap counts tar framing, so on-disk sizes obey it
    graft.io.binary.TarShards.write(df, outDir, maxShardBytes = 4096L)
    val back = graft.io.binary.TarShards.read(spark, outDir)
    val entries = back.collect()
      .map(r => r.getString(1) -> new String(r.getAs[Array[Byte]](2))).toMap
    assert(entries == rows.map { case (n, b) => n -> new String(b) }.toMap)
    val shards = back.select("shard").distinct().count()
    assert(shards > 3, s"expected rolled shards, got $shards")
    val oversize = new java.io.File(outDir).listFiles()
      .filter(_.getName.endsWith(".tar")).filter(_.length > 4096L)
    assert(oversize.isEmpty,
      s"framed shard cap exceeded: ${oversize.map(f =>
        s"${f.getName}=${f.length}").mkString(", ")}")
    // overwrite semantics: rewriting with ONE partition leaves no stale
    // shards from the 3-partition layout behind
    graft.io.binary.TarShards.write(rows.take(2).toDF("path", "bytes")
      .coalesce(1), outDir)
    assert(graft.io.binary.TarShards.read(spark, outDir).count() == 2)
  }

  test("MultimodalFeaturizer batches, sniffs magic, emits stable features") {
    val png = {
      val img = new BufferedImage(2, 2, BufferedImage.TYPE_INT_RGB)
      val baos = new ByteArrayOutputStream()
      ImageIO.write(img, "png", baos); baos.toByteArray
    }
    val df = Seq((1L, png), (2L, "RIFFxxxx".getBytes), (3L, null))
      .toDF("id", "payload")
    val out = new MultimodalFeaturizer().setInputCol("payload")
      .setModality("image").setDim(8).setBatchSize(2)
      .transform(df).select("id", "media_meta.magic", "media_features")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), Option(r.getSeq[Float](2)))).toMap
    assert(out(1L)._1 == "png" && out(1L)._2.get.length == 8)
    assert(out(2L)._1 == "riff")
    assert(out(3L)._2.isEmpty)
    // determinism across runs
    val again = new MultimodalFeaturizer().setInputCol("payload")
      .setModality("image").setDim(8).setBatchSize(2)
      .transform(df).filter(col("id") === 1L)
      .select("media_features").head.getSeq[Float](0)
    assert(again == out(1L)._2.get)
  }

  test("MultimodalFeaturizer image modality decodes real pixels") {
    def png(rgb: Int, w: Int = 8, h: Int = 8): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      val baos = new ByteArrayOutputStream()
      ImageIO.write(img, "png", baos); baos.toByteArray
    }
    // constant-color image: bilinear resize + luma of a constant is the
    // constant's rounded luma everywhere — golden-computable by hand
    val c = png(0x4080C0) // r=64 g=128 b=192
    val expected = math.round(0.299 * 64 + 0.587 * 128 + 0.114 * 192)
      .toFloat / 255f
    val df = Seq((1L, c), (2L, "not an image".getBytes)).toDF("id", "payload")
    val out = new MultimodalFeaturizer().setInputCol("payload")
      .setModality("image").setDim(16).transform(df)
      .select("id", "media_meta.decoded", "media_features").collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getSeq[Float](2))).toMap
    assert(out(1L)._1, "png payload must take the REAL decode path")
    assert(out(1L)._2.length == 16 &&
      out(1L)._2.forall(v => math.abs(v - expected) < 1e-6))
    // parity with the image-stack helper (4x4 = grayDims(16))
    val direct = graft.image.ImageFeatures.decodeResizeGray(c, 4, 4).get
    assert(out(1L)._2 == direct.toSeq)
    // non-image payload: warned stub fallback, flagged not-decoded
    assert(!out(2L)._1 && out(2L)._2.length == 16)
    // audio modality on non-audio payloads: stub-flagged, not decoded
    val audio = new MultimodalFeaturizer().setInputCol("payload")
      .setModality("audio").setDim(6).transform(df)
      .select("media_meta.decoded").collect()
    assert(audio.forall(!_.getBoolean(0)))
    // strict mode surfaces the failure instead of faking features
    intercept[org.apache.spark.SparkException] {
      new MultimodalFeaturizer().setInputCol("payload").setModality("image")
        .setStubbedFallback(false).transform(df).collect()
    }
  }

  test("MultimodalFeaturizer audio modality decodes real WAV bytes") {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    // independent WAV construction (AudioSystem.write, not the manual
    // RIFF header the MediaFixtures gate fixture uses)
    def wav(fmt: AudioFormat, frames: Int, fill: java.nio.ByteBuffer => Unit): Array[Byte] = {
      val buf = java.nio.ByteBuffer
        .allocate(frames * fmt.getFrameSize)
        .order(if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
               else java.nio.ByteOrder.LITTLE_ENDIAN)
      fill(buf)
      val ais = new AudioInputStream(
        new java.io.ByteArrayInputStream(buf.array()), fmt, frames)
      val baos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, baos)
      baos.toByteArray
    }
    // golden 1: 8 kHz mono square wave ±8192 (= ±2^-2 full-scale), 4000
    // frames: every feature is closed-form exact — duration 0.5 s, RMS
    // and both envelope segments exactly 0.25
    val mono = new AudioFormat(8000f, 16, 1, true, false)
    val sq = wav(mono, 4000, b => (0 until 4000).foreach(i =>
      b.putShort(if (i % 2 == 0) 8192 else -8192)))
    val df = Seq((1L, sq)).toDF("id", "payload")
    val out = new MultimodalFeaturizer().setInputCol("payload")
      .setModality("audio").setDim(6).transform(df)
      .select("media_meta.decoded", "media_meta.magic", "media_features")
      .head
    assert(out.getBoolean(0), "WAV payload must take the REAL decode path")
    assert(out.getString(1) == "riff")
    assert(out.getSeq[Float](2) == Seq(0.5f, 8000f, 1f, 0.25f, 0.25f, 0.25f))
    // golden 2: stereo with L = -R cancels to silence when mono-mixed
    val stereo = new AudioFormat(8000f, 16, 2, true, false)
    val anti = wav(stereo, 2000, b => (0 until 2000).foreach { _ =>
      b.putShort(8192); b.putShort(-8192)
    })
    val out2 = new MultimodalFeaturizer().setInputCol("payload")
      .setModality("audio").setDim(5)
      .transform(Seq((1L, anti)).toDF("id", "payload"))
      .select("media_meta.decoded", "media_features").head
    assert(out2.getBoolean(0))
    assert(out2.getSeq[Float](1) == Seq(0.25f, 8000f, 2f, 0f, 0f))
    // golden 3: 8-bit unsigned PCM converts through the javax pipeline —
    // constant 192 ≈ +0.5 full-scale. The header fields are exact; the
    // amplitude gets a small JDK-converter-specific rounding offset
    // ((192-128)·256+128 = 16512, not 16384), so RMS is tolerance-checked
    val fmt8 = new AudioFormat(AudioFormat.Encoding.PCM_UNSIGNED,
      8000f, 8, 1, 1, 8000f, false)
    val u8 = wav(fmt8, 1000, b => (0 until 1000).foreach(_ =>
      b.put(192.toByte)))
    val out3 = new MultimodalFeaturizer().setInputCol("payload")
      .setModality("audio").setDim(5)
      .transform(Seq((1L, u8)).toDF("id", "payload"))
      .select("media_meta.decoded", "media_features").head
    assert(out3.getBoolean(0))
    val f3 = out3.getSeq[Float](1)
    assert(f3.take(3) == Seq(0.125f, 8000f, 1f))
    assert(f3.drop(3).forall(v => math.abs(v - 0.5f) < 0.01f))
    // gate-fixture parity: the hand-rolled RIFF header in MediaFixtures
    // decodes identically (id=3 -> 1.0 s, RMS 0.25)
    val fix = graft.gates.MediaFixtures.testWavBytes(3L)
    val out4 = new MultimodalFeaturizer().setInputCol("payload")
      .setModality("audio").setDim(6)
      .transform(Seq((3L, fix)).toDF("id", "payload"))
      .select("media_meta.decoded", "media_features").head
    assert(out4.getBoolean(0))
    assert(out4.getSeq[Float](1) == Seq(1.0f, 8000f, 1f, 0.25f, 0.25f, 0.25f))
    // strict mode: a non-audio payload must throw, not fake
    intercept[org.apache.spark.SparkException] {
      new MultimodalFeaturizer().setInputCol("payload").setModality("audio")
        .setStubbedFallback(false)
        .transform(Seq((1L, "not audio".getBytes)).toDF("id", "payload"))
        .collect()
    }
  }

  test("MultimodalFeaturizer video modality decodes real Y4M bytes") {
    // independent YUV4MPEG2 construction (per the public y4m layout:
    // text header, then FRAME\n + planar YUV per frame)
    def y4m(w: Int, h: Int, fps: String, chroma: String,
            lumas: Seq[Int]): Array[Byte] = {
      val halfW = (w + 1) / 2; val halfH = (h + 1) / 2
      val cs =
        if (chroma.startsWith("420")) 2 * halfW * halfH
        else if (chroma.startsWith("422")) 2 * halfW * h
        else if (chroma.startsWith("444")) 2 * w * h
        else 0
      val baos = new java.io.ByteArrayOutputStream()
      baos.write(s"YUV4MPEG2 W$w H$h F$fps Ip A1:1 C$chroma\n".getBytes("US-ASCII"))
      lumas.foreach { v =>
        baos.write("FRAME\n".getBytes("US-ASCII"))
        baos.write(Array.fill(w * h)(v.toByte))
        baos.write(new Array[Byte](cs))
      }
      baos.toByteArray
    }
    // golden 1: 4x4 C420, 8 fps, alternating black/white frames — every
    // feature binary-exact: duration 0.5 s, mean luma 0.5, envelope
    // (one frame per segment) 0,1,0,1
    val g1 = y4m(4, 4, "8:1", "420jpeg", Seq(0, 255, 0, 255))
    val out = new MultimodalFeaturizer().setInputCol("payload")
      .setModality("video").setDim(10)
      .transform(Seq((1L, g1)).toDF("id", "payload"))
      .select("media_meta.decoded", "media_meta.magic", "media_features")
      .head
    assert(out.getBoolean(0), "Y4M payload must take the REAL decode path")
    assert(out.getString(1) == "y4m")
    assert(out.getSeq[Float](2) ==
      Seq(0.5f, 8f, 4f, 4f, 4f, 0.5f, 0f, 1f, 0f, 1f))
    // golden 2: C444 plane sizes walk correctly; fractional fps 25:1
    val g2 = y4m(2, 2, "25:1", "444", Seq(255, 0))
    val f2 = new MultimodalFeaturizer().setInputCol("payload")
      .setModality("video").setDim(7)
      .transform(Seq((1L, g2)).toDF("id", "payload"))
      .select("media_features").head.getSeq[Float](0)
    assert(f2 == Seq((2 / 25.0).toFloat, 25f, 2f, 2f, 2f, 0.5f, 0.5f))
    // golden 3: Cmono (no chroma planes), odd width
    val g3 = y4m(3, 1, "1:1", "mono", Seq(255))
    val f3 = new MultimodalFeaturizer().setInputCol("payload")
      .setModality("video").setDim(7)
      .transform(Seq((1L, g3)).toDF("id", "payload"))
      .select("media_meta.decoded", "media_features").head
    assert(f3.getBoolean(0))
    assert(f3.getSeq[Float](1) == Seq(1f, 1f, 3f, 1f, 1f, 1f, 1f))
    // truncated payload (frame promises more bytes than present) -> stub
    val cut = g1.take(g1.length - 8)
    val f4 = new MultimodalFeaturizer().setInputCol("payload")
      .setModality("video").setDim(7)
      .transform(Seq((1L, cut)).toDF("id", "payload"))
      .select("media_meta.decoded").head
    assert(!f4.getBoolean(0), "truncated Y4M must not decode")
    // gate-fixture parity (id=3 -> 1.0 s, 8 frames, luma 192)
    val fix = graft.gates.MediaFixtures.testY4mBytes(3L)
    val f5 = new MultimodalFeaturizer().setInputCol("payload")
      .setModality("video").setDim(7)
      .transform(Seq((3L, fix)).toDF("id", "payload"))
      .select("media_meta.decoded", "media_features").head
    assert(f5.getBoolean(0))
    assert(f5.getSeq[Float](1) ==
      Seq(1.0f, 8f, 8f, 8f, 8f, (192 / 255.0).toFloat, (192 / 255.0).toFloat))
    // strict mode: compressed/unknown video must throw, not fake
    intercept[org.apache.spark.SparkException] {
      new MultimodalFeaturizer().setInputCol("payload").setModality("video")
        .setStubbedFallback(false)
        .transform(Seq((1L, "not video".getBytes)).toDF("id", "payload"))
        .collect()
    }
  }

  test("MultiColumnAdapter clones a unary stage across columns") {
    val df = Seq(("Héllo", "Wörld")).toDF("a", "b")
    val out = new MultiColumnAdapter()
      .setBaseStage(new UnicodeNormalize().setForm("NFD"))
      .setInputCols(Seq("a", "b")).setOutputCols(Array("a_n", "b_n"))
      .transform(df)
    assert(out.columns.toSet == Set("a", "b", "a_n", "b_n"))
    val r = out.head
    assert(r.getAs[String]("a_n").length > 5) // NFD decomposes the accent
  }
}
