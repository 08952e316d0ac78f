package graft.io.binary

import graft.TestBase
import org.apache.spark.sql.functions._

/** Structural-parser edge cases for the compressed-media metadata
  * extractors (the parsers are pure functions — most cases run
  * driver-side; the stage itself is covered through the planted
  * fixtures and the null/garbage conventions). */
class MediaMetadataSuite extends TestBase {
  import spark.implicits._

  test("MP3: frame walk over the planted fixture fields") {
    // even id: ID3v2 + mono; id % 3 == 0 exercises the VBR walk
    val m = MediaMetadata.parseMp3(graft.gates.MediaFixtures.testMp3Bytes(6L)).get
    assert(m.mpegVersion == 1 && m.layer == 3)
    assert(m.sampleRate == 32000 && m.channels == 1)
    assert(m.frames == 4 && m.durationMs == 144) // 4 frames x 36 ms
    assert(m.bitrateKbps == 160)                 // idx 9 + (6 % 5)
    val s = MediaMetadata.parseMp3(graft.gates.MediaFixtures.testMp3Bytes(5L)).get
    assert(s.channels == 2 && s.frames == 3 && s.durationMs == 108)
  }

  test("MP3: garbage, truncation, and nulls carry no evidence") {
    assert(MediaMetadata.parseMp3(null).isEmpty)
    assert(MediaMetadata.parseMp3(Array[Byte](1, 2, 3)).isEmpty)
    assert(MediaMetadata
      .parseMp3(graft.gates.MediaFixtures.testMp3Bytes(7L)).isEmpty) // planted garbage
    // a valid stream truncated mid-frame keeps the WHOLE frames seen
    // (id 1: odd -> no ID3, 3 frames of 720 bytes at 160 kbps)
    val full = graft.gates.MediaFixtures.testMp3Bytes(1L)
    val oneFrame = java.util.Arrays.copyOf(full, 720 + 100)
    val t = MediaMetadata.parseMp3(oneFrame).get
    assert(t.frames == 1 && t.durationMs == 36)
    // an ID3 tag claiming to cover the whole payload = no frames
    val id3Only = Array[Byte]('I', 'D', '3', 3, 0, 0, 0x7f, 0x7f, 0x7f, 0x7f)
    assert(MediaMetadata.parseMp3(id3Only).isEmpty)
  }

  test("MP3: trailing garbage after valid frames is tolerated") {
    val full = graft.gates.MediaFixtures.testMp3Bytes(1L)
    val withTail = full ++ Array[Byte](0x41, 0x42, 0x43)
    val m = MediaMetadata.parseMp3(withTail).get
    assert(m.frames == 3)
  }

  test("MP4: box tree over the planted fixture fields") {
    val m = MediaMetadata.parseMp4(graft.gates.MediaFixtures.testMp4Bytes(10L)).get
    assert(m.majorBrand == "isom" && m.timescale == 1000)
    assert(m.durationMs == 500L * (1 + 10 % 8))
    assert(m.tracks == 2) // even id adds the audio trak
    assert(m.width == 16 * 3 && m.height == 16 * 2)
    val odd = MediaMetadata.parseMp4(graft.gates.MediaFixtures.testMp4Bytes(9L)).get
    assert(odd.tracks == 1)
  }

  test("MP4: 64-bit largesize boxes, moov-less runs, corrupt sizes") {
    // wrap the moov of a valid fixture in a largesize box shell
    val base = graft.gates.MediaFixtures.testMp4Bytes(1L)
    assert(MediaMetadata.parseMp4(base).isDefined)
    assert(MediaMetadata
      .parseMp4(graft.gates.MediaFixtures.testMp4Bytes(3L)).isEmpty) // no moov
    assert(MediaMetadata.parseMp4(null).isEmpty)
    assert(MediaMetadata.parseMp4(Array[Byte](0, 0, 0, 99, 'f', 'o')).isEmpty)
    // a box whose size overruns the payload is corruption, not a crash
    val bad = java.nio.ByteBuffer.allocate(16)
      .putInt(1000).put("moov".getBytes("US-ASCII")).array()
    assert(MediaMetadata.parseMp4(bad).isEmpty)
    // size==1 largesize: a free box covering the remainder
    val big = java.nio.ByteBuffer.allocate(24)
    big.putInt(1).put("free".getBytes("US-ASCII")).putLong(24)
    big.putLong(0x1122334455667788L)
    assert(MediaMetadata.parseMp4(big.array()).isEmpty) // valid walk, no moov
  }

  test("MP3: an ID3v2.4 footer is part of the tag's on-disk size " +
    "(review find)") {
    val frames = {
      val full = graft.gates.MediaFixtures.testMp3Bytes(1L) // odd: no ID3
      full
    }
    val n = 6
    val tag = Array[Byte]('I', 'D', '3', 4, 0, 0x10.toByte, // footer flag
      0, 0, 0, n.toByte) ++ Array.fill(n)(0x41.toByte) ++
      Array[Byte]('3', 'D', 'I', 4, 0, 0x10.toByte, 0, 0, 0, n.toByte)
    val m = MediaMetadata.parseMp3(tag ++ frames)
    assert(m.isDefined && m.get.frames == 3,
      "footer bytes must be skipped with the tag")
  }

  test("MP4: version-1 mvhd reads the 64-bit offsets (review find)") {
    def box(typ: String, body: Array[Byte]): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(8 + body.length)
      b.putInt(8 + body.length).put(typ.getBytes("US-ASCII")).put(body)
      b.array()
    }
    // v1 body: version/flags(4) ctime(8) mtime(8) ts(4) dur(8) = 32
    val mvhd1 = {
      val b = java.nio.ByteBuffer.allocate(32)
      b.putInt(0x01000000)          // version 1
        .putLong(7L).putLong(9L)    // ctime/mtime: NOT the ts slot
        .putInt(600)                // timescale
        .putLong(1200L)             // duration -> 2000 ms
      box("mvhd", b.array())
    }
    val m = MediaMetadata.parseMp4(box("moov", mvhd1)).get
    assert(m.timescale == 600 && m.durationMs == 2000L)
  }

  test("MP4: corruption inside moov yields None, not a partial parse " +
    "(review find)") {
    val base = graft.gates.MediaFixtures.testMp4Bytes(2L)
    // find the moov box and corrupt its SECOND child's size field to
    // overrun the moov end
    def u32(b: Array[Byte], o: Int): Int =
      ((b(o) & 0xff) << 24) | ((b(o + 1) & 0xff) << 16) |
        ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)
    var off = 0
    var moovAt = -1
    while (moovAt < 0 && off + 8 <= base.length) {
      if (new String(base, off + 4, 4, "US-ASCII") == "moov") moovAt = off
      else off += u32(base, off)
    }
    assert(moovAt >= 0)
    val firstChild = moovAt + 8
    val secondChild = firstChild + u32(base, firstChild)
    val bad = base.clone()
    bad(secondChild) = 0x7f.toByte // size -> huge, overruns moov
    assert(MediaMetadata.parseMp4(base).isDefined)
    assert(MediaMetadata.parseMp4(bad).isEmpty)
  }

  test("MediaMetadataExtractor: null struct for invalid payloads, " +
    "schema validation, save/load") {
    val df = Seq(
      (1L, graft.gates.MediaFixtures.testMp3Bytes(1L)),
      (7L, graft.gates.MediaFixtures.testMp3Bytes(7L)),   // garbage -> null
      (3L, null.asInstanceOf[Array[Byte]]))
      .toDF("doc_id", "payload")
    val stage = new MediaMetadataExtractor().setInputCol("payload")
      .setFormat("mp3")
    val out = stage.transform(df)
      .select(col("doc_id"), col("media_meta.frames").as("f"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1 else r.getInt(1))).toMap
    assert(out(1L) == 3 && out(7L) == -1 && out(3L) == -1)
    intercept[IllegalArgumentException] {
      stage.transform(df.withColumnRenamed("payload", "p2"))
    }
    intercept[IllegalArgumentException] {
      stage.transform(df.withColumn("media_meta", lit(1)))
    }
    val p = java.nio.file.Files
      .createTempDirectory("graft_mm").toString + "/m"
    stage.write.overwrite().save(p)
    val back = MediaMetadataExtractor.load(p)
    assert(back.getOrDefault(back.format) == "mp3")
  }

  /** One synthetic frame: 4-byte header + filler to `len`. */
  private def mpegFrame(verBits: Int, layerBits: Int, brIdx: Int,
      srIdx: Int, pad: Int, mode: Int, len: Int): Array[Byte] =
    Array[Byte](0xff.toByte,
      (0xe0 | (verBits << 3) | (layerBits << 1) | 1).toByte,
      ((brIdx << 4) | (srIdx << 2) | (pad << 1)).toByte,
      (mode << 6).toByte) ++ Array.fill(len - 4)(0x55.toByte)

  test("MP3: every (version, layer) table row walks with hand-computed " +
    "frame lengths (round-18 verdict, next-round #7)") {
    // MPEG-1 Layer II, 48 kHz, brIdx 8 -> 128 kbps:
    // frameLen = 144*128000/48000 = 384; 1152 spf -> 24 ms/frame
    val v1l2 = (1 to 3).flatMap(_ =>
      mpegFrame(3, 2, 8, 1, 0, 0, 384)).toArray
    val m12 = MediaMetadata.parseMp3(v1l2).get
    assert(m12.mpegVersion == 1 && m12.layer == 2 &&
      m12.sampleRate == 48000 && m12.bitrateKbps == 128 &&
      m12.frames == 3 && m12.durationMs == 72)
    // MPEG-1 Layer I, 44.1 kHz, brIdx 4 -> 128 kbps:
    // frameLen = (12*128000/44100)*4 = 34*4 = 136; 384 spf
    // 2 frames: 768*1000/44100 = 17 ms (integer)
    val v1l1 = (1 to 2).flatMap(_ =>
      mpegFrame(3, 3, 4, 0, 0, 0, 136)).toArray
    val m11 = MediaMetadata.parseMp3(v1l1).get
    assert(m11.mpegVersion == 1 && m11.layer == 1 &&
      m11.sampleRate == 44100 && m11.bitrateKbps == 128 &&
      m11.frames == 2 && m11.durationMs == 17)
    // MPEG-2 Layer III, 16 kHz, brIdx 8 -> 64 kbps:
    // frameLen = 72*64000/16000 = 288; 576 spf -> 36 ms/frame
    val v2l3 = (1 to 2).flatMap(_ =>
      mpegFrame(2, 1, 8, 2, 0, 3, 288)).toArray
    val m23 = MediaMetadata.parseMp3(v2l3).get
    assert(m23.mpegVersion == 2 && m23.layer == 3 &&
      m23.sampleRate == 16000 && m23.bitrateKbps == 64 &&
      m23.channels == 1 && m23.frames == 2 && m23.durationMs == 72)
    // MPEG-2 Layer II, 24 kHz, brIdx 8 -> 64 kbps:
    // frameLen = 144*64000/24000 = 384; 1152 spf -> 48 ms/frame
    val v2l2 = mpegFrame(2, 2, 8, 1, 0, 0, 384)
    val m22 = MediaMetadata.parseMp3(v2l2).get
    assert(m22.mpegVersion == 2 && m22.layer == 2 &&
      m22.sampleRate == 24000 && m22.bitrateKbps == 64 &&
      m22.frames == 1 && m22.durationMs == 48)
    // MPEG-2.5 Layer III, 8 kHz, brIdx 5 -> 40 kbps:
    // frameLen = 72*40000/8000 = 360; 576 spf -> 72 ms/frame
    val v25l3 = (1 to 2).flatMap(_ =>
      mpegFrame(0, 1, 5, 2, 0, 0, 360)).toArray
    val m253 = MediaMetadata.parseMp3(v25l3).get
    assert(m253.mpegVersion == 25 && m253.layer == 3 &&
      m253.sampleRate == 8000 && m253.bitrateKbps == 40 &&
      m253.frames == 2 && m253.durationMs == 144)
    // padding bit: MPEG-1 Layer III, 44.1 kHz, brIdx 9 -> 128 kbps,
    // pad=1: frameLen = 144*128000/44100 + 1 = 418
    val padded = mpegFrame(3, 1, 9, 0, 1, 0, 418)
    val mp = MediaMetadata.parseMp3(padded).get
    assert(mp.layer == 3 && mp.bitrateKbps == 128 && mp.frames == 1)
  }

  test("MP3: a corrupt frame mid-stream is corruption, not a tolerated " +
    "tail (round-18 advice)") {
    val frame = mpegFrame(3, 2, 8, 1, 0, 0, 384)
    // frames 1-2 valid, frame 3's sync byte destroyed, frames 4-5
    // still present after it: far more than a tag's worth remains
    val broken = frame.clone(); broken(0) = 0x00
    val bad = frame ++ frame ++ broken ++ frame ++ frame
    assert(MediaMetadata.parseMp3(bad).isEmpty,
      "mid-stream corruption must not return partial metadata")
    // the same break within the last frame-length of the payload is
    // the documented tolerated tail (truncated final frame / ID3v1)
    val tail = frame ++ frame ++ Array.fill(128)(0x41.toByte)
    assert(MediaMetadata.parseMp3(tail).exists(_.frames == 2))
    // a RECOGNIZABLE end-of-file tag is tolerated at ANY length —
    // stacked APEv2 + ID3v1 runs to hundreds of bytes on legitimately
    // tagged files (review find)
    val ape = frame ++ frame ++ "APETAGEX".getBytes("US-ASCII") ++
      Array.fill(480)(0x21.toByte) ++
      "TAG".getBytes("US-ASCII") ++ Array.fill(125)(0x20.toByte)
    assert(MediaMetadata.parseMp3(ape).exists(_.frames == 2),
      "a long stacked trailing tag must not be treated as corruption")
    // the same length of UNRECOGNIZED bytes is still corruption
    val junk = frame ++ frame ++ Array.fill(616)(0x21.toByte)
    assert(MediaMetadata.parseMp3(junk).isEmpty)
  }

  test("MP4: the v0 all-ones 'unknown duration' sentinel and hostile " +
    "v1 durations carry no evidence (round-18 advice)") {
    def box(typ: String, body: Array[Byte]): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(8 + body.length)
      b.putInt(8 + body.length).put(typ.getBytes("US-ASCII")).put(body)
      b.array()
    }
    def mvhd0(duration: Int): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(20)
      b.putInt(0).putInt(0).putInt(0).putInt(1000).putInt(duration)
      box("mvhd", b.array())
    }
    assert(MediaMetadata.parseMp4(box("moov", mvhd0(2000))).get
      .durationMs == 2000L)
    assert(MediaMetadata.parseMp4(box("moov", mvhd0(-1))).isEmpty,
      "0xFFFFFFFF is the spec's unknown-duration sentinel")
    // v1 duration past Long.MaxValue/1000 would overflow the ms math
    val mvhd1 = {
      val b = java.nio.ByteBuffer.allocate(32)
      b.putInt(0x01000000).putLong(0L).putLong(0L)
        .putInt(1000).putLong(Long.MaxValue / 500L)
      box("mvhd", b.array())
    }
    assert(MediaMetadata.parseMp4(box("moov", mvhd1)).isEmpty)
  }
}
