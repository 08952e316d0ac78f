package graft.misc

import graft.TestBase
import graft.io.binary.{AudioFingerprint, AudioFingerprintDeduplicator}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Pins the energy-contour audio fingerprint and its dedup operating
  * point on the planted WAV family ([[graft.gates.MediaFixtures.testFpWavBytes]]):
  * the exact volume invariance the 512-grid construction guarantees,
  * cross-group margins, null/undecodable handling, and the end-to-end
  * min-id-per-group survivor rule. */
class AudioFingerprintSuite extends TestBase {

  private def wav(id: Long): Array[Byte] = graft.gates.MediaFixtures.testFpWavBytes(id)
  private def fp(id: Long): Long = {
    val h = AudioFingerprint.fp64(wav(id))
    assert(h != null, s"id $id undecodable")
    h.longValue()
  }
  private def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  test("null, undecodable, and sub-window clips fingerprint to null") {
    assert(AudioFingerprint.fp64(null) == null)
    assert(AudioFingerprint.fp64("not audio".getBytes("UTF-8")) == null)
    // a real but sub-64-sample clip decodes fine yet carries no contour
    assert(AudioFingerprint.fp64(tinyWav(32)) == null)
    assert(AudioFingerprint.fp64(tinyWav(64)) != null) // exactly enough
    // a normal-length decodable clip fingerprints
    assert(AudioFingerprint.fp64(graft.gates.MediaFixtures.testWavBytes(0L)) != null)
  }

  /** Minimal valid 8 kHz mono 16-bit WAV with `frames` samples. */
  private def tinyWav(frames: Int): Array[Byte] = {
    val dataLen = frames * 2
    val b = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(8000).putInt(16000)
      .putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    (0 until frames).foreach(i => b.putShort(if (i % 2 == 0) 1000 else -1000))
    b.array()
  }

  test("golden value pins the construction against silent drift") {
    assert(fp(0L) == 6206411259923289514L) // graft.tools.PHashProbe audio
  }

  test("volume re-encodes are fingerprint-identical by construction") {
    // amplitudes are 512-multiples, the x3/4, x5/8, x9/8 re-encodes are
    // exact integers, so window energies scale uniformly: hamming == 0,
    // not merely small
    (0L until 200L).foreach { i =>
      assert(ham(fp(i), fp((i >> 2) << 2)) == 0,
        s"id $i drifted from its group base")
    }
  }

  test("distinct amplitude grids sit far outside the ball") {
    val hs = (0L until 200L by 4L).map(fp)
    val minCross = (0 until hs.length).flatMap { i =>
      ((i + 1) until hs.length).map(j => ham(hs(i), hs(j)))
    }.min
    assert(minCross >= 10, s"cross-group hamming fell to $minCross")
  }

  test("transformer appends a nullable long column; dedup keeps min ids") {
    val rows = (0L until 24L).map(id => Row(id, wav(id))) ++
      Seq(Row(100L, "garbage".getBytes("UTF-8")), Row(101L, null))
    val df = spark.createDataFrame(
      java.util.List.copyOf(scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("audio", BinaryType))))
    val withFp = new AudioFingerprint().setInputCol("audio")
      .setOutputCol("fp").transform(df)
    val byId = withFp.collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .toMap
    assert(byId(0L).contains(fp(0L)) && byId(100L).isEmpty && byId(101L).isEmpty)
    val kept = new AudioFingerprintDeduplicator().setInputCol("audio")
      .setIdCol("doc_id").transform(df)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == ((0L until 24L by 4L) ++ Seq(100L, 101L)).sorted)
  }
}
