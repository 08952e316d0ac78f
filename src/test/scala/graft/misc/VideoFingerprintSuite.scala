package graft.misc

import graft.TestBase
import graft.io.binary.{VideoFingerprint, VideoFingerprintDeduplicator}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Pins the luma-contour video fingerprint and its dedup operating
  * point on the planted Y4M family ([[graft.gates.MediaFixtures.testFpY4mBytes]]):
  * the exact brightness-re-grade invariance the 16-step grid
  * guarantees, cross-group margins, null/short-clip handling, and the
  * end-to-end min-id-per-group survivor rule. */
class VideoFingerprintSuite extends TestBase {

  private def y4m(id: Long): Array[Byte] = graft.gates.MediaFixtures.testFpY4mBytes(id)
  private def fp(id: Long): Long = {
    val h = VideoFingerprint.fp64(y4m(id))
    assert(h != null, s"id $id undecodable")
    h.longValue()
  }
  private def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  test("null, undecodable, and sub-window clips fingerprint to null") {
    assert(VideoFingerprint.fp64(null) == null)
    assert(VideoFingerprint.fp64("not video".getBytes("UTF-8")) == null)
    // the multimodal fixture has 2-8 frames — far below 64 windows
    assert(VideoFingerprint.fp64(graft.gates.MediaFixtures.testY4mBytes(3L)) == null)
  }

  test("golden value pins the construction against silent drift") {
    assert(fp(0L) == 1258005409811035473L) // graft.tools.PHashProbe video
  }

  test("brightness re-grades are fingerprint-identical by construction") {
    // window lumas are 16-multiples; x3/4, x5/8, x9/8 re-grades are
    // exact integers, so window means scale uniformly: hamming == 0
    (0L until 200L).foreach { i =>
      assert(ham(fp(i), fp((i >> 2) << 2)) == 0,
        s"id $i drifted from its group base")
    }
  }

  test("distinct luma grids sit far outside the ball") {
    val hs = (0L until 200L by 4L).map(fp)
    val minCross = (0 until hs.length).flatMap { i =>
      ((i + 1) until hs.length).map(j => ham(hs(i), hs(j)))
    }.min
    assert(minCross >= 10, s"cross-group hamming fell to $minCross")
  }

  test("transformer appends a nullable long; dedup keeps min ids") {
    val rows = (0L until 24L).map(id => Row(id, y4m(id))) ++
      Seq(Row(100L, "garbage".getBytes("UTF-8")), Row(101L, null))
    val df = spark.createDataFrame(
      java.util.List.copyOf(scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("video", BinaryType))))
    val withFp = new VideoFingerprint().setInputCol("video")
      .setOutputCol("fp").transform(df)
    val byId = withFp.collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .toMap
    assert(byId(0L).contains(fp(0L)) && byId(100L).isEmpty && byId(101L).isEmpty)
    val kept = new VideoFingerprintDeduplicator().setInputCol("video")
      .setIdCol("doc_id").transform(df)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == ((0L until 24L by 4L) ++ Seq(100L, 101L)).sorted)
  }
}
