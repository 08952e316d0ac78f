package graft.tools

/** Margin probe for the planted multimodal-dedup fixtures: per-group
  * max within-group Hamming and global min cross-group Hamming over the
  * first `n` ids (driver-side, no Spark). Mode `embed` probes the
  * ImageEmbedder COSINE spectrum instead (min within-group / max
  * cross-group cosine — the image_embed_chain threshold margins).
  * Usage: PHashProbe [n [image|audio|video|embed]] */
object PHashProbe {
  private def embedProbe(n: Int): Unit = {
    val embs = (0 until n).map { id =>
      val ac = graft.image.PerceptualHash.acCoeffs(
        graft.gates.MediaFixtures.testBmpBytes(id.toLong)).get
      val norm = math.sqrt(ac.map(x => x * x).sum)
      ac.map(_ / norm)
    }.toArray
    def cos(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum
    var minWithin = 2.0; var minWithinAt = -1
    var maxCross = -2.0; var maxCrossI = -1; var maxCrossJ = -1
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        val c = cos(embs(i), embs(j))
        if ((j >>> 2) == (i >>> 2)) {
          if (c < minWithin) { minWithin = c; minWithinAt = i }
        } else if (c > maxCross) {
          maxCross = c; maxCrossI = i; maxCrossJ = j
        }
        j += 1
      }
      i += 1
    }
    println(f"n=$n minWithinCos=$minWithin%.6f (near id $minWithinAt) " +
      f"maxCrossCos=$maxCross%.6f (pair $maxCrossI,$maxCrossJ)")
  }

  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 5000
    val mode = if (args.length > 1) args(1) else "image"
    if (mode == "embed") { embedProbe(n); return }
    val hashes = (0 until n).map { id =>
      val h = mode match {
        case "audio" => graft.io.binary.AudioFingerprint.fp64(
          graft.gates.MediaFixtures.testFpWavBytes(id.toLong))
        case "video" => graft.io.binary.VideoFingerprint.fp64(
          graft.gates.MediaFixtures.testFpY4mBytes(id.toLong))
        case _ => graft.image.PerceptualHash.phash64(
          graft.gates.MediaFixtures.testBmpBytes(id.toLong))
      }
      require(h != null, s"id $id undecodable")
      h.longValue()
    }.toArray
    var maxWithin = -1; var maxWithinAt = -1
    val withinHist = new Array[Int](65)
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n && (j >>> 2) == (i >>> 2)) {
        val d = java.lang.Long.bitCount(hashes(i) ^ hashes(j))
        withinHist(d) += 1
        if (d > maxWithin) { maxWithin = d; maxWithinAt = i }
        j += 1
      }
      i += 1
    }
    var minCross = 65; var minCrossI = -1; var minCrossJ = -1
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        if ((j >>> 2) != (i >>> 2)) {
          val d = java.lang.Long.bitCount(hashes(i) ^ hashes(j))
          if (d < minCross) { minCross = d; minCrossI = i; minCrossJ = j }
        }
        j += 1
      }
      i += 1
    }
    println(s"n=$n maxWithin=$maxWithin (near id $maxWithinAt) " +
      s"minCross=$minCross (pair $minCrossI,$minCrossJ) " +
      s"hash0=${hashes(0)}L")
    println("within hist: " + withinHist.zipWithIndex
      .filter(_._1 > 0).map { case (c, d) => s"$d:$c" }.mkString(" "))
  }
}
