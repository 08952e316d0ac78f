package graft.sim

import org.scalatest.funsuite.AnyFunSuite

/** The shared spherical-quantizer kernels ([[IVF.nearest]],
  * [[IVF.probeOrder]]) and training params. Every vector operator
  * assigns cells through these, so their tie, length and NaN rules are
  * pinned here without a Spark session. */
class QuantizerKernelSuite extends AnyFunSuite {
  private val e1 = Array(1.0, 0.0)
  private val e2 = Array(0.0, 1.0)
  private val diag = IVF.normalize(Array(1.0, 1.0))

  /** KNNGraph takes a corpus row's home cell from `nearest` and a
    * query's cells from `probeOrder`: the first probe must be the home. */
  private def firstProbeIsNearest(cs: Array[Array[Double]],
      v: Array[Double]): Unit =
    assert(IVF.probeOrder(cs, v, 1) == Seq(IVF.nearest(cs, v)._1))

  test("an equidistant tie goes to the lowest cell index") {
    assert(IVF.nearest(Array(e1, e2), diag)._1 == 0)
    assert(IVF.nearest(Array(e2, e1), diag)._1 == 0)
    firstProbeIsNearest(Array(e1, e2), diag)
    firstProbeIsNearest(Array(e2, e1), diag)
    // cos = 1 - d2/2 on the unit sphere
    val (_, d2) = IVF.nearest(Array(e1, e2), diag)
    assert(math.abs((1.0 - d2 / 2.0) - math.sqrt(0.5)) < 1e-12)
  }

  test("a vector shorter than the centroids compares over its own length") {
    // truncated: |(0,1) - (0,1)|² = 0 wins; zero-padding would have
    // charged the 5.0 tail and picked cell 0
    val cs = Array(Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 5.0))
    assert(IVF.nearest(cs, e2) == ((1, 0.0)))
    assert(IVF.probeOrder(cs, e2, 2) == Seq(1, 0))
    firstProbeIsNearest(cs, e2)
    // and a centroid shorter than the vector over the centroid's length
    assert(IVF.nearest(Array(Array(1.0), Array(0.0)),
      Array(0.0, 9.0)) == ((1, 0.0)))
    firstProbeIsNearest(Array(Array(1.0), Array(0.0)), Array(0.0, 9.0))
  }

  test("a NaN vector lands in cell 0") {
    val nan = Array(Double.NaN, 1.0)
    assert(IVF.nearest(Array(e2, e1), nan)._1 == 0)
    assert(IVF.nearest(Array(e1, e2, diag), nan)._1 == 0)
    firstProbeIsNearest(Array(e2, e1), nan)
    firstProbeIsNearest(Array(e1, e2, diag), nan)
  }

  test("probeOrder is nearest first, stable on ties, and returns every " +
    "cell when n >= cells") {
    val cs = Array(e1, e2, e1)
    // cells 0 and 2 tie at distance 0: the stable sort keeps 0 first
    assert(IVF.probeOrder(cs, e1, 3) == Seq(0, 2, 1))
    assert(IVF.probeOrder(cs, e1, 1) == Seq(0))
    assert(IVF.probeOrder(cs, e1, 10) == Seq(0, 2, 1))
    assert(IVF.probeOrder(Array(e2, e1), diag, 2) == Seq(0, 1))
    // the first probe is the nearest cell
    assert(IVF.probeOrder(cs, e2, 1).head == IVF.nearest(cs, e2)._1)
    firstProbeIsNearest(cs, e1)
  }

  test("the six quantizer estimators share one set of training params " +
    "with unchanged names and defaults") {
    val stages: Seq[QuantizerParams] = Seq(new IVFNearestNeighbors,
      new IVFPQNearestNeighbors, new KNNGraph, new EmbeddingClusterer,
      new graft.dedup.SemDeDup, new graft.dedup.IncrementalSemDeDup)
    stages.foreach { s =>
      assert(s.getOrDefault(s.seed) == 42L)
      assert(s.getOrDefault(s.trainSample) == 65536)
      assert(Seq("seed", "maxIter", "trainSample").forall(s.hasParam))
    }
    // EmbeddingClusterer keeps its own iteration budget
    assert(stages.map(s => s.getOrDefault(s.maxIter)) ==
      Seq(10, 10, 10, 20, 10, 10))
  }
}
